"""Denormalization benchmark: one seeded workload per run, end-to-end
metrics with tracing off, per-layer metrics with ``--trace 1``.

    python3 perfbench/run.py --workload snapshot_backfill --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object (correct / attempted / failed /
metrics); the line before it, prefixed ``perfbench-report``, carries the
full report (every metric named in perfbench/NOTES.md with its unit,
sample counts, percentiles, host telemetry, correctness details).
Exit code: 0 on a correct run, 1 when the output check fails, 2 when the
program is not there to measure.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
# workload -> (module, class)
WORKLOADS = {
    "snapshot_backfill": ("perfbench.snapshot", "Snapshot"),
    "microbatch_upsert": ("perfbench.microbatch", "Microbatch"),
    "stream_fanout": ("perfbench.stream", "Stream"),
}

SETUPS = 3  # set-up repetitions; setup_s takes their median


def declared(kind: str) -> list[tuple[str, str]]:
    """(name, unit) of every ``kind`` metric BENCHMARK.json declares, in
    its order; the printed metrics are exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)[kind]]


class Result:
    """What one run measured. ``op_s`` holds one latency per attempted
    unit of work (rep, micro-batch or trigger) that succeeded;
    ``row_lat_ms`` holds (latency ms, emitted rows) pairs."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.op_s: list[float] = []
        self.op_traced: list[bool] = []
        self.row_lat_ms: list[tuple[float, int]] = []
        self.updates_per_s = 0.0
        self.spark: list[dict] = []
        self.layer: dict[str, list[float]] = {}
        self.detail: dict = {}
        self.correct = False

    def fail(self, op: str, exc: BaseException) -> None:
        self.failed += 1
        self.failures.append(f"{op}: {exc!r}"[:300])
        traceback.print_exception(exc, file=sys.stderr)

    def check(self, ok: bool, info: dict) -> None:
        self.correct = ok
        self.detail["check"] = info

    def add_layer(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)


def weighted_pct(pairs: list[tuple[float, int]], q: float) -> float:
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    if total == 0:
        return 0.0
    target = q / 100.0 * total
    acc = 0
    for v, w in pairs:
        acc += w
        if acc >= target:
            return v
    return pairs[-1][0]


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=0,
                    help="Spark local[n] threads (default: CPUs this process may use)")
    ap.add_argument("--fk-skew", type=float, default=None,
                    help="Zipf exponent of comments per story (default 1.1; a sensitivity knob)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "kafka_denormalization_spark")):
        print(f"perfbench: no kafka_denormalization_spark package under {ROOT}; "
              "run from the root of a repository checkout", file=sys.stderr)
        return 2
    cpus = args.cpus or len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, cpus, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, cpus: int, work: str) -> int:
    from perfbench import common

    common.setup_env(work, cpus)
    from kafka_denormalization_spark.engine import get_spark

    from perfbench import gen

    if args.fk_skew is not None:
        gen.FK_SKEW = args.fk_skew
    module, cls = WORKLOADS[args.workload]
    workload_cls = getattr(importlib.import_module(module), cls)
    result = Result()
    setup_times: list[float] = []
    bootstrap_s = 0.0
    tele0 = common.load_telemetry()
    tracer = common.Tracer(bool(args.trace))
    session_s = 0.0
    with common.RssSampler() as rss:
        spark = wl = None
        try:
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            session_s = time.perf_counter() - t0
            counters = common.SparkCounters(spark)
            wl = workload_cls(spark, work, args.seed, tracer, counters, rss)
            for _ in range(SETUPS):
                t0 = time.perf_counter()
                wl.setup()
                setup_times.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.bootstrap()
            bootstrap_s = time.perf_counter() - t0
            wl.run(args.seconds, result)
            wl.check(result)
        except Exception as exc:
            # the session, set-up, the query or the check died as a whole (a
            # failing op inside the loop is counted there): one failed
            # attempt, an incorrect run, and the contract line is still printed
            result.attempted += 1
            result.fail("run", exc)
            result.check(False, {"error": repr(exc)[:300]})
        finally:
            try:
                if wl is not None:
                    wl.close()
            finally:
                if spark is not None:
                    spark.stop()
                stop_jvm()
    tele1 = common.load_telemetry()

    ops = [s for s, t in zip(result.op_s, result.op_traced) if not t] or result.op_s
    # no successful op: report 0 rather than NaN, which is not valid JSON
    p50 = common.median(ops) if ops else 0.0
    tail_v, tail_q = common.tail(ops) if ops else (0.0, 0.0)
    e2e = {
        "setup_s": session_s + (common.median(setup_times) if setup_times else 0.0) + bootstrap_s,
        "batch_p50_s": p50,
        "updates_per_s": result.updates_per_s,
        "latency_p50_ms": weighted_pct(result.row_lat_ms, 50),
        "peak_rss_mb": rss.peak,
    }
    layer = layer_metrics(result, tracer, session_s)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "fk_skew": gen.FK_SKEW,
        "end_to_end": {k: {"value": e2e[k], "unit": u} for k, u in declared("end_to_end")},
        "batch_samples": len(ops), "batch_tail_pct": tail_q,
        "batch_tail_s": tail_v, "latency_p99_ms": weighted_pct(result.row_lat_ms, 99),
        "ops_s": [round(x, 4) for x in ops],
        "session_s": session_s, "setup_reps_s": setup_times,
        "bootstrap_s": bootstrap_s,
        "error_rate": result.failed / max(1, result.attempted),
        "correct": int(result.correct),
        "failures": result.failures,
        "host": common.telemetry_delta(tele0, tele1),
        **result.detail,
    }
    if args.trace:
        report["per_layer"] = layer
        report["spans"] = tracer.records()
    print("perfbench-report " + json.dumps(report, default=str))

    if args.trace:
        metrics = {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in declared("per_layer")}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in declared("end_to_end")}
    print(json.dumps({
        "correct": result.correct,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": metrics,
    }))
    return 0 if result.correct else 1


def stop_jvm() -> None:
    """End the driver JVM this process launched and wait for it to exit
    (it exits when its stdin closes), so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


# (span name, duration metric, self-time metric) of the spans the workloads
# record around calls into the program, named after its modules; self time
# is a span's duration minus the time its child spans cover. Values are
# medians per op (rep, micro-batch or trigger).
SPAN_METRICS = (
    ("rep", "snapshot.rep_s", "snapshot.rep.self_s"),
    ("dsl.build", "dsl.build_s", "dsl.build.self_s"),
    ("snapshot.materialize", "snapshot.materialize_s", "snapshot.materialize.self_s"),
    ("latest.left", "latest.left_s", "latest.left.self_s"),
    ("latest.right", "latest.right_s", "latest.right.self_s"),
    ("join", "join.s", "join.self_s"),
    ("batch", "microbatch.batch_s", "microbatch.batch.self_s"),
    ("incremental.merge", "incremental.merge_s", "incremental.merge.self_s"),
    ("incremental.emit", "incremental.emit_s", "incremental.emit.self_s"),
    ("sink", "sink.s", "sink.self_s"),
)


def layer_metrics(result: Result, tracer, session_s: float) -> dict:
    """Every per-layer metric the run measured; a layer the workload does
    not call is absent here and printed as 0."""
    from perfbench.common import median

    out = {"engine.session_s": session_s}
    total, self_t = tracer.per_op()
    for span, metric, self_metric in SPAN_METRICS:
        if span in total:
            out[metric] = median(total[span])
            out[self_metric] = median(self_t[span])
    for key in ("jobs", "stages", "tasks", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        vals = [c[key] for c in result.spark]
        if vals:
            out[f"spark.{key}"] = median(vals)
    for name, vals in result.layer.items():
        out[name] = median(vals)
    traced = [s for s, t in zip(result.op_s, result.op_traced) if t]
    plain = [s for s, t in zip(result.op_s, result.op_traced) if not t]
    if traced and plain:
        out["trace.overhead"] = median(traced) / median(plain) - 1.0
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
