"""``stream_fanout``: open loop at one fixed offered rate, then one burst.

``streaming.pipeline.stream_denormalize`` (-> ``upsert_join``) reads two
parquet file-source directories that a separate generator process
(perfbench/gen.py) fills on a fixed schedule, whatever the query is doing.
Every event carries the due time of its file; a changelog row's latency
runs from the newest due time among its two sides to the moment the
``foreachBatch`` sink has materialized the changelog holding it."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from contextlib import nullcontext

import numpy as np

from perfbench import gen
from perfbench.common import pct, walk

LEFT_DDL = ("by string, id long, parent long, text string, time long, type string, "
            "story long, seq long, due_ms long")
RIGHT_DDL = ("by string, descendants long, id long, kids array<long>, score long, "
             "time long, title string, type string, url string, seq long, due_ms long")
_HARNESS_FIELDS = ("seq", "due_ms")


class Stream:
    name = "stream_fanout"

    def __init__(self, spark, work: str, seed: int, tracer, counters, rss) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.counters, self.rss = tracer, counters, rss
        self.trace = tracer.enabled
        self.cfg = {
            "seed": seed,
            "fk_skew": gen.FK_SKEW,
            "n_comments": 10_000,
            "n_stories": 1_000,
            "period_s": 0.5,
            "per_tick": 100,        # 200 updates/s offered
            "burst_ticks": 24,      # 2400 updates at once after the timed phase
            # a trigger reads at most this many files per side, so the
            # burst drains over several triggers, like a capped Kafka read;
            # the timed phase stays well under it
            "max_files": 8,
            "burst_gap_s": 0.5,
            "warm_ticks": 6,        # 3 s unmeasured, so timing starts past JIT warm-up
        }
        self.setups = 0
        self.query = None
        self.lock = threading.Lock()

    # -- sink (runs on the query's thread) ---------------------------------

    def _sink(self, df, epoch: int) -> None:
        """foreachBatch body: materialize the changelog and stamp the commit
        (a traced trigger then reads the status store); due times are read
        and the changelog folded after the run, so the harness adds no
        per-row work to a trigger. A failing epoch is recorded and the
        query goes on."""
        traced = self.trace and epoch % 2 == 0
        group = self.counters.begin() if traced else None
        try:
            with self.tracer.span("sink", f"epoch{epoch}") if traced else nullcontext():
                table = df.select("key", "fk", "left_value", "right_value").toArrow()
            commit = time.time()
        except Exception as exc:
            with self.lock:
                self.sink_failures[epoch] = exc
            return
        finally:
            spark_counts = self.counters.end(group) if group is not None else None
        with self.lock:
            self.epochs[epoch] = {
                "commit": commit, "table": table, "traced": traced, "spark": spark_counts,
            }

    @staticmethod
    def _due(table) -> np.ndarray:
        """Per changelog row, the newest due stamp of its two sides."""
        def side(col: str) -> np.ndarray:
            return np.array([json.loads(v)["due_ms"] if v is not None else 0
                             for v in table.column(col).to_pylist()], dtype=float)

        return np.fmax(side("left_value"), side("right_value"))

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        """Fresh source dirs holding the bootstrap snapshot, one file per
        side (repeated; cheap)."""
        self.setups += 1
        base = os.path.join(self.work, f"stream{self.setups}")
        self.left_dir = os.path.join(base, "comments")
        self.right_dir = os.path.join(base, "stories")
        self.ckpt = os.path.join(base, "checkpoint")
        os.makedirs(self.left_dir)
        os.makedirs(self.right_dir)
        log = gen.StreamLog(self.seed, self.cfg["n_comments"], self.cfg["n_stories"])
        lefts, rights = log.bootstrap(0)
        gen.write_atomic(lefts, gen.STREAM_COMMENT_SCHEMA, self.left_dir, "bootstrap.parquet")
        gen.write_atomic(rights, gen.STREAM_STORY_SCHEMA, self.right_dir, "bootstrap.parquet")

    def bootstrap(self) -> None:
        """Start the query on the last set-up's dirs and drain the snapshot
        (once: its first trigger is mostly JIT and Python-worker warm-up)."""
        from kafka_denormalization_spark.streaming.pipeline import stream_denormalize

        self.epochs: dict = {}
        self.sink_failures: dict = {}
        def source(ddl: str, path: str):
            return (self.spark.readStream.schema(ddl)
                    .option("maxFilesPerTrigger", self.cfg["max_files"]).parquet(path))

        left, right = source(LEFT_DDL, self.left_dir), source(RIGHT_DDL, self.right_dir)
        out = stream_denormalize(
            left, right, left_key="id", left_fk="story", right_key="id",
            left_payload=gen.COMMENT_FIELDS + ["due_ms"],
            right_payload=gen.STORY_FIELDS + ["due_ms"],
            left_seq="seq", right_seq="seq", how="inner",
        )
        self.query = (
            out.writeStream.outputMode("update").foreachBatch(self._sink)
            .option("checkpointLocation", self.ckpt)
            .start()
        )
        self.query.processAllAvailable()
        self.boot_epochs = set(self.epochs)

    # -- timed phase + burst -------------------------------------------------

    def run(self, seconds: float, result) -> None:
        cfg = dict(self.cfg)
        cfg.update(
            n_ticks=max(1, int(seconds / cfg["period_s"])),
            left_dir=self.left_dir, right_dir=self.right_dir,
            log_path=os.path.join(self.work, "generator.jsonl"),
        )
        self.run_cfg = cfg
        proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"), json.dumps(cfg)],
            stdout=subprocess.PIPE, text=True,
        )
        self.rss.exclude.add(proc.pid)
        try:
            ready = proc.stdout.readline().split()
            if not ready or ready[0] != "ready":
                raise RuntimeError("load generator did not start")
            t0 = float(ready[1])
            timed_start = t0 + cfg["warm_ticks"] * cfg["period_s"]
            timed_end = timed_start + cfg["n_ticks"] * cfg["period_s"]
            time.sleep(max(0.0, timed_end - time.time()))
            processed_at_end = self._input_rows()
            if proc.wait(timeout=120) != 0:
                raise RuntimeError(f"load generator exited with {proc.returncode}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            proc.stdout.close()
        self.query.processAllAvailable()
        self._account(cfg, timed_start, timed_end, processed_at_end, result)

    def _input_rows(self) -> int:
        return sum(p["numInputRows"] for p in self.query.recentProgress
                   if p["batchId"] not in self.boot_epochs)

    def _account(self, cfg: dict, timed_start: float, timed_end: float,
                 processed_at_end: int, result) -> None:
        """Classify epochs by the newest due time they carry (warm-up, timed,
        burst) and reduce them to the run's metrics."""
        with open(cfg["log_path"]) as fh:
            files = [json.loads(line) for line in fh]
        timed = [f for f in files if f["phase"] == "timed"]
        bursts = [f for f in files if f["phase"] == "burst"]
        burst = {"due": bursts[0]["due"], "n": sum(f["n"] for f in bursts)}
        progress = {p["batchId"]: p for p in self.query.recentProgress}
        # due stamps are whole ms, truncated as the generator does
        start_ms, burst_ms = int(timed_start * 1000), int(burst["due"] * 1000)
        for epoch, exc in sorted(self.sink_failures.items()):
            result.attempted += 1
            result.fail(f"epoch{epoch}", exc)
        burst_triggers, emitted, fed = [], 0, 0
        for epoch, e in sorted(self.epochs.items()):
            p = progress.get(epoch)
            if epoch in self.boot_epochs or p is None:
                continue
            e["due"] = self._due(e["table"])
            newest = e["due"].max() if len(e["due"]) else 0.0
            if newest < start_ms:
                continue
            if newest >= burst_ms:
                burst_triggers.append((p["numInputRows"], p["durationMs"]["triggerExecution"]))
                continue
            result.attempted += 1
            result.op_s.append(p["durationMs"]["triggerExecution"] / 1000.0)
            result.op_traced.append(e["traced"])
            due = e["due"][e["due"] >= start_ms]
            result.row_lat_ms.extend((v, 1) for v in (e["commit"] * 1000.0 - due).tolist())
            emitted += e["table"].num_rows
            fed += p["numInputRows"]
            if e["traced"]:
                self._trigger_layers(p, e, result)
        # drain rate: input rows per second of execution of the burst's
        # full triggers (those reading the per-trigger file cap); a partial
        # first or last trigger would mix in how the backlog happened to split
        full = [(rows, ms) for rows, ms in burst_triggers
                if rows >= cfg["max_files"] * cfg["per_tick"]] or burst_triggers
        result.updates_per_s = (sum(r for r, _ in full) / (sum(ms for _, ms in full) / 1000.0)
                                if full else 0.0)
        rows_per_tick = cfg["per_tick"]
        written = sum(f["n"] for f in files if f["phase"] != "burst" and f["written"] <= timed_end)
        backlog_rows = max(0, written - processed_at_end)
        late = [1000.0 * (f["written"] - f["due"]) for f in timed]
        result.add_layer("generator.late_ms", pct(late, 99))
        result.add_layer("backlog.files_end", 2 * -(-backlog_rows // rows_per_tick))
        result.add_layer("stream.amplification", emitted / fed if fed else 0.0)
        state = walk(os.path.join(self.ckpt, "state"))
        result.add_layer("state.bytes", sum(s for s, _ in state.values()))
        result.add_layer("state.files", len(state))
        result.detail.update({
            "offered_ups": cfg["per_tick"] / cfg["period_s"],
            "timed_ticks": cfg["n_ticks"],
            "catchup_ups": result.updates_per_s,
            "burst_updates": burst["n"],
            "burst_triggers": burst_triggers,
            "generator_late_p99_ms": pct(late, 99),
            "backlog_files_end": 2 * -(-backlog_rows // rows_per_tick),
            "emitted_rows": emitted, "input_rows": fed,
        })

    @staticmethod
    def _trigger_layers(p: dict, e: dict, result) -> None:
        d = p["durationMs"]
        for metric, key in (
            ("trigger.total_ms", "triggerExecution"), ("trigger.add_batch_ms", "addBatch"),
            ("trigger.planning_ms", "queryPlanning"), ("trigger.get_batch_ms", "getBatch"),
            ("trigger.latest_offset_ms", "latestOffset"), ("trigger.wal_commit_ms", "walCommit"),
            ("trigger.commit_offsets_ms", "commitOffsets"),
        ):
            result.add_layer(metric, d.get(key, 0))
        result.add_layer("trigger.input_rows", p["numInputRows"])
        ops = p.get("stateOperators") or [{}]
        st = ops[0]
        result.add_layer("state.rows_total", st.get("numRowsTotal", 0))
        result.add_layer("state.rows_updated", st.get("numRowsUpdated", 0))
        result.add_layer("state.memory_mb", st.get("memoryUsedBytes", 0) / 2**20)
        result.add_layer("state.update_ms", st.get("allUpdatesTimeMs", 0))
        result.add_layer("state.commit_ms", st.get("commitTimeMs", 0))
        if e["spark"] is not None:
            result.spark.append(e["spark"])

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    # -- correctness -------------------------------------------------------

    def check(self, result) -> None:
        want = gen.replay_stream(self.run_cfg).golden()
        got: dict = {}  # the changelog folded in epoch order; NULL values retract
        for _, e in sorted(self.epochs.items()):
            t = e["table"]
            for k, fk, lv, rv in zip(*(t.column(c).to_pylist()
                                       for c in ("key", "fk", "left_value", "right_value"))):
                if lv is None and rv is None:
                    got.pop(k, None)
                else:
                    got[k] = (fk, lv, rv)

        def clean(payload: str) -> dict:
            return {k: v for k, v in json.loads(payload).items() if k not in _HARNESS_FIELDS}

        def clean_gold(row: dict) -> dict:
            return {k: v for k, v in row.items() if k not in _HARNESS_FIELDS and v is not None}

        missing = [k for k in want if k not in got]
        extra = [k for k in got if k not in want]
        differ = [
            k for k, (fk, lv, rv) in want.items()
            if k in got and (got[k][0] != fk or clean(got[k][1]) != clean_gold(lv)
                             or clean(got[k][2]) != clean_gold(rv))
        ]
        result.check(not (missing or extra or differ), {
            "rows": len(got), "golden_rows": len(want),
            "missing": len(missing), "extra": len(extra), "differ": len(differ),
        })
