"""Harness plumbing shared by the workloads: run environment, timing
statistics, the in-memory span tracer, Spark status-store counters,
process-tree RSS sampling and host-noise telemetry.

Nothing here instruments the program: spans and counters are taken around
calls into the program's public entry points, from the benchmark's files.
"""

from __future__ import annotations

import os
import shlex
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


# driver heap, fixed at start (-Xms = -Xmx) so heap resizing does not move
# peak memory or timings from run to run
DRIVER_MEM = "1g"


def setup_env(work: str, cpus: int) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work`` (under the checkout), and size the session to ``cpus``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # no hsperfdata files in the system temp dir, from the launcher or driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options "
        + shlex.quote(f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        + " --conf "
        + shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}")
        + " pyspark-shell"
    )


# -- statistics ---------------------------------------------------------------


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it, never below the median: with fewer than 20
    samples that is the median itself."""
    n = len(samples)
    q = max(50.0, 100.0 * (n - 10) / n)
    return pct(samples, q), q


def pct(samples: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(samples)
    i = min(len(s) - 1, max(0, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return s[i]


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def keep_going(start: float, seconds: float, done: list[float], started: int, min_ops: int) -> bool:
    """Closed-loop time box: start another op only if it should end inside
    the window (judged by the median op so far); at least ``min_ops``."""
    if started < min_ops:
        return True
    expected = statistics.median(done) if done else 0.0
    return time.perf_counter() - start + expected <= seconds


# -- tracing --------------------------------------------------------------------


class Tracer:
    """In-memory spans: (name, start, end, parent index, op id). Disabled
    tracers record nothing and cost one attribute test per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[list] = []
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = self.spans[parent][4]
        rec = [name, time.perf_counter(), None, parent, op]
        self.spans.append(rec)
        idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            rec[2] = time.perf_counter()

    def per_op(self) -> tuple[dict, dict]:
        """({name: [total s per op]}, {name: [self s per op]}); self time is
        a span's duration minus the time its child spans cover."""
        child_time: dict[int, float] = defaultdict(float)
        for name, t0, t1, parent, _ in self.spans:
            if parent is not None and t1 is not None:
                child_time[parent] += t1 - t0
        total: dict = defaultdict(lambda: defaultdict(float))
        self_t: dict = defaultdict(lambda: defaultdict(float))
        for i, (name, t0, t1, _, op) in enumerate(self.spans):
            if t1 is None:
                continue
            total[name][op] += t1 - t0
            self_t[name][op] += t1 - t0 - child_time[i]
        return (
            {k: list(v.values()) for k, v in total.items()},
            {k: list(v.values()) for k, v in self_t.items()},
        )

    def records(self) -> list[dict]:
        return [{"name": n, "start": t0, "end": t1, "parent": parent, "op": op}
                for n, t0, t1, parent, op in self.spans]


# -- Spark status-store counters ------------------------------------------------


class SparkCounters:
    """Per-call job/stage/task/shuffle/spill counts read from the Spark
    status store (reachable with the UI off). Each counted call runs under
    its own job group; stages come from the group's jobs."""

    KEYS = ("jobs", "stages", "tasks", "shuffle_write_mb", "shuffle_read_mb", "spill_mb")

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.tracker = self.sc.statusTracker()
        self.empty = self.sc._jvm.java.util.ArrayList()
        self.no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self.n = 0

    def begin(self) -> str:
        self.n += 1
        group = f"perfbench-{self.n}"
        self.sc.setJobGroup(group, group)
        return group

    def end(self, group: str) -> dict:
        self.bus.waitUntilEmpty()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        out = dict.fromkeys(self.KEYS, 0.0)
        stage_ids = set()
        for jid in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(jid)
            out["jobs"] += 1
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                data = self.store.stageAttempt(
                    sid, 0, False, self.empty, False, self.no_quantiles
                )._1()
            except Exception:  # stage never ran (skipped / evicted)
                continue
            if data.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += data.numCompleteTasks()
            out["shuffle_write_mb"] += data.shuffleWriteBytes() / 2**20
            out["shuffle_read_mb"] += data.shuffleReadBytes() / 2**20
            out["spill_mb"] += data.diskBytesSpilled() / 2**20
        return out


# -- memory -------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


def _pss_mb(pid: int) -> float:
    """Proportional set size: resident pages, shared ones split among the
    processes sharing them, so forked workers are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Peak resident memory of this process and its descendants (the driver
    JVM and its Python workers), summed as PSS and sampled every 0.2 s;
    ``exclude`` holds pids whose subtrees are not the system under test
    (the load generator)."""

    def __init__(self) -> None:
        self.peak = 0.0
        self.exclude: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> float:
        kids = _children()
        todo, total = [os.getpid()], 0.0
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            total += _pss_mb(pid)
            todo.extend(kids.get(pid, ()))
        self.peak = max(self.peak, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(0.2):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


# -- host noise -----------------------------------------------------------------


def load_telemetry() -> dict:
    """One /proc sample: loadavg plus cumulative busy/idle/steal CPU seconds.
    Flags a noisy host beside a run; never used to adjust a number."""
    try:
        with open("/proc/loadavg") as fh:
            parts = fh.read().split()
        with open("/proc/stat") as fh:
            cpu = fh.readline().split()
        # jiffies: user, nice, system, idle, iowait, irq, softirq, steal
        return {
            "load1": float(parts[0]),
            "cpu_busy_s": (int(cpu[1]) + int(cpu[2]) + int(cpu[3])) / 100.0,
            "cpu_idle_s": int(cpu[4]) / 100.0,
            "cpu_steal_s": int(cpu[8]) / 100.0,
        }
    except (OSError, IndexError, ValueError):
        return {}


def telemetry_delta(start: dict, end: dict) -> dict:
    if not start or not end:
        return {}
    busy = end["cpu_busy_s"] - start["cpu_busy_s"]
    idle = end["cpu_idle_s"] - start["cpu_idle_s"]
    steal = end["cpu_steal_s"] - start["cpu_steal_s"]
    total = busy + idle + steal
    steal_pct = 100.0 * steal / total if total > 0 else 0.0
    return {
        "load1_start": start["load1"],
        "load1_end": end["load1"],
        "busy_s": round(busy, 2),
        "steal_s": round(steal, 2),
        "steal_pct": round(steal_pct, 2),
        "noisy": steal_pct > 5.0 or end["load1"] > 2 * (os.cpu_count() or 1),
    }


def walk(path: str) -> dict[str, tuple[int, float]]:
    """{file: (bytes, mtime)} under ``path`` (data files only)."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime)
    return out
