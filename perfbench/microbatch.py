"""``microbatch_upsert``: closed loop, one caller. Set-up bootstraps an
inner ``IncrementalDenormalize`` from a comment/story snapshot; the timed
loop replays micro-batches of mostly-left upserts (new comments, edits,
~1% FK moves, ~1% tombstones, ~4% right updates on Zipf-hot stories).
The folded changelog must equal the pure-Python golden
latest(left) ⋈ latest(right)."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.common import keep_going, walk

_UPDATE = pa.schema(
    [("key", pa.string()), ("fk", pa.string()), ("payload", pa.string()), ("version", pa.int64())]
)
_SPARK_UPDATE = "key string, fk string, payload string, version long"


class Microbatch:
    name = "microbatch_upsert"

    def __init__(self, spark, work: str, seed: int, tracer, counters, rss) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.counters = tracer, counters
        self.trace = tracer.enabled
        self.n_comments = 5_000
        self.n_stories = 500
        self.batch_size = 500
        # untimed batches between the bootstrap and the timed loop, outside
        # setup_s too: the first batches after the bootstrap are still well
        # up the JIT warm-up curve
        self.warm_batches = 1
        # a batch lasts about as long as a run's window, so the loop runs
        # this many whatever the window, and batch_p50_s is a median
        self.min_batches = 2

    def _frame(self, rows: list[tuple]):
        cols = list(zip(*rows)) if rows else [[], [], [], []]
        table = pa.table([pa.array(c, t.type) for c, t in zip(cols, _UPDATE)], schema=_UPDATE)
        return self.spark.createDataFrame(table.to_pandas(), _SPARK_UPDATE)

    def _apply(self, lefts, rights):
        out = self.engine.process_batch(self._frame(lefts), self._frame(rights))
        return out.toArrow()

    def _fold(self, changelog: pa.Table) -> int:
        """Fold one changelog into (key, fk) -> (left, right); a row with
        both values NULL is a retraction. Returns the retraction count."""
        view = self.view
        retractions = 0
        for k, fk, lv, rv in zip(*(changelog.column(c).to_pylist()
                                   for c in ("key", "fk", "left_value", "right_value"))):
            if lv is None and rv is None:
                view.pop((k, fk), None)
                retractions += 1
            else:
                view[(k, fk)] = (lv, rv)
        return retractions

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        """Generate the bootstrap snapshot (repeated; cheap)."""
        self.log = gen.UpsertLog(self.seed, self.n_comments, self.n_stories)
        self.boot = self.log.bootstrap()

    def bootstrap(self) -> None:
        """Apply the snapshot as one batch to a fresh state dir (once: one
        bootstrap costs several micro-batches, most of it JIT warm-up)."""
        from kafka_denormalization_spark.streaming.incremental import IncrementalDenormalize

        self.state_dir = os.path.join(self.work, "state")
        self.engine = IncrementalDenormalize(self.spark, self.state_dir, how="inner")
        self.view: dict = {}
        self._fold(self._apply(*self.boot))

    # -- timed loop --------------------------------------------------------

    def run(self, seconds: float, result) -> None:
        t0 = time.perf_counter()
        for _ in range(self.warm_batches):
            self._fold(self._apply(*self.log.batch(self.batch_size)))
        result.detail["warm_batches_s"] = time.perf_counter() - t0
        tr = self.tracer
        updates = 0
        start = time.perf_counter()
        i = 0
        while keep_going(start, seconds, result.op_s, i, self.min_batches):
            i += 1
            op = f"batch{i}"
            lefts, rights = self.log.batch(self.batch_size)
            lu, ru = self._frame(lefts), self._frame(rights)
            n_in = len(lefts) + len(rights)
            tr.enabled = self.trace and i % 2 == 1
            before = walk(self.state_dir) if tr.enabled else None
            group = self.counters.begin() if tr.enabled else None
            result.attempted += 1
            t0 = time.perf_counter()
            try:
                with tr.span("batch", op):
                    with tr.span("incremental.merge"):
                        out = self.engine.process_batch(lu, ru)
                    with tr.span("incremental.emit"):
                        changelog = out.toArrow()
            except Exception as exc:  # a failed batch counts, the run goes on
                result.fail(op, exc)
                if group is not None:
                    self.counters.end(group)  # clears the job group
                continue
            dt = time.perf_counter() - t0
            result.op_s.append(dt)
            result.op_traced.append(tr.enabled)
            result.row_lat_ms.append((dt * 1000.0, max(1, changelog.num_rows)))
            updates += n_in
            retractions = self._fold(changelog)
            if group is not None:
                spark = self.counters.end(group)
                result.spark.append(spark)
                result.add_layer("incremental.jobs_per_batch", spark["jobs"])
                result.add_layer("incremental.emitted_rows", changelog.num_rows)
                result.add_layer("incremental.amplification", changelog.num_rows / n_in)
                result.add_layer("incremental.retractions", retractions)
                self._state_layers(before, n_in, result)
        tr.enabled = self.trace
        if self.trace:
            self._probe_backfill()
        busy = sum(result.op_s)
        result.updates_per_s = updates / busy if busy else 0.0
        result.detail["batch_updates"] = self.batch_size
        result.detail["state_comments"] = self.n_comments

    def _probe_backfill(self) -> None:
        """Traced runs only, after the timed loop: the backfill layers
        (``dsl``, ``operators.latest/join/assemble``) on the
        ``snapshot_backfill`` inputs, so a traced run of this workload
        reports them too. They feed no end-to-end metric."""
        from perfbench.snapshot import Snapshot

        snap = Snapshot(self.spark, self.work, self.seed, self.tracer, self.counters, None)
        snap.setup()
        snap.probe()

    def _state_layers(self, before: dict, n_in: int, result) -> None:
        """Copy-on-write cost, read from the state dir from outside: files,
        bytes, bucket dirs rewritten and rows rewritten (parquet footers)."""
        after = walk(self.state_dir)
        new = [p for p in after if p not in before]
        rows = sum(pq.read_metadata(p).num_rows for p in new if p.endswith(".parquet"))
        result.add_layer("state.bytes", sum(size for size, _ in after.values()))
        result.add_layer("state.files", len(after))
        result.add_layer("state.buckets_rewritten", len({os.path.dirname(p) for p in new}))
        result.add_layer("state.rewrite_ratio", rows / n_in)

    def close(self) -> None:
        pass

    # -- correctness -------------------------------------------------------

    def check(self, result) -> None:
        want = self.log.golden()
        got = self.view
        missing = sum(1 for k in want if k not in got)
        extra = sum(1 for k in got if k not in want)
        differ = sum(1 for k, v in want.items() if k in got and got[k] != v)
        result.check(got == want, {
            "rows": len(got), "golden_rows": len(want),
            "missing": missing, "extra": extra, "differ": differ,
        })
