"""``snapshot_backfill``: closed loop, one caller, repeated full backfills
through the ``Denormalize`` builder (full outer, nested ``joiner`` structs,
``key_by`` output key) over a multi-file changelog; checked against a
DuckDB oracle over the same parquet."""

from __future__ import annotations

import os
import time
from collections import Counter

from perfbench import gen
from perfbench.common import keep_going, median


def flat_columns(F, left_prefix: str, right_prefix: str) -> list:
    cols = [F.col(f"{left_prefix}.{c}").alias(f"c_{c}") for c in gen.COMMENT_FIELDS]
    cols += [F.col(f"{right_prefix}.{c}").alias(f"s_{c}") for c in gen.STORY_FIELDS]
    return cols


def rows_digest(rows: list[dict]) -> tuple[Counter, int]:
    """Order-insensitive multiset of rows (lists made hashable) and a
    64-bit sum-of-hashes digest of it."""
    bag = Counter(
        tuple(tuple(v) if isinstance(v, list) else v for _, v in sorted(r.items()))
        for r in rows
    )
    digest = sum(hash(k) * n for k, n in bag.items()) & (2**64 - 1)
    return bag, digest


class Snapshot:
    name = "snapshot_backfill"

    def __init__(self, spark, work: str, seed: int, tracer, counters, rss) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.counters = tracer, counters
        self.trace = tracer.enabled
        self.n_comments = 30_000
        self.n_stories = 3_000
        self.warm_reps = 5
        self.setups = 0
        self.rows_in = 0

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        """Generate the changelog files and open them (repeated; cheap)."""
        self.setups += 1
        base = os.path.join(self.work, f"snapshot{self.setups}")
        comments, stories = gen.snapshot_changelogs(self.seed, self.n_comments, self.n_stories)
        self.left_dir = os.path.join(base, "comments")
        self.right_dir = os.path.join(base, "stories")
        gen.write_parts(comments, self.left_dir, 8)
        gen.write_parts(stories, self.right_dir, 2)
        self.rows_in = comments.num_rows + stories.num_rows
        self.left = self.spark.read.parquet(self.left_dir)
        self.right = self.spark.read.parquet(self.right_dir)

    def bootstrap(self) -> None:
        """Warm-up reps (once), so the timed reps do not ride the JIT's
        warm-up curve."""
        for _ in range(self.warm_reps):
            self._materialize(self._build())

    def _build(self):
        from pyspark.sql import functions as F

        from kafka_denormalization_spark.dsl import Denormalize

        return (
            Denormalize.builder()
            .left(self.left, key=["id"], version=["time"])
            .right(self.right, key=["id"], version=["time"])
            .join_on("story")
            .joiner("comment", "story")
            .key_by(lambda j: F.col("comment.id").cast("string"))
            .full_outer()
        )

    @staticmethod
    def _materialize(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # -- timed loop --------------------------------------------------------

    def run(self, seconds: float, result) -> None:
        tr = self.tracer
        start = time.perf_counter()
        i = 0
        while keep_going(start, seconds, result.op_s, i, 2 if self.trace else 1):
            i += 1
            op = f"rep{i}"
            # traced runs alternate traced and plain reps: the gap between
            # their medians is the tracing overhead
            tr.enabled = self.trace and i % 2 == 1
            group = self.counters.begin() if tr.enabled else None
            result.attempted += 1
            t0 = time.perf_counter()
            try:
                self._rep(op)
            except Exception as exc:  # a failed rep counts, the run goes on
                result.fail(op, exc)
                if group is not None:
                    self.counters.end(group)  # clears the job group
                continue
            dt = time.perf_counter() - t0
            result.op_s.append(dt)
            result.op_traced.append(tr.enabled)
            result.row_lat_ms.append((dt * 1000.0, 1))
            if group is not None:
                result.spark.append(self.counters.end(group))
            if tr.enabled:
                self._probe_layers(op)
        tr.enabled = self.trace
        result.updates_per_s = self.rows_in / median(result.op_s) if result.op_s else 0.0
        result.detail["snapshot_p50_s"] = median(result.op_s) if result.op_s else None
        result.detail["snapshot_samples"] = len(result.op_s)
        result.detail["input_rows"] = self.rows_in

    def probe(self, reps: int = 3) -> None:
        """Backfill reps recorded as spans only, with no end-to-end number:
        how a traced ``microbatch_upsert`` run measures the builder's
        layers. Call ``setup`` first."""
        for i in range(1, reps + 1):
            op = f"backfill{i}"
            self._rep(op)
            self._probe_layers(op)

    def _rep(self, op: str) -> None:
        """One backfill: the builder call, then a noop-sink materialization."""
        tr = self.tracer
        with tr.span("rep", op):
            with tr.span("dsl.build"):
                out = self._build()
            with tr.span("snapshot.materialize"):
                self._materialize(out)

    def _probe_layers(self, op: str) -> None:
        """Traced runs only: time each layer the builder composes, called
        directly and materialized on its own."""
        from pyspark.sql import functions as F

        from kafka_denormalization_spark.operators.assemble import side_struct
        from kafka_denormalization_spark.operators.join import fk_denormalize
        from kafka_denormalization_spark.operators.latest import latest_per_key

        tr = self.tracer
        with tr.span("latest.left", op):
            ll = latest_per_key(self.left, ["id"], ["time"])
            self._materialize(ll)
        with tr.span("latest.right", op):
            lr = latest_per_key(self.right, ["id"], ["time"])
            self._materialize(lr)
        ll, lr = ll.cache(), lr.cache()
        ll.count(), lr.count()
        with tr.span("join", op):
            joined, _, _ = fk_denormalize(ll, lr, "story", "id", how="full_outer")
            out = joined.select(
                side_struct(ll, "l", null_when_key_null="id").alias("comment"),
                side_struct(lr, "r", null_when_key_null="id").alias("story"),
            )
            self._materialize(out.select(F.col("comment.id").cast("string").alias("key"), "*"))
        ll.unpersist()
        lr.unpersist()

    def close(self) -> None:
        pass

    # -- correctness -------------------------------------------------------

    def check(self, result) -> None:
        import duckdb
        from pyspark.sql import functions as F

        out = self._build()
        flat = out.select(
            "key",
            F.col("comment").isNull().alias("c_null"),
            F.col("story").isNull().alias("s_null"),
            *flat_columns(F, "comment", "story"),
        )
        got = flat.toArrow().to_pylist()

        def latest(path: str) -> str:
            return (
                f"SELECT * FROM read_parquet('{path}/*.parquet') "
                "QUALIFY row_number() OVER (PARTITION BY id ORDER BY time DESC) = 1"
            )

        sel = ", ".join(
            [f'l."{c}" AS c_{c}' for c in gen.COMMENT_FIELDS]
            + [f'r."{c}" AS s_{c}' for c in gen.STORY_FIELDS]
        )
        sql = (
            f"WITH l AS ({latest(self.left_dir)}), r AS ({latest(self.right_dir)}) "
            "SELECT CAST(l.id AS VARCHAR) AS key, l.id IS NULL AS c_null, "
            f"r.id IS NULL AS s_null, {sel} FROM l FULL OUTER JOIN r ON l.story = r.id"
        )
        con = duckdb.connect()
        try:
            want = con.sql(sql).arrow().to_pylist()
        finally:
            con.close()
        got_bag, got_hash = rows_digest(got)
        want_bag, want_hash = rows_digest(want)
        ok = got_bag == want_bag
        result.check(ok, {
            "rows": len(got), "oracle_rows": len(want),
            "hash_match": got_hash == want_hash,
        })
