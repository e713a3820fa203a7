"""Seeded HN-shaped input generators (comments = left/N side, stories =
right/1 side, the FIXTURES.md F1/F2 shapes).

Everything here is pure Python + numpy/pyarrow and deterministic in the
seed: the same seed and sizes give the same rows, so a golden result can be
recomputed in-process from the same event log the program was fed.

Run as a script, this module is the open-loop load generator of the
``stream_fanout`` workload: ``python3 perfbench/gen.py <json-args>``.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STORY_BASE = 30_000_000
ORPHAN_BASE = 20_000_000
COMMENT_BASE = 40_000_000
TIME_BASE = 1_660_000_000

_WORDS = (
    "the a of to and in is it that for on with as this was but be are not "
    "have you they at one all by from or had what can we there an will "
    "rust spark kafka join state stream table batch latency index query "
    "paper model data storage cloud phone market code open source linux "
    "google apple memory cache disk network python java compiler release"
).split()

COMMENT_SCHEMA = pa.schema(
    [
        ("by", pa.string()),
        ("id", pa.int64()),
        ("parent", pa.int64()),
        ("text", pa.string()),
        ("time", pa.int64()),
        ("type", pa.string()),
        ("story", pa.int64()),
    ]
)
STORY_SCHEMA = pa.schema(
    [
        ("by", pa.string()),
        ("descendants", pa.int64()),
        ("id", pa.int64()),
        ("kids", pa.list_(pa.int64())),
        ("score", pa.int64()),
        ("time", pa.int64()),
        ("title", pa.string()),
        ("type", pa.string()),
        ("url", pa.string()),
    ]
)
# stream files carry the arrival order and the generator's due stamp
STREAM_COMMENT_SCHEMA = COMMENT_SCHEMA.append(pa.field("seq", pa.int64())).append(
    pa.field("due_ms", pa.int64())
)
STREAM_STORY_SCHEMA = STORY_SCHEMA.append(pa.field("seq", pa.int64())).append(
    pa.field("due_ms", pa.int64())
)
COMMENT_FIELDS = [f.name for f in COMMENT_SCHEMA]
STORY_FIELDS = [f.name for f in STORY_SCHEMA]


# Zipf exponent of comments per story, and of which stories get right
# updates; an assumption, not a measurement (NOTES.md "Traffic
# assumptions"). ``run.py --fk-skew`` changes it for a sensitivity check.
FK_SKEW = 1.1


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


class HNModel:
    """Story/comment universe shared by all workloads.

    - stories: ``n_stories`` ids; 20% never receive comments;
    - comment FKs: Zipf(``FK_SKEW``) over the commented stories, 10% orphans
      (FKs with no story row);
    - every emitted row version gets a globally increasing ``time``, so
      (key, time) is a total order per key.
    """

    def __init__(self, seed: int, n_stories: int) -> None:
        self.rng = np.random.default_rng(seed)
        self.story_ids = STORY_BASE + 7 * np.arange(n_stories, dtype=np.int64)
        perm = self.rng.permutation(n_stories)
        n_commented = int(n_stories * 0.8)
        self.commented = self.story_ids[perm[:n_commented]]
        self.fk_p = zipf_weights(n_commented, FK_SKEW)
        self.orphans = ORPHAN_BASE + 3 * np.arange(max(1, n_stories // 10), dtype=np.int64)
        self.texts = np.array([self._text() for _ in range(2048)], dtype=object)
        self.users = np.array([f"user{i}" for i in range(5000)], dtype=object)
        self.clock = 0
        self.next_comment = COMMENT_BASE

    def _text(self) -> str:
        k = int(self.rng.integers(6, 24))
        return " ".join(_WORDS[i] for i in self.rng.integers(0, len(_WORDS), size=k))

    def tick(self) -> int:
        self.clock += 1
        return TIME_BASE + self.clock

    def draw_fks(self, n: int) -> np.ndarray:
        fks = self.rng.choice(self.commented, size=n, p=self.fk_p)
        orphan = self.rng.random(n) < 0.10
        fks[orphan] = self.rng.choice(self.orphans, size=int(orphan.sum()))
        return fks

    def draw_hot_stories(self, n: int) -> np.ndarray:
        """Right-update targets: Zipf-hot among the commented stories."""
        return self.rng.choice(self.commented, size=n, p=self.fk_p)

    def comment(self, cid: int, story: int) -> dict:
        return {
            "by": self.users[self.rng.integers(0, len(self.users))],
            "id": int(cid),
            "parent": int(story),
            "text": self.texts[self.rng.integers(0, len(self.texts))],
            "time": self.tick(),
            "type": "comment",
            "story": int(story),
        }

    def story(self, sid: int) -> dict:
        nk = int(self.rng.integers(0, 4))
        return {
            "by": self.users[self.rng.integers(0, len(self.users))],
            "descendants": int(self.rng.integers(0, 500)),
            "id": int(sid),
            "kids": [int(k) for k in COMMENT_BASE + self.rng.integers(0, 10**6, size=nk)],
            "score": int(self.rng.integers(1, 1000)),
            "time": self.tick(),
            "title": self.texts[self.rng.integers(0, len(self.texts))],
            "type": "story",
            "url": f"https://example.com/{int(sid)}",
        }

    def new_comments(self, n: int) -> list[dict]:
        out = []
        for fk in self.draw_fks(n):
            out.append(self.comment(self.next_comment, int(fk)))
            self.next_comment += 1
        return out

    # vectorized variants for large snapshots

    def comment_table(self, ids: np.ndarray, stories: np.ndarray) -> pa.Table:
        n = len(ids)
        t0 = self.clock
        self.clock += n
        return pa.table({
            "by": self.users[self.rng.integers(0, len(self.users), n)],
            "id": ids,
            "parent": stories,
            "text": self.texts[self.rng.integers(0, len(self.texts), n)],
            "time": TIME_BASE + t0 + 1 + np.arange(n, dtype=np.int64),
            "type": np.full(n, "comment", dtype=object),
            "story": stories,
        }, schema=COMMENT_SCHEMA)

    def story_table(self, ids: np.ndarray) -> pa.Table:
        n = len(ids)
        t0 = self.clock
        self.clock += n
        nk = self.rng.integers(0, 4, n)
        offsets = np.concatenate([[0], np.cumsum(nk)]).astype(np.int32)
        kids = COMMENT_BASE + self.rng.integers(0, 10**6, int(nk.sum()))
        return pa.table({
            "by": self.users[self.rng.integers(0, len(self.users), n)],
            "descendants": self.rng.integers(0, 500, n),
            "id": ids,
            "kids": pa.ListArray.from_arrays(pa.array(offsets), pa.array(kids, pa.int64())),
            "score": self.rng.integers(1, 1000, n),
            "time": TIME_BASE + t0 + 1 + np.arange(n, dtype=np.int64),
            "title": self.texts[self.rng.integers(0, len(self.texts), n)],
            "type": np.full(n, "story", dtype=object),
            "url": np.array([f"https://example.com/{i}" for i in ids], dtype=object),
        }, schema=STORY_SCHEMA)


def to_table(rows: list[dict], schema: pa.Schema) -> pa.Table:
    return pa.Table.from_pylist(rows, schema=schema)


# -- snapshot_backfill --------------------------------------------------------


def snapshot_changelogs(seed: int, n_comments: int, n_stories: int) -> tuple[pa.Table, pa.Table]:
    """Left/right changelogs for a backfill: ~20% of comments and ~10% of
    stories carry 1-2 later re-versions; rows are shuffled (the version
    column, not file order, decides the winner)."""
    m = HNModel(seed, n_stories)
    rev_s = m.rng.choice(m.story_ids, size=n_stories // 10, replace=False)
    rev_s = np.repeat(rev_s, m.rng.integers(1, 3, len(rev_s)))
    stories = pa.concat_tables([m.story_table(m.story_ids), m.story_table(rev_s)])
    ids = COMMENT_BASE + np.arange(n_comments, dtype=np.int64)
    fks = m.draw_fks(n_comments)
    rev = m.rng.choice(n_comments, size=n_comments // 5, replace=False)
    rev = np.repeat(rev, m.rng.integers(1, 3, len(rev)))
    comments = pa.concat_tables([m.comment_table(ids, fks), m.comment_table(ids[rev], fks[rev])])
    return (
        comments.take(m.rng.permutation(comments.num_rows)),
        stories.take(m.rng.permutation(stories.num_rows)),
    )


def write_parts(table: pa.Table, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(out_dir, f"part-{i:03d}.parquet"))


# -- microbatch_upsert --------------------------------------------------------


class UpsertLog:
    """Changelog of (key, fk, payload, version) updates for the incremental
    engine plus the pure-Python golden state it must converge to.

    Batch mix: ~94% left upserts (new comments / edits), ~1% left FK moves,
    ~1% left tombstones (NULL payload, key never reused), ~4% right updates
    on Zipf-hot stories (fan-out re-emission)."""

    def __init__(self, seed: int, n_comments: int, n_stories: int) -> None:
        self.m = HNModel(seed, n_stories)
        self.n_comments = n_comments
        self.left: dict[str, tuple[str, str]] = {}   # key -> (fk, payload)
        self.right: dict[str, str] = {}               # fk -> payload
        self.version = 0

    def _v(self) -> int:
        self.version += 1
        return self.version

    def _left_row(self, c: dict) -> tuple:
        key, fk, payload = str(c["id"]), str(c["story"]), json.dumps(c)
        self.left[key] = (fk, payload)
        return (key, fk, payload, self._v())

    def _right_row(self, s: dict) -> tuple:
        key, payload = str(s["id"]), json.dumps(s)
        self.right[key] = payload
        return (key, key, payload, self._v())

    def bootstrap(self) -> tuple[list[tuple], list[tuple]]:
        rights = [self._right_row(self.m.story(int(s))) for s in self.m.story_ids]
        lefts = [self._left_row(c) for c in self.m.new_comments(self.n_comments)]
        return lefts, rights

    def batch(self, size: int) -> tuple[list[tuple], list[tuple]]:
        m = self.m
        n_right = max(1, int(size * 0.04))
        n_move = max(1, size // 100)
        n_tomb = max(1, size // 100)
        n_edit = int(size * 0.30)
        n_new = size - n_right - n_move - n_tomb - n_edit
        live = list(self.left)
        picks = m.rng.choice(len(live), size=n_edit + n_move + n_tomb, replace=False)
        lefts: list[tuple] = []
        for j, i in enumerate(picks):
            key = live[int(i)]
            fk, payload = self.left[key]
            if j < n_edit:
                lefts.append(self._left_row(m.comment(int(key), int(fk))))
            elif j < n_edit + n_move:
                new_fk = int(m.draw_fks(1)[0])
                lefts.append(self._left_row(m.comment(int(key), new_fk)))
            else:
                del self.left[key]
                lefts.append((key, fk, None, self._v()))
        lefts.extend(self._left_row(c) for c in m.new_comments(n_new))
        rights = [self._right_row(m.story(int(s))) for s in m.draw_hot_stories(n_right)]
        return lefts, rights

    def golden(self) -> dict[tuple[str, str], tuple[str, str]]:
        """latest(left) ⋈ latest(right), inner, keyed by (key, fk)."""
        return {
            (k, fk): (lv, self.right[fk])
            for k, (fk, lv) in self.left.items()
            if fk in self.right
        }


# -- stream_fanout ------------------------------------------------------------


class StreamLog:
    """Event log of the open-loop stream: ~70% left / 30% right updates.
    Left FKs are immutable (HN comments never change story), right updates
    hit Zipf-hot stories so fan-out re-emission dominates. Each event gets
    a global ``seq`` and the due time of the file it lands in."""

    def __init__(self, seed: int, n_comments: int, n_stories: int) -> None:
        self.m = HNModel(seed, n_stories)
        self.n_comments = n_comments
        self.seq = 0
        self.left: dict[int, dict] = {}
        self.right: dict[int, dict] = {}

    def _stamp(self, row: dict, due_ms: int) -> dict:
        self.seq += 1
        row["seq"] = self.seq
        row["due_ms"] = due_ms
        return row

    def bootstrap(self, due_ms: int) -> tuple[list[dict], list[dict]]:
        rights = [self._stamp(self.m.story(int(s)), due_ms) for s in self.m.story_ids]
        lefts = [self._stamp(c, due_ms) for c in self.m.new_comments(self.n_comments)]
        for r in rights:
            self.right[r["id"]] = r
        for c in lefts:
            self.left[c["id"]] = c
        return lefts, rights

    def updates(self, n: int, due_ms: int) -> tuple[list[dict], list[dict]]:
        m = self.m
        n_right = int(round(n * 0.3))
        n_edit = int((n - n_right) * 0.3)
        n_new = n - n_right - n_edit
        live = list(self.left)
        lefts = []
        for i in m.rng.choice(len(live), size=n_edit, replace=False):
            old = self.left[live[int(i)]]
            lefts.append(self._stamp(m.comment(old["id"], old["story"]), due_ms))
        lefts.extend(self._stamp(c, due_ms) for c in m.new_comments(n_new))
        rights = [self._stamp(m.story(int(s)), due_ms) for s in m.draw_hot_stories(n_right)]
        for c in lefts:
            self.left[c["id"]] = c
        for r in rights:
            self.right[r["id"]] = r
        return lefts, rights

    def golden(self) -> dict[str, tuple[str, dict, dict]]:
        """latest(left) ⋈ latest(right), inner: key -> (fk, left, right)."""
        return {
            str(k): (str(c["story"]), c, self.right[c["story"]])
            for k, c in self.left.items()
            if c["story"] in self.right
        }


def write_hidden(rows: list[dict], schema: pa.Schema, out_dir: str, name: str) -> tuple[str, str]:
    """Write a parquet file under a dot-name, which the file source never
    lists; renaming it to the returned final path publishes it whole."""
    tmp = os.path.join(out_dir, f".{name}.tmp")
    pq.write_table(to_table(rows, schema), tmp)
    return tmp, os.path.join(out_dir, name)


def write_atomic(rows: list[dict], schema: pa.Schema, out_dir: str, name: str) -> None:
    os.rename(*write_hidden(rows, schema, out_dir, name))


def stream_plan(cfg: dict) -> StreamLog:
    """The generator's deterministic replay up to (not including) the timed
    phase — the generator process and the golden both start here."""
    log = StreamLog(cfg["seed"], cfg["n_comments"], cfg["n_stories"])
    log.bootstrap(0)
    return log


def run_generator(cfg: dict) -> None:
    """Open loop: at each tick ``t0 + i*period`` write one left and one right
    file holding that tick's updates, whatever the system under test is
    doing (``warm_ticks`` unmeasured warm-up ticks, then ``n_ticks`` timed
    ones); then a burst: ``burst_ticks`` ticks' files published at once.
    ``t0`` is fixed once the replay is ready and printed as ``ready <t0>``;
    one JSON line per tick goes to the log."""
    log = stream_plan(cfg)
    left_dir, right_dir = cfg["left_dir"], cfg["right_dir"]
    period, per_tick = cfg["period_s"], cfg["per_tick"]
    with open(cfg["log_path"], "w") as out:
        def stage(i: int, due: float, n: int, phase: str) -> tuple[list, dict]:
            first = log.seq + 1
            lefts, rights = log.updates(n, int(due * 1000))
            renames = [
                write_hidden(lefts, STREAM_COMMENT_SCHEMA, left_dir, f"t{i:06d}.parquet"),
                write_hidden(rights, STREAM_STORY_SCHEMA, right_dir, f"t{i:06d}.parquet"),
            ]
            return renames, {"i": i, "phase": phase, "due": due,
                             "first_seq": first, "last_seq": log.seq, "n": n}

        def publish(staged: list[tuple[list, dict]]) -> None:
            for renames, _ in staged:
                for tmp, final in renames:
                    os.rename(tmp, final)
            written = time.time()
            for _, record in staged:
                out.write(json.dumps({**record, "written": written}) + "\n")
            out.flush()

        # first parquet write pays pyarrow's lazy initialization: do it
        # before the schedule starts
        write_atomic([], STREAM_COMMENT_SCHEMA, left_dir, ".warmup")
        os.remove(os.path.join(left_dir, ".warmup"))
        t0 = time.time() + 0.2
        print(f"ready {t0!r}", flush=True)
        ticks = cfg["warm_ticks"] + cfg["n_ticks"]
        for i in range(ticks):
            due = t0 + i * period
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            publish([stage(i, due, per_tick, "warm" if i < cfg["warm_ticks"] else "timed")])
        burst_due = t0 + ticks * period + cfg["burst_gap_s"]
        delay = burst_due - time.time()
        if delay > 0:
            time.sleep(delay)
        # the burst's files are staged first and published together
        publish([stage(i, burst_due, per_tick, "burst")
                 for i in range(ticks, ticks + cfg["burst_ticks"])])


def replay_stream(cfg: dict) -> StreamLog:
    """Replay the generator's whole event log in-process (no files, no
    sleeping) for the golden result."""
    log = stream_plan(cfg)
    for _ in range(cfg["warm_ticks"] + cfg["n_ticks"]):
        log.updates(cfg["per_tick"], 0)
    for _ in range(cfg["burst_ticks"]):
        log.updates(cfg["per_tick"], 0)
    return log


if __name__ == "__main__":
    _cfg = json.loads(sys.argv[1])
    FK_SKEW = _cfg["fk_skew"]
    run_generator(_cfg)
