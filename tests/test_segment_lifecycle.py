"""Segment split/merge lifecycle (reference Segment::split / merge,
DeltaMergeStore.h segment tree): bounds stay contiguous, only the touched
partition dirs are rewritten, and every read/assignment path keeps
working mid-lifecycle."""

from __future__ import annotations

import os

from tiflash_spark.operators.mvcc import HANDLE
from tiflash_spark.sources.delta_store import DeltaStore


def _store(spark, tmp_path, n=40):
    store = DeltaStore(spark, str(tmp_path / "s"))
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(n)], f"{HANDLE} long, v string"
    )
    store.write_batch(df, version=1)
    store.compact_range_segments(ts=1, num_segments=2)
    return store


def _seg_dirs(store):
    d = store.stable_path()
    return sorted(x for x in os.listdir(d) if x.startswith("_seg="))


def test_split_largest_segment(spark, tmp_path):
    store = _store(spark, tmp_path)
    old, new = store.split_segment()
    man = store._manifest()
    assert man["n"] == 3 and len(man["bounds"]) == 3
    # bounds stay contiguous over the whole handle span
    bounds = sorted(man["bounds"].values())
    for (a_lo, a_hi), (b_lo, b_hi) in zip(bounds, bounds[1:]):
        assert a_hi == b_lo
    assert len(_seg_dirs(store)) == 3
    # all rows still read, ranges prune correctly
    assert store.read().count() == 40
    assert store.read_range(0, 40).count() == 40
    assert {r[HANDLE] for r in store.read_range(5, 9).collect()} == {5, 6, 7, 8}


def test_split_then_write_routes_to_new_bounds(spark, tmp_path):
    store = _store(spark, tmp_path)
    store.split_segment()
    # delta writes + incremental compaction must use the SPLIT bounds
    df = spark.createDataFrame([(3, "updated"), (38, "also")], f"{HANDLE} long, v string")
    store.write_batch(df, version=2)
    dirty, total = store.compact_segments_incremental(ts=2)
    assert total == 3 and dirty >= 1
    got = {r[HANDLE]: r.v for r in store.read_handles([3, 38]).collect()}
    assert got == {3: "updated", 38: "also"}


def test_merge_adjacent_segments(spark, tmp_path):
    store = _store(spark, tmp_path)
    old, new = store.split_segment()
    man = store._manifest()
    # merge the pair produced by the split (they are adjacent by construction)
    survivor = store.merge_segments(old, new)
    assert survivor == old
    man2 = store._manifest()
    assert man2["n"] == 2
    assert store.read().count() == 40
    assert store.read_range(0, 40).count() == 40


def test_merge_rejects_non_adjacent(spark, tmp_path):
    store = _store(spark, tmp_path)
    store.split_segment()
    man = store._manifest()
    by_lo = sorted(man["bounds"].items(), key=lambda kv: kv[1][0])
    first, last = int(by_lo[0][0]), int(by_lo[-1][0])
    try:
        store.merge_segments(first, last)
        raise AssertionError("expected non-adjacent merge to fail")
    except ValueError:
        pass


def test_bulk_ingest_after_split_respects_bounds(spark, tmp_path):
    store = _store(spark, tmp_path)
    store.split_segment()
    extra = spark.createDataFrame(
        [(100, "far"), (7, "upsert")], f"{HANDLE} long, v string"
    )
    store.ingest_snapshot(extra, version=3)
    got = {r[HANDLE]: r.v for r in store.read_handles([7, 100]).collect()}
    assert got == {7: "upsert", 100: "far"}
    assert store.read_range(90, 110).count() == 1


def test_rebalance_policy_converges(spark, tmp_path):
    store = _store(spark, tmp_path, n=60)  # 2 segments x ~30 rows
    splits, merges = store.rebalance_segments(max_rows=20)
    assert splits >= 2  # both 30-row segments exceeded the cap
    man = store._manifest()
    counts = {}
    stable = spark.read.parquet(store.stable_path())
    from pyspark.sql import functions as F
    for r in stable.groupBy(F.col("_seg").alias("s")).agg(F.count(F.lit(1)).alias("n")).collect():
        counts[r.s] = r.n
    assert all(n <= 20 for n in counts.values()), counts
    assert store.read().count() == 60
    # now fold the small pieces back together
    s2, m2 = store.rebalance_segments(max_rows=100, min_rows=100)
    assert m2 >= 1
    assert store.read().count() == 60
    assert store.read_range(0, 60).count() == 60


def test_maintain_policy_cycle(spark, tmp_path):
    """The background-thread analogue: below the delta threshold maintain()
    is a no-op; above it the delta folds (incrementally when range
    segments exist) and oversized segments split — reads identical
    before/after each cycle."""
    from pyspark.sql import Row

    from tiflash_spark.operators.mvcc import HANDLE
    from tiflash_spark.sources.delta_store import DeltaStore

    store = DeltaStore(spark, str(tmp_path / "maint"))
    rows = [Row(**{HANDLE: i, "v": i * 2}) for i in range(400)]
    store.write_batch(spark.createDataFrame(rows), version=1)
    store.compact_range_segments(1, num_segments=2)

    store.write_batch(
        spark.createDataFrame([Row(**{HANDLE: i, "v": -i}) for i in range(50)]),
        version=2,
    )
    # small delta: nothing happens
    r1 = store.maintain(2, delta_threshold=1000)
    assert r1 == {"compacted": False, "segments_rewritten": 0,
                  "splits": 0, "merges": 0}
    assert store.delta_rows() == 50
    before = {r[HANDLE]: r.v for r in store.read(2).collect()}
    # low threshold: incremental fold + split of oversized segments
    r2 = store.maintain(2, delta_threshold=10, max_rows=150, min_rows=20)
    assert r2["compacted"] and r2["segments_rewritten"] >= 1
    assert r2["splits"] >= 1
    assert store.delta_rows() == 0
    after = {r[HANDLE]: r.v for r in store.read(2).collect()}
    assert after == before
    assert all(after[i] == -i for i in range(50))
    # steady state: second cycle is a no-op
    r3 = store.maintain(2, delta_threshold=10, max_rows=150, min_rows=20)
    assert r3 == {"compacted": False, "segments_rewritten": 0,
                  "splits": 0, "merges": 0}


def test_ingest_bounds_follow_assignment(spark, tmp_path):
    """Degenerate manifest regression (hypothesis-found): a range
    compaction of a single-handle store mints an empty trailing segment
    ({0: [0,1), 1: [1,1)}). An ingest of an out-of-range-high handle must
    widen the bounds of the SAME segment the assignment expression routes
    it into — otherwise read_range prunes the segment that holds the row."""
    store = DeltaStore(spark, str(tmp_path / "s"))
    store.write_batch(
        spark.createDataFrame([(0, "w1h0")], f"{HANDLE} long, v string"), version=1
    )
    store.compact(ts=2)
    store.compact_range_segments(ts=3, num_segments=2)
    store.ingest_snapshot(
        spark.createDataFrame([(2, "ingest4h2")], f"{HANDLE} long, v string"),
        version=4,
    )
    assert {r[HANDLE]: r.v for r in store.read_range(2, 8).collect()} == {
        2: "ingest4h2"
    }
    # full read and a low-side out-of-range ingest stay consistent too
    assert {r[HANDLE] for r in store.read().collect()} == {0, 2}
    store.ingest_snapshot(
        spark.createDataFrame([(-5, "ingest5hm5")], f"{HANDLE} long, v string"),
        version=5,
    )
    assert {r[HANDLE]: r.v for r in store.read_range(-10, 0).collect()} == {
        -5: "ingest5hm5"
    }


def test_handle_only_delete_batch_survives_maintain(spark, tmp_path):
    """A delete batch that carries only the handle column is conformed to
    the store's columns at write time: the delta then holds one schema,
    and the incremental merge in maintain() resolves every payload
    column whichever delta footer it samples."""
    store = DeltaStore(spark, str(tmp_path / "hdel"))
    rows = [(i, i * 10, f"b{i}") for i in range(80)]
    store.write_batch(
        spark.createDataFrame(rows, f"{HANDLE} long, a long, b string"), version=1
    )
    store.compact_range_segments(ts=1, num_segments=4)
    model = {h: (a, b) for h, a, b in rows}

    store.write_batch(
        spark.createDataFrame([(3, -3, "u3"), (70, -70, "u70")], f"{HANDLE} long, a long, b string"),
        version=2,
    )
    model[3], model[70] = (-3, "u3"), (-70, "u70")
    store.write_batch(
        spark.createDataFrame([(h,) for h in (5, 41, 70)], f"{HANDLE} long"),
        version=3,
        delete=True,
    )
    for h in (5, 41, 70):
        del model[h]

    report = store.maintain(3, delta_threshold=0)
    assert report["compacted"] and report["segments_rewritten"] >= 1
    assert store.delta_rows() == 0
    got = {r[HANDLE]: (r.a, r.b) for r in store.read(3).collect()}
    assert got == model
