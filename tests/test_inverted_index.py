"""Scalar inverted index on DeltaStore segments — the reference's
storage-layer inverted index for equality/IN predicates on arbitrary
scalar columns (dbms/src/Storages/DeltaMerge/Index/InvertedIndex/Reader.h,
schema dbms/src/TiDB/Schema/InvertedIndex.h). Complements the min-max
zone map: on a high-NDV column with no segment correlation the zone map
proves nothing, while the postings know exactly which segments contain a
value. Absent/uncovered always means scan; MVCC-sound via the delta
rescue semi-join."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from tiflash_spark.operators.mvcc import HANDLE
from tiflash_spark.sources.delta_store import DeltaStore


def _scrambled(i: int) -> str:
    # high-NDV, deliberately uncorrelated with the handle order: every
    # range segment sees values across the whole domain
    return f"{(i * 37) % 100:02d}x{i}"


def _store(spark, tmp_path, n=400, segs=4):
    store = DeltaStore(spark, str(tmp_path / "inv"))
    rows = [(i, _scrambled(i), i * 10) for i in range(n)]
    df = spark.createDataFrame(rows, f"{HANDLE} long, code string, v long")
    store.write_batch(df, version=1)
    store.compact_range_segments(ts=1, num_segments=segs)
    store.build_inverted_index(["code"])
    return store


def test_point_lookup_matches_full_scan(spark, tmp_path):
    store = _store(spark, tmp_path)
    probe = _scrambled(123)
    got = {(r[HANDLE], r.code) for r in store.read_where_in("code", [probe]).collect()}
    want = {
        (r[HANDLE], r.code)
        for r in store.read().filter(F.col("code") == probe).collect()
    }
    assert got == want == {(123, probe)}
    # IN list across several segments
    probes = [_scrambled(i) for i in (0, 150, 399)]
    got = {r[HANDLE] for r in store.read_where_in("code", probes).collect()}
    assert got == {0, 150, 399}


def test_high_ndv_prunes_where_zonemap_cannot(spark, tmp_path):
    store = _store(spark, tmp_path, n=400, segs=4)
    store.build_zonemap(["code"])
    probe = _scrambled(123)  # handle 123 → segment 1 only
    # zone map: every segment's [min,max] spans the whole scrambled
    # domain — proves nothing
    assert store._zm_pruned_segs("code", probe, probe) == []
    # inverted index: exactly one segment holds the value
    assert len(store._invidx_pruned_segs("code", [probe])) == 3
    # file-listing-level pruning: PartitionFilters on _seg in the plan
    from tiflash_spark.plans.explain import formatted_plan

    plan = formatted_plan(store.read_where_in("code", [probe]))
    assert "PartitionFilters" in plan
    assert "_seg" in plan.split("PartitionFilters", 1)[1][:300]


def test_uncovered_or_missing_means_scan(spark, tmp_path):
    store = _store(spark, tmp_path)
    # un-indexed column: no pruning, correct result
    assert store._invidx_pruned_segs("v", [100]) == []
    assert store.read_where_in("v", [100]).count() == 1
    # value absent everywhere: every covered segment pruned, empty result
    assert len(store._invidx_pruned_segs("code", ["nope"])) == 4
    assert store.read_where_in("code", ["nope"]).count() == 0


def test_delta_rows_rescued(spark, tmp_path):
    store = _store(spark, tmp_path)
    # move handle 5's code to a value the index knows nothing about —
    # the index would prune every covered segment for it, but handle 5's
    # stable row must still lose to the delta row in the MVCC merge
    upd = spark.createDataFrame(
        [(5, "fresh", 555)], f"{HANDLE} long, code string, v long"
    )
    store.write_batch(upd, version=2)
    got = {r[HANDLE]: r.v for r in store.read_where_in("code", ["fresh"]).collect()}
    assert got == {5: 555}
    # and the OLD code of handle 5 no longer matches
    assert 5 not in {
        r[HANDLE] for r in store.read_where_in("code", [_scrambled(5)]).collect()
    }


def test_incremental_compaction_refreshes_postings(spark, tmp_path):
    store = _store(spark, tmp_path)
    store.write_batch(
        spark.createDataFrame(
            [(5, "fresh", 555)], f"{HANDLE} long, code string, v long"
        ),
        version=2,
    )
    store.compact_segments_incremental(ts=2)
    assert store.delta_rows() == 0
    # the new value is now IN the index (its segment not pruned)
    pruned = store._invidx_pruned_segs("code", ["fresh"])
    assert len(pruned) == 3
    got = {r[HANDLE]: r.v for r in store.read_where_in("code", ["fresh"]).collect()}
    assert got == {5: 555}
    # the replaced value vanished from the postings too
    assert len(store._invidx_pruned_segs("code", [_scrambled(5)])) == 4


def test_full_compact_rebuilds_index(spark, tmp_path):
    store = _store(spark, tmp_path)
    store.write_batch(
        spark.createDataFrame(
            [(777, "late", 7)], f"{HANDLE} long, code string, v long"
        ),
        version=2,
    )
    store.compact(ts=2, num_segments=4)  # hash layout now
    assert sorted(store._index_meta("inverted").get("code", [])) == [0, 1, 2, 3]
    got = {r[HANDLE] for r in store.read_where_in("code", ["late"]).collect()}
    assert got == {777}
    # un-segmented compact retires the index (no segment level to prune)
    store.compact(ts=2)
    assert store._index_meta("inverted") == {}
    assert store.read_where_in("code", ["late"]).count() == 1


def test_split_and_ingest_keep_index_fresh(spark, tmp_path):
    store = _store(spark, tmp_path)
    old, new = store.split_segment(0)
    covered = set(store._index_meta("inverted")["code"])
    assert {old, new} <= covered and len(covered) == 5
    probe = _scrambled(10)  # lives in old segment 0's handle range
    got = {r[HANDLE] for r in store.read_where_in("code", [probe]).collect()}
    assert got == {10}
    # bulk ingest lands straight in stable and must appear in postings
    store.ingest_snapshot(
        spark.createDataFrame(
            [(1000, "bulk", 1)], f"{HANDLE} long, code string, v long"
        ),
        version=3,
    )
    got = {r[HANDLE] for r in store.read_where_in("code", ["bulk"]).collect()}
    assert got == {1000}


def test_crash_leaves_unindexed_never_stale(spark, tmp_path):
    """A crash right after the pointer swap: the touched segments are
    unregistered in the staged meta, so lookups scan them instead of
    trusting retired postings."""
    store = _store(spark, tmp_path)
    store.write_batch(
        spark.createDataFrame(
            [(5, "fresh", 555)], f"{HANDLE} long, code string, v long"
        ),
        version=2,
    )
    store.failpoints = {"after_commit"}
    with pytest.raises(RuntimeError):
        store.compact_segments_incremental(ts=2)
    reopened = DeltaStore(spark, store.path)
    covered = set(reopened._index_meta("inverted").get("code", []))
    assert 0 not in covered  # dirty segment dropped from coverage
    # value written by the crashed compact is found (segment 0 scanned)
    got = {r[HANDLE]: r.v for r in reopened.read_where_in("code", ["fresh"]).collect()}
    assert got == {5: 555}
    # next refresh re-registers
    reopened._refresh_indexes([0])
    assert 0 in set(reopened._index_meta("inverted")["code"])


def test_postings_live_inside_version_dir(spark, tmp_path):
    """The sidecar travels with the stable version dir — Spark data reads
    ignore it, and it can never outlive or predate its data."""
    store = _store(spark, tmp_path)
    assert os.path.isdir(os.path.join(store.stable_path(), "_INVIDX_code"))
    assert os.path.exists(os.path.join(store.stable_path(), "_INVIDX"))
    # the data read does NOT see index rows
    assert set(store.read().columns) == {HANDLE, "code", "v"}
    assert store.read().count() == 400


def test_datetime_column_index(spark, tmp_path):
    """fullstack-test-index/inverted/datetime-type.test analogue: an
    inverted index over a timestamp column serves equality lookups with
    full-scan parity (temporal values survive the sidecar round-trip)."""
    import datetime as dt

    store = DeltaStore(spark, str(tmp_path / "dt"))
    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=(i * 37) % 100, microseconds=123000))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, f"{HANDLE} long, ts timestamp")
    store.write_batch(df, version=1)
    store.compact_range_segments(ts=1, num_segments=4)
    store.build_inverted_index(["ts"])
    probe = base + dt.timedelta(minutes=37, microseconds=123000)
    got = {r[HANDLE] for r in store.read_where_in("ts", [probe]).collect()}
    want = {i for i, t in rows if t == probe}
    assert got == want and got  # non-vacuous


def test_index_lifecycle_matches_reference_alter_pattern(spark, tmp_path):
    """create-on-alter-table.test shape: same equality result before the
    index, after ADD INDEX, and after a subsequent COMPACT (incl. the
    negative-values case the reference test uses)."""
    store = DeltaStore(spark, str(tmp_path / "alt"))
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate([-2, -1, 0, 1, 2] * 8)],
        f"{HANDLE} long, i long",
    )
    store.write_batch(df, version=1)
    store.compact_range_segments(ts=1, num_segments=2)

    def q():
        return sorted(r[HANDLE] for r in store.read_where_in("i", [1]).collect())

    before = q()
    store.build_inverted_index(["i"])
    assert q() == before
    store.write_batch(
        spark.createDataFrame([(1000, 1)], f"{HANDLE} long, i long"), version=2
    )
    store.compact(ts=2)
    assert q() == sorted(before + [1000])
