"""Rough-set zone map on DeltaStore segments (reference per-pack
MinMaxIndex — dbms/src/Storages/DeltaMerge/Index/MinMaxIndex.h:31 — and
the RoughCheck filter built from pushed-down predicates,
Index/RoughCheck.h + FilterParser/FilterParser.cpp): per-segment
[min, max] on non-key columns prunes whole segment directories at
file-listing time, and staleness can only cost performance, never rows
(absent entry ⇒ scan)."""

from __future__ import annotations

import pytest

# long replay/property/parity sweep: excluded from the default run
# (pytest.ini addopts); scripts/full_suite.sh runs everything
pytestmark = pytest.mark.slow

import os

from tiflash_spark.operators.mvcc import HANDLE
from tiflash_spark.sources.delta_store import DeltaStore


def _store(spark, tmp_path, n=400, segs=4):
    """Handles 0..n-1; `ts_col` correlated with handle (each range segment
    owns a disjoint ts band), `noise` deliberately uncorrelated."""
    store = DeltaStore(spark, str(tmp_path / "zm"))
    rows = [(i, i * 10, i % 7, f"d{i}") for i in range(n)]
    df = spark.createDataFrame(
        rows, f"{HANDLE} long, ts_col long, noise int, v string"
    )
    store.write_batch(df, version=1)
    store.compact_range_segments(ts=1, num_segments=segs)
    store.build_zonemap(["ts_col", "noise"])
    return store


def test_read_where_matches_full_scan(spark, tmp_path):
    store = _store(spark, tmp_path)
    got = {r[HANDLE] for r in store.read_where("ts_col", 500, 990).collect()}
    want = {
        r[HANDLE]
        for r in store.read().filter("ts_col >= 500 and ts_col <= 990").collect()
    }
    assert got == want and len(got) == 50


def test_pruning_skips_non_overlapping_segments(spark, tmp_path):
    store = _store(spark, tmp_path, n=400, segs=4)
    # segment width = 100 handles = ts band of 1000; [0, 400] lives
    # entirely in segment 0
    pruned = store._zm_pruned_segs("ts_col", 0, 400)
    assert len(pruned) == 3
    # file-listing-level pruning: the scan plans a PartitionFilters entry
    # on _seg (not merely a data filter above the scan)
    from tiflash_spark.plans.explain import formatted_plan

    plan = formatted_plan(store.read_where("ts_col", 0, 400))
    assert "PartitionFilters" in plan
    assert "_seg" in plan.split("PartitionFilters", 1)[1][:300]
    # uncorrelated column: rough check proves nothing, scans everything
    assert store._zm_pruned_segs("noise", 2, 3) == []
    assert store.read_where("noise", 2, 3).count() == store.read().filter(
        "noise between 2 and 3"
    ).count()


def test_one_sided_bounds(spark, tmp_path):
    store = _store(spark, tmp_path)
    assert store.read_where("ts_col", lo=3900).count() == 10
    assert store.read_where("ts_col", hi=90).count() == 10
    assert len(store._zm_pruned_segs("ts_col", 3900, None)) == 3
    assert len(store._zm_pruned_segs("ts_col", None, 90)) == 3


def test_delta_rows_always_consulted(spark, tmp_path):
    store = _store(spark, tmp_path)
    # updates land in the delta with ts_col values OUTSIDE their segment's
    # stable band — pruning must not hide them
    upd = spark.createDataFrame(
        [(399, 5, 0, "moved")], f"{HANDLE} long, ts_col long, noise int, v string"
    )
    store.write_batch(upd, version=2)
    got = {r[HANDLE]: r.v for r in store.read_where("ts_col", 0, 90).collect()}
    assert got[399] == "moved"
    # and the OLD value of handle 399 (ts_col=3990) must no longer appear
    assert 399 not in {r[HANDLE] for r in store.read_where("ts_col", 3900, 4000).collect()}


def test_bulk_ingest_masked_delta_row_rescued(spark, tmp_path):
    """A pruned segment can hold the NEWEST version of a handle that also
    has delta rows (bulk ingest stamps versions straight into stable);
    dropping the segment would resurrect the stale delta row."""
    store = _store(spark, tmp_path)
    # delta write at version 2: moves handle 0 into the [500,990] band
    store.write_batch(
        spark.createDataFrame(
            [(0, 700, 0, "stale")], f"{HANDLE} long, ts_col long, noise int, v string"
        ),
        version=2,
    )
    # bulk ingest at version 3 goes STRAIGHT to stable (segment 3's band)
    store.ingest_snapshot(
        spark.createDataFrame(
            [(0, 3500, 0, "newest")], f"{HANDLE} long, ts_col long, noise int, v string"
        ),
        version=3,
    )
    # query the [500,990] band: segment 3 is range-pruned for this band
    # BUT handle 0's newest version lives there — the rescue semi-join
    # must keep it visible to the MVCC merge, so "stale" never surfaces
    got = {r[HANDLE] for r in store.read_where("ts_col", 500, 990).collect()}
    assert 0 not in got
    # and the newest version is found where it now belongs
    got_hi = {r[HANDLE]: r.v for r in store.read_where("ts_col", 3400, 3600).collect()}
    assert got_hi[0] == "newest"


def test_incremental_compaction_refreshes_dirty_entries(spark, tmp_path):
    store = _store(spark, tmp_path)
    # move handle 399 (segment 3) into the low band, then fold the delta
    store.write_batch(
        spark.createDataFrame(
            [(399, 50, 0, "low")], f"{HANDLE} long, ts_col long, noise int, v string"
        ),
        version=2,
    )
    store.compact_segments_incremental(ts=2)
    zm = store._index_meta("zonemap")
    # segment 3's entry widened down to 50 — it can no longer be pruned
    assert zm["segs"]["3"]["ts_col"][0] == 50
    assert 3 not in store._zm_pruned_segs("ts_col", 0, 90)
    got = {r[HANDLE]: r.v for r in store.read_where("ts_col", 0, 90).collect()}
    assert got[399] == "low"


def test_split_and_merge_keep_entries_fresh(spark, tmp_path):
    store = _store(spark, tmp_path)
    old, new = store.split_segment(0)
    zm = store._index_meta("zonemap")
    assert str(new) in zm["segs"] and str(old) in zm["segs"]
    lo_old, hi_old = zm["segs"][str(old)]["ts_col"][:2]
    lo_new, hi_new = zm["segs"][str(new)]["ts_col"][:2]
    assert lo_old == 0 and hi_new == 990 and hi_old < lo_new
    # merge back: pure-metadata union
    surv = store.merge_segments(old, new)
    zm = store._index_meta("zonemap")
    assert zm["segs"][str(surv)]["ts_col"] == [0, 990, 0]
    assert str(new) not in zm["segs"]
    assert store.read_where("ts_col", 0, 400).count() == 41


def test_full_compact_rebuilds_map(spark, tmp_path):
    store = _store(spark, tmp_path)
    store.write_batch(
        spark.createDataFrame(
            [(1000, 10_000, 0, "tail")], f"{HANDLE} long, ts_col long, noise int, v string"
        ),
        version=2,
    )
    store.compact_range_segments(ts=2, num_segments=4)
    zm = store._index_meta("zonemap")
    assert set(zm["cols"]) == {"ts_col", "noise"}
    # the outlier handle makes one equal-width band empty: no dir → no
    # entry (missing always means scan, and there is nothing to scan)
    assert len(zm["segs"]) == 3
    assert store.read_where("ts_col", 9_000, 11_000).count() == 1
    # un-segmented compact drops the map (no segment level to index)
    store.compact(ts=2)
    assert store._index_meta("zonemap") is None
    # reads still work without it
    assert store.read_where("ts_col", 0, 90).count() == 10


def test_all_null_segment_pruned(spark, tmp_path):
    store = DeltaStore(spark, str(tmp_path / "zn"))
    rows = [(i, None if i < 100 else i * 10, f"d{i}") for i in range(200)]
    df = spark.createDataFrame(rows, f"{HANDLE} long, ts_col long, v string")
    store.write_batch(df, version=1)
    store.compact_range_segments(ts=1, num_segments=2)
    store.build_zonemap(["ts_col"])
    # segment 0 is all-NULL for ts_col: a range predicate matches nothing
    assert 0 in store._zm_pruned_segs("ts_col", 0, 10_000)
    assert store.read_where("ts_col", 1000, 1090).count() == 10


def test_temporal_bounds_render_like_spark(spark, tmp_path):
    """Sub-second timestamps: Spark's cast-to-string trims trailing
    fractional zeros ('…00.123') while Python's str() pads microseconds
    ('…00.123000'). The query bound must be rendered through Spark so an
    equal instant never compares as stored_max < bound and wrongly
    prunes the segment holding the row (silent row loss)."""
    import datetime as dt

    store = DeltaStore(spark, str(tmp_path / "zt"))
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (i, base + dt.timedelta(seconds=i, microseconds=123000), f"d{i}")
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, f"{HANDLE} long, ev_ts timestamp, v string")
    store.write_batch(df, version=1)
    store.compact_range_segments(ts=1, num_segments=2)
    store.build_zonemap(["ev_ts"])
    # segment 0 holds handles 0..99 → max ev_ts = base+99s.123000; Spark
    # stores its string as '…:01:39.123'. Query with lo equal to that
    # exact instant (Python datetime, str() would give '…123000' > the
    # stored max and prune segment 0, losing handle 99).
    lo = base + dt.timedelta(seconds=99, microseconds=123000)
    got = {r[HANDLE] for r in store.read_where("ev_ts", lo=lo, hi=lo).collect()}
    assert got == {99}
    # pruning still fires when sound: a band fully inside segment 1
    lo2 = base + dt.timedelta(seconds=150)
    assert store._zm_pruned_segs("ev_ts", lo2, None) == [0]
    # string bounds rendered identically (same normalization both sides)
    got_s = {
        r[HANDLE]
        for r in store.read_where(
            "ev_ts", lo="2024-03-01 12:01:39.123", hi="2024-03-01 12:01:39.123"
        ).collect()
    }
    assert got_s == {99}


def test_uninterpretable_temporal_bound_scans(spark, tmp_path):
    """An epoch-int bound on a timestamp column cannot be compared with
    the stored ISO-string min/max — the absent verdict must mean scan,
    never a TypeError and never a silent prune."""
    import datetime as dt

    store = DeltaStore(spark, str(tmp_path / "zu"))
    base = dt.datetime(2024, 3, 1)
    rows = [(i, base + dt.timedelta(hours=i), f"d{i}") for i in range(100)]
    df = spark.createDataFrame(rows, f"{HANDLE} long, ev_ts timestamp, v string")
    store.write_batch(df, version=1)
    store.compact_range_segments(ts=1, num_segments=2)
    store.build_zonemap(["ev_ts"])
    assert store._zm_pruned_segs("ev_ts", int(base.timestamp()), None) == []
    # garbage string Spark can't parse as a timestamp → also scan
    assert store._zm_pruned_segs("ev_ts", "not-a-time", None) == []


def test_incomparable_bound_type_degrades_to_scan(spark, tmp_path):
    """An int bound on a STRING column: read_where's Spark filter accepts
    it via implicit cast, so the zone map must degrade to 'cannot prune'
    instead of raising TypeError on int-vs-str comparison."""
    store = DeltaStore(spark, str(tmp_path / "zi"))
    rows = [(i, f"{i:04d}", f"d{i}") for i in range(100)]
    df = spark.createDataFrame(rows, f"{HANDLE} long, code string, v string")
    store.write_batch(df, version=1)
    store.compact_range_segments(ts=1, num_segments=2)
    store.build_zonemap(["code"])
    assert store._zm_pruned_segs("code", 10, 20) == []  # no TypeError
    got = store.read_where("code", 10, 20).count()
    want = store.read().filter("code >= 10 and code <= 20").count()
    assert got == want


def test_read_where_skips_count_job_but_keeps_rescue(spark, tmp_path):
    """The rescue-join decision uses a driver-side file-listing probe,
    not a delta.count() Spark job; a non-empty delta still rescues."""
    store = _store(spark, tmp_path)
    assert store._delta_has_files() is False  # compacted: delta retired
    store.write_batch(
        spark.createDataFrame(
            [(399, 5, 0, "moved")],
            f"{HANDLE} long, ts_col long, noise int, v string",
        ),
        version=2,
    )
    assert store._delta_has_files() is True
    got = {r[HANDLE]: r.v for r in store.read_where("ts_col", 0, 90).collect()}
    assert got[399] == "moved"


def test_null_aware_zonemap_prunes_is_null(spark, tmp_path):
    """has_null enrichment (2022-10-20 design doc): segments proven
    NULL-free are pruned for IS NULL reads; the MVCC delta rescue keeps
    a later NULL-write visible even when its segment is pruned."""
    from pyspark.sql import Row

    store = DeltaStore(spark, str(tmp_path / "nullzm"))
    rows = [
        Row(**{HANDLE: h, "c": (None if h < 250 and h % 5 == 0 else h)})
        for h in range(1000)
    ]
    store.write_batch(spark.createDataFrame(rows), version=1)
    store.compact_range_segments(ts=1, num_segments=4)  # seg 0 holds h<250
    store.build_zonemap(["c"])
    pruned = store._zm_null_pruned_segs("c")
    assert len(pruned) == 3  # segments 1..3 proven NULL-free
    want = {h for h in range(1000) if h < 250 and h % 5 == 0}
    got = {r[HANDLE] for r in store.read_where_null("c").collect()}
    assert got == want
    # delta write puts a NULL into a PRUNED segment's handle: the rescue
    # semi-join must surface it despite the segment being skipped
    store.write_batch(
        spark.createDataFrame([(900, None)], f"{HANDLE} long, c long"), version=2
    )
    got2 = {r[HANDLE] for r in store.read_where_null("c").collect()}
    assert got2 == want | {900}
    # and un-NULLing a rescued row removes it again
    store.write_batch(
        spark.createDataFrame([Row(**{HANDLE: 900, "c": 9})]), version=3
    )
    assert 900 not in {r[HANDLE] for r in store.read_where_null("c").collect()}
