"""Crash-consistency of DeltaStore layer swaps — the Spark-side analogue
of the reference's fault-injection suites (tests/fullstack-test/
fault-inject/, FailPoint.h): an injected failure at ANY step of a
compaction / incremental merge / segment split / merge / bulk ingest must
leave the store readable as either the complete OLD snapshot or the
complete NEW one, never a half state. The commit point is the atomic
`_CURRENT` superblock replace; everything before it is invisible staging,
everything after is garbage collection."""

from __future__ import annotations

import pytest

# long replay/property/parity sweep: excluded from the default run
# (pytest.ini addopts); scripts/full_suite.sh runs everything
pytestmark = pytest.mark.slow

import os

import pytest

from pyspark.sql import Row

from tiflash_spark.operators.mvcc import HANDLE
from tiflash_spark.sources.delta_store import DeltaStore


def _rows(spark, items):
    return spark.createDataFrame([Row(**{HANDLE: h, "v": v}) for h, v in items])


def _snapshot(store, ts=None):
    return {r[HANDLE]: r.v for r in store.read(ts).collect()}


def _store_with_data(spark, path):
    store = DeltaStore(spark, path)
    store.write_batch(_rows(spark, [(h, h * 10) for h in range(100)]), version=1)
    store.compact_range_segments(ts=1, num_segments=4)
    store.write_batch(_rows(spark, [(5, 555), (150, 1500)]), version=2)
    return store


EXPECT_OLD = {**{h: h * 10 for h in range(100)}, 5: 555, 150: 1500}


@pytest.mark.parametrize("point", ["staged", "before_commit"])
def test_full_compact_crash_keeps_old_snapshot(spark, tmp_path, point):
    store = _store_with_data(spark, str(tmp_path / f"c_{point}"))
    store.failpoints = {point}
    with pytest.raises(RuntimeError, match=point):
        store.compact(ts=2, num_segments=4)
    # a fresh open (≈ restart after the crash) sees the complete OLD
    # snapshot: stable v1 rows plus the un-retired delta tail
    reopened = DeltaStore(spark, store.path)
    assert _snapshot(reopened) == EXPECT_OLD
    # and the store is fully functional afterwards
    reopened.compact(ts=2, num_segments=4)
    assert _snapshot(reopened) == EXPECT_OLD


def test_full_compact_crash_after_commit_reads_new(spark, tmp_path):
    store = _store_with_data(spark, str(tmp_path / "c_after"))
    store.failpoints = {"after_commit"}
    with pytest.raises(RuntimeError, match="after_commit"):
        store.compact(ts=2, num_segments=4)
    # the pointer moved: the NEW snapshot is what a restart reads, with
    # the delta folded in and retired
    reopened = DeltaStore(spark, store.path)
    assert _snapshot(reopened) == EXPECT_OLD
    assert reopened.delta_rows() == 0


@pytest.mark.parametrize("point", ["staged", "before_commit"])
def test_incremental_compact_crash_keeps_old(spark, tmp_path, point):
    store = _store_with_data(spark, str(tmp_path / f"i_{point}"))
    store.failpoints = {point}
    with pytest.raises(RuntimeError, match=point):
        store.compact_segments_incremental(ts=2)
    reopened = DeltaStore(spark, store.path)
    # old stable + old delta both intact (delta not retired early)
    assert _snapshot(reopened) == EXPECT_OLD
    assert reopened.delta_rows() > 0
    rewritten, _total = reopened.compact_segments_incremental(ts=2)
    assert rewritten >= 1
    assert _snapshot(reopened) == EXPECT_OLD
    assert reopened.delta_rows() == 0


@pytest.mark.parametrize("point", ["staged", "before_commit"])
def test_split_crash_keeps_old_manifest_and_rows(spark, tmp_path, point):
    store = _store_with_data(spark, str(tmp_path / f"s_{point}"))
    store.compact_segments_incremental(ts=2)
    n_before = store._manifest()["n"]
    store.failpoints = {point}
    with pytest.raises(RuntimeError, match=point):
        store.split_segment(0)
    reopened = DeltaStore(spark, store.path)
    assert reopened._manifest()["n"] == n_before  # bounds unchanged
    assert _snapshot(reopened) == EXPECT_OLD
    old, new = reopened.split_segment(0)
    assert reopened._manifest()["n"] == n_before + 1
    assert _snapshot(reopened) == EXPECT_OLD


@pytest.mark.parametrize("point", ["staged", "before_commit"])
def test_merge_crash_keeps_old(spark, tmp_path, point):
    store = _store_with_data(spark, str(tmp_path / f"m_{point}"))
    store.compact_segments_incremental(ts=2)
    man = store._manifest()
    ordered = sorted(man["bounds"].items(), key=lambda kv: kv[1][0])
    left, right = int(ordered[0][0]), int(ordered[1][0])
    store.failpoints = {point}
    with pytest.raises(RuntimeError, match=point):
        store.merge_segments(left, right)
    reopened = DeltaStore(spark, store.path)
    assert reopened._manifest()["n"] == man["n"]
    assert _snapshot(reopened) == EXPECT_OLD
    reopened.merge_segments(left, right)
    assert reopened._manifest()["n"] == man["n"] - 1
    assert _snapshot(reopened) == EXPECT_OLD


@pytest.mark.parametrize("point", ["staged", "before_commit"])
def test_ingest_crash_is_all_or_nothing(spark, tmp_path, point):
    store = _store_with_data(spark, str(tmp_path / f"g_{point}"))
    store.compact_segments_incremental(ts=2)
    store.failpoints = {point}
    with pytest.raises(RuntimeError, match=point):
        store.ingest_snapshot(_rows(spark, [(300, 3000)]), version=3)
    reopened = DeltaStore(spark, store.path)
    assert _snapshot(reopened) == EXPECT_OLD  # nothing ingested
    reopened.ingest_snapshot(_rows(spark, [(300, 3000)]), version=3)
    assert _snapshot(reopened) == {**EXPECT_OLD, 300: 3000}


def test_zonemap_never_stale_across_crash(spark, tmp_path):
    """The staged version dir carries the zone map MINUS the touched
    segments' entries: a crash between pointer swap and refresh leaves
    those segments unmapped (= scan, correct), never stale-pruned."""
    store = DeltaStore(spark, str(tmp_path / "zc"))
    rows = [(i, i * 10) for i in range(200)]
    store.write_batch(
        spark.createDataFrame(rows, f"{HANDLE} long, ts_col long"), version=1
    )
    store.compact_range_segments(ts=1, num_segments=2)
    store.build_zonemap(["ts_col"])
    # move handle 199 (segment 1) into segment-0's value band via delta,
    # then crash the incremental compact right after the commit point
    store.write_batch(
        spark.createDataFrame([(199, 5)], f"{HANDLE} long, ts_col long"), version=2
    )
    store.failpoints = {"after_commit"}
    with pytest.raises(RuntimeError):
        store.compact_segments_incremental(ts=2)
    reopened = DeltaStore(spark, store.path)
    zm = reopened._index_meta("zonemap")
    assert "1" not in zm["segs"]  # touched entry dropped, not stale
    got = {r[HANDLE] for r in reopened.read_where("ts_col", 0, 90).collect()}
    assert 199 in got  # the moved row is found (segment 1 scanned)


def test_orphans_swept_by_next_mutation(spark, tmp_path):
    store = _store_with_data(spark, str(tmp_path / "gc"))
    store.failpoints = {"before_commit"}
    with pytest.raises(RuntimeError):
        store.compact(ts=2, num_segments=4)
    store.failpoints = set()
    orphaned = [
        d for d in os.listdir(store.path)
        if d.startswith(("stable_v", "_stage_"))
        and d != store._superblock()["stable"]
    ]
    assert orphaned  # the failed promote left debris
    store.compact(ts=2, num_segments=4)
    sb = store._superblock()
    left = [
        d for d in os.listdir(store.path)
        if os.path.isdir(os.path.join(store.path, d))
        and d not in (sb["stable"], sb["delta"])
    ]
    assert left == []  # swept
    assert _snapshot(store) == EXPECT_OLD


def test_cold_segment_files_are_hardlinked_not_copied(spark, tmp_path):
    """Incremental compaction shares cold segments' file storage between
    versions (hardlinks): same inode, new dir — the cheap version chain
    that makes crash safety affordable."""
    store = _store_with_data(spark, str(tmp_path / "hl"))
    # delta handles: 5 → segment 0, 150 → clamped into top segment 3;
    # segments 1 and 2 are cold
    cold_segs = [1, 2]
    old_stable = store.stable_path()
    inodes_before = {}
    for s in cold_segs:
        d = os.path.join(old_stable, f"_seg={s}")
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                inodes_before[(s, f)] = os.stat(os.path.join(d, f)).st_ino
    store.compact_segments_incremental(ts=2)
    new_stable = store.stable_path()
    assert new_stable != old_stable
    for (s, f), ino in inodes_before.items():
        assert os.stat(os.path.join(new_stable, f"_seg={s}", f)).st_ino == ino


IDX_SCHEMA = f"{HANDLE} long, v long, code string, body string, emb array<double>"


def _idx_row(h, v=None, code=None, body=None, emb=None):
    return (
        h,
        h * 10 if v is None else v,
        f"c{h % 7}" if code is None else code,
        f"w{h % 5} common" if body is None else body,
        [1.0, float(h)] if emb is None else emb,
    )


# handle 5 (segment 0) moves to a new value band under every index
_FRESH = _idx_row(5, v=9999, code="fresh", body="novel words", emb=[0.0, 0.0])


def _incremental(spark, store):
    store.write_batch(spark.createDataFrame([_FRESH], IDX_SCHEMA), version=2)
    store.compact_segments_incremental(ts=2)


def _ingest(spark, store):
    store.ingest_snapshot(spark.createDataFrame([_FRESH], IDX_SCHEMA), version=2)


def _split(spark, store):
    store.split_segment(0)


def _merge(spark, store):
    store.merge_segments(0, 1)


@pytest.mark.parametrize(
    "op, touched, fresh",
    [
        (_incremental, {0}, True),
        (_ingest, {0}, True),
        (_split, {0, 4}, False),
        (_merge, {0, 1}, False),
    ],
    ids=["incremental", "ingest", "split", "merge"],
)
def test_rewrite_crash_after_commit_uncovers_every_index(
    spark, tmp_path, op, touched, fresh
):
    """Every segment rewrite commits its data and all four indexes in one
    pointer swap: a crash right after it leaves the touched segments
    uncovered by the zone map, inverted, full-text and vector indexes
    alike (scan, never stale), every index-served read returns the
    model's rows, and the next refresh re-registers them."""
    from tiflash_spark.sources.delta_store import _INDEX_KINDS

    store = DeltaStore(spark, str(tmp_path / "kinds"))
    store.write_batch(
        spark.createDataFrame([_idx_row(h) for h in range(100)], IDX_SCHEMA), version=1
    )
    store.compact_range_segments(ts=1, num_segments=4)
    store.build_zonemap(["v"])
    store.build_inverted_index(["code"])
    store.build_fulltext_index("body")
    store.build_vector_index("emb", n_centroids=2)
    model = {r[0]: r for r in map(_idx_row, range(100))}
    if fresh:
        model[5] = _FRESH

    store.failpoints = {"after_commit"}
    with pytest.raises(RuntimeError, match="after_commit"):
        op(spark, store)
    reopened = DeltaStore(spark, store.path)

    def covered(s):
        return {
            kind: any(s in segs for segs in spec.covers(reopened._index_meta(kind)).values())
            for kind, spec in _INDEX_KINDS.items()
        }

    def check_reads():
        def got(df):
            return {r[HANDLE] for r in df.collect()}

        assert got(reopened.read_where("v", 0, 100)) == {
            h for h, r in model.items() if 0 <= r[1] <= 100
        }
        assert got(reopened.read_where("v", 9000, 10000)) == {
            h for h, r in model.items() if 9000 <= r[1] <= 10000
        }
        assert got(reopened.read_where_in("code", ["fresh", "c3"])) == {
            h for h, r in model.items() if r[2] in ("fresh", "c3")
        }
        for word in ("novel", "w2"):
            assert got(reopened.fts_match_word("body", word)) == {
                h for h, r in model.items() if word in r[3].split()
            }
        nearest = sorted(model, key=lambda h: (sum(x * x for x in model[h][4]), h))
        assert [
            r[HANDLE]
            for r in reopened.ann_topk("emb", [0.0, 0.0], k=3, metric="l2").collect()
        ] == nearest[:3]

    for s in touched:
        assert covered(s) == dict.fromkeys(_INDEX_KINDS, False)
    assert all(covered(s) == dict.fromkeys(_INDEX_KINDS, True)
               for s in reopened._all_seg_ids() - touched)
    check_reads()
    reopened._refresh_indexes(touched)
    live = touched & reopened._all_seg_ids()
    assert live
    for s in live:
        assert covered(s) == dict.fromkeys(_INDEX_KINDS, True)
    check_reads()
