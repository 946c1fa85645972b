"""Storage-layer vector index on DeltaStore — the reference's
VectorIndex contract (dbms/src/Storages/DeltaMerge/Index/VectorIndex/,
LocalIndexWriter.cpp): the ANN index is built over the stable layer at
write/compaction time, queried THROUGH the MVCC read path (updates win,
deletes apply), and the un-indexed delta tail is searched exactly, so
results are snapshot-consistent. IVF postings live per segment per
coarse cluster inside the stable version dir; probing prunes posting
files at listing level."""

from __future__ import annotations

import pytest

# long replay/property/parity sweep: excluded from the default run
# (pytest.ini addopts); scripts/full_suite.sh runs everything
pytestmark = pytest.mark.slow

import math
import os

import pytest

from pyspark.sql import Row

from tiflash_spark.operators.mvcc import HANDLE
from tiflash_spark.sources.delta_store import DeltaStore


DIM = 8


def _vec(i: int) -> list[float]:
    """Deterministic vectors with coarse cluster structure: direction
    dominated by (i % 4), magnitude/noise from i."""
    base = [0.0] * DIM
    base[i % 4] = 10.0
    return [round(b + ((i * 37 + d * 11) % 7) * 0.1, 3) for d, b in enumerate(base)]


def _store(spark, path, n=200, segs=4):
    store = DeltaStore(spark, path)
    rows = [Row(**{HANDLE: i, "emb": _vec(i), "grp": i % 4}) for i in range(n)]
    store.write_batch(spark.createDataFrame(rows), version=1)
    store.compact_range_segments(ts=1, num_segments=segs)
    store.build_vector_index("emb")
    return store


def _cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return dot / (na * nb)


def _exact_topk(store, query, k=10, ts=None, exclude=()):
    rows = [
        (r[HANDLE], _cos([float(v) for v in r.emb], query))
        for r in store.read(ts).collect()
        if r.emb is not None and r[HANDLE] not in exclude
    ]
    rows.sort(key=lambda t: (-t[1], t[0]))
    return [h for h, _ in rows[:k]]


def test_indexed_topk_matches_exact_on_clustered_data(spark, tmp_path):
    store = _store(spark, str(tmp_path / "v1"))
    query = _vec(1)  # cluster 1 direction
    got = [r[HANDLE] for r in store.ann_topk("emb", query, k=10).collect()]
    want = _exact_topk(store, query, k=10)
    # the coarse clusters separate perfectly on this data: full recall
    assert set(got) == set(want)


def test_update_in_delta_wins_over_stale_posting(spark, tmp_path):
    """A handle whose vector changed in the delta must be scored from the
    NEW value even though the posting still holds the old one."""
    store = _store(spark, str(tmp_path / "v2"))
    query = _vec(1)
    # handle 57 (cluster 1) gets re-pointed AWAY from the query
    away = [10.0 if d == 2 else 0.0 for d in range(DIM)]
    store.write_batch(
        spark.createDataFrame([Row(**{HANDLE: 57, "emb": away, "grp": 1})]),
        version=2,
    )
    got = [r[HANDLE] for r in store.ann_topk("emb", query, k=10).collect()]
    assert 57 not in got
    # and a delta INSERT pointing exactly at the query must rank first
    store.write_batch(
        spark.createDataFrame([Row(**{HANDLE: 999, "emb": query, "grp": 1})]),
        version=3,
    )
    got = [r[HANDLE] for r in store.ann_topk("emb", query, k=10).collect()]
    # _vec repeats every 28 handles, so several carry the identical
    # vector — 999 joins the cos=1.0 tie group (handle-asc within it)
    assert 999 in got and got[0] == 1


def test_deletes_and_range_deletes_apply(spark, tmp_path):
    store = _store(spark, str(tmp_path / "v3"))
    query = _vec(1)
    before = [r[HANDLE] for r in store.ann_topk("emb", query, k=5).collect()]
    victim = before[0]
    store.write_batch(
        spark.createDataFrame(
            [(victim, None, 0)], f"{HANDLE} long, emb array<double>, grp bigint"
        ),
        version=2,
        delete=True,
    )
    after = [r[HANDLE] for r in store.ann_topk("emb", query, k=5).collect()]
    assert victim not in after
    # range delete wipes a handle band; none of its members may surface
    store.delete_range(0, 50, version=3)
    got = {r[HANDLE] for r in store.ann_topk("emb", query, k=20).collect()}
    assert got.isdisjoint(range(0, 50))


def test_time_travel_reads_old_vectors(spark, tmp_path):
    store = _store(spark, str(tmp_path / "v4"))
    query = _vec(1)
    at_v1 = [r[HANDLE] for r in store.ann_topk("emb", query, k=10, ts=1).collect()]
    store.write_batch(
        spark.createDataFrame(
            [(h, None, 0) for h in at_v1[:3]],
            f"{HANDLE} long, emb array<double>, grp bigint",
        ),
        version=2,
        delete=True,
    )
    # ts=1 snapshot unaffected by the later deletes
    again = [r[HANDLE] for r in store.ann_topk("emb", query, k=10, ts=1).collect()]
    assert again == at_v1
    now = [r[HANDLE] for r in store.ann_topk("emb", query, k=10).collect()]
    assert not set(at_v1[:3]) & set(now)


def test_compaction_refreshes_postings(spark, tmp_path):
    store = _store(spark, str(tmp_path / "v5"))
    query = _vec(1)
    store.write_batch(
        spark.createDataFrame([Row(**{HANDLE: 999, "emb": query, "grp": 1})]),
        version=2,
    )
    store.compact_segments_incremental(ts=2)
    assert store.delta_rows() == 0
    # after the fold the new row is IN the postings (no delta leg now)
    got = [r[HANDLE] for r in store.ann_topk("emb", query, k=10).collect()]
    assert 999 in got  # folded into postings, still in the tie group
    meta = store._index_meta("vector")["emb"]
    assert len(meta["segs"]) >= 4
    # full compact rebuilds quantizer + postings
    store.compact(ts=2, num_segments=4)
    got = [r[HANDLE] for r in store.ann_topk("emb", query, k=10).collect()]
    assert 999 in got


def test_uncovered_segment_searched_exactly(spark, tmp_path):
    """Crash right after the pointer swap: the touched segments are
    unregistered from the index meta — they are searched exactly, so
    recall is unharmed while coverage lags."""
    store = _store(spark, str(tmp_path / "v6"))
    query = _vec(1)
    store.write_batch(
        spark.createDataFrame([Row(**{HANDLE: 999, "emb": query, "grp": 1})]),
        version=2,
    )
    store.failpoints = {"after_commit"}
    with pytest.raises(RuntimeError):
        store.compact_segments_incremental(ts=2)
    reopened = DeltaStore(spark, store.path)
    covered = set(reopened._index_meta("vector")["emb"]["segs"])
    assert len(covered) < len(reopened._all_seg_ids())
    got = [r[HANDLE] for r in reopened.ann_topk("emb", query, k=10).collect()]
    assert 999 in got  # found via the exact leg


def test_postings_partition_pruning(spark, tmp_path):
    """The probe reads only the probed clusters' posting dirs — pruning
    happens at the partition level of the sidecar."""
    store = _store(spark, str(tmp_path / "v7"))
    idx_dir = store._index_dir("vector", "emb")
    seg_dirs = [d for d in os.listdir(idx_dir) if d.startswith("_seg=")]
    assert seg_dirs
    cl_dirs = {
        c for s in seg_dirs for c in os.listdir(os.path.join(idx_dir, s))
        if c.startswith("_cl=")
    }
    assert len(cl_dirs) >= 4  # clustered data spread across coarse cells
    from pyspark.sql import functions as F

    from tiflash_spark.plans.explain import formatted_plan

    idx = store.spark.read.parquet(idx_dir).filter(F.col("_cl").isin([0, 1]))
    plan = formatted_plan(idx)
    assert "PartitionFilters" in plan and "_cl" in plan.split("PartitionFilters", 1)[1][:300]


def test_unindexed_store_falls_back_to_exact(spark, tmp_path):
    store = DeltaStore(spark, str(tmp_path / "v8"))
    rows = [Row(**{HANDLE: i, "emb": _vec(i), "grp": i % 4}) for i in range(50)]
    store.write_batch(spark.createDataFrame(rows), version=1)
    query = _vec(2)
    got = [r[HANDLE] for r in store.ann_topk("emb", query, k=5).collect()]
    assert got == _exact_topk(store, query, k=5)


def test_ann_topk_l2_metric(spark, tmp_path):
    """metric='l2' (the VEC_L2_DISTANCE index spelling): top-k by
    negative L2 distance, identical to brute force at full probe; a
    delta update re-ranks exactly."""
    import itertools as _it
    import math

    from tiflash_spark.sources.delta_store import HANDLE, DeltaStore

    rows = [(i, [float(i % 7), float((i * 3) % 5), float(i % 4)]) for i in range(40)]
    s = DeltaStore(spark, str(tmp_path / "l2ann"))
    s.write_batch(
        spark.createDataFrame(rows, f"{HANDLE} long, v array<double>"), version=1
    )
    s.compact(ts=1, num_segments=2)
    s.build_vector_index("v", n_centroids=4)
    q = [1.0, 2.0, 3.0]

    def l2(a):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, q)))

    want = sorted(rows, key=lambda r: (l2(r[1]), r[0]))[:5]
    got = s.ann_topk("v", q, k=5, n_probe=4, metric="l2").collect()
    assert [r[HANDLE] for r in got] == [w[0] for w in want]
    for r, w in zip(got, want):
        assert abs(-r.score - l2(w[1])) < 1e-5
    # delta update: a new exact-match vector must rank first
    s.write_batch(
        spark.createDataFrame([(99, [1.0, 2.0, 3.0])], f"{HANDLE} long, v array<double>"),
        version=2,
    )
    got2 = s.ann_topk("v", q, k=3, n_probe=4, metric="l2").collect()
    assert got2[0][HANDLE] == 99 and got2[0].score == 0.0
    import pytest as _pt

    with _pt.raises(ValueError, match="metric"):
        s.ann_topk("v", q, k=3, metric="dotproduct")
