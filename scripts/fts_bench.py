"""Measured cost table for the store-local full-text index at sf0.1:
build time, match latency (index IN-list path vs forced scan), scored
search latency. Evidence for SCALING.md — run on local[32].

Usage: python3 scripts/fts_bench.py [sf_dir] [store_dir]
"""

from __future__ import annotations

import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from tiflash_spark.catalog import load_table  # noqa: E402
from tiflash_spark.session import get_spark  # noqa: E402
from tiflash_spark.sources.delta_store import HANDLE, DeltaStore  # noqa: E402


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    root = (sys.argv[2] if len(sys.argv) > 2 and sys.argv[2] else
            tempfile.mkdtemp(prefix="ftsb_"))
    spark = get_spark("fts_bench")
    spark.sparkContext.setLogLevel("ERROR")

    mult = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias(HANDLE), "text", "source"
    )
    if mult > 1:
        # replicate with disjoint handles to model a larger corpus;
        # replicas exclude the rare probe term so its selectivity holds
        base = docs
        n0 = base.count()
        filler = base.filter(~F.col("text").contains("dup"))
        docs = base
        for i in range(1, mult):
            docs = docs.unionByName(
                filler.select(
                    (F.col(HANDLE) + i * n0 * 10).alias(HANDLE), "text", "source"
                )
            )
    n_docs = docs.count()
    store = DeltaStore(spark, root)
    store.write_batch(docs, version=1)
    _, t_compact = timed(lambda: store.compact(ts=1, num_segments=8))
    _, t_build = timed(lambda: store.build_fulltext_index("text"))

    # pick a mid-frequency term from the index itself
    idx = spark.read.parquet(store._index_dir("fulltext", "text"))
    term = (
        idx.groupBy("term")
        .count()
        .filter((F.col("count") > 50) & (F.col("count") < 2000))
        .orderBy("term")
        .first()
        .term
    )

    n_hit, t_index = timed(lambda: store.fts_match_word("text", term).count())
    old = DeltaStore.LM_INLIST_LIMIT
    try:
        DeltaStore.LM_INLIST_LIMIT = 0  # force the pruned-scan fallback
        n_scan, t_scan = timed(lambda: store.fts_match_word("text", term).count())
    finally:
        DeltaStore.LM_INLIST_LIMIT = old
    assert n_hit == n_scan, (n_hit, n_scan)
    _, t_scored = timed(
        lambda: store.fts_search_scored("text", f"{term} data", k=10).collect()
    )
    print(
        f"docs={n_docs} term={term!r} hits={n_hit}\n"
        f"compact_8seg_s={t_compact:.2f} build_s={t_build:.2f}\n"
        f"match_index_s={t_index:.2f} match_scan_s={t_scan:.2f} "
        f"speedup={t_scan / t_index:.1f}x\n"
        f"scored_s={t_scored:.2f}"
    )
    if root.startswith(tempfile.gettempdir()):
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
