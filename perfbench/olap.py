"""The read mix and the olap_cold workload.

One closed-loop client runs the mix: each op is one registry query,
built, planned and collected to the driver, then checked against the
digest of its DuckDB oracle's rows.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import os
import random
import sys
import time
import traceback

from harness import (
    OpRecord,
    RunData,
    Tracer,
    dir_bytes,
    drain_listener_bus,
    gc_ms,
    job_group_counts,
    merge_intervals,
    persisted_rdds,
    plan_metrics,
    tree_cpu_s,
)

# One oracle-backed query per registry module. `approx` has no exact
# oracle and is left out. In five pipeline modules the pick is a cheaper
# sibling of the module's headline query, so that one run fits the time
# budget (see README.md).
MIX = [
    "agg_functions",           # operators.relational
    "join_inner_broadcast",    # operators.joins
    "window_ranking",          # operators.windows
    "grouping_sets",           # operators.grouping
    "mvcc_snapshot",           # operators.mvcc
    "scalar_stragglers",       # operators.scalars
    "events_sessionize",       # operators.events
    "q9_product_profit",       # operators.tpch
    "tpcds_q5_shape",          # operators.tpcds
    "asof_join_events",        # operators.temporal
    "join_runtime_filter",     # operators.runtime_filter
    "text_analysis",           # pipeline.text
    "fulltext_bm25",           # pipeline.fulltext
    "dedup_exact_substring",   # pipeline.dedup
    "ann_cosine_topk",         # pipeline.similarity
    "multimodal_decode",       # pipeline.multimodal
    "dataset_card",            # pipeline.curation
]

HERE = os.path.dirname(os.path.abspath(__file__))
ORACLES = os.path.join(HERE, "oracles.json")
DATA = os.path.join(HERE, "data", "sf0.01")

# Passes per run = round(--seconds / PASS_S), at least one: a run does a
# fixed amount of work, so per-op counts repeat exactly for one seed.
# PASS_S is the nominal mean of the first, JIT-cold pass (about 20 s on a
# 4-core x86 host) and a JIT-warm one (about 10 s).
PASS_S = 15.0
SETUPS = 3


def _canon(v) -> str:
    """Type-stable text of one normalized cell (numpy scalars and Python
    scalars of equal value print the same)."""
    if isinstance(v, tuple):
        return "(" + ",".join(_canon(x) for x in v) + ")"
    if v is None or isinstance(v, bool):
        return repr(v)
    if isinstance(v, float):
        return repr(float(v))
    if isinstance(v, int):
        return repr(int(v))
    if isinstance(v, (datetime.date, datetime.datetime, datetime.time)):
        return f"{type(v).__name__}:{v.isoformat()}"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, str):
        return repr(v)
    return f"{type(v).__name__}:{v!r}"


def rows_digest(pdf) -> str:
    """Order-insensitive digest of a result: sorted column names plus the
    rows as ``testing.normalize_rows`` normalizes them."""
    from tiflash_spark.testing import normalize_rows

    rows = normalize_rows(pdf)
    text = repr(sorted(pdf.columns)) + "\n" + "\n".join(_canon(r) for r in rows)
    return hashlib.sha256(text.encode()).hexdigest()


def check_digest(label: str, got: str, want: str) -> bool:
    """True when the digests agree; prints the mismatch by op otherwise."""
    if got != want:
        print(f"MISMATCH {label}: rows digest {got[:12]} != oracle {want[:12]}",
              file=sys.stderr)
    return got == want


def load_expected() -> dict[str, str]:
    with open(ORACLES) as fh:
        return json.load(fh)["digests"]


def schedule(seed: int, passes: int) -> list[list[str]]:
    """The op order. The first pass, the JVM's first run of each query,
    keeps the registry order for every seed: its latencies fall as the JIT
    warms, so a seeded order would move query_p50_s with the seed. Later
    passes are seeded permutations of the mix."""
    rng = random.Random(seed)
    out = [list(MIX)]
    for _ in range(passes - 1):
        order = list(MIX)
        rng.shuffle(order)
        out.append(order)
    return out


def land_copy(dst_root: str) -> str:
    """Copy the tables under a new path with new mtimes, so every
    source-stamped memo, sidecar and persist misses."""
    dst = os.path.join(dst_root, "sf0.01")
    os.makedirs(dst)
    for f in sorted(os.listdir(DATA)):
        with open(os.path.join(DATA, f), "rb") as src, \
                open(os.path.join(dst, f), "wb") as out:
            out.write(src.read())
    return dst


class OlapClient:
    """Runs one op at a time; traced, it also reads the per-op counters
    after the op span closes, so they stay out of the op's latency."""

    def __init__(self, spark, tracer: Tracer, warehouse: str):
        from tiflash_spark.registry import all_queries

        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.warehouse = warehouse
        self.queries = all_queries()
        self.expected = load_expected()
        self.next_op = 0

    def run(self, name: str, sf_dir: str, phase: str) -> OpRecord:
        op = self.next_op
        self.next_op += 1
        tr, sc, traced = self.tracer, self.sc, self.tracer.enabled
        if traced:
            started, gc0 = time.time(), gc_ms(sc)
        pdf = None
        t0 = time.perf_counter()
        try:
            with tr.span("op", op):
                if traced:
                    sc.setJobGroup(f"op{op}.build", name)
                with tr.span("build", op):
                    df = self.queries[name](self.spark, sf_dir)
                if traced:
                    sc.setJobGroup(f"op{op}.exec", name)
                with tr.span("plan", op):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("collect", op) as collect_idx:
                    wall0, perf0 = time.time(), time.perf_counter()
                    pdf = df.toPandas()
            latency = time.perf_counter() - t0
        except Exception:
            latency = time.perf_counter() - t0
            print(f"FAILED op={op} name={name} phase={phase}\n"
                  f"{traceback.format_exc(limit=3)}", file=sys.stderr)
        finally:
            if traced:
                sc._jsc.clearJobGroup()
        rec = OpRecord(op, name, phase, latency, False)
        if pdf is not None:
            rec.rows = len(pdf)
            rec.ok = check_digest(f"op={op} name={name} phase={phase}",
                                  rows_digest(pdf), self.expected[name])
        if traced and pdf is not None:
            rec.counters = self._counters(op, df, collect_idx, wall0, perf0,
                                          started, gc0)
            rec.counters["collect.rows"] = rec.rows
        return rec

    def _counters(self, op, df, collect_idx, wall0, perf0, started, gc0) -> dict:
        sc, tr = self.sc, self.tracer
        drain_listener_bus(sc)
        build = job_group_counts(sc, f"op{op}.build")
        ex = job_group_counts(sc, f"op{op}.exec")
        # the JVM job window inside the collect span is the exec layer;
        # the rest of the collect span is result transfer and conversion
        cspan = tr.spans[collect_idx]
        shift = perf0 - wall0
        clipped = [(max(lo + shift, cspan.start), min(hi + shift, cspan.end))
                   for lo, hi in ex["intervals"]]
        for lo, hi in merge_intervals(clipped):
            tr.record("exec", lo, hi, op, collect_idx)
        out = {
            "build.jobs": build["jobs"],
            "build.sidecar_bytes": dir_bytes(self.warehouse, since=started),
            "exec.jobs": ex["jobs"],
            "exec.stages": ex["stages"],
            "exec.tasks": ex["tasks"],
            "cache.persisted_rdds": persisted_rdds(sc),
            "jvm.gc_ms": gc_ms(sc) - gc0,
        }
        out.update({f"exec.{k}": v for k, v in plan_metrics(df._jdf).items()})
        return out


def setup_copy(spark, dst_root: str) -> str:
    """One set-up: land a fresh copy, register its tables as views and run
    a first statement over them (the session's first job pays the JVM's
    start-up JIT here, not in an op). Returns the copy's path."""
    import pyarrow.parquet as pq

    from tiflash_spark.catalog import register_views

    sf_dir = land_copy(dst_root)
    register_views(spark, sf_dir)
    want = pq.ParquetFile(os.path.join(sf_dir, "lineitem.parquet")).metadata.num_rows
    got = spark.sql("SELECT COUNT(*) AS n FROM lineitem").collect()[0].n
    if got != want:
        raise RuntimeError(f"set-up: lineitem has {got} rows, parquet says {want}")
    return sf_dir


def run_olap_cold(ctx, seed: int, seconds: int) -> RunData:
    """Three set-ups, then the mix's first pass in this JVM over the last
    copy (more passes, each over its own copy, for a larger --seconds)."""
    out = RunData()
    passes = max(1, round(seconds / PASS_S))
    plan = schedule(seed, passes)
    copies = []
    for rep in range(max(SETUPS, passes)):
        t0 = time.perf_counter()
        spark = ctx.session()  # started inside the first set-up only
        copies.append(setup_copy(spark, os.path.join(ctx.work, f"land{rep}")))
        out.setup_s.append(time.perf_counter() - t0)

    client = OlapClient(spark, ctx.tracer, ctx.warehouse)
    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    for order, sf_dir in zip(plan, copies[-passes:]):
        spark.catalog.clearCache()
        for name in order:
            out.records.append(client.run(name, sf_dir, "window"))
    out.window_s = time.perf_counter() - t0
    out.window_cpu_s = tree_cpu_s() - cpu0
    return out
