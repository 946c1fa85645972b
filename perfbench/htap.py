"""The htap_ingest workload: writes, snapshot SQL, lookups and background
merges against one range-segmented DeltaStore seeded from ``orders``.

Every read is checked against a Python model of the table that the
benchmark keeps from the batches it generated itself.
"""

from __future__ import annotations

import datetime
import os
import random
import sys
import time
import traceback
from dataclasses import dataclass

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
    tree_cpu_s,
)
from olap import DATA

SEGMENTS = 8
UPDATES, APPENDS, DELETES = 150, 50, 20  # rows per cycle
# maintain() folds the delta once it exceeds this many rows: with 220
# rows a cycle that is one compaction every third cycle, an epoch
DELTA_THRESHOLD = 600
EPOCH = 3
# Cycles per run = EPOCH * round(--seconds / EPOCH_S), at least one epoch:
# a fixed amount of work for a given --seconds. EPOCH_S is the nominal
# epoch on a 4-core x86 host.
EPOCH_S = 13.0
SETUPS = 3
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
FIRST_DAY = datetime.date(1992, 1, 1)

# the snapshot statement: a dashboard aggregate over an order-date range
REVENUE_SQL = (
    "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, "
    "SUM(o_custkey) AS sum_cust, ROUND(SUM(o_totalprice), 2) AS revenue, "
    "MAX(o_ingest_ver) AS last_ver FROM orders_rt "
    "WHERE o_orderdate >= DATE '{day}' GROUP BY o_orderstatus, o_orderpriority"
)
COLUMNS = ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
           "o_orderpriority", "o_ingest_ver")


def store_schema() -> str:
    from tiflash_spark.operators.mvcc import HANDLE

    return (f"{HANDLE} long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate date, o_orderpriority string, "
            "o_ingest_ver long")


# --------------------------------------------------------------------------
# the model


class Model:
    """handle -> row tuple (COLUMNS order) of the live snapshot."""

    def __init__(self, rows: dict[int, tuple]):
        self.rows = rows
        self.live = sorted(rows)  # ascending; recent handles at the end
        self.next_handle = self.live[-1] + 1

    @classmethod
    def from_orders(cls, path: str) -> Model:
        import pyarrow.parquet as pq

        t = pq.read_table(path).to_pydict()
        rows = {
            h: (c, s, p, d.date(), pr, 1)
            for h, c, s, p, d, pr in zip(
                t["o_orderkey"], t["o_custkey"], t["o_orderstatus"],
                t["o_totalprice"], t["o_orderdate"], t["o_orderpriority"])
        }
        return cls(rows)

    def apply(self, upserts: list[tuple], deletes: list[int]) -> None:
        for r in upserts:
            if r[0] not in self.rows:
                self.live.append(r[0])
            self.rows[r[0]] = r[1:]
        self.next_handle = max(self.next_handle, max(r[0] for r in upserts) + 1)
        gone = set(deletes)
        for h in gone:
            del self.rows[h]
        self.live = [h for h in self.live if h not in gone]
        self.live.sort()

    def snapshot_agg(self, day: datetime.date) -> dict[tuple, tuple]:
        acc: dict[tuple, list] = {}
        for c, s, p, d, pr, v in self.rows.values():
            if d >= day:
                a = acc.setdefault((s, pr), [0, 0, 0.0, 0])
                a[0] += 1
                a[1] += c
                a[2] += p
                a[3] = max(a[3], v)
        return {k: (n, sc, round(tp, 2), lv) for k, (n, sc, tp, lv) in acc.items()}

    def lookup(self, handles: list[int]) -> set[tuple]:
        return {(h,) + self.rows[h] for h in handles if h in self.rows}

    def changed_since(self, ver: int) -> set[tuple]:
        return {(h,) + r for h, r in self.rows.items() if r[5] >= ver}


# --------------------------------------------------------------------------
# the seeded cycle plan


@dataclass
class Cycle:
    version: int
    upserts: list[tuple]
    deletes: list[int]
    days: tuple[datetime.date, datetime.date]  # one snapshot statement each
    lookups: list[int]
    since: int


def _recent(rng: random.Random, live: list[int], taken: set[int]) -> int:
    """A live handle, skewed toward the most recent ones."""
    while True:
        i = len(live) - 1 - int(rng.expovariate(1.0 / 1500.0))
        if i >= 0 and live[i] not in taken:
            return live[i]


def plan_cycle(rng: random.Random, model: Model, version: int) -> Cycle:
    taken: set[int] = set()
    ups = []
    for _ in range(UPDATES):
        h = _recent(rng, model.live, taken)
        taken.add(h)
        c, _, _, d, pr, _ = model.rows[h]
        ups.append((h, c, rng.choice(STATUSES), round(rng.uniform(900, 500_000), 2),
                    d, pr, version))
    for i in range(APPENDS):
        h = model.next_handle + i
        ups.append((h, rng.randint(1, 1500), rng.choice(STATUSES),
                    round(rng.uniform(900, 500_000), 2),
                    FIRST_DAY + datetime.timedelta(days=rng.randrange(2400)),
                    rng.choice(PRIORITIES), version))
    dels = []
    for _ in range(DELETES):
        h = _recent(rng, model.live, taken)
        taken.add(h)
        dels.append(h)
    lookups = [_recent(rng, model.live, set()) for _ in range(10)]
    lookups += rng.sample(model.live, 5) + dels[:3]
    lookups += [model.next_handle + APPENDS + 10, -1]
    days = tuple(FIRST_DAY + datetime.timedelta(days=rng.randrange(2400)) for _ in range(2))
    return Cycle(version, ups, dels, days, lookups, max(2, version - 2))


def schedule(seed: int, model: Model, cycles: int) -> list[Cycle]:
    """The whole seeded cycle plan; applies each cycle to ``model`` (a
    throwaway copy is fine) so later cycles see earlier writes."""
    rng = random.Random(seed)
    out = []
    for c in range(cycles):
        cyc = plan_cycle(rng, model, version=2 + c)
        model.apply(cyc.upserts, cyc.deletes)
        out.append(cyc)
    return out


# --------------------------------------------------------------------------
# the client


def _rows_set(rows) -> set[tuple]:
    from tiflash_spark.operators.mvcc import HANDLE

    return {(r[HANDLE],) + tuple(r[c] for c in COLUMNS) for r in rows}


def _revenue_matches(rows, want: dict[tuple, tuple]) -> bool:
    got = {(r.o_orderstatus, r.o_orderpriority): (r.n, r.sum_cust, r.revenue, r.last_ver)
           for r in rows}
    if got.keys() != want.keys():
        return False
    return all(
        g[0] == w[0] and g[1] == w[1] and g[3] == w[3] and abs(g[2] - w[2]) < 0.011
        for g, w in ((got[k], want[k]) for k in want)
    )


class HtapClient:
    def __init__(self, spark, tracer: Tracer, store, model: Model):
        self.spark, self.sc, self.tracer = spark, spark.sparkContext, tracer
        self.store, self.model = store, model
        self.next_op = 0
        self._pending = None  # a traced collect's (op, span, wall0, perf0, rows)

    def _op(self, kind: str, phase: str, body, check=None) -> OpRecord:
        """Time one op. ``body(op)`` returns (result, counters); ``check``
        judges the result after the op span closes, as do the JVM
        counters of a traced run."""
        op = self.next_op
        self.next_op += 1
        traced = self.tracer.enabled
        gc0 = gc_ms(self.sc) if traced else 0
        t0 = time.perf_counter()
        result, counters, ok = None, {}, False
        try:
            with self.tracer.span("op", op):
                result, counters = body(op)
            ok = True
        except Exception:
            print(f"FAILED op={op} name={kind} phase={phase}\n"
                  f"{traceback.format_exc(limit=3)}", file=sys.stderr)
        finally:
            if traced:
                self.sc._jsc.clearJobGroup()
        rec = OpRecord(op, kind, phase, time.perf_counter() - t0, ok, counters=counters)
        if traced:
            counters["jvm.gc_ms"] = gc_ms(self.sc) - gc0
            counters["cache.persisted_rdds"] = persisted_rdds(self.sc)
        if self._pending is not None:
            counters.update(self._exec_counters(*self._pending))
            self._pending = None
        if ok and check is not None and not check(result):
            rec.ok = False
            print(f"MISMATCH op={op} name={kind} phase={phase}: rows differ "
                  "from the model", file=sys.stderr)
        return rec

    def _collect(self, op: int, df) -> list:
        """Collect under the op's exec job group."""
        tr = self.tracer
        if tr.enabled:
            self.sc.setJobGroup(f"op{op}.exec", "collect")
        with tr.span("collect", op) as idx:
            wall0, perf0 = time.time(), time.perf_counter()
            rows = df.collect()
        if tr.enabled:
            self._pending = (op, idx, wall0, perf0, len(rows))
        return rows

    def _exec_counters(self, op, idx, wall0, perf0, nrows) -> dict:
        """The JVM job window of a collect becomes its exec span."""
        tr = self.tracer
        drain_listener_bus(self.sc)
        ex = job_group_counts(self.sc, f"op{op}.exec")
        cs = tr.spans[idx]
        shift = perf0 - wall0
        clipped = [(max(lo + shift, cs.start), min(hi + shift, cs.end))
                   for lo, hi in ex["intervals"]]
        for lo, hi in merge_intervals(clipped):
            tr.record("exec", lo, hi, op, idx)
        return {"exec.jobs": ex["jobs"], "exec.stages": ex["stages"],
                "exec.tasks": ex["tasks"], "collect.rows": nrows}

    def snapshot_query(self, phase: str, version: int, sql: str, check) -> OpRecord:
        """as_view at ``version``, then the statement through run_sql."""
        from tiflash_spark.sources.admin_sql import run_sql

        def body(op):
            tr = self.tracer
            with tr.span("delta_store.as_view", op):
                self.store.as_view("orders_rt", ts=version)
            with tr.span("admin_sql.run_sql", op):
                df = run_sql(self.spark, sql)
            return self._collect(op, df), {}

        return self._op("snapshot_sql", phase, body, check)

    def revenue(self, phase: str, version: int, day) -> OpRecord:
        want = self.model.snapshot_agg(day)
        return self.snapshot_query(phase, version, REVENUE_SQL.format(day=day.isoformat()),
                                   lambda rows: _revenue_matches(rows, want))

    def read_handles(self, phase: str, version: int, handles: list[int]) -> OpRecord:
        want = self.model.lookup(handles)

        def body(op):
            with self.tracer.span("delta_store.read", op):
                df = self.store.read_handles(handles, ts=version)
            return self._collect(op, df), {}

        return self._op("read_handles", phase, body, lambda rows: _rows_set(rows) == want)

    def full_snapshot(self, phase: str, version: int) -> OpRecord:
        want = {(h,) + r for h, r in self.model.rows.items()}

        def body(op):
            with self.tracer.span("delta_store.read", op):
                df = self.store.read(version)
            return self._collect(op, df), {}

        return self._op("full_snapshot", phase, body, lambda rows: _rows_set(rows) == want)

    def read_where(self, phase: str, version: int, since: int) -> OpRecord:
        want = self.model.changed_since(since)

        def body(op):
            with self.tracer.span("delta_store.read", op):
                df = self.store.read_where("o_ingest_ver", lo=since, ts=version)
            prof = self.store.last_scan_profile or {}
            total = prof.get("segments_total") or 0
            ratio = prof.get("segments_scanned", 0) / total if total else 1.0
            return self._collect(op, df), {"delta_store.segments_scanned_ratio": ratio}

        return self._op("read_where", phase, body, lambda rows: _rows_set(rows) == want)

    def write(self, phase: str, version: int, rows: list, delete: bool) -> OpRecord:
        """Upsert or delete full rows (a delete batch carries the row it
        deletes, as a replicated delete does)."""
        kind = "write_delete" if delete else "write_upsert"
        traced = self.tracer.enabled
        before = dir_bytes(self.store.delta_path()) if traced else 0

        def body(op):
            tr = self.tracer
            with tr.span("client.batch", op):
                df = self.spark.createDataFrame(rows, store_schema())
            with tr.span("delta_store.write", op):
                self.store.write_batch(df, version=version, delete=delete)
            return None, {"rows": len(rows)}

        rec = self._op(kind, phase, body)
        if traced:
            rec.counters["delta_store.bytes_written"] = (
                dir_bytes(self.store.delta_path()) - before)
        return rec

    def maintain(self, phase: str, version: int) -> OpRecord:
        def body(op):
            with self.tracer.span("delta_store.maintain", op):
                rep = self.store.maintain(version, delta_threshold=DELTA_THRESHOLD)
            return None, {"delta_store.compactions": int(rep["compacted"]),
                          "delta_store.segments_rewritten": rep["segments_rewritten"]}

        return self._op("maintain", phase, body)

    def cycle(self, cyc: Cycle) -> list[OpRecord]:
        v = cyc.version
        dead = [(h,) + self.model.rows[h][:-1] + (v,) for h in cyc.deletes]
        out = [self.write("window", v, cyc.upserts, delete=False),
               self.write("window", v, dead, delete=True)]
        self.model.apply(cyc.upserts, cyc.deletes)
        out.extend(self.revenue("window", v, day) for day in cyc.days)
        out.append(self.read_handles("window", v, cyc.lookups))
        out.append(self.read_where("window", v, cyc.since))
        out.append(self.maintain("window", v))
        return out


def seed_store(spark, work: str, rep: int):
    """Land a fresh copy of orders and build the segmented, zone-mapped
    store from it."""
    from pyspark.sql import functions as F

    from tiflash_spark.catalog import load_table
    from tiflash_spark.operators.mvcc import HANDLE
    from tiflash_spark.sources.delta_store import DeltaStore

    src = os.path.join(work, f"land{rep}", "sf0.01")
    os.makedirs(src)
    with open(os.path.join(DATA, "orders.parquet"), "rb") as fh, \
            open(os.path.join(src, "orders.parquet"), "wb") as out:
        out.write(fh.read())
    store = DeltaStore(spark, os.path.join(work, f"store{rep}"))
    seed = load_table(spark, src, "orders").select(
        F.col("o_orderkey").alias(HANDLE), "o_custkey", "o_orderstatus",
        "o_totalprice", F.col("o_orderdate").cast("date").alias("o_orderdate"),
        "o_orderpriority", F.lit(1).cast("long").alias("o_ingest_ver"))
    store.write_batch(seed, version=1)
    store.compact_range_segments(ts=1, num_segments=SEGMENTS)
    store.build_zonemap(["o_ingest_ver", "o_totalprice"])
    return store


def run_htap_ingest(ctx, seed: int, seconds: int) -> RunData:
    """Three set-ups, each seeding a fresh store, then the seeded cycles
    over the last store."""
    out = RunData()
    cycles = EPOCH * max(1, round(seconds / EPOCH_S))
    model = Model.from_orders(os.path.join(DATA, "orders.parquet"))
    plan = schedule(seed, Model(dict(model.rows)), cycles)
    client = None
    for rep in range(SETUPS):
        t0 = time.perf_counter()
        spark = ctx.session()  # started inside the first set-up only
        store = seed_store(spark, ctx.work, rep)
        if client is None:
            client = HtapClient(spark, ctx.tracer, store, model)
        client.store = store
        # first statement and first reads: JIT and plan caches warm here
        out.records.append(client.revenue(f"setup{rep}", 1, FIRST_DAY))
        out.records.append(client.read_handles(f"setup{rep}", 1, plan[0].lookups))
        out.records.append(client.read_where(f"setup{rep}", 1, 2))
        out.setup_s.append(time.perf_counter() - t0)

    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    for cyc in plan:
        out.records.extend(client.cycle(cyc))
    out.window_s = time.perf_counter() - t0
    out.window_cpu_s = tree_cpu_s() - cpu0

    # untimed: final full-snapshot check, store size and space amplification
    out.records.append(client.full_snapshot("final", plan[-1].version))
    snap = os.path.join(ctx.work, "snapshot_once")
    store.read(plan[-1].version).write.parquet(snap)
    out.store = {
        "files": sum(f.endswith(".parquet") for _, _, fs in os.walk(store.path) for f in fs),
        "bytes": dir_bytes(store.path),
        "snapshot_bytes": dir_bytes(snap),
    }
    return out
