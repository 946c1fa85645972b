"""Turn a workload's records and spans into the named metrics.

Every metric is ``name -> (value, unit, samples)``.
"""

from __future__ import annotations

from harness import (
    RunData,
    Tracer,
    geomean,
    median,
    op_coverage,
    p90_or_none,
    self_times,
)

QUERY_OPS = {"olap_cold": None, "htap_ingest": {"snapshot_sql"}}  # None: every op
LOOKUP_OPS = {"read_handles", "read_where"}
WRITE_OPS = {"write_upsert", "write_delete"}


def _window(data: RunData) -> list:
    return [r for r in data.records if r.phase == "window"]


def _query_latencies(workload: str, data: RunData) -> list[float]:
    kinds = QUERY_OPS[workload]
    return [r.latency_s for r in _window(data) if kinds is None or r.name in kinds]


def _query_medians(workload: str, data: RunData) -> list[float]:
    """Each query's median latency over the window: one per mix query on
    olap_cold, one over all snapshot statements on htap_ingest."""
    kinds = QUERY_OPS[workload]
    by_name: dict[str, list[float]] = {}
    for r in _window(data):
        if kinds is None or r.name in kinds:
            by_name.setdefault(r.name, []).append(r.latency_s)
    return [median(v) for v in by_name.values()]


def end_to_end(workload: str, data: RunData, peak_rss_mb: float) -> dict:
    q = _query_latencies(workload, data)
    n = len(_window(data))
    return {
        "setup_s": (median(data.setup_s), "s", len(data.setup_s)),
        "ops_per_s": (n / data.window_s, "1/s", n),
        "query_geomean_s": (geomean(_query_medians(workload, data)), "s", len(q)),
        "cpu_ms_per_op": (1000.0 * data.window_cpu_s / n, "ms", n),
        "peak_rss_mb": (peak_rss_mb, "MB", 1),
    }


def htap_figures(data: RunData) -> dict:
    """The htap-only end-to-end figures (printed, not gated: every gated
    metric must exist on every workload)."""
    win = _window(data)
    look = [r.latency_s for r in win if r.name in LOOKUP_OPS]
    writes = [r for r in win if r.name in WRITE_OPS]
    maint = [r for r in win if r.name == "maintain"]
    rows = sum(r.counters.get("rows", 0) for r in writes)
    busy = sum(r.latency_s for r in writes + maint)
    snap = data.store.get("snapshot_bytes") or 0
    return {
        "lookup_p50_s": (median(look), "s", len(look)),
        "lookup_p90_s": (p90_or_none(look), "s", len(look)),
        "write_p50_s": (median([r.latency_s for r in writes]), "s", len(writes)),
        "write_p90_s": (p90_or_none([r.latency_s for r in writes]), "s", len(writes)),
        "ingest_rows_per_s": (rows / busy if busy else 0.0, "rows/s", len(writes) + len(maint)),
        "space_amp": (data.store.get("bytes", 0) / snap if snap else 0.0, "ratio", 1),
    }


def _mean(records, key: str) -> tuple[float, int]:
    vals = [r.counters[key] for r in records if key in r.counters]
    return (sum(vals) / len(vals) if vals else 0.0), len(vals)


def _layer_s(tracer: Tracer, records, name: str) -> tuple[float, int]:
    """Self seconds of span ``name`` per op that has it, over ``records``."""
    ops = {r.op for r in records}
    have = {s.op for s in tracer.spans if s.name == name and s.op in ops}
    total = self_times(tracer.spans, ops).get(name, 0.0)
    return (total / len(have) if have else 0.0), len(have)


def layer_metrics(workload: str, data: RunData, tracer: Tracer, host: dict) -> dict:
    win = _window(data)
    out: dict = {}

    def put(name, pair, unit):
        out[name] = (pair[0], unit, pair[1])

    for layer in ("build", "plan", "exec", "collect"):
        put(f"{layer}.s_per_op", _layer_s(tracer, win, layer), "s")
    put("build.jobs_per_op", _mean(win, "build.jobs"), "count")
    put("build.sidecar_bytes_per_op", _mean(win, "build.sidecar_bytes"), "B")
    for k in ("jobs", "stages", "tasks"):
        put(f"exec.{k}_per_op", _mean(win, f"exec.{k}"), "count")
    for k in ("scan", "shuffle", "spill"):
        put(f"exec.{k}_bytes_per_op", _mean(win, f"exec.{k}_bytes"), "B")
    for k in ("scan", "agg", "join", "sort"):
        put(f"exec.{k}_ms_per_op", _mean(win, f"exec.{k}_ms"), "ms")
    put("collect.rows_per_op", _mean(win, "collect.rows"), "count")
    put("cache.persisted_rdds_after_op", _mean(win, "cache.persisted_rdds"), "count")
    put("jvm.gc_ms_per_op", _mean(win, "jvm.gc_ms"), "ms")

    put("setup.first_s", (data.setup_s[0], 1), "s")  # carries session start and JIT

    put("admin_sql.run_sql_s_per_op", _layer_s(tracer, win, "admin_sql.run_sql"), "s")
    put("delta_store.as_view_s_per_op", _layer_s(tracer, win, "delta_store.as_view"), "s")
    put("delta_store.write_s_per_op", _layer_s(tracer, win, "delta_store.write"), "s")
    writes = [r for r in win if r.name in WRITE_OPS]
    rows = sum(r.counters.get("rows", 0) for r in writes)
    written = sum(r.counters.get("delta_store.bytes_written", 0) for r in writes)
    out["delta_store.bytes_written_per_row"] = (written / rows if rows else 0.0, "B", len(writes))
    put("delta_store.maintain_s_per_op", _layer_s(tracer, win, "delta_store.maintain"), "s")
    maint = [r for r in win if r.name == "maintain"]
    for k in ("compactions", "segments_rewritten"):
        out[f"delta_store.{k}"] = (
            sum(r.counters.get(f"delta_store.{k}", 0) for r in maint), "count", len(maint))
    put("delta_store.read_s_per_op", _layer_s(tracer, win, "delta_store.read"), "s")
    put("delta_store.segments_scanned_ratio", _mean(win, "delta_store.segments_scanned_ratio"),
        "ratio")
    out["delta_store.files"] = (data.store.get("files", 0), "count", 1)
    out["delta_store.store_bytes"] = (data.store.get("bytes", 0), "B", 1)
    for name, (v, unit, n) in htap_figures(data).items():
        if not name.endswith("p90_s"):
            out[f"htap.{name}"] = (v, unit, n)

    cov = op_coverage(tracer.spans, {r.op for r in win})
    out["trace.ops_per_s"] = (len(win) / data.window_s, "1/s", len(win))
    out["trace.op_coverage_min"] = (min(cov) if cov else 0.0, "ratio", len(cov))
    out["host.steal_pct"] = (host["steal_pct"], "%", 1)
    out["host.calib_ms"] = ((host["calib_before_ms"] + host["calib_after_ms"]) / 2, "ms", 2)
    return out


def print_readout(args, data: RunData, e2e: dict, layers: dict, host: dict,
                  rss: dict) -> None:
    failed = sum(not r.ok for r in data.records)
    print(f"# perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}")
    print(f"# set-ups (s, the first with session start): "
          f"{', '.join(f'{s:.3f}' for s in data.setup_s)}; window {data.window_s:.3f} s")
    rows = dict(e2e)
    rows["failed_ratio"] = (failed / len(data.records), "ratio", len(data.records))
    if args.workload == "htap_ingest":
        rows.update(htap_figures(data))
    q = _query_latencies(args.workload, data)
    rows["query_p50_s"] = (median(q), "s", len(q))
    rows["query_p90_s"] = (p90_or_none(q), "s", len(q))
    rows.update(layers)
    rows["host.steal_pct"] = (host["steal_pct"], "%", 1)
    rows["host.calib_before_ms"] = (host["calib_before_ms"], "ms", 1)
    rows["host.calib_after_ms"] = (host["calib_after_ms"], "ms", 1)
    rows["peak_rss_mb.client"] = (rss["client"], "MB", 1)
    rows["peak_rss_mb.jvm"] = (rss["jvm"], "MB", 1)
    for name, (v, unit, n) in rows.items():
        shown = "n/a (p90 needs 10 samples beyond it)" if v is None else f"{v:.6g}"
        print(f"{name:40s} {shown:>14s} {unit:8s} n={n}")
