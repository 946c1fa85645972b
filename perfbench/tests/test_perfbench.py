"""Self-tests of the benchmark's own code.

    python3 -m pytest perfbench/tests -q                       # fast checks
    python3 -m pytest perfbench/tests -q -m "slow or not slow"  # + two traced runs per workload

The slow test runs the benchmark itself (about four minutes on 4 cores).
"""

from __future__ import annotations

import datetime
import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import harness  # noqa: E402
import htap  # noqa: E402
import olap  # noqa: E402
from harness import Span  # noqa: E402


def _model() -> htap.Model:
    return htap.Model.from_orders(os.path.join(olap.DATA, "orders.parquet"))


def test_olap_schedule_follows_seed():
    a, b = olap.schedule(7, 3), olap.schedule(7, 3)
    assert a == b
    assert all(sorted(p) == sorted(olap.MIX) for p in a)
    assert olap.schedule(8, 3) != a
    assert olap.schedule(8, 3)[0] == a[0] == olap.MIX  # the first pass is fixed


def test_htap_schedule_follows_seed():
    a = htap.schedule(7, _model(), 4)
    assert a == htap.schedule(7, _model(), 4)
    assert htap.schedule(8, _model(), 4) != a


def test_htap_batches_never_touch_a_handle_twice():
    for cyc in htap.schedule(3, _model(), 8):
        handles = [r[0] for r in cyc.upserts] + cyc.deletes
        assert len(handles) == len(set(handles))
        assert len(cyc.upserts) == htap.UPDATES + htap.APPENDS


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span("op", 0.0, 10.0, 1, None),
        Span("build", 0.0, 4.0, 1, 0),
        Span("collect", 5.0, 10.0, 1, 0),
        Span("exec", 6.0, 8.0, 1, 2),
        Span("exec", 7.0, 9.0, 1, 2),  # overlaps the first exec span
    ]
    st = harness.self_times(spans)
    assert st["op"] == pytest.approx(1.0)
    assert st["build"] == pytest.approx(4.0)
    assert st["collect"] == pytest.approx(2.0)  # 5 s minus the 3 s exec union
    assert st["exec"] == pytest.approx(4.0)  # spans are summed as recorded
    assert harness.op_coverage(spans) == [pytest.approx(0.9)]
    assert harness.self_times(spans, ops={2}) == {}


def test_union_length_merges_overlaps():
    assert harness.union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    assert harness.merge_intervals([(5, 6), (0, 2), (1, 3)]) == [(0, 3), (5, 6)]


def test_wrong_olap_rows_are_flagged(capsys):
    good = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    want = olap.rows_digest(good)
    assert olap.rows_digest(good.iloc[::-1]) == want  # order does not matter
    assert olap.check_digest("op=0 name=t", olap.rows_digest(good), want)
    bad = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    assert not olap.check_digest("op=1 name=t", olap.rows_digest(bad), want)
    assert "MISMATCH op=1 name=t" in capsys.readouterr().err
    assert olap.rows_digest(good.iloc[:1]) != want


def test_wrong_htap_rows_are_flagged():
    from pyspark.sql import Row

    from tiflash_spark.operators.mvcc import HANDLE

    model = htap.Model({1: (7, "O", 10.0, datetime.date(1995, 1, 1), "2-HIGH", 1),
                        2: (8, "F", 20.0, datetime.date(1996, 1, 1), "5-LOW", 3)})

    def row(h, price):
        c, s, _, d, pr, v = model.rows[h]
        return Row(**{HANDLE: h, "o_custkey": c, "o_orderstatus": s,
                      "o_totalprice": price, "o_orderdate": d,
                      "o_orderpriority": pr, "o_ingest_ver": v})

    assert htap._rows_set([row(1, 10.0), row(2, 20.0)]) == model.lookup([1, 2, 99])
    assert htap._rows_set([row(1, 10.0), row(2, 21.0)]) != model.lookup([1, 2])
    assert htap._rows_set([row(2, 20.0)]) == model.changed_since(2)

    want = model.snapshot_agg(datetime.date(1990, 1, 1))
    agg = [Row(o_orderstatus="O", o_orderpriority="2-HIGH", n=1, sum_cust=7,
               revenue=10.0, last_ver=1),
           Row(o_orderstatus="F", o_orderpriority="5-LOW", n=1, sum_cust=8,
               revenue=20.0, last_ver=3)]
    assert htap._revenue_matches(agg, want)
    assert not htap._revenue_matches(agg[:1], want)
    assert not htap._revenue_matches([agg[0], Row(**{**agg[1].asDict(), "n": 2})], want)


def test_model_apply_upserts_and_deletes():
    model = _model()
    n = len(model.rows)
    cyc = htap.schedule(5, htap.Model(dict(model.rows)), 1)[0]
    model.apply(cyc.upserts, cyc.deletes)
    assert len(model.rows) == n + htap.APPENDS - htap.DELETES
    assert all(h not in model.rows for h in cyc.deletes)
    assert model.live == sorted(model.rows)


COUNTS = ("build.jobs_per_op", "exec.jobs_per_op", "exec.stages_per_op",
          "exec.tasks_per_op", "delta_store.bytes_written_per_row",
          "delta_store.compactions", "delta_store.segments_rewritten")


def _traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "30", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, out.stderr[-2000:]
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.slow
@pytest.mark.parametrize("workload", ["olap_cold", "htap_ingest"])
def test_same_seed_repeats_counts(workload):
    a, b = _traced(workload, 3), _traced(workload, 3)
    assert {k: a[k] for k in COUNTS} == {k: b[k] for k in COUNTS}
    assert a["trace.op_coverage_min"] >= 0.9 and b["trace.op_coverage_min"] >= 0.9
