"""Spark-free tests of the benchmark's own arithmetic and plans.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime as dt
import decimal
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import etl, hostspeed  # noqa: E402
from perfbench.stats import Failures, digest, norm_value, tail  # noqa: E402
from perfbench.trace import covered, parse_metric, self_times  # noqa: E402
from perfbench.workloads import QUERY_MIX, pass_order, passes_for  # noqa: E402


# -- tail percentile ------------------------------------------------------

@pytest.mark.parametrize("n, rank, pct", [(11, 0, 9.09), (20, 9, 50.0), (30, 19, 66.67),
                                          (100, 89, 90.0), (1000, 989, 99.0)])
def test_tail_keeps_ten_samples_beyond(n, rank, pct):
    xs = list(range(n, 0, -1))  # unsorted input
    t = tail(xs)
    assert t == {"value": float(rank + 1), "rank": rank, "samples": n, "percentile": pct}
    assert sum(1 for x in xs if x > t["value"]) == 10


def test_tail_with_too_few_samples_is_the_maximum():
    t = tail([3.0, 1.0, 2.0])
    assert t["value"] == 3.0 and t["rank"] == 2 and t["samples"] == 3
    with pytest.raises(ValueError):
        tail([])


# -- digests --------------------------------------------------------------

def test_digest_ignores_row_and_column_order():
    rows = [(1, "a", 0.5), (2, "b", 1.25), (3, None, float("nan"))]
    a = digest(["k", "s", "x"], rows)
    b = digest(["x", "k", "s"], [(r[2], r[0], r[1]) for r in reversed(rows)])
    assert a == b and a["rows"] == 3 and a["columns"] == ["k", "s", "x"]


def test_digest_sees_value_changes_and_duplicates():
    base = digest(["k"], [(1,), (2,)])
    assert digest(["k"], [(1,), (3,)]) != base
    assert digest(["k"], [(1,), (1,), (2,)])["hash"] != base["hash"]


def test_float_normalisation_matches_the_oracle_comparison():
    assert norm_value(2.0) == "2.0" and norm_value(2) == "2"
    assert norm_value(float("nan")) == "NaN"
    assert norm_value(0.1 + 0.2) == repr(0.1 + 0.2)  # exact, not rounded
    assert norm_value(-0.0) == "-0.0"
    assert norm_value(decimal.Decimal("1.50")) == norm_value(decimal.Decimal("1.5"))
    assert norm_value([1.0, None]) == "[1.0,None]"


def test_utc_timestamps_normalise_to_naive():
    naive = dt.datetime(2024, 1, 2, 3, 4, 5)
    aware = naive.replace(tzinfo=dt.timezone.utc)
    assert norm_value(aware) == norm_value(naive)


# -- spans ----------------------------------------------------------------

def _span(name, start, end, parent=None):
    return {"name": name, "start": start, "end": end, "parent": parent, "op": "g"}


def test_self_time_subtracts_children():
    spans = [
        _span("op", 0.0, 10.0),
        _span("construct", 1.0, 4.0, 0),
        _span("action", 5.0, 9.0, 0),
        _span("load", 2.0, 3.0, 1),
    ]
    assert self_times(spans) == pytest.approx([3.0, 2.0, 4.0, 1.0])


def test_overlapping_children_count_once():
    assert covered([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (5.5, 5.7)]) == pytest.approx(4.0)


def test_parse_sql_metric_text():
    assert parse_metric("total (min, med, max (stageId: taskId))\n185 ms (0 ms, 1 ms, 6 ms)") == (0.185, "s")
    assert parse_metric("total (min, med, max)\n2.0 MiB (1.0 MiB, 1.0 MiB)") == (2.0 * 2**20, "bytes")
    assert parse_metric("1,234") == (1234.0, "count")


# -- failures -------------------------------------------------------------

def test_failures_count_raises_and_mismatches():
    f = Failures()
    f.record("q1", True)
    f.record("q2", False, "raised ValueError")
    f.record("q3", False, "digest mismatch")
    f.record("q4", True)
    assert (f.attempted, f.failed, f.share) == (4, 2, 0.5)
    assert f.reasons == ["q2: raised ValueError", "q3: digest mismatch"]
    assert Failures().share == 0.0


# -- seeded plans ---------------------------------------------------------

def test_query_order_is_seeded():
    a = pass_order(QUERY_MIX, 5)
    assert a == pass_order(QUERY_MIX, 5)
    assert a != pass_order(QUERY_MIX, 6)
    assert sorted(a) == sorted(QUERY_MIX)


def test_etl_plan_is_seeded_and_well_formed():
    p = etl.plan(9)
    assert p == etl.plan(9) and p != etl.plan(10)
    cuts = p["cuts"]
    assert cuts == sorted(cuts) and cuts[-1] == p["pool"] == etl.POOL
    assert len(cuts) == etl.N_APPENDS and len(p["upserts"]) == etl.N_UPSERTS
    for k, u in enumerate(p["upserts"]):
        assert 0 <= u["rem"] < u["mod"]
        assert u["ins_lo"] > p["pool"] and u["ins_hi"] - u["ins_lo"] + 1 == etl.INSERTS_PER_UPSERT
        if k:  # insert ranges never overlap
            assert u["ins_lo"] > p["upserts"][k - 1]["ins_hi"]


def test_passes_scale_with_seconds():
    assert passes_for("query_mix", 20) == 5
    assert passes_for("etl_incremental", 20) == 1
    assert passes_for("query_mix", 1) == 1


# -- host-speed scale -----------------------------------------------------

def test_scale_uses_the_median_probe_of_the_window():
    ref = hostspeed.REF_S
    samples = [[ref], [2 * ref], [2 * ref, 2 * ref], [9 * ref], [2 * ref], [ref], [ref, ref]]
    # operations 1..5 around operation 3: median 2*ref, the one slow probe ignored
    assert hostspeed.scale(samples, 3, window=2) == pytest.approx(0.5)
    # the window is cut at the ends of the list
    assert hostspeed.scale(samples, 0, window=2) == pytest.approx(0.5)
    assert hostspeed.scale(samples, 6, window=2) == pytest.approx(1.0)
    assert hostspeed.scale([[ref]], 0) == pytest.approx(1.0)


def test_probe_samples_follow_operation_time():
    every = hostspeed.EVERY_S
    assert hostspeed.samples_for(0.1 * every) == 1
    assert hostspeed.samples_for(1.2 * every) == 1
    assert hostspeed.samples_for(2.6 * every) == 3
