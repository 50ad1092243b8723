"""TPC-H completers Q6/Q9/Q12/Q14 (operators/relational_q9.py). The
query-vs-oracle differential runs with the whole registered surface in
tests/test_oracle_parity.py; this file keeps the shapes' OWN locks —
the plan contracts and the randomized NULL/dangling-key fixtures."""

from __future__ import annotations

import pytest

from duckdb_parquet_parser_spark.operators.relational_q9 import (
    ORACLES,
    QUERIES,
    q_rel_filter_agg_q6,
    q_rel_profit_q9,
)
from duckdb_parquet_parser_spark.testing import compare_query


def test_q6_predicates_reach_the_scan(spark, sf_smoke):
    """Q6's whole value is the scan shape: the date window, discount
    band and quantity cap must all be in the parquet scan's
    PushedFilters, and the aggregate must have a map-side partial."""
    from duckdb_parquet_parser_spark.plans import formatted_plan

    plan = formatted_plan(q_rel_filter_agg_q6(spark, sf_smoke))
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount" in plan
    assert "LessThanOrEqual(l_discount" in plan
    assert "LessThan(l_quantity" in plan
    assert "partial_sum" in plan
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree and "Window" not in tree


def test_q9_window_plan_shape(spark, sf_smoke):
    """Q9's scale contract: the derived supply cost is a window min
    (ONE composite-key exchange of the fact rows — not an
    aggregate-then-join-back, which costs a second exchange + a
    SortMergeJoin); the p_name filter reaches the part scan; at most
    two non-broadcast exchanges total (window + final group)."""
    from duckdb_parquet_parser_spark.plans import formatted_plan

    plan = formatted_plan(q_rel_profit_q9(spark, sf_smoke))
    tree = plan.split("\n\n")[0]
    assert "SortMergeJoin" not in tree
    assert "Window" in tree
    assert "StringContains(p_name" in plan or "Contains(p_name" in plan
    nbe = [
        ln for ln in tree.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln and "Reused" not in ln
    ]
    assert len(nbe) <= 2, nbe


@pytest.mark.parametrize("seed", [44, 5150])
def test_tpch_completers_on_random_fixtures(spark, tmp_path, seed):
    """The four shapes under randomized NULL/dangling-key pressure
    (the registered-relational discipline): reuse the relational
    family's generator — NULL prices/discounts/quantities/dates,
    dangling order and part keys, month-windows that can be empty or
    all-zero."""
    import test_randomized_relational as rel

    sf_dir = rel._make_fixture(tmp_path, seed)
    for name in (
        "rel_filter_agg_q6",
        "rel_priority_mix_q12",
        "rel_promo_share_q14",
        "rel_profit_q9",
    ):
        res = compare_query(spark, sf_dir, name, QUERIES[name], ORACLES[name])
        assert res.ok, res
