"""SemDeDup-style semantic pruning (operators/similarity.py): the
``ns_semdedup_prune`` DuckDB differential at two SFs and on randomized
embeddings, and the per-cluster drop budget's invariants."""

from __future__ import annotations

import pytest
from conftest import SF_CORRECT, SF_SMOKE

from duckdb_parquet_parser_spark.operators.similarity import (
    ORACLES,
    SEMDEDUP_DROP_PCT,
    q_ns_semdedup_prune,
)
from duckdb_parquet_parser_spark.testing import compare_query


@pytest.mark.parametrize(
    "sf_dir", [SF_SMOKE, SF_CORRECT]
)
def test_semdedup_prune_matches_oracle(spark, sf_dir):
    res = compare_query(
        spark, sf_dir, "ns_semdedup_prune", q_ns_semdedup_prune,
        ORACLES["ns_semdedup_prune"],
    )
    assert res.ok, res


def test_semdedup_drop_budget_semantics(spark, sf_smoke):
    """Invariants the hash doesn't explain: within each cluster exactly
    ``n * PCT // 100`` rows are dropped, the dropped set is the
    prototypicality HEAD (every dropped cos >= every kept cos, with the
    deterministic vec_id tiebreak), and every vector appears exactly
    once."""
    rows = q_ns_semdedup_prune(spark, sf_smoke).collect()
    assert len({r["vec_id"] for r in rows}) == len(rows)
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append(r)
    saw_nontrivial = 0
    for cl, rs in by_cluster.items():
        n = len(rs)
        n_drop = n * SEMDEDUP_DROP_PCT // 100
        dropped = [r for r in rs if not r["kept"]]
        assert len(dropped) == n_drop, (cl, n, len(dropped))
        assert all(r["n_drop"] == n_drop for r in rs)
        rs.sort(key=lambda r: (-r["cos"], r["vec_id"]))
        # the drop set is exactly the head of the prototypicality order
        assert [not r["kept"] for r in rs] == [i < n_drop for i in range(n)]
        if n_drop:
            saw_nontrivial += 1
    # the fixture must actually exercise the budget (clusters of >= 4)
    assert saw_nontrivial > 0


@pytest.mark.parametrize("seed", [77, 5153])
def test_semdedup_on_random_embeddings(spark, tmp_path, seed):
    """Randomized embeddings-family pressure: zero vectors (cos pinned
    0), exact-duplicate cliques (round-6 cos ties broken by vec_id),
    tiny/large magnitudes — the k-means base is already certified on
    this family; the prune must stay hash-identical on top of it."""
    import test_randomized_embeddings as emb

    sf_dir = emb._make_fixture(tmp_path, seed)
    res = compare_query(
        spark,
        sf_dir,
        "ns_semdedup_prune",
        q_ns_semdedup_prune,
        ORACLES["ns_semdedup_prune"],
    )
    assert res.ok, res
