"""Curation-operator gates (operators/curation.py): every registered
query's DuckDB differential at two SFs and the structural invariants
the hash alone doesn't explain — per-source caps, the lineage's stages
and incremental clusters. The lineage's differentials and the
``span_scrub`` helper's tests are in test_pending_r15.py."""

from __future__ import annotations

import os

import pytest
from conftest import SF_CORRECT, SF_SMOKE

from duckdb_parquet_parser_spark.operators.curation import (
    ORACLES,
    QUERIES,
    SOURCE_CAP,
    q_ns_cc_incremental,
    q_ns_curation_lineage,
    q_ns_source_cap,
)
from duckdb_parquet_parser_spark.testing import compare_query


# ns_curation_lineage's differential runs in test_pending_r15.py
@pytest.mark.parametrize(
    "name", sorted(n for n in QUERIES if n != "ns_curation_lineage")
)
@pytest.mark.parametrize(
    "sf_dir", [SF_SMOKE, SF_CORRECT]
)
def test_curation_query_matches_oracle(spark, name, sf_dir):
    res = compare_query(spark, sf_dir, name, QUERIES[name], ORACLES[name])
    assert res.ok, res


def test_source_cap_structure(spark, sf_smoke):
    """Structural invariants the hash alone doesn't explain: every
    source keeps AT MOST the cap; a source with fewer docs than the cap
    keeps them all; ranks are dense 1..n within each source."""
    rows = q_ns_source_cap(spark, sf_smoke).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    assert by_src
    for src, rs in by_src.items():
        kept = [r for r in rs if r["kept"]]
        assert len(kept) == min(SOURCE_CAP, len(rs)), src
        assert sorted(r["src_rank"] for r in rs) == list(
            range(1, len(rs) + 1)
        ), src
        # the kept set is exactly the rank prefix
        assert {r["src_rank"] for r in kept} == set(
            range(1, len(kept) + 1)
        ), src


def test_skew_safe_keepers_equivalent_to_window_variant(spark, sf_smoke):
    """The salted two-phase cap must return EXACTLY the full-window
    variant's keepers with identical ranks — the docstring's pruning
    argument (a row beaten k times in its own salt bucket can't be a
    global keeper), checked end-to-end."""
    from duckdb_parquet_parser_spark.operators.curation import (
        per_source_keepers,
    )

    full = q_ns_source_cap(spark, sf_smoke)
    want = {
        (r["doc_id"], r["source"], r["src_rank"])
        for r in full.filter("kept").collect()
    }
    base = full.select("doc_id", "source", "logit_micro")
    got = {
        (r["doc_id"], r["source"], r["src_rank"])
        for r in per_source_keepers(base, SOURCE_CAP).collect()
    }
    assert got == want
    # and on a deliberately skewed frame: one megasource, salts do work
    import pyspark.sql.functions as F

    skewed = base.withColumn(
        "source", F.when(F.col("doc_id") % 5 != 0, "mega").otherwise("rest")
    )
    w = {
        (r["doc_id"], r["src_rank"])
        for r in per_source_keepers(skewed, 7).collect()
        if r["source"] == "mega"
    }
    # exact reference: sort driver-side
    rows = sorted(
        ((r["logit_micro"], r["doc_id"]) for r in skewed.filter(
            "source = 'mega'").collect()),
        key=lambda t: (-t[0], t[1]),
    )[:7]
    assert w == {(doc, i + 1) for i, (_, doc) in enumerate(rows)}


def test_lineage_stages_fire(spark, sf_correct):
    """The lineage's stages actually discriminate on the fixture (a
    never-firing stage certifies nothing). 'kept', 'quality',
    'contaminated' and 'budget' fire at sf0.01; 'duplicate' and
    'scrubbed_empty' fire at sf0.1 (16-token pure-boilerplate docs
    scrub to '' and near-identical docs collide on the scrubbed
    fingerprint there); 'null_text' is pinned by the randomized-docs
    differential in test_pending_r15.py."""
    rows = q_ns_curation_lineage(spark, sf_correct).collect()
    stages = {r["stage"] for r in rows}
    assert {"kept", "quality", "contaminated", "budget"} <= stages
    stages_01 = {
        r["stage"]
        for r in q_ns_curation_lineage(
            spark, os.path.join(os.path.dirname(sf_correct), "sf0.1")
        ).collect()
    }
    assert {"duplicate", "scrubbed_empty"} <= stages_01


def test_cc_incremental_equals_full_recompute(spark, sf_smoke):
    """Merge ≡ recompute, Spark-vs-Spark (the oracle already proves it
    vs DuckDB's closure; this pins the two SPARK pipelines — the
    incremental star+batch derivation and the certified full-graph
    ns_dedup_components — to the identical labeling, so a drift in
    either surfaces without a DuckDB run)."""
    from duckdb_parquet_parser_spark.operators.dedup import (
        q_ns_dedup_components,
    )

    inc = {
        (r["doc_id"], r["component"], r["cluster_size"], r["keep"])
        for r in q_ns_cc_incremental(spark, sf_smoke).collect()
    }
    full = {
        (r["doc_id"], r["component"], r["cluster_size"], r["keep"])
        for r in q_ns_dedup_components(spark, sf_smoke).collect()
    }
    assert inc == full and inc


def test_cc_incremental_batch_split_is_real(spark, sf_smoke):
    """The fixture must actually exercise the merge: the batch slice
    carries edges (otherwise the query degenerates to relabeling), and
    at least one merged component contains BOTH corpus and batch docs
    (a corpus↔new edge merged clusters across the split)."""
    from duckdb_parquet_parser_spark.operators.dedup import (
        INCR_MOD,
        INCR_REM,
    )

    rows = q_ns_cc_incremental(spark, sf_smoke).collect()
    comps: dict = {}
    for r in rows:
        comps.setdefault(r["component"], set()).add(
            r["doc_id"] % INCR_MOD == INCR_REM
        )
    assert any(v == {True, False} for v in comps.values())
    assert any(True in v for v in comps.values())


@pytest.mark.parametrize("seed", [88, 5154])
def test_cc_incremental_on_random_docs(spark, tmp_path, seed):
    """Randomized duplicate-graph pressure (the components family's own
    harness): random cluster shapes, chains, cliques — the incremental
    derivation must stay hash-identical to the from-scratch recursive
    closure on ANY graph, including ones where the batch slice is empty
    or merges many corpus clusters at once."""
    import test_randomized_docs as docs

    sf_dir = docs._make_fixture(tmp_path, seed)
    res = compare_query(
        spark,
        sf_dir,
        "ns_cc_incremental",
        QUERIES["ns_cc_incremental"],
        ORACLES["ns_cc_incremental"],
    )
    assert res.ok, res
