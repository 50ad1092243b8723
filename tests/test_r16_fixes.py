"""Round-16 landed fixes, tested on the LIVE certified modules (the
round-15 staging module operators/staged_r16_fixes.py moved here when
its implementations landed at the dedup/curation rotation moment):

- ``ns_dedup_minhash`` now generates candidates with the SALTED
  triangular bucket join and verifies through the CONDITIONALLY
  ``shuffle_hash``-hinted doc-array joins (dedup.py) — plan-locked in
  BOTH regimes, result-identical to the pre-swap pipeline;
- ``ns_source_droprate`` now reads the PERSISTED components-label
  artifact through the validated sidecar path (curation.py) — the
  cross-run contract, reuse, and stale-version rejection."""

from __future__ import annotations

import pytest

from duckdb_parquet_parser_spark.cache import (
    _artifact_meta_path,
    _fs_move_text_into_place,
    artifact_entry_path,
    read_artifact,
    write_artifact,
)
from duckdb_parquet_parser_spark.operators.curation import (
    COMPONENTS,
    ORACLES as CURATION_ORACLES,
    q_ns_source_droprate,
)
from duckdb_parquet_parser_spark.operators.dedup import (
    ORACLES as DEDUP_ORACLES,
    _cached_signatures,
    _verify_jaccard_pairs,
    lsh_candidate_pairs_salted,
    q_ns_dedup_minhash,
)
from duckdb_parquet_parser_spark.testing import compare_query


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_minhash_salted_hinted_matches_oracle(spark, sf_dir):
    """The landed query against the unchanged certified oracle."""
    res = compare_query(
        spark,
        sf_dir,
        "ns_dedup_minhash",
        q_ns_dedup_minhash,
        DEDUP_ORACLES["ns_dedup_minhash"],
    )
    assert res.ok, res


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_droprate_persisted_matches_oracle(spark, sf_dir):
    """The landed persisted-label droprate against the unchanged
    certified oracle — the hash match is the persisted ≡ recomputed
    theorem."""
    res = compare_query(
        spark,
        sf_dir,
        "ns_source_droprate",
        q_ns_source_droprate,
        CURATION_ORACLES["ns_source_droprate"],
    )
    assert res.ok, res


def _unhinted_minhash(spark, sf_dir):
    """The pre-r16 verify plan (hint suppressed) over the same salted
    candidates — the counterfactual the plan locks compare against."""
    sigs = _cached_signatures(spark, sf_dir)
    pairs = lsh_candidate_pairs_salted(sigs)
    return _verify_jaccard_pairs(spark, sf_dir, pairs, hinted=False)


def test_hinted_verify_equals_unhinted_rows(spark, sf_smoke):
    """Spark-vs-Spark: the hint changes join STRATEGY, never semantics."""
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in q_ns_dedup_minhash(spark, sf_smoke).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in _unhinted_minhash(spark, sf_smoke).collect()
    }
    assert got == want and want


def test_hinted_verify_never_sorts_the_pair_stream(spark, sf_smoke):
    """The motivating lock (BENCH_NOTES r15 sf1 A/B): with broadcast
    DISABLED — the regime a big doc-array relation forces — BOTH verify
    joins run as ShuffledHashJoin in the landed plan (exactly two fewer
    SortMergeJoins than the unhinted counterfactual, which demotes both
    verify joins to SMJ and sorts the candidate-pair stream). The salted
    band self-join may still SMJ in this forced regime — it sorts the
    banded SIGNATURE table, not the pair stream, and is out of this
    fix's scope."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = (
            q_ns_dedup_minhash(spark, sf_smoke)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        unhinted = (
            _unhinted_minhash(spark, sf_smoke)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert hinted.count("ShuffledHashJoin") >= 2
    # the defect being fixed is real in the same regime: exactly the
    # two verify joins demote to SMJ without the hint
    assert (
        unhinted.count("SortMergeJoin")
        == hinted.count("SortMergeJoin") + 2
    )


def test_hinted_verify_keeps_broadcast_at_fixture_scale(spark, sf_smoke):
    """The conditionality lock: with the default threshold the doc-array
    side broadcasts, so the landed plan must be hint-FREE — an
    unconditional hint measurably regressed the fixture row (4.6 →
    7.2 s steady at sf0.1, BENCH_NOTES r15) because join hints outrank
    the size-based broadcast choice."""
    plan = (
        q_ns_dedup_minhash(spark, sf_smoke)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan


def _droprate_recomputed(spark, sf_dir):
    """Test-side recomputation of the droprate from the live CC pipeline
    (the pre-r16 in-session shape) — the differential counterpart that
    pins persisted ≡ recomputed without a DuckDB oracle."""
    from pyspark.sql import functions as F

    from duckdb_parquet_parser_spark.catalog import load_table
    from duckdb_parquet_parser_spark.operators.dedup import (
        q_ns_dedup_components,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    comp = q_ns_dedup_components(spark, sf_dir).select("doc_id", "keep")
    return (
        docs.join(comp, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.coalesce(F.col("keep"), F.lit(True)), 0).otherwise(1)
            ).cast("long").alias("n_dropped"),
        )
        .select(
            "source",
            "n_docs",
            "n_dropped",
            F.expr("(n_dropped * 10000) div n_docs").alias("drop_bps"),
        )
    )


def test_droprate_persisted_artifact_contract(spark, sf_smoke, tmp_path):
    """The cross-run contract: a second run reuses the artifact (no
    rewrite), results equal the in-session recomputation, and a
    version-bumped sidecar is rejected BEFORE any data read."""
    import json
    import os

    got = {tuple(r) for r in q_ns_source_droprate(spark, sf_smoke).collect()}
    want = {tuple(r) for r in _droprate_recomputed(spark, sf_smoke).collect()}
    assert got == want and want

    # artifact reused on the second run: meta mtime unchanged
    art = artifact_entry_path(COMPONENTS.prefix, sf_smoke)
    meta = os.path.join(art, "_sig_meta.json")
    m0 = os.stat(meta).st_mtime_ns
    again = {
        tuple(r) for r in q_ns_source_droprate(spark, sf_smoke).collect()
    }
    assert again == want
    assert os.stat(meta).st_mtime_ns == m0

    # stale version → loud rejection before data (rewrite the sidecar
    # through the Hadoop path — a raw pathlib write would trip the
    # LocalFileSystem's .crc checksum instead of the version check)
    bad = tmp_path / "comp_art"
    write_artifact(spark, COMPONENTS, sf_smoke, f"file://{bad}")
    _fs_move_text_into_place(
        spark,
        _artifact_meta_path(f"file://{bad}"),
        json.dumps({"comp_version": 999}),
    )
    with pytest.raises(ValueError, match="version"):
        read_artifact(spark, COMPONENTS, f"file://{bad}")


@pytest.mark.parametrize("seed", [414, 7381])
def test_r16_fixes_on_random_docs(spark, tmp_path, seed):
    """Randomized docs pressure on both landed fixes: unicode grams,
    null texts, adversarial duplicate graphs.

    The salted+hinted minhash checks against its DuckDB oracle (exact on
    any fixture — the docs family sweeps it the same way). The persisted
    droprate checks SPARK-vs-SPARK against the in-session recomputation
    instead: its claim is persisted ≡ recomputed, and the unrolled-CC
    droprate ORACLE is documented as valid only on driver-fixture graphs
    (random duplicate graphs can under-converge the 4-round unrolled SQL
    chain — the seed-22/r13 find)."""
    import test_randomized_docs as docs

    sf_dir = docs._make_fixture(tmp_path, seed)
    res = compare_query(
        spark,
        sf_dir,
        "ns_dedup_minhash",
        q_ns_dedup_minhash,
        DEDUP_ORACLES["ns_dedup_minhash"],
    )
    assert res.ok, res
    got = {tuple(r) for r in q_ns_source_droprate(spark, sf_dir).collect()}
    want = {tuple(r) for r in _droprate_recomputed(spark, sf_dir).collect()}
    assert got == want and want
