"""Config-robustness differential axis: certified query results must be INVARIANT to the runtime knobs a deployment
actually turns — AQE off, broadcast joins disabled, and a skewed
shuffle-partition count.

Why this axis exists: every prior differential (DuckDB oracles at two
SFs, randomized fixtures, hypothesis fuzz) ran under the one session
config ``get_spark`` pins, so a result that silently DEPENDED on the
plan shape (a partition-count-sensitive prefix sum, a tie broken by
broadcast-side ordering, a hint that changes values instead of
strategy) could pass every sweep. A 1000-executor deployment will not
run the fixture config: AQE re-plans mid-query, broadcast thresholds
differ per cluster, shuffle partitions are sized to the data. The
engine's claim is that NONE of that moves a single output value —
physical strategy is Catalyst's to choose, semantics are ours.

The perturbations are all runtime-settable (no new session), applied
per-run and restored in ``finally``:

- ``spark.sql.adaptive.enabled=false`` — no runtime coalescing/skew
  splitting; stage boundaries are exactly the static plan's;
- ``spark.sql.autoBroadcastJoinThreshold=-1`` — every size-based
  broadcast demotes to a shuffle strategy; this also FORCES the
  conditional ``shuffle_hash`` verify hint in the minhash family
  (``_wont_broadcast`` sees a disabled threshold), so the hinted
  regime's VALUES — not just its locked plan shape — get certified
  equal to the broadcast regime's at fixture scale;
- ``spark.sql.shuffle.partitions=7`` — a small odd partition count;
  any row that leaks partitioning into values (prefix sums, packing,
  per-partition offsets) breaks here.

Queries chosen for maximum plan-sensitivity coverage: the salted+
hinted minhash and the incremental band join (conditional-hint family),
the q5 broadcast snowflake (strategy flips wholesale with the
threshold), rollup grouping sets (partial-agg reshaping), sequence
packing and the positional stream (the two explicit prefix-sum-over-
partitions designs — their correctness CLAIM is partition invariance),
bloom decontamination, TF-IDF top-k (rounded-grid ranking with
deterministic tiebreak — the documented defense against plan-order
float drift is exactly what this axis stresses), the incremental
duplicate clusters (their convergence ROUND COUNT may vary with
partitioning, their labels must not) and the curation lineage (the
composition of quality gate, bloom prefilter, span scrub, dedup window
and token-budget running sum). All outputs are integer/decimal/rounded
by design, so rows compare exactly; nondeterministic-under-reordering
output would be a finding, not flakiness.
"""

from __future__ import annotations

import pytest

QUERIES = [
    "ns_dedup_minhash",
    "ns_dedup_incremental",
    "rel_join_q5",
    "rel_rollup",
    "ns_seq_pack",
    "r10_positional_stream",
    "ns_bloom_decontam",
    "ns_tfidf_topterms",
    "ns_cc_incremental",
    "ns_curation_lineage",
]

PERTURBATIONS = {
    "aqe_off": {"spark.sql.adaptive.enabled": "false"},
    "no_broadcast": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    "shuffle_7": {"spark.sql.shuffle.partitions": "7"},
}


def _rows(spark, sf_dir, name):
    """Run query ``name`` fresh (memos cleared so a frame materialized
    under a PREVIOUS config can never answer for this one) and return
    its rows as a sorted list of tuples."""
    from duckdb_parquet_parser_spark.operators import collect_queries
    from duckdb_parquet_parser_spark.operators.dedup import (
        clear_simhash_memos,
    )

    clear_simhash_memos()
    df = collect_queries()[0][name](spark, sf_dir)
    # NULL-safe canonical order (tuples mixing None with str/int don't
    # compare); equality between the sorted lists stays exact-valued
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


@pytest.fixture(scope="module")
def baselines(spark, sf_smoke):
    """One default-config run per query; every perturbation compares
    against these materialized rows (not a lazily re-evaluated frame,
    which would silently re-plan under the perturbed config)."""
    return {
        name: _rows(spark, sf_smoke, name)
        for name in QUERIES
    }


@pytest.mark.parametrize("pert", sorted(PERTURBATIONS))
def test_results_invariant_under_conf(spark, sf_smoke, baselines, pert):
    confs = PERTURBATIONS[pert]
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        for name in QUERIES:
            got = _rows(spark, sf_smoke, name)
            assert got == baselines[name], (
                f"{name} changed values under {pert}: "
                f"{len(got)} rows vs {len(baselines[name])}"
            )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        from duckdb_parquet_parser_spark.operators.dedup import (
            clear_simhash_memos,
        )

        clear_simhash_memos()  # frames planned under the perturbed conf


def test_forced_hint_regime_actually_fires(spark, sf_smoke):
    """Sanity for the no_broadcast leg: with the threshold disabled the
    minhash verify joins must run the hinted ShuffledHashJoin (not SMJ,
    not broadcast) — proving the invariance test above exercised the
    hinted regime's values rather than quietly re-broadcasting."""
    from duckdb_parquet_parser_spark.operators.dedup import (
        q_ns_dedup_minhash,
    )

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = (
            q_ns_dedup_minhash(spark, sf_smoke)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "ShuffledHashJoin" in plan
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


@pytest.mark.parametrize("raw", ["four", "0"])
@pytest.mark.parametrize(
    "knob, module",
    [
        ("SPARK_GRAFT_SHUFFLE", "duckdb_parquet_parser_spark.session"),
        ("SPARK_GRAFT_STREAM_AGG_PARTITIONS", "duckdb_parquet_parser_spark.streaming.windows"),
        ("SPARK_GRAFT_STREAM_JOIN_PARTITIONS", "duckdb_parquet_parser_spark.streaming.windows"),
    ],
)
def test_bad_env_knob_fails_loudly_with_its_name(knob, module, raw):
    """A malformed or zero partition knob stops the import with a
    ValueError that names the variable, instead of a bare int() error
    (malformed) or a session that fails later, far from the cause (zero)."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", f"import {module}"],
        cwd=root,
        env={**os.environ, knob: raw},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode != 0
    last = proc.stderr.strip().splitlines()[-1]
    assert last.startswith("ValueError: ") and knob in last, last
