"""The bloom-decontamination, span-scrub, winnowing, HLL, GIF and
curation-lineage queries (operators/text.py, curation.py, dedup.py,
corpus.py, gif_media.py): each one's DuckDB differential at sf0.001 and
sf0.01 and on randomized documents, plus the invariants the hashes alone
don't explain — the bloom filter's one-sided bound, hash spread and
broadcast-only plan, the scrub transform, the winnowing guarantee, the
HLL error bands and the persisted register artifact's contract.

``span_scrub`` is a helper the lineage calls, not a registered query;
its differential runs here under the id ``ns_span_scrub``."""

from __future__ import annotations

import json
import os
import re

import pytest
from conftest import SF_CORRECT, SF_SMOKE
from pyspark.sql import functions as F

from duckdb_parquet_parser_spark.cache import ARTIFACT_META, artifact_entry_path
from duckdb_parquet_parser_spark.catalog import load_table
from duckdb_parquet_parser_spark.operators import collect_queries
from duckdb_parquet_parser_spark.operators.corpus import (
    HLL_REGISTERS,
    q_ns_hll_incremental,
    q_ns_hll_set_algebra,
)
from duckdb_parquet_parser_spark.operators.curation import (
    SPAN_SCRUB_ORACLE,
    span_scrub,
)
from duckdb_parquet_parser_spark.operators.dedup import (
    WINNOW_K,
    WINNOW_MIN_SHARED,
    q_ns_winnow_fingerprint,
    q_ns_winnow_pairs,
)
from duckdb_parquet_parser_spark.operators.text import (
    BLOOM_K,
    BLOOM_M,
    CONTAM_N,
    EVAL_MOD,
    _bloom_hx_sql,
    _bloom_pos_sql,
    _word_ngrams,
    bloom_surviving_grams,
    contamination_with_bloom_prefilter,
    q_ns_bloom_decontam,
    q_ns_contamination,
)
from duckdb_parquet_parser_spark.plans import formatted_plan
from duckdb_parquet_parser_spark.testing import compare_query

REGISTERED = [
    "ns_bloom_decontam",
    "ns_curation_lineage",
    "ns_hll_incremental",
    "ns_hll_set_algebra",
    "ns_mm_gif_features",
    "ns_winnow_fingerprint",
    "ns_winnow_pairs",
]


@pytest.mark.parametrize("name", sorted(REGISTERED + ["ns_span_scrub"]))
@pytest.mark.parametrize(
    "sf_dir", [SF_SMOKE, SF_CORRECT]
)
def test_pending_r15_query_matches_oracle(spark, name, sf_dir):
    if name == "ns_span_scrub":
        query, oracle = span_scrub, SPAN_SCRUB_ORACLE
    else:
        queries, oracles = collect_queries()
        query, oracle = queries[name], oracles[name]
    res = compare_query(spark, sf_dir, name, query, oracle)
    assert res.ok, res


def test_bloom_one_sided_and_exercised(spark, sf_correct):
    """The filter's contract: NO false negatives (bloom_hits >=
    exact_hits per doc — a present gram's bits are all set), and the
    narrow-M choice actually exercises the estimator (some false
    positives exist at sf0.01, else the false_pos column certifies
    nothing — the CMS-width discipline)."""
    rows = q_ns_bloom_decontam(spark, sf_correct).collect()
    assert rows
    assert all(r["bloom_hits"] >= r["exact_hits"] for r in rows)
    assert all(r["false_pos"] == r["bloom_hits"] - r["exact_hits"] for r in rows)
    assert all(r["n_grams"] >= r["bloom_hits"] for r in rows)
    assert sum(r["false_pos"] for r in rows) > 0
    # and it's a *useful* filter, not saturated: most grams miss
    total = sum(r["n_grams"] for r in rows)
    hits = sum(r["bloom_hits"] for r in rows)
    assert hits < total / 2


def test_bloom_positions_cover_the_filter(spark, sf_correct):
    """Sanity on the hash spread: the eval set's K x distinct-gram
    positions land across the filter (no degenerate clustering), and
    every position is in [0, BLOOM_M)."""
    docs = load_table(spark, sf_correct, "documents")
    ws = F.split("text", " ")
    eval_grams = (
        docs.filter(
            F.col("text").isNotNull() & (F.col("doc_id") % EVAL_MOD == 0)
        )
        .select(F.explode(_word_ngrams(ws, CONTAM_N)).alias("g"))
        .distinct()
    )
    bits = (
        eval_grams.select(
            *[F.expr(_bloom_hx_sql(i)).alias(f"h{i}") for i in range(BLOOM_K)]
        )
        .select(
            F.explode(
                F.array(
                    *[F.expr(_bloom_pos_sql(f"h{i}")) for i in range(BLOOM_K)]
                )
            ).alias("p")
        )
        .distinct()
        .collect()
    )
    ps = [r["p"] for r in bits]
    assert all(0 <= p < BLOOM_M for p in ps)
    # spread: set bits touch all 8 coarse octants of the filter
    assert len({p * 8 // BLOOM_M for p in ps}) == 8


def test_bloom_plan_all_joins_broadcast(spark, sf_smoke):
    """The pre-filter's scale argument: corpus grams NEVER shuffle into
    a join — the bit table and the eval gram set ride broadcast joins;
    the only hash exchanges are the (doc, gram) and doc aggregations."""
    plan = formatted_plan(q_ns_bloom_decontam(spark, sf_smoke))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 2
    # the only CORPUS-sized hash exchanges are the (doc, gram, exact)
    # aggregation and the doc aggregation; the remaining ≤3 are the
    # eval-side gram/bit distincts (data-tiny by the decontamination
    # premise: benchmarks ≪ corpus)
    keys = [
        m.split(",")[0].split("#")[0]
        for m in re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    ]
    corpus_sized = [k for k in keys if k == "doc_id"]
    assert len(corpus_sized) == 2, keys
    assert len(keys) <= 5, keys
    assert "partial_sum" in plan or "partial_count" in plan


def test_bloom_prefilter_is_lossless_for_contamination(spark, sf_correct):
    """The production composition the filter exists for: because bloom
    membership has no false negatives, restricting the exact
    contamination join to bloom-POSITIVE docs loses nothing — the
    remnant's contamination rows equal the full corpus's, and the
    remnant is a small fraction of the corpus (the cost the filter
    saves)."""
    full = {
        (r["doc_id"], r["eval_doc_id"], r["shared_ngrams"])
        for r in q_ns_contamination(spark, sf_correct).collect()
    }
    pre = {
        (r["doc_id"], r["eval_doc_id"], r["shared_ngrams"])
        for r in contamination_with_bloom_prefilter(
            spark, sf_correct
        ).collect()
    }
    assert pre == full and full
    # and the remnant really is small — the cost the filter saves
    rows = q_ns_bloom_decontam(spark, sf_correct).collect()
    total_grams = sum(r["n_grams"] for r in rows)
    survivors = bloom_surviving_grams(spark, sf_correct).count()
    assert survivors < total_grams / 5, (survivors, total_grams)


def test_span_scrub_semantics(spark, sf_correct):
    """The transform's invariants beyond the hash: the scrubbed text is
    an order-preserving subsequence of the original tokens; accounting
    is exact; the fixture threshold scrubs a small-but-real fraction
    (the measured 1.9%) without annihilating any sf0.01 doc."""
    originals = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_correct, "documents")
        .filter(F.col("text").isNotNull())
        .collect()
    }
    rows = span_scrub(spark, sf_correct).collect()
    assert len(rows) == len(originals)
    scrubbed_total = sum(r["n_scrubbed"] for r in rows)
    token_total = sum(r["n_tokens"] for r in rows)
    assert 0.005 < scrubbed_total / token_total < 0.1
    assert sum(1 for r in rows if r["n_scrubbed"] > 0) > 50
    assert all(r["n_scrubbed"] < r["n_tokens"] for r in rows)  # sf0.01
    for r in rows[:200]:
        orig = originals[r["doc_id"]].split(" ")
        kept = r["scrubbed_text"].split(" ") if r["scrubbed_text"] else []
        assert len(kept) == r["n_tokens"] - r["n_scrubbed"], r["doc_id"]
        it = iter(orig)
        assert all(tok in it for tok in kept), r["doc_id"]  # subsequence


def test_span_scrub_plan(spark, sf_smoke):
    """Frequent grams broadcast into the occurrence join; no sort-merge
    join, no cartesian; the corpus-sized exchanges are the two-level
    doc-frequency aggregation and the per-doc cover aggregation."""
    plan = formatted_plan(span_scrub(spark, sf_smoke))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 1
    assert plan.count("Arguments: hashpartitioning") <= 3


def test_winnow_guarantee_and_duplicate_pairs(spark, sf_correct):
    """The scheme's contract: identical docs have identical fingerprint
    SETS (so every long-enough exact-duplicate pair surfaces in
    ns_winnow_pairs with shared_fps = its full set size), and every doc
    with ≥1 gram carries ≥1 fingerprint with density well under raw
    gram hashing."""
    fps: dict = {}
    for r in q_ns_winnow_fingerprint(spark, sf_correct).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_correct, "documents")
        .filter(F.col("text").isNotNull())
        .collect()
    }
    # every doc with >= WINNOW_K tokens fingerprints, at reduced density
    n_grams_total = 0
    for did, text in docs.items():
        m = len(text.split(" ")) - (WINNOW_K - 1)
        if m >= 1:
            assert did in fps and len(fps[did]) >= 1, did
            assert len(fps[did]) <= m, did
            n_grams_total += m
    assert sum(len(s) for s in fps.values()) < n_grams_total / 2
    # pair soundness AND completeness against a direct Python
    # recomputation over the fingerprint sets (the fixture's 24 pairs
    # are heavy near-dups — no exact duplicate texts exist at sf0.01)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["shared_fps"]
        for r in q_ns_winnow_pairs(spark, sf_correct).collect()
    }
    assert pairs
    for (a, b), shared in pairs.items():
        assert a < b and shared == len(fps[a] & fps[b]) >= WINNOW_MIN_SHARED
    ids = sorted(fps)
    expected = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if len(fps[a] & fps[b]) >= WINNOW_MIN_SHARED
    }
    assert set(pairs) == expected


def test_winnow_plans(spark, sf_smoke):
    """Fingerprinting is one doc-keyed window exchange; the pair miner
    is equi-join only — no cartesian, no nested-loop."""
    pf = formatted_plan(q_ns_winnow_fingerprint(spark, sf_smoke))
    assert "Join" not in pf
    pp = formatted_plan(q_ns_winnow_pairs(spark, sf_smoke))
    assert "CartesianProduct" not in pp
    assert "BroadcastNestedLoopJoin" not in pp


def test_hll_set_algebra_error_bands(spark, sf_correct):
    """The mergeability claim's quality: union estimates (register-max
    merge) and inclusion-exclusion intersections stay inside loose
    bands around exact (measured 7.6% max at sf0.01 vs the 13%
    theoretical stdev of 64 registers), and the algebra is internally
    consistent (union ≥ intersection, both positive on this fixture's
    heavily-shared vocabularies)."""
    rows = q_ns_hll_set_algebra(spark, sf_correct).collect()
    assert rows
    for r in rows:
        assert (
            abs(r["hll_union"] - r["n_exact_union"]) / r["n_exact_union"]
            < 0.2
        ), r
        assert (
            abs(r["hll_intersect"] - r["n_exact_intersect"])
            / max(r["n_exact_intersect"], 1)
            < 0.25
        ), r
        assert r["hll_union"] >= r["hll_intersect"] > 0, r


def test_hll_incremental_artifact_contract(spark, sf_smoke):
    """The cross-run contract: the artifact is written once per table
    content and REUSED (the second invocation hashes only the batch);
    results are identical across invocations; a version-bumped sidecar
    is rejected loudly before any data read."""
    r1 = sorted(map(tuple, q_ns_hll_incremental(spark, sf_smoke).collect()))
    path = artifact_entry_path(HLL_REGISTERS.prefix, sf_smoke)
    meta_file = os.path.join(path, ARTIFACT_META)
    assert os.path.exists(meta_file)
    mtime = os.path.getmtime(meta_file)
    r2 = sorted(map(tuple, q_ns_hll_incremental(spark, sf_smoke).collect()))
    assert r1 == r2
    assert os.path.getmtime(meta_file) == mtime  # reused, not rewritten
    # stale format version → loud rejection before any data read.
    # The tamper bypasses the Hadoop FS writer, so the LocalFS checksum
    # sidecar must go too or the read fails on the .crc, not the version
    crc = os.path.join(path, f".{ARTIFACT_META}.crc")
    meta = json.loads(open(meta_file).read())
    meta["hll_version"] = 999
    open(meta_file, "w").write(json.dumps(meta))
    if os.path.exists(crc):
        os.unlink(crc)
    try:
        with pytest.raises(ValueError, match="version"):
            q_ns_hll_incremental(spark, sf_smoke)
    finally:
        # restore to the CURRENT engine version, not a literal — a
        # hardcoded 1 would poison the shared artifact across a future
        # version bump
        meta["hll_version"] = HLL_REGISTERS.params["hll_version"]
        open(meta_file, "w").write(json.dumps(meta))
        if os.path.exists(crc):
            os.unlink(crc)


@pytest.mark.parametrize("seed", [66, 5152])
def test_pending_r15_doc_queries_on_random_docs(spark, tmp_path, seed):
    """Bloom decontamination, span scrub, winnowing, HLL set algebra,
    the GIF corpus and the curation lineage under the randomized docs
    generator: unicode grams, empty tokens after split, null texts —
    md5-over-gram parity and the bloom filter's one-sided bound must
    hold on ANY documents table."""
    import test_randomized_docs as docs

    sf_dir = docs._make_fixture(tmp_path, seed)
    queries, oracles = collect_queries()
    res = compare_query(
        spark, sf_dir, "span_scrub", span_scrub, SPAN_SCRUB_ORACLE
    )
    assert res.ok, res
    for name in (
        "ns_bloom_decontam",
        "ns_winnow_fingerprint",
        "ns_winnow_pairs",
        "ns_hll_set_algebra",
        # payloads derive from doc_id alone, but the random doc
        # population exercises the poison-mod interleaving
        "ns_mm_gif_features",
        # planted null texts fire the lineage's 'null_text' stage the
        # fixed fixtures never reach
        "ns_curation_lineage",
    ):
        res = compare_query(spark, sf_dir, name, queries[name], oracles[name])
        assert res.ok, res
    # the planted nulls must actually fire the lineage's first stage
    lineage_stages = {
        r["stage"]
        for r in queries["ns_curation_lineage"](spark, sf_dir).collect()
    }
    assert "null_text" in lineage_stages
