"""Round-15 pending queries (operators/pending_r15.py): full
query-vs-oracle differentials run HERE every round even though the
queries aren't registered in the driver contract yet — the round-14
window already owes the 46-query rotation block plus the six
pending_r14 registrations (52 candidates for 50 slots), so this
tranche waits behind them (the pending_r13 → curation.py staging
discipline)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_parquet_parser_spark.catalog import load_table
from duckdb_parquet_parser_spark.operators.pending_r15 import (
    BLOOM_K,
    N_SHARDS,
    ORACLES_PENDING_R15,
    QUERIES_PENDING_R15,
    RP_DIMS,
    epoch_shard,
    q_ns_bloom_decontam,
    q_ns_embed_rp_project,
)
from duckdb_parquet_parser_spark.testing import compare_query


@pytest.mark.parametrize("name", sorted(QUERIES_PENDING_R15))
@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_pending_r15_query_matches_oracle(spark, name, sf_dir):
    res = compare_query(
        spark, sf_dir, name, QUERIES_PENDING_R15[name],
        ORACLES_PENDING_R15[name],
    )
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


def test_epoch_shard_structure_and_reseed(spark, sf_smoke):
    """Every doc appears exactly once; positions are contiguous 1..n per
    shard; shards are within a loose balance band; changing the epoch
    seed produces a genuinely different order while each epoch is
    itself deterministic (two runs agree)."""
    docs = load_table(spark, sf_smoke, "documents").select("doc_id")
    n_docs = docs.count()
    e0 = epoch_shard(docs, seed=0).collect()
    assert len(e0) == n_docs
    assert len({r["doc_id"] for r in e0}) == n_docs
    by_shard: dict = {}
    for r in e0:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= set(range(N_SHARDS))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # loose balance: no shard above 3x the uniform share (md5 is uniform)
    assert max(len(v) for v in by_shard.values()) <= 3 * n_docs / N_SHARDS
    # determinism + reseed
    e0b = epoch_shard(docs, seed=0).collect()
    assert sorted(map(tuple, e0)) == sorted(map(tuple, e0b))
    e1 = {r["doc_id"]: (r["shard"], r["pos"]) for r in epoch_shard(docs, seed=1).collect()}
    moved = sum(1 for r in e0 if e1[r["doc_id"]] != (r["shard"], r["pos"]))
    assert moved > n_docs / 2  # a reshuffle, not a perturbation


def test_rp_projection_preserves_neighborhoods(spark, sf_correct):
    """The JL geometry claim behind the operator: projected cosine of
    TRUE near-neighbor pairs (brute-force top-1 per query) exceeds the
    mean projected cosine of deterministic pseudo-random pairs."""
    from duckdb_parquet_parser_spark.operators.similarity import (
        q_ns_knn_bruteforce,
    )

    proj = {
        r["vec_id"]: [r[f"p{j}"] for j in range(RP_DIMS)]
        for r in q_ns_embed_rp_project(spark, sf_correct).collect()
    }

    def pcos(a, b):
        va, vb = proj[a], proj[b]
        dot = sum(x * y for x, y in zip(va, vb))
        na = sum(x * x for x in va) ** 0.5
        nb = sum(x * x for x in vb) ** 0.5
        return 0.0 if na * nb == 0 else dot / (na * nb)

    top = [
        (r["query_id"], r["neighbor_id"])
        for r in q_ns_knn_bruteforce(spark, sf_correct).collect()
        if r["rank"] == 1
    ]
    assert top
    ids = sorted(proj)
    rand_pairs = [
        (ids[(7 * k) % len(ids)], ids[(13 * k + 5) % len(ids)])
        for k in range(1, 40)
    ]
    rand_pairs = [(a, b) for a, b in rand_pairs if a != b]
    near = sum(pcos(a, b) for a, b in top) / len(top)
    rand = sum(pcos(a, b) for a, b in rand_pairs) / len(rand_pairs)
    assert near > rand + 0.2, (near, rand)


def test_bloom_positions_cover_the_filter(spark, sf_correct):
    """Sanity on the hash spread: the eval set's K x distinct-gram
    positions land across the filter (no degenerate clustering), and
    every position is in [0, BLOOM_M)."""
    from duckdb_parquet_parser_spark.operators.pending_r15 import (
        BLOOM_M,
        _bloom_hx_sql,
        _bloom_pos_sql,
        EVAL_MOD,
    )
    from duckdb_parquet_parser_spark.operators.text import (
        CONTAM_N,
        _word_ngrams,
    )

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


# --- plan locks: the 100 TB shapes these operators exist for ---


def test_bloom_plan_all_joins_broadcast(spark, sf_smoke):
    """The pre-filter's scale argument: corpus grams NEVER shuffle into
    a join — the bit table and the eval gram set ride broadcast joins;
    the only hash exchanges are the (doc, gram) and doc aggregations."""
    from duckdb_parquet_parser_spark.plans import formatted_plan

    plan = formatted_plan(q_ns_bloom_decontam(spark, sf_smoke))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 2
    # the only CORPUS-sized hash exchanges are the (doc, gram, exact)
    # aggregation and the doc aggregation; the remaining ≤3 are the
    # eval-side gram/bit distincts (data-tiny by the decontamination
    # premise: benchmarks ≪ corpus)
    import re

    keys = [
        m.split(",")[0].split("#")[0]
        for m in re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    ]
    corpus_sized = [k for k in keys if k == "doc_id"]
    assert len(corpus_sized) == 2, keys
    assert len(keys) <= 5, keys
    assert "partial_sum" in plan or "partial_count" in plan


def test_rp_projection_plan_is_narrow(spark, sf_smoke):
    """The projection is a pure per-row map: no joins, no hash
    exchange (scale_out's round-robin spread on the single-split
    fixture is the only allowed exchange)."""
    import re

    from duckdb_parquet_parser_spark.plans import formatted_plan

    plan = formatted_plan(q_ns_embed_rp_project(spark, sf_smoke))
    assert "Join" not in plan
    assert "Arguments: hashpartitioning" not in plan


def test_epoch_shard_plan_one_exchange(spark, sf_smoke):
    """One hash exchange on shard drives the per-shard rank — no global
    sort, no single-partition window."""
    from duckdb_parquet_parser_spark.operators.pending_r15 import (
        q_ns_epoch_shard,
    )
    from duckdb_parquet_parser_spark.plans import formatted_plan

    plan = formatted_plan(q_ns_epoch_shard(spark, sf_smoke))
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "hashpartitioning(shard" in plan
    assert "SinglePartition" not in plan


def test_span_scrub_semantics(spark, sf_correct):
    """The transform's invariants beyond the hash: the scrubbed text is
    an order-preserving subsequence of the original tokens; accounting
    is exact; the fixture threshold scrubs a small-but-real fraction
    (the measured 1.9%) without annihilating any sf0.01 doc."""
    from duckdb_parquet_parser_spark.operators.pending_r15 import (
        q_ns_span_scrub,
    )

    originals = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_correct, "documents")
        .filter(F.col("text").isNotNull())
        .collect()
    }
    rows = q_ns_span_scrub(spark, sf_correct).collect()
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
    from duckdb_parquet_parser_spark.operators.pending_r15 import (
        q_ns_span_scrub,
    )
    from duckdb_parquet_parser_spark.plans import formatted_plan

    plan = formatted_plan(q_ns_span_scrub(spark, sf_smoke))
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
    from duckdb_parquet_parser_spark.operators.pending_r15 import (
        WINNOW_MIN_SHARED,
        q_ns_winnow_fingerprint,
        q_ns_winnow_pairs,
    )

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
    from duckdb_parquet_parser_spark.operators.pending_r15 import WINNOW_K

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
    from duckdb_parquet_parser_spark.operators.pending_r15 import (
        q_ns_winnow_fingerprint,
        q_ns_winnow_pairs,
    )
    from duckdb_parquet_parser_spark.plans import formatted_plan

    pf = formatted_plan(q_ns_winnow_fingerprint(spark, sf_smoke))
    assert "Join" not in pf
    pp = formatted_plan(q_ns_winnow_pairs(spark, sf_smoke))
    assert "CartesianProduct" not in pp
    assert "BroadcastNestedLoopJoin" not in pp


def test_rp_rerank_recall_curve(spark, sf_correct):
    """Two-stage retrieval quality: recall@k vs the exact brute force
    is monotone in the stage-1 shortlist and meets the measured floors
    (0.44/0.56/0.76 at 50/100/200 on this near-isotropic fixture — see
    the RP_SHORTLIST note for why these are honest, not impressive)."""
    from duckdb_parquet_parser_spark.operators.pending_r15 import (
        knn_rp_rerank,
    )
    from duckdb_parquet_parser_spark.operators.similarity import (
        q_ns_knn_bruteforce,
    )

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in q_ns_knn_bruteforce(spark, sf_correct).collect()
    }
    assert exact
    recalls = []
    for sl in (50, 100, 200):
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in knn_rp_rerank(spark, sf_correct, shortlist=sl).collect()
        }
        recalls.append(len(exact & approx) / len(exact))
    assert recalls[0] <= recalls[1] <= recalls[2], recalls
    assert recalls[0] >= 0.35 and recalls[1] >= 0.5 and recalls[2] >= 0.65, (
        recalls
    )
    # re-rank scores are exact float cosine: the candidates that DO
    # overlap with the exact top-k carry identical ranks only when the
    # shortlist contains the full true top-k; membership is the metric.


def test_hll_set_algebra_error_bands(spark, sf_correct):
    """The mergeability claim's quality: union estimates (register-max
    merge) and inclusion-exclusion intersections stay inside loose
    bands around exact (measured 7.6% max at sf0.01 vs the 13%
    theoretical stdev of 64 registers), and the algebra is internally
    consistent (union ≥ intersection, both positive on this fixture's
    heavily-shared vocabularies)."""
    from duckdb_parquet_parser_spark.operators.pending_r15 import (
        q_ns_hll_set_algebra,
    )

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
    import json
    import os

    from duckdb_parquet_parser_spark.cache import ARTIFACT_META, artifact_entry_path
    from duckdb_parquet_parser_spark.operators.pending_r15 import (
        HLL_REGISTERS,
        q_ns_hll_incremental,
    )

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
        # version bump (review pass)
        meta["hll_version"] = HLL_REGISTERS.params["hll_version"]
        open(meta_file, "w").write(json.dumps(meta))
        if os.path.exists(crc):
            os.unlink(crc)


def test_streaming_hll_registers_match_batch(spark, tmp_path, sf_smoke):
    """The sketch state maintained AS STREAMING STATE: the one
    groupBy-max aggregation runs unchanged under Structured Streaming
    (multi-file staged source, one file per microbatch) and converges
    to exactly the batch registers — max is order-independent, so
    microbatch arrival order cannot matter."""
    from duckdb_parquet_parser_spark.operators.pending_r15 import (
        _hll_source_registers,
        streaming_hll_registers,
    )

    docs = load_table(spark, sf_smoke, "documents")
    staged = str(tmp_path / "docs_stream")
    docs.repartition(4).write.parquet(staged)
    q = (
        streaming_hll_registers(spark, staged)
        .writeStream.format("memory")
        .queryName("hll_regs_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        map(tuple, spark.table("hll_regs_stream").collect())
    )
    words = docs.filter(F.col("text").isNotNull()).select(
        "source", F.explode(F.split("text", " ")).alias("word")
    )
    want = sorted(map(tuple, _hll_source_registers(words).collect()))
    assert got == want and got


def test_lineage_stages_fire_and_agree_with_the_pipeline(
    spark, tmp_path, sf_correct
):
    """The lineage's stages actually discriminate on the fixture (a
    never-firing stage certifies nothing), and its 'kept' set IS the
    set curate_epoch writes — lineage and pipeline can never drift."""
    import glob

    import pyarrow.parquet as pq

    from duckdb_parquet_parser_spark.operators.pending_r15 import (
        curate_epoch,
        q_ns_curation_lineage,
    )

    rows = q_ns_curation_lineage(spark, sf_correct).collect()
    stages = {r["stage"] for r in rows}
    assert {"kept", "quality", "contaminated", "budget"} <= stages
    # the remaining fixed-fixture stages fire at sf0.1 (16-token pure-
    # boilerplate docs scrub to '' and near-identical docs collide on
    # the scrubbed fingerprint there); 'null_text' is pinned in the
    # randomized-docs run below — all seven stages are thus asserted,
    # not just claimed (review pass)
    stages_01 = {
        r["stage"]
        for r in q_ns_curation_lineage(
            spark, "/root/testdata/sf0.1"
        ).collect()
    }
    assert {"duplicate", "scrubbed_empty"} <= stages_01
    kept = {r["doc_id"] for r in rows if r["stage"] == "kept"}
    out = str(tmp_path / "lineage_epoch")
    curate_epoch(spark, sf_correct, out)  # shared default constants
    written = set()
    for f in glob.glob(out + "/shard=*/*.parquet"):
        written.update(pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist())
    assert written == kept and kept


def test_curate_epoch_composition(spark, tmp_path, sf_correct):
    """The capstone pipeline's invariants: monotone stage counts; the
    written shards contain exactly the kept docs in training order; no
    two written docs share a scrubbed text; every source respects the
    token-budget watermark."""
    import glob

    import pyarrow.parquet as pq

    from duckdb_parquet_parser_spark.operators.pending_r15 import (
        curate_epoch,
    )

    out = str(tmp_path / "epoch0")
    budget = 2000
    stats = curate_epoch(spark, sf_correct, out, token_budget=budget)
    assert (
        stats["n_input"]
        >= stats["n_quality"]
        >= stats["n_decontam_survivors"]
        >= stats["n_scrub_survivors"]
        >= stats["n_unique"]
        >= stats["n_written"]
        > 0
    )
    # decontamination really fired: the fixture's eval overlap is real
    assert stats["n_decontam_survivors"] < stats["n_quality"]
    rows = []
    for f in sorted(glob.glob(out + "/shard=*/*.parquet")):
        t = pq.read_table(f)
        rows.extend(t.to_pylist())
    assert len(rows) == stats["n_written"]
    texts = [r["scrubbed_text"] for r in rows]
    assert len(set(texts)) == len(texts)  # dedup held through the write
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r["n_tokens"])
    for src, toks in by_src.items():
        # watermark: all but the straddler fit the budget
        assert sum(toks) - max(toks) < budget, src


# --- randomized-fixture differentials (the staging discipline) ---


@pytest.mark.parametrize("seed", [66, 5152])
def test_pending_r15_doc_queries_on_random_docs(spark, tmp_path, seed):
    """Bloom decontamination + epoch shard under the randomized docs
    generator: unicode grams, empty tokens after split, null texts —
    md5-over-gram parity and the one-sided bound must hold on ANY
    documents table."""
    import test_randomized_docs as docs

    sf_dir = docs._make_fixture(tmp_path, seed)
    for name in (
        "ns_bloom_decontam",
        "ns_epoch_shard",
        "ns_span_scrub",
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
        res = compare_query(
            spark, sf_dir, name, QUERIES_PENDING_R15[name],
            ORACLES_PENDING_R15[name],
        )
        assert res.ok, res
    # the planted nulls must actually fire the lineage's first stage
    lineage_stages = {
        r["stage"]
        for r in QUERIES_PENDING_R15["ns_curation_lineage"](
            spark, sf_dir
        ).collect()
    }
    assert "null_text" in lineage_stages


def test_bloom_prefilter_is_lossless_for_contamination(spark, sf_correct):
    """The production composition the filter exists for: because bloom
    membership has no false negatives, restricting the exact
    contamination join to bloom-POSITIVE docs loses nothing — the
    remnant's contamination rows equal the full corpus's, and the
    remnant is a small fraction of the corpus (the cost the filter
    saves)."""
    from duckdb_parquet_parser_spark.operators.pending_r15 import (
        bloom_surviving_grams,
        contamination_with_bloom_prefilter,
    )
    from duckdb_parquet_parser_spark.operators.text import q_ns_contamination

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


def test_write_training_shards_materializes_the_order(spark, tmp_path):
    """One file per shard directory; each file's row order is exactly
    the epoch's (shard, pos) training order."""
    import glob

    import pyarrow.parquet as pq

    from duckdb_parquet_parser_spark.operators.pending_r15 import (
        epoch_shard,
        write_training_shards,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "lang")
    out = str(tmp_path / "shards")
    write_training_shards(docs, out)
    expected: dict = {}
    for r in epoch_shard(docs.select("doc_id")).collect():
        expected.setdefault(r["shard"], []).append((r["pos"], r["doc_id"]))
    seen_shards = set()
    for d in sorted(glob.glob(out + "/shard=*")):
        shard = int(d.rsplit("=", 1)[1])
        seen_shards.add(shard)
        files = sorted(glob.glob(d + "/*.parquet"))
        assert len(files) == 1, files  # a shard never splits across tasks
        got = pq.read_table(files[0], columns=["doc_id"])["doc_id"].to_pylist()
        want = [doc for _, doc in sorted(expected[shard])]
        assert got == want, shard
    assert seen_shards == set(expected)


@pytest.mark.parametrize("seed", [203, 5153])
def test_pending_r15_projection_on_random_embeddings(spark, tmp_path, seed):
    """The projection under the randomized embeddings generator: zero
    vectors, subnormal-scale 'tiny' vectors (the round(x*1e9)
    quantization edge seed 965 bit on), +-1e4 'large' vectors (BIGINT
    headroom), exact duplicates."""
    import test_randomized_embeddings as emb

    sf_dir = emb._make_fixture(tmp_path, seed)
    res = compare_query(
        spark, sf_dir, "ns_embed_rp_project",
        QUERIES_PENDING_R15["ns_embed_rp_project"],
        ORACLES_PENDING_R15["ns_embed_rp_project"],
    )
    assert res.ok, res
