"""Round-15 PENDING queries — built and differentially tested in round
13, deliberately NOT registered: the round-14 window is already
over-subscribed (the 46-query r11-certified rotation block + the six
``pending_r14`` registrations = 52 candidates for 50 slots), so this
module is the NEXT tranche behind it. Same staging discipline that
shipped ``pending_r13`` → ``curation.py``: the full query-vs-oracle
differential runs every round via tests/test_pending_r15.py, so a
future registration is a rename, not new risk.

TEN north-star (§2.5) queries a 100 TB training-data pipeline needs
that the engine did not yet express (bloom decontamination, epoch
shard, RP projection, span scrub, winnowing fingerprint + pairs, HLL
set algebra, GIF-through-the-seam, incremental HLL state, and the
end-to-end curation lineage), plus library compositions
(``write_training_shards``, ``knn_rp_rerank``,
``contamination_with_bloom_prefilter``, ``curate_epoch``,
``streaming_hll_registers``). The first three, in depth:

- ``ns_bloom_decontam`` — the BLOOM-FILTER membership pre-filter in
  front of benchmark decontamination, completing the sketch family
  (HLL cardinality, CMS frequency, histogram quantiles — membership
  was the missing classic). The eval set's word n-grams set K md5-
  derived bits in an M-bit filter; every corpus n-gram probes the
  filter; a doc's bloom-hit count can only OVERcount its exact hit
  count (no false negatives — the same one-sided bound the CMS row
  certifies for frequencies). At 100 TB this is the shape that makes
  decontamination cheap: the filter is CONSTANT-size (M bits,
  broadcast to every executor) regardless of eval-set size, the
  corpus side streams map-only through it, and only the tiny
  bloom-positive remnant pays the exact verification join
  (``ns_contamination``). M is deliberately NARROW (the CMS-width
  discipline): at M = 8192 the fixture eval set fills ~0.35 of the
  filter, so false positives actually occur and the ``false_pos``
  column certifies the estimator; size M ∝ eval grams / ln2 ·
  bits-per-element for real benchmarks. (The first cut at M = 2048
  measured SATURATED — 46/70 gram hits against 3 real ones — and was
  re-tuned from the fixture numbers; see ``_bloom_pos_sql``.)
- ``ns_epoch_shard`` — the deterministic GLOBAL SHUFFLE + shard
  assignment every training run needs: each doc's shuffle key is
  md5(epoch-seed : doc_id), its shard is a hash bucket of that key,
  and its within-shard position is the rank of its key. Reproducible
  across runs, engines, and cluster sizes (the ``ns_sample_stratified``
  argument applied to ORDERING), and the scale shape is exactly one
  hash exchange on ``shard`` + a per-shard sort — no global sort, no
  single reducer. Changing EPOCH_SEED reshuffles; tests pin that
  epochs 0/1 produce different orders while each is itself stable.
- ``ns_embed_rp_project`` — Rademacher RANDOM PROJECTION of the
  64-dim embeddings to ``RP_DIMS`` = 16 signed-integer coordinates: the
  dimension-reduction step in front of clustering/ANN at scale
  (JL lemma: ±1 projections preserve pairwise geometry in
  expectation). The sign matrix derives from md5 (the
  ``similarity.hyperplane_sign_bit`` convention, distinct 'rp:'
  namespace) and each output coordinate accumulates in EXACT integer
  micro-units (the LSH_QUANTUM discipline — round(x·1e9) per term
  BEFORE summing), so the projection is bit-identical across engines
  and certifiable by hash, not just recall-tested. The projection is
  a zero-shuffle narrow map; tests additionally pin the geometry
  claim (projected cosine tracks true cosine on the brute-force
  top-k pairs vs random pairs).

The later additions: ``ns_span_scrub`` (the boilerplate TRANSFORM —
token spans covered by corpus-frequent grams removed, rewritten text
shipped) and ``ns_winnow_fingerprint`` / ``ns_winnow_pairs`` (MOSS
winnowing overlap index + pair miner) — each documented at its
definition.

Reference analog: none (the reference has no curation/sketch surface);
SURVEY.md §2.5 names dedup/similarity/text-analysis as first-class
extension surface.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..cache import ArtifactKind, ensure_artifact
from ..catalog import load_table, scale_out
from .corpus import _HLL_FINAL_SQL, HLL_BUCKETS, HLL_RHO_CAP, _hex_digit_sql
from .similarity import DIM, LSH_QUANTUM
from .text import CONTAM_N, EVAL_MOD, _CONTAM_GRAM_EXPR, _word_ngrams

# ---------------------------------------------------------------------------
# ns_bloom_decontam
# ---------------------------------------------------------------------------

BLOOM_M = 8192  # filter bits — deliberately narrow (module docstring)
BLOOM_K = 3  # hash functions


def _bloom_hx_sql(i: int, col: str = "g") -> str:
    """Portable SQL (Spark + DuckDB) for bloom hash *i*'s md5 of a gram."""
    return f"md5(concat('bf{i}:', {col}))"


def _bloom_pos_sql(hcol: str) -> str:
    """Portable SQL: first four md5 hex digits of ``hcol`` → 0..65535,
    mod BLOOM_M — the CMS bucket convention, four digits because
    M = 8192 needs 13 bits. M tuned on the fixture (BENCH_NOTES-style
    measurement, not guessed): ~1.2k distinct eval grams at sf0.01 give
    fill ≈ 0.35 and FPR ≈ 4% — ~1k real false positives over the ~26k
    corpus probes exercise the ``false_pos`` column while the filter
    still rejects >90% of clean grams (the usefulness the pre-filter
    exists for)."""
    assert BLOOM_M <= 16**4
    acc = _hex_digit_sql(hcol, 1)
    for i in (2, 3, 4):
        acc = f"({acc} * 16 + {_hex_digit_sql(hcol, i)})"
    return f"({acc} % {BLOOM_M})"


def _bloom_tables(spark: SparkSession, sf_dir: str):
    """The shared filter-construction frames (ONE definition — the
    profile query and the gram-level prefilter must build the SAME
    filter or the lossless-composition test compares different
    objects): corpus+eval gram stream, distinct eval grams, the K hash
    columns, the position array, and the distinct set-bit table."""
    df = scale_out(spark, load_table(spark, sf_dir, "documents"))
    ws = F.split("text", " ")
    grams = df.filter(F.col("text").isNotNull()).select(
        "doc_id", F.explode(_word_ngrams(ws, CONTAM_N)).alias("g")
    )
    eval_grams = (
        grams.filter(F.col("doc_id") % EVAL_MOD == 0).select("g").distinct()
    )
    with_h = [
        F.expr(_bloom_hx_sql(i)).alias(f"h{i}") for i in range(BLOOM_K)
    ]
    positions = F.array(
        *[F.expr(_bloom_pos_sql(f"h{i}")) for i in range(BLOOM_K)]
    )
    bits = (
        eval_grams.select("g", *with_h)
        .select(F.explode(positions).alias("bit_pos"))
        .distinct()
    )
    return grams, eval_grams, with_h, positions, bits


def q_ns_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-corpus-doc bloom-filter decontamination profile: distinct
    eval-set n-grams set ``BLOOM_K`` md5 bits each in an ``BLOOM_M``-bit
    filter; every distinct corpus n-gram probes it. Output per doc:
    distinct grams, bloom hits, exact hits (the truth the filter
    approximates), and the false-positive overcount — bloom_hits ≥
    exact_hits BY CONSTRUCTION (a present gram's bits are all set), the
    one-sided bound tests assert.

    Scale shape: the bit table is ≤ M rows (constant, broadcast); the
    corpus side is ONE narrow n-gram pass + a K-way posexplode against
    the broadcast bits + one (doc, gram) partial-agg and one doc-level
    agg — corpus grams never shuffle to a join, exactly how a 100 TB
    decontamination pre-filter must behave. The exact-hit column joins
    against the (small, broadcast) eval gram set only to CERTIFY the
    filter; production keeps just the bloom verdict and routes the
    positive remnant to ``ns_contamination``."""
    grams, eval_grams, with_h, positions, bits = _bloom_tables(
        spark, sf_dir
    )
    corpus = grams.filter(F.col("doc_id") % EVAL_MOD != 0)
    # exact_hit attaches via a BROADCAST left join (eval grams are tiny)
    # BEFORE the position explode, so it rides through the one
    # (doc, gram) aggregation for free — a second corpus-sized
    # (doc, gram) join to re-attach it would shuffle the gram table
    # twice for nothing
    base = corpus.join(
        F.broadcast(eval_grams.withColumn("_ev", F.lit(1))), "g", "left"
    ).select(
        "doc_id", "g", F.col("_ev").isNotNull().alias("exact_hit"), *with_h
    )
    probe = base.select(
        "doc_id",
        "g",
        "exact_hit",
        F.explode(positions).alias("bit_pos"),
    )
    # a gram bloom-hits iff ALL K of its positions are set bits; the
    # bit-table lookup is a broadcast LEFT join so missing positions
    # count 0 instead of dropping the gram
    marked = probe.join(
        F.broadcast(bits.withColumn("_set", F.lit(1))), "bit_pos", "left"
    )
    per_gram = marked.groupBy("doc_id", "g", "exact_hit").agg(
        F.sum(
            F.when(F.col("_set").isNotNull(), 1).otherwise(0)
        ).alias("n_set")
    )
    return (
        per_gram.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("n_set") == BLOOM_K).cast("long")
            ).alias("bloom_hits"),
            F.sum(F.col("exact_hit").cast("long")).alias("exact_hits"),
        )
        .withColumn(
            "false_pos", F.col("bloom_hits") - F.col("exact_hits")
        )
    )


def bloom_surviving_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRAM-level bloom prefilter: the (doc_id, g) corpus pairs whose
    gram bloom-hits. Because membership has no false negatives, every
    gram actually shared with the eval set survives — so downstream
    exact joins over the survivors are LOSSLESS while only ~9% of the
    gram stream (fixture measurement; FPR + true hits) reaches them.
    Granularity matters: DOC-level positivity is useless here (a 50-gram
    doc is positive if ANY gram hits ⇒ ~90% of docs), the per-gram
    remnant is the thing the filter shrinks."""
    grams, _eval_grams, with_h, positions, bits = _bloom_tables(
        spark, sf_dir
    )
    probe = (
        grams.filter(F.col("doc_id") % EVAL_MOD != 0)
        .select("doc_id", "g", *with_h)
        .select("doc_id", "g", F.explode(positions).alias("bit_pos"))
    )
    return (
        probe.join(F.broadcast(bits), "bit_pos")
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("n_set"))
        .filter(F.col("n_set") == BLOOM_K)
        .select("doc_id", "g")
    )


def contamination_with_bloom_prefilter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The production composition the filter exists for: run the EXACT
    ``ns_contamination`` join over only the bloom-surviving grams.
    Output-equal to the registered query (pinned in
    tests/test_pending_r15.py — the join shape below deliberately
    mirrors text.q_ns_contamination line for line; editing text.py
    instead would drag ten certified queries back into a full window).
    At 100 TB: the corpus gram stream passes one broadcast probe
    map-side, and only the surviving few percent enter the exact
    broadcast join + aggregation."""
    from .text import CONTAM_MIN_SHARED

    survivors = bloom_surviving_grams(spark, sf_dir)
    df = scale_out(spark, load_table(spark, sf_dir, "documents"))
    ws = F.split("text", " ")
    eval_grams = (
        df.filter(
            F.col("text").isNotNull() & (F.col("doc_id") % EVAL_MOD == 0)
        )
        .select(
            F.col("doc_id").alias("eval_doc_id"),
            F.explode(_word_ngrams(ws, CONTAM_N)).alias("g"),
        )
    )
    return (
        survivors.join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id", "eval_doc_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= CONTAM_MIN_SHARED)
    )


# ---------------------------------------------------------------------------
# ns_epoch_shard
# ---------------------------------------------------------------------------

EPOCH_SEED = 0
N_SHARDS = 8


def _shuffle_key_sql(seed: int) -> str:
    """Portable SQL for the per-doc shuffle key of one epoch."""
    return f"md5(concat('ep{seed}:', CAST(doc_id AS STRING)))"


_SHUFFLE_KEY_DUCK = _shuffle_key_sql(EPOCH_SEED).replace(
    "AS STRING", "AS VARCHAR"
)


def epoch_shard(df: DataFrame, seed: int = EPOCH_SEED) -> DataFrame:
    """Deterministic epoch shuffle: md5 shuffle key, hash shard, rank
    within shard. Library form so pipelines can run per-epoch seeds."""
    key = F.expr(_shuffle_key_sql(seed))
    shard = F.expr(
        f"({_hex_digit_sql('shuffle_key', 1)} * 16 "
        f"+ {_hex_digit_sql('shuffle_key', 2)}) % {N_SHARDS}"
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return (
        df.select("doc_id", key.alias("shuffle_key"))
        .withColumn("shard", shard.cast("int"))
        .withColumn("pos", F.row_number().over(w))
    )


def q_ns_epoch_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle for one epoch: every doc gets
    a reproducible (shard, position) — stable across runs, engines and
    cluster sizes, reshuffled by changing EPOCH_SEED. Scale shape: ONE
    hash exchange on shard + a per-shard sort; no global sort, no single
    reducer — the per-shard streams are what a loader reads in parallel."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return epoch_shard(docs)


def write_training_shards(
    docs: DataFrame, out_dir: str, seed: int = EPOCH_SEED
) -> None:
    """Materialize one epoch's training order: ``epoch_shard`` the docs,
    route each shard WHOLE to one task (``repartition(N_SHARDS,
    shard)`` — hash of a constant is constant, so a shard never splits
    across tasks ⇒ exactly one file per shard directory), sort within
    the task by (shard, pos), and write a hive-partitioned parquet
    layout ``shard=K/part-*.parquet`` whose in-file row order IS the
    training order — what a data loader consumes sequentially per
    shard, no shuffle at read time. Scale: one hash exchange + a
    per-task sort, the same cost as the shard query itself; at 100 TB
    raise N_SHARDS so a shard fits a task (shards/loader-workers are
    the same knob).

    Order-preservation is pinned in tests/test_pending_r15.py by
    reading the files back file-order (pyarrow) and comparing against
    the query's (shard, pos) assignment."""
    sharded = epoch_shard(docs.select("doc_id"), seed=seed).join(
        docs, "doc_id"
    )
    (
        sharded.repartition(N_SHARDS, F.col("shard"))
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )


# ---------------------------------------------------------------------------
# ns_embed_rp_project
# ---------------------------------------------------------------------------

RP_DIMS = 16  # 64 → 16: 4× smaller vectors; measured neighbor-vs-random
#               projected-cosine separation 0.34 vs 0.09 on the fixture
#               (8 dims gave 0.27 vs 0.11 — too thin a margin to pin)


def _rp_signs(j: int) -> list[int]:
    """±1 Rademacher row j — high bit of hex digit (i mod 32) of
    md5('rp:j:i'), the hyperplane_sign_bit convention in a distinct
    namespace (constants, folded driver-side in BOTH engines).

    Deliberate duplication note (review pass): this and
    ``rp_coordinate``/``_rp_coord_sql`` mirror similarity.py's
    ``hyperplane_sign_bit``/``_hp_sign_sql`` quantized-dot machinery
    rather than share it — parameterizing the originals means editing
    similarity.py, which drags its five certified queries back into an
    already-full certification window (the same window-arithmetic
    reason ``contamination_with_bloom_prefilter`` mirrors text.py).
    Both copies are independently parity-locked (their oracle hash
    tests), so a quantization-edge fix missed on one side fails CI
    rather than silently diverging. Collapse onto one helper in the
    round that next opens similarity.py."""
    signs = []
    for i in range(DIM):
        h = hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest()
        signs.append(1 if h[i % 32] >= "8" else -1)
    return signs


def rp_coordinate(embedding, j: int):
    """Projected coordinate j in exact integer micro-units: each
    component quantized to round(x·1e9) BEFORE the signed sum — the
    LSH_QUANTUM discipline, so the output is bit-identical across
    engines (IEEE product + half-away-from-zero round + integer sum)."""
    signs = _rp_signs(j)
    return F.aggregate(
        F.zip_with(
            embedding,
            F.array(*[F.lit(s) for s in signs]),
            lambda x, s: F.round(
                x.cast("double") * F.lit(LSH_QUANTUM)
            ).cast("long")
            * s,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def q_ns_embed_rp_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rademacher random projection 64 → RP_DIMS in integer micro-units:
    the dimension-reduction narrow map in front of clustering/ANN at
    scale (4× fewer bytes per vector here; real pipelines go 1024 → 64).
    Zero shuffle — a pure per-row projection; geometry preservation is
    pinned in tests (projected cosine of true near-neighbors beats
    random pairs)."""
    emb = scale_out(spark, load_table(spark, sf_dir, "embeddings"))
    return emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id",
        *[
            rp_coordinate(F.col("embedding"), j).alias(f"p{j}")
            for j in range(RP_DIMS)
        ],
    )


def _rp_coord_sql(j: int) -> str:
    """DuckDB side of coordinate j — the _hp_sign_sql term chain without
    the sign threshold."""
    terms = []
    for i, s in enumerate(_rp_signs(j)):
        sign = "+" if s > 0 else "-"
        terms.append(
            f"{sign} CAST(round(CAST(embedding[{i + 1}] AS DOUBLE)"
            f" * {LSH_QUANTUM:.1f}) AS BIGINT)"
        )
    return "(" + " ".join(terms) + ")"


RP_SHORTLIST = 100  # stage-1 candidates per query before the float re-rank
# Measured on the fixture (sf0.01, 2000 near-isotropic vectors):
# recall@10 = 0.44 / 0.56 / 0.76 at shortlist 50 / 100 / 200 — the JL
# distortion of a 16-dim ±1 projection (ε ≈ √(ln n / d)) is large
# relative to this fixture's thin cosine margins, so the projection is
# the COARSE first stage; `quantized_ann` (4× bytes, recall 1.0 at the
# same k) is the high-fidelity candidate scorer when margins are thin.
# Real embedding corpora have far sharper neighbor structure AND use
# shortlists that are a vanishing fraction of N, both of which push
# recall up; the test pins the monotone shortlist→recall curve and the
# measured floors rather than pretending a lossless shortcut.


def _proj_array(df: DataFrame) -> DataFrame:
    """Collapse the p0..p{RP_DIMS-1} coordinates into one array column
    (kept separate in the certified-shape query so the oracle compares
    scalar columns)."""
    return df.select(
        "vec_id",
        F.array(*[F.col(f"p{j}").cast("double") for j in range(RP_DIMS)])
        .alias("pvec"),
    )


def knn_rp_rerank(
    spark: SparkSession,
    sf_dir: str,
    k: int | None = None,
    shortlist: int = RP_SHORTLIST,
) -> DataFrame:
    """Two-stage retrieval on the projection: stage 1 scores ALL
    candidates in the 16-dim projected space (4× less data than the
    float vectors — the byte-budget argument of ``quantized_ann``, here
    bought with dimensionality instead of precision), keeps a
    ``shortlist`` per query; stage 2 re-ranks ONLY the shortlist with
    exact float cosine. Approximation-by-construction, so its metric is
    recall@k vs the exact brute force (tests pin it), not SQL parity —
    the ``ann_lsh_topk``/``knn_bruteforce_quantized`` adjudication.

    Scale shape: stage 1 is the broadcast-queries one-pass sweep over
    the small vectors; stage 2 touches float vectors for
    N_QUERIES × shortlist rows only (an equi-join on vec_id, nothing
    quadratic)."""
    from .similarity import (
        N_QUERIES,
        TOP_K,
        cosine_similarity,
    )

    if k is None:
        k = TOP_K
    proj = _proj_array(q_ns_embed_rp_project(spark, sf_dir))
    pq = proj.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("pvec").alias("q_pvec")
    )
    pcos = F.when(
        F.sqrt(_dot("q_pvec", "q_pvec")) * F.sqrt(_dot("pvec", "pvec")) > 0,
        _dot("q_pvec", "pvec")
        / (F.sqrt(_dot("q_pvec", "q_pvec")) * F.sqrt(_dot("pvec", "pvec"))),
    ).otherwise(F.lit(0.0))
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("pcos").desc(), F.col("neighbor_id")
    )
    cands = (
        proj.withColumnRenamed("vec_id", "neighbor_id")
        .crossJoin(F.broadcast(pq))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("pcos", pcos)
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    qe = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.round("cos", 6).desc(), F.col("neighbor_id")
    )
    return (
        cands.join(emb, cands.neighbor_id == emb.vec_id)
        .join(F.broadcast(qe), "query_id")
        .withColumn(
            "cos", cosine_similarity(F.col("qvec"), F.col("embedding"))
        )
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _dot(a: str, b: str):
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


# ---------------------------------------------------------------------------
# ns_span_scrub
# ---------------------------------------------------------------------------

SCRUB_N = 3  # span gram size (CONTAM_N convention)
SCRUB_MIN_DOCS = 6  # a gram in ≥ this many docs marks boilerplate
# Threshold measured on the fixture: at 6, 529 of 27 165 tokens (1.9%)
# scrub across 126 docs and NO doc is annihilated; at 4 a quarter of
# all tokens vanish (the corpus is built from a 31-word vocabulary, so
# low thresholds classify ordinary trigrams as boilerplate). Real
# corpora use the same knob against the same failure mode.


def q_ns_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level repetition scrub — the Gopher/RefinedWeb boilerplate
    treatment at span granularity: token positions covered by ANY
    corpus-frequent ``SCRUB_N``-gram (one appearing in ≥ SCRUB_MIN_DOCS
    distinct docs) are removed from the document; the rewritten text
    ships with before/after token accounting. Unlike ``ns_text_
    repetition`` (a per-doc SIGNAL) this is the TRANSFORM — the cleaned
    corpus is the output.

    Scale shape: gram occurrences are a narrow posexplode; the frequent
    set is vocabulary-sized AFTER the ≥-threshold filter (boilerplate
    is rare by definition) and broadcasts; covered positions aggregate
    with ONE hash exchange on doc_id; the rewrite is a per-row
    index-aware array filter (JVM-side, no Python). At 100 TB the
    doc-frequency pass is the same two-level aggregation as
    ``ns_vocab_topk``."""
    from .ngram_stats import _all_word_ngrams

    docs = scale_out(spark, load_table(spark, sf_dir, "documents"))
    t = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    occ = t.select(
        "doc_id",
        F.posexplode(_all_word_ngrams(F.col("ws"), SCRUB_N)).alias(
            "gpos", "g"
        ),
    )
    freq = (
        occ.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("d"))
        .filter(F.col("d") >= SCRUB_MIN_DOCS)
        .select("g")
    )
    cov = (
        occ.join(F.broadcast(freq), "g")
        .select(
            "doc_id",
            F.explode(
                F.array(
                    *[F.col("gpos") + F.lit(k + 1) for k in range(SCRUB_N)]
                )
            ).alias("tp"),  # 1-based token positions (gpos is 0-based)
        )
        .groupBy("doc_id")
        .agg(F.collect_set("tp").alias("cov"))
    )
    kept = F.filter(
        F.col("ws"),
        lambda x, i: ~F.array_contains(F.col("cov"), i + F.lit(1)),
    )
    return (
        t.join(cov, "doc_id", "left")
        .withColumn(
            "cov",
            F.coalesce(F.col("cov"), F.array().cast("array<int>")),
        )
        .select(
            "doc_id",
            F.size("ws").cast("long").alias("n_tokens"),
            (F.size("ws") - F.size(kept)).cast("long").alias("n_scrubbed"),
            F.array_join(kept, " ").alias("scrubbed_text"),
        )
    )


# ---------------------------------------------------------------------------
# ns_winnow_fingerprint / ns_winnow_pairs
# ---------------------------------------------------------------------------

WINNOW_K = 3  # gram size under each fingerprint
WINNOW_W = 4  # winnowing window (consecutive grams per window)
WINNOW_MIN_SHARED = 5  # shared fingerprints ⇒ overlap pair


def q_ns_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc winnowing fingerprints, as distinct (doc_id, fp) rows —
    the MOSS-style overlap-detection index (Schleimer/Wilkerson/Aiken,
    public): gram hash = first 48 md5 bits of the 3-gram string;
    fingerprint = the min hash of each ``WINNOW_W``-gram window.
    Set-of-values semantics sidestep the paper's rightmost-tie rule
    (value ties select the same VALUE either way), keeping both engines
    trivially aligned; density ~1/W of raw gram hashing with the
    paper's guarantee intact: any shared token run of ≥ WINNOW_K +
    WINNOW_W - 1 tokens shares ≥1 fingerprint.

    Plan note — why a WINDOW and not per-row nested arrays: the first
    build computed grams and window minima as nested higher-order
    expressions (transform-inside-transform over element_at); codegen
    does NOT common-subexpression the inner array, so every window
    re-evaluated the whole gram chain — O(m²) md5 calls per doc, a
    10-minute hang at sf0.1. The posexplode → sliding ``rowsBetween``
    min is O(m), one hash exchange on doc_id (which the downstream
    pair join re-uses as its own input anyway)."""
    docs = scale_out(spark, load_table(spark, sf_dir, "documents"))
    from .ngram_stats import _all_word_ngrams

    occ = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.posexplode(
                _all_word_ngrams(F.split("text", " "), WINNOW_K)
            ).alias("gpos", "g"),
        )
        .withColumn(
            "gh",
            F.conv(F.substring(F.md5("g"), 1, 12), 16, 10).cast("long"),
        )
    )
    wdoc = Window.partitionBy("doc_id")
    wmin = (
        Window.partitionBy("doc_id")
        .orderBy("gpos")
        .rowsBetween(0, WINNOW_W - 1)
    )
    return (
        occ.withColumn("m", F.count(F.lit(1)).over(wdoc))
        .withColumn("winmin", F.min("gh").over(wmin))
        # window start positions only: j0 ∈ [0, m-W]; a short doc
        # (m < W) keeps exactly its one clamped window at j0 = 0
        .filter(
            F.col("gpos")
            <= F.greatest(F.col("m") - WINNOW_W, F.lit(0))
        )
        .select("doc_id", F.col("winmin").alias("fp"))
        .distinct()
    )


def q_ns_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap pairs: docs sharing ≥ WINNOW_MIN_SHARED winnowing
    fingerprints — the cheap corpus-overlap miner the fingerprint index
    exists for (the SimHash-pairs plan shape on winnowed minima: one
    equi-join on fp, triangular dedup, one pair aggregation)."""
    fps = q_ns_winnow_fingerprint(spark, sf_dir)
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= WINNOW_MIN_SHARED)
    )


# ---------------------------------------------------------------------------
# ns_hll_set_algebra
# ---------------------------------------------------------------------------


def q_ns_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch ALGEBRA over the per-source vocabularies: HLL registers
    merge by register-wise MAX, so the union cardinality of two sources
    costs one max over 2×64 rows — no data re-scan — and intersection
    follows by inclusion-exclusion (est_a + est_b − est_union). This is
    the property that makes sketches the 100 TB answer: per-partition
    sketches combine associatively (map-side partials all the way up),
    and CROSS-DATASET set questions (\"how much vocabulary do sources
    share?\") are answered from stored constant-size state without
    touching the data again. Exact baselines certify both estimates
    (the CMS/HLL/quantile adjudication).

    Determinism: registers are the certified ``ns_approx_distinct_hll``
    machinery verbatim (imported, not copied); the final estimates are
    doubles built from exact integers and INJECTED ln literals, so
    est_a + est_b − est_union is bit-identical in both engines. The
    pair×register join is a bounded BNLJ over literal-sized frames
    (≤ #sources² × 64 rows — the quantile-sketch precedent).

    Defined edge: a source pair whose EXACT intersection is empty has
    no row in the per-pair intersection aggregate and therefore no
    output row (inner join, identical on both sides) — the query
    reports the algebra where there is overlap to estimate; an
    all-pairs report would LEFT-join and zero-fill instead."""
    df = load_table(spark, sf_dir, "documents")
    words = df.filter(F.col("text").isNotNull()).select(
        "source", F.explode(F.split("text", " ")).alias("word")
    )
    regs = _hll_source_registers(words)

    scale = 2**HLL_RHO_CAP

    def est_from(grouped):
        return grouped.agg(
            (
                F.sum(
                    F.pow(F.lit(2.0), HLL_RHO_CAP - F.col("mr")).cast("long")
                )
                + (HLL_BUCKETS - F.count(F.lit(1))) * F.lit(scale)
            ).alias("ssum"),
            (HLL_BUCKETS - F.count(F.lit(1))).alias("v"),
        ).withColumn("est", F.expr(_HLL_FINAL_SQL))

    per_source = est_from(regs.groupBy("source")).select(
        "source", F.col("est").alias("est_single")
    )
    srcs = words.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("src_a"))
        .crossJoin(srcs.select(F.col("source").alias("src_b")))
        .filter(F.col("src_a") < F.col("src_b"))
    )
    merged = (
        pairs.join(
            regs,
            (F.col("source") == F.col("src_a"))
            | (F.col("source") == F.col("src_b")),
        )
        .groupBy("src_a", "src_b", "bucket")
        .agg(F.max("mr").alias("mr"))
    )
    union_est = est_from(merged.groupBy("src_a", "src_b")).select(
        "src_a", "src_b", F.col("est").alias("est_union")
    )
    dw = words.distinct()
    exact_union = (
        pairs.join(
            dw,
            (F.col("source") == F.col("src_a"))
            | (F.col("source") == F.col("src_b")),
        )
        .groupBy("src_a", "src_b")
        .agg(F.countDistinct("word").alias("n_exact_union"))
    )
    wa = dw.select(F.col("source").alias("src_a"), "word")
    wb = dw.select(F.col("source").alias("src_b"), "word")
    exact_int = (
        wa.join(wb, "word")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_exact_intersect"))
    )
    ea = per_source.select(
        F.col("source").alias("src_a"), F.col("est_single").alias("est_a")
    )
    eb = per_source.select(
        F.col("source").alias("src_b"), F.col("est_single").alias("est_b")
    )
    return (
        union_est.join(exact_union, ["src_a", "src_b"])
        .join(exact_int, ["src_a", "src_b"])
        .join(ea, "src_a")
        .join(eb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_exact_union",
            F.round("est_union", 2).alias("hll_union"),
            "n_exact_intersect",
            F.round(
                F.col("est_a") + F.col("est_b") - F.col("est_union"), 2
            ).alias("hll_intersect"),
        )
    )


# ---------------------------------------------------------------------------
# ns_hll_incremental — persisted mergeable sketch state
# ---------------------------------------------------------------------------

# The corpus/batch split IS dedup's split (imported, not re-declared —
# review pass: a drifting second 10/7 pair would silently desync the
# two incremental pipelines' notion of "the new batch")
from .dedup import INCR_MOD as HLLI_MOD  # noqa: E402
from .dedup import INCR_REM as HLLI_REM  # noqa: E402


def _hll_source_registers(words: DataFrame) -> DataFrame:
    """(source, bucket, mr) HLL registers — the certified
    ns_approx_distinct_hll machinery keyed by source."""
    from .corpus import _HLL_BUCKET_SQL, _HLL_RHO_SQL

    return (
        words.select("source", F.md5("word").alias("hx"))
        .select(
            "source",
            F.expr(_HLL_BUCKET_SQL).alias("bucket"),
            F.expr(_HLL_RHO_SQL).alias("rho"),
        )
        .groupBy("source", "bucket")
        .agg(F.max("rho").alias("mr"))
    )


def _hll_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, word) over the non-null documents."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("word")
    )


def _hll_corpus_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _hll_source_registers(
        _hll_words(spark, sf_dir).filter(F.col("doc_id") % HLLI_MOD != HLLI_REM)
    )


#: The corpus slice's per-source HLL registers. The corpus/batch split is
#: part of the artifact's meaning: registers sketched under another split
#: do NOT cover this run's corpus slice (review pass). Column TYPES are
#: checked too: unionByName would coerce a string ``mr`` and turn the
#: register merge into a silent lexicographic max.
HLL_REGISTERS = ArtifactKind(
    name="HLL",
    prefix="sg_hll",
    columns={"source": "string", "bucket": "int", "mr": "int"},
    params={
        "hll_version": 1,
        "buckets": HLL_BUCKETS,
        "rho_cap": HLL_RHO_CAP,
        "split_mod": HLLI_MOD,
        "split_rem": HLLI_REM,
    },
    build=_hll_corpus_registers,
)


def q_ns_hll_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL sketch-state maintenance, the production pattern the
    sketch family exists for at 100 TB: run N persists the corpus's
    per-source HLL registers as a versioned parquet artifact (sidecar
    carries format version + sketch params — the
    ``ns_dedup_incremental_persisted`` contract); run N+1 hashes ONLY
    the new ~10% batch and MERGES its registers into the stored ones by
    register-wise max. Because max is associative+commutative, the
    merged state is EXACTLY the from-scratch state — not approximately:
    the output's ``reg_fp`` column fingerprints the merged register
    table, and the oracle computes its fingerprint from scratch over
    the full corpus, so the hash comparison certifies
    merge ≡ recompute bit-for-bit (the estimate column then inherits
    the certified single-table HLL adjudication).

    If no artifact exists for this exact table content, the corpus
    slice is sketched and persisted first (that write IS the prior
    run); on re-run only the batch is hashed. Scale: the artifact is
    ≤ #sources × 64 rows regardless of corpus size — incremental
    statistics cost O(batch) + O(state), never O(corpus)."""
    stored = ensure_artifact(spark, HLL_REGISTERS, sf_dir)
    words = _hll_words(spark, sf_dir)
    batch_regs = _hll_source_registers(
        words.filter(F.col("doc_id") % HLLI_MOD == HLLI_REM)
    )
    merged = (
        stored.unionByName(batch_regs)
        .groupBy("source", "bucket")
        .agg(F.max("mr").alias("mr"))
    )
    scale = 2**HLL_RHO_CAP
    per_src = merged.groupBy("source").agg(
        (
            F.sum(
                F.pow(F.lit(2.0), HLL_RHO_CAP - F.col("mr")).cast("long")
            )
            + (HLL_BUCKETS - F.count(F.lit(1))) * F.lit(scale)
        ).alias("ssum"),
        (HLL_BUCKETS - F.count(F.lit(1))).alias("v"),
        F.md5(
            F.concat_ws(
                ",",
                F.sort_array(
                    F.collect_list(F.concat_ws(":", "bucket", "mr"))
                ),
            )
        ).alias("reg_fp"),
    )
    exact = words.groupBy("source").agg(
        F.countDistinct("word").alias("n_exact")
    )
    return (
        per_src.join(exact, "source")
        .select(
            "source",
            "n_exact",
            "reg_fp",
            F.round(F.expr(_HLL_FINAL_SQL), 2).alias("hll_estimate"),
        )
    )


def _hll_incremental_oracle() -> str:
    """From-scratch registers over the FULL corpus — the oracle never
    sees the artifact; fingerprint equality IS the merge≡recompute
    certification."""
    from .corpus import _HLL_BUCKET_SQL, _HLL_RHO_SQL

    scale = 2**HLL_RHO_CAP
    return f"""
        WITH words AS (
            SELECT source, unnest(string_split(text, ' ')) AS word
            FROM documents WHERE text IS NOT NULL
        ),
        h AS (SELECT source, md5(word) AS hx FROM words),
        reg AS (
            SELECT source, {_HLL_BUCKET_SQL} AS bucket,
                   {_HLL_RHO_SQL} AS rho
            FROM h
        ),
        m AS (
            SELECT source, bucket, max(rho) AS mr FROM reg GROUP BY 1, 2
        ),
        s AS (
            SELECT source,
                   sum(CAST(pow(2, {HLL_RHO_CAP} - mr) AS BIGINT))
                   + ({HLL_BUCKETS} - count(*)) * {scale} AS ssum,
                   {HLL_BUCKETS} - count(*) AS v,
                   md5(array_to_string(list_sort(list(
                       CAST(bucket AS VARCHAR) || ':' ||
                       CAST(mr AS VARCHAR))), ',')) AS reg_fp
            FROM m GROUP BY source
        ),
        ex AS (
            SELECT source, CAST(count(DISTINCT word) AS BIGINT) AS n_exact
            FROM words GROUP BY source
        )
        SELECT s.source, ex.n_exact, s.reg_fp,
               round({_HLL_FINAL_SQL}, 2) AS hll_estimate
        FROM s JOIN ex USING (source)
    """


CURATE_MIN_LOGIT = -45_000  # pipeline-calibrated gate (curate_epoch note)
CURATE_TOKEN_BUDGET = 800  # measured so the 'budget' stage actually
#   FIRES at sf0.01 (top survivor sources carry ~1300 tokens; a
#   never-exceeded budget would make the lineage's last stage
#   certify nothing — the CMS-width discipline applied to a stage)


def q_ns_curation_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc LINEAGE through the full curation pipeline: every doc
    labeled with the FIRST stage that dropped it — ``null_text`` →
    ``quality`` → ``contaminated`` → ``scrubbed_empty`` →
    ``duplicate`` → ``budget`` — or ``kept``. The debuggability face of
    ``curate_epoch``: at 100 TB, "why did my doc disappear" must be a
    query, not a re-run with print statements; this is that query,
    certified end-to-end because every stage is individually exact
    cross-engine.

    The certification carries a theorem: the Spark side derives the
    contaminated set through the BLOOM-PREFILTERED join while the
    oracle uses the plain exact contamination join — the hash can only
    match because the prefilter is lossless (no false negatives), so
    every driver round re-proves the composition property, not just the
    arithmetic."""
    from .ngram_stats import q_ns_quality_logit

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    logit = q_ns_quality_logit(spark, sf_dir).select(
        "doc_id", "logit_micro"
    )
    contaminated = (
        contamination_with_bloom_prefilter(spark, sf_dir)
        .select("doc_id")
        .distinct()
        .withColumn("_cont", F.lit(1))
    )
    scrub = q_ns_span_scrub(spark, sf_dir).select(
        "doc_id", "scrubbed_text"
    )
    base = (
        docs.join(logit, "doc_id", "left")
        .join(F.broadcast(contaminated), "doc_id", "left")
        .join(scrub, "doc_id", "left")
    )
    early = (
        F.when(F.col("text").isNull(), "null_text")
        .when(F.col("logit_micro") < CURATE_MIN_LOGIT, "quality")
        .when(F.col("_cont").isNotNull(), "contaminated")
        .when(F.col("scrubbed_text") == "", "scrubbed_empty")
    )
    # ONE pass, no self-joins (review pass: the first build joined
    # ranked→budgeted→base, re-deriving the scrub/bloom upstream per
    # branch): survivors rank within their scrubbed-text group while
    # early-dropped rows sit alone in synthetic singleton partitions
    # (their rank is never consulted); the budget consumes only
    # (survivor, rk=1) token counts via a conditional running sum —
    # rows contributing 0 can sit anywhere in the source order without
    # changing any kept row's cumulative.
    all_ = (
        base.withColumn("_early", early)
        .withColumn(
            "nt",
            F.size(F.split("scrubbed_text", " ")).cast("long"),
        )
        .withColumn(
            "_part",
            F.when(
                F.col("_early").isNull(), F.md5("scrubbed_text")
            ).otherwise(F.concat(F.lit("x"), F.col("doc_id"))),
        )
    )
    w_fp = Window.partitionBy("_part").orderBy("doc_id")
    w_src = Window.partitionBy("source").orderBy(
        F.desc("logit_micro"), F.asc("doc_id")
    )
    rk = F.row_number().over(w_fp)
    labeled = all_.withColumn("rk", rk).withColumn(
        "cum_kept",
        F.sum(
            F.when(
                F.col("_early").isNull() & (F.col("rk") == 1),
                F.col("nt"),
            ).otherwise(F.lit(0).cast("long"))
        ).over(
            w_src.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return labeled.select(
        "doc_id",
        "source",
        F.coalesce(
            F.col("_early"),
            F.when(F.col("rk") > 1, "duplicate").when(
                (F.col("cum_kept") - F.col("nt")) < CURATE_TOKEN_BUDGET,
                "kept",
            ).otherwise("budget"),
        ).alias("stage"),
    )


def streaming_hll_registers(spark: SparkSession, staged_dir: str):
    """The SAME register table as a STREAMING aggregation: because the
    sketch state is one groupBy-max, Structured Streaming maintains it
    with no custom stateful code — registers converge to exactly the
    batch registers (order-independence of max), pinned by the
    equivalence test. The streaming face of ``ns_hll_incremental``:
    batch runs merge persisted artifacts; a stream keeps the same state
    hot in the state store."""
    schema = spark.read.parquet(staged_dir).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged_dir)
    )
    words = src.filter(F.col("text").isNotNull()).select(
        "source", F.explode(F.split("text", " ")).alias("word")
    )
    return _hll_source_registers(words)


# ---------------------------------------------------------------------------
# curate_epoch — the tranche capstone composition
# ---------------------------------------------------------------------------


def curate_epoch(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    seed: int = EPOCH_SEED,
    token_budget: int = CURATE_TOKEN_BUDGET,
    min_logit: int = CURATE_MIN_LOGIT,
):
    """One full curation EPOCH, end to end, from already-certified
    stages: quality gate (``ns_quality_logit`` keep flag) → benchmark
    DECONTAMINATION (drop every doc the bloom-prefiltered exact
    contamination join flags — the ``contamination_with_bloom_
    prefilter`` composition doing its production job) → boilerplate
    transform (``ns_span_scrub`` rewritten text) → exact dedup on the
    SCRUBBED text (md5 group, min-doc_id keeper — dedup AFTER scrubbing
    so boilerplate-only differences collapse) → per-source token-budget
    fill over scrubbed token counts (the ``ns_token_budget_mix``
    watermark rule) → ``write_training_shards``. Returns the per-stage
    accounting dict the pipeline operator would emit as metrics.

    This is the ``ns_pipeline_curate`` flagship grown to the full
    r13-r15 surface: signal → transform → dedup → mixture → ordered
    materialization. Every stage is individually oracle-certified or
    order-pinned; the test asserts the composition's invariants
    (monotone counts, no duplicate scrubbed texts written, budget
    watermark per source, shard files in training order)."""
    from .ngram_stats import q_ns_quality_logit

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    # the gate is the certified logit with a PIPELINE-calibrated cutoff
    # (the query's own keep flag thresholds at 0, which this corpus's
    # all-negative score range never reaches — calibrating the cutoff
    # to the corpus is exactly what production quality gates do; the
    # default drops the fixture's bottom quartile)
    gate_q = (
        q_ns_quality_logit(spark, sf_dir)
        .filter(F.col("logit_micro") >= min_logit)
        .select("doc_id", "logit_micro")
    )
    scrub = q_ns_span_scrub(spark, sf_dir).select(
        "doc_id", "scrubbed_text"
    )
    # decontamination: every doc flagged by the (lossless) bloom-
    # prefiltered exact contamination join leaves the corpus — LEFT
    # ANTI against the tiny flagged set; persisted because it feeds
    # the base join AND the accounting count
    contaminated = contamination_with_bloom_prefilter(
        spark, sf_dir
    ).select("doc_id").distinct()
    gate = gate_q.join(contaminated, "doc_id", "left_anti").persist()
    # persisted: `base` feeds the dedup window AND its own count;
    # `kept` feeds the shard write AND its count — without the persist
    # each metric action re-runs the scrub's doc-frequency aggregation
    # from the source files (the review-pass find; at the scale the
    # docstring targets, the metrics would quadruple the epoch cost)
    base = (
        docs.join(gate, "doc_id")
        .join(scrub, "doc_id")
        .filter(F.length("scrubbed_text") > 0)
        .persist()
    )
    # exact dedup on the cleaned text: min doc_id keeps
    w_fp = Window.partitionBy(F.md5("scrubbed_text")).orderBy("doc_id")
    unique = (
        base.withColumn("_rk", F.row_number().over(w_fp))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    # per-source token-budget watermark over scrubbed token counts
    nt = F.size(F.split("scrubbed_text", " ")).cast("long")
    w_src = Window.partitionBy("source").orderBy(
        F.desc("logit_micro"), F.asc("doc_id")
    )
    cum = F.sum("n_tokens").over(
        w_src.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        unique.withColumn("n_tokens", nt)
        .withColumn("cum_tokens", cum)
        .filter((F.col("cum_tokens") - F.col("n_tokens")) < token_budget)
    )
    kept = filled.select(
        "doc_id", "source", "scrubbed_text", "n_tokens"
    ).persist()
    try:
        write_training_shards(kept, out_dir, seed=seed)
        return {
            "n_input": docs.count(),
            # each stage counted AT its stage — a quality-kept doc the
            # scrub annihilates must not read as gate attrition, nor a
            # contaminated one as quality attrition (review pass)
            "n_quality": gate_q.count(),
            "n_decontam_survivors": gate.count(),
            "n_scrub_survivors": base.count(),
            "n_unique": unique.count(),
            "n_written": kept.count(),
        }
    finally:
        kept.unpersist()
        base.unpersist()
        gate.unpersist()


# ---------------------------------------------------------------------------
# registry + oracles
# ---------------------------------------------------------------------------

QUERIES_PENDING_R15 = {
    "ns_bloom_decontam": q_ns_bloom_decontam,
    "ns_epoch_shard": q_ns_epoch_shard,
    "ns_embed_rp_project": q_ns_embed_rp_project,
    "ns_span_scrub": q_ns_span_scrub,
    "ns_winnow_fingerprint": q_ns_winnow_fingerprint,
    "ns_winnow_pairs": q_ns_winnow_pairs,
}

# hex→int arithmetic over the first 12 md5 hex digits of the gram string
# (the rollhash oracle convention: from_hex is BLOB, so no direct cast)
_W_GHASH = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(g), {d + 1}, 1)) - 1)"
    f" * {16 ** (11 - d)}"
    for d in range(12)
)

_WINNOW_FP_CTES = f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS ws
        FROM documents WHERE text IS NOT NULL
    ),
    g AS (
        SELECT doc_id,
               list_transform(
                   list_transform(range(1, len(ws) - {WINNOW_K - 2}), i ->
                       {" || ' ' || ".join(f"ws[i + {k}]" for k in range(WINNOW_K))}
                   ),
                   g -> CAST({_W_GHASH} AS BIGINT)
               ) AS grams
        FROM t
    ),
    f AS (
        SELECT doc_id,
               CASE WHEN len(grams) = 0 THEN CAST([] AS BIGINT[]) ELSE
                   list_distinct(list_transform(
                       range(1, greatest(len(grams) - {WINNOW_W - 1}, 1) + 1),
                       j -> list_min(grams[j:j+{WINNOW_W - 1}])
                   ))
               END AS fps
        FROM g
    ),
    fp AS (SELECT doc_id, unnest(fps) AS fp FROM f)
"""

_SCRUB_GRAM_EXPR = " || ' ' || ".join(
    f"ws[i + {k}]" for k in range(SCRUB_N)
)

# The span-scrub CTE chain, shared verbatim by the scrub oracle and the
# curation-lineage oracle (one definition — a drifting copy would let
# the lineage's 'scrubbed_empty'/'duplicate' stages diverge from the
# certified transform).
_SPAN_SCRUB_CTES = f"""t AS (
            SELECT doc_id, string_split(text, ' ') AS ws
            FROM documents WHERE text IS NOT NULL
        ),
        occ AS (
            SELECT doc_id, i, {_SCRUB_GRAM_EXPR} AS g
            FROM t, (SELECT unnest(range(1, 4000)) AS i)
            WHERE i + {SCRUB_N - 1} <= len(ws)
        ),
        freq AS (
            SELECT g FROM (
                SELECT g, count(DISTINCT doc_id) AS d FROM occ GROUP BY g
            ) WHERE d >= {SCRUB_MIN_DOCS}
        ),
        cov AS (
            SELECT DISTINCT doc_id, i + k AS tp
            FROM occ JOIN freq USING (g),
                 (SELECT unnest(range(0, {SCRUB_N})) AS k)
        ),
        covl AS (
            SELECT doc_id, list(tp) AS cov FROM cov GROUP BY doc_id
        ),
        rew AS (
            SELECT t.doc_id, ws,
                   list_filter(
                       ws,
                       (x, i) -> NOT list_contains(
                           coalesce(cov, CAST([] AS BIGINT[])), i
                       )
                   ) AS kept
            FROM t LEFT JOIN covl ON t.doc_id = covl.doc_id
        )"""

_BLOOM_POS = [_bloom_pos_sql(f"h{i}") for i in range(BLOOM_K)]

ORACLES_PENDING_R15 = {
    "ns_bloom_decontam": f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS ws
            FROM documents WHERE text IS NOT NULL
        ),
        grams AS (
            SELECT DISTINCT doc_id, {_CONTAM_GRAM_EXPR} AS g
            FROM t, (SELECT unnest(range(1, 4000)) AS i)
            WHERE i + {CONTAM_N - 1} <= len(ws)
        ),
        eg AS (
            SELECT DISTINCT g FROM grams WHERE doc_id % {EVAL_MOD} = 0
        ),
        eh AS (
            SELECT g, {", ".join(f"md5(concat('bf{i}:', g)) AS h{i}" for i in range(BLOOM_K))}
            FROM eg
        ),
        bits AS (
            {" UNION ".join(f"SELECT {p} AS bit_pos FROM eh" for p in _BLOOM_POS)}
        ),
        corpus AS (
            SELECT doc_id, g,
                   {", ".join(f"md5(concat('bf{i}:', g)) AS h{i}" for i in range(BLOOM_K))}
            FROM grams WHERE doc_id % {EVAL_MOD} <> 0
        ),
        verdicts AS (
            SELECT doc_id, g,
                   ({" AND ".join(f"{p} IN (SELECT bit_pos FROM bits)" for p in _BLOOM_POS)})
                       AS bloom_hit,
                   g IN (SELECT g FROM eg) AS exact_hit
            FROM corpus
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
                   AS bloom_hits,
               CAST(sum(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT)
                   AS exact_hits,
               CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END)
                    - sum(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT)
                   AS false_pos
        FROM verdicts
        GROUP BY doc_id
    """,
    "ns_epoch_shard": f"""
        WITH keyed AS (
            SELECT doc_id, {_SHUFFLE_KEY_DUCK} AS shuffle_key
            FROM documents
        )
        SELECT doc_id, shuffle_key,
               CAST(({_hex_digit_sql('shuffle_key', 1)} * 16
                     + {_hex_digit_sql('shuffle_key', 2)}) % {N_SHARDS}
                    AS INT) AS shard,
               CAST(row_number() OVER (
                   PARTITION BY ({_hex_digit_sql('shuffle_key', 1)} * 16
                                 + {_hex_digit_sql('shuffle_key', 2)})
                                % {N_SHARDS}
                   ORDER BY shuffle_key, doc_id
               ) AS INT) AS pos
        FROM keyed
    """,
    "ns_embed_rp_project": f"""
        SELECT vec_id,
               {", ".join(f"{_rp_coord_sql(j)} AS p{j}" for j in range(RP_DIMS))}
        FROM embeddings
        WHERE embedding IS NOT NULL
    """,
    "ns_span_scrub": f"""
        WITH {_SPAN_SCRUB_CTES}
        SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n_tokens,
               CAST(len(ws) - len(kept) AS BIGINT) AS n_scrubbed,
               -- engine edge the sf0.1 differential caught: DuckDB's
               -- array_to_string([]) is NULL where Spark's array_join
               -- is '' — a fully-scrubbed doc (sf0.1 has 16-token docs
               -- that are pure boilerplate) is DEFINED as '' on both
               coalesce(array_to_string(kept, ' '), '') AS scrubbed_text
        FROM rew
    """,
    "ns_winnow_fingerprint": f"""
        {_WINNOW_FP_CTES}
        SELECT doc_id, CAST(fp AS BIGINT) AS fp FROM fp
    """,
    "ns_winnow_pairs": f"""
        {_WINNOW_FP_CTES}
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS shared_fps
        FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= {WINNOW_MIN_SHARED}
    """,
}


def _hll_algebra_oracle() -> str:
    from .corpus import _HLL_BUCKET_SQL, _HLL_RHO_SQL

    scale = 2**HLL_RHO_CAP
    ssum_v = (
        f"sum(CAST(pow(2, {HLL_RHO_CAP} - mr) AS BIGINT))"
        f" + ({HLL_BUCKETS} - count(*)) * {scale} AS ssum,"
        f" {HLL_BUCKETS} - count(*) AS v"
    )
    return f"""
        WITH words AS (
            SELECT source, unnest(string_split(text, ' ')) AS word
            FROM documents WHERE text IS NOT NULL
        ),
        h AS (SELECT source, md5(word) AS hx FROM words),
        reg AS (
            SELECT source, {_HLL_BUCKET_SQL} AS bucket, {_HLL_RHO_SQL} AS rho
            FROM h
        ),
        m AS (
            SELECT source, bucket, max(rho) AS mr FROM reg GROUP BY 1, 2
        ),
        srcs AS (SELECT DISTINCT source FROM words),
        pairs AS (
            SELECT a.source AS src_a, b.source AS src_b
            FROM srcs a, srcs b WHERE a.source < b.source
        ),
        s1 AS (SELECT source, {ssum_v} FROM m GROUP BY source),
        e1 AS (SELECT source, {_HLL_FINAL_SQL} AS est FROM s1),
        mm AS (
            SELECT src_a, src_b, bucket, max(mr) AS mr
            FROM pairs JOIN m ON source = src_a OR source = src_b
            GROUP BY 1, 2, 3
        ),
        su AS (SELECT src_a, src_b, {ssum_v} FROM mm GROUP BY 1, 2),
        eu AS (SELECT src_a, src_b, {_HLL_FINAL_SQL} AS est_union FROM su),
        dw AS (SELECT DISTINCT source, word FROM words),
        xu AS (
            SELECT src_a, src_b,
                   CAST(count(DISTINCT word) AS BIGINT) AS n_exact_union
            FROM pairs JOIN dw ON source = src_a OR source = src_b
            GROUP BY 1, 2
        ),
        xi AS (
            SELECT a.source AS src_a, b.source AS src_b,
                   CAST(count(*) AS BIGINT) AS n_exact_intersect
            FROM dw a JOIN dw b
              ON a.word = b.word AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT eu.src_a, eu.src_b, xu.n_exact_union,
               round(est_union, 2) AS hll_union,
               xi.n_exact_intersect,
               round(ea.est + eb.est - est_union, 2) AS hll_intersect
        FROM eu
        JOIN xu USING (src_a, src_b)
        JOIN xi USING (src_a, src_b)
        JOIN e1 ea ON ea.source = eu.src_a
        JOIN e1 eb ON eb.source = eu.src_b
    """


QUERIES_PENDING_R15["ns_hll_set_algebra"] = q_ns_hll_set_algebra
ORACLES_PENDING_R15["ns_hll_set_algebra"] = _hll_algebra_oracle()

# The second real compressed format through the codec seam (gif_media
# module docstring): staged here so its differential runs every round.
from .gif_media import ORACLES as _GIF_ORACLES  # noqa: E402
from .gif_media import QUERIES as _GIF_QUERIES  # noqa: E402

QUERIES_PENDING_R15.update(_GIF_QUERIES)
ORACLES_PENDING_R15.update(_GIF_ORACLES)

QUERIES_PENDING_R15["ns_hll_incremental"] = q_ns_hll_incremental
ORACLES_PENDING_R15["ns_hll_incremental"] = _hll_incremental_oracle()


def _lineage_oracle() -> str:
    """The whole pipeline as one DuckDB CTE chain. Contamination is the
    PLAIN exact join here (the Spark side runs the bloom prefilter) —
    hash equality proves the lossless-composition theorem each round.
    The scrub CTEs are the shared ``_SPAN_SCRUB_CTES`` definition."""
    from .curation import _LOGIT_SQL
    from .text import CONTAM_MIN_SHARED

    cgram = " || ' ' || ".join(f"ws[i + {k}]" for k in range(CONTAM_N))
    return f"""
        WITH {_SPAN_SCRUB_CTES},
        scrub AS (
            SELECT doc_id,
                   coalesce(array_to_string(kept, ' '), '') AS scrubbed
            FROM rew
        ),
        lg AS (
            SELECT doc_id, CAST({_LOGIT_SQL} AS BIGINT) AS logit
            FROM documents WHERE text IS NOT NULL
        ),
        cgrams AS (
            SELECT DISTINCT doc_id, {cgram} AS g
            FROM t, (SELECT unnest(range(1, 4000)) AS i)
            WHERE i + {CONTAM_N - 1} <= len(ws)
        ),
        cont AS (
            SELECT DISTINCT doc_id FROM (
                SELECT c.doc_id, e.doc_id AS ed
                FROM cgrams c
                JOIN cgrams e ON c.g = e.g
                WHERE e.doc_id % {EVAL_MOD} = 0
                  AND c.doc_id % {EVAL_MOD} <> 0
                GROUP BY 1, 2
                HAVING count(*) >= {CONTAM_MIN_SHARED}
            )
        ),
        surv AS (
            SELECT d.doc_id, d.source, l.logit, s.scrubbed,
                   CAST(len(string_split(s.scrubbed, ' ')) AS BIGINT)
                       AS nt
            FROM documents d
            JOIN lg l ON d.doc_id = l.doc_id
            JOIN scrub s ON d.doc_id = s.doc_id
            WHERE l.logit >= {CURATE_MIN_LOGIT}
              AND d.doc_id NOT IN (SELECT doc_id FROM cont)
              AND s.scrubbed <> ''
        ),
        rk AS (
            SELECT *, row_number() OVER (
                PARTITION BY md5(scrubbed) ORDER BY doc_id
            ) AS rk FROM surv
        ),
        bud AS (
            SELECT doc_id, nt, sum(nt) OVER (
                PARTITION BY source
                ORDER BY logit DESC, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS cum
            FROM rk WHERE rk = 1
        )
        SELECT d.doc_id, d.source,
               CASE WHEN d.text IS NULL THEN 'null_text'
                    WHEN l.logit < {CURATE_MIN_LOGIT} THEN 'quality'
                    WHEN d.doc_id IN (SELECT doc_id FROM cont)
                        THEN 'contaminated'
                    WHEN s.scrubbed = '' THEN 'scrubbed_empty'
                    WHEN r.rk > 1 THEN 'duplicate'
                    WHEN (b.cum - b.nt) >= {CURATE_TOKEN_BUDGET}
                        THEN 'budget'
                    ELSE 'kept' END AS stage
        FROM documents d
        LEFT JOIN lg l ON d.doc_id = l.doc_id
        LEFT JOIN scrub s ON d.doc_id = s.doc_id
        LEFT JOIN rk r ON d.doc_id = r.doc_id
        LEFT JOIN bud b ON d.doc_id = b.doc_id
    """


QUERIES_PENDING_R15["ns_curation_lineage"] = q_ns_curation_lineage
ORACLES_PENDING_R15["ns_curation_lineage"] = _lineage_oracle()


# ---------------------------------------------------------------------------
# REGISTERED surface (round 16): ns_bloom_decontam promoted from the
# staged tranche into the driver contract — the COVERAGE.md round-16
# window plan's designated "+1" (49 r13 rotations + this = exactly 50).
# The constant-size decontamination pre-filter is the single most
# production-relevant staged query: the bloom filter's size is fixed
# regardless of eval-set size, the corpus streams map-only through it,
# and only the positive remnant pays the exact join. Registration is the
# promised rename, not new risk: this query has run its DuckDB
# differential at sf0.001+sf0.01 every round since r13
# (tests/test_pending_r15.py) plus the randomized docs family, and
# hash-matched at sf0.1. The other staged pending_r15 queries stay in
# QUERIES_PENDING_R15 until their r17+ slots.
# ---------------------------------------------------------------------------

# Round 17 promotions (the COVERAGE.md r17 window plan merged with
# VERDICT r16 #5/#7 priorities): the winnowing overlap pair (the judge's
# next-after-top-two pick), the HLL mergeability + incrementality pair,
# the curate_epoch lineage capstone, and ns_mm_gif_features — the first
# CERTIFIED query on a compressed codec (VERDICT r16 #7). Same
# de-risking basis as every promotion: each has run its DuckDB
# differential at sf0.001+sf0.01 every round since r13
# (tests/test_pending_r15.py) plus the randomized fixture families;
# ns_curation_lineage is additionally pre-certified conf-invariant
# (tests/test_conf_robustness.py). Still staged for r18+:
# ns_epoch_shard, ns_embed_rp_project, ns_span_scrub.

QUERIES = {
    "ns_bloom_decontam": q_ns_bloom_decontam,
    "ns_winnow_fingerprint": q_ns_winnow_fingerprint,
    "ns_winnow_pairs": q_ns_winnow_pairs,
    "ns_hll_set_algebra": q_ns_hll_set_algebra,
    "ns_hll_incremental": q_ns_hll_incremental,
    "ns_curation_lineage": q_ns_curation_lineage,
    **_GIF_QUERIES,
}
ORACLES = {
    name: ORACLES_PENDING_R15[name] for name in QUERIES
}
