"""Deduplication operators — north-star extension (SURVEY.md §2.5):
exact dedup, MinHash+LSH near-dup, SimHash, n-gram Jaccard.

Portability design: every hash is ``md5`` (lowercase hex both engines) and
MinHash "hash function" *i* is ``min(md5('i:' || word))`` under string
ordering — so the DuckDB oracle replicates the pipeline exactly, value for
value, with no engine-native hash().

Scale design (100 TB):
- Exact dedup: hash-groupBy on md5(text) — one shuffle, map-side partial.
- MinHash: signatures are computed per-row with array expressions
  (``transform``/``array_min`` over the distinct-word array) — NO explode,
  NO shuffle; the only shuffles are the band bucket-join (keyed by
  (band_idx, band_hash) — the classic LSH join, AQE handles bucket skew)
  and the candidate-verification joins, which are keyed by doc_id and
  broadcast automatically when the doc-array side is small.
- Verification: exact Jaccard via ``array_intersect`` on the two word
  arrays — one row per candidate pair, instead of exploding pairs×words
  into a shuffle+groupBy (54× row inflation at avg 54 words/doc).
- SimHash: per-row bit computation from one ``transform(ws, md5)`` pass —
  32 ``filter``+``size`` counts over the md5 array, no explode/groupBy.
- Winnowing (bottom): MOSS-style per-doc fingerprints — one doc-keyed
  window exchange — and the overlap-pair miner over them (one equi-join
  on the fingerprint, one pair aggregation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..cache import ArtifactKind, append_artifact, ensure_artifact, write_artifact
from ..catalog import load_table, scale_out
from ..fsmeta import docs_fingerprint
from .ngram_stats import LOGIT_SQL as _LOGIT_SQL_SRC

N_HASHES = 16
N_BANDS = 4  # 4 rows per band
ROWS_PER_BAND = N_HASHES // N_BANDS
JACCARD_THRESHOLD = 0.95
SIMHASH_BITS = 32
HAMMING_MAX = 3


def _doc_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "documents")
    return df.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )


def _doc_word_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ws): the distinct-word set of each document as an array —
    the explode-free shape every array-native dedup stage starts from.
    ``scale_out`` spreads single-split fixture scans so signature compute
    parallelizes (no-op on real multi-split inputs)."""
    df = scale_out(spark, load_table(spark, sf_dir, "documents"))
    return df.filter(F.col("text").isNotNull()).select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("ws")
    )


def q_ns_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content hash: per distinct text, multiplicity and the
    representative (min) doc_id kept by the dedup policy."""
    df = load_table(spark, sf_dir, "documents")
    return (
        df.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def minhash_signatures(words: DataFrame) -> DataFrame:
    """(doc_id, h0..h15): minhash signature, one aggregation pass.

    Kept for the exploded-words shape; the hot path uses
    :func:`minhash_signatures_from_arrays` (no shuffle at all).
    """
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("w")))).alias(f"h{i}")
        for i in range(N_HASHES)
    ]
    return words.groupBy("doc_id").agg(*aggs)


def minhash_signatures_from_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, ws, h0..h15) computed per-row: hash function *i* is
    min(md5('i:' || w)) over the word array — a narrow projection, no
    explode and no shuffle (each of N docs costs N_HASHES map-side
    transforms; at 100 TB this is embarrassingly parallel)."""

    def sig(i: int):
        return F.array_min(
            F.transform("ws", lambda w: F.md5(F.concat(F.lit(f"{i}:"), w)))
        ).alias(f"h{i}")

    return docs.select("doc_id", "ws", *[sig(i) for i in range(N_HASHES)])


def _bands_array():
    """The banded-signature expression shared by every LSH candidate
    generator: md5 over each band's ROWS_PER_BAND signature columns."""
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"h{b * ROWS_PER_BAND + r}")
                        for r in range(ROWS_PER_BAND)
                    ],
                )
            )
            for b in range(N_BANDS)
        ]
    )


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Band the signature (4 bands × 4 rows), bucket-join on band hash.

    Cross-band dedup via ``distinct()`` — deliberately, after measuring the
    alternatives at sf0.1 (which has a ~2.3k-doc near-dup mega-cluster, so
    the bucket join is heavily skew-quadratic):

    - distinct's map-side partial aggregation compresses the hot bucket's
      pair stream (bands×pairs rows) BEFORE the shuffle, and its exchange
      rebalances the pairs so exact-Jaccard verification parallelizes;
    - a "first-matching-band" filter (keep the pair only on the first band
      both docs share) avoids the aggregation but leaves the pair stream in
      the band_hash partitioning — the mega-cluster's millions of pairs pin
      to one task and verification runs 4× slower;
    - the remaining scale risk is pair *generation* inside the hot bucket's
      single join task (inherently quadratic in cluster size); the 100 TB
      mitigation is triangular salting of the self-join (split hot buckets
      into s blocks, join block pairs i ≤ j) — the r15 sf1 spot-check
      measured exactly this demotion (BENCH_NOTES r15, CORRECTION), so as
      of r16 the REGISTERED minhash queries use
      :func:`lsh_candidate_pairs_salted`; this plain join stays library
      surface for graphs without hot clusters.
    """
    bands = _bands_array()
    banded = sigs.select(
        "doc_id", F.posexplode(bands).alias("band_idx", "band_hash")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


N_SALT_BLOCKS = 8


def _first_shared_band():
    """Join-filter that keeps a banded pair row only at the pair's FIRST
    shared band: band_idx ``b`` survives iff ``bands_a[i] != bands_b[i]``
    for every ``i < b``. A pair sharing k bands is generated k times by a
    banded equi-join; this gate makes exactly one row (the minimal shared
    band) survive, replacing the ``distinct()`` that shuffled the whole
    O(pairs) candidate stream just to drop cross-band duplicates (guide
    §2.4 / §8 — both sides carry the 4-hash ``bands`` array, a few bytes
    on the small banded-row shuffle instead of an exchange of the huge
    pair stream). Band hashes are md5 over ``concat_ws`` — never null —
    so the != comparisons are two-valued."""
    cond = F.lit(True)
    for i in range(N_BANDS - 1):
        cond = cond & (
            (F.col("a.band_idx") <= F.lit(i))
            | (F.col("a.bands")[i] != F.col("b.bands")[i])
        )
    return cond


def lsh_candidate_pairs_salted(
    sigs: DataFrame, n_blocks: int = N_SALT_BLOCKS, with_sizes: bool = False
) -> DataFrame:
    """Triangular salted variant of :func:`lsh_candidate_pairs` — identical
    output, skew-immune pair generation.

    The plain bucket self-join generates all of a bucket's pairs in the
    single task owning its key, which is quadratic in the largest near-dup
    cluster. Salting splits every bucket into ``n_blocks`` pseudo-random
    blocks by doc hash and enumerates block pairs (i ≤ j) instead: the left
    side replicates each row to every block ≥ its own, the join key gains
    the target block, and each of a hot bucket's ~s²/2 block-pairs lands on
    a different reducer. Pair volume is unchanged; the single-task ceiling
    drops by ~n_blocks. (tests/test_dedup_scale.py asserts set-equality
    with the unsalted join.)

    r18 — cross-band dedup WITHOUT the ``distinct()`` exchange (guide
    §2.4): a pair is generated once per shared band (the salting makes
    it exactly once — each pair lives in exactly one block combination,
    and same-block double orientation is filtered below), so the old
    ``distinct()`` shuffled ~2× the candidate volume (13.3 M rows at
    sf0.1) purely to drop cross-band duplicates. Both banded sides now
    carry the full ``bands`` array (4 fixed-width hashes — bytes added
    to the tiny 4N-row band shuffle, bytes REMOVED from the huge
    pair-stream shuffle: the §8 lesson, decide on lightweight proxies)
    and the join keeps a pair only at its FIRST shared band:
    band_idx b survives iff bands_a[i] ≠ bands_b[i] for every i < b.
    Exactly one row per candidate pair emerges — the same set
    ``distinct()`` produced (set-equality + uniqueness pinned in
    tests/test_dedup_scale.py) — and the pair stream flows to
    verification without an exchange, already spread across reducers by
    the salted join keys. Measured at sf0.1: pairs stage 1.7 → ~1.0 s;
    at corpus scale this removes a full shuffle of the O(pairs) stream.

    ``with_sizes=True`` (r18) additionally emits each pair's word-set
    sizes ``(_na, _nb)`` — read off the ``nw`` column the signature
    table carries — so the verify's size-ratio gate can reject pairs
    BEFORE fetching their word arrays (:func:`_verify_jaccard_pairs`).
    Default off: the bare (doc_a, doc_b) contract every existing
    consumer and the plain-generator set-equality tests pin.
    """
    bands = _bands_array()
    cols = ["doc_id"] + (["nw"] if with_sizes else [])
    banded = sigs.select(
        *cols,
        bands.alias("bands"),
        F.posexplode(bands).alias("band_idx", "band_hash"),
    ).withColumn("block", F.pmod(F.xxhash64("doc_id"), F.lit(n_blocks)))
    left = banded.withColumn(
        "target", F.explode(F.sequence("block", F.lit(n_blocks - 1)))
    )
    right = banded
    a, b = left.alias("a"), right.alias("b")
    same_block = F.col("a.block") == F.col("b.block")
    first_match = _first_shared_band()
    a_first = F.col("a.doc_id") < F.col("b.doc_id")
    sel = [
        F.least("a.doc_id", "b.doc_id").alias("doc_a"),
        F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
    ]
    if with_sizes:
        sel += [
            F.when(a_first, F.col("a.nw")).otherwise(F.col("b.nw")).alias("_na"),
            F.when(a_first, F.col("b.nw")).otherwise(F.col("a.nw")).alias("_nb"),
        ]
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.target") == F.col("b.block"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        # same-block pairs would appear twice (x→y and y→x); keep one
        .filter(~same_block | (F.col("a.doc_id") < F.col("b.doc_id")))
        .filter(first_match)
        .select(*sel)
    )


def _cached_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h0..h15), persisted.

    The signature frame feeds BOTH sides of the band self-join, and without
    materialization the two sides lose exchange reuse (the scale_out
    round-robin exchange defeats canonical plan equality — measured: the
    16-md5-transform subtree appeared twice and the bench ran 2× slower).
    Persisting pins signature compute to exactly one pass; at 100 TB this is
    the standard "write the signature table once" step of a MinHash dedup
    pipeline (MEMORY_AND_DISK spills instead of recomputing). ``ws`` is
    dropped so the cache holds 16 fixed-width hashes per doc, not the word
    arrays — verification fetches those from the pruned base scan.

    The cache is DELIBERATELY session-lifetime (ADVICE r3): Spark's cache
    manager matches it by canonicalized plan, so the second minhash
    variant (plain/salted) and any re-run reuse one materialization —
    unpersisting after the first consumer would forfeit exactly that
    reuse, and the returned (lazy) DataFrame gives no safe unpersist
    point anyway. Size is bounded at 16 md5 hex strings + one id per doc
    (≈0.5 KB/doc — ~2.5 MB at sf0.1, spill-backed); at corpus scale the
    equivalent step is an explicit signature-table write, not an executor
    cache."""
    from pyspark import StorageLevel

    sigs = (
        minhash_signatures_from_arrays(_doc_word_arrays(spark, sf_dir))
        # nw: the distinct-word-set size, carried with the signature
        # (r18) so candidate generation can emit pair sizes and the
        # verify's size-ratio gate fires BEFORE the array joins — one
        # narrow long next to 16 hashes, not a schema change to the
        # persisted artifact (SIGNATURES builds its own frame and
        # selects its declared columns)
        .withColumn("nw", F.size("ws"))
        .drop("ws")
    )
    return sigs.persist(StorageLevel.MEMORY_AND_DISK)


def _broadcast_threshold_bytes(spark: SparkSession) -> int:
    """The session broadcast threshold in bytes (the conf accepts size
    strings like '10MB'); ≤ 0 means broadcast is disabled."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        return int(raw)
    except ValueError:
        return int(
            spark._jvm.org.apache.spark.network.util.JavaUtils
            .byteStringAsBytes(raw)
        )


def _wont_broadcast(df: DataFrame, spark: SparkSession) -> bool:
    """True when Catalyst's own size estimate rules out a broadcast of
    ``df`` — exactly the regime where the verify join would demote to
    SortMergeJoin and the ``shuffle_hash`` hint must take over. Reads
    the optimizer estimate (a plan-build-time metadata call, no job)."""
    thresh = _broadcast_threshold_bytes(spark)
    if thresh <= 0:
        return True
    est = int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    return est > thresh


def _verify_jaccard_pairs(
    spark: SparkSession, sf_dir: str, pairs: DataFrame, hinted: bool = True
) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs against
    the documents' distinct-word arrays (pruned re-scan — no signature
    columns, so Catalyst reads only doc_id+text).

    Landed r16 (staged + plan-locked both regimes in r15): the doc-array
    sides carry a CONDITIONAL ``shuffle_hash`` hint — applied only when
    Catalyst's own size estimate rules out broadcasting them. At fixture
    scale the estimate clears the threshold, no hint fires, and the plan
    is byte-identical to the r13-certified broadcast one; one-to-two
    decades past sf1 the doc-array relation outgrows ANY broadcast
    threshold and Spark would demote the verify joins to SortMergeJoin —
    sorting the candidate-PAIR stream, the 10^9+-row side. The hint makes
    that regime hash-join instead (build side = the per-partition doc
    slice, probe side streams the pairs). An UNCONDITIONAL hint was
    measured out (4.6 → 7.2 s steady at sf0.1 — hints outrank the
    size-based broadcast choice), as was
    ``spark.sql.join.preferSortMergeJoin=false`` (doesn't reach joins
    whose build-side estimate exceeds the canBuildLocalHashMap bound).
    ``hinted=False`` exposes the pre-r16 plan so tests can lock the
    counterfactual (exactly two more SortMergeJoins in the forced
    regime).

    r18 (guide §1.2 — don't compute what you throw away): the exact
    ``array_intersect`` is gated behind a SIZE-RATIO prefilter. For word
    SETS, |A∩B| ≤ min(|A|,|B|) and |A∪B| ≥ max(|A|,|B|), so
    jaccard ≤ min/max — a pair whose set sizes differ by more than the
    threshold allows can NEVER verify, and deciding that costs two
    integer reads instead of building a hash set over both arrays. The
    filter keeps ``min ≥ (τ − 1e-4)·max``: the 1e-4 margin dominates
    both double-rounding of the multiply (~1e-16·max) and the verify's
    own 6-dp rounding (which admits true jaccard down to τ − 5e-7), so
    every pair the exact check could pass is provably kept — output
    identical, oracle-checked. Measured at sf0.1: 6.74 M candidates →
    1.85 M surviving intersects (−73%), verify stage 3.8 → ~1.5 s. The
    two conjuncts land in one Catalyst ``Filter`` whose ``And``
    short-circuits, so the intersect never runs on a size-rejected row
    (plan-asserted in tests/test_dedup_scale.py)."""
    docs = _doc_word_arrays(spark, sf_dir)
    hint = hinted and _wont_broadcast(docs, spark)
    size_gate = F.lit(JACCARD_THRESHOLD - 1e-4)
    if "_na" in pairs.columns and "_nb" in pairs.columns:
        # the pair stream carries its word-set sizes (candidate
        # generation with_sizes=True, r18): reject size-incompatible
        # pairs BEFORE the two doc-array joins — 73% of the stream at
        # sf0.1 never touches an array row; the post-join gate below
        # stays as the invariant for size-less callers. _na/_nb come
        # from the same size(ws) the rescan recomputes, so the two
        # gates agree row-for-row.
        pairs = pairs.filter(
            F.least("_na", "_nb") >= size_gate * F.greatest("_na", "_nb")
        ).select("doc_a", "doc_b")
    sets_a = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("ws").alias("ws_a"),
        F.size("ws").alias("_na"),
    )
    sets_b = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("ws").alias("ws_b"),
        F.size("ws").alias("_nb"),
    )
    if hint:
        sets_a = sets_a.hint("shuffle_hash")
        sets_b = sets_b.hint("shuffle_hash")
    size_ok = F.least("_na", "_nb") >= F.lit(JACCARD_THRESHOLD - 1e-4) * F.greatest("_na", "_nb")
    inter = F.size(F.array_intersect("ws_a", "ws_b"))
    union = F.col("_na") + F.col("_nb") - inter
    return (
        pairs.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .filter(size_ok)
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def verified_jaccard(words: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate pairs only (verification stage)."""
    sizes = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    wa = words.select(F.col("doc_id").alias("doc_a"), "w")
    wb = words.select(F.col("doc_id").alias("doc_b"), "w")
    inter = (
        pairs.join(wa, "doc_a")
        .join(wb, ["doc_b", "w"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 6
            ),
        )
    )


def q_ns_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with exact-Jaccard verification.

    Shuffle census (the 100 TB budget): (1) the salted band bucket
    self-join, (2) distinct over candidate pairs, (3) two doc_id-keyed
    joins to fetch word arrays (broadcast when the doc-array relation is
    small; conditional ``shuffle_hash`` past the broadcast cliff —
    :func:`_verify_jaccard_pairs`). Signature computation itself is
    shuffle-free — see :func:`minhash_signatures_from_arrays` — and runs
    exactly once per job via the persisted signature table
    (:func:`_cached_signatures`).

    Landed r16: candidate generation is the SALTED triangular bucket
    join (:func:`lsh_candidate_pairs_salted`, set-equal to the plain
    join by construction and pinned in tests/test_dedup_scale.py). The
    r15 sf1 spot-check MEASURED the plain self-join's documented risk
    into reality — one decade past bench SF it demotes broadcast→SMJ
    and concentrates keyed pair generation on hot band buckets
    (BENCH_NOTES r15, CORRECTION section) — while the salted row held
    ~linear with no conf change and was faster at fixture scale too
    (5.4 vs 7.1 s driver walls). The plain generator remains library
    surface (:func:`lsh_candidate_pairs`) for graphs without hot
    clusters; this query has run the salted plan since r16.
    """
    sigs = _cached_signatures(spark, sf_dir)
    pairs = lsh_candidate_pairs_salted(sigs, with_sizes=True)
    return _verify_jaccard_pairs(spark, sf_dir, pairs)


INCR_MOD = 10
INCR_REM = 7  # doc_id % INCR_MOD == INCR_REM → the "new batch" (~10%)


def q_ns_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (snapshot-vs-new) MinHash dedup: dedup a NEW batch of
    documents against an existing corpus WITHOUT re-pairing the corpus
    with itself — the production shape of every recurring ingestion
    pipeline (the single-corpus run in the reference, main.cpp:21-35, is
    the degenerate batch==corpus case). The batch is the deterministic
    ~10% slice ``doc_id % INCR_MOD == INCR_REM``; the corpus is
    everything else.

    Scale shape (100 TB corpus, small daily batch): the corpus's
    signature table is the PERSISTED artifact of the previous run
    (:func:`_cached_signatures` here; a parquet signature table in
    production) — corpus text is never re-read and never re-hashed. The
    band join's RIGHT side is filtered to the new batch, so candidate
    volume is O(|batch| × bucket size), never O(|corpus|²): a
    corpus-corpus pair can never be generated BY CONSTRUCTION (the
    batch filter is on the join side, not post-hoc — asserted in
    tests/test_dedup_scale.py, along with set-equality against the full
    self-join's ≥1-new-doc pairs). Output: verified near-dup pairs
    touching the batch, with ``pair_kind`` separating corpus↔new from
    new↔new duplicates (the drop-policy distinction: new↔new keeps one
    representative, corpus↔new drops the new copy)."""
    sigs = _cached_signatures(spark, sf_dir)
    bands = _bands_array()
    banded = sigs.select(
        "doc_id",
        "nw",
        bands.alias("bands"),
        F.posexplode(bands).alias("band_idx", "band_hash"),
    )
    is_new = F.col("doc_id") % INCR_MOD == INCR_REM
    a = banded.alias("a")
    b = banded.filter(is_new).alias("b")
    a_new = F.col("a.doc_id") % INCR_MOD == INCR_REM
    a_first = F.col("a.doc_id") < F.col("b.doc_id")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            # new↔new pairs appear in both orientations; keep one. A
            # corpus doc only ever sits on the a side, so corpus↔new
            # pairs are generated exactly once.
            & (~a_new | (F.col("a.doc_id") < F.col("b.doc_id"))),
        )
        # exactly one row per (pair, shared band) survives the
        # orientation filter above, so the first-shared-band gate makes
        # the stream pair-unique — no distinct() exchange (r18, same
        # proof as lsh_candidate_pairs_salted)
        .filter(_first_shared_band())
        # carry the word-set sizes so the verify's size gate fires
        # before the array joins (r18, lsh_candidate_pairs_salted
        # with_sizes convention)
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            F.when(a_first, F.col("a.nw"))
            .otherwise(F.col("b.nw"))
            .alias("_na"),
            F.when(a_first, F.col("b.nw"))
            .otherwise(F.col("a.nw"))
            .alias("_nb"),
        )
    )
    kind = F.when(
        (F.col("doc_a") % INCR_MOD == INCR_REM)
        & (F.col("doc_b") % INCR_MOD == INCR_REM),
        F.lit("new_new"),
    ).otherwise(F.lit("corpus_new"))
    return _verify_jaccard_pairs(spark, sf_dir, pairs).select(
        "doc_a", "doc_b", "jaccard", kind.alias("pair_kind")
    )


# --- Two-snapshot incremental dedup: the persisted signature artifact -----
#
# `q_ns_dedup_incremental` above proves the PLAN shape (corpus↔corpus pairs
# impossible by construction) but emulates the corpus/batch split inside one
# session — the corpus signatures live in an executor cache. The variant
# below exercises what real recurring pipelines actually do between runs
# (VERDICT r8 #5): run N writes the corpus signature table to parquet with a
# versioned sidecar; run N+1 REOPENS that artifact through a fresh read path
# — schema-validated, version-checked — and computes signatures only for the
# new batch. Corpus text is never re-read and never re-hashed; the artifact
# schema is the cross-run contract, which is exactly the part the in-session
# emulation skips (and the part production pipelines get wrong).


def _corpus_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CORPUS slice's minhash signature table — the batch slice is
    never persisted."""
    corpus = _doc_word_arrays(spark, sf_dir).filter(
        F.col("doc_id") % INCR_MOD != INCR_REM
    )
    return minhash_signatures_from_arrays(corpus)


#: The corpus signature artifact: run N writes it, run N+1 reopens it.
SIGNATURES = ArtifactKind(
    name="signature",
    prefix="sg_sig",
    columns={"doc_id": "bigint", **{f"h{i}": "string" for i in range(N_HASHES)}},
    params={"sig_version": 1, "n_hashes": N_HASHES},
    build=_corpus_signatures,
)


def write_signature_artifact(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Run 1 of the two-snapshot pipeline: persist the corpus signature
    table at ``path`` (see :data:`SIGNATURES`)."""
    write_artifact(spark, SIGNATURES, sf_dir, path)


def append_signatures(spark: SparkSession, docs: DataFrame, path: str) -> None:
    """Close the recurring-ingestion loop: after a batch is deduped, its
    signatures join the corpus artifact so the NEXT run's band join sees
    them as corpus. ``docs`` is a (doc_id, ws) frame as produced by
    :func:`_doc_word_arrays` (filtered to the batch by the caller); the
    contract gate, part-file append and ``snapshots`` bump are
    :func:`~duckdb_parquet_parser_spark.cache.append_artifact`'s."""
    append_artifact(spark, SIGNATURES, path, minhash_signatures_from_arrays(docs))


def q_ns_dedup_incremental_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ns_dedup_incremental` with the corpus side's signatures coming from
    a PERSISTED parquet artifact reopened through the validated read path —
    the true two-snapshot shape. If no prior-run artifact exists for this
    exact table content, one is written first (that write IS the prior
    run; on a re-run the artifact is found and only the batch is hashed).
    Candidate generation is identical to the in-session variant — the band
    join's left side is (persisted corpus ∪ fresh batch) signatures, the
    right side only the batch — so the results match `ns_dedup_incremental`
    row for row and the same DuckDB oracle certifies both."""
    corpus_sigs = ensure_artifact(spark, SIGNATURES, sf_dir)
    is_new = F.col("doc_id") % INCR_MOD == INCR_REM
    batch_sigs = minhash_signatures_from_arrays(
        _doc_word_arrays(spark, sf_dir).filter(is_new)
    ).drop("ws")
    bands = _bands_array()
    banded_corpus = corpus_sigs.select(
        "doc_id",
        bands.alias("bands"),
        F.posexplode(bands).alias("band_idx", "band_hash"),
    )
    banded_batch = batch_sigs.select(
        "doc_id",
        bands.alias("bands"),
        F.posexplode(bands).alias("band_idx", "band_hash"),
    )
    a = banded_corpus.unionByName(banded_batch).alias("a")
    b = banded_batch.alias("b")
    a_new = F.col("a.doc_id") % INCR_MOD == INCR_REM
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (~a_new | (F.col("a.doc_id") < F.col("b.doc_id"))),
        )
        # pair-unique without distinct() — r18, same proof as the
        # in-session variant above
        .filter(_first_shared_band())
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
    )
    kind = F.when(
        (F.col("doc_a") % INCR_MOD == INCR_REM)
        & (F.col("doc_b") % INCR_MOD == INCR_REM),
        F.lit("new_new"),
    ).otherwise(F.lit("corpus_new"))
    return _verify_jaccard_pairs(spark, sf_dir, pairs).select(
        "doc_a", "doc_b", "jaccard", kind.alias("pair_kind")
    )


def simhash_bits(words: DataFrame) -> DataFrame:
    """(doc_id, b0..b31): SimHash bit j = majority vote of md5-hex-digit-j
    high bits over the doc's distinct words (±1 votes, >0 → 1).

    Kept for the exploded-words shape; the hot path uses
    :func:`simhash_docs` (per-row, shuffle-free).
    """
    h = F.md5("w")
    aggs = [
        (
            F.sum(
                F.when(F.substring(h, j + 1, 1) >= "8", 1).otherwise(-1)
            )
            > 0
        )
        .cast("int")
        .alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    return words.groupBy("doc_id").agg(*aggs)


def simhash_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) computed per-row, shuffle-free: md5 each word once
    (one ``transform``), then bit j = (#words with high hex digit j) ×2 >
    #words — the same ±1 majority vote as :func:`simhash_bits` without the
    explode/groupBy round-trip."""
    with_h = docs.withColumn(
        "hs", F.transform("ws", lambda w: F.md5(w))
    ).withColumn("nw", F.size("ws"))
    bit = lambda j: F.when(  # noqa: E731
        F.size(
            F.filter("hs", lambda h: F.substring(h, j + 1, 1) >= "8")
        )
        * 2
        > F.col("nw"),
        "1",
    ).otherwise("0")
    sim = F.concat(*[bit(j) for j in range(SIMHASH_BITS)])
    return with_h.select("doc_id", sim.alias("simhash"))


def q_ns_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_docs(_doc_word_arrays(spark, sf_dir))


# Session-lifetime memos for the SimHash dedup family, keyed by
# (applicationId, absolute sf_dir, documents fingerprint). Rationale
# (VERDICT r6 #3): the bench / correctness drivers run
# `ns_dedup_simhash_pairs` and `ns_dedup_components` in ONE session, and
# checkpoint_df gives no plan-canonical reuse the way `persist` does — so
# without a memo the expensive signature frame is re-materialized per
# query. At corpus scale the equivalent is writing the signature table /
# verified-pair table to parquet once and reading it from both consumers;
# here the memo holds the localCheckpoint handle instead (bands ≈
# 40 B/doc ×2 rows, pairs = the verified near-dup edges — both tiny next
# to the corpus). Lifecycle (ADVICE r7): the key folds in an mtime+size
# fingerprint of the documents table, so an in-session rewrite of the
# same path can never serve stale frames; every lookup evicts entries
# whose applicationId is not the calling session's (dead sessions stop
# pinning checkpointed blocks in long-lived multi-session processes);
# and `clear_simhash_memos()` drops everything explicitly — the bench
# harness calls it before each timed row so every measurement is cold.
_SIMHASH_BANDS_MEMO: dict[tuple[str, str, str], DataFrame] = {}
_SIMHASH_PAIRS_MEMO: dict[tuple[str, str, str], DataFrame] = {}
_CC_LABELS_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def _unpersist_memoized(df) -> None:
    """Best-effort prompt free of a memoized frame's checkpointed blocks.

    Uses the persisted-RDD handle ``session.checkpoint_df`` tagged onto the
    frame at checkpoint time (ADVICE r8: ``df._jdf.rdd()`` builds a NEW
    derived RDD per call, so unpersisting it never touched the persisted
    blocks). Frames without a tag — or from a stopped session — fall back
    to ContextCleaner reclamation after GC."""
    rdd = getattr(df, "_graft_ckpt_rdd", None)
    if rdd is not None:
        try:
            rdd.unpersist(False)
        except Exception:
            pass  # session stopped — blocks are gone with its executors


def _memo_key(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    import os

    app_id = spark.sparkContext.applicationId
    path = os.path.abspath(sf_dir)
    fp = docs_fingerprint(sf_dir)
    # Evict (a) entries left by stopped sessions — their checkpointed
    # blocks are gone with the old executors and must not pin memory or
    # answer — and (b) same-session entries for this PATH whose documents
    # fingerprint went stale (in-session rewrite of the same sf_dir):
    # without (b) the superseded frames' checkpointed blocks stay pinned
    # for the whole session even though no lookup can ever hit them again
    # (ADVICE r8). Stale same-app frames get a prompt unpersist; dead-app
    # frames have no live blocks to free.
    for memo in (_SIMHASH_BANDS_MEMO, _SIMHASH_PAIRS_MEMO, _CC_LABELS_MEMO):
        for k in list(memo):
            if k[0] != app_id:
                del memo[k]
            elif k[1] == path and k[2] != fp:
                _unpersist_memoized(memo.pop(k))
    return (app_id, path, fp)


def clear_cc_labels_memo() -> None:
    """Drop ONLY the memoized component labels (the bench warm-shared
    protocol: the components row's warm leg prices 'signature/pair
    tables shared, CC recomputed' — the historical waiver semantics —
    while the drop-rate row's warm leg keeps the labels memo and prices
    'components table persisted, telemetry reads it')."""
    for df in _CC_LABELS_MEMO.values():
        _unpersist_memoized(df)
    _CC_LABELS_MEMO.clear()


def clear_simhash_memos() -> None:
    """Drop every memoized band/pair frame and best-effort free their
    checkpointed blocks (the blocks are reclaimed by the ContextCleaner
    once the frames are unreferenced; the explicit unpersist just makes
    it prompt). The bench harness calls this before each timed row so
    measurements are cold and order-independent."""
    for memo in (_SIMHASH_BANDS_MEMO, _SIMHASH_PAIRS_MEMO, _CC_LABELS_MEMO):
        for df in memo.values():
            _unpersist_memoized(df)
        memo.clear()


def _simhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sim, band, key): the per-doc banded signature table,
    eagerly checkpointed, computed once per (session, sf_dir).

    Materializing the signature frame ONCE before the self-join is the
    round-6 finding (the r5 bench row was 5.3 s, now ~1.9 s at sf0.1): the
    "identical subplans → ReusedExchange" assumption did NOT hold — the
    optimizer broadcast the build side (no exchange to reuse) and the
    derived not-null filter on conv(simhash,…) was pushed into BOTH scans,
    so the full 32-bit signature expression (per-word md5 + 32 majority
    votes) ran FOUR times. Cutting lineage here makes every downstream
    read see a 2|docs|-row table of (id, long, band, 16-char key) — at
    corpus scale this is exactly the signature table a pipeline would
    persist to parquet before bucket-joining it."""
    from ..session import checkpoint_df

    key = _memo_key(spark, sf_dir)
    cached = _SIMHASH_BANDS_MEMO.get(key)
    if cached is not None:
        return cached
    bands = (
        simhash_docs(_doc_word_arrays(spark, sf_dir))
        .select(
            "doc_id",
            F.conv("simhash", 2, 10).cast("long").alias("sim"),
            F.explode(
                F.array(
                    F.struct(
                        F.lit(1).alias("band"),
                        F.substring("simhash", 1, 16).alias("key"),
                    ),
                    F.struct(
                        F.lit(2).alias("band"),
                        F.substring("simhash", 17, 16).alias("key"),
                    ),
                )
            ).alias("bk"),
        )
        .select("doc_id", "sim", "bk.band", "bk.key")
    )
    bands = checkpoint_df(bands, eager=True)
    _SIMHASH_BANDS_MEMO[key] = bands
    return bands


def q_ns_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share a 16-bit half (banding),
    verified by Hamming distance ≤ HAMMING_MAX."""
    # OR-of-equalities would force a nested-loop join; exploding each doc
    # into (band, 16-bit key) rows and doing ONE equi-join on (band, key)
    # is the scale-safe plan.
    # Verification is bit_count(xor) on a packed long — one instruction per
    # pair instead of 32 per-character comparisons — and the join/distinct
    # shuffles an 8-byte long per side instead of a 32-char signature.
    # (The join itself stays LAZY here so the returned plan is inspectable
    # — tests/test_plans.py asserts equi-join-only on it; the materialized
    # variant for graph consumers is _simhash_pairs_materialized.)
    bands = _simhash_bands(spark, sf_dir)
    a = bands.select(
        "band", "key", F.col("doc_id").alias("doc_a"), F.col("sim").alias("sim_a")
    )
    b = bands.select(
        "band", "key", F.col("doc_id").alias("doc_b"), F.col("sim").alias("sim_b")
    )
    # Cross-band dedup WITHOUT a distinct() exchange (r18, the
    # lsh_candidate_pairs_salted finding applied here): a pair sharing
    # BOTH 16-bit halves is generated twice by the (band, key) equi-join;
    # keep it only at its FIRST shared band. The band-1 key is the high
    # 16 bits of the packed signature both sides already carry
    # (key₁ = substring(simhash, 1, 16) ⇒ conv = sim >> 16), so the gate
    # is two shifts on columns in flight — no extra bytes, no shuffle —
    # and the candidate stream is pair-unique by construction
    # (uniqueness + set-equality pinned in tests/test_r18_fixes.py).
    first_band = (F.col("band") == 1) | (
        F.shiftright("sim_a", 16) != F.shiftright("sim_b", 16)
    )
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(first_band)
        .select("doc_a", "doc_b", "sim_a", "sim_b")
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


def _simhash_pairs_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified near-dup pair table, eagerly checkpointed, computed once
    per (session, sf_dir) — the shared input for graph-shaped consumers
    (connected components, and any future cluster analytics). In a
    production pipeline this is the persisted `near_dup_pairs` table the
    banding job writes before the clustering job reads it."""
    from ..session import checkpoint_df

    key = _memo_key(spark, sf_dir)
    cached = _SIMHASH_PAIRS_MEMO.get(key)
    if cached is not None:
        return cached
    pairs = checkpoint_df(q_ns_dedup_simhash_pairs(spark, sf_dir), eager=True)
    _SIMHASH_PAIRS_MEMO[key] = pairs
    return pairs


CC_ROUNDS = 4  # rounds per block for the text and video graphs, and the
#                rounds the unrolled SQL oracles run (the fixture graphs
#                reach their fixpoint within one such block)

# Convergent-CC runaway guard FLOOR for the text queries: doubling
# covers diameter ~2^rounds and the SimHash fixtures converge in ONE
# CC_ROUNDS-sized block, so 16 rounds (4 blocks) is a pathological-graph
# ceiling at fixture scale, not a tuning knob (the RuntimeError names
# the real causes). It is a FLOOR because the true convergence bound
# GROWS with the graph: min-label propagation with pointer doubling is
# O(log2 V) rounds, so a constant guard eventually refuses healthy
# corpora — measured in the round-16 30x probe, where the 132k-vertex /
# 24.5M-edge simhash graph converges cleanly at 18 rounds and the
# constant-16 guard raised. _text_cc_ceiling below scales the guard
# with the materialized edge count (V ≤ 2E, one ~free count on the
# persisted pair frame); the +4 margin keeps it a runaway guard — an
# unstable edge list still trips, just a handful of rounds later.
TEXT_CC_MAX_ROUNDS = 16


def _text_cc_ceiling(n_edges: int) -> int:
    """Scale-aware runaway ceiling: ceil(log2(2E)) + 4 doubling rounds
    covers any CONNECTED structure reachable on ≤ 2E vertices with
    margin, floored at the fixture-calibrated TEXT_CC_MAX_ROUNDS."""
    import math

    if n_edges <= 0:
        return TEXT_CC_MAX_ROUNDS
    return max(TEXT_CC_MAX_ROUNDS, math.ceil(math.log2(2 * n_edges)) + 4)


def connected_components_converged(
    edges: DataFrame,
    max_rounds: int = 64,
    probe_every: int = 2,
    edges_materialized: bool = False,
    extend_max_rounds=None,
) -> tuple[DataFrame, int]:
    """(doc, component) + rounds used: connected components of an
    undirected pair graph, component id = min doc_id in the component,
    by min-label propagation with pointer doubling ITERATED TO
    CONVERGENCE. The engine's one CC primitive: text components and
    canonical selection, the media cluster pipelines
    (multimodal_dedup.py) and embedding clusters (embed_cluster.py) all
    run it. A fixed round budget is not safe on graphs of unknown
    diameter: it silently under-converges on chains, and an oracle
    unrolling the same rounds agrees with the wrong answer.

    Round: every node takes the min label over {self} ∪ neighbors (the
    self-loop in ``adj`` folds "own label" into the same groupBy) —
    call that ``P`` — then one label-of-label join halves the remaining
    path length: ``new(x) = least(P(x), P(P(x)))`` (the classic
    Shiloach-Vishkin / MapReduce-CC trick; see "Connected Components in
    MapReduce and Beyond"). ``probe_every`` rounds run UNROLLED under
    one eager label checkpoint (AQE reuses the doubling join's twin
    subplans), then the stop rule decides convergence.

    Stop rule. Labels start at the identity and only decrease, so
    ``l(x) ≤ x`` and every label is an id in x's component. A labeling
    is the exact CC answer iff it is STATIONARY — one more propagation
    round changes nothing: then no edge has ``l(u) ≠ l(v)`` (the
    adjacency carries both orientations), labels are constant on each
    component, and the component's min id m has ``l(m) ≤ m``, so the
    constant IS m. Two checks establish stationarity of the block's
    output, cheapest first:

    1. Observed, free. The block's last round also takes each doc's
       input label ``l`` as ``min(label) where nbr == doc`` (the
       self-loop row, no extra exchange), and an ``Observation`` on the
       label checkpoint counts the docs x with ``new(x) ≠ l(x)`` or
       ``P(P(x)) ≠ l(P(x))``. If none, the input was already the
       fixpoint: ``P(x) ≤ l(x)`` through the self-loop and ``new ≤ P``,
       so ``new == l`` forces ``P == l``; and the output equals that
       input. The second term cannot make a zero count non-zero: when
       ``new == l`` everywhere, ``P == l`` holds at ``P(x)`` too.
    2. Probed, one job chain. Otherwise count the edges whose endpoints
       carry different labels in the output; zero proves stationarity
       by the argument above. This probes the E-row edge frame instead
       of re-running a propagation round over the 2E+V-row adjacency.

    Check 1 only ever skips a probe that would have returned zero, so
    the stop block, ``rounds_done`` and the labels are exactly those of
    probing every block. A graph converging in the FINAL block of
    ``max_rounds`` is detected by that block's checks instead of
    raising. The same observation also counts the label rows; if that
    count differs from the vertex count observed on the adjacency
    checkpoint (or both read zero over a non-empty graph) the
    observation never ran — a lazy checkpoint reports zeros — and the
    call raises instead of reading "nothing changed" as converged.

    Raises ``RuntimeError`` if ``max_rounds`` propagation rounds don't
    reach the fixpoint — doubling covers diameter ~2^rounds, so the
    default 64 is a runaway guard (an unstable edge list, not a real
    graph), not a tuning knob. ``extend_max_rounds``: an optional
    ``() -> int`` callable consulted ONCE, only when the budget is
    exhausted without a fixpoint — the scale-aware ceiling
    (``_text_cc_ceiling`` over an edge count) moves out of the happy
    path this way: a healthy run never pays the sizing job, a
    pathological one extends the budget (work done so far is kept) and
    raises only if the extended ceiling is exhausted too.

    Scale shape (100 TB): every step is an equi-join or groupBy keyed on
    doc id — hash-partitioned, AQE-balanced, no global ordering. The
    adjacency+self-loop list is hash-partitioned on the propagation key
    once and checkpointed (localCheckpoint preserves the partitioning),
    so every round exchanges only the (doc, label) frame — the Pregel
    layout: partition the graph once, ship only messages. Per-block
    lineage stays one checkpoint deep; ``checkpoint_df`` (session.py)
    picks executor-local or reliable durability. ``edges_materialized=
    True`` skips the edge lineage cut when re-reading the edges is
    cheaper than one more job (an already-checkpointed pair table, or a
    band join over a small checkpointed signature frame)."""
    from pyspark.sql import Observation

    from ..session import checkpoint_df

    if probe_every < 1:
        raise ValueError(f"probe_every must be >= 1, got {probe_every}")
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    ed = edges.select("doc_a", "doc_b")
    if not edges_materialized:
        ed = checkpoint_df(ed, eager=True)
    bi = ed.select(F.col("doc_a").alias("doc"), F.col("doc_b").alias("nbr")).union(
        ed.select(F.col("doc_b"), F.col("doc_a"))
    )
    vertices = Observation()
    adj = checkpoint_df(
        bi.union(
            bi.select("doc")
            .distinct()
            .observe(vertices, F.count(F.lit(1)).alias("n"))
            .select("doc", F.col("doc").alias("nbr"))
        ).repartition(F.col("nbr")),
        eager=True,
    )
    n_vertices = vertices.get["n"]
    labels: DataFrame | None = None
    rounds_done = 0
    extended = extend_max_rounds is None
    while rounds_done < max_rounds:
        block = min(probe_every, max_rounds - rounds_done)
        cur = labels
        for _ in range(block):
            if cur is None:
                # identity labels: label(nbr) is nbr itself, so the
                # labels join is elided and the round reads adj alone
                src, lab = adj, "nbr"
            else:
                src, lab = adj.join(cur.withColumnRenamed("doc", "nbr"), "nbr"), "label"
            # `prev`, the doc's input label, rides on its self-loop row;
            # only the block's last round is observed, so column pruning
            # drops it from the rounds before
            own = F.when(F.col("nbr") == F.col("doc"), F.col(lab))
            prop = src.groupBy("doc").agg(
                F.min(lab).alias("label"), F.min(own).alias("prev")
            )
            parent = prop.select(*(F.col(c).alias(f"p_{c}") for c in prop.columns))
            cur = prop.join(parent, prop.label == parent.p_doc, "left").select(
                "doc",
                F.least("label", F.coalesce("p_label", "label")).alias("label"),
                "prev",
                "p_label",
                "p_prev",
            )
        # The parent's propagation is observed too, so both sides of the
        # doubling join aggregate the same columns and AQE runs their
        # exchange once; the zero test is unchanged (docstring, 1.)
        moved = (F.col("label") != F.col("prev")) | (F.col("p_label") != F.col("p_prev"))
        stats = Observation()
        nxt = checkpoint_df(
            cur.observe(
                stats,
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(moved, 1)).alias("changed"),
            ).select("doc", "label"),
            eager=True,
        )
        rounds_done += block
        seen = stats.get
        if seen["n"] != n_vertices or (n_vertices == 0 and not adj.isEmpty()):
            raise RuntimeError(
                f"connected_components_converged: the label checkpoint "
                f"observed {seen['n']} rows for {n_vertices} vertices — "
                "checkpoint_df must materialize eagerly"
            )
        if seen["changed"] == 0 or _disagreeing_edges(ed, nxt) == 0:
            out = nxt.select("doc", F.col("label").alias("component"))
            # propagate the checkpoint's persisted-RDD tag (ADVICE r8)
            # through the rename so memo/bench callers can promptly free
            # the label blocks — the projection wraps the SAME
            # checkpointed plan, so the handle stays valid (code review
            # r13: an untagged memoized frame made clear_cc_labels_memo
            # a silent no-op)
            out._graft_ckpt_rdd = getattr(nxt, "_graft_ckpt_rdd", None)
            return out, rounds_done
        labels = nxt
        if rounds_done >= max_rounds and not extended:
            # one-shot budget extension: pay the sizing work only in the
            # regime where the constant budget actually binds
            extended = True
            max_rounds = max(max_rounds, int(extend_max_rounds()))
    raise RuntimeError(
        f"connected_components_converged: no fixpoint within "
        f"{max_rounds} rounds — the graph has pathological diameter or "
        "the edge list is unstable between evaluations"
    )


def _disagreeing_edges(ed: DataFrame, labels: DataFrame) -> int:
    """Edges whose endpoints carry different labels (the stop rule's
    probe; labels are broadcast-joined onto the edge frame at runtime)."""
    la = labels.select(F.col("doc").alias("doc_a"), F.col("label").alias("l_a"))
    lb = labels.select(F.col("doc").alias("doc_b"), F.col("label").alias("l_b"))
    return (
        ed.join(la, "doc_a")
        .join(lb, "doc_b")
        .filter(F.col("l_a") != F.col("l_b"))
        .count()
    )


def _text_components_materialized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The convergent component labels of the SimHash near-dup graph,
    computed once per (session, sf_dir) — the shared input for every
    label consumer (components, canonical selection, per-source drop
    rate). In a production pipeline this is the persisted `components`
    table the dedup job writes before the policy/telemetry jobs read it
    — same rationale as the pair-table memo above. The converged frame
    is already checkpointed (the final block's lineage cut), so the
    memo stores it directly."""
    key = _memo_key(spark, sf_dir)
    cached = _CC_LABELS_MEMO.get(key)
    if cached is not None:
        return cached
    pairs = _simhash_pairs_materialized(spark, sf_dir)
    # Scale-aware runaway ceiling, LAZY since r17 (guide §1.2 — don't
    # compute what the happy path throws away): the edge-count sizing job
    # runs only if the fixture-calibrated constant budget is exhausted
    # without a fixpoint. The 30x-corpus regime that motivated the
    # scaled ceiling (18 rounds needed vs the constant 16 — see
    # _text_cc_ceiling) still converges: the budget extends in place and
    # the rounds already run are kept. Saves the count job (2 scheduled
    # jobs at sf0.1) on every healthy run.
    comp, _rounds = connected_components_converged(
        pairs,
        max_rounds=TEXT_CC_MAX_ROUNDS,
        probe_every=CC_ROUNDS,
        edges_materialized=True,
        extend_max_rounds=lambda: _text_cc_ceiling(pairs.count()),
    )
    _CC_LABELS_MEMO[key] = comp
    return comp


def q_ns_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the SimHash near-dup
    pair graph (hamming ≤ 3). Per doc: its component (= min doc_id in the
    cluster), the cluster size, and whether the dedup policy keeps it
    (representative = min id). This is the step that turns pairwise
    near-dup evidence into actual drop decisions in a training pipeline.

    Labels come from ``connected_components_converged`` with
    ``CC_ROUNDS``-round blocks; the fixture graphs converge within the
    first block (on the smaller lakes its last round changes nothing and
    the observed stop rule skips the edge probe). The oracle is the
    linear unrolled min-label chain (bench-runnable where the recursive
    closure is quadratic in the giant cluster), ``CC_ROUNDS`` rounds
    deep. Because the Spark side provably converges, parity is a real
    check: if the unrolled oracle rounds ever under-converge, the hash
    comparison trips instead of both sides agreeing on the wrong labels.
    It did trip once: randomized seed 22's duplicate graph needs more
    than four rounds. Consequence, pinned in tests/test_randomized_
    docs.py: the unrolled oracle is valid exactly where the
    convergence-bound test pins the input within one ``CC_ROUNDS`` block
    (the fixture SFs, bench SF); randomized families adjudicate this
    pipeline against EXACT ``WITH RECURSIVE`` closures instead.
    ``ns_dedup_components_converged`` (curation.py) runs this same
    pipeline against the recursive fixpoint oracle at the parity gate
    too — two independent oracle techniques over one implementation."""
    comp = _text_components_materialized(spark, sf_dir)
    w_size = F.count(F.lit(1)).over(Window.partitionBy("component"))
    return comp.select(
        F.col("doc").alias("doc_id"),
        "component",
        w_size.alias("cluster_size"),
        (F.col("doc") == F.col("component")).alias("keep"),
    )


def q_ns_dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection per near-dup cluster: for every
    connected component of the SimHash pair graph, keep the single
    highest-quality member — quality = the deterministic integer logit of
    ``ns_quality_logit`` (reused verbatim so the two gates can never
    disagree), ties broken by lowest doc_id. This is the keep-best policy
    production dedup actually ships (keep the best-scoring copy, drop the
    rest), vs ``ns_dedup_components``' positional min-id rule; the
    reference stops at pairwise dup detection (main.cpp:21-35), canonical
    selection is the downstream decision step.

    Scale shape: the banded pair table + CC labels are shared with
    ``ns_dedup_components`` (session memo / persisted tables); the quality
    score is a zero-shuffle per-row projection; then ONE hash exchange on
    ``component`` drives both windows (cluster size + quality rank share
    the partitioning) and the rn=1 filter. |graph docs| rows through one
    equi-join and one exchange — no all-pairs work beyond the already
    banded candidate generation. Labels come from the convergent CC since
    round 13 (same migration + budget rationale as
    ``q_ns_dedup_components``)."""
    from .ngram_stats import q_ns_quality_logit

    comp = _text_components_materialized(spark, sf_dir)
    scored = q_ns_quality_logit(spark, sf_dir).select("doc_id", "logit_micro")
    joined = comp.join(scored, comp["doc"] == scored["doc_id"]).select(
        "component", "doc_id", "logit_micro"
    )
    w_comp = Window.partitionBy("component")
    w_rank = w_comp.orderBy(
        F.col("logit_micro").desc(), F.col("doc_id").asc()
    )
    ranked = joined.select(
        "component",
        "doc_id",
        "logit_micro",
        F.count(F.lit(1)).over(w_comp).alias("cluster_size"),
        F.row_number().over(w_rank).alias("rn"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "component",
        F.col("doc_id").alias("canonical_doc"),
        F.col("logit_micro").alias("canonical_logit"),
        "cluster_size",
        (F.col("cluster_size") - F.lit(1)).alias("n_dropped"),
    )


def q_ns_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram Jaccard over all pairs of a small doc subset (the exact
    quadratic baseline that MinHash approximates)."""
    from .ngram_stats import _all_word_ngrams

    df = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    ws = F.split("text", " ")
    # one definition of the full-window slice+array_join expression
    # (ngram_stats._all_word_ngrams — the spelling the round-5 profiling
    # showed is 4.3x faster than chained element_at probes)
    grams = df.select(
        "doc_id",
        F.explode(F.array_distinct(_all_word_ngrams(ws, 3))).alias("g"),
    )
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ga = grams.select(F.col("doc_id").alias("doc_a"), "g")
    gb = grams.select(F.col("doc_id").alias("doc_b"), "g")
    inter = (
        ga.join(gb, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 6).alias(
                "jaccard"
            ),
        )
    )


QUERIES = {
    "ns_dedup_exact": q_ns_dedup_exact,
    "ns_dedup_minhash": q_ns_dedup_minhash,
    "ns_dedup_incremental": q_ns_dedup_incremental,
    "ns_dedup_incremental_persisted": q_ns_dedup_incremental_persisted,
    "ns_dedup_simhash": q_ns_dedup_simhash,
    "ns_dedup_simhash_pairs": q_ns_dedup_simhash_pairs,
    "ns_dedup_components": q_ns_dedup_components,
    "ns_dedup_cluster_canonical": q_ns_dedup_cluster_canonical,
    "ns_ngram_jaccard": q_ns_ngram_jaccard,
}

# --- DuckDB oracles (SQL generated to mirror the Spark pipeline 1:1) ------

_WORDS_CTE = """
    words AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents
    )
"""

_SIG_COLS = ",\n        ".join(
    f"min(md5('{i}:' || w)) AS h{i}" for i in range(N_HASHES)
)

_BAND_EXPRS = ", ".join(
    "md5("
    + " || '|' || ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
    + ")"
    for b in range(N_BANDS)
)

_SIMHASH_BIT_COLS = ",\n        ".join(
    f"CASE WHEN sum(CASE WHEN substr(md5(w), {j + 1}, 1) >= '8' "
    f"THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS b{j}"
    for j in range(SIMHASH_BITS)
)

_SIMHASH_CONCAT = " || ".join(
    f"CAST(b{j} AS VARCHAR)" for j in range(SIMHASH_BITS)
)

_HAMMING_EXPR = " + ".join(
    f"CASE WHEN substr(a.simhash, {j + 1}, 1) <> substr(b.simhash, {j + 1}, 1) "
    "THEN 1 ELSE 0 END"
    for j in range(SIMHASH_BITS)
)

_SIMHASH_CTE = f"""
    WITH {_WORDS_CTE},
    bits AS (
        SELECT doc_id,
        {_SIMHASH_BIT_COLS}
        FROM words GROUP BY doc_id
    ),
    sims AS (
        SELECT doc_id, {_SIMHASH_CONCAT} AS simhash FROM bits
    )
"""

ORACLES = {
    "ns_dedup_exact": """
        SELECT md5(text) AS text_hash, count(*) AS n_copies,
               min(doc_id) AS keep_doc_id
        FROM documents GROUP BY md5(text)
    """,
    "ns_dedup_minhash": f"""
        WITH {_WORDS_CTE},
        sigs AS (
            SELECT doc_id, {_SIG_COLS}
            FROM words GROUP BY doc_id
        ),
        banded AS (
            SELECT doc_id, band_idx - 1 AS band_idx, band_hash
            FROM (
                SELECT doc_id,
                       unnest([{_BAND_EXPRS}]) AS band_hash,
                       generate_subscripts([{_BAND_EXPRS}], 1) AS band_idx
                FROM sigs
            )
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b
              ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM words GROUP BY doc_id),
        inter AS (
            SELECT c.doc_a, c.doc_b, count(*) AS i
            FROM cand c
            JOIN words wa ON wa.doc_id = c.doc_a
            JOIN words wb ON wb.doc_id = c.doc_b AND wb.w = wa.w
            GROUP BY c.doc_a, c.doc_b
        )
        SELECT doc_a, doc_b,
               round(i::DOUBLE / (sa.n + sb.n - i), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(i::DOUBLE / (sa.n + sb.n - i), 6) >= {JACCARD_THRESHOLD}
    """,
    "ns_dedup_simhash": _SIMHASH_CTE
    + """
        SELECT doc_id, simhash FROM sims
    """,
    "ns_dedup_simhash_pairs": _SIMHASH_CTE
    + f"""
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST({_HAMMING_EXPR} AS BIGINT) AS hamming
        FROM sims a JOIN sims b
          ON a.doc_id < b.doc_id
         AND (substr(a.simhash, 1, 16) = substr(b.simhash, 1, 16)
              OR substr(a.simhash, 17, 16) = substr(b.simhash, 17, 16))
        WHERE {_HAMMING_EXPR} <= {HAMMING_MAX}
    """,
    "ns_ngram_jaccard": """
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS ws
            FROM documents WHERE doc_id < 30
        ),
        grams AS (
            SELECT DISTINCT doc_id,
                   ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g
            FROM t, (SELECT unnest(range(1, 2000)) AS i)
            WHERE i + 2 <= len(ws)
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
            FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(i::DOUBLE / (sa.n + sb.n - i), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
    """,
}

# Incremental dedup: same signature/band/verify pipeline, but candidate
# generation restricts the join's right side to the new batch (b.doc_id %
# INCR_MOD = INCR_REM) — the corpus never pairs with itself.
ORACLES["ns_dedup_incremental"] = f"""
    WITH {_WORDS_CTE},
    sigs AS (
        SELECT doc_id, {_SIG_COLS}
        FROM words GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, band_idx - 1 AS band_idx, band_hash
        FROM (
            SELECT doc_id,
                   unnest([{_BAND_EXPRS}]) AS band_hash,
                   generate_subscripts([{_BAND_EXPRS}], 1) AS band_idx
            FROM sigs
        )
    ),
    cand AS (
        SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                        greatest(a.doc_id, b.doc_id) AS doc_b
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND b.doc_id % {INCR_MOD} = {INCR_REM}
         AND a.doc_id <> b.doc_id
         AND (a.doc_id % {INCR_MOD} <> {INCR_REM}
              OR a.doc_id < b.doc_id)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM words GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS i
        FROM cand c
        JOIN words wa ON wa.doc_id = c.doc_a
        JOIN words wb ON wb.doc_id = c.doc_b AND wb.w = wa.w
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b,
           round(i::DOUBLE / (sa.n + sb.n - i), 6) AS jaccard,
           CASE WHEN doc_a % {INCR_MOD} = {INCR_REM}
                 AND doc_b % {INCR_MOD} = {INCR_REM}
                THEN 'new_new' ELSE 'corpus_new' END AS pair_kind
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(i::DOUBLE / (sa.n + sb.n - i), 6) >= {JACCARD_THRESHOLD}
"""

# The persisted-artifact variant partitions the same documents into the same
# corpus/batch slices and runs the identical band join — only the corpus
# signatures' PROVENANCE differs (parquet artifact vs in-session compute),
# so the in-session oracle certifies it too.
ORACLES["ns_dedup_incremental_persisted"] = ORACLES["ns_dedup_incremental"]

# Connected components: the SAME min-label-propagation + pointer-doubling
# round the Spark side runs, unrolled to CC_ROUNDS SQL stages.
# Each stage is one equi-join + groupBy and one label-of-label join — both
# LINEAR in |edges| — so the oracle is bench-feasible at sf0.1, unlike the
# previous recursive-CTE transitive closure (quadratic in the largest
# duplicate cluster: every (node, reachable-node) pair is enumerated).
# The Spark side iterates to the fixpoint; the tests pin that the fixture
# graphs reach it within CC_ROUNDS rounds, so results match exactly.
# AS MATERIALIZED is load-bearing: n{k}/l{k} are each referenced twice, so
# an inlining planner would double the whole upstream pipeline per round —
# 2^CC_ROUNDS copies of the simhash+band join (measured: 29 s instead of
# <1 s at sf0.01). Materialization keeps every stage computed exactly once,
# mirroring the Spark side's per-round localCheckpoint.
_CC_ROUND_CTES = "".join(
    f""",
    n{k} AS MATERIALIZED (
        SELECT a.doc, min(l.label) AS label
        FROM adj a JOIN l{k - 1} l ON l.doc = a.nbr
        GROUP BY a.doc
    ),
    l{k} AS MATERIALIZED (
        SELECT n.doc, least(n.label, coalesce(p.label, n.label)) AS label
        FROM n{k} n LEFT JOIN n{k} p ON p.doc = n.label
    )"""
    for k in range(1, CC_ROUNDS + 1)
)

# Shared prefix: SimHash pairs -> symmetric edge list -> CC label chain
# (l{CC_ROUNDS} holds the final doc -> component labels). Both the
# components oracle and the cluster-canonical oracle consume it.
_CC_LABELS_PREFIX = (
    _SIMHASH_CTE
    + f""",
    pairs AS MATERIALIZED (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sims a JOIN sims b
          ON a.doc_id < b.doc_id
         AND (substr(a.simhash, 1, 16) = substr(b.simhash, 1, 16)
              OR substr(a.simhash, 17, 16) = substr(b.simhash, 17, 16))
        WHERE {_HAMMING_EXPR} <= {HAMMING_MAX}
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT u AS doc FROM edges),
    adj AS MATERIALIZED (
        SELECT u AS doc, v AS nbr FROM edges
        UNION ALL
        SELECT doc, doc FROM nodes
    ),
    l0 AS (SELECT doc, doc AS label FROM nodes){_CC_ROUND_CTES}"""
)

ORACLES["ns_dedup_components"] = (
    _CC_LABELS_PREFIX
    + f"""
    SELECT doc AS doc_id, label AS component,
           CAST(count(*) OVER (PARTITION BY label) AS BIGINT)
               AS cluster_size,
           doc = label AS keep
    FROM l{CC_ROUNDS}
"""
)

# Canonical selection: same label chain, then keep-best-by-quality. The
# scored CTE interpolates THE ns_quality_logit expression
# (ngram_stats.LOGIT_SQL, the single source since the r16 consolidation
# — byte-identical to the spelling certified here through r15) so the
# two oracles can never drift apart.
ORACLES["ns_dedup_cluster_canonical"] = (
    _CC_LABELS_PREFIX
    + f""",
    scored AS (
        SELECT doc_id,
               CAST({_LOGIT_SQL_SRC} AS BIGINT)
                   AS logit_micro
        FROM documents WHERE text IS NOT NULL
    )
    SELECT component, canonical_doc, canonical_logit, cluster_size,
           cluster_size - 1 AS n_dropped
    FROM (
        SELECT l.label AS component, l.doc AS canonical_doc,
               s.logit_micro AS canonical_logit,
               CAST(count(*) OVER (PARTITION BY l.label) AS BIGINT)
                   AS cluster_size,
               row_number() OVER (PARTITION BY l.label
                                  ORDER BY s.logit_micro DESC, l.doc ASC)
                   AS rn
        FROM l{CC_ROUNDS} l JOIN scored s ON s.doc_id = l.doc
    ) WHERE rn = 1
"""
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


QUERIES["ns_winnow_fingerprint"] = q_ns_winnow_fingerprint
QUERIES["ns_winnow_pairs"] = q_ns_winnow_pairs

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

ORACLES["ns_winnow_fingerprint"] = f"""
        {_WINNOW_FP_CTES}
        SELECT doc_id, CAST(fp AS BIGINT) AS fp FROM fp
    """
ORACLES["ns_winnow_pairs"] = f"""
        {_WINNOW_FP_CTES}
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS shared_fps
        FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= {WINNOW_MIN_SHARED}
    """
