"""Corpus-preparation operators: vocabulary building, training-sequence
packing, domain mixture weighting, and length profiling — the steps between
"filtered documents" and "token batches on the trainer" in an LLM data
pipeline. (No reference analog: the reference engine stops at scans/chunks;
these extend its positional/chunking ideas — main.cpp:7-38 — to the token
domain.)

Scale notes:
- ``ns_vocab_topk``: two-level aggregation — (word, doc) partial counts
  map-side combine before the only wide shuffle (on word), then a bounded
  top-K via ``TakeOrderedAndProject``. No collect, no window.
- ``ns_seq_pack``: concat-and-chop packing (every doc's tokens land at a
  global offset; sequences are fixed SEQ_LEN windows over that stream) via
  the generic two-pass prefix sum in positional.py — per-partition partials,
  driver-side O(#partitions) prefix, partition-local window. No global
  ordering anywhere.
- ``ns_mixture_weights`` / ``ns_doclen_histogram``: single hash aggregations
  over (lang, source) / bucketed length — map-side partials, tiny outputs.
- Sketches: HLL distinct counts (``ns_approx_distinct_hll``), their set
  algebra across sources (``ns_hll_set_algebra``) and incremental
  maintenance over a persisted register artifact (``ns_hll_incremental``),
  count-min heavy hitters and a histogram quantile sketch — every sketch
  is constant-size state built from map-side partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..cache import ArtifactKind, ensure_artifact
from ..catalog import load_table
# The HLL corpus/batch split IS dedup's split (imported, not re-declared:
# a drifting second 10/7 pair would silently desync the two incremental
# pipelines' notion of "the new batch")
from .dedup import INCR_MOD as HLLI_MOD
from .dedup import INCR_REM as HLLI_REM
from .positional import file_order_running_total

VOCAB_TOP_K = 100
SEQ_LEN = 512  # tokens per packed training sequence
HIST_BUCKET = 16  # token-count histogram bucket width
HIST_MAX_BUCKET = 15  # open-ended top bucket


def q_ns_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build: the TOP_K words by document frequency (ties by
    total occurrences desc, then word asc), with both df and tf counts —
    the statistics a tokenizer-training / stopword-pruning step needs.

    Two-level agg keeps the wide shuffle narrow: (word, doc) partials
    collapse each doc's repetitions map-side, the word-level rollup then
    shuffles one row per distinct (word, doc) instead of one per token."""
    df = load_table(spark, sf_dir, "documents")
    words = df.filter(F.col("text").isNotNull()).select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    per_doc = words.groupBy("word", "doc_id").agg(
        F.count(F.lit(1)).alias("tf_doc")
    )
    return (
        per_doc.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.sum("tf_doc").alias("total_freq"),
        )
        .orderBy(
            F.col("doc_freq").desc(), F.col("total_freq").desc(), F.col("word")
        )
        .limit(VOCAB_TOP_K)
    )


def q_ns_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop sequence packing: documents are concatenated in
    corpus order and chopped into fixed SEQ_LEN-token training sequences
    (the packing strategy most LLM pretraining pipelines use — no padding,
    boundary docs split across neighboring sequences).

    Per doc: its global token offset, the first/last sequence it lands in,
    and its offset inside the first sequence. ``seq_last > seq_first``
    marks docs straddling a sequence boundary.

    Fixture file order == doc_id order (pinned by tests), so the file-order
    prefix sum agrees with the doc_id-ordered oracle exactly. (No
    ``scale_out`` here: a repartition would scramble the file order the
    prefix sum accumulates over; parallelism comes from the scan's natural
    splits, like every positional op.)"""
    df = load_table(spark, sf_dir, "documents")
    n_tokens = F.when(
        F.col("text").isNotNull(), F.size(F.split("text", " "))
    ).otherwise(F.lit(0)).cast("long")
    packed = file_order_running_total(
        df.select("doc_id", "text"), n_tokens, out_col="tok_before"
    )
    nt = F.when(
        F.col("text").isNotNull(), F.size(F.split("text", " "))
    ).otherwise(F.lit(0)).cast("long")
    return (
        packed.withColumn("n_tokens", nt)
        .filter(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "n_tokens",
            F.col("tok_before").alias("tok_offset"),
            F.floor(F.col("tok_before") / SEQ_LEN).cast("long").alias("seq_first"),
            F.floor((F.col("tok_before") + nt - 1) / SEQ_LEN)
            .cast("long")
            .alias("seq_last"),
            (F.col("tok_before") % SEQ_LEN).cast("long").alias("seq_offset"),
        )
    )


def q_ns_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixture weighting: per (lang, source) domain, its document
    and token share of the corpus plus the resampling weight that would
    equalize token share across domains (weight = uniform-target share /
    actual share, the DoReMi-style reweighting input). Integer micro-units
    + round(…, 6) keep the ratios cross-engine exact."""
    df = load_table(spark, sf_dir, "documents")
    n_tokens = F.when(
        F.col("text").isNotNull(), F.size(F.split("text", " "))
    ).otherwise(F.lit(0)).cast("long")
    dom = (
        df.select("lang", "source", n_tokens.alias("nt"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
        )
    )
    # Global window over the already-aggregated domain table (a handful of
    # rows) — the single-task stage touches #domains rows, never the corpus.
    total = Window.partitionBy()
    n_domains = F.count(F.lit(1)).over(total)
    tok_share = F.col("n_tokens") / F.sum("n_tokens").over(total)
    return dom.select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        F.round(tok_share, 6).alias("token_share"),
        F.round((F.lit(1.0) / n_domains) / tok_share, 6).alias("weight"),
    )


def q_ns_doclen_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profile: equi-width histogram of per-doc token counts
    (bucket = tokens // HIST_BUCKET, capped), with per-bucket doc count and
    min/max — the sanity check before choosing SEQ_LEN."""
    df = load_table(spark, sf_dir, "documents")
    nt = F.when(
        F.col("text").isNotNull(), F.size(F.split("text", " "))
    ).otherwise(F.lit(0)).cast("long")
    bucket = F.least(
        F.floor(nt / HIST_BUCKET), F.lit(HIST_MAX_BUCKET)
    ).cast("long")
    return (
        df.select(bucket.alias("bucket"), nt.alias("nt"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("nt").alias("min_tokens"),
            F.max("nt").alias("max_tokens"),
        )
    )


HLL_BUCKETS = 64  # m = 2^6 registers
HLL_RHO_CAP = 32
HLL_ALPHA = 0.709  # alpha_64 from the HLL paper
_HEX_BITS = {c: format(int(c, 16), "04b") for c in "0123456789abcdef"}


def _hex_digit_sql(col: str, i: int) -> str:
    """Portable SQL (Spark + DuckDB) for the integer value of hex char i."""
    whens = " ".join(f"WHEN '{c}' THEN {int(c, 16)}" for c in _HEX_BITS)
    return f"(CASE substr({col}, {i}, 1) {whens} END)"


def _hex_bits_sql(col: str, start: int, n_chars: int) -> str:
    """Portable SQL turning hex chars [start, start+n) into a bit string."""
    parts = []
    for i in range(start, start + n_chars):
        whens = " ".join(f"WHEN '{c}' THEN '{b}'" for c, b in _HEX_BITS.items())
        parts.append(f"CASE substr({col}, {i}, 1) {whens} END")
    return "(" + " || ".join(parts) + ")"


# Register inputs from md5(word): bucket = first byte mod m, rho = position
# of the first 1-bit in the next 64 bits (capped). Pure CASE/substr/instr —
# the SAME SQL text runs on both engines, so the sketch is exactly
# differential-testable (unlike engine-native approx_count_distinct).
_HLL_BUCKET_SQL = (
    f"(({_hex_digit_sql('hx', 1)} * 16 + {_hex_digit_sql('hx', 2)})"
    f" % {HLL_BUCKETS})"
)
_HLL_RHO_SQL = (
    f"least(CASE WHEN instr({_hex_bits_sql('hx', 3, 16)}, '1') = 0"
    f" THEN {HLL_RHO_CAP + 1}"
    f" ELSE instr({_hex_bits_sql('hx', 3, 16)}, '1') END, {HLL_RHO_CAP})"
)


def q_ns_approx_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct-word count per language via a deterministic
    HyperLogLog sketch (m=64 registers from md5 bits), next to the exact
    count and the relative error — the cardinality-sketch building block
    of corpus statistics at scales where exact distinct is a full shuffle
    of every unique token.

    Scale shape: registers aggregate with a map-side MAX into 64 rows per
    language (constant state — the whole point of HLL); only the exact
    baseline pays the distinct shuffle, and it exists here to certify the
    sketch. Determinism: md5-derived buckets/rho; the register sum uses
    exact integers (2^(cap-rho)); one final double division both engines
    perform identically."""
    df = load_table(spark, sf_dir, "documents")
    words = df.filter(F.col("text").isNotNull()).select(
        "lang", F.explode(F.split("text", " ")).alias("word")
    )
    h = words.select("lang", F.md5("word").alias("hx"))
    reg = (
        h.select(
            "lang",
            F.expr(_HLL_BUCKET_SQL).alias("bucket"),
            F.expr(_HLL_RHO_SQL).alias("rho"),
        )
        .groupBy("lang", "bucket")
        .agg(F.max("rho").alias("mr"))
    )
    # Σ 2^(cap-rho) over all m registers, empty registers contributing
    # 2^cap — exact BIGINT arithmetic, order-independent.
    scale = 2**HLL_RHO_CAP
    s = reg.groupBy("lang").agg(
        (
            F.sum(F.pow(F.lit(2.0), HLL_RHO_CAP - F.col("mr")).cast("long"))
            + (HLL_BUCKETS - F.count(F.lit(1))) * F.lit(scale)
        ).alias("ssum"),
        (HLL_BUCKETS - F.count(F.lit(1))).alias("v"),
    )
    est = F.expr(_HLL_FINAL_SQL)
    exact = words.groupBy("lang").agg(
        F.countDistinct("word").alias("n_exact")
    )
    return (
        s.join(exact, "lang")
        .select(
            "lang",
            "n_exact",
            F.round(est, 2).alias("hll_estimate"),
            F.round((est - F.col("n_exact")) / F.col("n_exact"), 4).alias(
                "rel_error"
            ),
        )
    )


CMS_DEPTH = 4  # count-min hash rows
CMS_WIDTH = 16  # buckets per row — deliberately NARROW (see docstring)
CMS_TOP_K = 20


def _cms_hx_sql(i: int, col: str = "word") -> str:
    """Portable SQL (Spark + DuckDB) for hash row *i*'s md5 of a word."""
    return f"md5(concat('cm{i}:', {col}))"


def _cms_bucket_sql(col: str) -> str:
    """Portable SQL: leading md5 hex digits of ``col`` → 0..WIDTH-1,
    using exactly as many digits as WIDTH needs (one per 4 bits) — a
    fixed two-digit read would both waste an md5+CASE per word when one
    digit suffices AND silently cap a widened sketch at 256 buckets
    (code-review r6). WIDTH must be a power of 16-compatible modulus of
    the digits read; the assert keeps the digit count honest."""
    import math

    n_digits = max(1, math.ceil(math.log(CMS_WIDTH, 16)))
    assert CMS_WIDTH <= 16 ** n_digits
    acc = _hex_digit_sql(col, 1)
    for i in range(2, n_digits + 1):
        acc = f"({acc} * 16 + {_hex_digit_sql(col, i)})"
    return f"({acc} % {CMS_WIDTH})"


def q_ns_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters with a deterministic count-min sketch: the exact
    top-``CMS_TOP_K`` words (by total occurrences) next to their
    count-min estimates and relative overestimation error — the
    bounded-state building block for frequency questions on a vocabulary
    too large to groupBy exactly (the same role the HLL row plays for
    cardinality).

    Sketch: DEPTH×WIDTH (4×16) counters; row *i* buckets a word by the
    first md5 hex pair of ``'cm{i}:' || word`` mod WIDTH; a word's
    estimate is the MIN over its DEPTH counters, which can only
    OVERcount (collisions add) — ``cms_estimate >= exact_count`` is
    asserted in tests and the error column shows the bound in action.
    WIDTH is deliberately NARROW: the fixture vocabulary is ~31 words,
    so a production-width sketch would have zero collisions and the
    error column would certify nothing — at 16 buckets most top words
    share a counter in some row (14/20 overcounted at sf0.01, max
    rel_error ~2.0) and the min-over-rows estimator is genuinely
    exercised; widen WIDTH ∝ 1/ε for real vocabularies. All hashing is
    the portable CASE/substr md5 SQL (the HLL convention), so the
    DuckDB oracle runs the identical sketch, value for value.

    Scale shape: the sketch aggregates into DEPTH×WIDTH = 64 rows TOTAL
    regardless of corpus size — constant state, the whole point. Here it
    is summed from the exact per-word counts, which exist to certify the
    sketch and also give the top-k, so the corpus is scanned and
    exploded once (at production scale the exact pass is the thing the
    sketch replaces, and the registers aggregate straight off the word
    stream). Top-k is TakeOrderedAndProject, no global sort."""
    df = load_table(spark, sf_dir, "documents")
    words = df.filter(F.col("text").isNotNull()).select(
        F.explode(F.split("text", " ")).alias("word")
    )
    # ONE corpus pass: the exact word counts feed both the sketch and
    # the top-k. Every occurrence of a word lands in the same counter
    # of each row, so a counter is the sum of its distinct words' counts.
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("exact_count"))
    buckets = F.posexplode(
        F.array(
            *[F.expr(_cms_bucket_sql(_cms_hx_sql(i))) for i in range(CMS_DEPTH)]
        )
    ).alias("hrow", "bucket")
    regs = (
        counts.select("exact_count", buckets)
        .groupBy("hrow", "bucket")
        .agg(F.sum("exact_count").alias("cnt"))
    )
    top = counts.orderBy(F.desc("exact_count"), "word").limit(CMS_TOP_K)
    top_b = top.select("word", "exact_count", buckets)
    return (
        top_b.join(regs, ["hrow", "bucket"])
        .groupBy("word", "exact_count")
        .agg(F.min("cnt").alias("cms_estimate"))
        .select(
            "word",
            "exact_count",
            "cms_estimate",
            F.round(
                (F.col("cms_estimate") - F.col("exact_count"))
                / F.col("exact_count").cast("double"),
                6,
            ).alias("rel_error"),
        )
    )


QS_BUCKET = 8  # histogram-sketch bucket width (tokens)
QS_MAX_BUCKET = 63  # open-ended top bucket → 64 counters total
QS_QUANTILES = (0.25, 0.5, 0.75, 0.9, 0.99)


def q_ns_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate token-count quantiles from a bounded histogram sketch
    (equi-width, 64 counters), next to the exact quantile and the
    resolution error — completing the sketch family (HLL cardinality,
    CMS frequency, this one rank/quantile). The estimate for quantile q
    is the inclusive upper edge of the first bucket whose cumulative
    count reaches rank ``ceil(q·N)`` — a KLL-style rank query answered
    from constant state; bucket width trades error for memory exactly
    like CMS width does.

    Scale shape: the sketch aggregates with map-side partials into ≤64
    rows TOTAL regardless of corpus size; cumulative sums and the
    rank→bucket joins run on those 64 rows plus one 5-row quantile
    frame (non-equi joins here are BNLJ over bounded literal-sized
    frames — deliberate, documented, nothing data-sized). The exact
    baseline (groupBy token-count, bounded by distinct integer lengths)
    exists to certify the sketch, the same role exact top-k plays in
    the CMS row. Determinism: integer bucket arithmetic + one
    ``ceil(q·N)`` both engines evaluate on the same doubles; empty-doc
    zero lengths are included so N matches the corpus row count."""
    df = load_table(spark, sf_dir, "documents")
    nt = F.when(
        F.col("text").isNotNull(), F.size(F.split("text", " "))
    ).otherwise(F.lit(0)).cast("long")
    nts = df.select(nt.alias("nt"))

    # ONE corpus pass (r18, guide §1.2): the histogram, the exact
    # cumulative frame AND the total are all derivable from the exact
    # per-value counts (bounded by #distinct token counts — tiny at any
    # corpus size), so aggregate once, persist, and fan out. The
    # previous spelling built each consumer from ``nts`` directly and
    # the est/exact subtrees duplicated the corpus scan EIGHT times in
    # the physical plan (plans/r18/ns_quantile_sketch_before.txt).
    # checkpoint (one scheduled job) rather than persist: a lazy cache
    # materializing inside the AQE broadcast builds measured 18 jobs vs
    # the checkpoint's 13 (A/B in profile_rows) — the eager cut is the
    # cheaper fan-out point.
    from ..session import checkpoint_df

    vals = checkpoint_df(
        nts.groupBy("nt").agg(F.count(F.lit(1)).alias("n")), eager=True
    )

    # The sketch: 64 bounded counters, cumulative within one tiny window
    # — re-aggregated from the value counts (bucket is a function of nt).
    bucket = F.least(F.floor(F.col("nt") / QS_BUCKET), F.lit(QS_MAX_BUCKET))
    hist = vals.groupBy(bucket.alias("bucket")).agg(F.sum("n").alias("n"))
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum_hist = hist.select("bucket", F.sum("n").over(wcum).alias("cum"))

    # Exact integer quantiles: smallest nt with cumulative count ≥ rank.
    wval = Window.orderBy("nt").rowsBetween(Window.unboundedPreceding, 0)
    cum_vals = vals.select("nt", F.sum("n").over(wval).alias("cum"))

    # coalesce: sum over an empty frame is NULL where count(*) was 0 —
    # keep the empty-corpus behavior identical to the one-pass spelling
    total = vals.agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n_total"))
    qdf = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(float(q)) for q in QS_QUANTILES])
        ).alias("q")
    )
    ranks = qdf.crossJoin(F.broadcast(total)).select(
        "q", F.ceil(F.col("q") * F.col("n_total")).cast("long").alias("rank")
    )
    est = (
        ranks.join(F.broadcast(cum_hist), F.col("cum") >= F.col("rank"))
        .groupBy("q", "rank")
        .agg(F.min("bucket").alias("b"))
        .select(
            "q",
            "rank",
            ((F.col("b") + 1) * QS_BUCKET - 1).cast("long").alias(
                "sketch_tokens"
            ),
        )
    )
    exact = (
        ranks.join(F.broadcast(cum_vals), F.col("cum") >= F.col("rank"))
        .groupBy("q")
        .agg(F.min("nt").alias("exact_tokens"))
    )
    return est.join(exact, "q").select(
        "q",
        "rank",
        "exact_tokens",
        "sketch_tokens",
        F.round(
            (F.col("sketch_tokens") - F.col("exact_tokens"))
            / F.greatest(F.col("exact_tokens"), F.lit(1)).cast("double"),
            6,
        ).alias("rel_error"),
    )


CHUNK_WIDTH = 500  # chars per chunk
CHUNK_STRIDE = 400  # start-to-start distance (=> 100-char overlap)


def q_ns_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-window chunking of every document — the
    RAG/embedding-prep splitter (chunk k covers chars
    [1 + k·STRIDE, 1 + k·STRIDE + WIDTH), so consecutive chunks share
    WIDTH − STRIDE chars of context). Emits per chunk its index, start
    offset, actual length (the tail chunk is short), and content hash —
    the compact manifest an embedding or retrieval indexer consumes.

    Scale shape: one narrow projection + an explode of a per-row
    ``sequence`` — no shuffle at all, embarrassingly parallel, and the
    chunk count is derived arithmetic so no second pass over the text.
    Offsets are CHARACTER-based on both engines (substr semantics
    match), so multi-byte text chunks identically.

    Chunk count is ``max(1, ceil((n − overlap) / stride))`` — chunking
    STOPS once a chunk reaches the end of the document. The naive
    "every start position ≤ n" rule emits a final chunk that is a strict
    suffix of the previous one whenever (n−1) mod stride < overlap
    (~25% of lengths at these constants): pure duplicate content, i.e. a
    wasted duplicate embedding per such doc for the downstream indexer
    (code-review r6).
    """
    df = load_table(spark, sf_dir, "documents")
    n = F.length("text")
    overlap = CHUNK_WIDTH - CHUNK_STRIDE
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - F.lit(overlap)) / F.lit(CHUNK_STRIDE))
    )
    chunk = F.expr(f"substr(text, chunk_start, {CHUNK_WIDTH})")
    return (
        df.filter(F.col("text").isNotNull() & (n >= 1))
        .select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(F.lit(0).cast("long"), (n_chunks - 1).cast("long"))
            ).alias("chunk_idx"),
        )
        .withColumn(
            "chunk_start", (F.col("chunk_idx") * CHUNK_STRIDE + 1).cast("long")
        )
        .select(
            "doc_id",
            "chunk_idx",
            "chunk_start",
            F.length(chunk).cast("long").alias("chunk_len"),
            F.md5(chunk).alias("chunk_hash"),
        )
    )


QUERIES = {
    "ns_quantile_sketch": q_ns_quantile_sketch,
    "ns_heavy_hitters_cms": q_ns_heavy_hitters_cms,
    "ns_chunk_split": q_ns_chunk_split,
    "ns_vocab_topk": q_ns_vocab_topk,
    "ns_seq_pack": q_ns_seq_pack,
    "ns_mixture_weights": q_ns_mixture_weights,
    "ns_doclen_histogram": q_ns_doclen_histogram,
    "ns_approx_distinct_hll": q_ns_approx_distinct_hll,
}

_NT_SQL = (
    "CASE WHEN text IS NOT NULL"
    " THEN len(string_split(text, ' ')) ELSE 0 END"
)

_CMS_UNION = " UNION ALL ".join(
    f"SELECT word, {i} AS hrow,"
    f" {_cms_bucket_sql(_cms_hx_sql(i))} AS bucket FROM words"
    for i in range(CMS_DEPTH)
)

_QS_VALUES = ", ".join(f"({float(q)!r})" for q in QS_QUANTILES)

ORACLES = {
    "ns_quantile_sketch": f"""
        WITH nts AS (
            SELECT CAST({_NT_SQL} AS BIGINT) AS nt FROM documents
        ),
        hist AS (
            SELECT least(nt // {QS_BUCKET}, {QS_MAX_BUCKET}) AS bucket,
                   count(*) AS n
            FROM nts GROUP BY 1
        ),
        cum_hist AS (
            SELECT bucket,
                   sum(n) OVER (ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM hist
        ),
        vals AS (SELECT nt, count(*) AS n FROM nts GROUP BY nt),
        cum_vals AS (
            SELECT nt,
                   sum(n) OVER (ORDER BY nt
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM vals
        ),
        total AS (SELECT count(*) AS n_total FROM nts),
        ranks AS (
            SELECT q, CAST(ceil(q * n_total) AS BIGINT) AS rank
            FROM (VALUES {_QS_VALUES}) AS qs(q), total
        ),
        est AS (
            SELECT r.q, r.rank,
                   CAST((min(c.bucket) + 1) * {QS_BUCKET} - 1 AS BIGINT)
                       AS sketch_tokens
            FROM ranks r JOIN cum_hist c ON c.cum >= r.rank
            GROUP BY r.q, r.rank
        ),
        ex AS (
            SELECT r.q, min(c.nt) AS exact_tokens
            FROM ranks r JOIN cum_vals c ON c.cum >= r.rank
            GROUP BY r.q
        )
        SELECT est.q, est.rank, ex.exact_tokens, est.sketch_tokens,
               round((est.sketch_tokens - ex.exact_tokens)
                     / CAST(greatest(ex.exact_tokens, 1) AS DOUBLE), 6)
                   AS rel_error
        FROM est JOIN ex ON est.q = ex.q
    """,
    "ns_heavy_hitters_cms": f"""
        WITH words AS (
            SELECT unnest(string_split(text, ' ')) AS word
            FROM documents WHERE text IS NOT NULL
        ),
        wb AS ({_CMS_UNION}),
        regs AS (
            SELECT hrow, bucket, CAST(count(*) AS BIGINT) AS cnt
            FROM wb GROUP BY hrow, bucket
        ),
        top AS (
            SELECT word, CAST(count(*) AS BIGINT) AS exact_count
            FROM words GROUP BY word
            ORDER BY exact_count DESC, word LIMIT {CMS_TOP_K}
        ),
        tb AS (
            SELECT t.word, t.exact_count, w.hrow, w.bucket
            FROM top t JOIN (SELECT DISTINCT word, hrow, bucket FROM wb) w
                 ON t.word = w.word
        )
        SELECT tb.word, tb.exact_count,
               min(r.cnt) AS cms_estimate,
               round((min(r.cnt) - tb.exact_count)
                     / CAST(tb.exact_count AS DOUBLE), 6) AS rel_error
        FROM tb JOIN regs r ON tb.hrow = r.hrow AND tb.bucket = r.bucket
        GROUP BY tb.word, tb.exact_count
    """,
    "ns_chunk_split": f"""
        WITH base AS (
            SELECT doc_id, text, length(text) AS n
            FROM documents
            WHERE text IS NOT NULL AND length(text) >= 1
        ),
        idx AS (
            -- scalar generate_series returns a LIST, so unnest fans out
            -- per row (the table-function form rejects lateral columns);
            -- chunk count = max(1, ceil((n - overlap) / stride)) — stop
            -- once a chunk reaches the end of the document
            SELECT doc_id, text,
                   unnest(generate_series(0,
                       CAST(greatest(1, ceil((n - {CHUNK_WIDTH - CHUNK_STRIDE})
                           / CAST({CHUNK_STRIDE} AS DOUBLE))) AS BIGINT) - 1))
                       AS k
            FROM base
        )
        SELECT doc_id,
               CAST(k AS BIGINT) AS chunk_idx,
               CAST(k * {CHUNK_STRIDE} + 1 AS BIGINT) AS chunk_start,
               CAST(length(substr(text, CAST(k * {CHUNK_STRIDE} + 1 AS BIGINT),
                                  {CHUNK_WIDTH})) AS BIGINT) AS chunk_len,
               md5(substr(text, CAST(k * {CHUNK_STRIDE} + 1 AS BIGINT),
                          {CHUNK_WIDTH})) AS chunk_hash
        FROM idx
    """,
    "ns_vocab_topk": f"""
        WITH words AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents WHERE text IS NOT NULL
        ),
        per_doc AS (
            SELECT word, doc_id, count(*) AS tf_doc
            FROM words GROUP BY word, doc_id
        )
        SELECT word,
               CAST(count(*) AS BIGINT) AS doc_freq,
               CAST(sum(tf_doc) AS BIGINT) AS total_freq
        FROM per_doc
        GROUP BY word
        ORDER BY doc_freq DESC, total_freq DESC, word
        LIMIT {VOCAB_TOP_K}
    """,
    "ns_seq_pack": f"""
        WITH toks AS (
            SELECT doc_id, CAST({_NT_SQL} AS BIGINT) AS n_tokens
            FROM documents
        ),
        packed AS (
            SELECT doc_id, n_tokens,
                   CAST(COALESCE(sum(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS tok_offset
            FROM toks
        )
        SELECT doc_id, n_tokens, tok_offset,
               CAST(tok_offset // {SEQ_LEN} AS BIGINT) AS seq_first,
               CAST((tok_offset + n_tokens - 1) // {SEQ_LEN} AS BIGINT)
                   AS seq_last,
               CAST(tok_offset % {SEQ_LEN} AS BIGINT) AS seq_offset
        FROM packed WHERE n_tokens > 0
    """,
    "ns_mixture_weights": f"""
        WITH dom AS (
            SELECT lang, source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum({_NT_SQL}) AS BIGINT) AS n_tokens
            FROM documents GROUP BY lang, source
        )
        SELECT lang, source, n_docs, n_tokens,
               round(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER (), 6)
                   AS token_share,
               round((CAST(1.0 AS DOUBLE) / count(*) OVER ())
                     / (CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER ()), 6)
                   AS weight
        FROM dom
    """,
    "ns_doclen_histogram": f"""
        WITH toks AS (
            SELECT CAST({_NT_SQL} AS BIGINT) AS nt FROM documents
        )
        SELECT CAST(least(nt // {HIST_BUCKET}, {HIST_MAX_BUCKET}) AS BIGINT)
                   AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               min(nt) AS min_tokens,
               max(nt) AS max_tokens
        FROM toks
        GROUP BY 1
    """,
}

# The bucket/rho expressions are the SAME SQL text Spark evaluates (via
# F.expr) — the sketch is deterministic by construction, so the whole
# estimate is hash-comparable.
_HLL_CONST = HLL_ALPHA * HLL_BUCKETS * HLL_BUCKETS
_HLL_EST_SQL = (
    f"CAST({_HLL_CONST!r} AS DOUBLE) * CAST({float(2**HLL_RHO_CAP)!r} AS DOUBLE)"
    " / ssum"
)

# Small-range (linear counting) correction: E <= 2.5m with V empty
# registers -> m*ln(m/V). ln(x) may differ by an ulp between libm
# implementations, so the 64 possible values are precomputed here and
# injected as identical double literals into BOTH engines.
import math  # noqa: E402

_HLL_LINEAR_SQL = (
    "(CASE v "
    + " ".join(
        f"WHEN {v} THEN {HLL_BUCKETS * math.log(HLL_BUCKETS / v)!r}"
        for v in range(1, HLL_BUCKETS + 1)
    )
    + " END)"
)
_HLL_FINAL_SQL = (
    f"CASE WHEN v > 0 AND {_HLL_EST_SQL} <= {2.5 * HLL_BUCKETS!r}"
    f" THEN {_HLL_LINEAR_SQL} ELSE {_HLL_EST_SQL} END"
)
ORACLES["ns_approx_distinct_hll"] = f"""
    WITH words AS (
        SELECT lang, unnest(string_split(text, ' ')) AS word
        FROM documents WHERE text IS NOT NULL
    ),
    h AS (SELECT lang, md5(word) AS hx FROM words),
    reg AS (
        SELECT lang, {_HLL_BUCKET_SQL} AS bucket, {_HLL_RHO_SQL} AS rho
        FROM h
    ),
    m AS (SELECT lang, bucket, max(rho) AS mr FROM reg GROUP BY lang, bucket),
    s AS (
        SELECT lang,
               sum(CAST(pow(2, {HLL_RHO_CAP} - mr) AS BIGINT))
               + ({HLL_BUCKETS} - count(*)) * {2**HLL_RHO_CAP} AS ssum,
               {HLL_BUCKETS} - count(*) AS v
        FROM m GROUP BY lang
    ),
    ex AS (
        SELECT lang, CAST(count(DISTINCT word) AS BIGINT) AS n_exact
        FROM words GROUP BY lang
    )
    SELECT s.lang, ex.n_exact,
           round({_HLL_FINAL_SQL}, 2) AS hll_estimate,
           round(({_HLL_FINAL_SQL} - n_exact) / n_exact, 4) AS rel_error
    FROM s JOIN ex USING (lang)
"""


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
    machinery verbatim (shared, not copied); the final estimates are
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


def _hll_source_registers(words: DataFrame) -> DataFrame:
    """(source, bucket, mr) HLL registers — the certified
    ns_approx_distinct_hll machinery keyed by source."""
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
#: do NOT cover this run's corpus slice. Column TYPES are checked too:
#: unionByName would coerce a string ``mr`` and turn the register merge
#: into a silent lexicographic max.
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


def _hll_algebra_oracle() -> str:
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


QUERIES["ns_hll_set_algebra"] = q_ns_hll_set_algebra
QUERIES["ns_hll_incremental"] = q_ns_hll_incremental
ORACLES["ns_hll_set_algebra"] = _hll_algebra_oracle()
ORACLES["ns_hll_incremental"] = _hll_incremental_oracle()
