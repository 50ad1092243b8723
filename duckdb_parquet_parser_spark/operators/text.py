"""Text-analysis operators — north-star extension (SURVEY.md §2.5):
language-ID heuristic, quality scoring, token counting, fingerprinting,
benchmark decontamination (the exact n-gram join and its bloom-filter
pre-filter).

All pure built-in column expressions (split/regexp/aggregate) — zero
Python UDFs, so the whole pipeline stays inside whole-stage codegen and
scales linearly with a narrow projection of the documents table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, scale_out
from .corpus import _hex_digit_sql

STOPWORDS = ("the", "a", "of", "and", "in")
TOKEN_REGEX = "[a-z0-9]+"  # BPE-ish lowercase word/number pieces

# Marker-word lists for the n-gram/stopword language-ID heuristic.
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "in"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "una", "y", "es"),
}


def _count_in(words: Column, vocab: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(v) for v in vocab])
    return F.size(F.filter(words, lambda w: F.array_position(arr, w) > 0))


def q_ns_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, regex (BPE-ish)
    tokens, chars — per document."""
    df = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    return df.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(ws)).cast("long").alias("n_distinct_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_REGEX), 0))
        .cast("long")
        .alias("n_regex_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


def quality_score_micro(text_col: str = "text") -> Column:
    """Composite quality score in integer micro-points: pure int arithmetic
    is bit-identical across engines (compound float rounding is not —
    engines disagree on ties at the rounding digit)."""
    ws = F.split(text_col, " ")
    nt = F.size(ws).cast("long")
    n_distinct = F.size(F.array_distinct(ws)).cast("long")
    n_stop = _count_in(ws, STOPWORDS).cast("long")
    score = F.floor(
        ((n_distinct * 500000) + ((nt - n_stop) * 300000)) / nt
    ).cast("long")
    return score + F.least(
        F.length(text_col).cast("long") * 400, F.lit(200000).cast("long")
    )


def langid_pred(text_col: str = "text") -> Column:
    """Marker-word language ID: argmax of per-language marker hits with a
    deterministic priority tie-break (en > de > fr > es > und)."""
    ws = F.split(F.lower(text_col), " ")
    scores = {lang: _count_in(ws, m) for lang, m in LANG_MARKERS.items()}
    en, de, fr, es = scores["en"], scores["de"], scores["fr"], scores["es"]
    best = F.greatest(en, de, fr, es)
    return (
        F.when(best == 0, "und")
        .when(en == best, "en")
        .when(de == best, "de")
        .when(fr == best, "fr")
        .otherwise("es")
    )


def q_ns_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/stopword/distinctness ratios + a composite
    score — the standard LLM-corpus quality-filter shape."""
    df = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    n_tokens = F.size(ws)
    n_distinct = F.size(F.array_distinct(ws))
    n_stop = _count_in(ws, STOPWORDS)
    stop_ratio = F.round(n_stop / n_tokens, 6)
    distinct_ratio = F.round(n_distinct / n_tokens, 6)
    # mean token length over single-space-separated text is derivable
    # exactly from char counts: (chars - (n-1)) / n
    mean_tok_len = F.round((F.length("text") - (n_tokens - 1)) / n_tokens, 6)
    return df.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        distinct_ratio.alias("distinct_ratio"),
        mean_tok_len.alias("mean_token_len"),
        quality_score_micro().alias("quality_score_micro"),
    )


def q_ns_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "documents")
    ws = F.split(F.lower("text"), " ")
    return df.select(
        "doc_id",
        langid_pred().alias("pred_lang"),
        _count_in(ws, LANG_MARKERS["en"]).cast("long").alias("score_en"),
        "lang",
    )


def q_ns_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact content hash + order-insensitive
    bag-of-words fingerprint (sorted distinct lowercase tokens)."""
    df = load_table(spark, sf_dir, "documents")
    norm = F.array_join(
        F.array_sort(F.array_distinct(F.split(F.lower("text"), " "))), " "
    )
    return df.select(
        "doc_id",
        F.md5("text").alias("fp_exact"),
        F.md5(norm).alias("fp_bow"),
    )


ROLL_BASE = 31
ROLL_MOD = 1_000_000_007


def q_ns_text_rollhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint over token streams:
    ``h = fold(h * 31 + md5_low16(token)) mod 1e9+7`` — the incremental
    document fingerprint a streaming ingest pipeline maintains. Pure
    ``aggregate`` fold, JVM-side; DuckDB mirrors it with list_reduce."""
    df = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    tok_val = lambda w: F.conv(F.substring(F.md5(w), 1, 4), 16, 10).cast(  # noqa: E731
        "long"
    )
    roll = F.aggregate(
        ws,
        F.lit(0).cast("long"),
        lambda acc, w: (acc * ROLL_BASE + tok_val(w)) % ROLL_MOD,
    )
    return df.select("doc_id", roll.alias("roll_hash"))


EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+"
NUM_RE = "[0-9]+"


def q_ns_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing: emails then digit runs replaced with fixed
    tags, plus hit counts — the redaction pass a training-data pipeline
    runs before tokenization. Pure regexp_replace/regexp_extract_all
    (Java and RE2 agree on this character-class subset; both engines
    replace ALL matches — DuckDB needs the explicit 'g' flag)."""
    df = load_table(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace("text", EMAIL_RE, "<EMAIL>"), NUM_RE, "<NUM>"
    )
    return df.select(
        "doc_id",
        redacted.alias("redacted"),
        F.size(F.regexp_extract_all("text", F.lit(EMAIL_RE), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(NUM_RE), 0))
        .cast("long")
        .alias("n_numbers"),
    )


def q_ns_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition scoring: share of repeated tokens and the dominance of
    the single most frequent token — the boilerplate/template detector.
    Max-token-frequency via one explode+double-groupBy (map-side partials
    both levels); ratios in round(x, 6) per the engine-wide convention."""
    df = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    base = df.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(ws)).cast("long").alias("n_distinct"),
    )
    tok_counts = (
        df.select("doc_id", F.explode(ws).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_tok"))
    )
    return (
        base.join(tok_counts, "doc_id")
        .select(
            "doc_id",
            F.round(
                (F.col("n_tokens") - F.col("n_distinct")) / F.col("n_tokens"), 6
            ).alias("repeated_ratio"),
            F.round(F.col("max_tok") / F.col("n_tokens"), 6).alias(
                "top_token_ratio"
            ),
            F.col("max_tok").alias("max_token_count"),
        )
    )


CURATE_MIN_SCORE = 640_000


def q_ns_pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the composition a training-data
    pipeline actually runs, as ONE declarative plan:

        scan → language-ID filter (en) → quality gate → exact dedup
        (keep min doc_id per content hash) → per-survivor stats

    Every stage is a reused expression from this module / dedup.py, so
    Catalyst fuses the filters into the scan and the whole job is one
    narrow pass plus a single hash-groupBy shuffle. The oracle replays
    the identical composition in SQL."""
    df = scale_out(spark, load_table(spark, sf_dir, "documents"))
    curated = df.filter(
        (langid_pred() == "en")
        & (quality_score_micro() >= CURATE_MIN_SCORE)
    )
    ws = F.split("text", " ")
    return (
        curated.select(
            "doc_id",
            F.md5("text").alias("fp"),
            F.size(ws).cast("long").alias("n_tokens"),
        )
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("n_tokens").alias("n_tokens"),  # text ⇒ fp ⇒ constant
        )
    )


EVAL_MOD = 23  # every 23rd doc plays the held-out benchmark set
CONTAM_N = 3  # word n-gram size (3 discriminates on this corpus; real
#               pipelines use 8-13-gram at which any match is suspicious)
CONTAM_MIN_SHARED = 2


def _word_ngrams(ws, n: int):
    """Distinct word n-grams of a split-text array — the distinct variant
    of ``ngram_stats._all_word_ngrams`` (ONE definition of the subtle
    full-window slice+array_join expression; a third inline copy in
    ``dedup.q_ns_ngram_jaccard`` was also collapsed onto it,
    code-review r6)."""
    from .ngram_stats import _all_word_ngrams

    return F.array_distinct(_all_word_ngrams(ws, n))


def q_ns_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: word-n-gram overlap between the
    training corpus and a held-out eval set (docs with doc_id % 23 == 0) —
    the decontamination check every LLM training pipeline runs before a
    corpus ships.

    Scale shape: the eval side is small by construction (benchmarks are
    thousands of docs, the corpus is billions), so its exploded n-gram
    table is ``broadcast()`` — the corpus side streams map-only through
    the hash join, then one groupBy on (doc_id, eval_doc_id) with map-side
    partials. No shuffle of corpus n-grams at all. ``scale_out`` spreads
    the single-file fixture scan across cores — the n-gram transform is
    the per-row-expensive stage, and on one input split it serializes on
    one core (measured 3.7 s single-task vs ~0.4 s spread at sf0.1); a
    real corpus scan already arrives in thousands of splits."""
    df = scale_out(spark, load_table(spark, sf_dir, "documents"))
    ws = F.split("text", " ")
    grams = df.select(
        "doc_id", F.explode(_word_ngrams(ws, CONTAM_N)).alias("g")
    )
    eval_grams = grams.filter(F.col("doc_id") % EVAL_MOD == 0).select(
        F.col("doc_id").alias("eval_doc_id"), "g"
    )
    corpus_grams = grams.filter(F.col("doc_id") % EVAL_MOD != 0)
    return (
        corpus_grams.join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id", "eval_doc_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= CONTAM_MIN_SHARED)
    )


# Per-language keep thresholds on the first 4 hex chars of md5(doc_id):
# lexicographic compare on lowercase hex ≈ uniform sampling, identical in
# every engine (no engine-native hash()/random()).
SAMPLE_THRESHOLDS = {"en": "3fff", "de": "7fff", "fr": "1fff", "es": "bfff"}
SAMPLE_DEFAULT_THRESHOLD = "ffff"


def q_ns_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling by language: keep a doc iff the
    first 16 bits of md5(doc_id) fall under its language's threshold
    (en 25%, de 50%, fr 12.5%, es 75%, other 100%). Hash-threshold
    sampling is the reproducible-pipeline alternative to rand(): stable
    across runs, engines, and cluster sizes, and embarrassingly parallel
    (a narrow filter, no shuffle)."""
    df = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    thresh = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(t))
            for lang, t in SAMPLE_THRESHOLDS.items()
        ],
        F.lit(SAMPLE_DEFAULT_THRESHOLD),
    )
    return df.select(
        "doc_id", "lang", bucket.alias("bucket_hex")
    ).filter(bucket <= thresh)


TFIDF_TOP_K = 5


def q_ns_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-``TFIDF_TOP_K`` terms by TF-IDF — the classic
    keyword/salience signal (topic tagging, near-dup triage, index
    pruning). tf = term multiplicity in the doc, df = #docs containing
    the term, score = tf · ln((N+1)/(df+1)) (the smoothed IDF), reported
    and RANKED on the 6-decimal-rounded score — ``ln`` is correct to the
    last ulp in both engines' libm but not bit-identical, so rankings
    order on the same quantized grid the output reports (the
    cosine-ranking lesson from the round-5 seed sweep) with the term as
    the deterministic tiebreak.

    Scale shape: one hash aggregation — (doc_id, term) with map-side
    partials — then document frequency as ``count() over (partition by
    term)`` directly on the aggregated tf frame (the per-term groups ARE
    the df counts, so a window on the already-term-keyed rows replaces a
    second aggregate + shuffle join of the same subplan — A/B'd at
    sf0.1: identical output, 7 → 5 exchanges). The corpus size N is a
    broadcast one-row aggregate (no driver collect), and the top-k is a
    per-doc window partitioned by doc_id. No global sort; skew on
    stop-word terms affects window and join spellings alike (both key
    the full tf frame by term) and is AQE-balanced.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = words.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.round(
        F.col("tf")
        * F.log(
            (F.col("n_docs") + F.lit(1)).cast("double")
            / (F.col("df") + F.lit(1)).cast("double")
        ),
        6,
    )
    wt = Window.partitionBy("term")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        tf.withColumn("df", F.count(F.lit(1)).over(wt))
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "rank", "score")
    )


QUERIES = {
    "ns_tfidf_topterms": q_ns_tfidf_topterms,
    "ns_pipeline_curate": q_ns_pipeline_curate,
    "ns_contamination": q_ns_contamination,
    "ns_sample_stratified": q_ns_sample_stratified,
    "ns_text_tokens": q_ns_text_tokens,
    "ns_text_quality": q_ns_text_quality,
    "ns_text_langid": q_ns_text_langid,
    "ns_text_fingerprint": q_ns_text_fingerprint,
    "ns_text_rollhash": q_ns_text_rollhash,
    "ns_text_redact": q_ns_text_redact,
    "ns_text_repetition": q_ns_text_repetition,
}


def _sql_count_in(vocab: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{v}'" for v in vocab)
    return (
        f"len(list_filter(string_split(lower(text), ' '), "
        f"w -> list_contains([{lst}], w)))"
    )


_LANG_SCORES = {lang: _sql_count_in(m) for lang, m in LANG_MARKERS.items()}

_SAMPLE_THRESH_CASE = (
    "CASE "
    + " ".join(
        f"WHEN lang = '{lang}' THEN '{t}'"
        for lang, t in SAMPLE_THRESHOLDS.items()
    )
    + f" ELSE '{SAMPLE_DEFAULT_THRESHOLD}' END"
)

_CONTAM_GRAM_EXPR = " || ' ' || ".join(
    f"ws[i + {k}]" for k in range(CONTAM_N)
)

ORACLES = {
    "ns_tfidf_topterms": f"""
        WITH docs AS (
            SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        ),
        words AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM docs
        ),
        tf AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM words WHERE term <> '' GROUP BY doc_id, term
        ),
        df AS (
            SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM tf GROUP BY term
        ),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM docs),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, df.df,
                   round(tf.tf * ln(CAST(n.n_docs + 1 AS DOUBLE)
                                    / CAST(df.df + 1 AS DOUBLE)), 6) AS score
            FROM tf JOIN df USING (term), n
        )
        SELECT doc_id, term, tf, df,
               CAST(row_number() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, term) AS INT) AS rank,
               score
        FROM scored
        QUALIFY rank <= {TFIDF_TOP_K}
    """,
    "ns_contamination": f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        grams AS (
            SELECT DISTINCT doc_id, {_CONTAM_GRAM_EXPR} AS g
            FROM t, (SELECT unnest(range(1, 4000)) AS i)
            WHERE i + {CONTAM_N - 1} <= len(ws)
        )
        SELECT c.doc_id, e.doc_id AS eval_doc_id,
               CAST(count(*) AS BIGINT) AS shared_ngrams
        FROM grams c
        JOIN grams e ON c.g = e.g
        WHERE e.doc_id % {EVAL_MOD} = 0 AND c.doc_id % {EVAL_MOD} <> 0
        GROUP BY c.doc_id, e.doc_id
        HAVING count(*) >= {CONTAM_MIN_SHARED}
    """,
    "ns_sample_stratified": f"""
        SELECT doc_id, lang,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS bucket_hex
        FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
              <= {_SAMPLE_THRESH_CASE}
    """,
    "ns_pipeline_curate": f"""
        WITH scored AS (
            SELECT doc_id, text,
                   {_LANG_SCORES["en"]} AS s_en,
                   {_LANG_SCORES["de"]} AS s_de,
                   {_LANG_SCORES["fr"]} AS s_fr,
                   {_LANG_SCORES["es"]} AS s_es,
                   len(string_split(text, ' ')) AS n_tokens,
                   len(list_distinct(string_split(text, ' '))) AS n_distinct,
                   {_sql_count_in(STOPWORDS)} AS n_stop
            FROM documents
        ),
        curated AS (
            SELECT doc_id, text, n_tokens
            FROM scored
            WHERE CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                       WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                       ELSE 'es' END = 'en'
              AND CAST((n_distinct * 500000 + (n_tokens - n_stop) * 300000)
                       // n_tokens
                       + least(length(text) * 400, 200000) AS BIGINT)
                  >= {CURATE_MIN_SCORE}
        )
        SELECT md5(text) AS fp,
               min(doc_id) AS keep_doc_id,
               CAST(count(*) AS BIGINT) AS n_copies,
               CAST(min(n_tokens) AS BIGINT) AS n_tokens
        FROM curated GROUP BY fp
    """,
    "ns_text_tokens": f"""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                   AS n_distinct_tokens,
               CAST(len(regexp_extract_all(lower(text), '{TOKEN_REGEX}'))
                   AS BIGINT) AS n_regex_tokens,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    """,
    "ns_text_quality": f"""
        WITH t AS (
            SELECT doc_id, text,
                   len(string_split(text, ' ')) AS n_tokens,
                   len(list_distinct(string_split(text, ' '))) AS n_distinct,
                   {_sql_count_in(STOPWORDS)} AS n_stop
            FROM documents
        )
        SELECT doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               round(n_stop::DOUBLE / n_tokens, 6) AS stopword_ratio,
               round(n_distinct::DOUBLE / n_tokens, 6) AS distinct_ratio,
               round((length(text) - (n_tokens - 1))::DOUBLE / n_tokens, 6)
                   AS mean_token_len,
               CAST((n_distinct * 500000 + (n_tokens - n_stop) * 300000)
                    // n_tokens
                    + least(length(text) * 400, 200000) AS BIGINT)
                   AS quality_score_micro
        FROM t
    """,
    "ns_text_langid": f"""
        WITH s AS (
            SELECT doc_id, lang,
                   {_LANG_SCORES["en"]} AS s_en,
                   {_LANG_SCORES["de"]} AS s_de,
                   {_LANG_SCORES["fr"]} AS s_fr,
                   {_LANG_SCORES["es"]} AS s_es
            FROM documents
        )
        SELECT doc_id,
               CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                    WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                    WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                    WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                    ELSE 'es' END AS pred_lang,
               CAST(s_en AS BIGINT) AS score_en,
               lang
        FROM s
    """,
    "ns_text_fingerprint": """
        SELECT doc_id,
               md5(text) AS fp_exact,
               md5(array_to_string(list_sort(list_distinct(
                   string_split(lower(text), ' '))), ' ')) AS fp_bow
        FROM documents
    """,
    # hex→int spelled arithmetically (strpos over the hex alphabet):
    # DuckDB's from_hex yields BLOB, which doesn't cast to BIGINT.
    "ns_text_rollhash": f"""
        SELECT doc_id,
               CASE WHEN text IS NULL THEN NULL ELSE
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(text, ' '),
                           w -> CAST(
                             (strpos('0123456789abcdef', substr(md5(w),1,1))-1)*4096
                           + (strpos('0123456789abcdef', substr(md5(w),2,1))-1)*256
                           + (strpos('0123456789abcdef', substr(md5(w),3,1))-1)*16
                           + (strpos('0123456789abcdef', substr(md5(w),4,1))-1)
                           AS BIGINT))),
                   (acc, v) -> (acc * {ROLL_BASE} + v) % {ROLL_MOD}
               ) END AS roll_hash
        FROM documents
        -- NULL text → NULL hash both engines (Spark's aggregate over a
        -- NULL array is NULL; DuckDB's list_prepend(0, NULL) would
        -- otherwise yield [0] → 0 — divergence caught by
        -- tests/test_randomized_docs.py)
    """,
    "ns_text_redact": f"""
        SELECT doc_id,
               regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{NUM_RE}', '<NUM>', 'g') AS redacted,
               CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT)
                   AS n_emails,
               CAST(len(regexp_extract_all(text, '{NUM_RE}')) AS BIGINT)
                   AS n_numbers
        FROM documents
    """,
    "ns_text_repetition": """
        WITH base AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tokens,
                   len(list_distinct(string_split(text, ' '))) AS n_distinct
            FROM documents
        ),
        toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents
        ),
        maxes AS (
            SELECT doc_id, CAST(max(c) AS BIGINT) AS max_tok
            FROM (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w)
            GROUP BY doc_id
        )
        SELECT b.doc_id,
               round((b.n_tokens - b.n_distinct)::DOUBLE / b.n_tokens, 6)
                   AS repeated_ratio,
               round(m.max_tok::DOUBLE / b.n_tokens, 6) AS top_token_ratio,
               m.max_tok AS max_token_count
        FROM base b JOIN maxes m ON b.doc_id = m.doc_id
    """,
}


# ---------------------------------------------------------------------------
# ns_bloom_decontam — bloom-filter membership pre-filter for decontamination
# ---------------------------------------------------------------------------
# The eval set's word n-grams set K md5-derived bits in an M-bit filter;
# every corpus n-gram probes it. A doc's bloom-hit count can only
# OVERcount its exact hit count (no false negatives — the one-sided bound
# the CMS row certifies for frequencies). The filter is CONSTANT-size
# (M bits, broadcast to every executor) regardless of eval-set size, the
# corpus side streams map-only through it, and only the small
# bloom-positive remnant pays the exact verification join
# (``ns_contamination``). M is deliberately NARROW (the CMS-width
# discipline): at M = 8192 the fixture eval set fills ~0.35 of the filter,
# so false positives actually occur and the ``false_pos`` column
# certifies the estimator; size M ∝ eval grams / ln2 · bits-per-element
# for real benchmarks. (M = 2048 measured SATURATED on the fixture — 46/70
# gram hits against 3 real ones; see ``_bloom_pos_sql``.)

BLOOM_M = 8192  # filter bits — deliberately narrow (note above)
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
    Output-equal to ``q_ns_contamination`` (the join shape below mirrors
    it line for line; the equality is pinned by a test). At 100 TB: the
    corpus gram stream passes one broadcast probe map-side, and only the
    surviving few percent enter the exact broadcast join + aggregation."""
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



_BLOOM_POS = [_bloom_pos_sql(f"h{i}") for i in range(BLOOM_K)]

QUERIES["ns_bloom_decontam"] = q_ns_bloom_decontam
ORACLES["ns_bloom_decontam"] = f"""
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
    """
