"""Curation-stage operators: per-source capping, provenance telemetry,
the convergent text-dedup certification twin, the curation lineage and
incremental duplicate clusters, plus the TPC-H Q15/Q10 report shapes.

- ``ns_source_cap`` — per-SOURCE quality-capped sampling, the curation
  step between scoring and training-mix assembly: for every provenance
  bucket (the ``documents.source`` column), rank docs by the certified
  quality logit (``ns_quality_logit``'s integer score, reused verbatim
  so the gates can never disagree) with doc_id tiebreak, and keep the
  top ``SOURCE_CAP``. Real pipelines cap per-domain/per-crawl exactly
  like this to stop one megasite from dominating the mixture. Scale
  shape: ONE hash exchange on ``source`` feeding a rank window; with
  skewed sources the window is the standard two-phase cap (per-partition
  pre-top-K then final) — at the fixture's 20 uniform sources the plain
  window is the right plan, and the per-row score is a zero-shuffle
  projection.
- ``rel_top_supplier_q15`` — TPC-H Q15's top-revenue-supplier shape:
  per-supplier revenue over a ship-date quarter, keeping every supplier
  whose revenue EQUALS the global maximum (ties kept, per spec). The
  global max is a 1-row broadcast off the same checkpointed aggregate
  (the Q11/Q22 broadcast-scalar discipline); revenue compares as exact
  DECIMAL — equality against a max is only sound because both engines
  sum the same decimals with no float rounding.
- ``rel_returned_top_q10`` — TPC-H Q10's returned-item revenue report,
  deterministic top-20 (exact-DECIMAL ordering, custkey tiebreak).
- ``ns_source_droprate`` — per-provenance near-dup drop rate in basis
  points: the certified ``ns_dedup_components`` keep/drop decisions
  joined back to the documents dimension; the oracle WRAPS the imported
  components oracle as a CTE so the two can never drift. Integer floor
  division on both sides (Spark ``div``, DuckDB ``//``) — Spark's
  double→long cast truncates where DuckDB's CAST rounds.
- ``ns_curation_lineage`` — every doc labeled with the first curation
  stage that dropped it (quality gate, bloom-prefiltered decontamination,
  the ``span_scrub`` boilerplate transform, exact dedup on the scrubbed
  text, per-source token budget), against a one-CTE-chain DuckDB oracle
  that uses the plain exact contamination join.
- ``ns_cc_incremental`` — duplicate clusters maintained from persisted
  labels plus only the new batch's edges, certified against the
  full-graph ``WITH RECURSIVE`` closure.

``per_source_keepers`` is the 100 TB skew-safe variant of the
cap for pipelines that only need the keepers — salted local top-K, then
a global re-rank over ≤ k × SALTS candidates per source.

Reference analog: none (reference has no relational/curation surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..cache import ArtifactKind, ensure_artifact
from ..catalog import load_table, scale_out
from ..functions import DEC
from ..session import checkpoint_df
from .dedup import _text_components_materialized
from .ngram_stats import LOGIT_SQL, q_ns_quality_logit
from .text import (
    CONTAM_MIN_SHARED,
    CONTAM_N,
    EVAL_MOD,
    contamination_with_bloom_prefilter,
)

SOURCE_CAP = 10

Q15_LO, Q15_HI = "1996-01-01", "1996-04-01"


def q_ns_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keep/drop decisions: rank by quality logit (desc),
    doc_id tiebreak, keep the top SOURCE_CAP of each source."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scored = q_ns_quality_logit(spark, sf_dir).select("doc_id", "logit_micro")
    w = Window.partitionBy("source").orderBy(
        F.desc("logit_micro"), F.asc("doc_id")
    )
    return (
        docs.join(scored, "doc_id")
        .withColumn("src_rank", F.row_number().over(w).cast("int"))
        .select(
            "doc_id",
            "source",
            "logit_micro",
            "src_rank",
            (F.col("src_rank") <= SOURCE_CAP).alias("kept"),
        )
    )


def q_rel_top_supplier_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers achieving the quarter's maximum revenue (ties kept):
    one fact exchange (the per-supplier aggregate, checkpointed for its
    two consumers), global max as a 1-row broadcast."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q15_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q15_HI).cast("timestamp"))
    )
    revenue = checkpoint_df(
        li.groupBy("l_suppkey").agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    DEC
                )
            ).alias("total_revenue")
        ),
        eager=True,
    )
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(
            F.broadcast(load_table(spark, sf_dir, "supplier")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            F.col("s_suppkey"),
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


Q10_LO, Q10_HI = "1996-01-01", "1996-04-01"
Q10_TOP = 20


def q_rel_returned_top_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10's returned-item shape: revenue a customer generated in
    RETURNED lineitems ('R' flag) for orders placed in the quarter — the
    'who is returning the most value' report — top ``Q10_TOP`` with
    customer/nation attributes. Ordering ties break on custkey so the
    top-K SET is deterministic in both engines (the revenue compare is
    exact DECIMAL; only the output casts to double). Plan: returnflag
    pushed into the lineitem scan, order window pushed into orders, one
    orderkey exchange, customer/nation broadcast, TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q10_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q10_HI).cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(load_table(spark, sf_dir, "nation")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    rev = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    DEC
                )
            ).alias("revenue")
        )
    )
    return (
        rev.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(Q10_TOP)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.col("revenue").cast("double").alias("revenue"),
        )
    )


#: The converged component labels, persisted by the dedup job and
#: reopened by curation telemetry.
COMPONENTS = ArtifactKind(
    name="components",
    prefix="sg_comp",
    columns={"doc": "bigint", "component": "bigint"},
    params={"comp_version": 1},
    build=_text_components_materialized,
)


def q_ns_source_droprate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source near-dup DROP RATE — curation telemetry: which
    provenance buckets are dirtiest. The keep/drop decision is
    ``ns_dedup_components``'s (SimHash pair graph → CC → min-id keep),
    joined to the documents dimension: per source, total docs, docs the
    dedup policy drops, and the cross-multiplied-safe rate in basis
    points (integer — no float division drift). Docs that appear in NO
    near-dup pair have no components row and are KEPT (coalesce, left
    join).

    Landed r16 (staged + oracle-tested in r15; VERDICT r14 #2): the
    labels come from a PERSISTED parquet artifact reopened through the
    validated read path — the production telemetry shape. The dedup job
    writes the components table once; telemetry pays one sidecar-gated
    parquet read + one join + one aggregation, never the CC pipeline
    (driver walls: 7.42 s cold / 5.69 s steady re-deriving → 0.39 s
    steady on the artifact). If no prior-run artifact exists for this
    exact table content, one is written first (that write IS the prior
    run — the ``ns_dedup_incremental_persisted`` convention). Output and
    oracle are unchanged from the r13-certified row, so the r16 hash
    match certifies persisted ≡ recomputed."""
    comp = ensure_artifact(spark, COMPONENTS, sf_dir).select(
        F.col("doc").alias("doc_id"),
        (F.col("doc") == F.col("component")).alias("keep"),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
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
            # integer floor division on BOTH sides (Spark `div`, DuckDB
            # `//`): float division + cast would truncate in Spark but
            # ROUND in DuckDB's CAST — an off-by-one waiting for a ratio
            # that lands on .5
            F.expr("(n_dropped * 10000) div n_docs").alias("drop_bps"),
        )
    )


QUERIES = {
    "ns_source_cap": q_ns_source_cap,
    "rel_top_supplier_q15": q_rel_top_supplier_q15,
    "rel_returned_top_q10": q_rel_returned_top_q10,
    "ns_source_droprate": q_ns_source_droprate,
}

# THE quality-logit oracle fragment, re-exported from its single source
# (ngram_stats.LOGIT_SQL) for this module's oracles: the source cap and
# the curation lineage.
_LOGIT_SQL = LOGIT_SQL

ORACLES = {
    "ns_source_cap": f"""
        WITH scored AS (
            SELECT doc_id, source,
                   CAST({_LOGIT_SQL} AS BIGINT) AS logit_micro
            FROM documents WHERE text IS NOT NULL
        )
        SELECT doc_id, source, logit_micro,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY logit_micro DESC, doc_id
               ) AS INT) AS src_rank,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY logit_micro DESC, doc_id
               ) <= {SOURCE_CAP} AS kept
        FROM scored
    """,
    "rel_top_supplier_q15": f"""
        WITH revenue AS (
            SELECT l_suppkey,
                   sum(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(18,6))) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '{Q15_LO}'
              AND l_shipdate < TIMESTAMP '{Q15_HI}'
            GROUP BY 1
        )
        SELECT s_suppkey, s_name,
               CAST(total_revenue AS DOUBLE) AS total_revenue
        FROM revenue JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    "rel_returned_top_q10": f"""
        WITH rev AS (
            SELECT o_custkey,
                   sum(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(18,6))) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '{Q10_LO}'
              AND o_orderdate < TIMESTAMP '{Q10_HI}'
            GROUP BY 1
        )
        SELECT c_custkey, c_name, n_name,
               CAST(revenue AS DOUBLE) AS revenue
        FROM rev
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        ORDER BY rev.revenue DESC, c_custkey
        LIMIT {Q10_TOP}
    """,
}

# The drop-rate oracle wraps the FULL certified components oracle (the
# unrolled min-label chain) as a CTE — imported, not copied, so the two
# can never drift — then aggregates keep/drop per provenance bucket.
from .dedup import ORACLES as _DEDUP_ORACLES  # noqa: E402

ORACLES["ns_source_droprate"] = f"""
    WITH comp AS (
        {_DEDUP_ORACLES["ns_dedup_components"]}
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN coalesce(c.keep, TRUE) THEN 0 ELSE 1 END)
                AS BIGINT) AS n_dropped,
           (CAST(sum(CASE WHEN coalesce(c.keep, TRUE) THEN 0 ELSE 1 END)
                 AS BIGINT) * 10000) // CAST(count(*) AS BIGINT)
               AS drop_bps
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    GROUP BY 1
"""


SOURCE_CAP_SALTS = 32


def per_source_keepers(df: DataFrame, k: int = SOURCE_CAP) -> DataFrame:
    """Skew-safe KEPT-ONLY variant of the per-source cap for 100 TB.

    ``q_ns_source_cap``'s output contract (a rank for EVERY doc) forces
    one full sort per source — fine at the fixture's uniform 20 sources,
    but a megasource (half the crawl from one domain) lands on a single
    window task. When the pipeline only needs the KEEPERS, the cap is a
    salted two-phase top-K: (1) local row_number within
    (source, doc_id mod SALTS) keeps ≤ k per bucket — any row with ≥ k
    better rows in its OWN bucket has ≥ k better rows in its source, so
    its global rank exceeds k and it can never be a keeper; (2) the
    global re-rank runs over ≤ k × SALTS candidate rows per source.
    Dropping non-candidates cannot change the survivors' relative order,
    so ranks 1..k are IDENTICAL to the full-window variant's (equivalence
    pinned in tests/test_curation.py).

    Input: (doc_id, source, logit_micro); output: the ≤ k keepers per
    source with their exact ``src_rank``.
    """
    salted = df.withColumn(
        "_salt", F.pmod(F.col("doc_id"), F.lit(SOURCE_CAP_SALTS))
    )
    w_local = Window.partitionBy("source", "_salt").orderBy(
        F.desc("logit_micro"), F.asc("doc_id")
    )
    cands = (
        salted.withColumn("_lr", F.row_number().over(w_local))
        .filter(F.col("_lr") <= k)
        .drop("_salt", "_lr")
    )
    w_global = Window.partitionBy("source").orderBy(
        F.desc("logit_micro"), F.asc("doc_id")
    )
    return (
        cands.withColumn(
            "src_rank", F.row_number().over(w_global).cast("int")
        )
        .filter(F.col("src_rank") <= k)
    )


def q_ns_dedup_components_converged(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TEXT dedup clusters against the ``WITH RECURSIVE`` fixpoint
    oracle. When this was staged (round 12), ``ns_dedup_components``
    still ran a FIXED CC_ROUNDS budget and this was its convergent
    sibling; round 13 migrated the components query itself to
    ``connected_components_converged`` (VERDICT r12 #3), so the Spark
    side is now ONE pipeline — delegated, not duplicated — certified
    against TWO independent oracle techniques: the linear unrolled
    min-label chain (``ns_dedup_components``, bench-runnable at sf0.1)
    and this query's recursive transitive closure (fixpoint semantics
    the unrolled chain structurally can't express — the round-11
    lesson). Output contract: (doc_id, component, cluster_size, keep).

    Oracle cost (why this row is in ``bench.ORACLE_SKIP_AT_BENCH_SF``):
    the closure is O(Σ component²) — fine at the driver's sf0.01 gate
    (largest fixture cluster 408 docs, closure ≈ 166 K rows), but at
    sf0.1 it is the >10-minute case the unrolled-chain oracle was built
    to avoid (BENCH_NOTES round 4); the Spark side still runs there."""
    from .dedup import q_ns_dedup_components

    return q_ns_dedup_components(spark, sf_dir)


QUERIES["ns_dedup_components_converged"] = (
    q_ns_dedup_components_converged
)

ORACLES["ns_dedup_components_converged"] = f"""
    WITH RECURSIVE pairs AS (
        {_DEDUP_ORACLES["ns_dedup_simhash_pairs"]}
    ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ), reach (doc_id, label) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.label FROM edges e JOIN reach r ON r.doc_id = e.dst
    ), comp AS (
        SELECT doc_id, min(label) AS component FROM reach GROUP BY 1
    ), sizes AS (
        SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1
    )
    SELECT c.doc_id, c.component,
           CAST(s.cluster_size AS BIGINT) AS cluster_size,
           c.doc_id = c.component AS keep
    FROM comp c JOIN sizes s ON s.component = c.component
"""



# ---------------------------------------------------------------------------
# span_scrub — the boilerplate transform inside the curation lineage
# ---------------------------------------------------------------------------

SCRUB_N = 3  # span gram size (CONTAM_N convention)
SCRUB_MIN_DOCS = 6  # a gram in ≥ this many docs marks boilerplate
# Threshold measured on the fixture: at 6, 529 of 27 165 tokens (1.9%)
# scrub across 126 docs and NO doc is annihilated; at 4 a quarter of
# all tokens vanish (the corpus is built from a 31-word vocabulary, so
# low thresholds classify ordinary trigrams as boilerplate). Real
# corpora use the same knob against the same failure mode.


def span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
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


_SCRUB_GRAM_EXPR = " || ' ' || ".join(
    f"ws[i + {k}]" for k in range(SCRUB_N)
)

# The span-scrub CTE chain, shared verbatim by the scrub oracle and the
# curation-lineage oracle (one definition — a drifting copy would let
# the lineage's 'scrubbed_empty'/'duplicate' stages diverge from the
# tested transform).
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

#: ``span_scrub``'s DuckDB oracle (a helper, not a registered query; its
#: differential runs in the tests).
SPAN_SCRUB_ORACLE = f"""
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
    """


# ---------------------------------------------------------------------------
# ns_curation_lineage — per-doc first-drop stage through the pipeline
# ---------------------------------------------------------------------------

# The lineage's quality gate is the certified logit with a
# PIPELINE-calibrated cutoff: the query's own keep flag thresholds at 0,
# which this corpus's all-negative score range never reaches. Calibrating
# the cutoff to the corpus is what production quality gates do; this one
# drops the fixture's bottom quartile.
CURATE_MIN_LOGIT = -45_000
CURATE_TOKEN_BUDGET = 800  # measured so the 'budget' stage actually
#   FIRES at sf0.01 (top survivor sources carry ~1300 tokens; a
#   never-exceeded budget would make the lineage's last stage
#   certify nothing — the CMS-width discipline applied to a stage)


def q_ns_curation_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc LINEAGE through the full curation pipeline: every doc
    labeled with the FIRST stage that dropped it — ``null_text`` →
    ``quality`` → ``contaminated`` → ``scrubbed_empty`` →
    ``duplicate`` → ``budget`` — or ``kept``. The stages, in order: the
    calibrated quality gate, benchmark decontamination, the
    ``span_scrub`` boilerplate transform, exact dedup on the SCRUBBED
    text (min doc_id keeps), and a per-source token-budget watermark
    over scrubbed token counts in quality order (the straddling doc is
    kept). At 100 TB, "why did my doc disappear" must be a query, not a
    re-run with print statements; this is that query, certified
    end-to-end because every stage is individually exact cross-engine.

    The certification carries a theorem: the Spark side derives the
    contaminated set through the BLOOM-PREFILTERED join while the
    oracle uses the plain exact contamination join — the hash can only
    match because the prefilter is lossless (no false negatives), so
    every differential run re-proves the composition property, not just the
    arithmetic."""
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
    scrub = span_scrub(spark, sf_dir).select(
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
    # ONE pass, no self-joins (joining ranked→budgeted→base would
    # re-derive the scrub/bloom upstream per branch): survivors rank
    # within their scrubbed-text group while
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


def _lineage_oracle() -> str:
    """The whole pipeline as one DuckDB CTE chain. Contamination is the
    PLAIN exact join here (the Spark side runs the bloom prefilter) —
    hash equality proves the lossless-composition theorem on every run.
    The scrub CTEs are the shared ``_SPAN_SCRUB_CTES`` definition."""
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


QUERIES["ns_curation_lineage"] = q_ns_curation_lineage
ORACLES["ns_curation_lineage"] = _lineage_oracle()


# ---------------------------------------------------------------------------
# ns_cc_incremental — duplicate clusters maintained from persisted labels
# ---------------------------------------------------------------------------


def q_ns_cc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL duplicate-cluster maintenance — the graph-side
    completion of the engine's incrementality story (signatures:
    ``ns_dedup_incremental``; sketches: ``ns_hll_incremental``; now the
    CLUSTERS themselves): run N's persisted (doc, component) label
    table plus ONLY the new batch's near-dup edges reproduce the full
    recompute's clustering exactly, without ever re-walking the corpus
    pair graph.

    Construction (the standard star-contraction argument): every run-N
    cluster collapses to a STAR — one (member, component) edge per
    non-representative member, O(#clustered docs) edges regardless of
    how dense the original pair graph was — and the convergent CC runs
    over stars ∪ batch edges. Contracting connected subgraphs preserves
    connectivity, and min-labels survive because each star carries its
    component's min doc_id, so the merged labeling IS the full graph's
    labeling. The oracle has no incremental path: it is the
    ``WITH RECURSIVE`` transitive closure of the FULL pair set (the
    certified ``ns_dedup_components_converged`` oracle, reused
    verbatim), so the hash match certifies merge ≡ recompute exactly —
    the ``ns_hll_incremental`` pattern applied to graphs.

    Scale shape (100 TB corpus, small daily batch): run N+1 reads the
    label table (narrow, one row per clustered doc — emulated here
    with an eager checkpoint standing in for the persisted parquet),
    band-joins ONLY the batch (the ``ns_dedup_incremental`` plan —
    corpus↔corpus candidates impossible by construction), and the CC
    rounds run over star+batch edges, logarithmic in the diameter of
    the MERGED clusters only. The corpus CC below prices what run N
    already paid; in production it is a table read."""
    from .dedup import (
        INCR_MOD,
        INCR_REM,
        _simhash_pairs_materialized,
        connected_components_converged,
    )

    # the memoized pair table, not the lazy builder: THREE graph
    # consumers read it in a session (corpus CC, merged CC, and the
    # certified ns_dedup_components the equivalence test runs) — the
    # exact consumer class dedup._simhash_pairs_materialized exists for
    pairs = _simhash_pairs_materialized(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    new_a = F.col("doc_a") % INCR_MOD == INCR_REM
    new_b = F.col("doc_b") % INCR_MOD == INCR_REM
    corpus_pairs = pairs.filter(~new_a & ~new_b)
    batch_pairs = pairs.filter(new_a | new_b)
    # run N's artifact: the corpus labeling, materialized (stand-in for
    # the persisted parquet label table a real pipeline reads back)
    labels_old, _ = connected_components_converged(corpus_pairs)
    labels_old = checkpoint_df(labels_old, eager=True)
    star = labels_old.filter(F.col("doc") != F.col("component")).select(
        F.col("doc").alias("doc_a"), F.col("component").alias("doc_b")
    )
    merged, _ = connected_components_converged(
        star.unionByName(batch_pairs)
    )
    w_size = F.count(F.lit(1)).over(Window.partitionBy("component"))
    return merged.select(
        F.col("doc").alias("doc_id"),
        "component",
        w_size.alias("cluster_size"),
        (F.col("doc") == F.col("component")).alias("keep"),
    )


QUERIES["ns_cc_incremental"] = q_ns_cc_incremental
# the full-graph recursive-closure oracle VERBATIM — the whole point:
# the oracle recomputes from scratch, the query merges, the hash match
# is the merge ≡ recompute theorem re-proved on every fixture
ORACLES["ns_cc_incremental"] = ORACLES["ns_dedup_components_converged"]
