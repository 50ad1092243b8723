"""Positional string stream + chunked inverted index — reference ops R10, X1.

R10 (parquet_reader.cpp:295-473): lazily yield ``(global_row_pos, len, str)``
for every non-null string, position accumulated in file order
(``pos = row_group_base + values_read + i``, :398).

X1 (main.cpp:7-38): pack the stream into ~4096-byte chunks, record
``tuple_to_chunk[pos] = chunk_id``. Per-value cost is
``len(to_string(string_len)) + string_len`` bytes — the reference appends an
ASCII-decimal length prefix (``chunk += std::to_string(string_len) +
string``, main.cpp:30), so a 7-char value costs 1+7 and a 250-char value
costs 3+250. (Round 1 modelled a fixed 4-byte prefix; fixed for fidelity.)

Scale design (SURVEY.md §7.5):
- A global ``Window.orderBy`` serializes every row through one task — wrong
  at 100 TB. All declared queries instead run the two-pass prefix-sum plan:

  1. per-physical-partition row counts + byte sums via
     ``groupBy(spark_partition_id())`` — a map-side partial aggregation that
     shuffles only #partitions tiny rows, then an O(#partitions) driver-side
     prefix sum into per-partition (row, byte) offsets;
  2. partition-local ``row_number``/running-sum window keyed by
     ``spark_partition_id()`` + a broadcast join against the offsets.

  Pass 2's window exchange hash-partitions by physical partition id, so
  every task handles ≤ ``spark.sql.files.maxPartitionBytes`` of data —
  balanced parallel work, never a single-task sort. Zero Python in the data
  path (round 1 used ``df.rdd`` / pickle; fixed per VERDICT.md).
- Positions count every row (nulls occupy positions, FIXTURES.md rule 1);
  byte costs accumulate only over non-null values.
- Fixture files are written in doc_id order (pinned by
  tests/test_positional.py), so the file-order plans and the doc_id-ordered
  DuckDB oracles agree exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..session import checkpoint_df

CHUNK_SIZE = 4096  # main.cpp:7

# Per-value byte cost: ASCII-decimal digits of the byte length + payload
# BYTES (main.cpp:30 — std::string::length() counts bytes, not characters,
# so octet_length is the faithful translation; length() would diverge on
# any non-ASCII value). SQL equivalent shared with every oracle below.
# DuckDB spells byte length strlen() (octet_length is BLOB-only there)
COST_SQL = "(length(CAST(strlen(text) AS VARCHAR)) + strlen(text))"


def byte_cost(col: Column) -> Column:
    """``len(str(len(v))) + len(v)`` over UTF-8 bytes — main.cpp:30's
    append cost with the reference's byte semantics."""
    ln = F.octet_length(col)
    return (F.length(ln.cast("string")) + ln).cast("long")


def _with_partition_index(df: DataFrame) -> DataFrame:
    """Physical partition id + partition-local record index, both JVM-side.

    ``monotonically_increasing_id`` is ``pid << 33 | local_index`` by
    construction, so the local index is just the low 33 bits — no window, no
    shuffle, no Python.

    The frame is ``localCheckpoint``-ed so BOTH prefix-sum passes read the
    SAME materialization. Without it each pass re-evaluates the input under
    its own physical plan, and the row→partition assignment is only
    guaranteed identical across plans for deterministic sources (parquet
    scans); a LocalRelation behind a round-robin ``repartition`` can deal
    rows differently per plan, silently desyncing the pass-1 offsets from
    the pass-2 partitions (caught by tests/test_positional_fuzz.py). One
    bounded materialization of the projected columns buys plan-independent
    correctness for any input — the same checkpoint-between-passes pattern
    as ``dedup.connected_components_converged``. ``checkpoint_df`` picks the
    durability level (executor-local by default; reliable on clusters via
    ``spark.graft.checkpointDir`` — see session.py).

    The checkpoint materializes EVERY column of ``df``: callers must
    project to the columns their downstream plan consumes before calling
    (ADVICE r4 — checkpointing the full row ships unconsumed columns to
    checkpoint storage for nothing; there is no row key to re-join
    dropped columns by afterwards, so the projection has to happen here).
    """
    return checkpoint_df(
        df.withColumn("_pid", F.spark_partition_id().cast("long")).withColumn(
            "_local",
            F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1)),
        ),
        eager=True,
    )


def _partition_offsets(
    base: DataFrame, cost: Column | None = None
) -> "DataFrame":
    """Pass 1: per-partition row counts (+ ``cost`` sums when given),
    prefix-summed on the driver (O(#partitions) tuples) into a tiny offsets
    table to broadcast-join back. The count aggregation is map-side partial:
    only #partitions rows ever shuffle."""
    aggs = [F.count(F.lit(1)).alias("_rows")]
    if cost is not None:
        aggs.append(F.sum(cost).alias("_bytes"))
    parts = base.groupBy("_pid").agg(*aggs).collect()
    row_off, byte_off, rows = 0, 0, []
    for r in sorted(parts, key=lambda r: r["_pid"]):
        rows.append((r["_pid"], row_off, byte_off))
        row_off += r["_rows"]
        byte_off += r["_bytes"] if cost is not None else 0
    # Inline VALUES → LocalRelation: the broadcast side never touches an RDD
    # (createDataFrame would plan a Scan ExistingRDD + a job to build it).
    if not rows:
        rows = [(0, 0, 0)]
    values = ", ".join(f"({p}L, {r}L, {b}L)" for p, r, b in rows)
    return base.sparkSession.sql(
        f"SELECT * FROM VALUES {values} AS t(_pid, _row_off, _byte_off)"
    )


def file_order_positions(df: DataFrame, pos_col: str = "pos") -> DataFrame:
    """True file-order positions, all-JVM and shuffle-free on the data path.

    Two passes: (1) per-partition row counts → driver prefix sum (cheap —
    count-only scan, map-side combined); (2) broadcast-join the offsets and
    add the partition-local record index extracted from
    ``monotonically_increasing_id``'s low bits. No window, no data shuffle,
    no Python serialization: the 100 TB-safe equivalent of the reference's
    single-threaded ``row_group_base + values_read + i`` accumulation.
    """
    base = _with_partition_index(df)
    off = _partition_offsets(base)
    return (
        base.join(F.broadcast(off), "_pid")
        .withColumn(pos_col, (F.col("_row_off") + F.col("_local")).cast("long"))
        .drop("_pid", "_local", "_row_off", "_byte_off")
    )


def file_order_running_total(
    df: DataFrame, cost: Column, out_col: str = "before", pos_col: str = "pos"
) -> DataFrame:
    """Generic exclusive running total of ``cost`` over file order — the
    same 100 TB-safe two-pass prefix-sum plan as :func:`scalable_chunk_ids`
    (per-partition partials → driver prefix sum → broadcast offsets +
    partition-local window), reusable for any accumulation (byte offsets,
    token budgets, …). Adds ``pos_col`` (global row position) and
    ``out_col`` (sum of ``cost`` over all prior rows); ``cost`` must be
    null-free (wrap with ``coalesce``/``when`` at the call site)."""
    base = _with_partition_index(df)
    off = _partition_offsets(base, cost=cost)
    w = Window.partitionBy("_pid").orderBy("_local")
    return (
        base.join(F.broadcast(off), "_pid")
        .withColumn(pos_col, (F.col("_row_off") + F.col("_local")).cast("long"))
        .withColumn(
            out_col,
            (F.col("_byte_off") + F.sum(cost).over(w) - cost).cast("long"),
        )
        .drop("_pid", "_local", "_row_off", "_byte_off")
    )


def scalable_chunk_ids(
    df: DataFrame,
    column: str = "text",
    chunk_size: int = CHUNK_SIZE,
) -> DataFrame:
    """X1 chunk assignment — the 100 TB path, zero Python in the data path.

    Returns ``(pos, chunk_id, value)`` for non-null values (positions count
    all rows). Pass 1 collects per-partition (row, byte) totals; pass 2 does
    a partition-local running byte sum (window keyed by physical partition
    id — the only data movement is one balanced hash exchange on ``_pid``,
    each task bounded by ``maxPartitionBytes``) plus the broadcast offsets.

    Uses the same closed-form boundary rule as :func:`with_chunk_ids`
    (``chunk_id = floor(bytes_before / chunk_size)``), so the two agree
    exactly (asserted in tests/test_positional.py).
    """
    base = _with_partition_index(df.select(F.col(column).alias("value")))
    v = F.col("value")
    cost = F.when(v.isNotNull(), byte_cost(v)).otherwise(F.lit(0))
    off = _partition_offsets(base, cost=cost)
    w = Window.partitionBy("_pid").orderBy("_local")
    return (
        base.join(F.broadcast(off), "_pid")
        .withColumn("pos", (F.col("_row_off") + F.col("_local")).cast("long"))
        .withColumn(
            "_bytes_before",
            (F.col("_byte_off") + F.sum(cost).over(w) - cost).cast("long"),
        )
        .filter(v.isNotNull())
        .select(
            "pos",
            F.floor(F.col("_bytes_before") / F.lit(chunk_size))
            .cast("long")
            .alias("chunk_id"),
            "value",
        )
    )


def with_positions(df: DataFrame, order_col: str, pos_col: str = "pos") -> DataFrame:
    """R10 with a deterministic order key (FIXTURES.md rule 2) — the
    oracle-semantics variant. Single-task global window: use
    :func:`file_order_positions` in anything scale-facing."""
    w = Window.orderBy(order_col)
    return df.withColumn(pos_col, (F.row_number().over(w) - 1).cast("long"))


def with_chunk_ids(
    df: DataFrame,
    column: str = "text",
    order_col: str = "doc_id",
    chunk_size: int = CHUNK_SIZE,
) -> DataFrame:
    """X1 chunk assignment, closed-form global-window formula (FIXTURES.md
    rule 3) — the oracle-semantics variant kept for differential testing
    against :func:`scalable_chunk_ids`:

    ``chunk_id = floor((cumsum(cost) - cost) / chunk_size)``,
    ``cost = len(str(len(v))) + len(v)``

    i.e. a value starts a new chunk when the bytes *before* it already
    crossed the boundary — the reference's check-before-append rule
    approximated as a prefix sum both engines express identically.
    """
    cost = byte_cost(F.col(column))
    w = Window.orderBy("pos")
    cum = F.sum(cost).over(w)
    return (
        with_positions(df, order_col)
        .filter(F.col(column).isNotNull())
        .withColumn(
            "chunk_id",
            F.floor((cum - cost) / F.lit(chunk_size)).cast("long"),
        )
    )


def greedy_chunk_ids_pandas(
    df: DataFrame,
    column: str = "text",
    order_col: str = "doc_id",
    chunk_size: int = CHUNK_SIZE,
) -> DataFrame:
    """X1 *exact* greedy rule (main.cpp:24-28: close chunk when accumulated
    size ≥ chunk_size BEFORE appending — chunks overshoot by ≤ 1 value).

    TEST-ONLY bit-parity variant: the rule is sequential by definition
    (every boundary depends on all prior bytes), so this runs one ordered
    applyInPandas pass over a single logical group — a deliberate
    single-task plan that exists to pin the reference's exact output. The
    scalable default is the prefix-sum formula (:func:`scalable_chunk_ids`),
    whose chunk count stays within one of the greedy rule (asserted in
    tests/test_positional.py).
    """
    import pandas as pd

    pos_df = (
        with_positions(df, order_col)
        .filter(F.col(column).isNotNull())
        .select("pos", F.col(column).alias("value"))
    )

    def assign(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos").reset_index(drop=True)
        chunk_ids = []
        chunk_id = 0
        current = 0
        for v in pdf["value"]:
            if current >= chunk_size:
                chunk_id += 1
                current = 0
            chunk_ids.append(chunk_id)
            b = len(v.encode("utf-8"))
            current += len(str(b)) + b  # main.cpp:30, byte semantics
        pdf["chunk_id"] = pd.Series(chunk_ids, dtype="int64")
        return pdf[["pos", "chunk_id"]]

    return (
        pos_df.withColumn("g", F.lit(0))
        .groupBy("g")
        .applyInPandas(assign, "pos long, chunk_id long")
    )


def q_r10_positional_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10 stream via the shuffle-free file-order plan (fixture file order ==
    doc_id order, so the doc_id oracle applies — tests/test_positional.py).
    Projected to the one consumed column BEFORE the prefix-sum base is
    checkpointed — the materialization holds (text, _pid, _local), not the
    full document row (ADVICE r4)."""
    df = load_table(spark, sf_dir, "documents").select("text")
    return (
        file_order_positions(df)
        .filter(F.col("text").isNotNull())
        .select("pos", F.octet_length("text").cast("long").alias("len"))
    )


def q_x1_chunk_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-chunk stats: the reference's end-of-run report (main.cpp:34-35)
    generalized — chunk count, values per chunk, payload bytes per chunk.
    Runs the two-pass prefix-sum plan (no global window)."""
    df = load_table(spark, sf_dir, "documents")
    return (
        scalable_chunk_ids(df)
        .groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.sum(byte_cost(F.col("value"))).alias("chunk_bytes"),
        )
    )


def q_x1_tuple_to_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tuple_to_chunk positional map (main.cpp:31), scale plan."""
    df = load_table(spark, sf_dir, "documents")
    return scalable_chunk_ids(df).select("pos", "chunk_id")


def q_r10_file_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10 with TRUE file-order positions (prefix-sum offsets, no global
    window, no Python). The fixture writes documents in doc_id order, so the
    deterministic oracle applies to file order too (asserted in
    tests/test_positional.py). Projected to the consumed column before the
    checkpointed prefix-sum base (ADVICE r4)."""
    df = load_table(spark, sf_dir, "documents").select("text")
    return (
        file_order_positions(df)
        .filter(F.col("text").isNotNull())
        .select("pos", F.octet_length("text").cast("long").alias("len"))
    )


def q_x1_chunk_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 with the reference's EXACT greedy boundary rule (main.cpp:24-28:
    close the chunk when accumulated bytes ≥ 4096 *before* appending, so
    chunks overshoot by ≤ 1 value). Sequential by definition → single
    ordered applyInPandas pass (test-only plan; see
    :func:`greedy_chunk_ids_pandas`). Oracle: DuckDB recursive CTE replaying
    the same check-before-append fold."""
    df = load_table(spark, sf_dir, "documents")
    return greedy_chunk_ids_pandas(df)


QUERIES = {
    "r10_positional_stream": q_r10_positional_stream,
    "r10_file_order": q_r10_file_order,
    "x1_chunk_index": q_x1_chunk_index,
    "x1_tuple_to_chunk": q_x1_tuple_to_chunk,
    "x1_chunk_greedy": q_x1_chunk_greedy,
}

_POS_CTE = f"""
    WITH pos AS (
        SELECT text, row_number() OVER (ORDER BY doc_id) - 1 AS pos
        FROM documents
    ), nn AS (
        SELECT * FROM pos WHERE text IS NOT NULL
    ), chunked AS (
        SELECT pos, text,
               CAST(floor((sum({COST_SQL}) OVER (ORDER BY pos)
                           - {COST_SQL}) / 4096) AS BIGINT) AS chunk_id
        FROM nn
    )
"""

_R10_SQL = """
        WITH pos AS (
            SELECT text, row_number() OVER (ORDER BY doc_id) - 1 AS pos
            FROM documents
        )
        SELECT CAST(pos AS BIGINT) AS pos,
               CAST(strlen(text) AS BIGINT) AS len
        FROM pos WHERE text IS NOT NULL
    """

# Exact greedy fold (main.cpp:21-32) as a recursive CTE: one row of state
# (chunk_id, bytes accumulated since last reset) advanced per value in pos
# order — check-before-append, exactly the reference loop. Fine at oracle
# scale (sf0.01: one iteration per non-null document).
_GREEDY_SQL = f"""
    WITH RECURSIVE pos AS (
        SELECT text, row_number() OVER (ORDER BY doc_id) - 1 AS pos
        FROM documents
    ), vals AS (
        SELECT pos, {COST_SQL} AS cost,
               row_number() OVER (ORDER BY pos) AS rn
        FROM pos WHERE text IS NOT NULL
    ), greedy AS (
        SELECT rn, pos, cost, 0 AS chunk_id, cost AS acc
        FROM vals WHERE rn = 1
        UNION ALL
        SELECT v.rn, v.pos, v.cost,
               CASE WHEN g.acc >= 4096 THEN g.chunk_id + 1 ELSE g.chunk_id END,
               CASE WHEN g.acc >= 4096 THEN v.cost ELSE g.acc + v.cost END
        FROM greedy g JOIN vals v ON v.rn = g.rn + 1
    )
    SELECT CAST(pos AS BIGINT) AS pos, CAST(chunk_id AS BIGINT) AS chunk_id
    FROM greedy
"""

ORACLES = {
    "r10_positional_stream": _R10_SQL,
    # fixture file order == doc_id order (tests/test_positional.py pins it)
    "r10_file_order": _R10_SQL,
    "x1_chunk_index": _POS_CTE
    + f"""
        SELECT chunk_id, count(*) AS n_values,
               CAST(sum({COST_SQL}) AS BIGINT) AS chunk_bytes
        FROM chunked GROUP BY chunk_id
    """,
    "x1_tuple_to_chunk": _POS_CTE
    + """
        SELECT CAST(pos AS BIGINT) AS pos, chunk_id FROM chunked
    """,
    "x1_chunk_greedy": _GREEDY_SQL,
}
