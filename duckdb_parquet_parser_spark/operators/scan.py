"""Scans & projections — reference ops R2, R3, R4, R9, F2, F3.

Reference behavior being matched (see SURVEY.md §2.1/§2.2):
- R2 schema inspection: parquet_reader.cpp:65-121 (num_columns/num_rows/
  column_names/schema_string) → ``df.schema`` / ``count()``.
- R3 full-column scan: parquet_reader.cpp:133-144 (decode one named column
  across all row groups) → ``df.select(col)`` with Parquet column pruning.
- R4 row-group-scoped scan: parquet_reader.cpp:125-131 → position-range
  filter derived from footer row-group bounds (fixtures are doc_id-ordered).
- R9 projection: only requested columns' chunks read → native pruning.
- F2 null semantics: read_column materializes NULLs (column_reader.cpp:186-187)
  while the string iterator skips them (parquet_reader.cpp:417-453) — shown
  as explicit null-accounting aggregates.
- F3 type guard: column_iterator rejects non-BYTE_ARRAY
  (parquet_reader.cpp:288-291) → `string_columns_only` raises TypeError.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..inspect import ORACLE_MRG_PATH


def schema_dataframe(spark: SparkSession, df: DataFrame) -> DataFrame:
    """R2: the flattened leaf-column view the reference's schema_string
    prints (parquet_reader.cpp:91-121), as a DataFrame."""
    rows = [
        (i, f.name, f.dataType.simpleString(), f.nullable)
        for i, f in enumerate(df.schema.fields)
    ]
    schema = T.StructType(
        [
            T.StructField("ordinal", T.IntegerType(), False),
            T.StructField("column_name", T.StringType(), False),
            T.StructField("col_type", T.StringType(), False),
            T.StructField("nullable", T.BooleanType(), False),
        ]
    )
    return spark.createDataFrame(rows, schema)


def string_columns_only(df: DataFrame, column: str) -> DataFrame:
    """F3 type guard (parquet_reader.cpp:288-291): reject non-string cols."""
    field = df.schema[column]
    if not isinstance(field.dataType, T.StringType):
        raise TypeError(
            f"column_iterator requires a string (BYTE_ARRAY) column; "
            f"{column} is {field.dataType.simpleString()}"
        )
    return df.select(column)


def q_r2_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "lineitem")
    return schema_dataframe(spark, df).select("ordinal", "column_name", "col_type")


def q_r2_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "lineitem")
    return df.agg(
        F.count(F.lit(1)).alias("num_rows"),
        F.lit(len(df.columns)).cast("long").alias("num_columns"),
    )


def q_r3_full_column_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select("l_quantity")


R4_ROW_GROUP = 1  # a middle row group — discriminates scoping from a full scan


def q_r4_rowgroup_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row group of documents via footer-derived position bounds.

    Runs against a multi-row-group re-write of the fixture (the stock file
    has a single row group at small SF, so scoping was previously
    indistinguishable from a full scan) and selects the MIDDLE row group,
    so both bounds discriminate. Fixture row order is doc_id order, so a
    position filter reproduces the reference's row-group read. At 100 TB
    the same op is served natively: Spark assigns input splits per row
    group, so per-row-group processing is just per-split processing — this
    query exists for parity with the reference's explicit API
    (parquet_reader.cpp:125-131).
    """
    from ..inspect import multi_rowgroup_documents, row_group_bounds
    from .positional import file_order_positions

    path = multi_rowgroup_documents(sf_dir)
    start, end = row_group_bounds(path, R4_ROW_GROUP)
    # project before the prefix-sum base is checkpointed (ADVICE r4):
    # only the reported columns ride the materialization
    from ..catalog import read_parquet_cached_schema

    df = read_parquet_cached_schema(spark, path).select("doc_id", "text")
    return (
        file_order_positions(df, pos_col="_pos")
        .filter((F.col("_pos") >= start) & (F.col("_pos") < end))
        .select("doc_id", "text")
    )


def q_r9_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "part").select("p_partkey", "p_name")


def q_f2_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-null materialization vs null-skipping iteration, as counts:
    n_total = read_column cardinality (nulls materialized),
    n_non_null = StringColumnIterator cardinality (nulls skipped)."""
    df = load_table(spark, sf_dir, "documents")
    return df.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count("text").alias("n_non_null"),
        (F.count(F.lit(1)) - F.count("text")).alias("n_null"),
    )


def q_f3_string_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The set of columns the reference's column_iterator would accept."""
    df = load_table(spark, sf_dir, "documents")
    rows = [
        (f.name,)
        for f in df.schema.fields
        if isinstance(f.dataType, T.StringType)
    ]
    return spark.createDataFrame(
        rows, T.StructType([T.StructField("column_name", T.StringType(), False)])
    )


QUERIES = {
    "r2_schema": q_r2_schema,
    "r2_counts": q_r2_counts,
    "r3_full_column_scan": q_r3_full_column_scan,
    "r4_rowgroup_scan": q_r4_rowgroup_scan,
    "r9_projection": q_r9_projection,
    "f2_null_semantics": q_f2_null_semantics,
    "f3_string_columns": q_f3_string_columns,
}

ORACLES = {
    "r2_schema": """
        SELECT CAST(row_number() OVER () - 1 AS INT) AS ordinal,
               column_name,
               replace(replace(replace(lower(column_type),
                   'integer', 'int'), 'varchar', 'string'),
                   'timestamp', 'timestamp_ntz') AS col_type
        FROM (DESCRIBE lineitem)
    """,
    "r2_counts": """
        SELECT count(*) AS num_rows,
               (SELECT count(*) FROM (DESCRIBE lineitem)) AS num_columns
        FROM lineitem
    """,
    "r3_full_column_scan": "SELECT l_quantity FROM lineitem",
    # bounds derived from the fixture's own footer (parquet_metadata), so
    # the oracle discriminates row-group scoping instead of degenerating to
    # a full-table read. The pinned path is swapped for the copy of the
    # sf dir that runs (testing.retarget_oracle_sql).
    "r4_rowgroup_scan": f"""
        WITH rg AS (
            SELECT DISTINCT row_group_id, row_group_num_rows
            FROM parquet_metadata('{ORACLE_MRG_PATH}')
        ),
        bounds AS (
            SELECT
                CAST(sum(CASE WHEN row_group_id < {R4_ROW_GROUP}
                         THEN row_group_num_rows ELSE 0 END) AS BIGINT) AS lo,
                CAST(sum(CASE WHEN row_group_id <= {R4_ROW_GROUP}
                         THEN row_group_num_rows ELSE 0 END) AS BIGINT) AS hi
            FROM rg
        ),
        pos AS (
            SELECT doc_id, text,
                   row_number() OVER (ORDER BY doc_id) - 1 AS p
            FROM read_parquet('{ORACLE_MRG_PATH}')
        )
        SELECT doc_id, text FROM pos, bounds WHERE p >= lo AND p < hi
    """,
    "r9_projection": "SELECT p_partkey, p_name FROM part",
    "f2_null_semantics": """
        SELECT count(*) AS n_total,
               count(text) AS n_non_null,
               count(*) - count(text) AS n_null
        FROM documents
    """,
    "f3_string_columns": """
        SELECT column_name FROM (DESCRIBE documents)
        WHERE lower(column_type) = 'varchar'
    """,
}
