"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — every implemented operator from SURVEY.md §2 / §2.4 / §2.5,
one callable ``(spark, sf_dir) -> DataFrame`` each.
``oracle_sql()`` — the DuckDB-equivalent SQL per query (differential
correctness gate at sf0.01).

Implementations live in ``duckdb_parquet_parser_spark``; this module only
adapts them to the driver contract.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from duckdb_parquet_parser_spark.operators import collect_queries

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the end-to-end corpus-curation pipeline (scan →
    language-ID filter → quality gate → exact dedup → survivor stats) —
    one declarative plan composed entirely from this engine's operators
    (operators/text.py:q_ns_pipeline_curate)."""
    from duckdb_parquet_parser_spark.operators.text import q_ns_pipeline_curate

    return q_ns_pipeline_curate(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    qs, _ = collect_queries()
    return qs


def oracle_sql() -> dict[str, str]:
    """Oracles retargeted to the gate's fixture dir: the r4/r7/r8 SQL
    names the multi-row-group copy of its documents, built here on the
    first call."""
    from duckdb_parquet_parser_spark.testing import ORACLE_SF_DIR, retarget_oracle_sql

    _, oracles = collect_queries()
    return {n: retarget_oracle_sql(s, ORACLE_SF_DIR) for n, s in oracles.items()}
