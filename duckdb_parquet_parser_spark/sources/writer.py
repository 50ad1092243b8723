"""Parquet sink — reference writer ops W1-W6 (parquet_writer.cpp).

The reference writes PAR1 + row groups of PLAIN/dictionary pages + Thrift
footer by hand (W1/W4/W5/W6); Spark's parquet-mr sink is the native
superset. Reference knobs mapped to writer options:

- W3 page budget 1024 B ("matching duckdb-dpk", parquet_writer.hpp:34-35)
  → ``parquet.page.size``.
- W2 dict-vs-PLAIN heuristic (fallback when uniques > non_null/5,
  parquet_writer.cpp:271-272) → parquet-mr decides by dictionary-page
  size; the *decision rule itself* is exposed as `dictionary_analysis`
  (and oracle-checked as a query) since the physical encoding choice is a
  writer-internal detail (SURVEY.md §7 step 6).
- Uncompressed-only (column_reader.cpp:13-15) → ``compression='none'``
  for byte-parity tests; real deployments use zstd/snappy.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import scratch_path
from ..catalog import load_table

REFERENCE_PAGE_SIZE = 1024  # parquet_writer.hpp:34-35
DICT_FALLBACK_DIVISOR = 5  # parquet_writer.cpp:271-272


def write_reference_style(df: DataFrame, path: str) -> None:
    """W1: write with the reference's physical knobs (1 KB pages, dictionary
    on, uncompressed). Row-group sizing stays parquet-mr default — the
    reference's one-row-group-per-write_row_group call is a caller choice,
    not a format property."""
    spark = df.sparkSession
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_page = hconf.get("parquet.page.size")
    hconf.set("parquet.page.size", str(REFERENCE_PAGE_SIZE))
    try:
        (
            df.write.mode("overwrite")
            .option("compression", "none")
            .option("parquet.enable.dictionary", "true")
            .parquet(path)
        )
    finally:
        if old_page is not None:
            hconf.set("parquet.page.size", old_page)
        else:
            hconf.unset("parquet.page.size")


def round_trip(df: DataFrame, path: str | None = None) -> DataFrame:
    """W1 round-trip: write reference-style, read back."""
    spark = df.sparkSession
    if path is None:
        path = os.path.join(tempfile.gettempdir(), "spark_graft_roundtrip")
    write_reference_style(df, path)
    return spark.read.parquet(path)


def dictionary_analysis(df: DataFrame, columns: list[str]) -> DataFrame:
    """W2: the reference's analyze_column decision per column — dictionary
    encoding unless uniques > floor(non_null / 5) (parquet_writer.cpp:253-280).
    """
    parts = []
    for c in columns:
        parts.append(
            df.agg(
                F.lit(c).alias("column_name"),
                F.countDistinct(c).alias("dict_size"),
                F.count(c).alias("n_non_null"),
            ).withColumn(
                "use_dictionary",
                F.col("dict_size")
                <= F.floor(F.col("n_non_null") / DICT_FALLBACK_DIVISOR),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_w1_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents with reference knobs → read back → full contents.
    Oracle = the source table: proves lossless write+read."""
    df = load_table(spark, sf_dir, "documents")
    return round_trip(df, scratch_path(sf_dir, "sg_w1_docs")).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


def q_w2_dict_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "lineitem")
    return dictionary_analysis(
        df, ["l_returnflag", "l_linestatus", "l_orderkey", "l_quantity"]
    )


def q_w1_roundtrip_zstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed round-trip (zstd): the reference throws on any codec
    (column_reader.cpp:13-15); this engine reads and writes them all.
    Oracle = the source table again — lossless through compression."""
    df = load_table(spark, sf_dir, "documents")
    path = scratch_path(sf_dir, "sg_w1_docs_zstd")
    df.write.mode("overwrite").option("compression", "zstd").parquet(path)
    return spark.read.parquet(path).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


QUERIES = {
    "w1_roundtrip": q_w1_roundtrip,
    "w1_roundtrip_zstd": q_w1_roundtrip_zstd,
    "w2_dict_decision": q_w2_dict_decision,
}

_DICT_CASE = f"""
    SELECT '{{c}}' AS column_name,
           count(DISTINCT {{c}}) AS dict_size,
           count({{c}}) AS n_non_null,
           count(DISTINCT {{c}}) <= (count({{c}}) // {DICT_FALLBACK_DIVISOR})
               AS use_dictionary
    FROM lineitem
"""

ORACLES = {
    "w1_roundtrip": "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "w1_roundtrip_zstd": "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "w2_dict_decision": " UNION ALL ".join(
        _DICT_CASE.format(c=c)
        for c in ["l_returnflag", "l_linestatus", "l_orderkey", "l_quantity"]
    ),
}
