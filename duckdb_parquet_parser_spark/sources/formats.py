"""Non-parquet sources/sinks: CSV and JSON-lines round-trips.

The reference is parquet-only (its entire purpose is hand-decoding the
format); a Spark-native engine gets the other interchange formats for
free, and a training-data pipeline ingests all of them. Each query writes
the documents table through the format and reads it back with an explicit
schema — the oracle is the source table itself, so the check proves
lossless write+read (quoting, escaping, type round-trip).

Scale notes: both sinks shard per-task exactly like parquet; CSV/JSON
scans parallelize by file split. Schemas are always passed explicitly —
inference is a full extra pass at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import scratch_path
from ..catalog import load_table

_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").select(*_COLS)


_CSV_NULL = "\\N"  # MySQL-convention null sentinel


def csv_roundtrip(df: DataFrame, path: str) -> DataFrame:
    """Lossless CSV write+read for newline-free strings (fuzzed in
    tests/test_formats_fuzz.py): an explicit null sentinel keeps empty
    string ≠ NULL (Spark's defaults collapse both to null on read), and
    whitespace trimming is disabled on write (the writer default strips
    padding). Two limits inherent to the format, not this code: a string
    equal to the sentinel itself reads back as null (CSV nulls are
    in-band — pick a sentinel outside the data alphabet), and embedded
    newlines would need ``multiLine=true``, which makes files
    unsplittable — at 100 TB, data with newlines belongs in JSON/parquet
    (both round-trip it losslessly here).

    The sentinel precondition is ENFORCED, not just documented (ADVICE
    r4): any string value literally equal to the sentinel raises before
    the write instead of silently reading back as NULL. The check is a
    SEPARATE early-exit ``LIMIT 1`` scan over the string columns — on
    clean data that is one extra read of the input before the write's
    own. At 100 TB, either accept the 2× read for the guarantee, fold
    the validation into a pass the pipeline already makes (the check is
    one boolean expression), or persist the frame across check+write —
    this function keeps the simple honest form."""
    str_cols = [c for c, t in df.dtypes if t == "string"]
    if str_cols:
        clash = None
        for c in str_cols:
            cond = F.col(c) == _CSV_NULL
            clash = cond if clash is None else (clash | cond)
        if not df.filter(clash).isEmpty():
            raise ValueError(
                f"CSV round-trip is lossy: a value equals the in-band null "
                f"sentinel {_CSV_NULL!r}; write this data as JSON/parquet "
                f"or pick a sentinel outside the data alphabet"
            )
    (
        df.write.mode("overwrite")
        .option("header", "true")
        .option("escape", '"')
        .option("nullValue", _CSV_NULL)
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path)
    )
    return (
        df.sparkSession.read.schema(df.schema)
        .option("header", "true")
        .option("escape", '"')
        .option("nullValue", _CSV_NULL)
        .csv(path)
    )


def json_roundtrip(df: DataFrame, path: str) -> DataFrame:
    df.write.mode("overwrite").json(path)
    return df.sparkSession.read.schema(df.schema).json(path)


def q_src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_path(sf_dir, "sg_src_csv")
    return csv_roundtrip(_docs(spark, sf_dir), out).select(*_COLS)


def q_src_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_path(sf_dir, "sg_src_json")
    return json_roundtrip(_docs(spark, sf_dir), out).select(*_COLS)


def q_src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write + read-back (Spark's second columnar format, built in)."""
    out = scratch_path(sf_dir, "sg_src_orc")
    df = _docs(spark, sf_dir)
    df.write.mode("overwrite").orc(out)
    return spark.read.schema(df.schema).orc(out).select(*_COLS)


PART_COLS = ["event_id", "user_id", "event_type", "value"]


def q_src_partitioned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write + partition-pruned read: events laid out as
    event_type=<v>/ directories, then one partition read back through a
    filter on the partition column. At scale this is THE layout lever —
    the pruned scan lists and reads a single directory, not the table
    (PartitionFilters asserted in tests/test_plans.py)."""
    out = scratch_path(sf_dir, "sg_src_part_events")
    ev = load_table(spark, sf_dir, "events").select(*PART_COLS)
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    return (
        spark.read.parquet(out)
        .filter(F.col("event_type") == "purchase")
        .select(*PART_COLS)
    )


QUERIES = {
    "src_csv_roundtrip": q_src_csv_roundtrip,
    "src_json_roundtrip": q_src_json_roundtrip,
    "src_orc_roundtrip": q_src_orc_roundtrip,
    "src_partitioned_read": q_src_partitioned_read,
}

_SRC_SQL = "SELECT doc_id, text, lang, source, n_chars FROM documents"

ORACLES = {
    "src_csv_roundtrip": _SRC_SQL,
    "src_json_roundtrip": _SRC_SQL,
    "src_orc_roundtrip": _SRC_SQL,
    "src_partitioned_read": """
        SELECT event_id, user_id, event_type, value
        FROM events WHERE event_type = 'purchase'
    """,
}
