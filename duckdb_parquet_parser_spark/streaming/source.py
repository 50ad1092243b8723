"""Streaming source plumbing for the `events` fixture.

The fixture is one Parquet file per scale factor, but a file-source stream
with a single file exercises exactly one microbatch — no state handoff, no
watermark movement.  ``stage_events`` re-lays the table as N time-ranged
files in a scratch dir, so ``maxFilesPerTrigger=1`` drives a genuinely
incremental multi-microbatch stream (the shape a 100 TB event feed has:
many files arriving roughly in time order, individually unordered).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..cache import derived_dir
from ..catalog import load_table

N_STAGE_FILES = 8


def stage_events(spark: SparkSession, sf_dir: str) -> str:
    """`events` re-laid as ``N_STAGE_FILES`` time-range-partitioned parquet
    files, written once per content of the table (``cache.derived_dir``)."""

    def build(tmp: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .repartitionByRange(N_STAGE_FILES, "ts")
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(tmp)
        )
        # The file source dequeues by modification time; parallel writers
        # produce ~tied mtimes, i.e. arbitrary arrival order. Re-stamp the
        # part files (name order == ts-range order after repartitionByRange)
        # so arrival follows event time and a short watermark never drops
        # an on-time file — the shape of a well-behaved production feed.
        parts = sorted(f for f in os.listdir(tmp) if f.startswith("part-"))
        base = int(os.path.getmtime(os.path.join(tmp, parts[0])))
        for i, f in enumerate(parts):
            os.utime(os.path.join(tmp, f), (base + i, base + i))

    return derived_dir("sg_events_staged", sf_dir, "events", build)


def event_stream(
    spark: SparkSession, staged_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """readStream over the staged events dir, one file per microbatch."""
    from ..catalog import read_parquet_cached_schema

    schema = read_parquet_cached_schema(spark, staged_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(staged_dir)
    )
