"""The ingest → parquet LANDING leg as a certified query (VERDICT r10
missing #1).

``ns_mm_ingest`` (multimodal_synth.py:380) certifies reading a directory
of raw media files through Spark's ``binaryFile`` source. But the layout
the scale notes recommend (sources/binary.py module docstring) — and the
first job a real multimodal user runs — is ingest ONCE, land the rows as
a parquet media table (payload as a columnar binary column, pruned
unless projected), then run every downstream operator off the parquet so
repeated queries never pay the small-file listing again.
``ns_mm_ingest_parquet`` certifies exactly that leg:
``ingest_to_media_parquet`` (binary.py:92) over the staged corpus, then
the SAME projection as ``ns_mm_ingest`` off the re-read parquet. Landing
must be lossless, so the oracle is ``ns_mm_ingest``'s oracle verbatim —
byte-identical output is the contract being certified.

This lives in its own module (not multimodal_synth.py) because that
module's eight queries were driver-certified in round 10 with unchanged
plans, and the changed-module re-certification rule
(operators/__init__.py) must not force them back into the 50-slot
window for an addition that only IMPORTS them.

Scale notes (100 TB):
- the landing write is one pass over the binaryFile scan — parallelism =
  file count in, ``spark.sql.files.maxRecordsPerFile`` / partition count
  out; payloads never transit the driver;
- the landed table is WRITE-ONCE per content fingerprint (idempotent,
  atomic directory rename — a reader sees the complete table or none);
- downstream projections that skip ``payload`` read only the small
  columns: parquet column pruning makes the metadata-only query cheap
  (asserted in tests/test_media_landing.py via ReadSchema);
- locally the landing is keyed by the same per-user cache + content
  fingerprint discipline as the staged corpus (cache.py); on a cluster
  the destination would be a real warehouse path — the query takes the
  same ``file:``-qualified path shape either way.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import derived_dir
from ..sources.binary import ingest_to_media_parquet
from .multimodal_synth import ORACLES as _SYNTH_ORACLES
from .multimodal_synth import stage_media_dir


def _file_uri(path: str) -> str:
    # file:-qualified: a scheme-less path would resolve against
    # fs.defaultFS on remote-FS deployments (round-10 lesson).
    return path if "://" in path else "file://" + os.path.abspath(path)


def land_media_parquet(spark: SparkSession, sf_dir: str) -> str:
    """Ingest the staged raw-file corpus once and land it as a parquet
    media table; returns the landed directory. Write-once per content of
    the documents table (``cache.derived_dir``), in its own cache
    namespace, so it stays valid even if the staged raw-file cache
    rotates underneath. Parquet readers skip the underscore-prefixed
    marker inside the table directory."""

    def build(tmp: str) -> None:
        ingest_to_media_parquet(
            spark, _file_uri(stage_media_dir(sf_dir)), _file_uri(tmp), glob="doc_*"
        )

    return derived_dir("sg_media_pq", sf_dir, "documents", build)


def q_ns_mm_ingest_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The landed-parquet read-back leg: same output contract as
    ``ns_mm_ingest`` — doc id parsed from the file name, byte length,
    mime, 4-byte magic as hex — but computed off the write-once parquet
    media table instead of the raw directory. The projection is the
    ``_ingest_projection`` (multimodal_synth.py:393) column set verbatim:
    landing is certified lossless precisely because the two queries share
    one oracle."""
    landed = land_media_parquet(spark, sf_dir)
    # leaf-fingerprint schema catalog (r18): the landed dir is written
    # once per content — later reads skip the schema-inference job
    from ..catalog import read_parquet_cached_schema_tree

    df = read_parquet_cached_schema_tree(spark, _file_uri(landed))
    return df.select(
        F.regexp_extract("file_name", r"doc_(\d+)\.", 1)
        .cast("long")
        .alias("doc_id"),
        "file_name",
        F.col("meta.mime").alias("mime"),
        F.col("meta.content_length").cast("long").alias("n_bytes"),
        F.lower(F.hex(F.substring(F.col("payload"), 1, 4))).alias("magic_hex"),
    )


QUERIES = {"ns_mm_ingest_parquet": q_ns_mm_ingest_parquet}

# Landing must be lossless: the raw-directory oracle applies verbatim.
ORACLES = {"ns_mm_ingest_parquet": _SYNTH_ORACLES["ns_mm_ingest"]}
