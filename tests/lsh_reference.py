"""Plain reference for the banded-pair tests: the unsalted band self-join
with ``distinct()`` for cross-band dedup, over the same inputs as
``operators.lsh.banded_pairs``."""

from __future__ import annotations

from pyspark.sql import functions as F


def reference_pairs(sigs, bands, keys=(), right=None):
    """(doc_a, doc_b, *keys), doc_a < doc_b: every pair of distinct rows
    sharing ``keys`` and at least one of the bands ``bands(F.col)``,
    where at least one row satisfies ``right`` (default: every row)."""
    banded = sigs.select(
        "doc_id",
        *keys,
        (F.lit(True) if right is None else right).alias("_right"),
        F.posexplode(F.array(*bands(F.col))).alias("band_idx", "band_key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cond = (F.col("a.doc_id") != F.col("b.doc_id")) & F.col("b._right")
    for k in (*keys, "band_idx", "band_key"):
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    return (
        a.join(b, cond)
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            *[F.col(f"a.{k}") for k in keys],
        )
        .distinct()
    )
