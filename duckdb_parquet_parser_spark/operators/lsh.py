"""Banded LSH candidate generation — the one band self-join behind every
near-duplicate family: MinHash (salted), incremental MinHash, SimHash,
image and audio average hashes, and video per-frame hashes. Each family
supplies its own band expressions and verifies the candidates itself."""

from __future__ import annotations

import operator
from collections.abc import Callable, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def banded_pairs(
    sigs: DataFrame,
    bands: Callable[[Callable[[str], Column]], Sequence[Column]],
    keys: Sequence[str] = (),
    carry: Sequence[str] = (),
    n_blocks: int = 1,
    right: Column | None = None,
) -> DataFrame:
    """Candidate pairs of the ``sigs`` rows that agree on at least one of
    ``bands``: ``(doc_a, doc_b, *keys, <c>_a, <c>_b for c in carry)`` with
    ``doc_a < doc_b`` and the carried columns oriented to match — exactly
    one row per (pair, keys).

    ``bands`` builds the band expressions from a column lookup
    (``F.col`` or a join side). Each row explodes into
    ``(band_idx, band_key)`` rows and ONE equi-join on
    ``(*keys, band_idx, band_key)`` generates a pair once per shared
    band. Instead of a ``distinct()`` that would shuffle the whole pair
    stream, the join keeps a pair only at its FIRST shared band: band
    ``b`` survives iff ``bands(a)[i] != bands(b)[i]`` for every
    ``i < b``. The gate evaluates ``bands`` on both join sides, so every
    column it reads must be in ``carry``; the banded rows hold nothing
    else. Band values must be non-null, so the ``!=`` tests are
    two-valued. ``keys`` are extra equi-keys a pair must share (video
    pairs frames at the same index).

    ``n_blocks > 1`` salts the self-join triangularly: a row's block is
    a hash of its doc_id, the left side is replicated to every block ≥
    its own, and the join key gains the target block, so each of a hot
    bucket's ~n_blocks²/2 block pairs lands on a different task. Pair
    volume is unchanged; the largest task's share drops by ~n_blocks.
    With ``n_blocks == 1`` the plan has no block or target columns.

    ``right``: a boolean expression over ``sigs`` that restricts the
    join's right side (the incremental batch filter, planned below the
    join). A pair is generated iff at least one of its rows satisfies
    it. Triangular salting relies on the join being symmetric, so
    ``right`` with ``n_blocks > 1`` raises ``ValueError``."""
    if n_blocks < 1:
        raise ValueError(f"n_blocks must be >= 1, got {n_blocks}")
    if right is not None and n_blocks > 1:
        raise ValueError(
            "banded_pairs: a right-side predicate makes the join asymmetric, "
            f"which triangular salting cannot split (n_blocks={n_blocks})"
        )
    a, b = (lambda c: F.col(f"a.{c}")), (lambda c: F.col(f"b.{c}"))
    extra = [] if right is None else [right.alias("_right")]
    band_exprs = bands(F.col)
    banded = sigs.select(
        "doc_id",
        *keys,
        *carry,
        *extra,
        F.posexplode(F.array(*band_exprs)).alias("band_idx", "band_key"),
    )
    a_first = a("doc_id") < b("doc_id")
    on = [a(k) == b(k) for k in (*keys, "band_idx", "band_key")]
    if n_blocks > 1:
        banded = banded.withColumn(
            "block", F.pmod(F.xxhash64("doc_id"), F.lit(n_blocks))
        )
        left = banded.withColumn(
            "target", F.explode(F.sequence("block", F.lit(n_blocks - 1)))
        )
        # a same-block pair meets twice (x→y and y→x); keep one
        on += [
            a("target") == b("block"),
            a("doc_id") != b("doc_id"),
            (a("block") != b("block")) | a_first,
        ]
        right_side = banded
    elif right is not None:
        left, right_side = banded, banded.filter("_right")
        # a pair with both rows on the right side meets twice; keep one
        on += [a("doc_id") != b("doc_id"), ~a("_right") | a_first]
    else:
        left = right_side = banded
        on.append(a_first)
    bands_a, bands_b = bands(a), bands(b)
    for i in range(len(band_exprs) - 1):
        on.append((a("band_idx") <= F.lit(i)) | (bands_a[i] != bands_b[i]))
    if left is right_side:
        # the join condition already puts the smaller doc_id on side a.
        # Oriented expressions here would also cost the SimHash
        # components query 3-4 AQE jobs: its CC block stops reusing
        # exchanges over the checkpointed pairs.
        first, second = a, b
        doc_a, doc_b = a("doc_id"), b("doc_id")
    else:
        first = lambda c: F.when(a_first, a(c)).otherwise(b(c))  # noqa: E731
        second = lambda c: F.when(a_first, b(c)).otherwise(a(c))  # noqa: E731
        doc_a = F.least(a("doc_id"), b("doc_id"))
        doc_b = F.greatest(a("doc_id"), b("doc_id"))
    sel = [doc_a.alias("doc_a"), doc_b.alias("doc_b"), *[a(k) for k in keys]]
    for c in carry:
        sel += [first(c).alias(f"{c}_a"), second(c).alias(f"{c}_b")]
    cond = reduce(operator.and_, on)
    return left.alias("a").join(right_side.alias("b"), cond).select(*sel)
