"""Reusable column-expression builders shared across operators.

Everything here stays JVM-side (built-in ``pyspark.sql.functions``) so the
expressions participate in whole-stage codegen and Catalyst pushdown; no
Python UDFs in any hot path.

Cross-engine determinism conventions (Spark result must hash-match the
DuckDB oracle):

- Double aggregation order differs between engines, so SUM/AVG over doubles
  first casts to ``DECIMAL(18,6)`` (exact, order-independent), then the
  final value is cast back to double (identical bit pattern both sides).
- Hashes use ``md5`` (lowercase hex in both engines) — never engine-native
  ``hash()``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,6)"


def dsum(col: str | Column, alias: str) -> Column:
    """Order-independent sum of a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def davg(col: str | Column, count_col: Column, alias: str, scale: int = 6) -> Column:
    """avg = round(double(decimal_sum) / count): deterministic both sides."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(DEC)).cast("double") / count_col, scale).alias(alias)


def dot_product(a: Column, b: Column) -> Column:
    """Left-to-right dot-product fold over two array<float> columns,
    per-element float→double promotion (matches DuckDB's sequential loop)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    """Euclidean norm with the same fold/promotion as ``dot_product``."""
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def safe_cosine(dot: Column, na: Column, nb: Column) -> Column:
    """``dot / (na·nb)`` with the zero-norm guard: a degenerate (all-zero)
    vector scores cosine 0.0 against everything. Without the guard Spark's
    ANSI mode raises DIVIDE_BY_ZERO and DuckDB's
    ``list_cosine_similarity`` silently returns −1.0 — found by
    tests/test_randomized_embeddings.py; real corpora contain zero
    embeddings (failed encoder calls, padding rows), so the engine
    defines the edge instead of crashing on it. ``when`` evaluates the
    division only on non-degenerate rows."""
    denom = na * nb
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot / denom)


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine over two array<float> columns, JVM-side via higher-order fns.

    ``F.zip_with`` + ``F.aggregate`` fold left-to-right exactly like
    DuckDB's ``list_cosine_similarity`` sequential loop; both compute in
    double after per-element float→double promotion. Zero-norm inputs
    score 0.0 (see :func:`safe_cosine`).

    Cost note: three 64-step interpreted folds per call. When the same
    vectors appear in many pairs (candidate verification), precompute
    ``l2_norm`` per vector before the pair join and use
    ``safe_cosine(dot_product(a, b), na, nb)`` — the expression trees are
    identical, so the doubles (and any threshold filter) are
    bit-identical.
    """
    return safe_cosine(dot_product(a, b), l2_norm(a), l2_norm(b))
