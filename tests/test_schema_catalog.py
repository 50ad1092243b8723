"""Session schema catalog (catalog.read_parquet_cached_schema, r17
optimization round): the memoized-schema read must be schema-identical
to Spark's own inference, must stop scheduling the per-read inference
job once warm, and must re-infer when the file content changes (the
stale-schema hazard the (mtime, size) key exists for)."""

from __future__ import annotations

import os
import time

from pyspark.sql import Row

from duckdb_parquet_parser_spark.catalog import (
    _SCHEMA_MEMO,
    load_table,
    read_parquet_cached_schema,
    table_path,
)


def test_cached_schema_matches_inference(spark, sf_smoke):
    """Warm-path schema == Spark's own inferred schema, column for
    column (the memo stores exactly what inference returned, so this is
    the identity the optimization rests on)."""
    path = table_path(sf_smoke, "lineitem")
    inferred = spark.read.parquet(path).schema
    _SCHEMA_MEMO.clear()
    first = read_parquet_cached_schema(spark, path)  # infers + memoizes
    warm = read_parquet_cached_schema(spark, path)  # memo hit
    assert first.schema == inferred
    assert warm.schema == inferred
    # same rows either way (order-insensitive)
    a = {tuple(r) for r in warm.limit(50).collect()}
    b = {tuple(r) for r in spark.read.parquet(path).limit(50).collect()}
    assert a == b


def test_warm_read_schedules_no_inference_job(spark, sf_smoke):
    """The point of the memo: a warm read plans without scheduling any
    job at all (schema inference was the only eager work in
    ``spark.read.parquet``), and the first ACTION on it runs exactly the
    scan jobs — measured as strictly fewer scheduled jobs than the
    cold path's action, which pays inference + scan."""
    path = table_path(sf_smoke, "documents")
    sc = spark.sparkContext

    def jobs_for(tag, make_df):
        group = f"schema-catalog-{tag}"
        sc.setJobGroup(group, tag, False)
        try:
            make_df().write.format("noop").mode("overwrite").save()
        finally:
            sc.setJobGroup(None, None, False)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    _SCHEMA_MEMO.clear()
    cold = jobs_for("cold", lambda: read_parquet_cached_schema(spark, path))
    warm = jobs_for("warm", lambda: read_parquet_cached_schema(spark, path))
    assert warm < cold, (cold, warm)


def test_rewritten_file_reinfers(spark, tmp_path):
    """Content change ⇒ key change ⇒ fresh inference: a rewrite that
    changes the schema must be visible on the very next read — the memo
    can never serve a stale schema for new bytes."""
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([Row(a=1)]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(p)
    first = read_parquet_cached_schema(spark, p)
    assert first.columns == ["a"]
    # ensure a distinct mtime_ns even on coarse-grained filesystems
    time.sleep(0.05)
    spark.createDataFrame([Row(b="x", c=2)]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(p)
    os.utime(p)
    second = read_parquet_cached_schema(spark, p)
    assert sorted(second.columns) == ["b", "c"]


def test_load_table_uses_catalog(spark, sf_smoke):
    """load_table rides the memo: two loads of the same table return
    identical schemas and the second plans from the memo (key present)."""
    _SCHEMA_MEMO.clear()
    a = load_table(spark, sf_smoke, "region")
    assert len(_SCHEMA_MEMO) == 1
    b = load_table(spark, sf_smoke, "region")
    assert len(_SCHEMA_MEMO) == 1
    assert a.schema == b.schema


def test_tree_catalog_partitioned_roundtrip_and_no_warm_job(spark, tmp_path):
    """r18 (VERDICT r17 #4): the leaf-fingerprint variant must serve a
    hive-partitioned layout — partition columns included, same schema
    and rows as plain inference — and a warm read must schedule fewer
    jobs than the cold one (the inference job is gone; the scan remains)."""
    from duckdb_parquet_parser_spark.catalog import (
        read_parquet_cached_schema_tree,
    )

    p = str(tmp_path / "part")
    spark.createDataFrame(
        [Row(k=i, part=f"p{i % 2}") for i in range(8)]
    ).write.mode("overwrite").partitionBy("part").parquet(p)
    inferred = spark.read.parquet(p)
    _SCHEMA_MEMO.clear()
    sc = spark.sparkContext

    def jobs_for(tag):
        group = f"tree-catalog-{tag}"
        sc.setJobGroup(group, tag, False)
        try:
            read_parquet_cached_schema_tree(spark, p).write.format(
                "noop"
            ).mode("overwrite").save()
        finally:
            sc.setJobGroup(None, None, False)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    cold = jobs_for("cold")
    warm_df = read_parquet_cached_schema_tree(spark, p)
    assert warm_df.schema == inferred.schema
    assert {tuple(r) for r in warm_df.collect()} == {
        tuple(r) for r in inferred.collect()
    }
    warm = jobs_for("warm")
    assert warm < cold, (cold, warm)


def test_tree_catalog_leaf_rewrite_reinfers(spark, tmp_path):
    """A rewrite of a LEAF file deep in the partitioned tree — invisible
    to the top-level mtime the flat key uses — must change the
    fingerprint and re-infer: the next read sees the new schema."""
    import time as _t

    from duckdb_parquet_parser_spark.catalog import (
        read_parquet_cached_schema_tree,
    )

    p = str(tmp_path / "part2")
    spark.createDataFrame(
        [Row(a=i, part="p0") for i in range(4)]
    ).write.mode("overwrite").partitionBy("part").parquet(p)
    first = read_parquet_cached_schema_tree(spark, p)
    assert sorted(first.columns) == ["a", "part"]
    _t.sleep(0.05)
    # rewrite ONLY the leaf partition dir with a different schema
    spark.createDataFrame([Row(b="x", c=2)]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(p, "part=p0"))
    second = read_parquet_cached_schema_tree(spark, p)
    assert sorted(second.columns) == ["b", "c", "part"]


def test_memo_evicts_least_recently_used(spark, sf_smoke):
    """A full memo evicts one entry at a time, least recently used
    first: a key touched after the fill survives the next insert, so a
    long session that overflows the memo keeps its hot tables' schemas."""
    from duckdb_parquet_parser_spark.catalog import _SCHEMA_MEMO_MAX

    _SCHEMA_MEMO.clear()
    try:
        region = table_path(sf_smoke, "region")
        read_parquet_cached_schema(spark, region)
        (touched,) = _SCHEMA_MEMO
        schema = _SCHEMA_MEMO[touched]
        for i in range(_SCHEMA_MEMO_MAX - 1):
            _SCHEMA_MEMO[("filler", i)] = schema
        read_parquet_cached_schema(spark, region)  # touch: memo hit
        read_parquet_cached_schema(spark, table_path(sf_smoke, "nation"))
        assert touched in _SCHEMA_MEMO
        assert ("filler", 0) not in _SCHEMA_MEMO
        assert len(_SCHEMA_MEMO) == _SCHEMA_MEMO_MAX
    finally:
        _SCHEMA_MEMO.clear()
