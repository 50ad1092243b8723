"""CLI parity surface: the reference's three invocations served by
__main__ (schema/page dump from the pure-Python footer walkers; regex
skippable-chunk report and chunked index over the declared-operator
expressions)."""

from __future__ import annotations

import io
import os

import pytest

from duckdb_parquet_parser_spark.__main__ import (
    dump_metadata,
    index_report,
    regex_report,
)


def test_cli_metadata_dump_needs_no_spark(sf_smoke):
    out = io.StringIO()
    dump_metadata(os.path.join(sf_smoke, "region.parquet"), out=out)
    s = out.getvalue()
    assert "r_regionkey: INT32" in s
    assert "r_name: BYTE_ARRAY/String" in s
    assert "rows: 5" in s and "data_pages=" in s


def test_cli_regex_report_matches_operator_semantics(spark, sf_smoke):
    """Chunks reported 'no match' must be exactly the f1_page_report-style
    zero-match chunks for the same column/pattern."""
    import re

    from pyspark.sql import functions as F

    from duckdb_parquet_parser_spark.operators.positional import (
        scalable_chunk_ids,
    )

    path = os.path.join(sf_smoke, "documents.parquet")
    out = io.StringIO()
    regex_report(path, "text", "sort sort sort", out=out)
    got = {
        int(m.group(1))
        for m in re.finditer(r"chunk (\d+):", out.getvalue())
    }
    chunked = scalable_chunk_ids(spark.read.parquet(path), column="text")
    want = {
        r["chunk_id"]
        for r in (
            chunked.groupBy("chunk_id")
            .agg(F.sum(F.col("value").rlike("sort sort sort").cast("long")).alias("m"))
            .filter(F.col("m") == 0)
            .collect()
        )
    }
    assert got == want and len(got) > 0


def test_cli_index_report_totals(spark, sf_smoke):
    path = os.path.join(sf_smoke, "documents.parquet")
    out = io.StringIO()
    index_report(path, "text", out=out)
    s = out.getvalue()
    n = spark.read.parquet(path).filter("text IS NOT NULL").count()
    assert f"{n} values" in s
    assert "packed into" in s


@pytest.mark.parametrize(
    "flags",
    [["--index-column", "l_orderkey"], ["--regex-column", "l_orderkey", "--regex", "1"]],
)
def test_cli_rejects_non_string_column_by_name(spark, sf_smoke, flags):
    """The value-chunk reports read string (BYTE_ARRAY) columns only, as
    the reference's column_iterator does: a numeric column fails with
    its name instead of producing a report over cast values."""
    from duckdb_parquet_parser_spark.__main__ import main

    path = os.path.join(sf_smoke, "lineitem.parquet")
    with pytest.raises(TypeError, match="l_orderkey is bigint"):
        main([path, *flags])


def test_cli_audit_report_matches_walker(spark, sf_smoke):
    """--audit totals per file must equal the single-file page walker's
    own per-chunk accounting (same invariants r6_fleet_audit certifies
    against DuckDB)."""
    import re

    from duckdb_parquet_parser_spark.__main__ import audit_report
    from duckdb_parquet_parser_spark.inspect import walk_pages

    out = io.StringIO()
    audit_report(sf_smoke, out=out)
    s = out.getvalue()
    assert "audited 10 files:" in s
    m = re.search(
        r"documents\.parquet: chunks=(\d+) values=(\d+) bytes=(\d+)", s
    )
    assert m, s
    pages = list(walk_pages(os.path.join(sf_smoke, "documents.parquet")))
    chunks = {(p.row_group, p.column) for p in pages}
    values = sum(
        p.num_values
        for p in pages
        if p.page_type in ("DATA_PAGE", "DATA_PAGE_V2")
    )
    comp = sum(p.header_size + p.compressed_size for p in pages)
    assert (int(m.group(1)), int(m.group(2)), int(m.group(3))) == (
        len(chunks),
        values,
        comp,
    )
