"""CLI — the reference's command-line surface, Spark-backed.

Mirrors the three invocations a duckdb-parquet-parser user runs
(reference README.md:43-72; main.cpp):

    # schema + row groups + page layout (``./parser <file>``)
    python -m duckdb_parquet_parser_spark FILE

    # regex skippable-chunk report
    # (``./parser <file> --regex-column C --regex P [--neg-regex]``)
    python -m duckdb_parquet_parser_spark FILE --regex-column C \\
        --regex P [--neg-regex]

    # chunked inverted index (``./index_test <file> <column>``)
    python -m duckdb_parquet_parser_spark FILE --index-column C

    # distributed per-file layout audit (round-5 extension; one stats
    # line per parquet file, header walks run executor-side)
    python -m duckdb_parquet_parser_spark DIR --audit

Design notes:

- The schema/page dump is served ENTIRELY from this package's pure-Python
  footer + Thrift page-header walkers (inspect.py) — no SparkSession, so
  the metadata path starts in milliseconds, exactly like the reference's
  standalone parser.
- The regex report and the inverted index spin up a local SparkSession
  and reuse the SAME expressions the declared queries certify
  (operators/filters.py `f1_page_report`, operators/positional.py
  `scalable_chunk_ids`), at the chunk granularity documented in
  FIXTURES.md rule 3/4 — the page-distributed translation of the
  reference's page-granular report (SURVEY §7.5/§7.6).
"""

from __future__ import annotations

import argparse
import sys


def dump_metadata(path: str, out=sys.stdout) -> None:
    """``./parser <file>``: schema, row groups, per-column page layout —
    footer + page headers only, no data pages read, no Spark."""
    from .inspect import file_metadata, page_stats, row_group_stats

    md = file_metadata(path)
    schema = md.schema
    print(f"file: {path}", file=out)
    print(
        f"rows: {md.num_rows}  row_groups: {md.num_row_groups}  "
        f"columns: {md.num_columns}  format: {md.format_version}",
        file=out,
    )
    print("schema:", file=out)
    for i in range(md.num_columns):
        col = schema.column(i)
        lt = str(col.logical_type)
        print(
            f"  {col.name}: {col.physical_type}"
            f"{'/' + lt if lt not in ('None', 'NONE') else ''}",
            file=out,
        )
    print("row groups:", file=out)
    for rg in row_group_stats(path):
        print(
            f"  rg {rg['row_group']}: rows={rg['num_rows']} "
            f"bytes={rg['total_byte_size']}",
            file=out,
        )
    print("pages:", file=out)
    for ps in page_stats(path):
        print(
            f"  rg {ps['row_group']} {ps['column_name']}: "
            f"data_pages={ps['n_data_pages']} dict_pages={ps['n_dict_pages']} "
            f"values={ps['num_values']}",
            file=out,
        )


def regex_report(
    path: str, column: str, pattern: str, negate: bool = False, out=sys.stdout
) -> None:
    """``--regex-column C --regex P [--neg-regex]``: report ~4 KB value
    chunks of ``column`` where NO value satisfies the (possibly inverted)
    pattern — the chunks a matching scan could skip."""
    from pyspark.sql import functions as F

    from .operators.positional import scalable_chunk_ids
    from .operators.scan import string_columns_only
    from .session import get_spark

    spark = get_spark(app_name="parser-cli")
    df = spark.read.parquet(path)
    if column not in df.columns:
        raise SystemExit(f"column {column!r} not in {df.columns}")
    chunked = scalable_chunk_ids(string_columns_only(df, column), column=column)
    cond = F.col("value").rlike(pattern)
    if negate:
        cond = ~cond
    rep = (
        chunked.groupBy("chunk_id")
        .agg(
            F.sum(cond.cast("long")).alias("n_match"),
            F.count(F.lit(1)).alias("n_values"),
        )
        .orderBy("chunk_id")
        .collect()
    )
    skippable = [r for r in rep if r["n_match"] == 0]
    label = "NOT matching" if negate else "matching"
    print(
        f"column {column!r}, pattern {pattern!r}"
        f"{' (inverted)' if negate else ''}: "
        f"{len(skippable)}/{len(rep)} chunks have no value {label}",
        file=out,
    )
    for r in skippable:
        print(f"  chunk {r['chunk_id']}: {r['n_values']} values, 0 matches", file=out)


def index_report(path: str, column: str, out=sys.stdout) -> None:
    """``index_test <file> <column>``: pack the column's values into ~4 KB
    chunks (len-prefix + bytes cost rule) and print the inverted index
    summary the reference's test binary prints."""
    from pyspark.sql import functions as F

    from .operators.positional import CHUNK_SIZE, byte_cost, scalable_chunk_ids
    from .operators.scan import string_columns_only
    from .session import get_spark

    spark = get_spark(app_name="parser-cli")
    df = spark.read.parquet(path)
    if column not in df.columns:
        raise SystemExit(f"column {column!r} not in {df.columns}")
    chunked = scalable_chunk_ids(string_columns_only(df, column), column=column)
    idx = (
        chunked.groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.sum(byte_cost(F.col("value"))).alias("n_bytes"),
            F.min("pos").alias("first_pos"),
            F.max("pos").alias("last_pos"),
        )
        .orderBy("chunk_id")
        .collect()
    )
    total_vals = sum(r["n_values"] for r in idx)
    total_bytes = sum(r["n_bytes"] for r in idx)
    print(
        f"column {column!r}: {total_vals} values, {total_bytes} bytes "
        f"packed into {len(idx)} chunks of <= {CHUNK_SIZE} B",
        file=out,
    )
    for r in idx:
        print(
            f"  chunk {r['chunk_id']}: values={r['n_values']} "
            f"bytes={r['n_bytes']} pos=[{r['first_pos']},{r['last_pos']}]",
            file=out,
        )


def audit_report(path: str, out=sys.stdout) -> None:
    """``--audit``: distributed layout audit — one stats line per parquet
    file under ``path`` (a directory) or for ``path`` itself (a file),
    computed executor-side by ``inspect.fleet_page_audit``. The CLI shape
    of auditing a whole lake: header walks fan out, stats come back."""
    import glob as globlib
    import os

    from .inspect import fleet_page_audit
    from .session import get_spark

    if os.path.isdir(path):
        paths = sorted(globlib.glob(os.path.join(path, "*.parquet")))
    else:
        paths = [path]
    if not paths:
        raise SystemExit(f"no parquet files under {path!r}")
    spark = get_spark(app_name="parser-cli")
    rows = fleet_page_audit(spark, paths).orderBy("file_name").collect()
    print(f"audited {len(rows)} files:", file=out)
    for r in rows:
        ratio = r["uncompressed_bytes"] / max(r["compressed_bytes"], 1)
        print(
            f"  {r['file_name']}: chunks={r['n_chunks']} "
            f"values={r['num_values']} bytes={r['compressed_bytes']} "
            f"(x{ratio:.2f} uncompressed)",
            file=out,
        )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m duckdb_parquet_parser_spark",
        description="Parquet inspection CLI (reference-parser parity)",
    )
    ap.add_argument("file", help="parquet file (or directory) to inspect")
    ap.add_argument("--regex-column", help="column to scan for the regex report")
    ap.add_argument("--regex", help="pattern for the skippable-chunk report")
    ap.add_argument(
        "--neg-regex", action="store_true", help="invert the match (NOT LIKE)"
    )
    ap.add_argument("--index-column", help="build the chunked inverted index")
    ap.add_argument(
        "--audit",
        action="store_true",
        help="distributed per-file layout audit (file, or every *.parquet "
        "in a directory)",
    )
    args = ap.parse_args(argv)
    if (args.regex_column is None) != (args.regex is None):
        ap.error("--regex-column and --regex must be used together")
    if args.audit:
        audit_report(args.file)
    elif args.regex_column:
        regex_report(args.file, args.regex_column, args.regex, args.neg_regex)
    elif args.index_column:
        index_report(args.file, args.index_column)
    else:
        dump_metadata(args.file)
    return 0


if __name__ == "__main__":
    sys.exit(main())
