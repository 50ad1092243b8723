"""The two workload mixes and the output check of every op.

An op's ``run`` is the timed call into the package. Its ``check`` runs
outside the timer and returns an error text, or None when the output is
right. Query ops are checked once per run, in the warm-up pass, against
their DuckDB oracle; CLI and ingest ops take new parameters or a new
batch every pass and are checked every time they run.
"""

from __future__ import annotations

import io
import json
import os
import re
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

import lake as lakegen

# registered query -> category of its latency sample
LAKE_QUERIES = {
    "r3_full_column_scan": "scan",
    "r9_projection": "scan",
    "f1_regex_filter": "scan",
    "f1_regex_docs": "scan",
    "f1_neg_regex": "scan",
    "f1_page_report": "scan",
    "f1_regex_manifest": "scan",
    "f1_clustered_prune": "scan",
    "r10_positional_stream": "index",
    "x1_chunk_index": "index",
    "rel_agg_q1": "relational",
    "rel_join_q5": "relational",
    "rel_filter_agg_q6": "relational",
    "rel_profit_q9": "relational",
    "rel_priority_mix_q12": "relational",
    "rel_group_in_q18": "relational",
    "rel_multi_exists_q21": "relational",
    "rel_window_rank": "relational",
}

# fixed pipeline order: text features, then dedup, then similarity
CURATION_QUERIES = {
    "ns_text_tokens": "text",
    "ns_quality_logit": "text",
    "ns_dedup_exact": "dedup",
    "ns_dedup_minhash": "dedup",
    "ns_dedup_simhash_pairs": "dedup",
    "ns_dedup_components": "dedup",
    "ns_dedup_incremental_persisted": "dedup",
    "ns_contamination": "text",
    "ns_embed_neardup": "similarity",
    "ns_ann_ivf_topk": "similarity",
    "ns_mm_image_neardup": "dedup",
}

# Seeded parameter pools for the CLI reports and the ingest manifest.
# Every pattern is in the RE2 / java.util.regex common subset.
REGEX_POOL = ("sort sort", "hash join", "^spark", "dup", "window (stream|merge)",
              "vector vector vector", "the key", "big data")
INDEX_POOL = (("documents", "text"), ("documents", "lang"),
              ("documents", "source"))
MANIFEST_POOL = ("sort sort sort", "dup dup", "spark spark spark",
                 "hash join merge", "key key")

# Byte-level copies of the batch: table -> written columns and their
# physical types (the reference writer has no timestamp type).
BYTES_COLUMNS = {
    "lineitem": (("l_orderkey", "int64"), ("l_partkey", "int64"),
                 ("l_suppkey", "int64"), ("l_linenumber", "int32"),
                 ("l_quantity", "double"), ("l_extendedprice", "double"),
                 ("l_discount", "double"), ("l_tax", "double"),
                 ("l_returnflag", "byte_array"), ("l_linestatus", "byte_array")),
    "documents": (("doc_id", "int64"), ("text", "byte_array"),
                  ("lang", "byte_array"), ("source", "byte_array"),
                  ("n_chars", "int64")),
}

UTF8 = 0  # parquet ConvertedType.UTF8


@dataclass
class Op:
    name: str
    category: str
    run: Callable  # (ctx, collect: bool) -> result
    check: Callable | None = None  # (ctx, result) -> error text | None
    check_each_pass: bool = False


@dataclass
class Batch:
    dir: str
    tables: dict
    expected: dict = field(default_factory=dict)  # (copy, table) -> hash
    pylists: dict = field(default_factory=dict)  # byte-level writer input
    user_bytes: int = 0  # Arrow nbytes of everything the writers get
    write_s: float = 0.0  # wall time inside the two writers
    ref_out: dict = field(default_factory=dict)  # table -> written dir
    bytes_out: dict = field(default_factory=dict)  # table -> written file
    readback: dict = field(default_factory=dict)  # path -> pandas frame


def _timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    result = fn(*args, **kwargs)
    return result, time.perf_counter() - t0


# ---------------------------------------------------------------- queries


def query_op(name: str, category: str) -> Op:
    def run(ctx, collect):
        df = ctx.queries[name](ctx.spark, ctx.lake)
        if collect:
            return df.toPandas()
        df.write.format("noop").mode("overwrite").save()
        return None

    def check(ctx, pdf):
        return ctx.oracle_check(name, pdf)

    return Op(name, category, run, check)


# -------------------------------------------------------------------- CLI


def _table_path(ctx, table):
    return os.path.join(ctx.lake, f"{table}.parquet")


def _dump_metadata(ctx, collect):
    out = {}
    for t in lakegen.TABLES:
        buf = io.StringIO()
        _, s = _timed(ctx.pkg.cli.dump_metadata, _table_path(ctx, t), out=buf)
        ctx.inspect_ms.append(s * 1000.0)
        out[t] = buf.getvalue()
    return out


def _check_dump(ctx, out):
    rows = lakegen.table_rows(ctx.scale)
    for t, text in out.items():
        m = re.search(r"^rows: (\d+) ", text, re.M)
        if m is None or int(m.group(1)) != rows[t]:
            return f"{t}: dump reports {m and m.group(1)} rows, expected {rows[t]}"
    return None


def _chunk_sql(path: str, column: str) -> str:
    """DuckDB replay of the 4 KB chunk rule (FIXTURES.md rule 3) over file
    order, one row per chunk."""
    return f"""
        WITH v AS (
            SELECT file_row_number AS pos, "{column}" AS value,
                   CAST(strlen(CAST(strlen("{column}") AS VARCHAR))
                        + strlen("{column}") AS BIGINT) AS cost
            FROM read_parquet('{path}', file_row_number = true)
            WHERE "{column}" IS NOT NULL),
        k AS (
            SELECT value, cost, CAST(floor((sum(cost) OVER (ORDER BY pos
                ROWS UNBOUNDED PRECEDING) - cost) / 4096) AS BIGINT) AS chunk_id
            FROM v)
        SELECT chunk_id, count(*) AS n_values, sum(cost) AS n_bytes,
               sum(CAST(regexp_matches(value, $1) AS INT)) AS n_match
        FROM k GROUP BY chunk_id"""


def _regex_report(ctx, collect):
    pattern = str(ctx.rng.choice(REGEX_POOL))
    negate = bool(ctx.rng.random() < 0.25)
    buf = io.StringIO()
    ctx.pkg.cli.regex_report(_table_path(ctx, "documents"), "text", pattern,
                             negate, out=buf)
    return pattern, negate, buf.getvalue()


def _check_regex_report(ctx, result):
    pattern, negate, text = result
    m = re.search(r"(\d+)/(\d+) chunks have no value", text)
    rows = ctx.duck.execute(_chunk_sql(_table_path(ctx, "documents"), "text"),
                            [pattern]).fetchall()
    want = sum(1 for _, n, _, k in rows if (n - k if negate else k) == 0)
    got = m and (int(m.group(1)), int(m.group(2)))
    if got != (want, len(rows)):
        return f"pattern {pattern!r} negate={negate}: got {got}, want {(want, len(rows))}"
    return None


def _index_report(ctx, collect):
    table, column = INDEX_POOL[ctx.rng.integers(len(INDEX_POOL))]
    buf = io.StringIO()
    ctx.pkg.cli.index_report(_table_path(ctx, table), column, out=buf)
    return table, column, buf.getvalue()


def _check_index_report(ctx, result):
    table, column, text = result
    m = re.search(r"(\d+) values, (\d+) bytes packed into (\d+) chunks", text)
    rows = ctx.duck.execute(_chunk_sql(_table_path(ctx, table), column),
                            [""]).fetchall()
    want = (sum(r[1] for r in rows), sum(r[2] for r in rows), len(rows))
    got = m and tuple(int(g) for g in m.groups())
    if got:
        ctx.counts["positional.chunks"] += got[2]  # as the package reports it
    if got != want:
        return f"{table}.{column}: got {got}, want {want}"
    return None


# ----------------------------------------------------------------- ingest


def _write_reference(ctx, collect):
    b = ctx.batch
    for t in lakegen.BATCH_TABLES:
        out = os.path.join(b.dir, "ref", t)
        df = ctx.pkg.catalog.load_table(ctx.spark, b.dir, t)
        b.write_s += _timed(ctx.pkg.writer.write_reference_style, df, out)[1]
        b.ref_out[t] = out
    return None


def _write_bytes(ctx, collect):
    b = ctx.batch
    pw = ctx.pkg.pywriter
    for t, cols in BYTES_COLUMNS.items():
        specs = [pw.ColumnSpec(c, ty, converted_type=UTF8 if ty == "byte_array" else None)
                 for c, ty in cols]
        values = b.pylists[t]
        path = os.path.join(b.dir, "bytes", f"{t}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        b.write_s += _timed(pw.write_reference_bytes, path, specs, values)[1]
        b.bytes_out[t] = path
    return None


def _layout(ctx, collect):
    pattern = str(ctx.rng.choice(MANIFEST_POOL))
    layout = ctx.pkg.layout.clustered_documents(ctx.spark, ctx.batch.dir)
    manifest = ctx.pkg.layout.regex_manifest(ctx.spark, layout, "text", pattern)
    return pattern, manifest


def _check_layout(ctx, result):
    pattern, manifest = result
    if not manifest:
        return "empty manifest"
    for f, any_match in manifest.items():
        want = ctx.duck.execute(
            f"SELECT coalesce(bool_or(regexp_matches(text, $1)), false) "
            f"FROM read_parquet('{f}')", [pattern]).fetchone()[0]
        if bool(want) != any_match:
            return f"manifest {pattern!r} wrong for {os.path.basename(f)}"
    return None


def _append_signatures(ctx, collect):
    from pyspark.sql import functions as F

    docs = ctx.pkg.catalog.load_table(ctx.spark, ctx.batch.dir, "documents")
    ws = docs.select("doc_id", F.array_distinct(F.split("text", " ")).alias("ws"))
    ctx.pkg.dedup.append_signatures(ctx.spark, ws, ctx.sig_artifact_uri)
    return None


def _check_append(ctx, _):
    import pyarrow.dataset as ds

    ctx.appended_docs += ctx.batch.tables["documents"].num_rows
    ctx.appends += 1
    path = ctx.sig_artifact_uri.removeprefix("file://")
    with open(os.path.join(path, "_sig_meta.json")) as f:
        snapshots = json.load(f)["snapshots"]
    rows = ds.dataset(path, format="parquet").count_rows()
    want = (1 + ctx.appends, ctx.corpus_sig_rows + ctx.appended_docs)
    if (snapshots, rows) != want:
        return f"artifact (snapshots, rows) = {(snapshots, rows)}, want {want}"
    return None


def _written_files(b: Batch) -> list[str]:
    files = sorted(b.bytes_out.values())
    for d in b.ref_out.values():
        files += sorted(os.path.join(d, f) for f in os.listdir(d)
                        if f.endswith(".parquet"))
    return files


def _walk_pages(ctx, collect):
    walked = {}
    for f in _written_files(ctx.batch):
        walked[f], s = _timed(ctx.pkg.inspect.walk_pages, f)
        ctx.inspect_ms.append(s * 1000.0)
    return walked


def _check_walk(ctx, walked):
    import pyarrow.parquet as pq

    for f, pages in walked.items():
        md = pq.ParquetFile(f).metadata
        per_col = {}
        for p in pages:
            if p.page_type.startswith("DATA_PAGE"):
                per_col[p.column] = per_col.get(p.column, 0) + p.num_values
        if per_col != {c: md.num_rows for c in range(md.num_columns)}:
            return f"{os.path.basename(f)}: page values {per_col} vs {md.num_rows} rows"
        key = "pywriter" if f in ctx.batch.bytes_out.values() else "writer"
        ctx.counts[f"{key}.pages_out"] += len(pages)
        ctx.counts[f"{key}.bytes_out"] += os.path.getsize(f)
        ctx.counts[f"{key}.files_out"] += 1
    ctx.counts["ingest.user_bytes"] += ctx.batch.user_bytes
    return None


def _readback(ctx, collect):
    b = ctx.batch
    paths = list(b.ref_out.values()) + list(b.bytes_out.values())
    b.readback = {p: ctx.spark.read.parquet(p).toPandas() for p in paths}
    return None


def _check_readback(ctx, _):
    from duckdb_parquet_parser_spark.testing import canonical_hash

    b = ctx.batch
    for t, d in b.ref_out.items():
        if canonical_hash(b.readback[d]) != b.expected[("ref", t)]:
            return f"reference-style {t} does not read back as written"
    for t, p in b.bytes_out.items():
        if canonical_hash(b.readback[p]) != b.expected[("bytes", t)]:
            return f"byte-level {t} does not read back as written"
    return None


INGEST_OPS = (
    Op("ingest_write_reference", "write", _write_reference),
    Op("ingest_write_bytes", "write", _write_bytes),
    Op("ingest_layout", "layout", _layout, _check_layout, True),
    Op("ingest_append_signatures", "append", _append_signatures, _check_append, True),
    Op("ingest_walk_pages", "inspect", _walk_pages, _check_walk, True),
    Op("ingest_readback", "readback", _readback, _check_readback, True),
)


def prepare_batch(ctx, index: int) -> Batch:
    """Generate pass ``index``'s batch and everything its checks need.
    Runs outside every op timer."""
    from duckdb_parquet_parser_spark.testing import canonical_hash

    if ctx.batch is not None:
        shutil.rmtree(ctx.batch.dir, ignore_errors=True)
    d = os.path.join(ctx.run_dir, "ingest", f"batch_{index:04d}")
    tables = lakegen.make_batch(ctx.lake, d, ctx.scale, ctx.seed, index)
    b = Batch(d, tables)
    for t, tb in tables.items():
        b.expected[("ref", t)] = canonical_hash(tb.to_pandas())
        b.user_bytes += tb.nbytes
    for t, cols in BYTES_COLUMNS.items():
        sub = tables[t].select([c for c, _ in cols])
        b.expected[("bytes", t)] = canonical_hash(sub.to_pandas())
        b.pylists[t] = [sub.column(c).to_pylist() for c, _ in cols]
        b.user_bytes += sub.nbytes
    return b


# -------------------------------------------------------------- workloads


class LakeIngest:
    """Analyst SQL and the parser CLI over the lake, with one recurring
    ingestion of a fresh batch per pass. Order is shuffled by the seed;
    the Spark cache is cleared before each op."""

    name = "lake_ingest"

    def __init__(self):
        self.read_ops = [query_op(n, c) for n, c in LAKE_QUERIES.items()] + [
            Op("cli_dump_metadata", "inspect", _dump_metadata, _check_dump, True),
            Op("cli_regex_report", "scan", _regex_report, _check_regex_report, True),
            Op("cli_index_report", "index", _index_report, _check_index_report, True),
        ]
        self.ops = self.read_ops + list(INGEST_OPS)

    def setup(self, ctx):
        """Pre-builds a previous ingestion would have left behind: the
        clustered layout + manifest the f1 layout queries read, and the
        corpus signature artifact each pass appends to."""
        L = ctx.pkg.layout
        L.regex_manifest(ctx.spark, L.clustered_documents(ctx.spark, ctx.lake),
                         "text", L.MANIFEST_PATTERN)
        uri = "file://" + os.path.join(ctx.run_dir, "ingest", "corpus_signatures")
        ctx.pkg.dedup.write_signature_artifact(ctx.spark, ctx.lake, uri)
        ctx.sig_artifact_uri = uri
        import pyarrow.dataset as ds

        ctx.corpus_sig_rows = ds.dataset(uri.removeprefix("file://"),
                                         format="parquet").count_rows()

    def pass_ops(self, ctx, index):
        ctx.batch = prepare_batch(ctx, index)
        order = [self.read_ops[i] for i in ctx.rng.permutation(len(self.read_ops))]
        at = int(ctx.rng.integers(len(order) + 1))
        return order[:at] + list(INGEST_OPS) + order[at:]

    def before_op(self, ctx, op, first_in_pass):
        ctx.spark.catalog.clearCache()


class DedupCuration:
    """One LLM-corpus curation batch per pass in fixed pipeline order. The
    Spark cache and the dedup memos are cleared at pass start only, so the
    sharing inside one pipeline run counts."""

    name = "dedup_curation"

    def __init__(self):
        self.ops = [query_op(n, c) for n, c in CURATION_QUERIES.items()]

    def setup(self, ctx):
        pass

    def pass_ops(self, ctx, index):
        return list(self.ops)

    def before_op(self, ctx, op, first_in_pass):
        if first_in_pass:
            ctx.spark.catalog.clearCache()
            ctx.pkg.dedup.clear_simhash_memos()


WORKLOADS = {w.name: w for w in (LakeIngest, DedupCuration)}
