"""Table content fingerprints: the identity behind every content-keyed
cache entry and memo in the engine.

``table_fingerprint`` fingerprints one table of a fixture directory
(os.stat for local paths, the Hadoop FS API for any other scheme);
``fs_content_fingerprint`` is the scheme-agnostic primitive it uses for
remote paths. Both change whenever a file under the table is added,
removed or rewritten, so a key built from them never answers for stale
content."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .sources.layout import _hadoop_fs


def fs_content_fingerprint(spark: SparkSession, path: str) -> str:
    """Cheap content fingerprint of a file or directory on ANY scheme
    Spark reaches: ``relative/path:mtime_ms:size`` per file, sorted,
    ``|``-joined. Raises FileNotFoundError for an absent path instead of
    returning an empty string — an empty fingerprint is precisely the
    silent-staleness failure this helper exists to close.

    Keys are paths RELATIVE TO THE ROOT, not basenames (code review
    r14): a Hive-partitioned table has identically-named part files in
    every partition directory, and a same-name/same-size/same-mtime
    move between partitions must change the fingerprint.

    Resolution contract: Hadoop reports millisecond mtimes, so a
    same-size rewrite within one millisecond is invisible — strictly
    coarser than ``os.stat``'s nanoseconds, so ``table_fingerprint``
    keeps the os.stat walk for LOCAL directories and uses this only
    where os.stat cannot see at all (REVIEW_r14.md #2).

    Encoding contract (ADVICE r14): each per-file record is
    length-prefixed — ``len(rel):rel:mtime:size`` — so a path containing
    the ``:`` or ``|`` delimiters can never alias a different listing to
    the same joined string (two different content versions mapping to one
    fingerprint is exactly the failure class this helper closes; parquet
    part files never contain these characters, but the primitive must not
    depend on that)."""
    fs, p = _hadoop_fs(spark, path)
    if not fs.exists(p):
        raise FileNotFoundError(path)
    root = p.toUri().getPath()
    parts: list[str] = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        fpath = st.getPath().toUri().getPath()
        rel = (
            fpath[len(root):].lstrip("/")
            if fpath.startswith(root)
            else fpath
        ) or fpath.rsplit("/", 1)[-1]
        parts.append(
            f"{len(rel)}:{rel}:{st.getModificationTime()}:{st.getLen()}"
        )
    parts.sort()
    return "|".join(parts)


def table_fingerprint(sf_dir: str, table: str = "documents") -> str:
    """Cheap content fingerprint of one fixture table: (mtime_ns, size)
    of every file under ``<table>.parquet`` (file or directory).

    A table on a NON-LOCAL scheme (hdfs://, s3a://, file://…) is
    fingerprinted through the Hadoop FS API — an os.stat walk returns an
    EMPTY string there, which would map every content version of a
    remote corpus to the same persisted-artifact key and memo key
    (REVIEW_r14 #2). Local paths keep the os.stat walk: nanosecond
    mtimes are strictly finer than Hadoop's milliseconds. The remote
    branch needs a live SparkSession for the FS handle; a remote path
    with no active session fails loudly rather than degrading to the
    empty fingerprint."""
    if "://" in sf_dir:
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                f"fingerprinting remote path {sf_dir!r} requires an active "
                "SparkSession (Hadoop FS access)"
            )
        return fs_content_fingerprint(
            spark, f"{sf_dir.rstrip('/')}/{table}.parquet"
        )
    path = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    parts = []
    if os.path.isdir(path):
        for root, _, files in sorted(os.walk(path)):
            for f in sorted(files):
                st = os.stat(os.path.join(root, f))
                parts.append(f"{f}:{st.st_mtime_ns}:{st.st_size}")
    elif os.path.exists(path):
        st = os.stat(path)
        parts.append(f"{st.st_mtime_ns}:{st.st_size}")
    return "|".join(parts)
