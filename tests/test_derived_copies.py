"""Derived copies of fixture tables (``cache.derived_dir``): nothing is
written when the package is imported, and a copy answers only for the
content it was derived from — two lakes that share a directory basename
never read each other's copies."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

from duckdb_parquet_parser_spark.catalog import TABLES
from duckdb_parquet_parser_spark.operators import collect_queries
from duckdb_parquet_parser_spark.testing import compare_query

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_BASE = "/root/testdata/sf0.001"

# Runs in a fresh interpreter: records every file write the process makes
# (audit events) while it imports every package module and asks for the
# query set, with the shared derived-copy function replaced by a tripwire.
_IMPORT_PROBE = r"""
import importlib, json, os, pkgutil, sys

WRITE_FLAGS = os.O_WRONLY | os.O_RDWR | os.O_CREAT | os.O_APPEND | os.O_TRUNC
MUTATIONS = {"os.mkdir", "os.rename", "os.replace", "os.remove", "os.rmdir",
             "os.truncate", "os.utime", "os.chmod", "os.symlink", "os.link",
             "shutil.rmtree", "shutil.copyfile"}
writes = []


def audit(event, args):
    if event == "open" and isinstance(args[2], int) and args[2] & WRITE_FLAGS:
        writes.append([event, str(args[0])])
    elif event in MUTATIONS:
        writes.append([event, str(args[0])])


sys.addaudithook(audit)

from duckdb_parquet_parser_spark import cache

calls = []


def tripwire(*args, **kwargs):
    calls.append([str(a) for a in args[:2]])
    raise AssertionError("derived copy built while importing")


cache.derived_dir = tripwire

import duckdb_parquet_parser_spark as pkg

for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
    importlib.import_module(m.name)
pkg.operators.collect_queries()
import __spark_entry__

__spark_entry__.queries()
print(json.dumps({"writes": writes, "calls": calls}))
"""


def test_import_and_query_collection_write_no_file(tmp_path):
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    env = {
        **os.environ,
        "TMPDIR": str(tmpdir),
        "PYTHONPATH": REPO,
        "PYTHONDONTWRITEBYTECODE": "1",
    }
    proc = subprocess.run(
        [sys.executable, "-c", _IMPORT_PROBE],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["calls"] == []
    assert report["writes"] == []
    assert os.listdir(tmpdir) == []


def _lake(root, documents, events) -> str:
    """An sf dir named ``sf0.01`` under ``root``: the given documents and
    events tables, the rest symlinked from the smoke fixture."""
    sf_dir = root / "sf0.01"
    sf_dir.mkdir(parents=True)
    for t in TABLES:
        src = os.path.join(SF_BASE, f"{t}.parquet")
        if t not in ("documents", "events") and os.path.exists(src):
            os.symlink(src, sf_dir / f"{t}.parquet")
    pq.write_table(documents, sf_dir / "documents.parquet")
    pq.write_table(events, sf_dir / "events.parquet")
    return str(sf_dir)


# Each reads a derived copy: the multi-row-group documents (r4, r7, r8),
# the clustered and z-ordered layouts, and the staged events stream.
DERIVED_COPY_QUERIES = (
    "r4_rowgroup_scan",
    "r7_chunk_bytes",
    "r8_page_index",
    "f1_clustered_prune",
    "w_zorder_prune",
    "streaming_dedup",
)


def test_same_basename_lakes_answer_from_their_own_content(spark, tmp_path):
    docs = pq.read_table(os.path.join(SF_BASE, "documents.parquet"))
    events = pq.read_table(os.path.join(SF_BASE, "events.parquet"))
    lake_a = _lake(tmp_path / "a", docs, events)
    # lake b: three quarters of the documents, and half of the events
    # with every user id new — every derived copy of b differs from a's
    b_docs = docs.filter(pc.not_equal(pc.bit_wise_and(docs["doc_id"], 3), 0))
    b_events = events.filter(
        pc.not_equal(pc.bit_wise_and(events["event_id"], 1), 0)
    )
    b_events = b_events.set_column(
        b_events.schema.get_field_index("user_id"),
        "user_id",
        pc.add(b_events["user_id"], 1000).cast(b_events.schema.field("user_id").type),
    )
    lake_b = _lake(tmp_path / "b", b_docs, b_events)
    queries, oracles = collect_queries()
    results = [
        compare_query(spark, sf_dir, name, queries[name], oracles[name])
        for sf_dir in (lake_a, lake_b)
        for name in DERIVED_COPY_QUERIES
    ]
    assert [str(r) for r in results if not r.ok] == []
