"""The persisted-artifact protocol (cache.py), over all four kinds:
signatures, component labels, video frame hashes and HLL registers.
Every consumer query resolves its entry under the operator-chosen
artifact root, and every reader refuses a type-drifted column before
any data is read."""

from __future__ import annotations

import json
import os
import re

import pytest

from duckdb_parquet_parser_spark.cache import (
    ARTIFACT_META,
    ARTIFACT_ROOT_ENV,
    _artifact_meta_path,
    _fs_move_text_into_place,
    read_artifact,
)
from duckdb_parquet_parser_spark.operators.curation import (
    COMPONENTS,
    q_ns_source_droprate,
)
from duckdb_parquet_parser_spark.operators.dedup import (
    SIGNATURES,
    q_ns_dedup_incremental_persisted,
)
from duckdb_parquet_parser_spark.operators.multimodal_synth import (
    VIDEO_FRAMES,
    q_ns_mm_video_neardup,
)
from duckdb_parquet_parser_spark.operators.corpus import (
    HLL_REGISTERS,
    q_ns_hll_incremental,
)

# kind, the registered query that consumes it, a column to drift
KINDS = {
    "signatures": (SIGNATURES, q_ns_dedup_incremental_persisted, "doc_id"),
    "components": (COMPONENTS, q_ns_source_droprate, "component"),
    "frames": (VIDEO_FRAMES, q_ns_mm_video_neardup, "ahash"),
    "hll": (HLL_REGISTERS, q_ns_hll_incremental, "mr"),
}


@pytest.mark.parametrize("name", list(KINDS))
def test_consumer_writes_under_artifact_root(spark, sf_smoke, tmp_path, monkeypatch, name):
    """With SPARK_GRAFT_ARTIFACT_ROOT set, the consumer query's artifact
    — parquet and sidecar — lands under ``<root>/<prefix>/``, not in the
    per-user $TMPDIR cache."""
    kind, query, _ = KINDS[name]
    monkeypatch.setenv(ARTIFACT_ROOT_ENV, str(tmp_path))
    query(spark, sf_smoke)  # the ensure-write runs while planning
    entries = os.listdir(tmp_path / kind.prefix)
    assert len(entries) == 1, entries
    meta = json.loads((tmp_path / kind.prefix / entries[0] / ARTIFACT_META).read_text())
    assert {k: meta[k] for k in kind.params} == kind.params


def _write_synthetic(spark, kind, path, string_col=None):
    """One-row artifact with ``kind``'s declared schema and sidecar,
    ``string_col`` (if given) rewritten as a string column."""
    types = {c: ("string" if c == string_col else t) for c, t in kind.columns.items()}
    row = tuple("x" if t == "string" else 1 for t in types.values())
    ddl = ", ".join(f"{c} {t}" for c, t in types.items())
    spark.createDataFrame([row], ddl).write.parquet(path)
    _fs_move_text_into_place(spark, _artifact_meta_path(path), json.dumps(kind.params))


@pytest.mark.parametrize("name", list(KINDS))
def test_type_drifted_column_is_refused(spark, tmp_path, name):
    """A column rewritten as string (same name, same sidecar) raises
    ValueError from the read itself — the returned frame would be lazy,
    so no row has been read when it does. The undrifted twin reads."""
    kind, _, col = KINDS[name]
    ok = f"file://{tmp_path}/ok"
    _write_synthetic(spark, kind, ok)
    assert read_artifact(spark, kind, ok).columns == list(kind.columns)

    drifted = f"file://{tmp_path}/drifted"
    _write_synthetic(spark, kind, drifted, string_col=col)
    drift = re.escape(f"drifted column types {{'{col}': 'string'}}")
    with pytest.raises(ValueError, match=drift):
        read_artifact(spark, kind, drifted)
