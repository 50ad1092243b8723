"""The video frame-hash artifact (multimodal_synth.VIDEO_FRAMES): write →
validated read must round-trip the decode output exactly, reuse without
rewrite, and reject version/stride mismatches before any data."""

from __future__ import annotations

import json

import pytest

from duckdb_parquet_parser_spark.cache import (
    ARTIFACT_ROOT_ENV,
    _artifact_meta_path,
    _fs_move_text_into_place,
    ensure_artifact,
    read_artifact,
    write_artifact,
)
from duckdb_parquet_parser_spark.operators.multimodal import (
    VIDEO_FRAME_STRIDE,
    extract_video_frame_hashes,
)
from duckdb_parquet_parser_spark.operators.multimodal_synth import (
    VIDEO_FRAMES,
    build_video_table,
)


def test_frames_artifact_roundtrip_and_contract(spark, sf_smoke, tmp_path):
    uri = f"file://{tmp_path}/vframes"
    write_artifact(spark, VIDEO_FRAMES, sf_smoke, uri)
    got = {
        (r["doc_id"], r["frame_idx"], r["ahash"])
        for r in read_artifact(spark, VIDEO_FRAMES, uri).collect()
    }
    want = {
        (r["doc_id"], r["frame_idx"], r["ahash"])
        for r in extract_video_frame_hashes(
            build_video_table(spark, sf_smoke)
        ).collect()
    }
    assert got == want and want

    # stride mismatch → loud rejection before data (sidecars rewritten
    # through the Hadoop path so the LocalFileSystem .crc stays consistent)
    def tamper(**changes):
        _fs_move_text_into_place(
            spark,
            _artifact_meta_path(uri),
            json.dumps({**VIDEO_FRAMES.params, **changes}),
        )

    tamper(stride=VIDEO_FRAME_STRIDE + 1)
    with pytest.raises(ValueError, match="stride"):
        read_artifact(spark, VIDEO_FRAMES, uri)

    # version bump → loud rejection
    tamper(frames_version=999)
    with pytest.raises(ValueError, match="version"):
        read_artifact(spark, VIDEO_FRAMES, uri)


def test_ensure_writes_once_then_reuses(spark, sf_smoke, tmp_path, monkeypatch):
    """ensure_artifact: first call writes (no sidecar yet), second call
    reuses the SAME files — the droprate/incremental-persisted ensure
    convention applied to media."""
    import glob
    import os

    monkeypatch.setenv(ARTIFACT_ROOT_ENV, str(tmp_path))
    got1 = ensure_artifact(spark, VIDEO_FRAMES, sf_smoke).collect()
    pattern = os.path.join(tmp_path, VIDEO_FRAMES.prefix, "*", "*.parquet")
    files1 = sorted(glob.glob(pattern))
    got2 = ensure_artifact(spark, VIDEO_FRAMES, sf_smoke).collect()
    files2 = sorted(glob.glob(pattern))
    assert files1 and files1 == files2
    assert sorted(map(tuple, got1)) == sorted(map(tuple, got2))


def test_neardup_via_artifact_matches_live_decode(spark, sf_smoke, tmp_path, monkeypatch):
    """The r17 swap's equivalence claim, Spark-vs-Spark: the registered
    video near-dup and dedup-cluster queries (artifact-fed) reproduce the
    live-decode pipeline exactly. The driver hash match re-proves this
    against the closed-form oracle; this pins it against the PREVIOUS
    certified plan as well."""
    from duckdb_parquet_parser_spark.operators.multimodal import (
        video_neardup_pairs,
    )
    from duckdb_parquet_parser_spark.operators.multimodal_dedup import (
        q_ns_mm_video_dedup_cluster,
    )
    from duckdb_parquet_parser_spark.operators.multimodal_synth import (
        q_ns_mm_video_neardup,
    )

    monkeypatch.setenv(ARTIFACT_ROOT_ENV, str(tmp_path))
    live = video_neardup_pairs(build_video_table(spark, sf_smoke)).collect()
    via_artifact = q_ns_mm_video_neardup(spark, sf_smoke).collect()
    assert sorted(map(tuple, via_artifact)) == sorted(map(tuple, live))
    assert live  # non-vacuous: the fixture has near-dup pairs

    clusters = q_ns_mm_video_dedup_cluster(spark, sf_smoke).collect()
    assert clusters
    docs = {r["doc_id"] for r in clusters}
    paired = {r["doc_a"] for r in live} | {r["doc_b"] for r in live}
    assert docs == paired
