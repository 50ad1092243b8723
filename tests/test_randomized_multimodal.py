"""Differential testing of the multimodal decode queries on RANDOMIZED
doc_id populations. The ns_mm_* queries build their synthetic media as a
closed form over doc_id alone (operators/multimodal_synth.py), so the
shipped fixtures' contiguous 0..N-1 ids exercise every (class, variant,
poison) boundary in the same order every time. A random, sparse,
shuffled id population instead randomizes: which image classes collide,
how variants pair up inside a class, where the 17/13/11 poison residues
land, video class × generation × frame-count mixes, and the near-dup
joins' candidate structure. Every query↔oracle pair must stay
hash-identical on ANY id set — a divergence is a closed-form drift
between the Python builders and the SQL oracles, exactly the bug class
the certified queries rely on not existing.

Scaffold identical to test_randomized_docs.py: symlink a real sf dir,
swap in a generated documents.parquet (only doc_id matters here; text
columns are minimal), run the unchanged run_all machinery.
"""

from __future__ import annotations

import os
import random

import pytest

from duckdb_parquet_parser_spark.catalog import TABLES
from duckdb_parquet_parser_spark.testing import run_all

SF_BASE = "/root/testdata/sf0.001"

MM_QUERIES = [
    "ns_mm_ingest",
    "ns_mm_image_features",
    "ns_mm_image_neardup",
    "ns_mm_audio_features",
    "ns_mm_audio_fingerprint",
    "ns_mm_audio_neardup",
    "ns_mm_video_framehashes",
    "ns_mm_video_neardup",
    # round 11: the landing leg and the cluster-resolution compositions —
    # same closed forms, so the same randomized populations apply
    "ns_mm_ingest_parquet",
    "ns_mm_image_dedup_cluster",
    "ns_mm_audio_dedup_cluster",
    "ns_mm_video_dedup_cluster",
    # round 13: the PNG codec-seam query — same closed form over doc_id,
    # so random populations exercise the zlib/defilter decode + both
    # poison species on unplanned doc_id sets
    "ns_mm_png_features",
]


def _make_fixture(tmp_path, seed: int) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    sf_dir = tmp_path / f"randmm{seed}"
    sf_dir.mkdir()
    for t in TABLES:
        src = os.path.join(SF_BASE, f"{t}.parquet")
        if t != "documents" and os.path.exists(src):
            os.symlink(src, sf_dir / f"{t}.parquet")
    # Sparse random id population: spans many image classes (mod 254),
    # all three variants (// 254 % 3 needs ids past 762), video
    # generations (// 64 % 2) and poison residues — plus a dense cluster
    # so same-class near-dup pairs actually occur.
    n = rng.randrange(80, 160)
    ids = set(rng.sample(range(0, 3000), n))
    dense_lo = rng.randrange(0, 400)
    ids.update(range(dense_lo, dense_lo + 40))  # consecutive: class collisions
    ids.update((0, 254, 508, 762))  # same class, all three variants + poison
    doc_ids = sorted(ids)
    table = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(["t"] * len(doc_ids), pa.string()),
            "lang": pa.array(["en"] * len(doc_ids)),
            "source": pa.array(["src0"] * len(doc_ids)),
            "n_chars": pa.array([1] * len(doc_ids), pa.int64()),
        }
    )
    pq.write_table(table, sf_dir / "documents.parquet")
    return str(sf_dir)


@pytest.mark.parametrize("seed", [11, 22, 33])
def test_multimodal_queries_match_oracles_on_random_fixtures(
    spark, tmp_path, seed
):
    sf_dir = _make_fixture(tmp_path, seed)
    results = run_all(spark, sf_dir, only=MM_QUERIES)
    bad = [r for r in results if not r.ok]
    assert not bad, bad
    assert len(results) == len(MM_QUERIES)


@pytest.mark.parametrize("seed", [11, 47, 83])
def test_clique_graphs_stationary_at_round_one_on_random_fixtures(
    spark, tmp_path, monkeypatch, seed
):
    """The media cluster queries run image/audio CC in
    ``MEDIA_CLIQUE_CC_ROUNDS = 2``-round blocks on a structural proof:
    every image/audio component is a clique (same-class variants pair
    pairwise, XOR flips ≤ 3 bits), so min-label propagation is
    stationary after ONE round and the block's second round changes
    nothing. The video leg of an earlier round-budget cut was caught by a
    RANDOMIZED population (seed 11), not the fixtures; this pins the
    image/audio proof with the same net: on random sparse/shuffled id
    sets one 2-round block must reach the fixpoint, its second round
    changing nothing (so no edge probe runs). If a generator change ever
    breaks the clique structure, this fails loudly."""
    from duckdb_parquet_parser_spark.operators import dedup
    from duckdb_parquet_parser_spark.operators.multimodal import (
        audio_neardup_pairs,
        image_neardup_pairs,
    )
    from duckdb_parquet_parser_spark.operators.multimodal_dedup import (
        MEDIA_CLIQUE_CC_ROUNDS,
    )
    from duckdb_parquet_parser_spark.operators.multimodal_synth import (
        build_audio_sig_table,
        build_image_table,
    )

    def no_probe(ed, labels):
        raise AssertionError("a clique block's second round changed labels")

    monkeypatch.setattr(dedup, "_disagreeing_edges", no_probe)
    sf_dir = _make_fixture(tmp_path, seed)
    graphs = {
        "image": image_neardup_pairs(build_image_table(spark, sf_dir)),
        "audio": audio_neardup_pairs(build_audio_sig_table(spark, sf_dir)),
    }
    for modality, pairs in graphs.items():
        edges = pairs.select("doc_a", "doc_b").localCheckpoint(eager=True)
        assert edges.count() > 0, (modality, seed)  # graph non-trivial
        _comp, rounds = dedup.connected_components_converged(
            edges, probe_every=MEDIA_CLIQUE_CC_ROUNDS
        )
        assert rounds == MEDIA_CLIQUE_CC_ROUNDS, (modality, seed, rounds)
