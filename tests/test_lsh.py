"""The one banded-pair generator, checked family by family against the
plain ``distinct()`` reference (tests/lsh_reference.py): every near-dup
family's band expressions go through ``banded_pairs``, so each family's
candidate stream must be pair-unique, set-equal to the reference, and
unchanged by salting where the join is symmetric. Also MinHash's verify
step: the size-ratio gate must never drop a pair the exact Jaccard check
could pass, and the plan must evaluate it before the array_intersect."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from lsh_reference import reference_pairs
from pyspark.sql import functions as F

from duckdb_parquet_parser_spark.catalog import TABLES
from duckdb_parquet_parser_spark.operators import dedup, multimodal
from duckdb_parquet_parser_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    _cached_signatures,
    _minhash_bands,
    _verify_jaccard_pairs,
    clear_simhash_memos,
    lsh_candidate_pairs_salted,
)
from duckdb_parquet_parser_spark.operators.lsh import banded_pairs
from duckdb_parquet_parser_spark.operators.multimodal_synth import (
    build_audio_sig_table,
    build_image_table,
    build_video_table,
)


def _minhash(spark, sf):
    sigs = dedup.minhash_signatures_from_arrays(dedup._doc_word_arrays(spark, sf))
    sigs = dedup._minhash_keyed(sigs).localCheckpoint(eager=True)
    return sigs, dedup._carried_minhash_bands, (), ["mh"], None


def _minhash_incremental(spark, sf):
    sigs, bands, keys, carry, _ = _minhash(spark, sf)
    return sigs, bands, keys, carry, dedup._is_new(F.col("doc_id"))


def _simhash(spark, sf):
    sigs = dedup._simhash_signatures(spark, sf)
    return sigs, dedup._simhash_halves, (), ["sim"], None


def _image(spark, sf):
    sig = (
        multimodal.extract_image_features(build_image_table(spark, sf))
        .filter(F.col("fmt") != "undecodable")
        .select("doc_id", "ahash")
        .localCheckpoint(eager=True)
    )
    return sig, multimodal._ahash_bands("ahash"), (), ["ahash"], None


def _audio(spark, sf):
    sig = (
        multimodal.extract_audio_fingerprints(build_audio_sig_table(spark, sf))
        .select("doc_id", "fingerprint")
        .localCheckpoint(eager=True)
    )
    return sig, multimodal._ahash_bands("fingerprint"), (), ["fingerprint"], None


def _video_frames(spark, sf):
    frames = (
        multimodal.extract_video_frame_hashes(build_video_table(spark, sf))
        .select("doc_id", "frame_idx", "ahash")
        .localCheckpoint(eager=True)
    )
    return frames, multimodal._ahash_bands("ahash"), ("frame_idx",), ["ahash"], None


FAMILIES = {
    "minhash": _minhash,
    "minhash_incremental": _minhash_incremental,
    "simhash": _simhash,
    "image": _image,
    "audio": _audio,
    "video_per_frame": _video_frames,
}


@pytest.mark.parametrize("family", list(FAMILIES))
def test_banded_pairs_matches_reference(spark, sf_smoke, family):
    sigs, bands, keys, carry, right = FAMILIES[family](spark, sf_smoke)
    cols = ["doc_a", "doc_b", *keys]

    def rows(df):
        return [tuple(r) for r in df.select(*cols).collect()]

    got = rows(banded_pairs(sigs, bands, keys=keys, carry=carry, right=right))
    assert got, family  # a non-trivial candidate set
    assert len(got) == len(set(got)), f"{family}: duplicate candidate rows"
    assert all(a < b for a, b, *_ in got), family
    assert set(got) == set(rows(reference_pairs(sigs, bands, keys, right)))
    if right is None:
        salted = rows(
            banded_pairs(
                sigs, bands, keys=keys, carry=carry, n_blocks=dedup.N_SALT_BLOCKS
            )
        )
        assert len(salted) == len(set(salted)), f"{family}: salted duplicates"
        assert set(salted) == set(got)
    # triangular salting needs a symmetric join
    with pytest.raises(ValueError, match="salting"):
        banded_pairs(
            sigs,
            bands,
            keys=keys,
            right=F.lit(True) if right is None else right,
            n_blocks=dedup.N_SALT_BLOCKS,
        )


def test_banded_pairs_carries_columns_oriented_with_the_pair(spark):
    """Carried columns follow their doc: ``<c>_a`` belongs to doc_a
    whichever join side produced it (salted blocks meet in both
    orientations)."""
    sigs = spark.createDataFrame(
        [(i, i % 3, i * 10) for i in range(40)], "doc_id long, key long, v long"
    )
    for n_blocks in (1, dedup.N_SALT_BLOCKS):
        out = banded_pairs(
            sigs, lambda col: [col("key")], carry=["v"], n_blocks=n_blocks
        )
        rows = out.collect()
        assert len(rows) == 14 * 13 // 2 + 2 * (13 * 12 // 2)  # one per pair
        for r in rows:
            assert (r.v_a, r.v_b) == (r.doc_a * 10, r.doc_b * 10)


SF_BASE = "/root/testdata/sf0.001"


def _docs_fixture(tmp_path, texts: dict[int, str]) -> str:
    """A minimal sf dir whose documents table holds exactly ``texts``."""
    sf_dir = tmp_path / "verify_gate"
    sf_dir.mkdir()
    for t in TABLES:
        src = os.path.join(SF_BASE, f"{t}.parquet")
        if t != "documents" and os.path.exists(src):
            os.symlink(src, sf_dir / f"{t}.parquet")
    ids = sorted(texts)
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([texts[i] for i in ids], pa.string()),
            "lang": pa.array(["en"] * len(ids)),
            "source": pa.array(["src0"] * len(ids)),
            "n_chars": pa.array([1] * len(ids), pa.int64()),
        }
    )
    pq.write_table(table, sf_dir / "documents.parquet")
    return str(sf_dir)


def test_size_gate_keeps_the_exact_threshold_boundary(spark, tmp_path):
    """jaccard == 0.95 EXACTLY (19-word subset of a 20-word set) sits on
    the worst rounding boundary for the size-ratio gate: a double-math
    gate at τ·max would drop it (0.95d·20 > 19), the margined gate must
    keep it and the verify must emit it. The sub-threshold sibling
    (18 ⊂ 20 → 0.9) must be dropped by gate and exact check alike."""
    words = [f"w{i}" for i in range(20)]
    sf_dir = _docs_fixture(
        tmp_path,
        {
            1: " ".join(words),        # 20 words
            2: " ".join(words[:19]),   # jaccard(1,2) = 19/20 = 0.95
            3: " ".join(words[:18]),   # jaccard(1,3) = 18/20 = 0.90
        },
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "doc_a long, doc_b long"
    )
    out = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in _verify_jaccard_pairs(spark, sf_dir, pairs).collect()
    }
    assert out == {(1, 2): 0.95}, out


def test_salted_candidates_are_pair_unique_without_distinct(spark, sf_smoke):
    """The first-shared-band gate replaces distinct(): the stream must
    already be one row per unordered pair, and the pair SET must equal
    the plain (distinct-based) generator's."""
    clear_simhash_memos()
    spark.catalog.clearCache()
    sigs = _cached_signatures(spark, sf_smoke)
    salted = lsh_candidate_pairs_salted(sigs)
    rows = salted.collect()
    pairs = [(r.doc_a, r.doc_b) for r in rows]
    assert len(pairs) == len(set(pairs)), "duplicate candidate rows"
    plain = {
        (r.doc_a, r.doc_b)
        for r in reference_pairs(sigs, _minhash_bands).collect()
    }
    assert set(pairs) == plain


def test_verify_plan_gates_intersect_behind_size_filter(spark, sf_smoke):
    """The combined predicate must test the size ratio BEFORE the
    array_intersect so the And short-circuits the expensive branch: in
    the physical plan's condition string, least/greatest appear to the
    LEFT of array_intersect."""
    clear_simhash_memos()
    spark.catalog.clearCache()
    sigs = _cached_signatures(spark, sf_smoke)
    pairs = lsh_candidate_pairs_salted(sigs)
    df = _verify_jaccard_pairs(spark, sf_smoke, pairs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = [
        ln
        for ln in plan.splitlines()
        if "array_intersect" in ln and ("least" in ln or "greatest" in ln)
    ]
    assert lines, "no combined size+jaccard predicate found:\n" + plan
    for ln in lines:
        assert ln.index("least") < ln.index("array_intersect"), ln
    # threshold margin sanity: the gate constant sits just under τ
    assert 0 < JACCARD_THRESHOLD - (JACCARD_THRESHOLD - 1e-4) < 1e-3


def test_media_banded_pairs_unique_without_distinct(spark, sf_smoke):
    """The media banding engine's first-shared-band gate replaces its
    distinct(): the (doc_a, doc_b) stream must already be one row per
    pair (the brute-force set-equality lives in
    tests/test_multimodal_decode.py — this pins the uniqueness half a
    set comparison cannot see)."""
    from duckdb_parquet_parser_spark.operators.multimodal import (
        audio_neardup_pairs,
        image_neardup_pairs,
    )
    from duckdb_parquet_parser_spark.operators.multimodal_synth import (
        build_audio_sig_table,
        build_image_table,
    )

    for tag, pairs in (
        ("image", image_neardup_pairs(build_image_table(spark, sf_smoke))),
        (
            "audio",
            audio_neardup_pairs(build_audio_sig_table(spark, sf_smoke)),
        ),
    ):
        rows = [(r.doc_a, r.doc_b) for r in pairs.collect()]
        assert rows, tag  # non-trivial graph
        assert len(rows) == len(set(rows)), (tag, "duplicate pair rows")
