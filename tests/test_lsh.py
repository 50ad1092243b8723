"""The one banded-pair generator, checked family by family against the
plain ``distinct()`` reference (tests/lsh_reference.py): every near-dup
family's band expressions go through ``banded_pairs``, so each family's
candidate stream must be pair-unique, set-equal to the reference, and
unchanged by salting where the join is symmetric."""

from __future__ import annotations

import pytest
from lsh_reference import reference_pairs
from pyspark.sql import functions as F

from duckdb_parquet_parser_spark.operators import dedup, multimodal
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
