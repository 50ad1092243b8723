"""Deployment-selectable checkpoint durability (VERDICT r4 #3).

The engine's lineage-cutting plans (connected components, the positional
prefix sum) default to ``localCheckpoint`` — correct and cheap on
``local[N]``, but executor-local blocks die with the executor on a real
cluster. ``spark.graft.checkpointDir`` flips every such site to a reliable
``checkpoint()`` into a durable directory. These tests prove (a) the
reliable path is actually taken (files appear under the dir), and (b) the
results are identical either way.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from duckdb_parquet_parser_spark.catalog import load_table
from duckdb_parquet_parser_spark.operators.dedup import connected_components_converged
from duckdb_parquet_parser_spark.operators.positional import (
    file_order_positions,
)
from duckdb_parquet_parser_spark.session import CHECKPOINT_DIR_CONF, checkpoint_df


@pytest.fixture()
def reliable_dir(spark):
    d = tempfile.mkdtemp(prefix="sg_ckpt_")
    spark.conf.set(CHECKPOINT_DIR_CONF, d)
    try:
        yield d
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)
        shutil.rmtree(d, ignore_errors=True)


def test_checkpoint_df_writes_reliable_files(spark, reliable_dir):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = checkpoint_df(df, eager=True)
    assert out.count() == 100
    # a reliable checkpoint persists RDD blocks under the configured dir
    written = glob.glob(os.path.join(reliable_dir, "**", "rdd-*"), recursive=True)
    assert written, f"no reliable checkpoint files under {reliable_dir}"


def test_checkpoint_df_defaults_to_local(spark, tmp_path):
    # conf unset → localCheckpoint: nothing is written anywhere on disk we
    # control, and the result is still materialized and correct
    df = spark.range(50).withColumn("v", F.col("id") + 1)
    out = checkpoint_df(df, eager=True)
    assert out.agg(F.sum("v")).collect()[0][0] == 50 * 51 // 2


@pytest.mark.parametrize("probe_every", [1, 2, 4])
def test_connected_components_identical_on_reliable_path(
    spark, reliable_dir, probe_every
):
    """Reliable checkpoints report the stop rule's observed row and
    changed-label counts exactly as local ones do: every block size
    (each stop-rule exit) returns the same labels."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20), (4, 3)], ["doc_a", "doc_b"]
    )
    comp, _rounds = connected_components_converged(edges, probe_every=probe_every)
    got = {(r["doc"], r["component"]) for r in comp.collect()}
    assert got == {
        (1, 1),
        (2, 1),
        (3, 1),
        (4, 1),
        (10, 10),
        (11, 10),
        (20, 20),
    }


def test_connected_components_refuses_lazy_label_checkpoint(spark, monkeypatch):
    """A lazy checkpoint never runs the label frame's observation, which
    then reads zero rows and zero changed labels. The converged engine
    must raise instead of reading that as "nothing changed, converged"."""
    from duckdb_parquet_parser_spark import session

    eager_checkpoint = session.checkpoint_df
    monkeypatch.setattr(
        session, "checkpoint_df", lambda df, eager=True: eager_checkpoint(df, eager=False)
    )
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="materialize eagerly"):
        connected_components_converged(edges)


def test_positional_identical_on_reliable_path(spark, reliable_dir, sf_smoke):
    df = load_table(spark, sf_smoke, "documents").select("doc_id")
    pos = file_order_positions(df).orderBy("pos").collect()
    # fixture file order is doc_id order, so positions are 0..n-1 in step
    assert [r["pos"] for r in pos] == list(range(len(pos)))
    assert [r["doc_id"] for r in pos] == sorted(r["doc_id"] for r in pos)


def _cached_rdd_ids(spark) -> set[int]:
    return {
        info.id()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if info.numCachedPartitions() > 0
    }


def test_checkpoint_df_tags_persisted_rdd_and_unpersist_frees(spark):
    """ADVICE r8: ``df._jdf.rdd()`` builds a NEW derived RDD per call, so
    unpersisting it never freed the localCheckpoint blocks. checkpoint_df
    now tags the PERSISTED handle; unpersisting that handle must actually
    drop the cached partitions from the block manager."""
    before = _cached_rdd_ids(spark)
    df = spark.range(10_000).withColumn("v", F.col("id") * 3)
    out = checkpoint_df(df, eager=True)
    rdd = getattr(out, "_graft_ckpt_rdd", None)
    assert rdd is not None, "checkpoint_df did not tag the persisted RDD"
    new_ids = _cached_rdd_ids(spark) - before
    assert new_ids, "localCheckpoint left no cached partitions to free"
    rdd.unpersist(False)
    assert not (_cached_rdd_ids(spark) & new_ids), (
        "unpersisting the tagged handle did not free the checkpointed blocks"
    )


def test_memo_key_evicts_stale_same_app_entries(spark, sf_smoke, sf_correct):
    """ADVICE r8: a same-session memo entry whose documents fingerprint went
    stale (same path, different fingerprint) must be evicted — and its
    blocks freed — on the next lookup for that path; entries for OTHER
    paths and live entries for this path must survive."""
    from duckdb_parquet_parser_spark.fsmeta import docs_fingerprint
    from duckdb_parquet_parser_spark.operators import dedup

    app = spark.sparkContext.applicationId
    path = os.path.abspath(sf_smoke)
    other_path = os.path.abspath(sf_correct)
    live_fp = docs_fingerprint(sf_smoke)
    other_fp = docs_fingerprint(sf_correct)

    before = _cached_rdd_ids(spark)
    stale = checkpoint_df(spark.range(10).withColumn("v", F.col("id")), eager=True)
    stale_rdd_ids = _cached_rdd_ids(spark) - before
    live = spark.range(5)
    other = spark.range(7)
    dedup._SIMHASH_BANDS_MEMO.clear()
    dedup._SIMHASH_PAIRS_MEMO.clear()
    try:
        dedup._SIMHASH_BANDS_MEMO[(app, path, "stale-fingerprint")] = stale
        dedup._SIMHASH_BANDS_MEMO[(app, path, live_fp)] = live
        dedup._SIMHASH_BANDS_MEMO[(app, other_path, other_fp)] = other
        dedup._SIMHASH_PAIRS_MEMO[("dead-app", path, live_fp)] = other

        key = dedup._memo_key(spark, sf_smoke)
        assert key == (app, path, live_fp)
        assert (app, path, "stale-fingerprint") not in dedup._SIMHASH_BANDS_MEMO
        assert (app, path, live_fp) in dedup._SIMHASH_BANDS_MEMO
        assert (app, other_path, other_fp) in dedup._SIMHASH_BANDS_MEMO
        assert ("dead-app", path, live_fp) not in dedup._SIMHASH_PAIRS_MEMO
        # the stale entry's checkpointed blocks were promptly freed
        stale_tag = getattr(stale, "_graft_ckpt_rdd", None)
        assert stale_tag is not None
        assert stale_rdd_ids, "stale frame left no cached partitions to free"
        assert not (_cached_rdd_ids(spark) & stale_rdd_ids), (
            "eviction did not free the stale entry's checkpointed blocks"
        )
    finally:
        dedup._SIMHASH_BANDS_MEMO.clear()
        dedup._SIMHASH_PAIRS_MEMO.clear()
