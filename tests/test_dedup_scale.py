"""Skew-salted LSH candidate generation: exact set-equality with the
plain bucket join, and block-level balance of the salted key space."""

from __future__ import annotations

import pytest
from cc_reference import reference_stop, union_find_labels
from lsh_reference import reference_pairs
from pyspark.sql import functions as F

from duckdb_parquet_parser_spark.operators.dedup import (
    N_SALT_BLOCKS,
    _doc_word_arrays,
    _minhash_bands,
    lsh_candidate_pairs_salted,
    minhash_signatures_from_arrays,
)


def test_salted_pairs_equal_plain_pairs(spark, sf_smoke):
    sigs = minhash_signatures_from_arrays(_doc_word_arrays(spark, sf_smoke))
    plain = reference_pairs(sigs, _minhash_bands)
    salted = lsh_candidate_pairs_salted(sigs)
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_salting_splits_hot_bucket_keys(spark, sf_smoke):
    """The join key space of the salted plan carries n_blocks distinct
    target blocks, so a hot bucket's pairs spread over ~n_blocks reducers
    instead of one."""
    sigs = minhash_signatures_from_arrays(_doc_word_arrays(spark, sf_smoke))
    bands_cols = [f"h{i}" for i in range(4)]
    banded = sigs.select(
        "doc_id", F.md5(F.concat_ws("|", *bands_cols)).alias("band_hash")
    ).withColumn("block", F.pmod(F.xxhash64("doc_id"), F.lit(N_SALT_BLOCKS)))
    hot = (
        banded.groupBy("band_hash")
        .count()
        .orderBy(F.desc("count"))
        .first()["band_hash"]
    )
    blocks = (
        banded.filter(F.col("band_hash") == hot)
        .select("block")
        .distinct()
        .count()
    )
    assert blocks > 1  # the hot bucket's rows span multiple salt blocks


def test_incremental_dedup_equals_full_pairs_touching_batch(spark, sf_smoke):
    """Incremental (batch-vs-corpus) dedup must find EXACTLY the verified
    pairs of the full self-join that touch at least one new-batch doc —
    no corpus-corpus pair ever, none of the batch's pairs missed."""
    from duckdb_parquet_parser_spark.operators.dedup import (
        INCR_MOD,
        INCR_REM,
        _cached_signatures,
        _verify_jaccard_pairs,
        q_ns_dedup_incremental,
    )

    incr = q_ns_dedup_incremental(spark, sf_smoke).select("doc_a", "doc_b")
    full = _verify_jaccard_pairs(
        spark,
        sf_smoke,
        reference_pairs(_cached_signatures(spark, sf_smoke), _minhash_bands),
    ).select("doc_a", "doc_b")
    is_new = lambda c: F.col(c) % INCR_MOD == INCR_REM  # noqa: E731
    touching = full.filter(is_new("doc_a") | is_new("doc_b"))
    assert incr.exceptAll(touching).count() == 0
    assert touching.exceptAll(incr).count() == 0
    assert incr.filter(~is_new("doc_a") & ~is_new("doc_b")).count() == 0


def test_incremental_dedup_plan_never_self_joins_corpus(spark, sf_smoke):
    """The candidate join's right side must carry the new-batch filter
    BELOW the join (corpus×corpus pairs structurally impossible), and the
    plan stays equi-join only — no cartesian, no nested loop."""
    from duckdb_parquet_parser_spark.operators.dedup import (
        q_ns_dedup_incremental,
    )

    plan = (
        q_ns_dedup_incremental(spark, sf_smoke)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the batch filter (doc_id % 10) = 7 is applied as a filter on one
    # join input, not as a post-join condition
    assert "% 10) = 7" in plan, plan[:2000]


def test_persisted_incremental_scans_the_artifact_once(spark, sf_smoke):
    """The band join's right side is the new batch alone: the batch
    predicate must fold away on the corpus branch of the signature
    union, not push a filter into a second scan of the corpus
    artifact."""
    from duckdb_parquet_parser_spark.operators.dedup import (
        q_ns_dedup_incremental_persisted,
    )

    plan = (
        q_ns_dedup_incremental_persisted(spark, sf_smoke)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # the artifact is the only parquet relation with signature columns
    scans = [ln for ln in plan.splitlines() if "Relation [" in ln and ",h15#" in ln]
    assert len(scans) == 1, plan


def test_cluster_canonical_keeps_best_quality_member(spark, sf_smoke):
    """Independent recomputation: for every CC cluster the canonical row
    must name the member maximizing (logit_micro, -doc_id), report the
    exact member count, and appear exactly once."""
    from duckdb_parquet_parser_spark.operators.dedup import (
        q_ns_dedup_cluster_canonical,
        q_ns_dedup_components,
    )
    from duckdb_parquet_parser_spark.operators.ngram_stats import (
        q_ns_quality_logit,
    )

    logit = {
        r["doc_id"]: r["logit_micro"]
        for r in q_ns_quality_logit(spark, sf_smoke).collect()
    }
    members: dict[int, list[int]] = {}
    for r in q_ns_dedup_components(spark, sf_smoke).collect():
        members.setdefault(r["component"], []).append(r["doc_id"])

    rows = q_ns_dedup_cluster_canonical(spark, sf_smoke).collect()
    assert len(rows) == len(members)  # one row per cluster
    for r in rows:
        docs = members[r["component"]]
        best = min(docs, key=lambda d: (-logit[d], d))
        assert r["canonical_doc"] == best
        assert r["canonical_logit"] == logit[best]
        assert r["cluster_size"] == len(docs)
        assert r["n_dropped"] == len(docs) - 1


def test_connected_components_rounds_reach_fixpoint(spark, sf_smoke):
    """Convergence bound: the SimHash near-dup graph reaches its fixpoint
    within ONE ``CC_ROUNDS``-round block, at the smoke fixture and at
    the bench SF. The components oracle unrolls exactly ``CC_ROUNDS``
    rounds, so this pins the oracle's validity on the fixtures;
    it is also the one-block job budget tests/test_plans.py states."""
    import os

    from duckdb_parquet_parser_spark.operators.dedup import (
        CC_ROUNDS,
        connected_components_converged,
        q_ns_dedup_simhash_pairs,
    )

    for sf_dir in (sf_smoke, os.path.join(os.path.dirname(sf_smoke), "sf0.1")):
        if not os.path.isdir(sf_dir):
            continue
        pairs = (
            q_ns_dedup_simhash_pairs(spark, sf_dir)
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        )
        conv, rounds_done = connected_components_converged(
            pairs, probe_every=CC_ROUNDS, edges_materialized=True
        )
        assert rounds_done == CC_ROUNDS, (sf_dir, rounds_done)
        # every node keeps a label ≤ its own id
        assert conv.filter(F.col("component") > F.col("doc")).count() == 0
        if sf_dir == sf_smoke:
            edges = [(r.doc_a, r.doc_b) for r in pairs.collect()]
            got = {r.doc: r.component for r in conv.collect()}
            assert got == union_find_labels(edges)


@pytest.mark.parametrize("probe_every", [1, 2, 4])
def test_connected_components_matches_union_find_on_adversarial_graphs(
    spark, monkeypatch, probe_every
):
    """The converged CC must agree with an exact union-find on graph
    shapes the fixtures DON'T produce — a long path (worst case for label
    propagation: diameter = n-1), bridged cliques, and a seeded random
    sparse graph — and stop at exactly the round and with exactly the
    edge probes the pure-Python schedule predicts. Across the three
    block sizes every exit of the stop rule is taken: a last round that
    changed nothing (no probe), a zero probe after a last round that
    changed labels, and a non-zero probe that runs one more block."""
    import random

    from duckdb_parquet_parser_spark.operators import dedup

    probes = []
    real_probe = dedup._disagreeing_edges

    def counting_probe(ed, labels):
        probes.append(1)
        return real_probe(ed, labels)

    monkeypatch.setattr(dedup, "_disagreeing_edges", counting_probe)
    rng = random.Random(7)
    cases = {
        "path": [(i, i + 1) for i in range(40)],
        "bridged_cliques": (
            [(a, b) for a in range(8) for b in range(a + 1, 8)]
            + [(a, b) for a in range(20, 28) for b in range(a + 1, 28)]
            + [(7, 20)]
            + [(100, 101)]
        ),
        "random_sparse": [
            (rng.randrange(60), rng.randrange(60)) for _ in range(45)
        ],
    }
    for name, edges in cases.items():
        edges = [(a, b) for a, b in edges if a != b]
        want_rounds, want_probes = reference_stop(edges, probe_every)
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        probes.clear()
        comp, rounds_done = dedup.connected_components_converged(
            df, probe_every=probe_every
        )
        got = {r["doc"]: r["component"] for r in comp.collect()}
        assert got == union_find_labels(edges), name
        assert (rounds_done, len(probes)) == (want_rounds, want_probes), name


def test_persisted_incremental_matches_in_session_variant(spark, sf_smoke):
    """The two-snapshot variant — corpus signatures reopened from the
    persisted parquet artifact — must return row-for-row the same verified
    pairs as the in-session emulation, and a second run must REUSE the
    artifact (the sidecar is not rewritten) rather than re-hashing the
    corpus."""
    import os

    from duckdb_parquet_parser_spark.cache import ARTIFACT_META, artifact_entry_path
    from duckdb_parquet_parser_spark.operators.dedup import (
        SIGNATURES,
        q_ns_dedup_incremental,
        q_ns_dedup_incremental_persisted,
    )

    import shutil

    path = artifact_entry_path(SIGNATURES.prefix, sf_smoke)
    shutil.rmtree(path, ignore_errors=True)  # force the run-1 write

    persisted = q_ns_dedup_incremental_persisted(spark, sf_smoke)
    in_session = q_ns_dedup_incremental(spark, sf_smoke)
    assert persisted.exceptAll(in_session).count() == 0
    assert in_session.exceptAll(persisted).count() == 0

    meta_path = os.path.join(path, ARTIFACT_META)
    assert os.path.exists(meta_path)
    mtime = os.path.getmtime(meta_path)
    again = q_ns_dedup_incremental_persisted(spark, sf_smoke)
    assert again.count() == persisted.count()
    assert os.path.getmtime(meta_path) == mtime, "artifact was rewritten on reuse"


def test_signature_artifact_read_path_validates_contract(spark, sf_smoke, tmp_path):
    """The artifact reader must reject (a) a missing sidecar, (b) a format-
    version mismatch, (c) a hash-count mismatch, and (d) missing signature
    columns — each BEFORE joining any data."""
    import json
    import os

    import pytest

    from duckdb_parquet_parser_spark.cache import ARTIFACT_META, read_artifact
    from duckdb_parquet_parser_spark.operators.dedup import (
        N_HASHES,
        SIGNATURES,
        write_signature_artifact,
    )

    path = str(tmp_path / "sig_artifact")
    write_signature_artifact(spark, sf_smoke, path)

    # happy path: full signature schema comes back
    df = read_artifact(spark, SIGNATURES, path)
    assert df.columns == ["doc_id"] + [f"h{i}" for i in range(N_HASHES)]
    assert df.count() > 0
    # the artifact holds ONLY corpus docs — the batch slice is never persisted
    from duckdb_parquet_parser_spark.operators.dedup import INCR_MOD, INCR_REM

    assert df.filter(F.col("doc_id") % INCR_MOD == INCR_REM).count() == 0

    # Tampering writes go through the same Hadoop FS helper the artifact
    # uses — a plain open() rewrite would leave the FS checksum sidecar
    # (.crc) stale and turn every case below into an IOError instead of
    # the contract's ValueError.
    from duckdb_parquet_parser_spark.sources.layout import _fs_write_text

    meta_path = os.path.join(path, ARTIFACT_META)
    meta = json.load(open(meta_path))

    # (b) version mismatch
    bumped = SIGNATURES.params["sig_version"] + 1
    _fs_write_text(spark, meta_path, json.dumps({**meta, "sig_version": bumped}))
    with pytest.raises(ValueError, match="version"):
        read_artifact(spark, SIGNATURES, path)

    # (c) hash-count mismatch
    _fs_write_text(
        spark, meta_path, json.dumps({**meta, "n_hashes": N_HASHES * 2})
    )
    with pytest.raises(ValueError, match="hashes"):
        read_artifact(spark, SIGNATURES, path)

    # (a) missing sidecar
    os.remove(meta_path)
    with pytest.raises(ValueError, match="no _sig_meta"):
        read_artifact(spark, SIGNATURES, path)

    # (d) missing signature column
    _fs_write_text(spark, meta_path, json.dumps(meta))
    narrow = str(tmp_path / "sig_artifact_narrow")
    spark.read.parquet(path).drop("h3").write.parquet(narrow)
    _fs_write_text(
        spark, os.path.join(narrow, ARTIFACT_META), json.dumps(meta)
    )
    with pytest.raises(ValueError, match="missing columns"):
        read_artifact(spark, SIGNATURES, narrow)


def test_append_signatures_grows_artifact_without_rewrite(spark, sf_smoke, tmp_path):
    """Run-N+1's closing step: appending the deduped batch's signatures
    must (a) add exactly the batch rows through new part-files (existing
    files untouched), (b) bump the sidecar snapshot counter, (c) leave the
    reopened artifact equal to corpus ∪ batch signatures, and (d) refuse
    to append into an artifact whose contract doesn't validate."""
    import glob
    import json
    import os

    from duckdb_parquet_parser_spark.cache import ARTIFACT_META, read_artifact
    from duckdb_parquet_parser_spark.operators.dedup import (
        INCR_MOD,
        INCR_REM,
        SIGNATURES,
        _doc_word_arrays,
        append_signatures,
        write_signature_artifact,
    )

    path = str(tmp_path / "grow_artifact")
    write_signature_artifact(spark, sf_smoke, path)
    before = read_artifact(spark, SIGNATURES, path)
    n_corpus = before.count()
    first_files = {
        f: os.path.getmtime(f) for f in glob.glob(os.path.join(path, "*.parquet"))
    }

    batch = _doc_word_arrays(spark, sf_smoke).filter(
        F.col("doc_id") % INCR_MOD == INCR_REM
    )
    n_batch = batch.count()
    append_signatures(spark, batch, path)

    after = read_artifact(spark, SIGNATURES, path)
    assert after.count() == n_corpus + n_batch
    assert after.select("doc_id").distinct().count() == n_corpus + n_batch
    # original part-files are untouched (append added new ones)
    for f, mtime in first_files.items():
        assert os.path.getmtime(f) == mtime, f"append rewrote {f}"
    meta = json.load(open(os.path.join(path, ARTIFACT_META)))
    assert meta["snapshots"] == 2

    # contract gate: a version-bumped sidecar blocks the append (written
    # through the FS helper so the checksum sidecar stays consistent)
    from duckdb_parquet_parser_spark.sources.layout import _fs_write_text

    meta["sig_version"] = meta.get("sig_version", 1) + 1
    _fs_write_text(
        spark, os.path.join(path, ARTIFACT_META), json.dumps(meta)
    )
    import pytest

    with pytest.raises(ValueError, match="version"):
        append_signatures(spark, batch, path)


def test_signature_artifact_roundtrip_over_file_uri(spark, sf_smoke, tmp_path):
    """The artifact must work against any scheme Spark reaches (VERDICT r9
    #5) — write, validated read, append and the atomic sidecar bump all
    through a scheme-qualified ``file:`` URI, the same probe
    test_layout.py uses for the maintenance paths."""
    import json

    from duckdb_parquet_parser_spark.cache import ARTIFACT_META, read_artifact
    from duckdb_parquet_parser_spark.operators.dedup import (
        INCR_MOD,
        INCR_REM,
        SIGNATURES,
        _doc_word_arrays,
        append_signatures,
        write_signature_artifact,
    )
    from duckdb_parquet_parser_spark.sources.layout import _fs_read_text

    uri = f"file://{tmp_path}/sig_artifact_uri"
    write_signature_artifact(spark, sf_smoke, uri)
    corpus = read_artifact(spark, SIGNATURES, uri)
    n_corpus = corpus.count()
    assert n_corpus > 0

    batch = _doc_word_arrays(spark, sf_smoke).filter(
        F.col("doc_id") % INCR_MOD == INCR_REM
    )
    append_signatures(spark, batch, uri)
    assert read_artifact(spark, SIGNATURES, uri).count() == n_corpus + batch.count()
    meta = json.loads(_fs_read_text(spark, f"{uri}/{ARTIFACT_META}"))
    assert meta["snapshots"] == 2
    # the rename left no temp debris behind
    assert _fs_read_text(spark, f"{uri}/{ARTIFACT_META}.tmp") is None


def test_incremental_artifact_dir_is_per_user_and_pruned(sf_smoke):
    """ADVICE r9: artifacts live under a per-user 0o700 cache dir (not a
    world-shared predictable /tmp name), and a stale fingerprint of the
    SAME source path is pruned when the current path is resolved."""
    import os
    import stat

    from duckdb_parquet_parser_spark.cache import artifact_entry_path
    from duckdb_parquet_parser_spark.operators.dedup import SIGNATURES

    path = artifact_entry_path(SIGNATURES.prefix, sf_smoke)
    base = os.path.dirname(path)
    assert os.path.basename(base) == f"sg_sig_{os.getuid()}"
    assert stat.S_IMODE(os.stat(base).st_mode) == 0o700

    # plant a stale sibling: same path tag, different fingerprint tag
    path_tag = os.path.basename(path).split("_")[0]
    stale = os.path.join(base, f"{path_tag}_deadbeefdead")
    os.makedirs(stale, exist_ok=True)
    other = os.path.join(base, "cafecafecafe_deadbeefdead")
    os.makedirs(other, exist_ok=True)
    try:
        again = artifact_entry_path(SIGNATURES.prefix, sf_smoke)
        assert again == path
        assert not os.path.exists(stale), "stale same-path artifact not pruned"
        assert os.path.exists(other), "different-path artifact must survive"
    finally:
        import shutil

        shutil.rmtree(other, ignore_errors=True)


def test_artifact_root_override_end_to_end(spark, sf_smoke, tmp_path, monkeypatch):
    """REVIEW_r16 #6 closed end-to-end: with SPARK_GRAFT_ARTIFACT_ROOT set
    to a scheme-qualified URI, the persisted-incremental query writes its
    signature artifact under the operator-chosen root (through the same
    Hadoop-FS read/write paths the file:-URI round-trip test exercises),
    matches the in-session variant row for row, REUSES the artifact on a
    second run, and the Hadoop-FS prune reaps a stale fingerprint of the
    same source planted under the root."""
    import json
    import os

    from duckdb_parquet_parser_spark.cache import (
        ARTIFACT_META,
        ARTIFACT_ROOT_ENV,
        artifact_entry_path,
        content_tags,
    )
    from duckdb_parquet_parser_spark.operators.dedup import (
        q_ns_dedup_incremental,
        q_ns_dedup_incremental_persisted,
    )

    monkeypatch.setenv(ARTIFACT_ROOT_ENV, f"file://{tmp_path}/store")
    uri = artifact_entry_path("sg_sig", sf_smoke)
    assert uri.startswith(f"file://{tmp_path}/store/sg_sig/")
    local = uri[len("file://"):]

    persisted = q_ns_dedup_incremental_persisted(spark, sf_smoke)
    in_session = q_ns_dedup_incremental(spark, sf_smoke)
    assert persisted.exceptAll(in_session).count() == 0
    assert in_session.exceptAll(persisted).count() == 0

    meta_path = os.path.join(local, ARTIFACT_META)
    assert os.path.exists(meta_path)  # landed under the root, not $TMPDIR
    json.load(open(meta_path))  # sidecar is the validated contract
    mtime = os.path.getmtime(meta_path)
    again = q_ns_dedup_incremental_persisted(spark, sf_smoke)
    assert again.count() == persisted.count()
    assert os.path.getmtime(meta_path) == mtime, "artifact rewritten on reuse"

    # remote roots are key-only (r17, ADVICE r16): resolution never
    # prunes — a sibling fingerprint may be another driver's live write
    # under a shared root, so BOTH planted entries must survive
    path_tag, _ = content_tags(sf_smoke)
    stale = os.path.join(os.path.dirname(local), f"{path_tag}_deadbeefdead")
    other = os.path.join(os.path.dirname(local), "cafecafecafe_deadbeefdead")
    os.makedirs(stale)
    os.makedirs(other)
    assert artifact_entry_path("sg_sig", sf_smoke) == uri
    assert os.path.exists(stale), "remote sibling must survive resolution"
    assert os.path.exists(other), "different-source entry must survive"


def test_text_components_memo_shared(spark, sf_smoke):
    """The component labels are computed once per (session, sf_dir) and
    shared by every consumer (components / canonical / drop-rate) — the
    persisted-components production shape; clear_cc_labels_memo drops
    ONLY the labels (the bench warm-shared protocol)."""
    from duckdb_parquet_parser_spark.operators.dedup import (
        _SIMHASH_PAIRS_MEMO,
        _text_components_materialized,
        clear_cc_labels_memo,
        clear_simhash_memos,
    )

    clear_simhash_memos()
    a = _text_components_materialized(spark, sf_smoke)
    assert _text_components_materialized(spark, sf_smoke) is a
    # the memoized frame must carry the persisted-RDD tag, or the clears
    # below are silent no-ops (code review r13 — the ADVICE-r8 leak class)
    assert getattr(a, "_graft_ckpt_rdd", None) is not None
    # snapshot BEFORE clearing: clear_cc_labels_memo genuinely frees the
    # checkpointed blocks now, so the old frame must not be read after
    labels_a = {r["doc"]: r["component"] for r in a.collect()}
    pairs_before = dict(_SIMHASH_PAIRS_MEMO)
    clear_cc_labels_memo()
    assert dict(_SIMHASH_PAIRS_MEMO) == pairs_before  # pairs survive
    b = _text_components_materialized(spark, sf_smoke)
    assert b is not a
    # and the recomputed labels agree with the originals
    labels_b = {r["doc"]: r["component"] for r in b.collect()}
    assert labels_a == labels_b


def test_cc_ceiling_scales_with_graph_size(spark):
    """Round-16 30x-probe regression: the convergent-CC runaway guard
    must GROW with the graph — the 30x simhash graph (132k vertices,
    24.5M edges) converges cleanly at 18 doubling rounds, which the old
    constant-16 ceiling refused as 'pathological'. The formula floors at
    the fixture calibration and covers log2(V)+margin; the integration
    leg runs a path graph whose convergence PROVABLY needs >16 rounds
    (diameter 2^17) and pins that the scaled ceiling admits it while the
    old constant would have raised."""
    from pyspark.sql import functions as F

    from duckdb_parquet_parser_spark.operators.dedup import (
        TEXT_CC_MAX_ROUNDS,
        _text_cc_ceiling,
        connected_components_converged,
    )

    # formula: floor at the fixture calibration, monotone, covers the
    # measured 30x point (18 rounds needed, ceiling 30)
    assert _text_cc_ceiling(0) == TEXT_CC_MAX_ROUNDS
    assert _text_cc_ceiling(1) == TEXT_CC_MAX_ROUNDS
    assert _text_cc_ceiling(24_485_147) == 30
    assert _text_cc_ceiling(10**12) >= 45  # keeps growing, stays finite
    prev = 0
    for e in (10, 10**3, 10**6, 10**9):
        assert _text_cc_ceiling(e) >= prev
        prev = _text_cc_ceiling(e)

    # integration: a 2^17-vertex path needs ~18 doubling rounds — over
    # the old constant, under the scaled ceiling
    n = 1 << 17
    edges = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    ceiling = _text_cc_ceiling(n - 1)
    assert TEXT_CC_MAX_ROUNDS < ceiling <= 24
    comp, rounds = connected_components_converged(
        edges, max_rounds=ceiling, probe_every=4
    )
    assert rounds > TEXT_CC_MAX_ROUNDS  # the old guard WOULD have raised
    got = comp.agg(
        F.count("*"), F.countDistinct("component"), F.min("component")
    ).first()
    assert tuple(got) == (n, 1, 0)  # one component, min-id label, all docs
