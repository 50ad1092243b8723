"""Media dedup cluster resolution (operators/multimodal_dedup.py):
convergence bounds on the media pair graphs, long-chain resolution,
structural invariants of the canonical picks, and the image/audio
closed-form component structure the oracles rely on. The query↔oracle
hash parity itself runs in tests/test_oracle_parity.py and the
randomized doc-population family."""

from __future__ import annotations

import random

from cc_reference import union_find_labels
from pyspark.sql import functions as F

from duckdb_parquet_parser_spark.operators import dedup
from duckdb_parquet_parser_spark.operators.dedup import (
    CC_ROUNDS,
    connected_components_converged,
)
from duckdb_parquet_parser_spark.operators.multimodal import (
    image_neardup_pairs,
    video_neardup_pairs,
)
from duckdb_parquet_parser_spark.operators.multimodal_dedup import (
    MEDIA_CLIQUE_CC_ROUNDS,
    media_cluster_canonical,
    q_ns_mm_audio_dedup_cluster,
    q_ns_mm_image_dedup_cluster,
    q_ns_mm_video_dedup_cluster,
)
from duckdb_parquet_parser_spark.operators.multimodal_synth import (
    IMG_CLS_MOD,
    IMG_POISON_MOD,
    build_image_table,
    build_video_table,
)


def _no_probe(ed, labels):
    raise AssertionError("edge probe ran; the observed stop rule should end the block")


def test_video_graph_fixpoint_margin(spark, sf_smoke):
    """The video pair graph is IRREGULAR (the match-fraction gate drops
    some same-class pairs), so its convergence is measured, not proved:
    it must reach the fixpoint within ONE ``CC_ROUNDS``-round block. The
    video oracle unrolls exactly ``CC_ROUNDS`` rounds, so this pins the
    oracle's validity on the fixture."""
    pairs = (
        video_neardup_pairs(build_video_table(spark, sf_smoke))
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    _comp, rounds = connected_components_converged(pairs, probe_every=CC_ROUNDS)
    assert rounds == CC_ROUNDS, rounds


def test_image_graph_fixpoint_margin(spark, sf_smoke, monkeypatch):
    """Same-class decodable docs pair pairwise by construction, so
    components are cliques: the first round converges, and the second
    round of the ``MEDIA_CLIQUE_CC_ROUNDS`` block changes nothing — the
    observed stop rule ends the first block without an edge probe."""
    monkeypatch.setattr(dedup, "_disagreeing_edges", _no_probe)
    pairs = (
        image_neardup_pairs(build_image_table(spark, sf_smoke))
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    _comp, rounds = connected_components_converged(
        pairs, probe_every=MEDIA_CLIQUE_CC_ROUNDS
    )
    assert rounds == MEDIA_CLIQUE_CC_ROUNDS, rounds


def test_embed_graph_is_not_fixed_round_clusterable(spark, sf_smoke):
    """Round-11 dead-end, pinned as knowledge: an `ns_embed_dedup_cluster`
    query over a FIXED round budget was built and REVERTED. The synthetic
    embeddings are near-random (max pairwise cosine ≈ 0.5), so the
    0.3-threshold graph is a sparse CHAIN: at sf0.001 one ``CC_ROUNDS``
    block does not reach the fixpoint (an oracle unrolling the same
    rounds agrees with the under-converged labels — parity alone masks
    it), and at sf0.1 the graph collapses into ONE 1999-node component.
    This pins the diagnosis: the graph needs more than one block, which
    is why the certified query (embed_cluster.py) iterates to
    convergence against a WITH RECURSIVE fixpoint oracle — two
    INDEPENDENT convergence rules, so parity is a real check."""
    from duckdb_parquet_parser_spark.operators.similarity import (
        q_ns_embed_neardup,
    )

    pairs = (
        q_ns_embed_neardup(spark, sf_smoke)
        .select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        )
        .localCheckpoint(eager=True)
    )
    _comp, rounds = connected_components_converged(pairs, probe_every=CC_ROUNDS)
    assert rounds > CC_ROUNDS, rounds


def test_converged_cc_reaches_fixpoint_on_the_chain_graph(spark, sf_smoke):
    """The convergent engine must label the exact graph a fixed round
    budget cannot: the embed cosine chain, against union-find."""
    from duckdb_parquet_parser_spark.operators.similarity import (
        q_ns_embed_neardup,
    )

    pairs = (
        q_ns_embed_neardup(spark, sf_smoke)
        .select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        )
        .localCheckpoint(eager=True)
    )
    conv, rounds = connected_components_converged(pairs)
    edges = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    got = {r.doc: r.component for r in conv.collect()}
    assert got == union_find_labels(edges)
    assert 2 <= rounds <= 16, rounds


def _signed64(h: int) -> int:
    return h - (1 << 64) if h >= 1 << 63 else h


def test_media_cluster_canonical_resolves_long_chains(spark):
    """A near-duplicate CHAIN, the shape real media dedup graphs take
    and the synthetic class cliques never do: each signature sets one
    more bit than the last, so neighbours within 3 steps pair and the
    graph's diameter grows with its length. 40 documents must form ONE
    cluster, with the canonical pick, size and n_dropped a union-find
    over the exact Hamming ≤ 3 pairs gives. Chains: hash_i = 2^i - 1,
    plus two seeded random bit orders on shuffled doc ids."""
    n = 40
    chains = {"low_bits_first": (list(range(n)), [(1 << i) - 1 for i in range(n)])}
    for seed in (5, 29):
        rng = random.Random(seed)
        order = rng.sample(range(64), n)
        hashes, h = [], 0
        for bit in order:
            h |= 1 << bit
            hashes.append(h)
        chains[f"walk_{seed}"] = (rng.sample(range(10_000), n), hashes)
    for name, (docs, hashes) in chains.items():
        pairs = [
            (a, b)
            for (a, ha) in zip(docs, hashes)
            for (b, hb) in zip(docs, hashes)
            if a < b and bin(ha ^ hb).count("1") <= 3
        ]
        members = union_find_labels(pairs, docs)
        assert len(set(members.values())) == 1, name  # the chain connects
        bits = dict(zip(docs, (bin(h).count("1") for h in hashes)))
        canonical = min(docs, key=lambda d: (-bits[d], d))
        sig = spark.createDataFrame(
            [(d, _signed64(h)) for d, h in zip(docs, hashes)],
            "doc_id long, ahash long",
        )
        rows = media_cluster_canonical(sig, "ahash").collect()
        got = [
            (r.component, r.canonical_doc, r.canonical_bits, r.cluster_size, r.n_dropped)
            for r in rows
        ]
        assert got == [(min(docs), canonical, bits[canonical], n, n - 1)], name


def test_converged_cc_adversarial_long_path(spark):
    """A 200-node pure path — diameter far beyond CC_ROUNDS coverage —
    must resolve to ONE component labeled by its minimum node."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "doc_a long, doc_b long"
    )
    conv, rounds = connected_components_converged(edges)
    rows = conv.collect()
    assert len(rows) == 200
    assert all(r.component == 0 for r in rows)
    # doubling: fixpoint in O(log diameter) rounds, not O(diameter)
    assert rounds <= 12, rounds


def test_image_components_are_class_groups(spark, sf_smoke):
    """The closed form the image/audio cluster oracles rest on: a
    component is EXACTLY a hash-class group with ≥ 2 decodable members —
    intra-class variant flips stay within Hamming 3, distinct classes
    differ in ≥ 5 bits. Verified against the real decode pipeline."""
    rows = q_ns_mm_image_dedup_cluster(spark, sf_smoke).collect()
    import pyarrow.parquet as pq
    import os

    doc_ids = (
        pq.read_table(
            os.path.join(sf_smoke, "documents.parquet"), columns=["doc_id"]
        )
        .column("doc_id")
        .to_pylist()
    )
    from collections import defaultdict

    groups = defaultdict(list)
    for d in doc_ids:
        if d % IMG_POISON_MOD == 0:
            continue
        groups[1 + d % IMG_CLS_MOD].append(d)
    expect = {
        min(ds): len(ds) for ds in groups.values() if len(ds) >= 2
    }
    got = {r.component: r.cluster_size for r in rows}
    assert got == expect


def test_cluster_canonical_invariants(spark, sf_smoke):
    """Every cluster row: exactly one canonical per component,
    n_dropped = cluster_size - 1, cluster_size ≥ 2, and the canonical
    pick is deterministic (bit-count desc, doc_id asc) — re-ranking the
    members reproduces it."""
    for q in (q_ns_mm_image_dedup_cluster, q_ns_mm_audio_dedup_cluster):
        rows = q(spark, sf_smoke).collect()
        comps = [r.component for r in rows]
        assert len(comps) == len(set(comps))
        for r in rows:
            assert r.cluster_size >= 2
            assert r.n_dropped == r.cluster_size - 1
            assert 0 < r.canonical_bits < 64


def test_video_cluster_keep_is_min_id(spark, sf_smoke):
    rows = q_ns_mm_video_dedup_cluster(spark, sf_smoke).collect()
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r)
    for comp, members in by_comp.items():
        assert comp == min(m.doc_id for m in members)
        keepers = [m for m in members if m.keep]
        assert len(keepers) == 1 and keepers[0].doc_id == comp
        assert all(m.cluster_size == len(members) for m in members)


def test_converged_cc_matches_union_find_on_random_graphs(spark):
    """The convergent variant against an exact union-find on SEEDED
    RANDOM graphs with the default block size and no rounds budget:
    convergence itself must find the right stopping point on every shape
    (paths glued to cliques, stars, sparse noise), and the stop rule
    must never stop early."""
    for seed in (11, 23, 47):
        rng = random.Random(seed)
        edges = [(rng.randrange(70), rng.randrange(70)) for _ in range(50)]
        # glue a path onto a clique so diameter and density coexist
        edges += [(100 + i, 101 + i) for i in range(25)]
        edges += [(a, b) for a in range(200, 206) for b in range(a + 1, 206)]
        edges += [(125, 200)]  # path end → clique: one long component
        edges = [(a, b) for a, b in edges if a != b]
        nodes = sorted({x for e in edges for x in e})
        want = union_find_labels(edges, nodes)
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        comp, rounds = connected_components_converged(df)
        got = {r["doc"]: r["component"] for r in comp.collect()}
        assert got == want, seed
        assert rounds <= 12, (seed, rounds)


def test_converged_cc_empty_edge_set(spark):
    """Zero near-dup pairs is a legitimate corpus state (a clean random
    seed, a threshold above the similarity ceiling): the convergent CC
    must return an EMPTY labeling after its second (empty) block, not
    burn max_rounds and raise — F.sum over an empty frame is NULL, which
    the sentinel-based probe must treat as a comparable value (code
    review r12)."""
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    comp, rounds = connected_components_converged(empty)
    assert comp.count() == 0
    assert rounds <= 4, rounds  # two blocks, not the 64-round runaway
