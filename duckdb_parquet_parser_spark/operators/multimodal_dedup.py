"""Cross-document MEDIA dedup resolution: near-dup pairs → connected
components → keep-best canonical selection (VERDICT r10 missing #2).

Round 10 certified near-duplicate PAIR detection for all three modalities
(operators/multimodal_synth.py), but — unlike text, where
``ns_dedup_components`` + ``ns_dedup_cluster_canonical`` turn pairwise
evidence into actual keep/drop decisions — no certified query resolved
media pairs into clusters. This module closes that loop by composing the
EXISTING machinery: the shared banded-Hamming pair step
(multimodal.py ``_hamming_pairs`` over lsh.py ``banded_pairs``) feeds
the engine's one CC primitive ``connected_components_converged`` +
keep-best rank from dedup.py — zero new algorithmic surface, one new
composition, which is exactly why it lives in its OWN module: dedup.py /
multimodal.py / multimodal_synth.py were all driver-certified in round
10 with unchanged plans, and the
changed-module re-certification rule (operators/__init__.py) must not
force their 21 fresh certifications back into the 50-slot window for a
pure composition that only IMPORTS them.

Quality policy: the canonical member of each cluster is the one with the
most set signature bits (``bit_count`` of the 64-bit hash — for the
two-level synthetic images that is literally the brightest copy, for the
energy fingerprints the most energetic one), ties broken by lowest
doc_id. The score is computed JVM-side from the already-materialized
signature table — no second decode, no extra Python. In production the
rank column is swappable for any per-item score (resolution, bitrate,
recency), exactly as ``ns_dedup_cluster_canonical`` ranks text clusters
by the quality logit (dedup.py:1188).

Scale shape (100 TB): the signature table is localCheckpoint-ed ONCE so
the Python decode runs exactly once (the round-6/round-10 self-join
recompute lesson, plan-asserted for the pair queries in
tests/test_plans.py); candidates come from ONE (band, key) equi-join
shuffling 8-byte longs; components are O(log diameter) equi-join rounds
iterated to their provable fixpoint (dedup.py
``connected_components_converged``), so a real near-duplicate chain of
any length resolves to one cluster; the canonical pick is one
hash exchange on ``component`` driving both window functions. No
all-pairs anywhere — the oracles' quadratic self-joins are sf0.01
yardsticks only.

Oracle technique: the synthetic corpora make the cluster structure
closed-form over doc_id alone. Same-class docs differ by the variant
XOR flips (Hamming ≤ 3 → a clique in the pair graph); distinct classes
differ in ≥ 8 - 3 = 5 bits (the class byte is replicated into all eight
bytes) and never pair. So a component IS a class group with ≥ 2
decodable members, its id the group's min doc_id, and the canonical
member falls out of the same closed-form hash — no graph propagation in
SQL at all (contrast the unrolled min-label oracle of
``ns_dedup_components``, which faces an arbitrary SimHash graph).

Reference analog: none — SURVEY.md §2.5 north-star surface (the
reference stops at pairwise dup detection, main.cpp:21-35).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Composition-only imports: these modules' own plans and oracles are
# untouched (see module docstring — certified r10, must stay parked).
from ..cache import ensure_artifact
from .dedup import _CC_ROUND_CTES, CC_ROUNDS, connected_components_converged
from .multimodal import (
    AHASH_HAMMING_MAX,
    VIDEO_MATCH_FRAC,
    _hamming_pairs,
    extract_audio_fingerprints,
    extract_image_features,
    video_neardup_pairs,
)
from .multimodal_synth import (
    _AUDIO_SIG_CTE,
    _IMG_HASH_CTE,
    _SIGNED64,
    _VIDEO_FRAME_CTE,
    IMG_POISON_MOD,
    VIDEO_FRAMES,
    build_audio_sig_table,
    build_image_table,
    build_video_table,
)


#: Rounds per CC block for the CLIQUE-shaped image/audio pair graphs:
#: same-class decodable docs sit pairwise within the banding radius by
#: construction (the variant XOR flips keep Hamming ≤ 3), so every
#: component is a complete graph and the first round already hands every
#: member the min id. The block's second round then changes nothing, so
#: the observed stop rule confirms the fixpoint without an edge probe.
#: The video graph is irregular and runs ``CC_ROUNDS``-round blocks, the
#: rounds its unrolled oracle runs. Either way the block size only sets
#: the cadence of the stop rule: a graph needing more rounds runs more
#: blocks.
MEDIA_CLIQUE_CC_ROUNDS = 2


def media_cluster_canonical(
    sig: DataFrame,
    hash_col: str,
    hamming_max: int = AHASH_HAMMING_MAX,
) -> DataFrame:
    """(doc_id, <hash_col>) signatures → per-cluster canonical pick.

    Pipeline: banded exact-recall Hamming pairs → connected components
    (min-label propagation + doubling to the fixpoint) → keep-best rank
    within each component (most signature bits set, then lowest doc_id).
    Returns one row per cluster: ``(component, canonical_doc,
    canonical_bits, cluster_size, n_dropped)``.

    The caller hands the signature frame; it is materialized here ONCE
    (eager localCheckpoint) because THREE subtrees consume it — both
    sides of the band join and the quality lookup — and each would
    otherwise re-run the upstream Python decode.
    """
    sig = sig.localCheckpoint(eager=True)
    pairs = _hamming_pairs(sig, hash_col, hamming_max)
    # edges_materialized=True here does NOT mean the pairs are
    # checkpointed — it skips one stage-job materializing them: the band
    # join reads the 16-byte/row checkpointed sig, so recomputing it
    # inside the adjacency checkpoint (and the rare edge probe) is
    # cheaper than one more job at the scheduling floor. The VIDEO
    # cluster keeps the edge checkpoint: its pair pipeline is six stages
    # deep and must run once.
    comp, _rounds = connected_components_converged(
        pairs.select("doc_a", "doc_b"),
        probe_every=MEDIA_CLIQUE_CC_ROUNDS,
        edges_materialized=True,
    )
    quality = sig.select(
        "doc_id", F.bit_count(F.col(hash_col)).alias("q_bits")
    )
    joined = comp.join(quality, comp["doc"] == quality["doc_id"]).select(
        "component", "doc_id", "q_bits"
    )
    w_comp = Window.partitionBy("component")
    w_rank = w_comp.orderBy(F.col("q_bits").desc(), F.col("doc_id").asc())
    ranked = joined.select(
        "component",
        "doc_id",
        "q_bits",
        F.count(F.lit(1)).over(w_comp).alias("cluster_size"),
        F.row_number().over(w_rank).alias("rn"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "component",
        F.col("doc_id").alias("canonical_doc"),
        F.col("q_bits").alias("canonical_bits"),
        "cluster_size",
        (F.col("cluster_size") - F.lit(1)).alias("n_dropped"),
    )


def q_ns_mm_image_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE dedup resolution end-to-end: real PPM/BMP pixel decode →
    average-hash signatures → banded pairs → connected components →
    keep-brightest canonical. Poison (JPEG-magic) docs carry no hash and
    never enter the graph; singleton classes have no pairs and no row."""
    sig = (
        extract_image_features(build_image_table(spark, sf_dir))
        .filter(F.col("fmt") != "undecodable")
        .select("doc_id", "ahash")
    )
    return media_cluster_canonical(sig, "ahash")


def q_ns_mm_audio_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO dedup resolution end-to-end: real WAV PCM decode → energy
    fingerprints → banded pairs → connected components → most-energetic
    canonical (more fingerprint bits set = more above-mean-energy
    blocks). ID3-magic poison docs contribute no fingerprint."""
    sig = extract_audio_fingerprints(
        build_audio_sig_table(spark, sf_dir)
    ).select("doc_id", "fingerprint")
    return media_cluster_canonical(sig, "fingerprint")


def q_ns_mm_video_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO dedup resolution — the third modality, and the strongest
    certification of the composition: unlike the image/audio corpora
    (whose pair graphs are class CLIQUES), the video match-fraction gate
    admits some same-class pairs and rejects others (perturbed odd
    generations), so the pair graph is IRREGULAR and the generic
    propagation machinery is doing real work. The oracle therefore runs
    ``CC_ROUNDS`` unrolled min-label + doubling rounds in SQL, the chain
    ``ns_dedup_components``' oracle uses (dedup.py ``_CC_ROUND_CTES``,
    imported — the two chains can never drift), over the closed-form
    video pair set. The query iterates to the fixpoint, so the oracle is
    valid where the graph converges within one ``CC_ROUNDS`` block
    (pinned in tests/test_multimodal_dedup.py); past that, parity trips
    instead of both sides agreeing on under-converged labels.

    Output shape mirrors ``ns_dedup_components``: per graph member, its
    component (min doc_id), cluster size, and the min-id keep decision.
    Frame hashes come from the persisted ``VIDEO_FRAMES`` artifact (r17,
    multimodal_synth.py — decode once per table content), then
    pairs → CC — every step an equi-join or hash agg over the
    ~20-bytes/frame artifact scan."""
    pairs = video_neardup_pairs(
        build_video_table(spark, sf_dir),
        frames=ensure_artifact(spark, VIDEO_FRAMES, sf_dir),
    )
    comp, _rounds = connected_components_converged(
        pairs.select("doc_a", "doc_b"), probe_every=CC_ROUNDS
    )
    w_size = F.count(F.lit(1)).over(Window.partitionBy("component"))
    return comp.select(
        F.col("doc").alias("doc_id"),
        "component",
        w_size.alias("cluster_size"),
        (F.col("doc") == F.col("component")).alias("keep"),
    )


def _cluster_oracle(cte: str, poison_filter_in_cte: bool) -> str:
    """Closed-form cluster oracle over an (h AS doc_id, cls?, hh) CTE.

    The image CTE keeps poison rows (its feature oracle needs them), so
    the image instantiation re-filters; the audio-sig CTE already
    excludes poison. Both expose ``cls`` via the ``d`` CTE member joined
    back by doc_id — classes ARE the components (module docstring)."""
    poison = (
        f"WHERE s.doc_id % {IMG_POISON_MOD} <> 0"
        if poison_filter_in_cte
        else ""
    )
    signed = _SIGNED64.format(h="hh")
    return f"""
        WITH {cte},
        s AS (
            SELECT h.doc_id, d.cls, {signed} AS ah
            FROM h JOIN d ON h.doc_id = d.doc_id
        ),
        sp AS (SELECT * FROM s {poison}),
        g AS (
            SELECT cls, MIN(doc_id) AS component,
                   COUNT(*) AS cluster_size
            FROM sp GROUP BY cls HAVING COUNT(*) >= 2
        ),
        r AS (
            SELECT sp.cls, sp.doc_id,
                   CAST(bit_count(sp.ah) AS INT) AS q_bits,
                   ROW_NUMBER() OVER (
                       PARTITION BY sp.cls
                       ORDER BY bit_count(sp.ah) DESC, sp.doc_id ASC
                   ) AS rn
            FROM sp JOIN g USING (cls)
        )
        SELECT g.component,
               r.doc_id AS canonical_doc,
               r.q_bits AS canonical_bits,
               g.cluster_size,
               g.cluster_size - 1 AS n_dropped
        FROM r JOIN g USING (cls)
        WHERE r.rn = 1
    """


# Shared CC-chain suffix: symmetric edge list over a `pairs(doc_a,
# doc_b)` CTE, then the SAME unrolled label-propagation chain as
# ns_dedup_components (dedup.py _CC_ROUND_CTES expects CTEs named
# edges/nodes/adj/l0).
_CC_CHAIN_SUFFIX = f""",
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT u AS doc FROM edges),
    adj AS MATERIALIZED (
        SELECT u AS doc, v AS nbr FROM edges
        UNION ALL
        SELECT doc, doc FROM nodes
    ),
    l0 AS (SELECT doc, doc AS label FROM nodes){_CC_ROUND_CTES}"""

# Video pair graph in SQL: the ns_mm_video_neardup oracle's closed-form
# pair derivation (multimodal_synth.py) reduced to (doc_a, doc_b).
_VIDEO_CC_PREFIX = f"""
    WITH {_VIDEO_FRAME_CTE},
    sf AS (SELECT doc_id, frame_idx,
                  {_SIGNED64.format(h='hh')} AS ah FROM f),
    cnt AS (SELECT doc_id, COUNT(*) AS nf FROM sf GROUP BY doc_id),
    m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               COUNT(*) AS matched_frames
        FROM sf a JOIN sf b
          ON a.frame_idx = b.frame_idx AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.ah, b.ah)) <= {AHASH_HAMMING_MAX}
        GROUP BY 1, 2
    ),
    pairs AS MATERIALIZED (
        SELECT doc_a, doc_b
        FROM m
        JOIN cnt ca ON ca.doc_id = m.doc_a
        JOIN cnt cb ON cb.doc_id = m.doc_b
        WHERE matched_frames / GREATEST(ca.nf, cb.nf) >= {VIDEO_MATCH_FRAC}
    ){_CC_CHAIN_SUFFIX}"""


QUERIES = {
    "ns_mm_image_dedup_cluster": q_ns_mm_image_dedup_cluster,
    "ns_mm_audio_dedup_cluster": q_ns_mm_audio_dedup_cluster,
    "ns_mm_video_dedup_cluster": q_ns_mm_video_dedup_cluster,
}

ORACLES = {
    "ns_mm_image_dedup_cluster": _cluster_oracle(
        _IMG_HASH_CTE, poison_filter_in_cte=True
    ),
    "ns_mm_audio_dedup_cluster": _cluster_oracle(
        _AUDIO_SIG_CTE, poison_filter_in_cte=False
    ),
    "ns_mm_video_dedup_cluster": _VIDEO_CC_PREFIX
    + f"""
    SELECT doc AS doc_id, label AS component,
           CAST(count(*) OVER (PARTITION BY label) AS BIGINT)
               AS cluster_size,
           doc = label AS keep
    FROM l{CC_ROUNDS}
    """,
}
