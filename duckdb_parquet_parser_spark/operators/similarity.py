"""Similarity search over embeddings — north-star extension (SURVEY.md §2.5).

- Brute-force cosine top-k: the exact baseline. JVM-side higher-order
  functions (zip_with/aggregate) — no Python in the loop.
- Sign-LSH (random hyperplane) bucketing: the scale path. Hyperplanes are
  derived deterministically from md5 so the DuckDB oracle reproduces them
  bit-for-bit; bucket code = 16 sign bits of hyperplane dot products.
- SemDeDup prune (bottom): per k-means cluster, drop the most
  prototypical quarter (one window over the cluster key).

Scale design (100 TB):
- Top-k: query set broadcast (small), candidates scanned once, per-query
  ranking via window over (query, score) — shuffle keyed by query_id.
- Sign-LSH: one narrow projection pass per vector → 16-char bucket code;
  near-dup search then joins only within buckets (the classic ANN
  bucket-join), turning O(n²) into O(Σ bucket²).
- Hyperplane dot products accumulate in DECIMAL so partial-aggregation
  order can never flip a sign bit (float sums are order-sensitive; decimal
  sums are exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..catalog import load_table, scale_out
from ..functions import cosine_similarity, dot_product, l2_norm, safe_cosine

N_QUERIES = 5  # vec_id < 5 are the query vectors
TOP_K = 10
NEARDUP_COS = 0.3
LSH_BITS = 16
DIM = 64


def q_ns_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k neighbors for each query vector by cosine similarity.

    Norms are precomputed per vector below the pair join (once per row, not
    once per pair), so scoring pays ONE dot fold per candidate pair — same
    expression trees as ``cosine_similarity``, so the doubles (and the
    ranking) are bit-identical."""
    emb = scale_out(spark, load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        l2_norm(F.col("embedding")).alias("qn"),
    )
    cand = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        "embedding",
        l2_norm(F.col("embedding")).alias("nn"),
    )
    scored = (
        cand.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos",
            safe_cosine(
                dot_product(F.col("qvec"), F.col("embedding")),
                F.col("qn"),
                F.col("nn"),
            ),
        )
    )
    # Rank on the 6-decimal-quantized cosine (the same grid the output
    # column reports): the RAW doubles differ between engines in the last
    # ulp — Spark computes dot/(sqrt(na2)*sqrt(nb2)), DuckDB's
    # list_cosine_similarity dot/sqrt(na2*nb2) — and the randomized
    # fixtures' planted duplicate vectors produce cosine near-ties where
    # that ulp flips the order (found by the round-5 seed sweep, seed
    # 932). Quantized scores tie exactly on both engines and break by
    # neighbor_id deterministically; a 1e-6 quantum is far below any ANN
    # semantic difference.
    w = Window.partitionBy("query_id").orderBy(
        F.round("cos", 6).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos"))
    )


def embed_neardup_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine near-duplicate detection — the exact quadratic
    baseline. NOT a declared query (a full-table crossJoin cannot survive
    100 TB); kept only as the recall yardstick for the cell-based variant
    below (tests/test_similarity.py)."""
    emb = scale_out(spark, load_table(spark, sf_dir, "embeddings"))
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    pairs = a.crossJoin(b).filter(F.col("vec_a") < F.col("vec_b"))
    return (
        pairs.withColumn("cos", cosine_similarity(F.col("ea"), F.col("eb")))
        .filter(F.col("cos") >= NEARDUP_COS)
        .select("vec_a", "vec_b")
    )


VERIFY_SLAB_PAIRS = 4_000_000  # per-slab pair cap in _verify_cell_impl


def _verify_cell_impl(pdf):
    """Generate + verify one IVF cell's candidate pairs inside a single
    Arrow batch (the ``applyInPandas`` kernel behind
    :func:`q_ns_embed_neardup`).

    Every vector of the cell arrives ONCE (id, embedding, norm, probe-cell
    list); pairs are generated as index arrays and verified with numpy —
    the previous pair-join plan shipped BOTH embeddings per candidate
    pair through Arrow (~250 MB per run at sf0.1 for 481 K candidates),
    which dominated the query. Per-cell transfer is |cell| rows (~1 MB
    total), a 100×+ reduction (round 6).

    Exactly-once rule, bitmask form: a pair sharing several probed cells
    would be generated by each shared cell's group; it is kept only where
    the group's cell is the SMALLEST shared cell. With N_CELLS ≤ 64 each
    probe list packs into a uint64 bitmask, so "smallest shared cell ==
    this cell" is ``(m_a & m_b) & -(m_a & m_b) == 1 << cell`` — fully
    vectorized, correct for any N_PROBE.

    Bit-parity with the DuckDB oracle (and the old JVM fold): embeddings
    promote float32→float64 per element, the dot accumulates DIMENSION BY
    DIMENSION left-to-right (``acc = acc + A[ia,d] * A[ib,d]`` — the same
    chain of IEEE-double adds as ``functions.dot_product``; numpy
    elementwise ops never reassociate), the norms are the JVM-computed
    ``vnorm`` doubles, and zero-norm pairs score 0.0 (``safe_cosine``).
    Asserted by the oracle hash (exact set equality of surviving pairs)
    at sf0.001/0.01/0.1 plus the randomized fixtures.

    Memory: pair index arrays are generated in slabs of rows so peak
    allocation stays ~``VERIFY_SLAB_PAIRS`` pairs regardless of cell
    size — a skewed fat cell degrades to more slab iterations, not an
    OOM. The gathers are 1-D per dimension (never a pairs×dims matrix).
    """
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {
            "vec_a": pd.Series([], dtype="int64"),
            "vec_b": pd.Series([], dtype="int64"),
        }
    )
    # a NULL embedding scores a NULL cosine in both engines and can never
    # pass the >= threshold — drop those rows before stacking
    pdf = pdf[[e is not None for e in pdf["embedding"]]]
    n = len(pdf)
    if n < 2:
        return empty
    cell = int(pdf["cell"].iloc[0])
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    order = np.argsort(ids)
    pdf = pdf.iloc[order]
    ids = ids[order]
    masks = np.zeros(n, dtype=np.uint64)
    for k, cs in enumerate(pdf["cells"]):
        m = 0
        for c in cs:
            if not 0 <= int(c) < 64:
                # the uint64 packing holds 64 cells; a wider IVF (cells
                # ∝ √n at corpus scale) needs multi-word masks — fail
                # loudly here instead of overflowing numpy's uint64
                # deep inside an executor batch (code-review r6)
                raise ValueError(
                    f"cell id {int(c)} exceeds the 64-cell bitmask; "
                    "widen _verify_cell_impl's mask packing"
                )
            m |= 1 << int(c)
        masks[k] = m
    cell_bit = np.uint64(1 << cell)
    A = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    nrm = pdf["nrm"].to_numpy(dtype=np.float64)
    rows_per_slab = max(1, VERIFY_SLAB_PAIRS // n)
    out_a, out_b = [], []
    for i0 in range(0, n - 1, rows_per_slab):
        i1 = min(i0 + rows_per_slab, n - 1)
        # pairs (i, j) with i in [i0, i1), j > i
        ia, jb = np.meshgrid(
            np.arange(i0, i1), np.arange(0, n), indexing="ij"
        )
        sel = jb > ia
        ia, jb = ia[sel], jb[sel]
        shared = masks[ia] & masks[jb]
        keep = (shared & (~shared + np.uint64(1))) == cell_bit
        ia, jb = ia[keep], jb[keep]
        if len(ia) == 0:
            continue
        acc = np.zeros(len(ia), dtype=np.float64)
        for d in range(A.shape[1]):
            acc = acc + A[ia, d] * A[jb, d]
        denom = nrm[ia] * nrm[jb]
        cos = np.zeros(len(ia), dtype=np.float64)
        np.divide(acc, denom, out=cos, where=denom != 0)
        good = cos >= NEARDUP_COS
        out_a.append(ids[ia[good]])
        out_b.append(ids[jb[good]])
    if not out_a:
        return empty
    return pd.DataFrame(
        {
            "vec_a": np.concatenate(out_a),
            "vec_b": np.concatenate(out_b),
        }
    )


def q_ns_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs via cluster-then-verify (the SemDeDup
    shape): coarse-quantize every vector into its ``N_PROBE`` nearest IVF
    cells, then generate AND verify candidate pairs per cell in one
    Arrow-batched ``applyInPandas`` stage (:func:`_verify_cell_impl`).

    Scale design: the only crossJoin is against the broadcast N_CELLS
    centroid table (one narrow pass per vector); pair work is O(Σ cell²)
    not O(n²) — with real (clustered) embeddings and K ∝ √n cells this is
    the standard sub-quadratic embedding-dedup plan. Each vector is
    shuffled once per probed cell (≤ N_PROBE rows) and its embedding
    crosses the Python boundary once per cell — NOT once per candidate
    pair, which is what the previous bucket-equi-join + per-pair-UDF plan
    paid (round 6: 3.1-4.4 s → 1.2-1.6 s at sf0.1, identical output).
    Parallelism is bounded by the number of cells (∝ √n at scale; 16 at
    the fixture SFs — the documented strong-scaling plateau). Recall vs
    the all-pairs baseline is measured in tests/test_similarity.py; the
    oracle replicates the same candidate generation, so the differential
    check is exact.
    """
    emb = scale_out(spark, load_table(spark, sf_dir, "embeddings"))
    centroids = emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    # norm precomputed per vector (not per pair) — bit-identical to
    # cosine_similarity (functions.py). Each vector's (≤ N_PROBE)-element
    # probe-cell list comes straight off ivf_assignments' pre-explode
    # ranked array (r17 — the old collect_list window rode the rank
    # window's vec_id exchange, which the narrow ivf_assignments no
    # longer pays; the kernel packs the list into an order-independent
    # bitmask, so rank order vs collect order is immaterial).
    assigned = ivf_assignments(emb, centroids, N_PROBE).select(
        F.col("centroid_id").alias("cell"),
        "vec_id",
        "embedding",
        F.col("vnorm").alias("nrm"),
        F.col("_probe_cells").alias("cells"),
    )
    return assigned.groupBy("cell").applyInPandas(
        _verify_cell_impl, "vec_a long, vec_b long"
    )


def _pair_dot_impl(ea, eb):
    """Arrow-vectorized exact dot product over candidate PAIRS — the
    pair-shaped verify primitive for pipelines whose candidates arrive as
    (vec_a, vec_b) rows (an external candidate list, a pre-joined bucket
    table). ``q_ns_embed_neardup`` stopped using it in round 6 — its
    candidates are generated per cell, where :func:`_verify_cell_impl`
    ships each embedding once per cell instead of once per pair — but the
    primitive stays: NULL semantics are pinned by
    tests/test_similarity.py (a NULL dot, never NaN — Spark orders NaN
    above every numeric, so a NaN cosine would pass a >= threshold).
    History: the interpreted higher-order-function fold was ~2 s of the
    query at sf0.1 (HOFs never enter whole-stage codegen), and the
    unrolled element_at chain measured 3× slower still — the ~300-node
    generated method blows the JVM's 8 KB JIT threshold and runs
    interpreted (BENCH_NOTES r5).

    Bit-parity with :func:`functions.dot_product` (so with the DuckDB
    oracle): float32→float64 promotion is exact, and the accumulation
    loops over DIMENSIONS sequentially — ``acc = acc + A[:,i]·B[:,i]`` is
    the same left-to-right chain of IEEE-double adds as the fold, merely
    vectorized ACROSS rows. numpy elementwise ops don't reassociate, so
    every candidate's double (and the ≥ threshold decision) is identical
    to the JVM fold's. Asserted by the oracle hash (exact set equality of
    surviving pairs) at sf0.001/0.01/0.1 plus the randomized fixtures."""
    import numpy as np
    import pandas as pd

    if len(ea) == 0:
        return pd.Series([], dtype="float64")
    # null vectors: the JVM fold yields a NULL dot (→ NULL cosine,
    # filtered out). Mask them out and run the vectorized accumulation on
    # the non-null rows only — one null in a batch must not demote the
    # whole batch to an interpreted loop (ADVICE r5). Emit None — NOT
    # NaN: Spark orders NaN ABOVE every numeric, so a NaN cosine would
    # PASS the >= threshold and emit the pair (code-review r5 finding).
    valid = np.fromiter(
        (x is not None and y is not None for x, y in zip(ea, eb)),
        dtype=bool,
        count=len(ea),
    )
    if not valid.any():
        return pd.Series([None] * len(ea), dtype=object)
    A = np.stack(ea.values[valid]).astype(np.float64)
    B = np.stack(eb.values[valid]).astype(np.float64)
    acc = np.zeros(len(A), dtype=np.float64)
    for i in range(A.shape[1]):
        acc = acc + A[:, i] * B[:, i]
    if valid.all():
        return pd.Series(acc)
    # object dtype: a float64 Series would coerce None back to NaN;
    # Arrow turns object-dtype None into a true SQL NULL
    out = np.full(len(ea), None, dtype=object)
    out[valid] = acc
    return pd.Series(out, dtype=object)


LSH_QUANTUM = 1e9  # sign bits defined on 1e-9-quantized micro-units


def hyperplane_sign_bit(embedding, bit: int):
    """Sign bit of <embedding, h_bit> where h_bit[i] = ±1 from the high bit
    of hex digit (i mod 32) of md5('hp:bit:i').

    The dot accumulates as INTEGER micro-units — each component quantized
    to ``round(x · 1e9)`` BEFORE summing — so the sign is exact,
    order-independent, and cross-engine deterministic. The previous
    DECIMAL(28,10) accumulation was order-independent but not
    engine-independent: the double→decimal cast rounds differently in the
    two engines' last retained digit, and the round-5 seed sweep (seed
    965) found subnormal-scale vectors (|x| ~ 1e-7, 64 cancelling terms)
    whose sign flipped between them. IEEE multiplication by the exactly-
    representable 1e9 and round-half-away-from-zero (both engines'
    ``round``) give bit-identical integers, and integer sums cannot
    diverge. Resolution 1e-9 per term is the bucket DEFINITION, not an
    approximation — values below it (and the zero vector) quantize to 0
    identically on both engines. Headroom: |x| ≤ ~1e5 per component
    keeps the 64-term bigint sum far from overflow; scale the quantum
    down for wider-range embeddings."""
    # Hyperplane components are constants — fold them driver-side.
    import hashlib

    signs = []
    for i in range(DIM):
        h = hashlib.md5(f"hp:{bit}:{i}".encode()).hexdigest()
        signs.append(1 if h[i % 32] >= "8" else -1)
    dot = F.aggregate(
        F.zip_with(
            embedding,
            F.array(*[F.lit(s) for s in signs]),
            lambda x, s: F.round(x.cast("double") * F.lit(LSH_QUANTUM)).cast(
                "long"
            )
            * s,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (dot >= 0).cast("int")


def with_lsh_bucket(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    code = F.concat(
        *[hyperplane_sign_bit(F.col(vec_col), j).cast("string") for j in range(LSH_BITS)]
    )
    return emb.withColumn("bucket", code)


def q_ns_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector LSH bucket code (the partitioning key an ANN index would
    bucket-join on) + bucket occupancy."""
    emb = scale_out(spark, load_table(spark, sf_dir, "embeddings"))
    return (
        with_lsh_bucket(emb)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
    )


def ann_lsh_topk(
    emb: DataFrame, queries: DataFrame, k: int = TOP_K
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's bucket.

    Not oracle-checked (approximation quality, not SQL semantics); tested
    for recall against brute force in tests/test_similarity.py.
    """
    be = with_lsh_bucket(emb).select("bucket", F.col("vec_id").alias("neighbor_id"), "embedding")
    bq = with_lsh_bucket(queries, "qvec").select(
        "bucket", "query_id", "qvec"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        bq.join(be, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", cosine_similarity(F.col("qvec"), F.col("embedding")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


N_CELLS = 16  # IVF coarse-quantizer cells
N_PROBE = 2  # cells probed per query


def ivf_assignments(emb: DataFrame, centroids: DataFrame, rank_limit: int) -> DataFrame:
    """Assign each vector to its ``rank_limit`` nearest centroids by cosine
    (rank 1 = cell assignment; rank ≤ nprobe = query probe list).

    Shape (r17, guide §2.4 — remove shuffles outright): the centroids are
    collected into ONE array-of-structs row ``(centroid_id, cvec, _cn)``
    (norm precomputed INTO the struct — one fold per pair, as before) and
    broadcast; the per-vector top-``rank_limit`` is
    ``slice(array_sort(transform(…)), 1, rank_limit)`` + ``posexplode``
    — a fully NARROW pass, where the previous ``crossJoin(broadcast) →
    row_number() over (partition by vec_id)`` spelling exchanged + sorted
    the n×rank_limit frame once per call purely to rank candidates that
    were already colocated on their row. The output also carries the
    vector's whole probe list as ``_probe_cells`` (the pre-explode
    array), so consumers that need it (the per-cell dedup kernel) no
    longer rebuild it with a ``collect_list`` window — another n-row
    sort removed.

    Ranking equivalence with the window spelling (and the oracles): the
    sort key is ``(-round(cos, 6), centroid_id)`` ascending ≡
    ``(round(cos,6) DESC, centroid_id ASC)``; distinct centroids can
    never tie the full key, so the order (hence the slice) is total and
    deterministic regardless of collect_list order. ±0.0 and NULL edge
    cases probed explicitly (OPTIMIZATION_r17.md): Spark's window
    ordering, Spark's array_sort struct comparison and DuckDB's ORDER BY
    all treat -0.0 = 0.0 as a tie (falling to centroid_id), and a NULL
    cosine — possible only when the vector or centroid embedding is NULL
    — is coalesced to -2.0, strictly below every real cosine ∈ [-1, 1],
    reproducing the window's NULLS-LAST-under-DESC placement.
    Expression trees match ``cosine_similarity`` exactly, so scores are
    bit-identical.
    """
    e = emb.withColumn("vnorm", l2_norm(F.col("embedding")))
    cents = centroids.agg(
        F.collect_list(
            F.struct(
                F.col("centroid_id"),
                F.col("cvec"),
                l2_norm(F.col("cvec")).alias("_cn"),
            )
        ).alias("_cents")
    )

    def _cand(c):
        cos = safe_cosine(
            dot_product(F.col("embedding"), c["cvec"]),
            F.col("vnorm"),
            c["_cn"],
        )
        return F.struct(
            (-F.coalesce(F.round(cos, 6), F.lit(-2.0))).alias("_nc"),
            c["centroid_id"].alias("centroid_id"),
            cos.alias("cell_cos"),
            c["cvec"].alias("cvec"),
        )

    ranked = F.slice(
        F.array_sort(F.transform("_cents", _cand)), 1, rank_limit
    )
    base = (
        e.crossJoin(F.broadcast(cents))
        .withColumn("_ranked", ranked)
        .withColumn(
            "_probe_cells",
            F.transform("_ranked", lambda x: x["centroid_id"]),
        )
        .select(
            *emb.columns,
            "vnorm",
            "_probe_cells",
            F.posexplode("_ranked").alias("_pos", "_c"),
        )
    )
    return base.select(
        *emb.columns,
        "vnorm",
        F.col("_c.centroid_id").alias("centroid_id"),
        F.col("_c.cvec").alias("cvec"),
        F.col("_c.cell_cos").alias("cell_cos"),
        (F.col("_pos") + 1).alias("cell_rank"),
        "_probe_cells",
    )


def q_ns_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: coarse-quantize vectors into N_CELLS inverted
    lists (centroids = embeddings of vec_id 0..N_CELLS-1 — deterministic
    seeds both engines agree on), probe the query's N_PROBE nearest cells,
    exact cosine rank within the probed lists.

    Scale path vs brute force: candidates shrink from |table| to the probed
    lists (~N_PROBE/N_CELLS of the data); the inverted lists are a join key,
    so the search is a bucket equi-join exactly like the LSH variant.
    """
    emb = scale_out(spark, load_table(spark, sf_dir, "embeddings"))
    centroids = emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    # ivf_assignments already computed each vector's norm for the cell
    # ranking — carry it through the bucket join so final scoring pays one
    # unrolled dot per (probe, neighbor) pair instead of three interpreted
    # folds (same expression trees as cosine_similarity → bit-identical)
    lists = ivf_assignments(emb, centroids, 1).select(
        F.col("centroid_id").alias("cell"),
        F.col("vec_id").alias("neighbor_id"),
        "embedding",
        F.col("vnorm").alias("nnorm"),
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    probes = ivf_assignments(
        queries.withColumnRenamed("query_id", "vec_id").withColumnRenamed(
            "qvec", "embedding"
        ),
        centroids,
        N_PROBE,
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("vnorm").alias("qnorm"),
        F.col("centroid_id").alias("cell"),
    )
    # quantized ranking — see q_ns_knn_bruteforce (cross-engine ulp ties)
    w = Window.partitionBy("query_id").orderBy(
        F.round("cos", 6).desc(), F.col("neighbor_id")
    )
    # the probe side is N_QUERIES × N_PROBE rows at ANY scale (a query
    # batch), but it hangs below a posexplode + filter, so Catalyst's
    # size estimate rules broadcast out and demoted this equi-join to
    # SortMergeJoin — shuffling AND sorting the full inverted-list side
    # (r17 audit, plans/r17/ns_ann_ivf_topk_audit.txt). Broadcasting the
    # probe batch is the standard ANN search plan: the lists side is
    # never shuffled at all.
    return (
        F.broadcast(probes).join(lists, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos",
            safe_cosine(
                dot_product(F.col("qvec"), F.col("embedding")),
                F.col("qnorm"),
                F.col("nnorm"),
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos")
        )
    )


K_CLUSTERS = 8  # k-means clusters; init = embeddings of vec_id 0..7


def _assign_clusters(
    emb: DataFrame, centroids: DataFrame, carry_embedding: bool = True
) -> DataFrame:
    """(vec_id[, embedding], cluster, cos): nearest centroid by cosine,
    ties to the lowest cluster id. Norms precomputed once per vector row
    and once per centroid (inside the collected struct — 1 fold per pair,
    not 3, bit-identical trees); a caller that reuses the vector frame
    can pre-materialize ``_vn`` and it is used as-is.

    Shape (r17, guide §2.4 — remove shuffles outright): the K centroids
    are collected into ONE array-of-structs row `(cluster, cvec, _cn)`
    and broadcast; the argmax is ``array_max(transform(cents, …))`` —
    a per-row reduction over K struct candidates, so assignment is a
    fully NARROW pass: no exchange at all, where the previous
    ``crossJoin(broadcast) → groupBy(vec_id).max(struct)`` spelling still
    paid one n-row exchange + final aggregate per pass purely to
    re-merge rows that were never split (each vec_id lives in exactly
    one scan partition; Catalyst can't know that). Struct comparison is
    field-by-field in both spellings — (cos, -cluster, cluster) encodes
    (cos DESC, cluster ASC) — and both reduce the SAME K quantized-cosine
    structs, so the winner (and the reported rounded cos) is identical;
    collect_list's nondeterministic order is irrelevant under a total
    order (distinct clusters can never tie the full struct). At corpus
    scale the array is K structs of DIM doubles — the same broadcast
    bytes the hash relation carried, minus the join machinery.

    Degenerate guard: an EMPTY centroid table used to produce an empty
    crossJoin (no output rows); ``array_max`` over the empty collected
    array yields NULL — filtered to preserve that contract."""
    e = (
        emb
        if "_vn" in emb.columns
        else emb.withColumn("_vn", l2_norm(F.col("embedding")))
    )
    cents = centroids.agg(
        F.collect_list(
            F.struct(
                F.col("cluster"),
                F.col("cvec"),
                l2_norm(F.col("cvec")).alias("_cn"),
            )
        ).alias("cents")
    )

    # argmax on the 6-decimal-quantized cosine — raw doubles differ from
    # the oracle engine's in the last ulp and flip near-ties (see
    # q_ns_knn_bruteforce); the reported score is the same quantized value
    def _cand(c):
        return F.struct(
            F.round(
                safe_cosine(
                    dot_product(F.col("embedding"), c["cvec"]),
                    F.col("_vn"),
                    c["_cn"],
                ),
                6,
            ).alias("cos"),
            (-c["cluster"]).alias("_nc"),
            c["cluster"].alias("cluster"),
        )

    out_cols = ["vec_id"] + (["embedding"] if carry_embedding else [])
    return (
        e.crossJoin(F.broadcast(cents))
        .withColumn("m", F.array_max(F.transform("cents", _cand)))
        .filter(F.col("m").isNotNull())
        .select(
            *out_cols,
            F.col("m.cluster").alias("cluster"),
            F.col("m.cos").alias("cos"),
        )
    )


def q_ns_kmeans_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed spherical k-means, two Lloyd rounds: assign every vector
    to its nearest (cosine) centroid, recompute centroids as per-dimension
    means, re-assign. Output: final (vec_id, cluster, cos).

    Cross-engine exactness (the hard part of differential-testing an
    iterative float algorithm): per-dimension sums accumulate in
    DECIMAL(28,10) — exact and order-independent, so partial-aggregation
    order can't perturb the mean — and only the final ``CAST(sum AS
    DOUBLE) / count`` drops to IEEE double, which is deterministic given
    identical inputs. The updated centroids round-trip through the driver
    as exact decimal strings (K×DIM values — same bounded-collect pattern
    as MLlib's own k-means; at 100 TB the per-iteration shuffle is the
    K×DIM-row partial aggregation, never the vectors).
    """
    emb = (
        scale_out(spark, load_table(spark, sf_dir, "embeddings"))
        .select("vec_id", "embedding")
        # cache (vector, norm) — both Lloyd passes read this frame, and
        # without it the second assignment re-runs the scan + spread
        # shuffle + norm fold (measured ~1s of the 2.6s at sf0.1). Lazy
        # persist, not an eager checkpoint: the first pass populates the
        # cache while doing its own work, so the query stays at two jobs
        # (update-collect, final assignment). Session-lifetime cache,
        # n×(DIM+1) doubles — same bounded pattern as the MinHash
        # signature table (dedup._cached_signatures).
        .withColumn("_vn", l2_norm(F.col("embedding")))
        .persist()
    )
    init = emb.filter(F.col("vec_id") < K_CLUSTERS).select(
        F.col("vec_id").alias("cluster"), F.col("embedding").alias("cvec")
    )
    assigned = _assign_clusters(emb, init)
    # Centroid update: explode to (cluster, dim, val), sum in exact decimal.
    upd = (
        assigned.select("cluster", F.posexplode("embedding").alias("dim", "val"))
        .groupBy("cluster", "dim")
        .agg(
            F.sum(
                F.col("val").cast("double").cast("decimal(28,10)")
            ).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    # K×DIM exact decimal sums → literal VALUES; the double division happens
    # JVM-side (CAST(decimal AS DOUBLE)/count), mirroring the oracle's.
    values = ", ".join(
        f"({r['cluster']}, {r['dim'] + 1}, CAST('{r['s']}' AS DECIMAL(38,10)), {r['n']}L)"
        for r in upd
    )
    cent2 = spark.sql(
        f"""
        SELECT CAST(cluster AS BIGINT) AS cluster, transform(
                   array_sort(collect_list(struct(dim, mean))),
                   x -> x.mean
               ) AS cvec
        FROM (
            SELECT cluster, dim, CAST(s AS DOUBLE) / n AS mean
            FROM VALUES {values} AS t(cluster, dim, s, n)
        )
        GROUP BY cluster
        """
    )
    return _assign_clusters(emb, cent2, carry_embedding=False).select(
        "vec_id", "cluster", F.round("cos", 6).alias("cos")
    )


QUERIES = {
    "ns_knn_bruteforce": q_ns_knn_bruteforce,
    "ns_embed_neardup": q_ns_embed_neardup,
    "ns_ann_lsh_buckets": q_ns_ann_lsh_buckets,
    "ns_ann_ivf_topk": q_ns_ann_ivf_topk,
    "ns_kmeans_embed": q_ns_kmeans_embed,
}


def _hp_sign_sql(bit: int) -> str:
    """DuckDB expression for the same deterministic hyperplane sign bit:
    identical 1e-9 integer quantization (see hyperplane_sign_bit — both
    engines' ``round`` is half-away-from-zero on bit-identical IEEE
    products, so the bigint terms, their exact sum, and the sign agree)."""
    import hashlib

    terms = []
    for i in range(DIM):
        h = hashlib.md5(f"hp:{bit}:{i}".encode()).hexdigest()
        sign = "+" if h[i % 32] >= "8" else "-"
        terms.append(
            f"{sign} CAST(round(CAST(embedding[{i + 1}] AS DOUBLE)"
            f" * {LSH_QUANTUM:.1f}) AS BIGINT)"
        )
    return (
        "CASE WHEN (" + " ".join(terms) + ") >= 0 THEN '1' ELSE '0' END"
    )


_BUCKET_SQL = " || ".join(_hp_sign_sql(j) for j in range(LSH_BITS))

# Zero-norm guard on BOTH engines: DuckDB's list_cosine_similarity
# returns -1.0 for a zero vector (Spark's ANSI division would raise), so
# the oracle spells the same "degenerate vectors score 0" definition as
# functions.safe_cosine — STRUCTURALLY identical: the guard tests
# sqrt(Σa²)·sqrt(Σb²) = 0, the exact denominator safe_cosine divides by.
# Guarding on the product of SQUARED norms instead (the pre-round-5 form)
# underflows to 0.0 for subnormal-scale vectors (Σa² ≈ 1e-200) where the
# sqrt product does not — a parity divergence on extreme magnitudes
# (ADVICE r4).
_COS_SQL = (
    "(CASE WHEN sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))) = 0"
    " THEN 0.0"
    " ELSE list_cosine_similarity(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " END)"
)

ORACLES = {
    "ns_knn_bruteforce": f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS qvec
            FROM embeddings WHERE vec_id < {N_QUERIES}
        ),
        scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   {_COS_SQL.format(a="q.qvec", b="e.embedding")} AS cos
            FROM q, embeddings e
            WHERE e.vec_id <> q.query_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY round(cos, 6) DESC, neighbor_id) AS INT) AS rank,
                   round(cos, 6) AS cos
            FROM scored
        )
        SELECT query_id, neighbor_id, rank, cos
        FROM ranked WHERE rank <= {TOP_K}
    """,
    "ns_embed_neardup": f"""
        WITH centroids AS (
            SELECT vec_id AS centroid_id, embedding AS cvec
            FROM embeddings WHERE vec_id < {N_CELLS}
        ),
        assigned AS (
            SELECT e.vec_id, c.centroid_id AS cell,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY round({_COS_SQL.format(a="e.embedding", b="c.cvec")}, 6)
                           DESC, c.centroid_id) AS cell_rank
            FROM embeddings e, centroids c
        ),
        probed AS (SELECT vec_id, cell FROM assigned WHERE cell_rank <= {N_PROBE}),
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM probed a JOIN probed b USING (cell)
            WHERE a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b
        FROM cand
        JOIN embeddings x ON x.vec_id = cand.vec_a
        JOIN embeddings y ON y.vec_id = cand.vec_b
        WHERE {_COS_SQL.format(a="x.embedding", b="y.embedding")} >= {NEARDUP_COS}
    """,
    "ns_ann_lsh_buckets": f"""
        WITH coded AS (
            SELECT vec_id, {_BUCKET_SQL} AS bucket FROM embeddings
        )
        SELECT bucket, count(*) AS n_vectors, min(vec_id) AS min_vec_id
        FROM coded GROUP BY bucket
    """,
    "ns_ann_ivf_topk": f"""
        WITH centroids AS (
            SELECT vec_id AS centroid_id, embedding AS cvec
            FROM embeddings WHERE vec_id < {N_CELLS}
        ),
        assigned AS (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY round({_COS_SQL.format(a="e.embedding", b="c.cvec")}, 6)
                           DESC, c.centroid_id) AS cell_rank
            FROM embeddings e, centroids c
        ),
        lists AS (
            SELECT centroid_id AS cell, vec_id AS neighbor_id, embedding
            FROM assigned WHERE cell_rank = 1
        ),
        probes AS (
            SELECT vec_id AS query_id, embedding AS qvec, centroid_id AS cell
            FROM assigned
            WHERE vec_id < {N_QUERIES} AND cell_rank <= {N_PROBE}
        ),
        scored AS (
            SELECT p.query_id, l.neighbor_id,
                   {_COS_SQL.format(a="p.qvec", b="l.embedding")} AS cos
            FROM probes p JOIN lists l USING (cell)
            WHERE l.neighbor_id <> p.query_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY round(cos, 6) DESC, neighbor_id) AS INT) AS rank,
                   round(cos, 6) AS cos
            FROM scored
        )
        SELECT query_id, neighbor_id, rank, cos
        FROM ranked WHERE rank <= {TOP_K}
    """,
    # Two unrolled Lloyd rounds; per-dimension means via the same exact
    # DECIMAL(28,10) accumulation as the Spark side, double division last.
    "ns_kmeans_embed": f"""
        WITH init AS (
            SELECT vec_id AS cluster, CAST(embedding AS DOUBLE[]) AS cvec
            FROM embeddings WHERE vec_id < {K_CLUSTERS}
        ),
        a1 AS (
            SELECT vec_id, cluster FROM (
                SELECT e.vec_id, c.cluster,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY round({_COS_SQL.format(a="e.embedding", b="c.cvec")}, 6)
                               DESC, c.cluster) AS r
                FROM embeddings e, init c
            ) WHERE r = 1
        ),
        upd AS (
            SELECT a1.cluster, d.i AS dim,
                   CAST(sum(CAST(CAST(e.embedding[d.i] AS DOUBLE)
                                 AS DECIMAL(28,10))) AS DOUBLE)
                       / count(*) AS mean
            FROM a1 JOIN embeddings e USING (vec_id), range(1, {DIM + 1}) d(i)
            GROUP BY a1.cluster, d.i
        ),
        cent2 AS (
            SELECT CAST(cluster AS BIGINT) AS cluster,
                   list(mean ORDER BY dim) AS cvec
            FROM upd GROUP BY cluster
        ),
        a2 AS (
            SELECT vec_id, cluster, cos FROM (
                SELECT e.vec_id, c.cluster,
                       {_COS_SQL.format(a="e.embedding", b="c.cvec")} AS cos,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY round({_COS_SQL.format(a="e.embedding", b="c.cvec")}, 6)
                               DESC, c.cluster) AS r
                FROM embeddings e, cent2 c
            ) WHERE r = 1
        )
        SELECT vec_id, cluster, round(cos, 6) AS cos FROM a2
    """,
}


# ---------------------------------------------------------------------------
# ns_semdedup_prune — semantic pruning over the k-means clusters
# ---------------------------------------------------------------------------

SEMDEDUP_DROP_PCT = 25  # drop the most-prototypical quarter per cluster


def q_ns_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic prune over the certified k-means clusters: per cluster,
    rank by prototypicality (cos DESC, vec_id ASC) and drop the integer
    ``n * PCT // 100`` head. The straggler math is integer on both
    engines; cos is the certified round-6 value, so rank ties are
    deterministic.

    SemDeDup/prototype-style pruning (Abbas et al. 2023 "SemDeDup",
    Sorscher et al. 2022 "Beyond neural scaling laws": within semantic
    clusters, the most prototypical examples are the most redundant):
    the ``ns_kmeans_embed`` assignment is reused, not re-derived, and
    the harder tail of each cluster is kept. Scale shape: the k-means
    assignment is the priced pipeline (two Lloyd rounds, K×DIM partial
    aggs); the prune adds ONE window over the cluster key, which never
    sees the vectors, only (vec_id, cluster, cos)."""
    assigned = q_ns_kmeans_embed(spark, sf_dir)
    w_rank = Window.partitionBy("cluster").orderBy(
        F.desc("cos"), F.asc("vec_id")
    )
    w_all = Window.partitionBy("cluster")
    ranked = assigned.select(
        "vec_id",
        "cluster",
        "cos",
        F.row_number().over(w_rank).alias("proto_rank"),
        F.count(F.lit(1)).over(w_all).alias("n_cluster"),
    )
    # integer floor division, spelled to match the oracle's `//`
    n_drop = F.floor(
        (F.col("n_cluster") * SEMDEDUP_DROP_PCT) / F.lit(100)
    ).cast("long")
    return ranked.select(
        "vec_id",
        "cluster",
        "cos",
        "proto_rank",
        n_drop.alias("n_drop"),
        (F.col("proto_rank") > n_drop).alias("kept"),
    )


QUERIES["ns_semdedup_prune"] = q_ns_semdedup_prune
# the certified k-means oracle verbatim as the base CTE — one derivation,
# two consumers, zero drift
ORACLES["ns_semdedup_prune"] = f"""
        WITH base AS ({ORACLES["ns_kmeans_embed"]}),
        ranked AS (
            SELECT vec_id, cluster, cos,
                   CAST(row_number() OVER (
                       PARTITION BY cluster
                       ORDER BY cos DESC, vec_id
                   ) AS INT) AS proto_rank,
                   count(*) OVER (PARTITION BY cluster) AS n_cluster
            FROM base
        )
        SELECT vec_id, cluster, cos, proto_rank,
               CAST(n_cluster * {SEMDEDUP_DROP_PCT} // 100 AS BIGINT)
                   AS n_drop,
               proto_rank > (n_cluster * {SEMDEDUP_DROP_PCT} // 100)
                   AS kept
        FROM ranked
    """
