"""Physical-plan assertions: the plans we need at 100 TB must actually
materialize at any SF — pushdown reaches the scan, projection prunes the
read schema, small dims broadcast, aggregation combines map-side."""

from __future__ import annotations

import pytest

from duckdb_parquet_parser_spark.operators import collect_queries
from duckdb_parquet_parser_spark.plans import (
    assert_broadcast,
    assert_pruned_schema,
    assert_pushed_filter,
    formatted_plan,
)

QUERIES, _ = collect_queries()


@pytest.fixture(scope="module")
def plans(spark, sf_smoke):
    cache: dict[str, str] = {}

    def get(name: str) -> str:
        if name not in cache:
            cache[name] = formatted_plan(QUERIES[name](spark, sf_smoke))
        return cache[name]

    return get


def test_agg_filter_pushdown(spark, sf_smoke):
    df = QUERIES["rel_agg_q1"](spark, sf_smoke)
    assert_pushed_filter(df, "LessThanOrEqual(l_shipdate")


def test_agg_partial_before_shuffle(plans):
    """Map-side combine: partial_sum must run below the Exchange."""
    plan = plans("rel_agg_q1")
    assert "partial_sum" in plan
    assert plan.index("partial_sum") > plan.index("Exchange")  # numbered
    # in formatted output the tree lists final HashAggregate above
    # Exchange above partial HashAggregate; the details section then has
    # partial_sum under the lower-numbered node — both must exist
    assert plan.count("HashAggregate") >= 2


def test_projection_prunes_scan(spark, sf_smoke):
    df = QUERIES["r9_projection"](spark, sf_smoke)
    assert_pruned_schema(
        df, must_have=["p_partkey", "p_name"], must_not=["p_retailprice"]
    )


def test_projection_no_shuffle(plans):
    assert "Exchange" not in plans("r9_projection")


def test_star_join_broadcasts_dims(spark, sf_smoke):
    """TPC-H q5-style join: every dimension (region/nation/customer/
    supplier) should broadcast — no sort-merge join at any SF for dims."""
    df = QUERIES["rel_join_q5"](spark, sf_smoke)
    assert_broadcast(df, n_broadcasts=3)
    assert "CartesianProduct" not in formatted_plan(df)


def test_regex_filter_prunes_columns(spark, sf_smoke):
    df = QUERIES["f1_regex_filter"](spark, sf_smoke)
    assert_pruned_schema(df, must_have=["l_returnflag"], must_not=["l_comment"])


def test_asof_join_pushes_type_filters(spark, sf_smoke):
    df = QUERIES["rel_asof_join"](spark, sf_smoke)
    assert_pushed_filter(df, "EqualTo(event_type,")


def test_knn_no_cartesian(plans):
    """Brute-force top-k joins a broadcast query-vector side — never a
    cartesian over the full embedding table."""
    assert "CartesianProduct" not in plans("ns_knn_bruteforce")


def test_minhash_no_cartesian_no_nested_loop(plans):
    plan = plans("ns_dedup_minhash")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "r10_positional_stream",
        "r10_file_order",
        "x1_chunk_index",
        "x1_tuple_to_chunk",
        "f1_page_report",
        "r4_rowgroup_scan",
    ],
)
def test_positional_queries_scale_plan(plans, name):
    """The declared positional/chunk queries must run the prefix-sum plan:
    no single-task global-window Exchange, no Python serialization in the
    data path (VERDICT r1 items #2-#4). A `Scan ExistingRDD` IS expected
    since the two-pass frame is localCheckpoint-ed (one JVM-side
    materialization shared by both passes — the cross-plan consistency
    fix, see operators/positional.py `_with_partition_index`); the
    original ban targeted df.rdd round-trips through Python, which the
    Python-marker assertions still cover."""
    plan = plans(name)
    assert "Exchange SinglePartition" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas"):
        assert marker not in plan


def test_simhash_pairs_equi_join_only(plans):
    """The OR-banding is expressed as a union of equi-joins; a nested-loop
    join here would be quadratic in documents at scale."""
    plan = plans("ns_dedup_simhash_pairs")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_r4_fixture_has_multiple_row_groups(spark, sf_smoke):
    """r4's row-group scoping must be discriminated: the rewritten fixture
    has >=2 row groups and the scoped read is a strict subset of the table."""
    import pyarrow.parquet as pq

    from duckdb_parquet_parser_spark.inspect import multi_rowgroup_documents
    from duckdb_parquet_parser_spark.operators.scan import q_r4_rowgroup_scan

    path = multi_rowgroup_documents(sf_smoke)
    n_rg = pq.ParquetFile(path).metadata.num_row_groups
    assert n_rg >= 2, n_rg
    n_scoped = q_r4_rowgroup_scan(spark, sf_smoke).count()
    n_total = pq.ParquetFile(path).metadata.num_rows
    assert 0 < n_scoped < n_total


def test_minhash_signature_computed_once(spark, sf_smoke):
    """Regression guard for the r2 bench regression: the 16-md5-transform
    signature subtree must be materialized once (persisted) and read back
    by every consumer — not recomputed per join side. The executed plan
    must contain InMemoryTableScans and at most ONE signature-transform
    subtree (inside the InMemoryRelation's cached plan)."""
    from duckdb_parquet_parser_spark.operators import dedup

    df = dedup.q_ns_dedup_minhash(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both band-join sides read the persisted signature table
    assert plan.count("InMemoryTableScan") >= 2, plan
    # the h15 signature expression appears only inside InMemoryRelation
    # printouts (each prints the cached plan once cold, twice after
    # materialization) — never as a live subtree outside the cache
    n_imr = plan.count("InMemoryRelation")
    assert 1 <= plan.count("md5(cast(concat(15:") <= 2 * n_imr, plan


def test_no_row_at_a_time_python_anywhere(spark, sf_smoke):
    """Engine-wide invariant: no declared query may plan a row-at-a-time
    Python UDF (BatchEvalPython). Arrow-batched nodes (ArrowEvalPython,
    FlatMapGroupsInPandas, MapInPandas) are the only allowed Python entry
    points. Streaming queries are excluded — building them executes the
    stream; their microbatch plans reuse the batch expressions asserted
    here."""
    for name, fn in QUERIES.items():
        if name.startswith("streaming_"):
            continue
        plan = formatted_plan(fn(spark, sf_smoke))
        assert "BatchEvalPython" not in plan, name


def test_scale_out_repartitions_only_single_split_inputs(spark, sf_smoke):
    """scale_out spreads a single-split fixture scan with one round-robin
    repartition, is a no-op once the split estimate reaches the cluster
    parallelism, and never triggers a driver-side RDD conversion while
    building the query (VERDICT r2 #8)."""
    from duckdb_parquet_parser_spark.catalog import load_table, scale_out

    df = load_table(spark, sf_smoke, "documents")
    plan = scale_out(spark, df)._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan  # small input: spread

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        # Shrink the split size so the same file estimates as many splits —
        # the spread must then be a no-op (the 100 TB behavior).
        spark.conf.set(key, "1024b")
        plan_big = (
            scale_out(spark, df)._jdf.queryExecution().executedPlan().toString()
        )
        assert "RoundRobinPartitioning" not in plan_big
    finally:
        spark.conf.set(key, old)


def test_partitioned_read_prunes_partitions(spark, sf_smoke):
    """The hive-partitioned events read must prune to one event_type
    directory: the scan's PartitionFilters carry the predicate and the
    data filter is not re-applied post-scan."""
    from duckdb_parquet_parser_spark.sources.formats import q_src_partitioned_read

    df = q_src_partitioned_read(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the partition predicate must appear inside PartitionFilters
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "purchase" in pf, pf


def test_exists_q4_plans_semi_join(plans):
    """Correlated EXISTS is a left-semi join with the lateness predicate
    as a residual condition — never a full join + distinct."""
    plan = plans("rel_exists_q4")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_corr_scalar_q17_broadcasts_part(plans):
    """The part dimension broadcasts; the lineitem↔per-part-agg join is
    the only shuffle pair."""
    plan = plans("rel_corr_scalar_q17")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_group_in_q18_aggregates_once_topk(plans):
    """The grouped-HAVING side aggregates lineitem once and the top-10 is
    TakeOrderedAndProject (per-partition heaps), not a global Sort."""
    plan = plans("rel_group_in_q18")
    assert "TakeOrderedAndProject" in plan
    assert "partial_sum" in plan


def test_multi_exists_q21_single_orderkey_shuffle(plans):
    """Q21's EXISTS + NOT EXISTS double correlation must resolve from ONE
    orderkey exchange (the window rewrite): one lineitem scan, one
    hashpartitioning(l_orderkey) exchange, one Window node, broadcast
    dims, no cartesian — the written-out semi/anti self-join measured 3
    scans + 3 orderkey exchanges (Catalyst specializes each side; see
    q_rel_multi_exists_q21's docstring)."""
    plan = plans("rel_multi_exists_q21")
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("hashpartitioning(l_orderkey") == 1
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # supplier/nation dims broadcast
    assert "TakeOrderedAndProject" in plan


def test_outer_hist_q13_aggregates_below_left_join(plans):
    """Q13's plan contract (VERDICT r9 #3): the priority filter lives on
    the join's RIGHT side only and reaches the orders scan as a pushed
    filter; orders pre-aggregate to one row per custkey BELOW the left
    join (the shuffle moves |customers| rows, not |orders|); customer
    scans a single column; no cartesian anywhere."""
    plan = plans("rel_outer_hist_q13")
    assert "Not(EqualTo(o_orderpriority,4-NOT SPECIFIED))" in plan
    assert "LeftOuter" in plan
    # exactly one custkey exchange: the per-custkey partial/final count
    # pair under the join's build side
    assert plan.count("hashpartitioning(o_custkey") == 1
    assert "partial_count" in plan
    assert "struct<c_custkey:bigint>" in plan  # customer column-pruned
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_anti_avg_q22_broadcasts_threshold_and_plans_anti_join(plans):
    """Q22's plan contract (VERDICT r9 #3): the scalar AVG subquery
    aggregates to ONE row and rides a broadcast nested-loop cross join
    (the only non-equi join in the plan); the NOT-EXISTS is a broadcast
    LEFT-ANTI hash join on custkey; both selective predicates reach
    their parquet scans."""
    plan = plans("rel_anti_avg_q22")
    assert "LeftAnti" in plan
    tree = plan.split("\n\n")[0]  # node tree; details repeat node names
    assert tree.count("BroadcastNestedLoopJoin") == 1  # 1-row threshold only
    assert "EqualTo(o_orderpriority,1-URGENT)" in plan
    assert "GreaterThan(c_acctbal,0.0)" in plan
    assert "CartesianProduct" not in plan


def test_cluster_canonical_one_component_exchange(plans):
    """Canonical selection adds exactly ONE hash exchange on `component`
    on top of the CC labels — the cluster-size window, the quality-rank
    window, and the rn=1 filter all share it — and Spark pushes the rn=1
    filter into a WindowGroupLimit (top-1 per cluster before the full
    rank materializes). No cartesian, no nested loop."""
    plan = plans("ns_dedup_cluster_canonical")
    assert plan.count("hashpartitioning(component") == 1
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_window_stays_jvm_side(plans):
    """The time-RANGE frame plans a Window over one hash partitioning on
    user_id — no Python, no extra shuffle beyond the window partition."""
    plan = plans("rel_window_range_time")
    assert "Window" in plan
    assert "Python" not in plan
    assert plan.count("Exchange") <= 2  # partition hash (+ AQE read)


def test_dupgram_profile_zero_shuffle(plans):
    """The duplication profile is a pure per-row projection: the ONLY
    permitted Exchange is scale_out's round-robin spread of the
    single-split fixture scan (a no-op on real multi-split corpora —
    round 5; without it the per-row n-gram stage serialized on one core).
    No key-based shuffle anywhere — the embarrassingly-parallel shape it
    must keep at 100 TB."""
    plan = plans("ns_dupgram_profile")
    tree = plan.split("\n\n")[0]  # node tree; details repeat node names
    assert tree.count("Exchange") == 1
    assert "RoundRobinPartitioning" in plan
    assert "hashpartitioning" not in plan
    assert "Python" not in plan


def test_shared_ngrams_single_gram_shuffle_topk(plans):
    """Cross-doc shared n-grams: map-side partial distinct below the one
    gram-keyed Exchange, top-k via TakeOrderedAndProject."""
    plan = plans("ns_shared_ngrams")
    assert "TakeOrderedAndProject" in plan
    assert "partial" in plan.lower()


def test_embed_neardup_per_cell_verify_no_pair_join(plans):
    """Round-6 shape: candidate generation AND exact-cosine verification
    run per IVF cell inside one Arrow-batched applyInPandas kernel
    (similarity._verify_cell_impl), so the plan has NO pair-level join at
    all — each embedding crosses the Python boundary once per probed
    cell, never once per candidate pair (the round-5 plan's dominant
    cost) — and no row-at-a-time Python anywhere. The only non-equi join
    left is the broadcast N_CELLS centroid assignment."""
    plan = plans("ns_embed_neardup")
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan
    # the old pair-level shuffle join (and any distinct above it) is gone
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["ns_dupgram_profile", "ns_shared_ngrams"])
def test_ngram_stats_spread_before_gram_generation(plans, name):
    """The per-row n-gram stage must not serialize on a single input
    split: scale_out plants a round-robin repartition below the gram
    expressions on small fixtures (flat 4→32-core line without it,
    round-5 scaling sweep). slice+array_join is the gram spelling — the
    element_at probe chain was 4× slower."""
    plan = plans(name)
    assert "RoundRobinPartitioning" in plan
    assert "slice(" in plan and "array_join" in plan


def test_q20_single_fact_exchange_and_broadcast_semis(plans):
    """The Q20 shape's scale contract (relational_q20.py): the filtered
    part list and the qualified-supplier set both ride BROADCAST
    left-semi joins, the p_name prefix filter is pushed into the part
    scan, and the lineitem fact table passes through exactly ONE
    shuffle — the (suppkey, partkey) hash aggregate with a map-side
    partial below it."""
    plan = plans("rel_nested_semi_q20")
    tree = plan.split("\n\n")[0]  # node names repeat in the details
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree
    assert "StartsWith(p_name" in plan  # pushed to the part scan
    assert "partial_sum" in plan  # map-side combine below the exchange
    # one fact shuffle (+ the tiny distinct's): every other movement is
    # a BroadcastExchange, which ships dimension rows, not the fact table
    shuffles = [
        ln for ln in tree.splitlines()
        if "Exchange" in ln
        and "Broadcast" not in ln
        and "Reused" not in ln
    ]
    assert len(shuffles) <= 2, shuffles


def test_q7_single_fact_exchange(plans):
    """Q7's scale contract: both nation-filtered dim subsets broadcast
    (supplier and customer shrink to two nations before touching facts),
    the shipdate window is pushed into the lineitem scan, and the only
    big exchange is the lineitem⋈orders orderkey join."""
    plan = plans("rel_volume_q7")
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "CartesianProduct" not in tree
    assert "GreaterThanOrEqual(l_shipdate" in plan  # pushed window
    assert "partial_sum" in plan
    shuffles = [
        ln for ln in tree.splitlines()
        if "Exchange" in ln
        and "Broadcast" not in ln
        and "Reused" not in ln
    ]
    # at the fixture SF even orders broadcasts (only the group-by
    # exchange remains); at scale the orderkey join adds two sides
    assert len(shuffles) <= 3, shuffles


def test_disjunctive_q19_pushes_or_to_both_scans(plans):
    """The OR-across-the-join must be split into per-table superset
    disjunctions and pushed into BOTH parquet scans (quantity ranges to
    lineitem, brand/size conjuncts to part) — the point of the Q19
    shape; a plan that evaluates the predicate only above the join reads
    both tables in full."""
    plan = plans("rel_disjunctive_q19")
    # formatted explain: one "(n) Scan parquet" node per table, each with
    # its own PushedFilters line in the details section
    scans = [b for b in plan.split("Scan parquet") if "PushedFilters" in b]
    pushed = {}
    for b in scans:
        lines = b.splitlines()
        filt = next(ln for ln in lines if "PushedFilters" in ln)
        schema = next(ln for ln in lines if "ReadSchema" in ln)
        key = "lineitem" if "l_quantity" in schema else (
            "part" if "p_brand" in schema else "?"
        )
        pushed[key] = filt
    assert "lineitem" in pushed and "part" in pushed, pushed
    assert "Or(" in pushed["lineitem"]
    assert "Or(" in pushed["part"]
    # part is the broadcast side — no shuffle join for a dimension table
    assert "BroadcastHashJoin" in plan


def test_components_pipeline_job_budget(spark, sf_smoke):
    """The components waiver's machine-independent leg (VERDICT r9 #4,
    restated condition accepted as final in round 9; budget RESTATED
    round 13 for the convergent-CC migration, VERDICT r12 #3): the full
    ns_dedup_components pipeline must schedule AT MOST 30 Spark jobs
    (AQE stage materializations + collect) — measured 29 at sf0.1: the
    r9-accepted 20 plus the convergence price (one label checkpoint,
    ~4 stationarity-probe AQE jobs for the single CC_ROUNDS-sized block
    the SimHash graph needs — tests/test_dedup_scale.py pins block
    count = 1 — and the block's AQE materializations surfacing as their
    own jobs instead of folding into the consumer's). Floor-normalized:
    30 × ~0.164 s/job ≈ 4.9 s, under the waiver's 5 s leg; the WALL
    legs held (warm_shared 3.23 s shipped window / 2.79 s probe window
    vs r12's 3.38 s, warm_vs_med 1.30 ≤ 1.5 — BENCH_NOTES r13), so the
    extra scheduled jobs are bookkeeping granularity, not added work.
    Job count is plan-structural
    so this guards the waiver without re-litigating per-machine wall
    clocks. Counted via statusTracker over a dedicated job group, memos
    cleared so the count covers the whole pipeline, not a warm remainder.

    Runs at the bench SF (sf0.1) where the waiver is defined: the
    single-split sf0.001 fixture schedules exactly one extra job — the
    scale_out round-robin spread that disappears on multi-split inputs
    (measured 21 vs 20, round 10) — so asserting there would guard the
    wrong number."""
    import os

    from duckdb_parquet_parser_spark.operators.dedup import (
        clear_simhash_memos,
        q_ns_dedup_components,
    )

    bench_sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.isdir(bench_sf):
        pytest.skip(f"bench SF dir {bench_sf} not present")
    spark.catalog.clearCache()
    clear_simhash_memos()
    sc = spark.sparkContext
    group = "components-job-budget"
    sc.setJobGroup(group, "count components stage-jobs", False)
    try:
        q_ns_dedup_components(spark, bench_sf).collect()
    finally:
        sc.setJobGroup(None, None, False)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    # RESTATED round 17 (optimization round, −4 under the r16 budget):
    # the ceiling-sizing count job moved out of the happy path (it now
    # runs only when the constant budget is exhausted —
    # connected_components_converged extend_max_rounds) and the
    # stationarity probe's propagation-round spelling became the
    # equivalent edge-disagreement count (8 → 5 probe jobs). Measured
    # 26 at sf0.1 (OPTIMIZATION_r17.md; was 31 in the r16 bench).
    assert 0 < len(jobs) <= 28, (
        f"components pipeline scheduled {len(jobs)} jobs; the restated "
        f"waiver condition is <= 28 (OPTIMIZATION_r17.md)"
    )


@pytest.mark.parametrize(
    "name,budget",
    [
        # Stated-up-front job budgets for the media cluster pipelines
        # (VERDICT r10 #2 condition), last restated round 17 (measured
        # image/audio 16 at sf0.1). They now run the converged CC engine
        # (image/audio in 2-round blocks, video in CC_ROUNDS-round
        # blocks); its observed stop rule skips the edge probe when a
        # block's last round changed nothing, which keeps them inside
        # the same budgets. Same machine-independent guard discipline as
        # the ns_dedup_components waiver.
        ("ns_mm_image_dedup_cluster", 18),
        ("ns_mm_audio_dedup_cluster", 18),
        ("ns_mm_video_dedup_cluster", 24),
    ],
)
def test_media_cluster_job_budget(spark, name, budget):
    import os

    from duckdb_parquet_parser_spark.operators import collect_queries

    bench_sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.isdir(bench_sf):
        pytest.skip(f"bench SF dir {bench_sf} not present")
    queries, _ = collect_queries()
    if name == "ns_mm_video_dedup_cluster":
        # r17: the video pipeline joins the persisted frames artifact —
        # pre-build it OUTSIDE the counted group (bench does the same in
        # its maintenance block: the ensure-write is the prior ingest
        # run's work, not this query's recurring budget)
        from duckdb_parquet_parser_spark.operators.staged_r17_video import (
            ensure_frames_artifact,
        )

        ensure_frames_artifact(spark, bench_sf)
    spark.catalog.clearCache()
    sc = spark.sparkContext
    group = f"media-cluster-budget-{name}"
    sc.setJobGroup(group, "count media-cluster stage-jobs", False)
    try:
        queries[name](spark, bench_sf).write.format("noop").mode(
            "overwrite"
        ).save()
    finally:
        sc.setJobGroup(None, None, False)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= budget, (
        f"{name} scheduled {len(jobs)} jobs; stated budget is {budget}"
    )


@pytest.mark.parametrize(
    "name",
    [
        "ns_mm_image_neardup",
        "ns_mm_audio_neardup",
        "ns_mm_video_neardup",
        # the round-11 cluster queries fan the signature table out to
        # THREE subtrees (both band-join sides + the quality lookup) —
        # the one-materialization contract matters even more there
        "ns_mm_image_dedup_cluster",
        "ns_mm_audio_dedup_cluster",
        "ns_mm_video_dedup_cluster",
    ],
)
def test_neardup_joins_decode_exactly_once(plans, name):
    """The near-dup pipelines materialize their hash/fingerprint tables
    before fanning out (band-join sides + count sides), so the executed
    plan must contain NO Python decode node at all. Image/audio
    localCheckpoint at build time (the decode ran once; every subtree
    reads the materialized RDD — without it the round-10 video pipeline
    re-decoded every payload four times, 7.6 s -> 3.8 s). The VIDEO
    rows since r17 read the persisted frames artifact instead: their
    fan-out subtrees are pruned parquet scans of the ~20-bytes/frame
    artifact, and no RDD pin is needed because nothing Python-side can
    be recomputed."""
    plan = plans(name)
    assert "MapInPandas" not in plan, name
    if name == "ns_mm_video_neardup":
        assert "Scan parquet" in plan, name
    elif name == "ns_mm_video_dedup_cluster":
        # pairs come from artifact scans, but the CC stage checkpoints
        # its label frame, so the FINAL plan may read either shape
        assert ("Scan parquet" in plan) or ("ExistingRDD" in plan), name
    else:
        assert "ExistingRDD" in plan, name


def test_embed_cluster_job_budget_and_convergence(spark):
    """VERDICT r11 missing #1 conditions: a STATED job budget for the
    convergent-CC embed cluster (pair stage ≈ 7 stage-jobs riding
    ns_embed_neardup's certified plan, then per unrolled 2-round block
    one label checkpoint + ≤ 16 AQE stage-jobs + the round-13
    stationarity probe's ~5 AQE jobs — one propagation round + changed
    count, the price of detecting convergence AT the block it happens
    instead of one confirming block later: jobs ≤ 12 + 22×blocks; the
    sf0.1 measurement is 53 jobs over 2 blocks where the r12 sum-probe
    needed 3 blocks) and the sf0.1 giant-component case exercised:
    the 1999-node cosine chain that killed the fixed-round variant must
    reach its provable fixpoint in O(log diameter) doubling rounds, not
    CC_ROUNDS-many guesses."""
    import os

    from pyspark.sql import functions as F

    from duckdb_parquet_parser_spark.operators.embed_cluster import (
        EMBED_CC_MAX_ROUNDS,
        embed_components_with_rounds,
    )

    bench_sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.isdir(bench_sf):
        pytest.skip(f"bench SF dir {bench_sf} not present")
    spark.catalog.clearCache()
    sc = spark.sparkContext
    group = "embed-cluster-budget"
    sc.setJobGroup(group, "count embed-cluster stage-jobs", False)
    try:
        comp, rounds = embed_components_with_rounds(spark, bench_sf)
        top = (
            comp.groupBy("component")
            .count()
            .orderBy(F.desc("count"))
            .first()
        )
        nodes = comp.count()
    finally:
        sc.setJobGroup(None, None, False)
    assert rounds <= EMBED_CC_MAX_ROUNDS, (
        f"fixpoint took {rounds} rounds (> {EMBED_CC_MAX_ROUNDS}) — the "
        "pair graph's diameter grew past the stated budget"
    )
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    # r17 restatement: blocks are EMBED_CC_PROBE_EVERY=4 rounds deep (the
    # sf0.1 fixpoint lands at round 4, so one block + one probe replace
    # the former two of each — 50 → 32 measured CC-stage jobs); a 4-round
    # block carries ~24 jobs (checkpoint + unrolled AQE stages + the
    # edge-disagreement probe) on top of the ~12-job pair stage.
    from duckdb_parquet_parser_spark.operators.embed_cluster import (
        EMBED_CC_PROBE_EVERY,
    )

    blocks = -(-rounds // EMBED_CC_PROBE_EVERY)
    budget = 12 + 24 * blocks
    assert 0 < len(jobs) <= budget, (
        f"embed cluster scheduled {len(jobs)} jobs over {rounds} rounds "
        f"({blocks} blocks); stated budget is 12 + 24×{blocks} = {budget}"
    )
    if bench_sf.rstrip("/").endswith("sf0.1"):
        # the documented giant component: one 1999-node chain
        assert nodes == 1999 and top["count"] == 1999, (nodes, top)


def test_q2_q11_single_fact_exchange_and_pushdown(spark, sf_smoke):
    """Round-12 Q2/Q11 scale contracts (relational_q2.py). Visible plan
    (above the lineage cut): every join is a broadcast, exactly ONE
    non-broadcast exchange survives. Below the cut (the split-out
    un-checkpointed aggregates): the p_size filter reaches the part
    scan, the fact aggregate runs with a map-side partial, and the only
    exchange is the grouped aggregate's."""
    from pyspark.sql import functions as F

    from duckdb_parquet_parser_spark.catalog import load_table
    from duckdb_parquet_parser_spark.operators.relational_q2 import (
        Q2_PART_SIZE,
        Q2_REGION,
        Q11_NATION_PREFIX,
        _q2_supply,
        _q11_grouped,
    )
    def non_broadcast_exchanges(plan: str) -> list[str]:
        tree = plan.split("\n\n")[0]
        return [
            ln.strip() for ln in tree.splitlines()
            if "Exchange" in ln
            and "Broadcast" not in ln
            and "Reused" not in ln
        ]

    # Q2's visible join-back is a broadcast hash join on (part, cost);
    # Q11's scalar threshold is a 1-ROW BroadcastNestedLoopJoin (a
    # no-condition join against the global aggregate — the Q22 broadcast
    # scalar shape, constant-size build side, never quadratic).
    for name, join_node in (
        ("rel_min_supplycost_q2", "BroadcastHashJoin"),
        ("rel_value_share_q11", "BroadcastNestedLoopJoin"),
    ):
        plan = formatted_plan(QUERIES[name](spark, sf_smoke))
        tree = plan.split("\n\n")[0]
        assert "SortMergeJoin" not in tree, name
        assert "CartesianProduct" not in tree, name
        assert join_node in tree, name
        assert len(non_broadcast_exchanges(plan)) <= 1, (
            name, non_broadcast_exchanges(plan)
        )

    # below-the-cut shapes
    li = load_table(spark, sf_smoke, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    parts = (
        load_table(spark, sf_smoke, "part")
        .filter(F.col("p_size") == Q2_PART_SIZE)
        .select("p_partkey")
    )
    region_supp = (
        load_table(spark, sf_smoke, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_smoke, "nation").join(
                    F.broadcast(
                        load_table(spark, sf_smoke, "region").filter(
                            F.col("r_name") == Q2_REGION
                        )
                    ),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    supply_plan = formatted_plan(_q2_supply(li, parts, region_supp))
    assert "EqualTo(p_size" in supply_plan  # pushed to the part scan
    assert "partial_min" in supply_plan  # map-side combine
    assert len(non_broadcast_exchanges(supply_plan)) == 1

    band_supp = (
        load_table(spark, sf_smoke, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_smoke, "nation").filter(
                    F.col("n_name").startswith(Q11_NATION_PREFIX)
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    grouped_plan = formatted_plan(_q11_grouped(li, band_supp))
    assert "partial_sum" in grouped_plan
    assert "LeftSemi" in grouped_plan  # the band prune never widens rows
    assert len(non_broadcast_exchanges(grouped_plan)) == 1

    # Q16: broadcast dim + broadcast LEFT ANTI exclusion; the distinct
    # aggregate's two-phase plan owns the only (≤2) fact exchanges, both
    # over the pre-aggregated (group keys, suppkey) frame
    q16_plan = formatted_plan(QUERIES["rel_supplier_cnt_q16"](spark, sf_smoke))
    q16_tree = q16_plan.split("\n\n")[0]
    assert "SortMergeJoin" not in q16_tree
    assert "BroadcastHashJoin" in q16_tree and "LeftAnti" in q16_tree
    assert "In(p_size" in q16_plan  # size set pushed to the part scan
    assert len(non_broadcast_exchanges(q16_plan)) <= 2, (
        non_broadcast_exchanges(q16_plan)
    )


def test_r13_curation_relational_plan_locks(spark, sf_smoke):
    """Round-13 registration scale contracts (operators/curation.py),
    same discipline as the Q2/Q11/Q16 locks: broadcast every small side,
    push the row-group-prunable predicates into the scans, at most ONE
    non-broadcast exchange per query, and Q10's top-K must be a
    TakeOrderedAndProject (never a global sort)."""
    from duckdb_parquet_parser_spark.operators.curation import QUERIES
    from duckdb_parquet_parser_spark.plans import formatted_plan

    def non_broadcast_exchanges(plan: str) -> list[str]:
        tree = plan.split("\n\n")[0]
        return [
            ln.strip() for ln in tree.splitlines()
            if "Exchange" in ln
            and "Broadcast" not in ln
            and "Reused" not in ln
        ]

    # Q15: the per-supplier aggregate is checkpointed (ExistingRDD); the
    # global max joins back as a 1-row broadcast, supplier broadcasts —
    # the only visible exchange is the max aggregate's own
    q15 = formatted_plan(QUERIES["rel_top_supplier_q15"](spark, sf_smoke))
    q15_tree = q15.split("\n\n")[0]
    assert "SortMergeJoin" not in q15_tree and "CartesianProduct" not in q15_tree
    assert q15_tree.count("BroadcastHashJoin") >= 2
    assert "ExistingRDD" in q15_tree  # the checkpointed fact aggregate
    assert len(non_broadcast_exchanges(q15)) <= 1, non_broadcast_exchanges(q15)

    # Q10: returnflag + the order-date window pushed to the scans, ONE
    # custkey exchange, customer⋈nation broadcast, TakeOrderedAndProject
    q10 = formatted_plan(QUERIES["rel_returned_top_q10"](spark, sf_smoke))
    q10_tree = q10.split("\n\n")[0]
    assert "TakeOrderedAndProject" in q10_tree
    assert "SortMergeJoin" not in q10_tree
    assert "EqualTo(l_returnflag,R)" in q10
    assert "GreaterThanOrEqual(o_orderdate" in q10
    assert len(non_broadcast_exchanges(q10)) == 1, non_broadcast_exchanges(q10)

    # source cap: the quality-logit join broadcasts; ONE hash exchange
    # on source feeds the rank window (the skew-safe salted variant is
    # the library path for megasources — per_source_keepers)
    cap = formatted_plan(QUERIES["ns_source_cap"](spark, sf_smoke))
    cap_tree = cap.split("\n\n")[0]
    assert "BroadcastHashJoin" in cap_tree
    assert "Window" in cap_tree
    assert len(non_broadcast_exchanges(cap)) == 1, non_broadcast_exchanges(cap)
