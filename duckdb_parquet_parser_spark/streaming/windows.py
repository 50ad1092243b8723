"""Structured-Streaming window aggregations over the events stream.

The aggregation *expressions* are shared with the batch module
(``operators.windows``) — streaming-batch equivalence is the Structured
Streaming contract, and the tests assert it: the streaming result (memory
sink, after ``processAllAvailable``) hash-matches the batch result and
therefore the same DuckDB oracle.

Two regimes:

- equivalence runs use ``complete`` output mode (no windows dropped, the
  final memory table is the full aggregation — equal to the batch result);
- the watermark/append run uses a short watermark and asserts append-mode
  semantics: a window emits exactly once, when the watermark (max seen
  event time − delay) passes its end — late windows stay open and never
  reach the sink.
"""

from __future__ import annotations

import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..operators.windows import sliding_agg, tumbling_agg
from ..session import env_positive_int
from .source import event_stream, stage_events

#: State partition counts for the stateful streaming runs — the
#: (microbatch × partition × state-store) commit cost is pure overhead
#: past the point where partitions cover key cardinality/cores, and the
#: results NEVER depend on the count (complete-mode aggs and the
#: append-mode join are partition-agnostic; oracle-pinned). Fixture
#: defaults measured r18 (quiet machine, 3 reps, identical output):
#: aggs 8 → 4 parts = 1.40 → 1.20 s enrich; join 4 → 2 parts =
#: 2.63 → 2.34 s (a stream-stream join keeps FOUR stores per
#: partition, so its commit bill scales steepest). At cluster scale set
#: the env overrides to track cores / key cardinality — the constants
#: are the local-fixture operating point, not a tuning ceiling.
STREAM_AGG_STATE_PARTITIONS = env_positive_int(
    "SPARK_GRAFT_STREAM_AGG_PARTITIONS", 4
)
STREAM_JOIN_STATE_PARTITIONS = env_positive_int(
    "SPARK_GRAFT_STREAM_JOIN_PARTITIONS", 2
)


def run_to_memory(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink; return
    the sink contents as a (batch) DataFrame. The checkpoint is scratch
    for a finished run — reclaimed on exit (the memory table is unaffected).
    """
    name = f"s{uuid.uuid4().hex[:12]}"
    ckpt = f"/tmp/spark_graft_streaming/ckpt/{name}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
        shutil.rmtree(ckpt, ignore_errors=True)
    return stream_df.sparkSession.table(name)


def _run_windowed_agg(agg: DataFrame, spark: SparkSession) -> DataFrame:
    """Complete-mode run with stream-sized state (round 6 — the
    q_streaming_enrich finding applied to the two window aggregations
    that still ran 8 × 32 state commits: a stateful agg pays one
    state-store commit per (microbatch × state partition) regardless of
    data volume, and these aggregates hold only #windows × #types groups.
    4 files per trigger × 8 partitions produces identical output —
    complete mode is the full aggregation either way — while still
    exercising cross-microbatch state handoff; measured 6.4 s → ~1.3 s
    at sf0.1 for tumbling. At 100 TB the conf scales with the cluster;
    the state stays #groups-sized either way."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(STREAM_AGG_STATE_PARTITIONS))
    try:
        return run_to_memory(agg, "complete")
    finally:
        spark.conf.set(key, old)


def streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-mode tumbling aggregation — batch-equivalent final state."""
    src = event_stream(spark, stage_events(spark, sf_dir), files_per_trigger=4)
    return _run_windowed_agg(tumbling_agg(src), spark)


def streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = event_stream(spark, stage_events(spark, sf_dir), files_per_trigger=4)
    return _run_windowed_agg(sliding_agg(src), spark)


def streaming_tumbling_append(
    spark: SparkSession, sf_dir: str, watermark: str = "6 hours"
) -> DataFrame:
    """Append-mode with a real watermark: only windows whose end < final
    watermark are emitted (the late-data-discard regime).

    Watermarks are only legal on TIMESTAMP (not NTZ); the session timezone
    is UTC, so the round-trip cast is value-preserving.
    """
    from pyspark.sql import functions as F

    src = event_stream(spark, stage_events(spark, sf_dir)).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = tumbling_agg(src.withWatermark("ts", watermark)).withColumn(
        "window_start", F.col("window_start").cast("timestamp_ntz")
    )
    return run_to_memory(out, "append")


def q_streaming_tumbling_rt(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming_tumbling(spark, sf_dir)


def q_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins the static
    customer dimension and aggregates per (market segment, event type) —
    the canonical "decorate a stream with reference data" pattern.

    Scale shape: Structured Streaming plans the static side as a regular
    broadcast hash join inside every microbatch — the dimension never
    shuffles and the stream stays partitioned by its source; only the
    post-join aggregation keeps (bounded, #groups-sized) state. The
    decimal sum keeps the double aggregate order-independent, so the
    finished complete-mode table equals the batch join+agg oracle.

    State sizing (same finding as :func:`q_streaming_join`): a stateful
    agg pays one state-store commit per (microbatch × state partition)
    regardless of data volume, and this aggregate holds only
    #segments × #types groups — 32 partitions × 8 single-file
    microbatches was pure commit overhead (measured 8.3 s at sf0.1;
    8 partitions × two 4-file microbatches produce identical output in
    ~1.7 s while still exercising cross-microbatch state handoff).
    At 100 TB the conf scales with the cluster; the state itself stays
    #groups-sized either way."""
    from pyspark.sql import functions as F

    from ..catalog import load_table
    from ..operators.windows import enrich_agg

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    src = event_stream(spark, stage_events(spark, sf_dir), files_per_trigger=4)
    # plan shared with the batch twin (operators.windows.enrich_agg);
    # _run_windowed_agg sizes the state partitions for the stream
    return _run_windowed_agg(enrich_agg(src, cust), spark)


def q_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time bounds: views matched to
    purchases by the same user within 30 minutes — the attribution/funnel
    join. Both sides carry watermarks and the join predicate bounds both
    event times, so state for either side is evicted once the watermark
    passes (bounded state — without the time bound a stream-stream join
    buffers forever). Inner-join append output is exactly the set of
    matched pairs, which equals the batch time-range join = the oracle.

    Scale shape: the join keys by user_id — a hash-partitioned stateful
    join, skew bounded by per-user event rates; the range predicate
    prunes state by event time, not by size.

    State sizing: a stateful join pays one state-store commit per
    (microbatch × state partition) regardless of data volume, so the
    state partition count must track key cardinality/cluster cores, not
    the engine's batch-shuffle default — at fixture scale 32 partitions
    of ~150 events each was pure commit overhead (measured 40 s → 5.5 s
    with 8 partitions × 4 microbatches, identical output). At 100 TB the
    same conf scales up with the cluster.

    Microbatch count is the other commit-overhead axis (the
    ``streaming_enrich`` finding): 4 files per trigger = two microbatches
    over the 8 staged files — still exercising cross-microbatch
    join-state handoff — instead of four, halving the fixed
    (microbatch × partition) commit cost. Two further output-neutral
    trims (measured 6.0 → 2.9 s at sf0.1 all together): state partitions
    8 → 4 (a stream-stream join keeps FOUR state stores per partition —
    keyToNumValues + keyWithIndexToValue per side — so commits scale
    4 × partitions × microbatches while results never depend on the
    partition count), and ``noDataMicroBatches`` disabled for this
    terminating run (the trailing empty batch exists to evict
    watermark-expired state and emit outer-join nulls; an INNER join
    emits matches eagerly within their data batch, and eviction is
    pointless in a run that stops on completion — batch parity asserted
    as always by the oracle)."""
    from ..operators.windows import attribution_join, view_purchase_projections

    staged = stage_events(spark, sf_dir)
    # projections + join predicate shared with the batch twin
    # (operators.windows); the stream adds the watermarks on top
    views, _ = view_purchase_projections(
        event_stream(spark, staged, files_per_trigger=4)
    )
    _, buys = view_purchase_projections(
        event_stream(spark, staged, files_per_trigger=4)
    )
    j = attribution_join(
        views.withWatermark("view_ts", "2 hours"),
        buys.withWatermark("buy_ts", "2 hours"),
    )
    # state partition count is fixed at stream start from this conf —
    # size it for the stream (see docstring), then restore the batch value
    key = "spark.sql.shuffle.partitions"
    nodata = "spark.sql.streaming.noDataMicroBatches.enabled"
    old = spark.conf.get(key)
    old_nodata = spark.conf.get(nodata, "true")
    spark.conf.set(key, str(STREAM_JOIN_STATE_PARTITIONS))
    spark.conf.set(nodata, "false")
    try:
        return run_to_memory(j, "append")
    finally:
        spark.conf.set(key, old)
        spark.conf.set(nodata, old_nodata)


def dedup_within_watermark(
    stream: DataFrame,
    keys: list[str],
    ts_col: str,
    delay: str,
) -> DataFrame:
    """Bounded-state streaming dedup — the 100 TB-safe variant of
    ``q_streaming_dedup`` (library surface; SURVEY §2.5 streaming dedup).

    ``dropDuplicates`` keeps ALL keys in state forever: correct, but on
    an unbounded key space (event ids, request ids) state grows without
    bound. ``dropDuplicatesWithinWatermark`` keeps a key only until the
    watermark passes its event time + ``delay``: duplicates arriving
    within the horizon are dropped, the state entry is then evicted, and
    a recurrence AFTER the horizon is treated as a new event — exactly
    the guarantee an at-least-once ingest pipeline needs (duplicates
    cluster near the original; state is O(keys per horizon), not O(all
    keys ever)). One asymmetry worth knowing: dropping within the
    horizon is GUARANTEED, re-emission after it is best-effort — state
    eviction runs at the END of a batch, so a recurrence arriving in the
    same batch whose watermark first passed the key's expiry is still
    suppressed; one batch later it is re-emitted. Both sides pinned in
    tests/test_streaming.py::test_dedup_within_watermark_bounds_state.
    """
    from pyspark.sql import functions as F

    return (
        stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(keys)
    )


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication: ``dropDuplicates`` over the event
    stream keeps the FIRST arrival of each (user_id, event_type) across
    every microbatch (state-backed — the streaming half of the dedup
    story in §2.5). Projected to the key, the finished stream equals
    batch DISTINCT, which is the oracle. State is unbounded by design
    here; the bounded-state variant is ``dropDuplicatesWithinWatermark``
    when keys can expire."""
    src = event_stream(spark, stage_events(spark, sf_dir))
    dd = src.dropDuplicates(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return run_to_memory(dd, "append")


QUERIES = {
    "streaming_tumbling_rt": q_streaming_tumbling_rt,
    "streaming_dedup": q_streaming_dedup,
    "streaming_enrich": q_streaming_enrich,
    "streaming_join": q_streaming_join,
}

# Streaming-batch equivalence: the finished stream equals the batch window
# aggregation, so it shares the batch oracle (operators.windows).
from ..operators.windows import ORACLES as _BATCH_ORACLES  # noqa: E402

ORACLES = {
    "streaming_tumbling_rt": _BATCH_ORACLES["stream_tumbling"],
    "streaming_dedup": "SELECT DISTINCT user_id, event_type FROM events",
    "streaming_enrich": """
        SELECT c.c_mktsegment AS segment, e.event_type,
               count(*) AS n,
               CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_value
        FROM events e JOIN customer c ON c.c_custkey = e.user_id
        GROUP BY 1, 2
    """,
    "streaming_join": """
        SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
        FROM events v JOIN events p
          ON v.user_id = p.user_id
         AND v.event_type = 'view' AND p.event_type = 'purchase'
         AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTES
    """,
}
