"""SparkSession factory.

Local testing runs ``local[N]`` in one JVM; the configs below are chosen so
the same code is correct and fast on a multi-executor cluster at ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, broadcast demotion).
- ``spark.sql.shuffle.partitions`` sized for the local fixture scale; on a
  real cluster AQE coalesces from a high initial number, so queries never
  hand-tune partition counts.
- Arrow enabled for every pandas-UDF path (the only Python hot paths we
  allow; everything else stays JVM-side in whole-stage codegen).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- No fixed per-op driver cost that does not depend on the data: the
  compiled-class cache holds the registered query set, PySpark's
  per-Column call-site capture is off, and PySpark's py4j helper classes
  resolve without a class-path scan (the three constants below).
"""

from __future__ import annotations

import os

from py4j.java_gateway import java_import
from pyspark.sql import SparkSession


def env_positive_int(name: str, default: int) -> int:
    """The positive integer in environment variable ``name``, or
    ``default`` when it is unset. A malformed or non-positive value
    raises ``ValueError`` naming the variable."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        value = int(raw)
    except ValueError:
        raise ValueError(f"{name}={raw!r} is not an integer") from None
    if value < 1:
        raise ValueError(f"{name}={raw!r} must be a positive integer")
    return value


DEFAULT_SHUFFLE_PARTITIONS = env_positive_int("SPARK_GRAFT_SHUFFLE", 32)

# Entries in Spark's LRU cache of compiled (Janino) classes; static, so
# only sessions built here get it. Spark's default of 100 is smaller than
# one workload's steady working set (165-190 generated classes per pass
# of either perfbench workload), and a cyclic working set larger than an
# LRU misses on every entry, so every pass recompiled all of them. One
# round over all 157 registered queries at sf0.001 compiles 1,485
# distinct classes; this holds them all with headroom.
CODEGEN_CACHE_ENTRIES = 2048

# PySpark's DataFrame debugging wraps every Column call in a Python stack
# walk plus about nine py4j commands that record the call site for error
# messages (Spark's own conf doc: "a non-trivial performance overhead").
# Static conf. With it off, errors still name their cause (such as the
# missing column); only their call-site context names a JVM frame in
# place of the Python file and line.
DATAFRAME_DEBUGGING = "false"

# Classes PySpark looks up by short name on every Column operator,
# ``_to_seq`` and lambda. py4j resolves a short name by trying it bare,
# then the view's single imports, then each star import, and every miss
# is a Class.forName scan of the whole class path; a single import ends
# the walk at the first step after the bare try.
PY4J_SINGLE_IMPORTS = (
    "org.apache.spark.sql.functions",
    "org.apache.spark.api.python.PythonUtils",
    "org.apache.spark.sql.api.python.PythonSQLUtils",
)

# Set to a durable (HDFS / object-store) directory to make every
# lineage-cutting materialization in the engine survive executor loss.
CHECKPOINT_DIR_CONF = "spark.graft.checkpointDir"


def checkpoint_df(df, eager: bool = True):
    """Materialize a DataFrame and cut its lineage, with deployment-
    selectable durability (VERDICT r4 #3):

    - default (conf unset): ``localCheckpoint`` — blocks live in executor
      storage, zero extra I/O; right for ``local[N]`` and for plans whose
      recompute-on-loss cost is acceptable;
    - ``spark.graft.checkpointDir`` set: a RELIABLE ``checkpoint()`` into
      that directory. localCheckpoint blocks are NOT replicated, so on a
      real cluster losing one executor kills every job whose lineage was
      cut by it — the reliable variant pays one distributed write to make
      the materialization fault-tolerant at 1000-executor scale.

    Every lineage-cutting plan in the engine (connected-components round
    labels, the positional prefix-sum base) funnels through here, so a
    single conf flips the whole engine to cluster-safe materialization.

    Cleanup: reliable checkpoint directories are deleted when their RDD
    is garbage-collected IF ``spark.cleaner.referenceTracking
    .cleanCheckpoints`` was set at context start (``get_spark`` sets it;
    a foreign session that didn't should expect rdd-* directories to
    accumulate under the checkpoint dir and reap them out-of-band —
    GC-driven cleanup is best-effort either way).
    """
    spark = df.sparkSession
    ckpt_dir = spark.conf.get(CHECKPOINT_DIR_CONF, None)
    if ckpt_dir:
        sc = spark.sparkContext
        # setCheckpointDir is NOT idempotent: every call creates a fresh
        # <dir>/<UUID> subdirectory and points the context at it, so
        # calling it per checkpoint_df would scatter lineage cuts across
        # one empty UUID dir per call (ADVICE r5). Set it once per
        # (context, base-dir); re-set only if the conf changed mid-session.
        if getattr(sc, "_graft_ckpt_base", None) != ckpt_dir:
            sc.setCheckpointDir(ckpt_dir)
            sc._graft_ckpt_base = ckpt_dir
        return _tag_ckpt_rdd(df.checkpoint(eager=eager))
    return _tag_ckpt_rdd(df.localCheckpoint(eager=eager))


def _tag_ckpt_rdd(df):
    """Attach the PERSISTED RDD handle to a just-checkpointed DataFrame as
    ``_graft_ckpt_rdd`` (ADVICE r8): a checkpointed frame's plan is a
    LogicalRDD wrapping the persisted RDD, and that wrapped handle is the
    only one whose ``unpersist`` actually frees the blocks —
    ``df._jdf.rdd()`` builds a NEW derived RDD from the plan each call, so
    unpersisting it is a no-op and the blocks linger until Py4J GC +
    ContextCleaner. Memo owners (operators/dedup.py) use the tagged handle
    for prompt frees on eviction. Best-effort: a plan shape we don't
    recognize just leaves the attribute as None and cleanup falls back to
    GC-driven ContextCleaner reclamation (correctness unaffected)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        df._graft_ckpt_rdd = plan.rdd()  # LogicalRDD.rdd — persisted handle
    except Exception:
        df._graft_ckpt_rdd = None
    return df


def get_spark(
    app_name: str = "duckdb-parquet-parser-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract) or
    ``local[*]``. On a real cluster, callers pass ``master=None`` with a
    pre-configured environment and only the SQL confs below matter.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python UDTFs default to row-at-a-time pickling; Arrow-batch them
        # like every other Python boundary in the engine (plan-asserted:
        # no BatchEvalPython anywhere, tests/test_plans.py).
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        # reliable checkpoints (checkpoint_df with spark.graft.checkpointDir
        # set) would otherwise accumulate rdd-* directories in the durable
        # store forever; this cleans each one up when its RDD is GC'd.
        # Context-level conf, so it must be set here, not at checkpoint time.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Nanosecond-free timestamps keep parity with DuckDB TIMESTAMP (us).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", DATAFRAME_DEBUGGING)
        # managed-table home for bucketed layouts (sources/layout.py)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"
            ),
        )
    )
    spark = builder.getOrCreate()
    for name in PY4J_SINGLE_IMPORTS:
        java_import(spark._jvm, name)
    return spark
