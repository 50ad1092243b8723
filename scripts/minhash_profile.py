#!/usr/bin/env python
"""Stage-by-stage decomposition of ns_dedup_minhash (VERDICT r17 #1):
time (a) the signature compute+persist, (b) salted banded candidate
generation incl. distinct, (c) candidate generation WITHOUT the distinct,
(d) the full query (verify included) — each from a cold memo/cache state,
with scheduled-job counts. Guide §1: find where the 8 s actually goes
before touching the plan.

Usage: python scripts/minhash_profile.py [--reps N]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = (
    f"{REPO}:{os.environ['PYTHONPATH']}"
    if os.environ.get("PYTHONPATH")
    else REPO
)


def main() -> None:
    reps = 3
    for a in sys.argv[1:]:
        if a.startswith("--reps"):
            reps = int(a.split("=", 1)[1])
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark import StorageLevel
    from duckdb_parquet_parser_spark.operators import dedup as D
    from duckdb_parquet_parser_spark.operators.dedup import (
        _doc_word_arrays,
        _verify_jaccard_pairs,
        clear_simhash_memos,
        lsh_candidate_pairs_salted,
        minhash_signatures_from_arrays,
    )
    from duckdb_parquet_parser_spark.session import get_spark

    spark = get_spark(app_name="minhash_profile")
    sc = spark.sparkContext
    # same unmeasured warmup as bench.py
    from duckdb_parquet_parser_spark.operators import collect_queries

    queries, _ = collect_queries()
    queries["rel_agg_q1"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    def timed(tag, build, rep):
        spark.catalog.clearCache()
        clear_simhash_memos()
        group = f"mh-{tag}-{rep}"
        sc.setJobGroup(group, tag, False)
        t0 = time.perf_counter()
        df = build()
        df.write.format("noop").mode("overwrite").save()
        wall = round(time.perf_counter() - t0, 3)
        sc.setJobGroup(None, None, False)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        return wall, jobs

    def sigs_only():
        return D._cached_signatures(spark, sf_dir)

    def pairs_with_distinct():
        sigs = D._cached_signatures(spark, sf_dir)
        return lsh_candidate_pairs_salted(sigs)

    def pairs_no_distinct():
        # the raw salted join output, BEFORE the cross-band distinct —
        # isolates the distinct exchange+aggregate cost
        from pyspark.sql import functions as F

        sigs = D._cached_signatures(spark, sf_dir)
        bands = F.array(*D._minhash_bands())
        banded = sigs.select(
            "doc_id", F.posexplode(bands).alias("band_idx", "band_hash")
        ).withColumn(
            "block", F.pmod(F.xxhash64("doc_id"), F.lit(D.N_SALT_BLOCKS))
        )
        left = banded.withColumn(
            "target",
            F.explode(F.sequence("block", F.lit(D.N_SALT_BLOCKS - 1))),
        )
        a, b = left.alias("a"), banded.alias("b")
        same_block = F.col("a.block") == F.col("b.block")
        return (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.target") == F.col("b.block"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .filter(~same_block | (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(
                F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            )
        )

    def verify_only():
        # pairs memoized/persisted first OUTSIDE the timed region so this
        # times just the verify joins + array_intersect
        sigs = D._cached_signatures(spark, sf_dir)
        pairs = lsh_candidate_pairs_salted(sigs).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        pairs.count()
        t0 = time.perf_counter()
        _verify_jaccard_pairs(spark, sf_dir, pairs).write.format(
            "noop"
        ).mode("overwrite").save()
        wall = round(time.perf_counter() - t0, 3)
        pairs.unpersist()
        return wall

    def full_query():
        return queries["ns_dedup_minhash"](spark, sf_dir)

    out = {}
    for tag, build in (
        ("sigs", sigs_only),
        ("pairs_distinct", pairs_with_distinct),
        ("pairs_raw", pairs_no_distinct),
        ("full", full_query),
    ):
        walls, jobs = [], []
        for i in range(reps):
            w, j = timed(tag, build, i)
            walls.append(w)
            jobs.append(j)
        out[tag] = {"walls": walls, "jobs": jobs}
        print(json.dumps({tag: out[tag]}), flush=True)
    vw = []
    for _ in range(reps):
        spark.catalog.clearCache()
        clear_simhash_memos()
        vw.append(verify_only())
    out["verify_only"] = {"walls": vw}
    print(json.dumps({"verify_only": out["verify_only"]}), flush=True)
    # raw candidate volume (for the duplication-factor arithmetic)
    spark.catalog.clearCache()
    clear_simhash_memos()
    n_raw = pairs_no_distinct().count()
    spark.catalog.clearCache()
    clear_simhash_memos()
    n_dist = pairs_with_distinct().count()
    out["rows"] = {"raw": n_raw, "distinct": n_dist}
    print("SUMMARY " + json.dumps(out))


if __name__ == "__main__":
    main()
