#!/usr/bin/env python
"""Extra-seed randomized differential sweep.

The committed randomized harnesses (tests/test_randomized_*.py) pin a
small set of seeds so CI stays fast and deterministic. Twice in round 5 a
sweep over seeds BEYOND the pinned ones surfaced real cross-engine bugs
the pinned seeds missed (ulp-fragile cosine rankings; engine-dependent
DECIMAL sign bits on subnormal LSH vectors) — so run this against the
final tree every round with a fresh ``--base``:

    python scripts/extra_seed_sweep.py --base 500 --per-family 3

It drives the exact same test bodies as pytest does (same fixtures, same
run_all differentials vs DuckDB), just with different seeds; a failure
here is a genuine correctness bug on inputs the committed seeds never
exercised. Seeds used in past sweeps (do not reuse as --base):
round-5 session ran pinned {5,6,7,11,22,33,101..103,201,202,301,302}
plus an ad-hoc extra sweep around 401-410.
"""

from __future__ import annotations

import argparse
import sys
import tempfile
import traceback
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tests"))
# The DRIVER finds everything through the inserts above, but Spark's
# python WORKERS resolve imports through PYTHONPATH/cwd only — invoked
# from any cwd but the repo root, every Arrow/mapInPandas query died
# with a worker-side ModuleNotFoundError (round-14 sweep incident:
# 8/24 runs failed from tests/; identical seeds pass from the root).
# Pin both before the JVM starts so the launch directory is irrelevant.
import os  # noqa: E402

os.environ["PYTHONPATH"] = (
    f"{REPO}:{os.environ['PYTHONPATH']}"
    if os.environ.get("PYTHONPATH")
    else str(REPO)
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", type=int, default=500, help="first seed")
    ap.add_argument("--per-family", type=int, default=3)
    ap.add_argument("--master", default="local[8]")
    args = ap.parse_args()
    # chdir AFTER argparse so any relative path a caller passes resolves
    # against the invocation directory, not the repo root (ADVICE r14);
    # the chdir itself must still happen before the JVM starts — Spark's
    # python workers resolve imports through PYTHONPATH/cwd only (the
    # round-14 launch-directory incident documented above).
    os.chdir(REPO)

    from duckdb_parquet_parser_spark.session import get_spark

    import test_randomized_docs as docs
    import test_randomized_embeddings as emb
    import test_randomized_events as events
    import test_randomized_multimodal as mm
    import test_randomized_relational as rel
    import test_randomized_streaming as stream

    families = [
        ("docs", docs.test_doc_queries_match_oracles_on_random_fixtures),
        ("events", events.test_event_queries_match_oracles_on_random_fixtures),
        ("relational", rel.test_relational_queries_match_oracles_on_random_fixtures),
        ("embeddings", emb.test_similarity_queries_match_oracles_on_random_fixtures),
        ("streaming", stream.test_streaming_queries_match_batch_oracles_on_random_fixtures),
        # round-10 family: multimodal closed-form queries over random
        # doc_id populations (test_randomized_multimodal.py)
        ("multimodal", mm.test_multimodal_queries_match_oracles_on_random_fixtures),
    ]

    # The per-domain randomized differentials sweep too: otherwise they
    # only ever see their pinned pytest seeds, and the sweeps are where
    # the real finds come from (seeds 5003, 22, 932, 965...). Same test
    # bodies pytest runs.
    import test_curation as cur
    import test_pending_r15 as p15
    import test_r16_fixes as r16f
    import test_randomized_fleet as fleet
    import test_relational_q9 as rq9
    import test_semdedup as sem

    families += [
        ("tpch-completers", rq9.test_tpch_completers_on_random_fixtures),
        # round-14 family #11: the distributed header walk at listing
        # scale — 100+ randomized parquet files per seed vs DuckDB's
        # parquet_metadata() glob (VERDICT r13 #7)
        ("fleet", fleet.test_fleet_audit_matches_parquet_metadata_on_many_files),
        ("sketch-curation-docs", p15.test_pending_r15_doc_queries_on_random_docs),
        ("semdedup-emb", sem.test_semdedup_on_random_embeddings),
        ("cc-incremental", cur.test_cc_incremental_on_random_docs),
        # the conditional-hint minhash verify and the persisted-label
        # droprate against the certified rows' oracles
        ("r16-fixes", r16f.test_r16_fixes_on_random_docs),
    ]

    spark = get_spark(master=args.master)
    failures: list[str] = []
    with tempfile.TemporaryDirectory(prefix="seed_sweep_") as tmp:
        for i in range(args.per_family):
            for offset, (name, fn) in enumerate(families):
                # disjoint per-family seed streams, all >= base
                seed = args.base + 100 * offset + i
                workdir = Path(tmp) / f"{name}_{seed}"
                workdir.mkdir(parents=True)
                try:
                    fn(spark, workdir, seed)
                    print(f"PASS {name} seed={seed}", flush=True)
                except Exception:
                    failures.append(f"{name} seed={seed}")
                    print(f"FAIL {name} seed={seed}", flush=True)
                    traceback.print_exc()
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
