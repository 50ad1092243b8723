"""Fixture-level calibration tripwire for the quality gates: the
certified ``ns_quality_logit`` keep threshold
(``LOGIT_KEEP_THRESHOLD = 0``) keeps ZERO fixture docs — so the
composition that gates on quality (``ns_curation_lineage``) uses the
pipeline-calibrated ``CURATE_MIN_LOGIT`` instead. This test pins that
contract against the fixtures themselves: the calibrated gate must keep
a non-trivial, non-total fraction at every fixture SF, so a future
fixture regeneration can't silently make the ``keep`` flag (or the
calibrated gate) vacuous — a gate that keeps everything or nothing
stops exercising the drop paths of the composed pipeline while its
differential keeps passing."""

from __future__ import annotations

import duckdb
import pytest

from duckdb_parquet_parser_spark.operators.ngram_stats import LOGIT_SQL
from duckdb_parquet_parser_spark.operators.curation import CURATE_MIN_LOGIT

SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_calibrated_gate_keeps_nontrivial_nontotal_fraction(sf_dir):
    con = duckdb.connect()
    total, kept = con.execute(
        f"""
        SELECT count(*),
               sum(CASE WHEN CAST({LOGIT_SQL} AS BIGINT)
                        >= {CURATE_MIN_LOGIT} THEN 1 ELSE 0 END)
        FROM read_parquet('{sf_dir}/documents.parquet')
        WHERE text IS NOT NULL
        """
    ).fetchone()
    con.close()
    assert total > 0
    # non-trivial AND non-total: both the keep and the drop branch of
    # every calibrated-gate composition fire on this fixture
    assert 0 < kept < total, (
        f"CURATE_MIN_LOGIT={CURATE_MIN_LOGIT} keeps {kept}/{total} at "
        f"{sf_dir} — a vacuous gate; recalibrate CURATE_MIN_LOGIT for "
        "the regenerated fixture (see curation.CURATE_MIN_LOGIT)"
    )
