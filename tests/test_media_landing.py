"""The ingest → parquet landing leg (operators/media_landing.py): layout
lifecycle, losslessness, and the scale property that justifies landing at
all — payload pruning on the landed table. Also the VERDICT r10 #6 guard:
the ``ns_mm_ingest`` oracle's hardcoded byte-length/magic constants are
re-derived from the actual encoders, so an encoder change breaks a unit
test instead of a driver round."""

from __future__ import annotations

import os

import duckdb
import pytest

from duckdb_parquet_parser_spark.cache import TEMP_INFIX
from duckdb_parquet_parser_spark.operators.media_landing import (
    _file_uri,
    land_media_parquet,
    q_ns_mm_ingest_parquet,
)
from duckdb_parquet_parser_spark.operators.multimodal_synth import (
    ORACLES as SYNTH_ORACLES,
    _ingest_payload,
)
from duckdb_parquet_parser_spark.plans import formatted_plan


def test_landing_is_idempotent(spark, sf_smoke):
    out1 = land_media_parquet(spark, sf_smoke)
    marker = os.path.join(out1, "_source.txt")
    assert os.path.exists(marker)
    stamp = os.stat(marker).st_mtime_ns
    out2 = land_media_parquet(spark, sf_smoke)
    assert out2 == out1
    # write-once: the second call must not have re-landed the table
    assert os.stat(marker).st_mtime_ns == stamp
    with open(marker) as f:
        assert f.read() == os.path.abspath(sf_smoke)


def test_landing_payload_pruned_when_unprojected(spark, sf_smoke):
    """The whole point of landing: a metadata-only query over the media
    table must not read the payload bytes. ReadSchema on the parquet scan
    is the proof (the binaryFile source cannot prune — every row carries
    its content)."""
    landed = land_media_parquet(spark, sf_smoke)
    df = spark.read.parquet(_file_uri(landed)).select(
        "file_name", "meta.mime"
    )
    plan = formatted_plan(df)
    read_schema = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ]
    assert read_schema, plan
    assert all("payload" not in line for line in read_schema), read_schema


def test_landed_read_matches_raw_directory_read(spark, sf_smoke):
    """Losslessness, locally asserted (the driver asserts it against the
    shared oracle): the landed-parquet projection equals the raw
    binaryFile projection row-for-row."""
    from duckdb_parquet_parser_spark.operators.multimodal_synth import (
        q_ns_mm_ingest,
    )

    raw = sorted(map(tuple, q_ns_mm_ingest(spark, sf_smoke).collect()))
    landed = sorted(
        map(tuple, q_ns_mm_ingest_parquet(spark, sf_smoke).collect())
    )
    assert landed == raw


def test_stale_fingerprint_landing_pruned(spark, sf_smoke, tmp_path):
    out = land_media_parquet(spark, sf_smoke)
    base = os.path.dirname(out)
    path_tag = os.path.basename(out).split("_")[0]
    stale = os.path.join(base, f"{path_tag}_deadbeefdead")
    os.makedirs(stale, exist_ok=True)
    land_media_parquet(spark, sf_smoke)
    assert not os.path.exists(stale)
    assert os.path.exists(out)  # the live entry survives


def test_dead_source_landing_pruned(spark, sf_smoke, tmp_path):
    out = land_media_parquet(spark, sf_smoke)
    base = os.path.dirname(out)
    dead = os.path.join(base, "feedfacefeed_0123456789ab")
    os.makedirs(dead, exist_ok=True)
    with open(os.path.join(dead, "_source.txt"), "w") as f:
        f.write(str(tmp_path / "vanished"))
    land_media_parquet(spark, sf_smoke)
    assert not os.path.exists(dead)
    assert os.path.exists(out)


def test_fresh_markerless_sibling_survives(spark, sf_smoke):
    """A marker-less sibling younger than the grace age is a CONCURRENT
    landing mid-write — pruning it would torpedo the other process."""
    out = land_media_parquet(spark, sf_smoke)
    base = os.path.dirname(out)
    fresh = os.path.join(base, "aaaabbbbcccc_ddddeeeeffff")
    os.makedirs(fresh, exist_ok=True)
    try:
        land_media_parquet(spark, sf_smoke)
        assert os.path.exists(fresh)
    finally:
        # ignore_errors: if the prune regresses and eats `fresh`, the
        # assertion above must surface — not a cleanup FileNotFoundError
        import shutil

        shutil.rmtree(fresh, ignore_errors=True)


def test_crashed_landing_temp_pruned_after_grace(spark, sf_smoke, tmp_path):
    """A build temp dir with a LIVE-source marker inside is a
    crashed publish (the rename never happened) — it must age out like
    the marker-less case, not be immunized by its marker (code review
    r11: the leak was a full parquet copy per crash, kept forever)."""
    import time

    out = land_media_parquet(spark, sf_smoke)
    base = os.path.dirname(out)
    crashed = os.path.join(base, f"beefbeefbeef_cafecafecafe{TEMP_INFIX}99999")
    os.makedirs(crashed, exist_ok=True)
    with open(os.path.join(crashed, "_source.txt"), "w") as f:
        f.write(os.path.abspath(sf_smoke))  # source IS alive
    try:
        land_media_parquet(spark, sf_smoke)
        assert os.path.exists(crashed)  # fresh: concurrent-landing grace
        old = time.time() - 7200
        # Age EVERYTHING inside: the grace check is the recursive newest
        # mtime (ADVICE r11), so a crashed temp only ages out once all of
        # its contents have — exactly the "nothing written for an hour"
        # signal that distinguishes a crash from a slow live write.
        os.utime(os.path.join(crashed, "_source.txt"), (old, old))
        os.utime(crashed, (old, old))
        land_media_parquet(spark, sf_smoke)
        assert not os.path.exists(crashed)  # aged out despite live marker
    finally:
        import shutil

        shutil.rmtree(crashed, ignore_errors=True)


def test_slow_live_landing_survives_stale_toplevel_mtime(spark, sf_smoke):
    """ADVICE r11: a landing legitimately running longer than the grace
    hour keeps writing into SUBDIRECTORIES (Spark's committer), which
    does not touch the temp dir's top-level mtime. The age gate must key
    off the recursive newest mtime — a stale top with one fresh nested
    file is a LIVE write, and pruning it would torpedo the other
    process."""
    import time

    out = land_media_parquet(spark, sf_smoke)
    base = os.path.dirname(out)
    slow = os.path.join(base, f"abadc0deabad_feedf00dfeed{TEMP_INFIX}4242")
    nested = os.path.join(slow, "_temporary", "0")
    os.makedirs(nested, exist_ok=True)
    with open(os.path.join(nested, "part-00000"), "w") as f:
        f.write("in flight")  # fresh nested write
    old = time.time() - 7200
    os.utime(os.path.join(slow, "_temporary"), (old, old))
    os.utime(slow, (old, old))  # top-level looks abandoned
    try:
        land_media_parquet(spark, sf_smoke)
        assert os.path.exists(slow), "live slow landing was reaped"
    finally:
        import shutil

        shutil.rmtree(slow, ignore_errors=True)


def test_ingest_oracle_constants_derive_from_encoders():
    """VERDICT r10 #6: the ns_mm_ingest oracle hardcodes payload byte
    lengths (203/246/24/2092/42/…) and 4-byte magics. Re-derive every
    column from the ACTUAL encoder output (_ingest_payload) over doc_ids
    covering all branches — image even/odd/poison, audio normal/poison,
    blob — and require the oracle, run on the same ids, to agree exactly.
    An encoder change now breaks this test, not a driver round."""
    doc_ids = list(range(0, 120))  # covers %2, %3, %17 and %19 residues
    truth = {}
    for d in doc_ids:
        fname, payload = _ingest_payload(d)
        truth[d] = (
            fname,
            "audio/wav"
            if fname.endswith(".wav")
            else "application/octet-stream",
            len(payload),
            payload[:4].hex(),
        )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT)")
    con.executemany(
        "INSERT INTO documents VALUES (?)", [(d,) for d in doc_ids]
    )
    rows = con.execute(SYNTH_ORACLES["ns_mm_ingest"]).fetchall()
    assert len(rows) == len(doc_ids)
    for doc_id, fname, mime, n_bytes, magic in rows:
        t_fname, t_mime, t_bytes, t_magic = truth[doc_id]
        assert fname == t_fname, doc_id
        assert mime == t_mime, doc_id
        assert n_bytes == t_bytes, (
            f"doc {doc_id}: oracle says {n_bytes} bytes, encoder "
            f"produced {t_bytes} — multimodal_synth.py oracle constants "
            "are stale"
        )
        assert magic == t_magic, doc_id
