"""Driver-certified queries over the REAL multimodal decode triad.

Round 9 made image (PPM/BMP), audio (WAV PCM) and video (Y4M) decode real
(operators/multimodal.py) but left the near-dup / feature operators as
library + pytest surface only. This module promotes them to declared,
oracle-checked queries (VERDICT r9 #2): each query builds a deterministic
synthetic media table whose payloads are a closed-form function of
``doc_id`` alone, runs the REAL pipeline (encode → decode → pixel/sample
math → banded joins), and pairs with a DuckDB oracle that computes the
same result arithmetically — no decoding in SQL, just the closed form.

Fixture design (the whole trick):
- The 64-bit average hash of an 8x8 two-level image (pixel 200 where a
  hash bit is set, 50 where clear) is EXACTLY the constructed constant:
  the luma mean sits strictly between the two levels whenever the bit
  count is in (0, 64), which the class formula guarantees. So the hash a
  query emits is closed-form over ``doc_id`` and the oracle never touches
  pixels. ``h = cls * 0x0101010101010101`` replicates an 8-bit class id
  into all eight bytes, so two different classes differ in ≥ 8 bits —
  comfortably beyond the Hamming-3 near-dup radius — while the small
  per-variant XOR flips stay inside it.
- Poison payloads (JPEG/MP4 magics, the truncated-fmt WAV from ADVICE r9)
  exercise the documented codec-boundary contract INSIDE a certified
  query: features degrade to ``fmt='undecodable'`` rows, frame tables
  drop the doc, near-dup joins exclude it.

Scale notes (100 TB): the builders are mapInPandas over the pruned
single-column ``doc_id`` scan — at scale the payload column comes off
parquet instead, and everything downstream is unchanged. The near-dup
queries inherit the banded equi-join shape (one shuffle keyed by
(band, key) / (frame, band, key), AQE on hot buckets, no all-pairs
anywhere); the oracles' quadratic self-joins are sf0.01 yardsticks only.

Reference analog: none — this is SURVEY.md §2.5 north-star surface (the
reference engine is parquet-only; BASELINE.json carries the lane).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import ArtifactKind, derived_dir, ensure_artifact
from ..catalog import load_table
from .multimodal import (
    AUDIO_FP_BLOCKS,
    VIDEO_FRAME_STRIDE,
    audio_neardup_pairs,
    encode_bmp,
    encode_ppm,
    encode_wav,
    encode_y4m,
    extract_audio_features,
    extract_audio_fingerprints,
    extract_image_features,
    extract_video_frame_hashes,
    image_neardup_pairs,
    video_neardup_pairs,
)

# Replicates an 8-bit class id into all 8 bytes of a 64-bit hash: distinct
# classes differ in >= 8 bits (8 x hamming of the class bytes).
REPL8 = 0x0101010101010101
IMG_CLS_MOD = 254  # cls in [1, 254]: bit count stays in (0, 64)
# Variant XOR flips: 0 / 1 bit / 2 bits -> intra-class Hamming <= 3.
IMG_VARIANT_FLIPS = (0, 1 << 5, (1 << 9) | (1 << 17))
IMG_POISON_MOD = 17  # doc_id % 17 == 0 -> JPEG-magic payload (undecodable)

AUDIO_POISON_MOD = 13  # doc_id % 13 == 0 -> truncated-fmt WAV (ADVICE r9)
AUDIO_SAMPLE_MOD = 2048  # samples in [-1024, 1023]

VIDEO_POISON_MOD = 11  # doc_id % 11 == 0 -> MP4-magic payload (zero rows)
VIDEO_CLS_MOD = 64  # content class: same-class videos share frames
VIDEO_PERTURB_OFFSET = 101  # odd generations diverge on i % 8 == 0 frames

# Audio-fingerprint corpus (round 10, audio near-dup): a DIFFERENT class
# modulus than images so the audio pair structure is its own, not a copy
# of the image one. cls in [1, 126] keeps the energy-bit count in (0, 64).
AUDIO_SIG_CLS_MOD = 126
AUDIO_SIG_POISON_MOD = 19  # doc_id % 19 == 0 -> MP3/ID3-magic payload
AUDIO_SIG_BLOCK_LEN = 16  # samples per fingerprint block
AUDIO_SIG_AMP = (100, 800)  # (bit clear, bit set) block amplitude

# The truncated-fmt WAV from ADVICE r9: a declared 'fmt ' size of 8 with a
# valid 'data' chunk behind it — decode_audio must degrade it (ValueError),
# never crash the task (struct.error). Keeping it as the poison payload
# certifies that contract in every driver round.
_POISON_WAV = (
    b"RIFF" + (36).to_bytes(4, "little") + b"WAVE"
    + b"fmt " + (8).to_bytes(4, "little") + bytes(8)
    + b"data" + (4).to_bytes(4, "little") + bytes(4)
)
_POISON_JPEG = b"\xff\xd8\xff\xe0" + b"\x00" * 20
_POISON_MP4 = b"\x00\x00\x00\x18ftypmp42" + b"\x00" * 16


def image_hash_for_doc(doc_id: int) -> int:
    """Closed-form 64-bit average hash of the synthetic image for a doc."""
    cls = 1 + (doc_id % IMG_CLS_MOD)
    variant = (doc_id // IMG_CLS_MOD) % 3
    return (cls * REPL8) ^ IMG_VARIANT_FLIPS[variant]


def _plane_from_hash(h: int):
    """8x8 uint8 luma plane whose average hash is exactly ``h``."""
    import numpy as np

    bits = np.unpackbits(np.frombuffer(h.to_bytes(8, "big"), dtype=np.uint8))
    return np.where(bits, 200, 50).astype("uint8").reshape(8, 8)


def video_frame_class(doc_id: int, frame_idx: int) -> int:
    """Closed-form class byte of a video frame (perturbed on odd
    generations at ``frame_idx % 8 == 0`` — the re-encode-with-edits
    case that makes the match-fraction threshold do real work)."""
    vc = doc_id % VIDEO_CLS_MOD
    gen = (doc_id // VIDEO_CLS_MOD) % 2
    off = VIDEO_PERTURB_OFFSET if gen == 1 and frame_idx % 8 == 0 else 0
    return 1 + ((vc * 17 + frame_idx + off) % IMG_CLS_MOD)


def _payload_builder(payload_fn):
    """documents -> (doc_id, payload binary) via Arrow-batched mapInPandas
    over the pruned single-column doc_id scan."""

    def build(df: DataFrame) -> DataFrame:
        import pandas as pd

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "payload": [
                            payload_fn(int(d)) for d in pdf["doc_id"]
                        ],
                    }
                )

        return df.select("doc_id").mapInPandas(
            gen, "doc_id long, payload binary"
        )

    return build


def _image_payload(doc_id: int) -> bytes:
    import numpy as np

    if doc_id % IMG_POISON_MOD == 0:
        return _POISON_JPEG
    gray = _plane_from_hash(image_hash_for_doc(doc_id))
    img = np.repeat(gray[:, :, None], 3, axis=2)
    return encode_ppm(img) if doc_id % 2 == 0 else encode_bmp(img)


def _audio_payload(doc_id: int) -> bytes:
    import numpy as np

    if doc_id % AUDIO_POISON_MOD == 0:
        return _POISON_WAV
    n = 256 + doc_id % 128
    ch_n = 1 + doc_id % 2
    i = np.arange(n)[:, None]
    ch = np.arange(ch_n)[None, :]
    s = ((doc_id * 31 + i * 7 + ch * 13) % AUDIO_SAMPLE_MOD) - 1024
    return encode_wav(s.astype("<i2"), 8000 + 100 * (doc_id % 4))


def _video_payload(doc_id: int) -> bytes:
    import numpy as np

    if doc_id % VIDEO_POISON_MOD == 0:
        return _POISON_MP4
    n = 8 + doc_id % 8
    frames = np.stack(
        [
            _plane_from_hash(video_frame_class(doc_id, i) * REPL8)
            for i in range(n)
        ]
    )
    return encode_y4m(frames)


def audio_sig_hash_for_doc(doc_id: int) -> int:
    """Closed-form 64-bit energy fingerprint of the synthetic clip."""
    cls = 1 + (doc_id % AUDIO_SIG_CLS_MOD)
    variant = (doc_id // AUDIO_SIG_CLS_MOD) % 3
    return (cls * REPL8) ^ IMG_VARIANT_FLIPS[variant]


def _audio_sig_payload(doc_id: int) -> bytes:
    """64 blocks of 16 samples: block b alternates ±800 when bit b of the
    closed-form hash is set, ±100 when clear — block energies are exactly
    16·A², so the integer mean-threshold in extract_audio_fingerprints
    reproduces the hash bit-for-bit (the audio twin of the two-level
    pixel trick)."""
    import numpy as np

    if doc_id % AUDIO_SIG_POISON_MOD == 0:
        return b"ID3\x03\x00\x00\x00\x00\x00\x00" + b"\x00" * 32
    h = audio_sig_hash_for_doc(doc_id)
    bits = np.unpackbits(np.frombuffer(h.to_bytes(8, "big"), dtype=np.uint8))
    amp = np.where(bits, AUDIO_SIG_AMP[1], AUDIO_SIG_AMP[0]).astype("int64")
    pattern = np.tile([1, -1], AUDIO_SIG_BLOCK_LEN // 2)
    samples = (amp[:, None] * pattern[None, :]).reshape(-1, 1)
    return encode_wav(samples.astype("<i2"), 8000)


def build_audio_sig_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic fingerprint-structured WAV corpus (mono, 1024 frames),
    ID3-magic poison every ``AUDIO_SIG_POISON_MOD``-th doc."""
    return _payload_builder(_audio_sig_payload)(
        load_table(spark, sf_dir, "documents")
    )


def build_image_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic image corpus: PPM for even docs, BMP for odd, JPEG-magic
    poison every ``IMG_POISON_MOD``-th doc."""
    return _payload_builder(_image_payload)(
        load_table(spark, sf_dir, "documents")
    )


def build_audio_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic WAV corpus (mono/stereo alternating, varied rates and
    lengths), truncated-fmt poison every ``AUDIO_POISON_MOD``-th doc."""
    return _payload_builder(_audio_payload)(
        load_table(spark, sf_dir, "documents")
    )


def build_video_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic Y4M corpus: 64 content classes, odd generations perturb
    every 8th frame, MP4-magic poison every ``VIDEO_POISON_MOD``-th doc."""
    return _payload_builder(_video_payload)(
        load_table(spark, sf_dir, "documents")
    )


def q_ns_mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel features (dimensions, channel means, average hash)
    through decode_image over the synthetic PPM/BMP corpus; poison rows
    come back ``fmt='undecodable'`` with null features."""
    return extract_image_features(build_image_table(spark, sf_dir))


def q_ns_mm_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image pairs via banded average hash — recall is
    EXACT at Hamming <= 3 by pigeonhole over the 4 x 16-bit bands, which
    is what lets a plain closed-form Hamming self-join oracle reproduce
    the banded plan's output bit-for-bit."""
    return image_neardup_pairs(build_image_table(spark, sf_dir))


def q_ns_mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV decode features (rate, frames, channels, integer peak and
    energy) — the poison payload is the exact truncated-fmt shape from
    ADVICE r9, certifying the degrade-not-crash contract every round."""
    return extract_audio_features(build_audio_table(spark, sf_dir))


def q_ns_mm_video_framehashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided per-frame average hashes through the REAL Y4M decode —
    the fingerprint table the video near-dup join consumes; poison docs
    contribute zero rows."""
    return extract_video_frame_hashes(build_video_table(spark, sf_dir))


#: The (doc_id, frame_idx, ahash) table as a persisted artifact: decode
#: once per table content (~20 bytes/frame), and let the recurring
#: near-dup/cluster runs pay only the banded join + CC. The sidecar pins
#: the sampling stride with the format version — hashes sampled at
#: another stride are a different table, and silently change every
#: downstream match fraction. Poison (undecodable) docs contribute no
#: rows, exactly the certified decode contract.
VIDEO_FRAMES = ArtifactKind(
    name="frames",
    prefix="sg_vframes",
    columns={"doc_id": "bigint", "frame_idx": "int", "ahash": "bigint"},
    params={"frames_version": 1, "stride": VIDEO_FRAME_STRIDE},
    build=q_ns_mm_video_framehashes,
)


def _ingest_payload(doc_id: int) -> tuple[str, bytes]:
    """(file name, bytes) for the staged raw-file corpus: images, audio
    clips and opaque blobs round-robin by doc_id — the poison payloads of
    the image/audio builders ride along, so undecodable FILES flow
    through ingestion as ordinary opaque rows (ingestion must never
    decode)."""
    kind = doc_id % 3
    if kind == 0:
        ext = "ppm" if doc_id % IMG_POISON_MOD == 0 or doc_id % 2 == 0 else "bmp"
        return f"doc_{doc_id}.{ext}", _image_payload(doc_id)
    if kind == 1:
        return f"doc_{doc_id}.wav", _audio_sig_payload(doc_id)
    blob = doc_id.to_bytes(8, "big") + b"\x5a" * (doc_id % 32)
    return f"doc_{doc_id}.bin", blob


def stage_media_dir(sf_dir: str) -> str:
    """One-time maintenance (like the clustered layout or the dedup
    signature artifact): materialize the synthetic corpus as REAL FILES
    on disk so `ns_mm_ingest` exercises Spark's binaryFile source over an
    actual directory. Written once per content of the documents table and
    published atomically (``cache.derived_dir``): a reader either sees
    the complete directory or none."""
    import os

    import pyarrow.parquet as pq

    def build(tmp: str) -> None:
        doc_ids = (
            pq.read_table(
                os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"]
            )
            .column("doc_id")
            .to_pylist()
        )
        for doc_id in doc_ids:
            fname, payload = _ingest_payload(int(doc_id))
            with open(os.path.join(tmp, fname), "wb") as f:
                f.write(payload)

    return derived_dir("sg_media", sf_dir, "documents", build)


def q_ns_mm_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-file ingestion as a certified query: a directory of real
    image/audio/blob FILES read through Spark's ``binaryFile`` source
    (sources/binary.py ingest_binary_dir — one file, one row, listing-
    parallel), projected entirely JVM-side: doc id parsed from the file
    name, byte length, mime from the extension map, and the 4-byte magic
    as hex (substring on the binary column — ingestion never decodes;
    the `*.bin` glob exclusion case and zero-length semantics are pinned
    in tests/test_binary_source.py). The oracle recomputes every column
    from the closed-form payload definitions."""
    return _ingest_projection(spark, stage_media_dir(sf_dir))


def _ingest_projection(spark: SparkSession, media_dir: str) -> DataFrame:
    from ..sources.binary import ingest_binary_dir

    # file:-qualified: the staged dir is local; a scheme-less path would
    # resolve against fs.defaultFS on remote-FS deployments
    if "://" not in media_dir:
        import os

        media_dir = "file://" + os.path.abspath(media_dir)
    df = ingest_binary_dir(spark, media_dir, glob="doc_*")
    return df.select(
        F.regexp_extract("file_name", r"doc_(\d+)\.", 1)
        .cast("long")
        .alias("doc_id"),
        "file_name",
        F.col("meta.mime").alias("mime"),
        F.col("meta.content_length").cast("long").alias("n_bytes"),
        F.lower(F.hex(F.substring(F.col("payload"), 1, 4))).alias("magic_hex"),
    )


def q_ns_mm_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip 64-bit energy fingerprint through the REAL WAV decode —
    integer block energies thresholded at the mean by cross-
    multiplication (no division anywhere); poison docs contribute zero
    rows, like the video frame-hash table."""
    return extract_audio_fingerprints(build_audio_sig_table(spark, sf_dir))


def q_ns_mm_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate audio pairs — the modality triad's last leg: the
    same exact-recall banded Hamming join as images, over energy
    fingerprints instead of pixel hashes. The audio class modulus (126)
    differs from the image one (254), so the pair structure is this
    corpus's own."""
    return audio_neardup_pairs(build_audio_sig_table(spark, sf_dir))


def q_ns_mm_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate video pairs: aligned-frame banded-hash candidates,
    Hamming verification, match-fraction >= 0.5 over the larger sampled
    frame count. Perturbed odd-generation docs make some cross-parity
    pairs fail the threshold — the filter is load-bearing.

    r17: frame hashes come from the persisted :data:`VIDEO_FRAMES`
    artifact (decode once per table content, every subsequent run pays
    only the banded join), so this row prices the join, not the Y4M
    decode. Output and oracle unchanged — the r17 hash match certifies
    artifact ≡ live decode end-to-end."""
    return video_neardup_pairs(
        build_video_table(spark, sf_dir),
        frames=ensure_artifact(spark, VIDEO_FRAMES, sf_dir),
    )


# --- Oracles: the same closed forms in DuckDB SQL (HUGEINT for the ---
# --- unsigned 64-bit hash space, signed BIGINT at the boundary).    ---

_SIGNED64 = (
    "CAST(CASE WHEN {h} >= 9223372036854775808 "
    "THEN {h} - 18446744073709551616 ELSE {h} END AS BIGINT)"
)

_IMG_HASH_CTE = f"""
    d AS (
        SELECT doc_id,
               1 + (doc_id % {IMG_CLS_MOD}) AS cls,
               (doc_id // {IMG_CLS_MOD}) % 3 AS v
        FROM documents
    ),
    h AS (
        SELECT doc_id, cls, v,
               xor(CAST(cls AS HUGEINT) * {REPL8},
                   CASE v WHEN 1 THEN {IMG_VARIANT_FLIPS[1]}
                          WHEN 2 THEN {IMG_VARIANT_FLIPS[2]}
                          ELSE 0 END) AS hh
        FROM d
    )
"""

# bit 5 lives in the cls byte; bits 9 and 17 both mirror cls bit 1 —
# so the variant flips move the total bit count by a cls-dependent step.
_IMG_K = (
    "8 * bit_count(CAST(cls AS BIGINT)) + CASE "
    "WHEN v = 1 THEN CASE WHEN (cls & 32) > 0 THEN -1 ELSE 1 END "
    "WHEN v = 2 THEN CASE WHEN (cls & 2) > 0 THEN -2 ELSE 2 END "
    "ELSE 0 END"
)

_AUDIO_SIG_CTE = f"""
    d AS (
        SELECT doc_id,
               1 + (doc_id % {AUDIO_SIG_CLS_MOD}) AS cls,
               (doc_id // {AUDIO_SIG_CLS_MOD}) % 3 AS v
        FROM documents
        WHERE doc_id % {AUDIO_SIG_POISON_MOD} <> 0
    ),
    h AS (
        SELECT doc_id,
               xor(CAST(cls AS HUGEINT) * {REPL8},
                   CASE v WHEN 1 THEN {IMG_VARIANT_FLIPS[1]}
                          WHEN 2 THEN {IMG_VARIANT_FLIPS[2]}
                          ELSE 0 END) AS hh
        FROM d
    )
"""

_VIDEO_FRAME_CTE = f"""
    d AS (
        SELECT doc_id,
               8 + doc_id % 8 AS n,
               doc_id % {VIDEO_CLS_MOD} AS vc,
               (doc_id // {VIDEO_CLS_MOD}) % 2 AS gen
        FROM documents
        WHERE doc_id % {VIDEO_POISON_MOD} <> 0
    ),
    f AS (
        SELECT doc_id, i.i AS frame_idx,
               CAST(1 + ((vc * 17 + i.i
                   + CASE WHEN gen = 1 AND i.i % 8 = 0
                          THEN {VIDEO_PERTURB_OFFSET} ELSE 0 END)
                   % {IMG_CLS_MOD}) AS HUGEINT) * {REPL8} AS hh
        FROM d, unnest(range(0, n)) AS i(i)
        WHERE i.i % 4 = 0
    )
"""

ORACLES = {
    "ns_mm_image_features": f"""
        WITH {_IMG_HASH_CTE}
        SELECT doc_id,
               CASE WHEN doc_id % {IMG_POISON_MOD} = 0 THEN 'undecodable'
                    WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS fmt,
               CASE WHEN doc_id % {IMG_POISON_MOD} = 0 THEN NULL
                    ELSE 8 END AS width,
               CASE WHEN doc_id % {IMG_POISON_MOD} = 0 THEN NULL
                    ELSE 8 END AS height,
               CASE WHEN doc_id % {IMG_POISON_MOD} = 0 THEN NULL
                    ELSE (200.0 * ({_IMG_K}) + 50.0 * (64 - ({_IMG_K})))
                         / 64.0 END AS mean_r,
               CASE WHEN doc_id % {IMG_POISON_MOD} = 0 THEN NULL
                    ELSE (200.0 * ({_IMG_K}) + 50.0 * (64 - ({_IMG_K})))
                         / 64.0 END AS mean_g,
               CASE WHEN doc_id % {IMG_POISON_MOD} = 0 THEN NULL
                    ELSE (200.0 * ({_IMG_K}) + 50.0 * (64 - ({_IMG_K})))
                         / 64.0 END AS mean_b,
               CASE WHEN doc_id % {IMG_POISON_MOD} = 0 THEN NULL
                    ELSE {_SIGNED64.format(h='hh')} END AS ahash
        FROM h
    """,
    "ns_mm_image_neardup": f"""
        WITH {_IMG_HASH_CTE},
        s AS (
            SELECT doc_id, {_SIGNED64.format(h='hh')} AS ah
            FROM h WHERE doc_id % {IMG_POISON_MOD} <> 0
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.ah, b.ah)) AS INT) AS hamming
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.ah, b.ah)) <= 3
    """,
    "ns_mm_audio_features": f"""
        WITH d AS (
            SELECT doc_id,
                   256 + doc_id % 128 AS n,
                   1 + doc_id % 2 AS ch_n,
                   8000 + 100 * (doc_id % 4) AS rate
            FROM documents
        ),
        s AS (
            SELECT doc_id,
                   ((doc_id * 31 + i.i * 7 + c.c * 13)
                    % {AUDIO_SAMPLE_MOD}) - 1024 AS v
            FROM d, unnest(range(0, n)) AS i(i),
                    unnest(range(0, ch_n)) AS c(c)
        ),
        a AS (
            SELECT doc_id, MAX(ABS(v)) AS peak,
                   CAST(SUM(CAST(v AS BIGINT) * v) AS BIGINT) >> 8
                       AS energy_q8
            FROM s GROUP BY doc_id
        )
        SELECT d.doc_id,
               CASE WHEN d.doc_id % {AUDIO_POISON_MOD} = 0
                    THEN 'undecodable' ELSE 'wav' END AS fmt,
               CASE WHEN d.doc_id % {AUDIO_POISON_MOD} = 0 THEN NULL
                    ELSE rate END AS sample_rate,
               CASE WHEN d.doc_id % {AUDIO_POISON_MOD} = 0 THEN NULL
                    ELSE n END AS n_frames,
               CASE WHEN d.doc_id % {AUDIO_POISON_MOD} = 0 THEN NULL
                    ELSE ch_n END AS n_channels,
               CASE WHEN d.doc_id % {AUDIO_POISON_MOD} = 0 THEN NULL
                    ELSE peak END AS peak,
               CASE WHEN d.doc_id % {AUDIO_POISON_MOD} = 0 THEN NULL
                    ELSE energy_q8 END AS energy_q8
        FROM d JOIN a USING (doc_id)
    """,
    # Ingestion oracle: every column recomputed from the closed-form
    # payload definitions (_ingest_payload). Byte lengths: PPM = 11-byte
    # header + 192 raster; BMP = 54 + 192; JPEG poison = 24; WAV = 44 +
    # 2048; ID3 poison = 42; blob = 8 + doc_id % 32. Magics are the hex
    # of each format's first four bytes.
    "ns_mm_ingest": f"""
        WITH d AS (SELECT doc_id, doc_id % 3 AS kind FROM documents)
        SELECT doc_id,
               'doc_' || doc_id ||
                   CASE WHEN kind = 0 THEN
                            CASE WHEN doc_id % {IMG_POISON_MOD} = 0
                                      OR doc_id % 2 = 0
                                 THEN '.ppm' ELSE '.bmp' END
                        WHEN kind = 1 THEN '.wav'
                        ELSE '.bin' END AS file_name,
               CASE WHEN kind = 1 THEN 'audio/wav'
                    ELSE 'application/octet-stream' END AS mime,
               CAST(CASE
                    WHEN kind = 0 THEN
                        CASE WHEN doc_id % {IMG_POISON_MOD} = 0 THEN 24
                             WHEN doc_id % 2 = 0 THEN 203
                             ELSE 246 END
                    WHEN kind = 1 THEN
                        CASE WHEN doc_id % {AUDIO_SIG_POISON_MOD} = 0
                             THEN 42 ELSE 2092 END
                    ELSE 8 + doc_id % 32 END AS BIGINT) AS n_bytes,
               CASE
                    WHEN kind = 0 THEN
                        CASE WHEN doc_id % {IMG_POISON_MOD} = 0
                             THEN 'ffd8ffe0'
                             WHEN doc_id % 2 = 0 THEN '50360a38'
                             ELSE '424df600' END
                    WHEN kind = 1 THEN
                        CASE WHEN doc_id % {AUDIO_SIG_POISON_MOD} = 0
                             THEN '49443303' ELSE '52494646' END
                    ELSE '00000000' END AS magic_hex
        FROM d
    """,
    "ns_mm_audio_fingerprint": f"""
        WITH {_AUDIO_SIG_CTE}
        SELECT doc_id,
               {AUDIO_FP_BLOCKS} AS n_blocks,
               {_SIGNED64.format(h='hh')} AS fingerprint
        FROM h
    """,
    "ns_mm_audio_neardup": f"""
        WITH {_AUDIO_SIG_CTE},
        s AS (SELECT doc_id, {_SIGNED64.format(h='hh')} AS ah FROM h)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.ah, b.ah)) AS INT) AS hamming
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.ah, b.ah)) <= 3
    """,
    "ns_mm_video_framehashes": f"""
        WITH {_VIDEO_FRAME_CTE}
        SELECT doc_id,
               CAST(frame_idx AS INT) AS frame_idx,
               8 AS width, 8 AS height,
               {_SIGNED64.format(h='hh')} AS ahash
        FROM f
    """,
    "ns_mm_video_neardup": f"""
        WITH {_VIDEO_FRAME_CTE},
        sf AS (SELECT doc_id, frame_idx,
                      {_SIGNED64.format(h='hh')} AS ah FROM f),
        cnt AS (SELECT doc_id, COUNT(*) AS nf FROM sf GROUP BY doc_id),
        m AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   COUNT(*) AS matched_frames
            FROM sf a JOIN sf b
              ON a.frame_idx = b.frame_idx AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.ah, b.ah)) <= 3
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, matched_frames,
               ROUND(matched_frames / GREATEST(ca.nf, cb.nf), 6)
                   AS match_frac
        FROM m
        JOIN cnt ca ON ca.doc_id = m.doc_a
        JOIN cnt cb ON cb.doc_id = m.doc_b
        WHERE matched_frames / GREATEST(ca.nf, cb.nf) >= 0.5
    """,
}

QUERIES = {
    "ns_mm_ingest": q_ns_mm_ingest,
    "ns_mm_image_features": q_ns_mm_image_features,
    "ns_mm_image_neardup": q_ns_mm_image_neardup,
    "ns_mm_audio_features": q_ns_mm_audio_features,
    "ns_mm_audio_fingerprint": q_ns_mm_audio_fingerprint,
    "ns_mm_audio_neardup": q_ns_mm_audio_neardup,
    "ns_mm_video_framehashes": q_ns_mm_video_framehashes,
    "ns_mm_video_neardup": q_ns_mm_video_neardup,
}
