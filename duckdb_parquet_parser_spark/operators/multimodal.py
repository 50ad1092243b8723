"""Multimodal (binary) columns — north-star extension (SURVEY.md §2.5).

Model: media ride as opaque ``binary`` payload columns with a typed
metadata struct beside them; decode / feature-extraction runs as
Arrow-batched ``mapInPandas`` (the only sane Python boundary).
``decode_image`` REALLY decodes the container-free formats — binary PPM
(P6) and 24-bit uncompressed BMP — in pure numpy (round 9), feeding a real
pixel pipeline: nearest-neighbor resize, per-channel means, and the 64-bit
average hash (the image analogue of SimHash for near-dup banding).
Compressed codecs (JPEG/PNG/...) are NOT in this container and stay behind
the documented boundary: they raise ``NotImplementedError`` naming the
magic, and the Spark path degrades them to ``fmt='undecodable'`` rows
instead of failing tasks.

Scale design: mapInPandas streams Arrow record batches, so executor memory
is bounded by batch size, not partition size; payload columns are pruned
unless requested (binary column stays columnar in Parquet).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table

FEATURE_SCHEMA = (
    "doc_id long, n_bytes long, first_byte int, last_byte int"
)


def build_media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, payload binary, meta struct): the multimodal
    column layout. Payload = utf-8 bytes of text (deterministic stand-in
    for an image/audio blob)."""
    df = load_table(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.col("n_chars").cast("long").alias("content_length"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def decode_image(payload: bytes):
    """Decode an image payload to an HxWx3 uint8 numpy array.

    REAL decode for the two container-free uncompressed formats — binary
    PPM (``P6``) and 24-bit uncompressed BMP — implemented in pure numpy
    from the published format layouts (no codec library). Compressed
    formats (JPEG/PNG/WebP/...) need entropy decoders that are NOT in this
    container; they remain behind this documented codec boundary and raise
    ``NotImplementedError`` naming the magic found. A full deployment adds
    its codec call for those branches; everything downstream
    (``extract_image_features``, resize, aHash, the mapInPandas batching)
    is format-agnostic and already runs on the real pixel path.
    """
    if len(payload) >= 2 and payload[:2] == b"P6":
        return _decode_ppm_p6(payload)
    if len(payload) >= 2 and payload[:2] == b"BM":
        return _decode_bmp24(payload)
    magic = payload[:4].hex() if payload else "<empty>"
    raise NotImplementedError(
        f"no codec for payload with magic {magic!r}: only binary PPM (P6) "
        "and uncompressed 24-bit BMP decode without a codec library; "
        "swap in PIL/libvips for compressed formats in a full deployment"
    )


def _decode_ppm_p6(payload: bytes):
    """Binary PPM: ``P6`` + whitespace/comment-separated width, height,
    maxval tokens, one whitespace byte, then raw RGB triples row-major."""
    import numpy as np

    pos = 2
    tokens: list[int] = []
    while len(tokens) < 3:
        # skip whitespace and '#'-to-EOL comments between header tokens
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < len(payload) and payload[pos : pos + 1] == b"#":
            eol = payload.find(b"\n", pos)
            pos = len(payload) if eol < 0 else eol + 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        tokens.append(int(payload[start:pos]))
    pos += 1  # exactly one whitespace byte after maxval
    w, h, maxval = tokens
    if w <= 0 or h <= 0:
        raise ValueError(f"PPM dimensions {w}x{h} not positive")
    if maxval != 255:
        raise NotImplementedError(f"PPM maxval {maxval} != 255 (16-bit PPM)")
    need = w * h * 3
    raster = payload[pos : pos + need]
    if len(raster) != need:
        raise ValueError(f"PPM raster truncated: {len(raster)} < {need}")
    return np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3).copy()


def _decode_bmp24(payload: bytes):
    """BMP with a BITMAPINFOHEADER: 24 bpp, BI_RGB (no compression), rows
    bottom-up and padded to 4-byte multiples, pixels stored BGR."""
    import struct

    import numpy as np

    if len(payload) < 54:
        raise ValueError("BMP header truncated")
    pix_off = struct.unpack_from("<I", payload, 10)[0]
    dib = struct.unpack_from("<I", payload, 14)[0]
    if dib < 40:
        raise NotImplementedError(f"BMP DIB header size {dib} (core header)")
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise NotImplementedError(
            f"BMP bpp={bpp} compression={comp}: only 24-bit BI_RGB decodes "
            "without a codec library"
        )
    flip = h > 0  # positive height = bottom-up storage
    h = abs(h)
    if w <= 0 or h == 0:
        raise ValueError(f"BMP dimensions {w}x{h} not positive")
    stride = (w * 3 + 3) & ~3
    need = stride * h
    raster = payload[pix_off : pix_off + need]
    if len(raster) != need:
        raise ValueError(f"BMP raster truncated: {len(raster)} < {need}")
    rows = np.frombuffer(raster, dtype=np.uint8).reshape(h, stride)
    img = rows[:, : w * 3].reshape(h, w, 3)[..., ::-1]  # BGR → RGB
    return (img[::-1] if flip else img).copy()


def encode_ppm(img) -> bytes:
    """HxWx3 uint8 → binary PPM bytes (the test/round-trip counterpart)."""
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype("uint8").tobytes()


def encode_bmp(img) -> bytes:
    """HxWx3 uint8 → 24-bit BI_RGB BMP bytes (bottom-up, padded rows)."""
    import struct

    import numpy as np

    h, w = img.shape[:2]
    stride = (w * 3 + 3) & ~3
    bgr = np.ascontiguousarray(img[..., ::-1].astype("uint8"))
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = bgr.reshape(h, w * 3)
    raster = rows[::-1].tobytes()  # bottom-up
    pix_off = 54
    header = (
        b"BM"
        + struct.pack("<IHHI", pix_off + len(raster), 0, 0, pix_off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0)
    )
    return header + raster


def resize_nearest(img, out_w: int, out_h: int):
    """Nearest-neighbor resize in pure numpy (index-sampling — the decode/
    resize step of a thumbnail or patch pipeline, codec-free)."""
    import numpy as np

    h, w = img.shape[:2]
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[ys][:, xs]


AHASH_SIDE = 8


def average_hash(img) -> int:
    """64-bit average hash: resize to 8×8, integer luma (BT.601 weights in
    fixed point — deterministic across platforms), threshold at the mean.
    The standard perceptual near-dup fingerprint for images; pairs with the
    banded-join dedup machinery exactly like SimHash does for text. Accepts
    HxWx3 RGB or an HxW luma plane (video frames hash their Y plane
    directly — thresholding at the mean makes the luma scale irrelevant)."""
    small = resize_nearest(img, AHASH_SIDE, AHASH_SIDE).astype("int64")
    if small.ndim == 2:
        luma = small
    else:
        luma = 299 * small[..., 0] + 587 * small[..., 1] + 114 * small[..., 2]
    bits = (luma > luma.mean()).flatten()
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    return out


def extract_byte_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload column —
    the mapInPandas pattern a real decoder plugs into."""
    import pandas as pd

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payload = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payload.map(len).astype("int64"),
                    "first_byte": payload.map(lambda b: b[0] if len(b) else -1).astype(
                        "int32"
                    ),
                    "last_byte": payload.map(lambda b: b[-1] if len(b) else -1).astype(
                        "int32"
                    ),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(features, FEATURE_SCHEMA)


IMAGE_FEATURE_SCHEMA = (
    "doc_id long, fmt string, width int, height int, "
    "mean_r double, mean_g double, mean_b double, ahash long"
)


def extract_image_features(df: DataFrame) -> DataFrame:
    """REAL pixel-feature extraction through the decode path: per payload,
    decode (PPM/BMP in pure numpy), emit dimensions, per-channel means and
    the 64-bit average hash; payloads behind the codec boundary (or
    corrupt) come back as ``fmt='undecodable'`` with null features instead
    of failing the batch — at 100 TB a poison payload must cost one row,
    not one task retry storm. Arrow-batched mapInPandas, same bounded-
    memory contract as :func:`extract_byte_features`."""
    import pandas as pd

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    img = decode_image(bytes(payload))
                    fmt = "ppm" if bytes(payload[:2]) == b"P6" else "bmp"
                    means = img.reshape(-1, 3).mean(axis=0)
                    # numpy's int64 would sign-overflow nothing here (64
                    # bits exactly); keep the hash in signed-long range
                    ah = average_hash(img)
                    ah = ah - (1 << 64) if ah >= (1 << 63) else ah
                    rows.append(
                        (doc_id, fmt, img.shape[1], img.shape[0],
                         float(means[0]), float(means[1]), float(means[2]),
                         ah)
                    )
                except (NotImplementedError, ValueError):
                    rows.append(
                        (doc_id, "undecodable", None, None, None, None,
                         None, None)
                    )
            # Column-wise nullable construction: pd.DataFrame(rows) would
            # infer float64 for int columns whenever the batch holds an
            # 'undecodable' None row, silently rounding 64-bit hashes to
            # 52-bit float mantissas (bug found in round 10 — corruption
            # depended on which batch the poison rows landed in).
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(
                        [r[0] for r in rows], dtype="int64"
                    ),
                    "fmt": pd.array([r[1] for r in rows], dtype="object"),
                    "width": pd.array([r[2] for r in rows], dtype="Int32"),
                    "height": pd.array([r[3] for r in rows], dtype="Int32"),
                    "mean_r": pd.array(
                        [r[4] for r in rows], dtype="Float64"
                    ),
                    "mean_g": pd.array(
                        [r[5] for r in rows], dtype="Float64"
                    ),
                    "mean_b": pd.array(
                        [r[6] for r in rows], dtype="Float64"
                    ),
                    "ahash": pd.array([r[7] for r in rows], dtype="Int64"),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        features, IMAGE_FEATURE_SCHEMA
    )


def decode_audio(payload: bytes):
    """Decode a WAV payload to (samples, sample_rate): samples is an
    (n_frames, n_channels) int16 numpy array.

    REAL decode for RIFF/WAVE with 16-bit PCM — pure numpy header walk
    over the published chunk layout, the audio analogue of the PPM/BMP
    image path. Compressed/float encodings (MP3, AAC, IEEE-float WAV, ...)
    raise ``NotImplementedError`` at the same documented codec boundary."""
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        magic = payload[:4].hex() if payload else "<empty>"
        raise NotImplementedError(
            f"no codec for audio payload with magic {magic!r}: only "
            "RIFF/WAVE 16-bit PCM decodes without a codec library"
        )
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    if len(fmt) < 16:
        # A declared 'fmt ' size < 16 (e.g. 8 bytes) would otherwise reach
        # struct.unpack_from and raise struct.error, escaping the documented
        # NotImplementedError/ValueError poison-payload contract.
        raise ValueError(f"WAV fmt chunk truncated: {len(fmt)} < 16 bytes")
    audio_format, channels, rate = struct.unpack_from("<HHI", fmt, 0)
    bits = struct.unpack_from("<H", fmt, 14)[0]
    if audio_format != 1 or bits != 16:
        raise NotImplementedError(
            f"WAV format={audio_format} bits={bits}: only 16-bit PCM "
            "decodes without a codec library"
        )
    if channels == 0:
        raise ValueError("WAV declares zero channels")
    frame_bytes = channels * 2
    n = len(data) // frame_bytes
    if n * frame_bytes != len(data):
        raise ValueError("WAV data chunk not frame-aligned")
    samples = (
        np.frombuffer(data[: n * frame_bytes], dtype="<i2")
        .reshape(n, channels)
        .copy()
    )
    return samples, rate


def encode_wav(samples, rate: int) -> bytes:
    """(n_frames, n_channels) int16 → RIFF/WAVE 16-bit PCM bytes."""
    import struct

    import numpy as np

    arr = np.asarray(samples, dtype="<i2")
    if arr.ndim == 1:
        arr = arr[:, None]
    channels = arr.shape[1]
    data = arr.tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16
    )
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


AUDIO_FEATURE_SCHEMA = (
    "doc_id long, fmt string, sample_rate int, n_frames long, "
    "n_channels int, peak int, energy_q8 long"
)


def extract_audio_features(df: DataFrame) -> DataFrame:
    """Audio features through the real decode path: sample rate, frame and
    channel counts, integer peak amplitude and total energy (sum of
    squares, >>8 — exact integer arithmetic, so the numbers are
    deterministic across platforms). Poison payloads degrade to
    ``fmt='undecodable'`` rows, same contract as the image path."""
    import pandas as pd

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    samples, rate = decode_audio(bytes(payload))
                    s = samples.astype("int64")
                    rows.append(
                        (doc_id, "wav", rate, samples.shape[0],
                         samples.shape[1], int(abs(s).max()) if s.size else 0,
                         int((s * s).sum() >> 8))
                    )
                except (NotImplementedError, ValueError):
                    rows.append(
                        (doc_id, "undecodable", None, None, None, None, None)
                    )
            # Column-wise nullable construction — same float64-coercion
            # hazard as extract_image_features: a poison row's Nones must
            # not route the whole batch's ints through float mantissas.
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(
                        [r[0] for r in rows], dtype="int64"
                    ),
                    "fmt": pd.array([r[1] for r in rows], dtype="object"),
                    "sample_rate": pd.array(
                        [r[2] for r in rows], dtype="Int32"
                    ),
                    "n_frames": pd.array(
                        [r[3] for r in rows], dtype="Int64"
                    ),
                    "n_channels": pd.array(
                        [r[4] for r in rows], dtype="Int32"
                    ),
                    "peak": pd.array([r[5] for r in rows], dtype="Int32"),
                    "energy_q8": pd.array(
                        [r[6] for r in rows], dtype="Int64"
                    ),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        features, AUDIO_FEATURE_SCHEMA
    )


def decode_video(payload: bytes):
    """Decode a YUV4MPEG2 (.y4m) payload to (y_frames, (fps_num, fps_den)):
    ``y_frames`` is an (n_frames, h, w) uint8 array of luma planes.

    Y4M is the container-free video format — a text header (``YUV4MPEG2
    W.. H.. F.. [C420/C444]``) then per frame a ``FRAME`` line + raw
    planes — so REAL frame decode needs no codec, completing the
    image (PPM/BMP) / audio (WAV PCM) / video triad. Chroma planes are
    length-validated and skipped: every downstream consumer here (frame
    hashing, sampling) works on luma, which is exactly what the average
    hash thresholds anyway. Compressed video (MP4/MKV/...) raises
    ``NotImplementedError`` at the documented codec boundary."""
    import numpy as np

    if not payload.startswith(b"YUV4MPEG2"):
        magic = payload[:4].hex() if payload else "<empty>"
        raise NotImplementedError(
            f"no codec for video payload with magic {magic!r}: only "
            "YUV4MPEG2 (.y4m) decodes without a codec library"
        )
    eol = payload.find(b"\n")
    if eol < 0:
        raise ValueError("Y4M header unterminated")
    w = h = None
    fps = (25, 1)
    chroma = b"420"
    for tag in payload[9:eol].split(b" "):
        if not tag:
            continue
        key, val = tag[:1], tag[1:]
        if key == b"W":
            w = int(val)
        elif key == b"H":
            h = int(val)
        elif key == b"F":
            num, den = val.split(b":")
            fps = (int(num), int(den))
        elif key == b"C":
            chroma = val
    if not w or not h or w <= 0 or h <= 0:
        raise ValueError(f"Y4M dimensions {w}x{h} not positive")
    if chroma.startswith(b"420"):
        chroma_bytes = (w // 2) * (h // 2) * 2
        if w % 2 or h % 2:
            raise ValueError("Y4M C420 requires even dimensions")
    elif chroma == b"444":
        chroma_bytes = w * h * 2
    elif chroma == b"mono":
        chroma_bytes = 0
    else:
        raise NotImplementedError(f"Y4M chroma subsampling {chroma!r}")
    frames = []
    pos = eol + 1
    while pos < len(payload):
        feol = payload.find(b"\n", pos)
        if feol < 0 or not payload[pos:feol].startswith(b"FRAME"):
            raise ValueError("Y4M FRAME marker missing or unterminated")
        pos = feol + 1
        need = w * h + chroma_bytes
        if pos + need > len(payload):
            raise ValueError("Y4M frame truncated")
        frames.append(
            np.frombuffer(payload[pos : pos + w * h], dtype=np.uint8)
            .reshape(h, w)
            .copy()
        )
        pos += need
    stack = np.stack(frames) if frames else np.zeros((0, h, w), dtype=np.uint8)
    return stack, fps


def encode_y4m(y_frames, fps=(25, 1)) -> bytes:
    """(n, h, w) uint8 luma planes → C420 Y4M bytes with neutral chroma
    (the test/round-trip counterpart; luma round-trips bit-exact)."""
    import numpy as np

    arr = np.asarray(y_frames, dtype=np.uint8)
    n, h, w = arr.shape
    out = [b"YUV4MPEG2 W%d H%d F%d:%d C420\n" % (w, h, fps[0], fps[1])]
    neutral = b"\x80" * ((w // 2) * (h // 2) * 2)
    for i in range(n):
        out.append(b"FRAME\n")
        out.append(arr[i].tobytes())
        out.append(neutral)
    return b"".join(out)


VIDEO_FRAME_STRIDE = 4

VIDEO_HASH_SCHEMA = (
    "doc_id long, frame_idx int, width int, height int, ahash long"
)


def extract_video_frame_hashes(
    df: DataFrame, stride: int = VIDEO_FRAME_STRIDE
) -> DataFrame:
    """REAL-pixels frame sampling: decode the Y4M payload, keep every
    ``stride``-th frame, emit the 64-bit average hash of each kept frame's
    luma plane — the per-frame fingerprint table a video near-dup join
    consumes (same banding machinery as :func:`image_neardup_pairs`).
    Poison payloads contribute zero rows rather than failing the task
    (their absence IS the signal; the image/audio paths keep a marker row
    because they emit exactly one row per doc, a frame table does not)."""
    import pandas as pd

    def hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    frames, _fps = decode_video(bytes(payload))
                except (NotImplementedError, ValueError):
                    continue
                for idx in range(0, frames.shape[0], stride):
                    ah = average_hash(frames[idx])
                    ah = ah - (1 << 64) if ah >= (1 << 63) else ah
                    rows.append(
                        (doc_id, idx, frames.shape[2], frames.shape[1], ah)
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "width", "height", "ahash"],
            )

    return df.select("doc_id", "payload").mapInPandas(
        hashes, VIDEO_HASH_SCHEMA
    )


VIDEO_MATCH_FRAC = 0.5


def video_neardup_pairs(
    df: DataFrame,
    stride: int = VIDEO_FRAME_STRIDE,
    hamming_max: int = 3,
    min_match_frac: float = VIDEO_MATCH_FRAC,
    frames: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate VIDEO pairs: two payloads whose sampled frames mostly
    match — the re-encode / slight-overlay case. Per sampled frame index,
    candidate frame pairs come from the same banded-aHash equi-join as
    :func:`image_neardup_pairs` (aligned comparison: frame i against frame
    i — the common same-cut case; offset detection would add a lag join),
    verified by Hamming ≤ ``hamming_max``; a pair of videos survives when
    matched frames / max(sampled frames) ≥ ``min_match_frac``. Every step
    is an equi-join or hash agg on (doc, frame) keys — no pairwise-videos
    blowup: candidate volume is bounded by frames sharing a 16-bit band
    key at the same index.

    The frame-hash table fans out to FOUR subtrees (both band-join sides
    and both per-doc count sides); without a materialization Spark
    re-decodes every video once per subtree (the round-6 self-join
    recompute lesson, re-measured here in round 10: 7.6 s → the decode
    dominated). localCheckpoint pins the tiny (doc, idx, hash) table —
    ~20 bytes/frame — so the Python decode runs exactly once.

    ``frames`` (r17): a pre-computed (doc_id, frame_idx, ahash) table —
    e.g. the persisted ``multimodal_synth.VIDEO_FRAMES`` artifact —
    replaces the in-line decode entirely. The recurring near-dup/cluster
    cost then becomes the banded join + counts over a parquet scan; no
    localCheckpoint is taken because the artifact is already
    materialized storage and its four subtree reads are pruned column
    scans, not Python decodes. The caller owns stride consistency (the
    artifact's sidecar pins ``VIDEO_FRAME_STRIDE`` and is checked before
    any data read)."""
    if frames is None:
        frames = extract_video_frame_hashes(
            df, stride=stride
        ).localCheckpoint(eager=True)
    else:
        frames = frames.select("doc_id", "frame_idx", "ahash")
    band = F.posexplode(
        F.array(
            *[
                F.shiftrightunsigned("ahash", 16 * b)
                .bitwiseAND(F.lit(0xFFFF))
                .alias(f"b{b}")
                for b in range(AHASH_BANDS)
            ]
        )
    ).alias("band_idx", "key")
    banded = frames.select("doc_id", "frame_idx", "ahash", band)
    a = banded.select(
        "frame_idx", "band_idx", "key",
        F.col("doc_id").alias("doc_a"), F.col("ahash").alias("hash_a"),
    )
    b = banded.select(
        "frame_idx", "band_idx", "key",
        F.col("doc_id").alias("doc_b"), F.col("ahash").alias("hash_b"),
    )
    hamming = F.bit_count(F.col("hash_a").bitwiseXOR(F.col("hash_b")))
    matched = (
        a.join(b, ["frame_idx", "band_idx", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        # first-shared-band gate instead of distinct() (r18): one row
        # per (video pair, frame index) survives, from the hashes
        # already in flight — the matched-frame count is identical and
        # the candidate stream never shuffles for dedup (the count's
        # own partial aggregation is the only exchange left)
        .filter(_first_shared_band_gate("hash_a", "hash_b"))
        .select("doc_a", "doc_b", "frame_idx", hamming.alias("hamming"))
        .filter(F.col("hamming") <= hamming_max)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("matched_frames"))
    )
    counts = frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames")
    )
    ca = counts.select(
        F.col("doc_id").alias("doc_a"), F.col("n_frames").alias("frames_a")
    )
    cb = counts.select(
        F.col("doc_id").alias("doc_b"), F.col("n_frames").alias("frames_b")
    )
    frac = F.col("matched_frames") / F.greatest("frames_a", "frames_b")
    # Filter on the RAW fraction (like the SQL oracle); round only the
    # OUTPUT column — filtering on the rounded value would admit pairs
    # up to half an ulp-of-1e-6 below the threshold and diverge from the
    # oracle near the boundary (code review r10).
    return (
        matched.join(ca, "doc_a")
        .join(cb, "doc_b")
        .filter(frac >= min_match_frac)
        .withColumn("match_frac", F.round(frac, 6))
        .select("doc_a", "doc_b", "matched_frames", "match_frac")
    )


AHASH_BANDS = 4  # 4 × 16-bit bands over the 64-bit average hash
AHASH_HAMMING_MAX = 3


def _banded_hash_pairs(
    sig: DataFrame, hash_col: str, hamming_max: int
) -> DataFrame:
    """(doc_id, <hash_col>) → (doc_a, doc_b, hamming) pairs within
    ``hamming_max`` of a 64-bit hash — the shared engine behind the
    image and audio near-dup queries. Four 16-bit bands, ONE
    (band_idx, key) equi-join, ``bit_count(xor)`` verification; recall
    is EXACT for ``hamming_max ≤ AHASH_BANDS - 1`` by pigeonhole. The
    caller materializes ``sig`` (localCheckpoint) so the Python hashing
    runs once, not once per join side."""
    if hamming_max > AHASH_BANDS - 1:
        # Beyond the pigeonhole radius a pair can flip one bit in every
        # band and silently never surface — fail loudly instead of
        # returning an incomplete pair set (code review r10).
        raise ValueError(
            f"hamming_max={hamming_max} exceeds the exact-recall radius "
            f"{AHASH_BANDS - 1} of {AHASH_BANDS}-band banding"
        )
    band = F.posexplode(
        F.array(
            *[
                F.shiftrightunsigned(hash_col, 16 * b)
                .bitwiseAND(F.lit(0xFFFF))
                .alias(f"b{b}")
                for b in range(AHASH_BANDS)
            ]
        )
    ).alias("band_idx", "key")
    banded = sig.select("doc_id", hash_col, band)
    a = banded.select(
        "band_idx", "key",
        F.col("doc_id").alias("doc_a"), F.col(hash_col).alias("hash_a"),
    )
    b = banded.select(
        "band_idx", "key",
        F.col("doc_id").alias("doc_b"), F.col(hash_col).alias("hash_b"),
    )
    hamming = F.bit_count(F.col("hash_a").bitwiseXOR(F.col("hash_b")))
    return (
        a.join(b, ["band_idx", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        # Cross-band dedup WITHOUT the distinct() exchange (r18, the
        # dedup.py first-shared-band finding): a pair sharing k of the
        # 4 bands surfaces k times; keep it only at its FIRST shared
        # band — computable from the full hashes BOTH sides already
        # carry, so the gate costs two shifts per earlier band and zero
        # extra bytes, and the pair stream is pair-unique with no
        # shuffle. Pinned vs the distinct() spelling in
        # tests/test_r18_fixes.py.
        .filter(_first_shared_band_gate("hash_a", "hash_b"))
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= hamming_max)
    )


def _first_shared_band_gate(hash_a: str, hash_b: str):
    """Keep a banded pair row only at the pair's first shared 16-bit
    band: band ``band_idx`` survives iff band i of the two hashes
    differs for every i < band_idx. Hashes are non-null by construction
    (undecodable payloads are filtered before banding), so the !=
    comparisons are two-valued."""
    cond = F.lit(True)
    for i in range(AHASH_BANDS - 1):
        ba = F.shiftrightunsigned(hash_a, 16 * i).bitwiseAND(F.lit(0xFFFF))
        bb = F.shiftrightunsigned(hash_b, 16 * i).bitwiseAND(F.lit(0xFFFF))
        cond = cond & ((F.col("band_idx") <= F.lit(i)) | (ba != bb))
    return cond


def image_neardup_pairs(
    media: DataFrame, hamming_max: int = AHASH_HAMMING_MAX
) -> DataFrame:
    """Near-duplicate IMAGE pairs — the SimHash text machinery applied to
    pixels: 64-bit average hash per decodable payload, banded into
    ``AHASH_BANDS`` 16-bit keys, ONE (band_idx, key) equi-join for
    candidates, ``bit_count(xor)`` Hamming verification. Undecodable
    payloads are excluded upstream (they carry no hash).

    Recall guarantee (pigeonhole): any pair within ``hamming_max`` ≤
    ``AHASH_BANDS - 1`` bit flips differs in at most that many bands, so
    at least one of the four 16-bit bands is IDENTICAL and the equi-join
    always surfaces the pair — banding here is exact, not approximate
    (tests/test_multimodal_decode.py checks the pair set against a
    brute-force hash comparison). Scale shape is the text-SimHash plan
    verbatim: per-row hashing (mapInPandas instead of JVM expressions —
    pixels need Python), one equi-join keyed by (band, key), an 8-byte
    long shuffled per side, AQE handling hot buckets."""
    # Materialize the (doc_id, ahash) table before the self-join fans it
    # out: both band sides would otherwise re-run the pixel decode
    # (round-6 self-join recompute lesson; halves the cold wall here).
    sig = (
        extract_image_features(media)
        .filter(F.col("fmt") != "undecodable")
        .select("doc_id", "ahash")
        .localCheckpoint(eager=True)
    )
    return _banded_hash_pairs(sig, "ahash", hamming_max)


AUDIO_FP_BLOCKS = 64  # one fingerprint bit per equal-length sample block


AUDIO_FP_SCHEMA = "doc_id long, n_blocks int, fingerprint long"


def extract_audio_fingerprints(
    df: DataFrame, n_blocks: int = AUDIO_FP_BLOCKS
) -> DataFrame:
    """64-bit energy fingerprint through the REAL WAV decode: split the
    first channel into ``n_blocks`` equal-length blocks, compute each
    block's integer energy (sum of squares), set the block's bit when its
    energy exceeds the mean block energy — the audio analogue of the
    image average hash, thresholded by exact integer cross-multiplication
    (``e · n_blocks > Σe``, the Q17 trick: no division, no float, no
    platform drift). Block 0 is the MSB, matching the aHash bit order so
    the same banding machinery applies verbatim.

    Undecodable payloads and clips shorter than ``n_blocks`` frames
    contribute ZERO rows (a fingerprint table, like the video frame-hash
    table — absence is the signal)."""
    import pandas as pd

    def fingerprints(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    samples, _rate = decode_audio(bytes(payload))
                except (NotImplementedError, ValueError):
                    continue
                mono = samples[:, 0].astype("int64")
                block_len = mono.shape[0] // n_blocks
                if block_len == 0:
                    continue
                blocks = mono[: n_blocks * block_len].reshape(
                    n_blocks, block_len
                )
                energy = (blocks * blocks).sum(axis=1)
                total = int(energy.sum())
                fp = 0
                for e in energy:
                    fp = (fp << 1) | int(int(e) * n_blocks > total)
                fp = fp - (1 << 64) if fp >= (1 << 63) else fp
                rows.append((doc_id, n_blocks, fp))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_blocks", "fingerprint"]
            )

    return df.select("doc_id", "payload").mapInPandas(
        fingerprints, AUDIO_FP_SCHEMA
    )


def audio_neardup_pairs(
    media: DataFrame, hamming_max: int = AHASH_HAMMING_MAX
) -> DataFrame:
    """Near-duplicate AUDIO pairs — completes the modality triad (image
    round 9/10, video round 9/10, audio here): 64-bit energy fingerprint
    per decodable clip, then the exact-recall banded Hamming join shared
    with :func:`image_neardup_pairs`. Scale shape identical: one
    (band, key) equi-join, 8-byte longs shuffled, AQE on hot buckets."""
    sig = (
        extract_audio_fingerprints(media)
        .select("doc_id", "fingerprint")
        .localCheckpoint(eager=True)
    )
    return _banded_hash_pairs(sig, "fingerprint", hamming_max)


def q_ns_mm_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata projection over the multimodal table (pure JVM)."""
    media = build_media_table(spark, sf_dir)
    return media.select(
        "doc_id",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.content_length").alias("content_length"),
        F.col("meta.origin").alias("origin"),
    )


def q_ns_mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-feature extraction through the real mapInPandas decode path."""
    return extract_byte_features(build_media_table(spark, sf_dir))


FRAME_BYTES = 32  # fixed-size "frame" of the payload
FRAME_STRIDE = 4  # keep every 4th frame


def q_ns_mm_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: treat the payload as fixed-size frames, keep every
    STRIDE-th frame (the video-keyframe / audio-window subsample pattern).
    Pure JVM: sequence → transform → filter on the binary column; a real
    decoder would replace the substring with a codec frame extraction."""
    media = build_media_table(spark, sf_dir)
    n_frames = F.ceil(F.octet_length("payload") / F.lit(FRAME_BYTES)).cast(
        "int"
    )
    frames = F.transform(
        F.sequence(F.lit(0), n_frames - 1),
        lambda i: F.struct(
            i.alias("frame_idx"),
            F.substring(
                F.col("payload").cast("string"), i * FRAME_BYTES + 1, FRAME_BYTES
            ).alias("frame"),
        ),
    )
    sampled = F.filter(frames, lambda fr: fr["frame_idx"] % FRAME_STRIDE == 0)
    return (
        media.select("doc_id", F.explode(sampled).alias("fr"))
        .select(
            "doc_id",
            F.col("fr.frame_idx").alias("frame_idx"),
            F.length("fr.frame").cast("long").alias("frame_len"),
            F.md5(F.encode("fr.frame", "utf-8")).alias("frame_md5"),
        )
    )


QUERIES = {
    "ns_mm_meta": q_ns_mm_meta,
    "ns_mm_features": q_ns_mm_features,
    "ns_mm_framesample": q_ns_mm_framesample,
}

ORACLES = {
    "ns_mm_meta": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               'text/plain' AS mime,
               n_chars AS content_length,
               source AS origin
        FROM documents
    """,
    "ns_mm_features": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               CAST(ascii(substr(text, 1, 1)) AS INT) AS first_byte,
               CAST(ascii(substr(text, length(text), 1)) AS INT) AS last_byte
        FROM documents
    """,
    "ns_mm_framesample": f"""
        WITH f AS (
            SELECT doc_id,
                   unnest(range(0, CAST(ceil(octet_length(encode(text))
                       / {FRAME_BYTES}.0) AS BIGINT))) AS frame_idx,
                   text
            FROM documents
        )
        SELECT doc_id,
               CAST(frame_idx AS INT) AS frame_idx,
               CAST(length(substr(text, CAST(frame_idx * {FRAME_BYTES} + 1 AS INT),
                   {FRAME_BYTES})) AS BIGINT) AS frame_len,
               md5(substr(text, CAST(frame_idx * {FRAME_BYTES} + 1 AS INT),
                   {FRAME_BYTES})) AS frame_md5
        FROM f WHERE frame_idx % {FRAME_STRIDE} = 0
    """,
}
