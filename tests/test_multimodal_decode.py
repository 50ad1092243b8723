"""Real image decode for container-free formats (round 9).

`decode_image` genuinely decodes binary PPM (P6) and 24-bit uncompressed
BMP in pure numpy; compressed formats stay behind the documented codec
boundary (NotImplementedError naming the magic). Round-trips are
bit-exact against our own encoders, BMP row padding and bottom-up
storage are exercised with odd widths, and the Spark mapInPandas path
(`extract_image_features`) must survive poison payloads row-wise.
"""

from __future__ import annotations

import numpy as np
import pytest

from duckdb_parquet_parser_spark.operators.multimodal import (
    average_hash,
    decode_image,
    encode_bmp,
    encode_ppm,
    extract_image_features,
    resize_nearest,
)


def _img(h, w, seed):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


@pytest.mark.parametrize("h,w", [(1, 1), (5, 7), (8, 8), (13, 3), (6, 31)])
def test_ppm_roundtrip_bit_exact(h, w):
    img = _img(h, w, h * 100 + w)
    assert np.array_equal(decode_image(encode_ppm(img)), img)


@pytest.mark.parametrize("h,w", [(1, 1), (5, 7), (8, 8), (13, 3), (6, 31)])
def test_bmp_roundtrip_bit_exact(h, w):
    # odd widths exercise the 4-byte row padding; bottom-up flip covered
    img = _img(h, w, h * 100 + w + 1)
    assert np.array_equal(decode_image(encode_bmp(img)), img)


def test_ppm_header_comments_and_whitespace():
    img = _img(3, 4, 9)
    raw = encode_ppm(img)
    # inject comments + extra whitespace between header tokens
    commented = b"P6\n# a comment\n 4  \n# another\n3\n255\n" + raw.split(b"\n", 3)[3]
    assert np.array_equal(decode_image(commented), img)


def test_codec_boundary_raises_with_magic():
    with pytest.raises(NotImplementedError, match="magic"):
        decode_image(b"\x89PNG\r\n\x1a\n not a real png")
    with pytest.raises(NotImplementedError, match="24-bit"):
        # an 8bpp BMP header: bpp field at offset 28 set to 8
        img = bytearray(encode_bmp(_img(2, 2, 1)))
        img[28] = 8
        decode_image(bytes(img))


def test_truncated_rasters_raise_value_error():
    ppm = encode_ppm(_img(4, 4, 2))
    with pytest.raises(ValueError, match="truncated"):
        decode_image(ppm[:-5])
    bmp = encode_bmp(_img(4, 4, 3))
    with pytest.raises(ValueError, match="truncated"):
        decode_image(bmp[:-5])


def test_resize_and_average_hash_properties():
    img = _img(32, 48, 4)
    small = resize_nearest(img, 8, 8)
    assert small.shape == (8, 8, 3)
    # aHash: deterministic, 64-bit, identical images agree, an inverted
    # image (luma flipped around the mean) disagrees
    h1 = average_hash(img)
    assert h1 == average_hash(img.copy())
    assert 0 <= h1 < (1 << 64)
    h2 = average_hash(255 - img)
    assert h1 != h2
    # scale invariance of the thumbnail path: a 2x nearest upscale keeps
    # the same 8x8 sample grid, so the hash is unchanged
    up = resize_nearest(img, 96, 64)
    assert average_hash(up) == h1


def test_extract_image_features_spark_path(spark):
    rows = [
        (1, bytearray(encode_ppm(_img(6, 9, 11)))),
        (2, bytearray(encode_bmp(_img(7, 5, 12)))),
        (3, bytearray(b"\xff\xd8\xff\xe0 fake jpeg")),  # codec boundary
        (4, bytearray(b"")),  # empty payload
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in extract_image_features(df).collect()}
    assert got[1]["fmt"] == "ppm" and (got[1]["width"], got[1]["height"]) == (9, 6)
    assert got[2]["fmt"] == "bmp" and (got[2]["width"], got[2]["height"]) == (5, 7)
    for bad in (3, 4):
        assert got[bad]["fmt"] == "undecodable"
        assert got[bad]["width"] is None and got[bad]["ahash"] is None
    # features match a local decode exactly
    img = decode_image(bytes(rows[0][1]))
    assert got[1]["mean_r"] == pytest.approx(img[..., 0].mean())
    ah = average_hash(img)
    ah = ah - (1 << 64) if ah >= (1 << 63) else ah
    assert got[1]["ahash"] == ah


def test_poison_row_in_batch_keeps_hashes_exact(spark):
    """A poison row sharing an Arrow batch with real rows must not change
    the real rows' values: pandas would infer float64 for int columns
    containing a None, rounding 64-bit hashes to 52-bit mantissas (round-10
    bug — the corruption depended on which batch poison landed in, so
    multi-partition tests missed it). coalesce(1) forces one batch."""
    import numpy as np

    # An image whose average hash needs > 52 significant bits: MSB pixel
    # bright plus low-order structure (alternating last row).
    img = np.full((8, 8, 3), 50, dtype=np.uint8)
    img[0, 0] = 200
    img[7, ::2] = 200
    ah = average_hash(img)
    assert ah >= (1 << 57) and ah != (ah & ~0x3F), "fixture must exercise low bits"
    rows = [
        (1, bytearray(encode_ppm(img))),
        (2, bytearray(b"\xff\xd8\xff\xe0 fake jpeg")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary").coalesce(1)
    got = {r["doc_id"]: r for r in extract_image_features(df).collect()}
    expect = ah - (1 << 64) if ah >= (1 << 63) else ah
    assert got[1]["ahash"] == expect
    assert got[2]["fmt"] == "undecodable"

    from duckdb_parquet_parser_spark.operators.multimodal import (
        encode_wav,
        extract_audio_features,
    )

    s = (np.arange(300, dtype="<i2") % 1024 - 512).reshape(-1, 1)
    arows = [
        (1, bytearray(encode_wav(s, 8000))),
        (2, bytearray(b"RIFF" + bytes(8))),
    ]
    adf = spark.createDataFrame(arows, "doc_id long, payload binary").coalesce(1)
    agot = {r["doc_id"]: r for r in extract_audio_features(adf).collect()}
    s64 = s.astype("int64")
    assert agot[1]["energy_q8"] == int((s64 * s64).sum()) >> 8
    assert agot[1]["peak"] == int(abs(s64).max())
    assert agot[2]["fmt"] == "undecodable"


def test_image_neardup_pairs_match_bruteforce(spark):
    """Banded aHash near-dup pairs must equal the brute-force O(n²) hash
    comparison — banding is EXACT here (hamming ≤ 3 flips touch at most 3
    of the 4 sixteen-bit bands, so one band always matches) — and
    undecodable payloads must be excluded, not crash the job."""
    from duckdb_parquet_parser_spark.operators.multimodal import (
        AHASH_HAMMING_MAX,
        image_neardup_pairs,
    )

    rng = np.random.default_rng(99)
    # build images AT the 8x8 hash resolution so each pixel is one hash
    # cell: near-dups are controlled bit flips, far images are inversions
    base = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    variants = {1: base}
    for doc_id, flips in ((2, 1), (3, 3), (4, 12)):
        img = base.copy()
        cells = rng.choice(64, size=flips, replace=False)
        for c in cells:
            y, x = divmod(int(c), 8)
            img[y, x] = 255 - img[y, x]  # push the cell across the mean
        variants[doc_id] = img
    variants[5] = 255 - base  # far
    rows = [(i, bytearray(encode_ppm(v))) for i, v in variants.items()]
    rows.append((6, bytearray(b"not an image")))  # excluded, not fatal
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in image_neardup_pairs(df).collect()
    }

    def h(img):
        v = average_hash(img)
        return v

    want = {}
    ids = sorted(variants)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d = bin(h(variants[ids[i]]) ^ h(variants[ids[j]])).count("1")
            if d <= AHASH_HAMMING_MAX:
                want[(ids[i], ids[j])] = d
    assert got == want
    assert (1, 2) in got  # the 1-flip near-dup is definitely found
    assert all(6 not in pair for pair in got)


def test_wav_roundtrip_bit_exact():
    from duckdb_parquet_parser_spark.operators.multimodal import (
        decode_audio,
        encode_wav,
    )

    rng = np.random.default_rng(21)
    for frames, ch, rate in ((1, 1, 8000), (480, 2, 16000), (777, 3, 44100)):
        samples = rng.integers(-(2**15), 2**15, size=(frames, ch)).astype("<i2")
        got, got_rate = decode_audio(encode_wav(samples, rate))
        assert got_rate == rate
        assert np.array_equal(got, samples)


def test_wav_codec_boundary_and_corruption():
    import struct

    import pytest as _pytest

    from duckdb_parquet_parser_spark.operators.multimodal import (
        decode_audio,
        encode_wav,
    )

    with _pytest.raises(NotImplementedError, match="magic"):
        decode_audio(b"ID3\x04 fake mp3 payload")
    wav = bytearray(encode_wav(np.zeros((4, 1), dtype="<i2"), 8000))
    # flip the fmt chunk's audio_format to 3 (IEEE float): boundary
    fmt_off = wav.find(b"fmt ") + 8
    struct.pack_into("<H", wav, fmt_off, 3)
    with _pytest.raises(NotImplementedError, match="format=3"):
        decode_audio(bytes(wav))
    # truncate mid-data: frame alignment check
    good = encode_wav(np.zeros((4, 2), dtype="<i2"), 8000)
    with _pytest.raises(ValueError):
        decode_audio(good[:-3] + b"")  # data size field now lies


def test_extract_audio_features_spark_path(spark):
    from duckdb_parquet_parser_spark.operators.multimodal import (
        encode_wav,
        extract_audio_features,
    )

    tone = (np.sin(np.linspace(0, 40, 800)) * 20000).astype("<i2")
    stereo = np.stack([tone, -tone], axis=1)
    rows = [
        (1, bytearray(encode_wav(stereo, 16000))),
        (2, bytearray(encode_wav(np.zeros((10, 1), dtype="<i2"), 8000))),
        (3, bytearray(b"\xffnot audio")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in extract_audio_features(df).collect()}
    assert got[1]["fmt"] == "wav"
    assert (got[1]["sample_rate"], got[1]["n_frames"], got[1]["n_channels"]) == (
        16000, 800, 2,
    )
    s = stereo.astype("int64")
    assert got[1]["peak"] == int(abs(s).max())
    assert got[1]["energy_q8"] == int((s * s).sum() >> 8)
    assert got[2]["fmt"] == "wav" and got[2]["peak"] == 0
    assert got[3]["fmt"] == "undecodable" and got[3]["sample_rate"] is None


def test_decoders_never_crash_on_fuzz_bytes():
    """The poison-payload contract: decode_image/decode_audio on arbitrary
    bytes raise ONLY NotImplementedError or ValueError (which the Spark
    paths degrade to 'undecodable' rows) — never IndexError/struct.error/
    OverflowError, and never hang or allocate absurdly."""
    from duckdb_parquet_parser_spark.operators.multimodal import (
        decode_audio,
        decode_image,
        decode_video,
    )

    rng = np.random.default_rng(7)
    payloads = [bytes(rng.integers(0, 256, size=n, dtype=np.uint8).tobytes())
                for n in (0, 1, 2, 3, 13, 54, 100, 4096)]
    # adversarial: valid magics with garbage bodies and hostile size fields
    payloads += [
        b"P6\n999999999 999999999\n255\n",  # huge dims, no raster
        b"P6\n# only comments",
        b"BM" + bytes(60),  # zeroed header fields
        b"BM" + bytes(12) + (0).to_bytes(4, "little") + bytes(100),
        b"RIFF" + bytes(8),
        b"RIFF\xff\xff\xff\xffWAVE",  # lying RIFF size, no chunks
        b"RIFF" + bytes(4) + b"WAVEfmt " + (0xFFFFFFFF).to_bytes(4, "little"),
        b"YUV4MPEG2",  # unterminated header
        b"YUV4MPEG2 W99999999 H99999999 F25:1 C420\nFRAME\n",  # huge dims
        b"YUV4MPEG2 Wx Hy F25:1\n",  # non-numeric tags
        # short 'fmt ' body (declared size 8 < 16) followed by a VALID
        # 'data' chunk: without the len(fmt) guard this reached
        # struct.unpack_from('<H', fmt, 14) and raised struct.error,
        # escaping the contract (ADVICE r9).
        (b"RIFF" + (36).to_bytes(4, "little") + b"WAVE"
         + b"fmt " + (8).to_bytes(4, "little") + bytes(8)
         + b"data" + (4).to_bytes(4, "little") + bytes(4)),
        # zero-channel fmt with valid data: frame_bytes would be 0
        (b"RIFF" + (44).to_bytes(4, "little") + b"WAVE"
         + b"fmt " + (16).to_bytes(4, "little")
         + (1).to_bytes(2, "little") + (0).to_bytes(2, "little")
         + (8000).to_bytes(4, "little") + (0).to_bytes(4, "little")
         + (0).to_bytes(2, "little") + (16).to_bytes(2, "little")
         + b"data" + (4).to_bytes(4, "little") + bytes(4)),
    ]
    for p in payloads:
        for fn in (decode_image, decode_audio, decode_video):
            try:
                fn(p)
            except (NotImplementedError, ValueError):
                pass  # the only allowed outcomes for undecodable bytes


def test_zero_dimension_images_rejected():
    """A 0-width/0-height payload must raise ValueError at decode — an
    empty pixel array would otherwise reach average_hash and crash the
    feature task with an uncatchable IndexError."""
    import pytest as _pytest

    zero_bmp = bytearray(encode_bmp(_img(2, 2, 5)))
    import struct
    struct.pack_into("<ii", zero_bmp, 18, 0, 0)
    with _pytest.raises(ValueError, match="not positive"):
        decode_image(bytes(zero_bmp))
    with _pytest.raises(ValueError, match="not positive"):
        decode_image(b"P6\n0 4\n255\n")


def test_y4m_roundtrip_luma_bit_exact():
    from duckdb_parquet_parser_spark.operators.multimodal import (
        decode_video,
        encode_y4m,
    )

    rng = np.random.default_rng(31)
    frames = rng.integers(0, 256, size=(5, 6, 8), dtype=np.uint8)
    got, fps = decode_video(encode_y4m(frames, fps=(30, 1)))
    assert fps == (30, 1)
    assert np.array_equal(got, frames)
    # zero-frame stream decodes to an empty stack with the right dims
    empty, _ = decode_video(b"YUV4MPEG2 W4 H2 F25:1 C420\n")
    assert empty.shape == (0, 2, 4)


def test_y4m_codec_boundary_and_corruption():
    import pytest as _pytest

    from duckdb_parquet_parser_spark.operators.multimodal import (
        decode_video,
        encode_y4m,
    )

    with _pytest.raises(NotImplementedError, match="magic"):
        decode_video(b"\x00\x00\x00\x18ftypmp42 fake mp4")
    with _pytest.raises(NotImplementedError, match="chroma"):
        decode_video(b"YUV4MPEG2 W4 H2 F25:1 C422\nFRAME\n" + bytes(16))
    frames = np.zeros((2, 2, 4), dtype=np.uint8)
    good = encode_y4m(frames)
    with _pytest.raises(ValueError, match="truncated"):
        decode_video(good[:-3])
    with _pytest.raises(ValueError, match="not positive"):
        decode_video(b"YUV4MPEG2 W0 H2 F25:1\n")


def test_extract_video_frame_hashes_spark_path(spark):
    from duckdb_parquet_parser_spark.operators.multimodal import (
        VIDEO_FRAME_STRIDE,
        decode_video,
        encode_y4m,
        extract_video_frame_hashes,
    )

    rng = np.random.default_rng(41)
    frames = rng.integers(0, 256, size=(10, 8, 8), dtype=np.uint8)
    rows = [
        (1, bytearray(encode_y4m(frames))),
        (2, bytearray(b"not a video")),  # zero rows, not a task failure
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = extract_video_frame_hashes(df).collect()
    assert {r["doc_id"] for r in got} == {1}
    kept = sorted(r["frame_idx"] for r in got)
    assert kept == list(range(0, 10, VIDEO_FRAME_STRIDE))
    # per-frame hash equals a local hash of the decoded luma plane
    dec, _ = decode_video(bytes(rows[0][1]))
    by_idx = {r["frame_idx"]: r["ahash"] for r in got}
    for idx in kept:
        ah = average_hash(dec[idx])
        ah = ah - (1 << 64) if ah >= (1 << 63) else ah
        assert by_idx[idx] == ah
        assert (r := [x for x in got if x["frame_idx"] == idx][0])["width"] == 8


def test_video_neardup_pairs_aligned_frames(spark):
    from duckdb_parquet_parser_spark.operators.multimodal import (
        decode_video,
        encode_y4m,
        extract_video_frame_hashes,
        video_neardup_pairs,
    )

    rng = np.random.default_rng(55)
    base = rng.integers(0, 256, size=(8, 8, 8), dtype=np.uint8)
    # near-dup: flip ONE hash cell per frame (hamming 1 per sampled frame)
    near = base.copy()
    near[:, 0, 0] = 255 - near[:, 0, 0]
    far = 255 - base  # every frame's hash inverted
    # half-match: first half = base frames, second half inverted
    half = base.copy()
    half[4:] = 255 - half[4:]
    rows = [
        (1, bytearray(encode_y4m(base))),
        (2, bytearray(encode_y4m(near))),
        (3, bytearray(encode_y4m(far))),
        (4, bytearray(encode_y4m(half))),
        (5, bytearray(b"junk")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    # stride=1: all 8 frames sampled; expected fractions computed locally
    got = {
        (r["doc_a"], r["doc_b"]): (r["matched_frames"], r["match_frac"])
        for r in video_neardup_pairs(df, stride=1, min_match_frac=0.5).collect()
    }
    vids = {i: decode_video(bytes(p))[0] for i, p in rows[:4]}

    def hashes(v):
        return [average_hash(f) for f in v]

    want = {}
    ids = sorted(vids)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            ha, hb = hashes(vids[ids[i]]), hashes(vids[ids[j]])
            m = sum(
                1 for x, y in zip(ha, hb) if bin(x ^ y).count("1") <= 3
            )
            frac = m / max(len(ha), len(hb))
            if frac >= 0.5:
                want[(ids[i], ids[j])] = (m, round(frac, 6))
    assert got == want
    assert (1, 2) in got and got[(1, 2)][1] == 1.0  # full aligned match
    assert all(5 not in pair for pair in got)  # junk payload: zero rows
    assert (1, 3) not in got  # fully inverted never matches the base
    # the half-inverted video sits exactly at the 0.5 boundary vs base —
    # and, symmetrically, vs the fully inverted video (its second half IS
    # those frames), which the brute-force `want` confirms
    assert got.get((1, 4), (0, 0))[1] == 0.5
    assert got.get((3, 4), (0, 0))[1] == 0.5


def test_hypothesis_fuzz_decoders_and_roundtrips():
    """Property fuzz over the decode triad: (1) arbitrary bytes and
    magic-prefixed garbage only ever raise NotImplementedError/ValueError;
    (2) byte-level MUTATIONS of valid payloads never crash with anything
    else; (3) valid round-trips stay bit-exact under random shapes."""
    import os

    import pytest as _pytest

    try:
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st
    except ImportError:
        _pytest.skip("hypothesis unavailable")

    from duckdb_parquet_parser_spark.operators.multimodal import (
        decode_audio,
        decode_image,
        decode_video,
        encode_bmp,
        encode_ppm,
        encode_wav,
        encode_y4m,
    )

    n_examples = 60 * int(os.environ.get("SPARK_GRAFT_FUZZ_SCALE", "1"))
    magics = st.sampled_from(
        [b"", b"P6", b"BM", b"RIFF", b"RIFF1234WAVE", b"YUV4MPEG2", b"P6\n"]
    )
    garbage = st.binary(max_size=300)

    @settings(max_examples=n_examples, deadline=None)
    @given(prefix=magics, body=garbage)
    def _never_crashes(prefix, body):
        for fn in (decode_image, decode_audio, decode_video):
            try:
                fn(prefix + body)
            except (NotImplementedError, ValueError):
                pass

    _never_crashes()

    rng = np.random.default_rng(77)
    valid = [
        encode_ppm(rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)),
        encode_bmp(rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)),
        encode_wav(rng.integers(-32768, 32768, size=(64, 2)).astype("<i2"), 8000),
        encode_y4m(rng.integers(0, 256, size=(3, 4, 6), dtype=np.uint8)),
    ]

    @settings(max_examples=n_examples, deadline=None)
    @given(
        which=st.integers(0, 3),
        pos=st.integers(0, 10**6),
        val=st.integers(0, 255),
        cut=st.integers(0, 10**6),
    )
    def _mutations_never_crash(which, pos, val, cut):
        payload = bytearray(valid[which])
        payload[pos % len(payload)] = val
        payload = bytes(payload)[: max(1, cut % (len(payload) + 1))]
        for fn in (decode_image, decode_audio, decode_video):
            try:
                fn(payload)
            except (NotImplementedError, ValueError):
                pass

    _mutations_never_crash()

    @settings(max_examples=max(10, n_examples // 3), deadline=None)
    @given(
        h=st.integers(1, 12), w=st.integers(1, 12),
        frames=st.integers(0, 5), ch=st.integers(1, 3),
        seed=st.integers(0, 2**16),
    )
    def _roundtrips(h, w, frames, ch, seed):
        r = np.random.default_rng(seed)
        img = r.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_image(encode_ppm(img)), img)
        assert np.array_equal(decode_image(encode_bmp(img)), img)
        pcm = r.integers(-32768, 32768, size=(w * 4, ch)).astype("<i2")
        got, rate = decode_audio(encode_wav(pcm, 16000))
        assert rate == 16000 and np.array_equal(got, pcm)
        y = r.integers(0, 256, size=(frames, h * 2, w * 2), dtype=np.uint8)
        vy, _fps = decode_video(encode_y4m(y))
        assert np.array_equal(vy, y)

    _roundtrips()


def test_audio_fingerprint_matches_local_energy_math(spark):
    """The Spark fingerprint must equal a local integer recomputation
    (block energies, mean threshold by cross-multiplication, MSB-first),
    poison payloads and sub-64-frame clips must contribute zero rows."""
    from duckdb_parquet_parser_spark.operators.multimodal import (
        AUDIO_FP_BLOCKS,
        encode_wav,
        extract_audio_fingerprints,
    )

    rng = np.random.default_rng(7)
    clips = {
        1: (rng.integers(-2000, 2000, size=(1024, 1)).astype("<i2"), 8000),
        2: (rng.integers(-300, 300, size=(700, 2)).astype("<i2"), 16000),
        3: ((np.arange(64) * 100 % 1500 - 700).reshape(-1, 1).astype("<i2"), 8000),
    }
    rows = [(i, bytearray(encode_wav(s, r))) for i, (s, r) in clips.items()]
    rows.append((4, bytearray(b"ID3\x03 not a wav")))  # poison: zero rows
    rows.append((5, bytearray(encode_wav(np.zeros((10, 1), "<i2"), 8000))))  # short
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in extract_audio_fingerprints(df).collect()}
    assert set(got) == {1, 2, 3}

    for doc_id, (s, _r) in clips.items():
        mono = s[:, 0].astype("int64")
        bl = mono.shape[0] // AUDIO_FP_BLOCKS
        blocks = mono[: AUDIO_FP_BLOCKS * bl].reshape(AUDIO_FP_BLOCKS, bl)
        energy = (blocks * blocks).sum(axis=1)
        total = int(energy.sum())
        fp = 0
        for e in energy:
            fp = (fp << 1) | int(int(e) * AUDIO_FP_BLOCKS > total)
        fp = fp - (1 << 64) if fp >= (1 << 63) else fp
        assert got[doc_id]["fingerprint"] == fp, doc_id
        assert got[doc_id]["n_blocks"] == AUDIO_FP_BLOCKS


def test_audio_neardup_pairs_match_bruteforce(spark):
    """Banded fingerprint near-dup pairs must equal the brute-force O(n²)
    comparison — same exact-recall argument as images — with poison
    excluded, on clips whose fingerprints are controlled bit flips of a
    two-level energy pattern."""
    from duckdb_parquet_parser_spark.operators.multimodal import (
        AHASH_HAMMING_MAX,
        AUDIO_FP_BLOCKS,
        audio_neardup_pairs,
        encode_wav,
        extract_audio_fingerprints,
    )

    rng = np.random.default_rng(13)

    def clip_from_bits(bits):
        amp = np.where(bits, 800, 100).astype("int64")
        pattern = np.tile([1, -1], 8)
        return encode_wav(
            (amp[:, None] * pattern[None, :]).reshape(-1, 1).astype("<i2"),
            8000,
        )

    base = rng.integers(0, 2, size=AUDIO_FP_BLOCKS).astype(bool)
    base[0] = True  # keep 0 < k < 64
    base[1] = False
    variants = {1: base}
    for doc_id, flips in ((2, 1), (3, 3), (4, 9)):
        b = base.copy()
        for c in rng.choice(AUDIO_FP_BLOCKS, size=flips, replace=False):
            b[c] = ~b[c]
        variants[doc_id] = b
    rows = [(i, bytearray(clip_from_bits(b))) for i, b in variants.items()]
    rows.append((5, bytearray(b"\xff\xfb garbage mp3")))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in audio_neardup_pairs(df).collect()
    }
    fps = {
        r["doc_id"]: r["fingerprint"] & ((1 << 64) - 1)
        for r in extract_audio_fingerprints(df).collect()
    }
    want = {}
    ids = sorted(fps)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d = bin(fps[ids[i]] ^ fps[ids[j]]).count("1")
            if d <= AHASH_HAMMING_MAX:
                want[(ids[i], ids[j])] = d
    assert got == want
    assert (1, 2) in got  # the 1-flip pair must be found


def test_banded_pairs_reject_radius_beyond_pigeonhole(spark):
    """hamming_max above AHASH_BANDS-1 would silently lose recall (a pair
    can flip one bit per band and share no band key) — the helper must
    fail loudly instead of returning an incomplete pair set."""
    from duckdb_parquet_parser_spark.operators.multimodal import (
        image_neardup_pairs,
    )

    df = spark.createDataFrame([(1, bytearray(b"x"))], "doc_id long, payload binary")
    with pytest.raises(ValueError, match="exact-recall radius"):
        image_neardup_pairs(df, hamming_max=4)


def test_media_dir_staging_race_rules(tmp_path):
    """Cache pruning must never delete a FRESH marker-less sibling (a
    concurrent staging mid-write) but must reap an OLD one (a crashed
    staging), and stage_media_dir must publish atomically via rename."""
    import os
    import time

    from duckdb_parquet_parser_spark.cache import GRACE_SECONDS, TEMP_INFIX
    from duckdb_parquet_parser_spark.operators.multimodal_synth import (
        stage_media_dir,
    )

    sf = "/root/testdata/sf0.001"
    out = stage_media_dir(sf)
    assert os.path.exists(os.path.join(out, "_source.txt"))
    base = os.path.dirname(out)

    fresh = os.path.join(base, f"cafe000000f0_aaaaaaaaaaaa{TEMP_INFIX}999")
    os.makedirs(fresh, exist_ok=True)
    old = os.path.join(base, f"cafe000000f0_bbbbbbbbbbbb{TEMP_INFIX}998")
    os.makedirs(old, exist_ok=True)
    past = time.time() - GRACE_SECONDS - 60
    os.utime(old, (past, past))
    dead = os.path.join(base, "cafe000000f0_cccccccccccc")
    os.makedirs(dead, exist_ok=True)
    with open(os.path.join(dead, "_source.txt"), "w") as f:
        f.write(str(tmp_path / "gone"))
    try:
        again = stage_media_dir(sf)
        assert again == out and os.path.exists(os.path.join(out, "_source.txt"))
        assert os.path.exists(fresh), "fresh in-flight staging was reaped"
        assert not os.path.exists(old), "crashed old staging not reaped"
        assert not os.path.exists(dead), "dead-source entry not reaped"
    finally:
        import shutil

        shutil.rmtree(fresh, ignore_errors=True)


def test_crashed_staging_with_marker_pruned_after_grace(tmp_path):
    """VERDICT r11 wrong #1: a stager killed between marker-write and
    rename leaves a `.staging.` temp dir with a LIVE-source marker
    inside. The round-11 prune trusted any marker and leaked the orphan
    (a full staged corpus copy) forever; the shared cache.py lifecycle
    age-gates temp dirs regardless of marker. Simulates the crash
    exactly: marker present, source alive, rename never happened."""
    import os
    import shutil
    import time

    from duckdb_parquet_parser_spark.cache import GRACE_SECONDS, TEMP_INFIX
    from duckdb_parquet_parser_spark.operators.multimodal_synth import (
        stage_media_dir,
    )

    sf = "/root/testdata/sf0.001"
    out = stage_media_dir(sf)
    base = os.path.dirname(out)
    crashed = os.path.join(base, f"dead0000beef_0f0f0f0f0f0f{TEMP_INFIX}777")
    os.makedirs(crashed, exist_ok=True)
    with open(os.path.join(crashed, "doc_0.bin"), "wb") as f:
        f.write(b"\x00" * 16)  # partial corpus copy
    with open(os.path.join(crashed, "_source.txt"), "w") as f:
        f.write(os.path.abspath(sf))  # source IS alive — must not immunize
    try:
        stage_media_dir(sf)
        assert os.path.exists(crashed), "fresh crash candidate reaped early"
        past = time.time() - GRACE_SECONDS - 60
        for name in os.listdir(crashed):
            os.utime(os.path.join(crashed, name), (past, past))
        os.utime(crashed, (past, past))
        stage_media_dir(sf)
        assert not os.path.exists(crashed), (
            "crashed marked staging leaked past the grace age"
        )
    finally:
        shutil.rmtree(crashed, ignore_errors=True)
