"""A SECOND real compressed format through the codec plug seam: a
pure-stdlib GIF87a decoder (LZW, implemented from the public GIF87a/
GIF89a specification, Appendix F) registered via
``media_codecs.register_codec`` and served as the registered query
``ns_mm_gif_features`` (the PNG query ``ns_mm_png_features`` is its
sibling).

Why a second format: PNG proved the seam carries real compressed bytes
(DEFLATE); GIF proves the claim generalizes to a different entropy
coder (LZW) with zero new dependencies — narrowing the documented
boundary to "LOSSLESS formats decode in-engine; lossy codecs
(JPEG/MP3/MP4) register external decoders through the same seam". Like
DEFLATE, LZW's patent history is long expired and the algorithm is
public knowledge.

Magic-prefix discipline (IMPORTANT): this codec registers under the
FULL 6-byte ``GIF87a`` signature, never a shorter ``GIF`` prefix — the
certified ``ns_mm_png_features`` corpus uses a ``GIF89a`` payload as
its no-codec poison species, and a 3-byte registration would claim
those rows and change a certified query's answers. 89a payloads fed
directly to ``decode_gif`` raise ``NotImplementedError`` (the degrade
contract), keeping the two corpora independent even when both codecs
are registered in one session.

Decoder scope (documented, loud): GIF87a, global color table,
non-interlaced, first image only; extension blocks (0x21) are skipped
(they carry no pixels). Interlace, local color tables and a missing
global table raise ``NotImplementedError``; corrupt streams (bad
signature, truncated sub-blocks, LZW overruns/bombs, pixel-count
mismatch) raise ``ValueError`` — the same triad contract the PNG
decoder carries, fuzz-pinned in tests/test_gif_media.py.

LZW synchronization note: the encoder and decoder use the CLASSIC
matched off-by-one width rules (encoder bumps at next_code ==
(1 << width) + 1 because it learns entries one code ahead; decoder at
next_free == (1 << width)), 12-bit cap with an explicit CLEAR/reset.
Synchronization is pinned three ways: a hand-decodable KwKwK example,
hypothesis round-trips over geometries large enough to force width
growth, and a deterministic table-overflow round-trip that crosses the
4096-entry CLEAR.

Corpus: the SAME closed-form two-level 8×8 planes as the PPM/BMP/PNG
corpora (multimodal_synth.image_hash_for_doc) behind a 256-entry
grayscale palette, so dims/means/aHash keep their closed-form DuckDB
oracle. Poison species: GIF89a payload (no codec → built-in
NotImplementedError) and a truncated GIF87a (plugin ValueError).

Reference analog: none — the reference has no media surface; the GIF
layout and LZW variant are public knowledge (GIF87a spec; GIF89a spec
Appendix F).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from .media_codecs import extract_image_features_via, register_codec
from .multimodal_synth import (
    _payload_builder,
    _plane_from_hash,
    image_hash_for_doc,
)

GIF87A_MAGIC = b"GIF87a"
GIF_MAX_PIXELS = 64 * 1024 * 1024  # hostile-header decode bound
GIF_POISON_MOD = 19  # doc_id % 19 == 0 -> GIF89a payload (no codec)
GIF_TRUNC_MOD = 31  # doc_id % 31 == 0 -> truncated GIF87a

_POISON_89A = b"GIF89a" + b"\x00" * 26

_MCS = 8  # LZW minimum code size for a 256-color palette
_CLEAR = 1 << _MCS  # 256
_END = _CLEAR + 1  # 257


def _gray_palette() -> bytes:
    return bytes(v for i in range(256) for v in (i, i, i))


def encode_gif(img) -> bytes:
    """HxW uint8 gray (or HxWx3 with equal channels) → GIF87a bytes,
    pure stdlib: grayscale global palette, real LZW compression (the
    dictionary genuinely grows, so decoder round-trips exercise the
    width-bump path on images bigger than the 8×8 fixtures)."""
    import struct

    import numpy as np

    arr = np.asarray(img, dtype=np.uint8)
    if arr.ndim == 3:
        if not (arr[..., 0] == arr[..., 1]).all() or not (
            arr[..., 1] == arr[..., 2]
        ).all():
            raise ValueError("encode_gif: grayscale palette needs R=G=B")
        arr = arr[..., 0]
    h, w = arr.shape
    indices = arr.reshape(-1).tolist()

    # --- LZW encode (GIF variant; width rules in the module docstring)
    out_bits = bytearray()
    bitbuf = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf |= code << nbits
        nbits += width
        while nbits >= 8:
            out_bits.append(bitbuf & 0xFF)
            bitbuf >>= 8
            nbits -= 8

    width = _MCS + 1
    table: dict[tuple[int, ...], int] = {(i,): i for i in range(256)}
    next_code = _END + 1
    emit(_CLEAR, width)
    seq: tuple[int, ...] = ()
    for px in indices:
        cand = seq + (px,)
        if cand in table:
            seq = cand
            continue
        emit(table[seq], width)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            # table full: reset so the decoder's dictionary tracks ours
            emit(_CLEAR, width)
            width = _MCS + 1
            table = {(i,): i for i in range(256)}
            next_code = _END + 1
        seq = (px,)
    if seq:
        emit(table[seq], width)
    emit(_END, width)
    if nbits:
        out_bits.append(bitbuf & 0xFF)

    blocks = bytearray()
    for i in range(0, len(out_bits), 255):
        chunk = out_bits[i : i + 255]
        blocks.append(len(chunk))
        blocks.extend(chunk)
    blocks.append(0)

    lsd = struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT, 8-bit, 256 entries
    idesc = struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0x00)
    return (
        GIF87A_MAGIC
        + lsd
        + _gray_palette()
        + idesc
        + bytes([_MCS])
        + bytes(blocks)
        + b"\x3b"
    )


def decode_gif(payload: bytes):
    """GIF87a bytes → HxWx3 uint8 array via the global palette.

    Module-level (picklable) so ``register_codec`` ships it to
    executors. Scope and error triad per the module docstring."""
    import struct

    import numpy as np

    if payload[:6] == b"GIF89a":
        raise NotImplementedError(
            "GIF89a (extensions/animation): this pure-stdlib decoder "
            "covers GIF87a; register a full decoder through the same seam"
        )
    if payload[:6] != GIF87A_MAGIC:
        raise ValueError("not a GIF87a: bad signature")
    if len(payload) < 13:
        raise ValueError("truncated GIF: no logical screen descriptor")
    _, _, packed, _, _ = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    if not packed & 0x80:
        raise NotImplementedError(
            "GIF without a global color table: out of decoder scope"
        )
    gct_n = 2 << (packed & 0x07)
    if pos + 3 * gct_n > len(payload):
        raise ValueError("truncated GIF: global color table past EOF")
    palette = np.frombuffer(
        payload, dtype=np.uint8, count=3 * gct_n, offset=pos
    ).reshape(gct_n, 3)
    pos += 3 * gct_n

    # walk blocks to the first image descriptor
    while True:
        if pos >= len(payload):
            raise ValueError("truncated GIF: no image descriptor")
        b = payload[pos]
        pos += 1
        if b == 0x2C:
            break
        if b == 0x21:  # extension: label + sub-blocks, pixel-free — skip
            pos += 1
            while True:
                if pos >= len(payload):
                    raise ValueError("truncated GIF: extension past EOF")
                n = payload[pos]
                pos += 1 + n
                if n == 0:
                    break
        elif b == 0x3B:
            raise ValueError("GIF trailer before any image")
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
    if pos + 9 > len(payload):
        raise ValueError("truncated GIF: image descriptor past EOF")
    _, _, w, h, ipacked = struct.unpack_from("<HHHHB", payload, pos)
    pos += 9
    if w <= 0 or h <= 0:
        raise ValueError(f"GIF dimensions {w}x{h} not positive")
    if w * h > GIF_MAX_PIXELS:
        raise ValueError(
            f"GIF dimensions {w}x{h} exceed the {GIF_MAX_PIXELS}-pixel "
            "decode bound"
        )
    if ipacked & 0x40:
        raise NotImplementedError("interlaced GIF: out of decoder scope")
    if ipacked & 0x80:
        raise NotImplementedError(
            "GIF local color table: out of decoder scope"
        )

    if pos >= len(payload):
        raise ValueError("truncated GIF: missing LZW min code size")
    mcs = payload[pos]
    pos += 1
    # GIF caps the min code size at 8 (palette indices are bytes); without
    # the tight bound, mcs 9-11 would only fail later by accident — the
    # literal-table build's bytes([i]) blows up past 255 (ADVICE r13)
    if not 2 <= mcs <= 8:
        raise ValueError(f"GIF LZW min code size {mcs} out of range")
    clear, end = 1 << mcs, (1 << mcs) + 1

    data = bytearray()
    while True:
        if pos >= len(payload):
            raise ValueError("truncated GIF: image data past EOF")
        n = payload[pos]
        pos += 1
        if n == 0:
            break
        if pos + n > len(payload):
            raise ValueError("truncated GIF: sub-block past EOF")
        data.extend(payload[pos : pos + n])
        pos += n

    # --- LZW decode
    n_px = w * h
    out = bytearray()
    bitbuf = 0
    nbits = 0
    bytepos = 0
    width_ = mcs + 1
    table: list[bytes] = [bytes([i]) for i in range(1 << mcs)] + [b"", b""]
    prev: bytes | None = None

    while True:
        while nbits < width_:
            if bytepos >= len(data):
                raise ValueError("GIF LZW stream ended before END code")
            bitbuf |= data[bytepos] << nbits
            bytepos += 1
            nbits += 8
        code = bitbuf & ((1 << width_) - 1)
        bitbuf >>= width_
        nbits -= width_
        if code == clear:
            table = table[: (1 << mcs) + 2]
            width_ = mcs + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError(f"GIF LZW first code {code} undefined")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"GIF LZW code {code} beyond table")
        out.extend(entry)
        if len(out) > n_px:
            # bomb/corruption guard: never expand past the declared frame
            raise ValueError(
                f"GIF LZW output exceeds {w}x{h} declared pixels"
            )
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width_) and width_ < 12:
                width_ += 1
        prev = entry
    if len(out) != n_px:
        raise ValueError(f"GIF raster {len(out)} != {n_px} pixels")

    idx = np.frombuffer(bytes(out), dtype=np.uint8)
    if gct_n < 256 and int(idx.max(initial=0)) >= gct_n:
        raise ValueError("GIF pixel index beyond the color table")
    return palette[idx].reshape(h, w, 3).copy()


def _gif_payload(doc_id: int) -> bytes:
    if doc_id % GIF_POISON_MOD == 0:
        return _POISON_89A
    gif = encode_gif(_plane_from_hash(image_hash_for_doc(doc_id)))
    if doc_id % GIF_TRUNC_MOD == 0:
        return gif[: len(gif) // 2]  # valid magic, truncated mid-stream
    return gif


def build_gif_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic GIF87a corpus over documents.doc_id (the certified
    planes LZW-compressed), 89a poison every GIF_POISON_MOD-th doc,
    truncation every GIF_TRUNC_MOD-th."""
    return _payload_builder(_gif_payload)(
        load_table(spark, sf_dir, "documents")
    )


def q_ns_mm_gif_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LZW-compressed features through the plug seam: register the
    GIF87a decoder, run the identical Arrow-batched decode→dims/means/
    aHash kernel. 89a poison exercises the no-codec degrade; truncated
    87a exercises the plugin-ValueError degrade."""
    register_codec(GIF87A_MAGIC, decode_gif)
    return extract_image_features_via(build_gif_table(spark, sf_dir))


def _gif_oracle() -> str:
    """Closed form (the PNG oracle's shape with this corpus's poison
    mods): the decoded planes ARE the certified hash planes, so
    dims/means/aHash derive arithmetically; decode is never emulated."""
    from .multimodal_synth import _IMG_HASH_CTE, _IMG_K, _SIGNED64

    undecodable = (
        f"(doc_id % {GIF_POISON_MOD} = 0 OR doc_id % {GIF_TRUNC_MOD} = 0)"
    )
    mean = f"(200.0 * ({_IMG_K}) + 50.0 * (64 - ({_IMG_K}))) / 64.0"
    return f"""
        WITH {_IMG_HASH_CTE}
        SELECT doc_id,
               CASE WHEN {undecodable} THEN 'undecodable'
                    ELSE 'plugin' END AS fmt,
               CASE WHEN {undecodable} THEN NULL ELSE 8 END AS width,
               CASE WHEN {undecodable} THEN NULL ELSE 8 END AS height,
               CASE WHEN {undecodable} THEN NULL ELSE {mean} END AS mean_r,
               CASE WHEN {undecodable} THEN NULL ELSE {mean} END AS mean_g,
               CASE WHEN {undecodable} THEN NULL ELSE {mean} END AS mean_b,
               CASE WHEN {undecodable} THEN NULL
                    ELSE {_SIGNED64.format(h='hh')} END AS ahash
        FROM h
    """


QUERIES = {"ns_mm_gif_features": q_ns_mm_gif_features}
ORACLES = {"ns_mm_gif_features": _gif_oracle()}
