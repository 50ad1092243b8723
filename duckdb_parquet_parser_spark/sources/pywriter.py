"""Reference-style standalone Parquet writer — W4-W6 at the byte level.

The reference implements its own page/footer encoding (W4 PLAIN pages
parquet_writer.cpp:103-249, W5 dictionary pages :282-372 +
rle_bp_encoder.hpp:5-125, W6 Thrift-compact footer :463-581). The engine's
real write path is ``df.write.parquet`` (parquet-mr, a native superset —
sources/writer.py); THIS module exists for byte-level parity with the
reference's writer internals, re-implemented from the public Parquet
format + Thrift compact-protocol specs and verified by reading the
produced files back with pyarrow, DuckDB AND Spark (plus this package's
own page walker — the r7 byte-accounting invariants hold on our own
files).

Behavioral rules mirrored from the reference:

- dictionary-encode iff ``0 < dict_size <= num_non_null // 5`` (the
  DuckDB-style 1/5 rule, parquet_writer.cpp:271-272), first-seen dict
  order;
- PLAIN pages split when the running estimated size reaches
  ``MAX_UNCOMPRESSED_PAGE_SIZE = 1024`` (estimate = payload bytes,
  nulls 0, strings 4+len; parquet_writer.cpp:37-80);
- dict-index pages hold ``1024 // ceil(bit_width/8)`` values
  (parquet_writer.cpp:84-98); indices are RLE/bit-packed hybrid with
  minimum RLE run 4 and bit-pack block 8 (rle_bp_encoder.hpp:64-65);
- def levels: pure-RLE runs, ``ceil(bw/8)``-byte run values, u32 length
  prefix (parquet_writer.cpp:103-135,206-222); required columns write no
  level section;
- footer: version=2, flat optional/required schema, per-chunk
  PLAIN / PLAIN+RLE_DICTIONARY encodings, UNCOMPRESSED codec, no
  statistics — exactly the reference's field set (:463-581).

Deliberate divergences (documented, like the reader's DATA_PAGE_V2
fix, SURVEY.md §3.1): (1) PLAIN BOOLEAN is bit-packed per the format
spec — the reference writes one byte per value (parquet_writer.cpp:
200-204), which its own reader (bit-packed, column_reader.cpp:197-212)
and every standard reader reject; (2) BOOLEAN columns never
dictionary-encode — the format forbids dict pages for BOOLEAN, and the
reference's 1/5 rule would otherwise always trigger on them; (3) float/
double dictionary keys are BIT-exact (packed IEEE bytes), so -0.0/+0.0
and NaN payloads round-trip — the reference's std::map on double
conflates signed zeros into whichever was seen first.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass

# Parquet physical types (format spec; common.hpp:16-25)
_TYPES = {"boolean": 0, "int32": 1, "int64": 2, "float": 4, "double": 5, "byte_array": 6}
_REPETITION = {"required": 0, "optional": 1}
# Encodings / page types / codec (format spec)
_ENC_PLAIN, _ENC_PLAIN_DICT, _ENC_RLE, _ENC_RLE_DICT = 0, 2, 3, 8
_PAGE_DATA, _PAGE_DICT = 0, 2
_CODEC_UNCOMPRESSED = 0
# Thrift compact-protocol element types
_CT_I32, _CT_I64, _CT_BINARY, _CT_LIST, _CT_STRUCT = 5, 6, 8, 9, 12

MAX_UNCOMPRESSED_PAGE_SIZE = 1024  # parquet_writer.hpp:34-35
_MIN_RLE_RUN = 4  # rle_bp_encoder.hpp:64
_BP_BLOCK = 8  # rle_bp_encoder.hpp:65


@dataclass
class ColumnSpec:
    """Reference ColumnSpec (parquet_writer.hpp): name, physical type,
    repetition; optional converted type + decimal scale/precision pass
    straight into the footer (parquet_writer.cpp:489-498)."""

    name: str
    type: str  # key of _TYPES
    repetition: str = "optional"
    converted_type: int | None = None
    scale: int | None = None
    precision: int | None = None


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _append_uvarint(buf: bytearray, v: int) -> None:
    """ULEB128 — the one varint loop all three encoders share."""
    while v >= 0x80:
        buf.append((v & 0x7F) | 0x80)
        v >>= 7
    buf.append(v)


class _ThriftCompactWriter:
    """Minimal Thrift compact-protocol serializer (thrift_writer.cpp
    analog): field-delta headers, zigzag varints, nested-struct field-id
    state, list headers."""

    def __init__(self):
        self.b = bytearray()
        self._last = [0]

    def _varint(self, v: int) -> None:
        _append_uvarint(self.b, v)

    def _hdr(self, fid: int, ctype: int) -> None:
        delta = fid - self._last[-1]
        if 1 <= delta <= 15:
            self.b.append((delta << 4) | ctype)
        else:
            self.b.append(ctype)
            self._varint(_zigzag(fid))
        self._last[-1] = fid

    def i32(self, fid: int, v: int) -> None:
        self._hdr(fid, _CT_I32)
        self._varint(_zigzag(v))

    def i64(self, fid: int, v: int) -> None:
        self._hdr(fid, _CT_I64)
        self._varint(_zigzag(v))

    def binary(self, fid: int, data: bytes) -> None:
        self._hdr(fid, _CT_BINARY)
        self._varint(len(data))
        self.b += data

    def list_begin(self, fid: int, elem_ctype: int, count: int) -> None:
        self._hdr(fid, _CT_LIST)
        if count < 15:
            self.b.append((count << 4) | elem_ctype)
        else:
            self.b.append(0xF0 | elem_ctype)
            self._varint(count)

    # list elements carry no field headers
    def elem_i32(self, v: int) -> None:
        self._varint(_zigzag(v))

    def elem_binary(self, data: bytes) -> None:
        self._varint(len(data))
        self.b += data

    def struct_begin(self, fid: int) -> None:
        self._hdr(fid, _CT_STRUCT)
        self._last.append(0)

    def struct_end(self) -> None:
        self.b.append(0)
        self._last.pop()

    # a struct that is a LIST ELEMENT: fresh field-id state, no header
    def elem_struct_begin(self) -> None:
        self._last.append(0)

    elem_struct_end = struct_end

    def stop(self) -> None:
        self.b.append(0)


# ---------------------------------------------------------------------------
# Value encoding
# ---------------------------------------------------------------------------


def _plain_encode(values, typ: str) -> bytes:
    """PLAIN-encode non-null values (parquet_writer.cpp:140-198; BOOLEAN
    bit-packed per spec — divergence (1) in the module docstring)."""
    out = bytearray()
    nn = [v for v in values if v is not None]
    if typ == "boolean":
        byte = nbits = 0
        for v in nn:
            byte |= (1 if v else 0) << nbits
            nbits += 1
            if nbits == 8:
                out.append(byte)
                byte = nbits = 0
        if nbits:
            out.append(byte)
        return bytes(out)
    pack = {"int32": "<i", "int64": "<q", "float": "<f", "double": "<d"}.get(typ)
    for v in nn:
        if pack:
            out += struct.pack(pack, v)
        else:  # byte_array: u32 length prefix + bytes
            data = _byte_array_value(v)
            out += struct.pack("<I", len(data))
            out += data
    return bytes(out)


def _byte_array_value(v) -> bytes:
    """Only str/bytes/bytearray are legal BYTE_ARRAY values — anything
    else (e.g. an int, for which bytes(7) would silently produce seven
    NUL bytes) must fail the write, matching struct.pack's strictness on
    the numeric types."""
    if isinstance(v, str):
        return v.encode("utf-8")
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    raise TypeError(f"byte_array value must be str/bytes, got {type(v).__name__}")


def _estimate_size(v, typ: str) -> int:
    """Per-value payload estimate for page splitting (parquet_writer.cpp:
    38-54): nulls 0, fixed widths, strings 4+len."""
    if v is None:
        return 0
    if typ == "boolean":
        return 1
    if typ in ("int32", "float"):
        return 4
    if typ in ("int64", "double"):
        return 8
    return 4 + len(_byte_array_value(v))


def _rle_encode_levels(levels: list[int], bit_width: int) -> bytes:
    """Pure-RLE level runs (parquet_writer.cpp:103-135): varint(len<<1)
    + run value in ceil(bw/8) little-endian bytes."""
    out = bytearray()
    nbytes = (bit_width + 7) // 8
    i = 0
    while i < len(levels):
        run = 1
        while i + run < len(levels) and levels[i + run] == levels[i]:
            run += 1
        _append_uvarint(out, run << 1)
        val = levels[i]
        for _ in range(nbytes):
            out.append(val & 0xFF)
            val >>= 8
        i += run
    return bytes(out)


class _RleBpEncoder:
    """RLE/bit-packed hybrid for dictionary indices (rle_bp_encoder.hpp:
    5-125): runs of >= 4 equal values flush as RLE; shorter runs commit
    to zero-padded 8-value bit-packed groups."""

    def __init__(self, bit_width: int):
        self.bw = bit_width
        self.byte_width = (bit_width + 7) // 8
        self.out = bytearray()
        self.rle_count = 0
        self.rle_value = 0
        self.bp: list[int] = []

    def _varint(self, v: int) -> None:
        _append_uvarint(self.out, v)

    def _flush_rle(self) -> None:
        self._varint(self.rle_count << 1)
        val = self.rle_value
        for _ in range(self.byte_width):
            self.out.append(val & 0xFF)
            val >>= 8
        self.rle_count = 0

    def _flush_bp(self) -> None:
        self._varint((1 << 1) | 1)  # one group of 8
        total_bits = _BP_BLOCK * self.bw
        start = len(self.out)
        self.out += b"\x00" * ((total_bits + 7) // 8)
        bit = 0
        for v in self.bp:
            for b in range(self.bw):
                if v & (1 << b):
                    self.out[start + bit // 8] |= 1 << (bit % 8)
                bit += 1
        self.bp = []

    def write(self, value: int) -> None:
        if self.bp:
            self.bp.append(value)
            if len(self.bp) == _BP_BLOCK:
                self._flush_bp()
            return
        if self.rle_count == 0:
            self.rle_value, self.rle_count = value, 1
            return
        if value == self.rle_value:
            self.rle_count += 1
            return
        if self.rle_count >= _MIN_RLE_RUN:
            self._flush_rle()
            self.rle_value, self.rle_count = value, 1
            return
        self.bp = [self.rle_value] * self.rle_count + [value]
        self.rle_count = 0
        if len(self.bp) >= _BP_BLOCK:
            self._flush_bp()

    def finish(self) -> bytes:
        if self.rle_count > 0:
            self._flush_rle()
        elif self.bp:
            self.bp += [0] * (_BP_BLOCK - len(self.bp))
            self._flush_bp()
        return bytes(self.out)


def _bit_width(max_value: int) -> int:
    """Minimum 1 bit (parquet_writer.cpp:30-35)."""
    return max(1, max_value.bit_length())


def _dict_key(v, typ: str):
    """Bit-exact dict identity for floats (divergence (3)): Python's ==
    and hash conflate -0.0 with 0.0 and every NaN with nothing, so key
    on the packed IEEE bytes instead — exactly what lands in the dict
    page."""
    if typ == "double":
        return struct.pack("<d", v)
    if typ == "float":
        return struct.pack("<f", v)
    return v


def analyze_dictionary(values, typ: str):
    """The reference's dict decision (parquet_writer.cpp:253-280): build
    first-seen uniques over non-nulls; fall back to PLAIN when empty or
    ``dict_size > num_non_null // 5``. Returns (dict_values, index_map)
    — index_map keyed by ``_dict_key`` — or None for PLAIN. BOOLEAN
    never dict-encodes (divergence (2))."""
    if typ == "boolean":
        return None
    dict_values: list = []
    index: dict = {}
    num_non_null = 0
    for v in values:
        if v is None:
            continue
        num_non_null += 1
        k = _dict_key(v, typ)
        if k not in index:
            index[k] = len(dict_values)
            dict_values.append(v)
    if not dict_values or len(dict_values) > num_non_null // 5:
        return None
    return dict_values, index


# ---------------------------------------------------------------------------
# Page assembly
# ---------------------------------------------------------------------------


def _def_level_section(slice_vals, max_def: int) -> bytes:
    if max_def == 0:
        return b""
    levels = [0 if v is None else max_def for v in slice_vals]
    rle = _rle_encode_levels(levels, _bit_width(max_def) if max_def else 1)
    return struct.pack("<I", len(rle)) + rle


def _data_page_header(payload_len: int, num_values: int, value_encoding: int) -> bytes:
    tw = _ThriftCompactWriter()
    tw.i32(1, _PAGE_DATA)
    tw.i32(2, payload_len)
    tw.i32(3, payload_len)
    tw.struct_begin(5)  # DataPageHeader
    tw.i32(1, num_values)
    tw.i32(2, value_encoding)
    tw.i32(3, _ENC_RLE)
    tw.i32(4, _ENC_RLE)
    tw.struct_end()
    tw.stop()
    return bytes(tw.b)


def _dict_page(dict_values, typ: str) -> bytes:
    payload = _plain_encode(dict_values, typ)
    tw = _ThriftCompactWriter()
    tw.i32(1, _PAGE_DICT)
    tw.i32(2, len(payload))
    tw.i32(3, len(payload))
    tw.struct_begin(7)  # DictionaryPageHeader
    tw.i32(1, len(dict_values))
    tw.i32(2, _ENC_PLAIN_DICT)
    tw.struct_end()
    tw.stop()
    return bytes(tw.b) + payload


def _plain_page_boundaries(values, typ: str) -> list[tuple[int, int]]:
    """(offset, count) pages: split when the running estimate reaches
    1024 — the page INCLUDES the value that crossed the threshold
    (parquet_writer.cpp:56-80)."""
    pages = []
    start = est = 0
    for i, v in enumerate(values):
        est += _estimate_size(v, typ)
        if est >= MAX_UNCOMPRESSED_PAGE_SIZE:
            pages.append((start, i - start + 1))
            start, est = i + 1, 0
    if start < len(values):
        pages.append((start, len(values) - start))
    return pages


def _dict_page_boundaries(n: int, bw: int) -> list[tuple[int, int]]:
    per_page = max(1, MAX_UNCOMPRESSED_PAGE_SIZE // max(1, (bw + 7) // 8))
    return [(o, min(per_page, n - o)) for o in range(0, n, per_page)]


# ---------------------------------------------------------------------------
# Writer
# ---------------------------------------------------------------------------


class ReferenceParquetWriter:
    """ParquetWriter analog (parquet_writer.cpp:13-20,376-459,463-581):
    ``write_row_group(columns)`` with column-major Python lists (None =
    null), then ``close()``. Always uncompressed, stats-free, v1 data
    pages — the reference's exact footer shape."""

    def __init__(self, path: str, specs: list[ColumnSpec]):
        for s in specs:
            if s.type not in _TYPES:
                raise ValueError(f"unsupported type {s.type!r}")
            if s.repetition not in _REPETITION:
                raise ValueError(f"unsupported repetition {s.repetition!r}")
        self._specs = specs
        self._fh = open(path, "wb")
        self._fh.write(b"PAR1")
        self._row_groups: list[dict] = []
        self._total_rows = 0
        self._closed = False

    def write_row_group(self, columns: list[list]) -> None:
        if self._closed:
            raise RuntimeError("writer already closed")
        if len(columns) != len(self._specs):
            raise ValueError("column count mismatch")
        num_rows = len(columns[0]) if columns else 0
        chunks = []
        for spec, vals in zip(self._specs, columns):
            if len(vals) != num_rows:
                raise ValueError("ragged row group")
            max_def = 1 if spec.repetition == "optional" else 0
            if max_def == 0 and any(v is None for v in vals):
                raise ValueError(f"null in required column {spec.name!r}")
            dict_result = analyze_dictionary(vals, spec.type)
            col_start = self._fh.tell()
            if dict_result:
                dict_values, index = dict_result
                self._fh.write(_dict_page(dict_values, spec.type))
                data_start = self._fh.tell()
                bw = _bit_width(len(dict_values) - 1)
                for off, count in _dict_page_boundaries(len(vals), bw):
                    sl = vals[off : off + count]
                    payload = bytearray(_def_level_section(sl, max_def))
                    payload.append(bw)
                    enc = _RleBpEncoder(bw)
                    for v in sl:
                        if v is not None:
                            enc.write(index[_dict_key(v, spec.type)])
                    payload += enc.finish()
                    self._fh.write(
                        _data_page_header(len(payload), count, _ENC_RLE_DICT)
                    )
                    self._fh.write(payload)
                chunk = {"dict_page_offset": col_start, "data_page_offset": data_start}
            else:
                for off, count in _plain_page_boundaries(vals, spec.type):
                    sl = vals[off : off + count]
                    payload = _def_level_section(sl, max_def) + _plain_encode(
                        sl, spec.type
                    )
                    self._fh.write(_data_page_header(len(payload), count, _ENC_PLAIN))
                    self._fh.write(payload)
                chunk = {"dict_page_offset": None, "data_page_offset": col_start}
            chunk["total_size"] = self._fh.tell() - col_start
            chunk["num_values"] = num_rows
            chunks.append(chunk)
        self._row_groups.append({"num_rows": num_rows, "chunks": chunks})
        self._total_rows += num_rows

    def close(self) -> None:
        if self._closed:
            return
        self._closed = True
        footer_start = self._fh.tell()
        tw = _ThriftCompactWriter()
        tw.i32(1, 2)  # version
        tw.list_begin(2, _CT_STRUCT, 1 + len(self._specs))
        tw.elem_struct_begin()  # root SchemaElement
        tw.binary(4, b"schema")
        tw.i32(5, len(self._specs))
        tw.elem_struct_end()
        for s in self._specs:
            tw.elem_struct_begin()
            tw.i32(1, _TYPES[s.type])
            tw.i32(3, _REPETITION[s.repetition])
            tw.binary(4, s.name.encode("utf-8"))
            if s.converted_type is not None:
                tw.i32(6, s.converted_type)
            if s.scale is not None:
                tw.i32(7, s.scale)
            if s.precision is not None:
                tw.i32(8, s.precision)
            tw.elem_struct_end()
        tw.i64(3, self._total_rows)
        tw.list_begin(4, _CT_STRUCT, len(self._row_groups))
        for rg in self._row_groups:
            tw.elem_struct_begin()  # RowGroup
            tw.list_begin(1, _CT_STRUCT, len(rg["chunks"]))
            for spec, cm in zip(self._specs, rg["chunks"]):
                tw.elem_struct_begin()  # ColumnChunk
                file_offset = (
                    cm["dict_page_offset"]
                    if cm["dict_page_offset"] is not None
                    else cm["data_page_offset"]
                )
                tw.i64(2, file_offset)
                tw.struct_begin(3)  # ColumnMetaData
                tw.i32(1, _TYPES[spec.type])
                if cm["dict_page_offset"] is not None:
                    tw.list_begin(2, _CT_I32, 2)
                    tw.elem_i32(_ENC_PLAIN)
                    tw.elem_i32(_ENC_RLE_DICT)
                else:
                    tw.list_begin(2, _CT_I32, 1)
                    tw.elem_i32(_ENC_PLAIN)
                tw.list_begin(3, _CT_BINARY, 1)
                tw.elem_binary(spec.name.encode("utf-8"))
                tw.i32(4, _CODEC_UNCOMPRESSED)
                tw.i64(5, cm["num_values"])
                tw.i64(6, cm["total_size"])
                tw.i64(7, cm["total_size"])
                tw.i64(9, cm["data_page_offset"])
                if cm["dict_page_offset"] is not None:
                    tw.i64(11, cm["dict_page_offset"])
                tw.struct_end()
                tw.elem_struct_end()
            tw.i64(2, sum(c["total_size"] for c in rg["chunks"]))
            tw.i64(3, rg["num_rows"])
            tw.elem_struct_end()
        tw.stop()  # end FileMetaData
        self._fh.write(tw.b)
        self._fh.write(struct.pack("<I", self._fh.tell() - footer_start))
        self._fh.write(b"PAR1")
        self._fh.close()

    def abort(self) -> None:
        """Close the file WITHOUT writing a footer — the half-written
        file stays invalid (no trailing PAR1), so no reader can mistake
        it for a complete table."""
        if not self._closed:
            self._closed = True
            self._fh.close()

    def __enter__(self):
        return self

    def __exit__(self, exc_type, exc, tb):
        if exc_type is None:
            self.close()
        else:
            self.abort()


def write_reference_bytes(path: str, specs: list[ColumnSpec], columns: list[list]) -> str:
    """One-shot single-row-group write, atomically replacing ``path``."""
    tmp = f"{path}.{os.getpid()}.tmp"
    w = ReferenceParquetWriter(tmp, specs)
    w.write_row_group(columns)
    w.close()
    os.replace(tmp, path)
    return path


# ---------------------------------------------------------------------------
# Driver-contract query
# ---------------------------------------------------------------------------


def q_w4_pywriter_roundtrip(spark, sf_dir: str):
    """W4-W6 end-to-end certification: re-write the documents table with
    THIS byte-level writer (two row groups; lang dictionary-encodes via
    the 1/5 rule, text PLAIN-splits at 1 KB, nulls take the def-level
    path), read the produced file back with Spark's native parquet
    scan, and hash-compare against DuckDB reading the ORIGINAL table —
    any page/level/footer encoding defect shows up as a value or row
    mismatch. Driver-side byte assembly is the point (parity artifact
    with parquet_writer.cpp); the scale write path stays
    df.write.parquet (sources/writer.py)."""
    import pyarrow.parquet as pq

    from ..cache import scratch_path
    from ..catalog import table_path

    t = pq.read_table(table_path(sf_dir, "documents"), columns=["doc_id", "lang", "text"])
    cols = [t.column(c).to_pylist() for c in ("doc_id", "lang", "text")]
    specs = [
        ColumnSpec("doc_id", "int64"),
        ColumnSpec("lang", "byte_array", converted_type=0),  # UTF8
        ColumnSpec("text", "byte_array", converted_type=0),
    ]
    path = scratch_path(sf_dir, "sg_w4_pywriter") + ".parquet"
    tmp = f"{path}.{os.getpid()}.tmp"
    w = ReferenceParquetWriter(tmp, specs)
    half = max(1, len(cols[0]) // 2)  # two row groups, reference-style
    w.write_row_group([c[:half] for c in cols])
    if len(cols[0]) > half:
        w.write_row_group([c[half:] for c in cols])
    w.close()
    os.replace(tmp, path)
    return spark.read.parquet(path).select("doc_id", "lang", "text")


QUERIES = {"w4_pywriter_roundtrip": q_w4_pywriter_roundtrip}

ORACLES = {
    "w4_pywriter_roundtrip": """
        SELECT doc_id, lang, text FROM documents
    """,
}
