"""Parquet physical-metadata inspection — reference ops R1, R2, R6.

The reference exposes footer/row-group/page internals as first-class APIs
(ParquetReader::open parquet_reader.cpp:14-61; num_row_groups/row-group
stats parquet_reader.cpp:65-89; the global data-page index built by walking
every page header, parquet_reader.cpp:559-605). Spark has no public page
API, so per SURVEY.md §7.4 these are driver-side, footer-only reads:

- row-group metadata via pyarrow's footer parse (ships with PySpark);
- page counts via a ~100-line pure-Python Thrift compact-protocol walker
  over the page headers (public Parquet format knowledge only).

Both touch only file metadata + page headers — never column data — so they
are cheap even against very large files, and the returned stats are small
driver-side tables (safe at 100 TB: O(files × columns), not O(rows)).
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .cache import derived_dir
from .catalog import table_path

# ---------------------------------------------------------------------------
# Footer metadata (pyarrow) — R1/R2 physical stats
# ---------------------------------------------------------------------------


def file_metadata(path: str):
    """R1: validate + parse footer. Raises on bad magic / truncation, the
    same failure modes as ParquetReader::open (parquet_reader.cpp:15-39)."""
    with open(path, "rb") as fh:
        head = fh.read(4)
        fh.seek(-4, os.SEEK_END)
        tail = fh.read(4)
    if head != b"PAR1" or tail != b"PAR1":
        raise ValueError(f"{path}: missing PAR1 magic")
    return pq.ParquetFile(path).metadata


def row_group_bounds(path: str, row_group: int) -> tuple[int, int]:
    """[start_row, end_row) of one row group in file order (R4 support)."""
    meta = file_metadata(path)
    if not 0 <= row_group < meta.num_row_groups:
        raise IndexError(f"row group {row_group} out of range")
    start = sum(meta.row_group(i).num_rows for i in range(row_group))
    return start, start + meta.row_group(row_group).num_rows


MRG_ROWS_PER_GROUP = 200

#: The multi-row-group copy the r4/r7/r8 oracles name. The driver gate
#: runs the oracle SQL as given, so the path is a pinned literal;
#: ``testing.retarget_oracle_sql`` swaps it for the copy of the fixture
#: dir under test.
ORACLE_MRG_PATH = "/tmp/spark_graft_fixtures/sf0.01/documents_mrg.parquet"


def multi_rowgroup_documents(sf_dir: str) -> str:
    """A copy of the documents fixture re-written with 200-row row groups
    (the stock fixture has a single row group at small scale factors, which
    made any row-group-scoped read indistinguishable from a full-table
    read). Row order — and therefore file position — is preserved.
    Written once per content of the documents table (``cache.derived_dir``)."""

    def build(tmp: str) -> None:
        pq.write_table(
            pq.read_table(table_path(sf_dir, "documents")),
            os.path.join(tmp, "documents_mrg.parquet"),
            row_group_size=MRG_ROWS_PER_GROUP,
        )

    out = derived_dir("sg_mrg", sf_dir, "documents", build)
    return os.path.join(out, "documents_mrg.parquet")


def row_group_stats(path: str) -> list[dict]:
    """Per-row-group totals, the reference's RowGroup struct fields
    (metadata.hpp:92-98)."""
    meta = file_metadata(path)
    out = []
    for i in range(meta.num_row_groups):
        rg = meta.row_group(i)
        out.append(
            {
                "row_group": i,
                "num_rows": rg.num_rows,
                "num_columns": rg.num_columns,
                "total_byte_size": rg.total_byte_size,
            }
        )
    return out


# ---------------------------------------------------------------------------
# Pure-Python Thrift compact-protocol page-header walker — R5/R6 page index
# ---------------------------------------------------------------------------
#
# Mirrors build_page_index (parquet_reader.cpp:559-605): for each row group
# × column, seek to min(dictionary_page_offset, data_page_offset) and walk
# PageHeader structs until values_read >= num_values, counting data pages
# (dict pages get no global id, matching the reference).

_PAGE_TYPE_DATA = 0
_PAGE_TYPE_DICT = 2
_PAGE_TYPE_DATA_V2 = 3


class _CompactReader:
    """Minimal Thrift compact-protocol reader: just enough to size/skip a
    PageHeader struct (public format: parquet.thrift + thrift spec)."""

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def _byte(self) -> int:
        b = self.buf[self.pos]
        self.pos += 1
        return b

    def varint(self) -> int:
        result = shift = 0
        while True:
            b = self._byte()
            result |= (b & 0x7F) << shift
            if not b & 0x80:
                return result
            shift += 7

    def zigzag(self) -> int:
        n = self.varint()
        return (n >> 1) ^ -(n & 1)

    def skip(self, ftype: int) -> None:
        if ftype in (1, 2):  # BOOLEAN_TRUE / BOOLEAN_FALSE — value in type
            return
        if ftype in (3, 4, 5, 6):  # byte, i16, i32, i64 — zigzag varint
            self.varint()
        elif ftype == 7:  # double
            self.pos += 8
        elif ftype == 8:  # binary/string
            # NB: two statements — `self.pos += self.varint()` would read
            # the pre-varint pos (augmented assignment loads LHS first).
            n = self.varint()
            self.pos += n
        elif ftype == 9:  # list
            header = self._byte()
            size = header >> 4
            elem_type = header & 0x0F
            if size == 15:
                size = self.varint()
            for _ in range(size):
                self.skip(elem_type)
        elif ftype == 12:  # struct
            self.skip_struct()
        else:
            raise ValueError(f"unsupported thrift compact type {ftype}")

    def skip_struct(self) -> None:
        last_fid = 0
        while True:
            b = self._byte()
            if b == 0:  # STOP
                return
            delta = b >> 4
            ftype = b & 0x0F
            last_fid = last_fid + delta if delta else self.zigzag()
            self.skip(ftype)

    def read_page_header(self) -> "_PageHeader":
        """Parse type (fid 1), uncompressed_size (2), compressed_size (3),
        and num_values from the data/dict page header (fid 5/7/8 → field 1);
        skip everything else."""
        start = self.pos
        last_fid = 0
        hdr = _PageHeader(0, 0, 0, 0, 0)
        while True:
            b = self._byte()
            if b == 0:
                hdr.header_size = self.pos - start
                return hdr
            delta = b >> 4
            ftype = b & 0x0F
            fid = last_fid + delta if delta else self.zigzag()
            last_fid = fid
            if fid == 1 and ftype in (3, 4, 5, 6):
                hdr.page_type = self.zigzag()
            elif fid == 2 and ftype in (3, 4, 5, 6):
                hdr.uncompressed_size = self.zigzag()
            elif fid == 3 and ftype in (3, 4, 5, 6):
                hdr.compressed_size = self.zigzag()
            elif fid in (5, 7, 8) and ftype == 12:
                hdr.num_values = self._page_sub_header_num_values()
            else:
                self.skip(ftype)

    def _page_sub_header_num_values(self) -> int:
        """Inside DataPageHeader/DictionaryPageHeader/DataPageHeaderV2,
        field 1 is always num_values (i32)."""
        num_values = 0
        last_fid = 0
        while True:
            b = self._byte()
            if b == 0:
                return num_values
            delta = b >> 4
            ftype = b & 0x0F
            fid = last_fid + delta if delta else self.zigzag()
            last_fid = fid
            if fid == 1 and ftype in (3, 4, 5, 6):
                num_values = self.zigzag()
            else:
                self.skip(ftype)


@dataclass
class _PageHeader:
    page_type: int
    uncompressed_size: int
    compressed_size: int
    num_values: int
    header_size: int


@dataclass
class PageInfo:
    """One page of one column chunk (reference PageIndexEntry analog,
    parquet_reader.hpp:12-24). ``offset`` is the page HEADER's byte
    offset; the page data starts at ``offset + header_size`` and spans
    ``compressed_size`` bytes — so ``header_size + compressed_size``
    summed over a chunk's pages equals the footer's
    ``total_compressed_size`` (both per the Parquet spec include
    headers), the invariant ``r7_chunk_bytes`` certifies."""

    row_group: int
    column: int
    page_in_chunk: int
    page_type: str
    num_values: int
    compressed_size: int
    uncompressed_size: int
    offset: int
    header_size: int = 0


_PAGE_TYPE_NAMES = {0: "DATA_PAGE", 1: "INDEX_PAGE", 2: "DICTIONARY_PAGE", 3: "DATA_PAGE_V2"}


# Initial per-header read window. Headers are usually tens of bytes
# (hundreds with statistics); the window doubles on demand, so an
# oversized header costs extra seeks, never a wrong parse — every byte
# the parser consumes is the true file byte at (offset + pos), and an
# exhausted window surfaces as IndexError before any field is misread.
_HEADER_READ_SIZE = 4096


def _read_header_at(fh, offset: int, file_size: int) -> "_PageHeader":
    window = _HEADER_READ_SIZE
    while True:
        fh.seek(offset)
        buf = fh.read(min(window, file_size - offset))
        try:
            return _CompactReader(buf, 0).read_page_header()
        except IndexError:
            if window >= file_size - offset:
                raise ValueError(
                    f"truncated page header at offset {offset} "
                    f"(file is {file_size} bytes)"
                ) from None
            window *= 2


def walk_pages(path: str) -> list[PageInfo]:
    """Walk every page header of every column chunk (parquet_reader.cpp:559-605).

    Header-bounded I/O: one seek + small read per page header — column
    data is never touched, so walking a huge file costs O(pages), not
    O(bytes). (This is the property fleet_page_audit's 100 TB pitch
    rests on.)

    Unlike the reference, DATA_PAGE_V2 values count toward termination, so
    V2 files don't loop (SURVEY.md §3.1 quirk — deliberately not copied).
    """
    meta = file_metadata(path)
    file_size = os.path.getsize(path)
    pages: list[PageInfo] = []
    with open(path, "rb") as fh:
        for rg_idx in range(meta.num_row_groups):
            rg = meta.row_group(rg_idx)
            for col_idx in range(rg.num_columns):
                col = rg.column(col_idx)
                offset = col.data_page_offset
                if col.has_dictionary_page and col.dictionary_page_offset is not None:
                    offset = min(offset, col.dictionary_page_offset)
                values_read = 0
                page_in_chunk = 0
                while values_read < col.num_values:
                    hdr = _read_header_at(fh, offset, file_size)
                    pages.append(
                        PageInfo(
                            row_group=rg_idx,
                            column=col_idx,
                            page_in_chunk=page_in_chunk,
                            page_type=_PAGE_TYPE_NAMES.get(
                                hdr.page_type, str(hdr.page_type)
                            ),
                            num_values=hdr.num_values,
                            compressed_size=hdr.compressed_size,
                            uncompressed_size=hdr.uncompressed_size,
                            offset=offset,
                            header_size=hdr.header_size,
                        )
                    )
                    if hdr.page_type in (_PAGE_TYPE_DATA, _PAGE_TYPE_DATA_V2):
                        values_read += hdr.num_values
                    stride = hdr.header_size + hdr.compressed_size
                    # Forward-progress guard: a corrupt header can decode a
                    # negative (zigzag) compressed_size, making the stride
                    # non-positive — the walk would revisit the same offset
                    # forever (the reference's infinite-loop failure class,
                    # SURVEY.md §3.1). Fail loudly instead.
                    if stride <= 0 or offset + stride > file_size:
                        raise ValueError(
                            f"corrupt page header at offset {offset}: "
                            f"stride {stride} outside file of {file_size} bytes"
                        )
                    offset += stride
                    page_in_chunk += 1
    return pages


def page_stats(path: str) -> list[dict]:
    """Per column chunk: data/dict page counts + value totals (R6 report)."""
    meta = file_metadata(path)
    names = [meta.schema.column(i).name for i in range(meta.num_columns)]
    agg: dict[tuple[int, int], dict] = {}
    for p in walk_pages(path):
        key = (p.row_group, p.column)
        entry = agg.setdefault(
            key,
            {
                "row_group": p.row_group,
                "column_name": names[p.column],
                "n_data_pages": 0,
                "n_dict_pages": 0,
                "num_values": 0,
            },
        )
        if p.page_type in ("DATA_PAGE", "DATA_PAGE_V2"):
            entry["n_data_pages"] += 1
            entry["num_values"] += p.num_values
        elif p.page_type == "DICTIONARY_PAGE":
            entry["n_dict_pages"] += 1
    return [agg[k] for k in sorted(agg)]


# ---------------------------------------------------------------------------
# Global data-page index + raw page access — R6 (bytes), R7, R8
# ---------------------------------------------------------------------------
#
# The reference's raw-page layer (parquet_reader.cpp:182-278, build index
# :559-605) assigns a GLOBAL id to every DATA page (dictionary pages are
# walked but get no id), indexed by {data_offset, data_size, row_group,
# column} where data_offset points PAST the page header and data_size is
# the compressed page size. On top of that index it offers:
#   - read_page_data(id)                     -> one page's raw bytes (R6)
#   - read_pages_chunk(start, end, max_bytes)-> inclusive page range,
#     concatenated, truncated MID-PAGE once max_bytes is reached (R7,
#     parquet_reader.cpp:194-231)
#   - PageIterator(start, end) half-open, has_next/next/reset, yielding
#     RawPage{page_id, row_group, column, data} (R8, :242-278)
#
# These are physical single-file APIs with no distributed analog (Spark's
# vectorized reader pipelines pages internally); we provide them as
# driver-side utilities for parity, backed by the same Thrift header walk
# the certified r6_chunk_values query exercises. Index construction reads
# only headers (O(pages) seeks, no column data); page bytes are read
# lazily per call, so even a huge file costs only what you iterate.


@dataclass
class PageIndexEntry:
    """Reference PageIndexEntry (parquet_reader.hpp:12-24) + the header
    metadata the byte-accounting oracle needs (header_size, num_values —
    a documented superset; the reference keeps num_values only long
    enough to terminate the chunk walk)."""

    page_id: int
    row_group: int
    column: int
    data_offset: int  # first byte PAST the page header
    data_size: int  # compressed page bytes (header excluded)
    header_size: int
    num_values: int


def build_page_index(path: str) -> list[PageIndexEntry]:
    """Global DATA-page index (parquet_reader.cpp:559-605): data pages in
    file-walk order get consecutive global ids; dictionary pages are
    skipped without an id, exactly like the reference."""
    entries: list[PageIndexEntry] = []
    for p in walk_pages(path):
        if p.page_type in ("DATA_PAGE", "DATA_PAGE_V2"):
            entries.append(
                PageIndexEntry(
                    page_id=len(entries),
                    row_group=p.row_group,
                    column=p.column,
                    data_offset=p.offset + p.header_size,
                    data_size=p.compressed_size,
                    header_size=p.header_size,
                    num_values=p.num_values,
                )
            )
    return entries


def read_page_data(
    path: str, page_id: int, index: list[PageIndexEntry] | None = None
) -> bytes:
    """R6: one data page's raw (compressed) bytes
    (ParquetReader::read_page_data, parquet_reader.cpp:186-192).

    Pass a shared ``index`` from build_page_index when reading more than
    one page — without it every call re-walks the file's headers to
    rebuild the index (O(pages) per call). PageIterator does this (and
    holds one file handle) for you."""
    index = build_page_index(path) if index is None else index
    if not 0 <= page_id < len(index):
        raise IndexError(f"global page id {page_id} out of range")
    entry = index[page_id]
    with open(path, "rb") as fh:
        fh.seek(entry.data_offset)
        return fh.read(entry.data_size)


def read_pages_chunk(
    path: str,
    start_page_id: int,
    end_page_id: int,
    max_bytes: int,
    index: list[PageIndexEntry] | None = None,
) -> bytes:
    """R7: concatenated bytes of the INCLUSIVE page range
    [start_page_id, end_page_id], truncated once the running total hits
    ``max_bytes`` — the final page is cut mid-page rather than dropped,
    mirroring ParquetReader::read_pages_chunk (parquet_reader.cpp:194-231,
    ``to_read = min(entry.data_size, remaining)``)."""
    index = build_page_index(path) if index is None else index
    if not 0 <= start_page_id < len(index):
        raise IndexError(f"start page id {start_page_id} out of range")
    if not 0 <= end_page_id < len(index):
        raise IndexError(f"end page id {end_page_id} out of range")
    if start_page_id > end_page_id:
        raise ValueError("start page id must be <= end page id")
    out = bytearray()
    with open(path, "rb") as fh:
        for i in range(start_page_id, end_page_id + 1):
            remaining = max_bytes - len(out)
            if remaining <= 0:
                break
            entry = index[i]
            fh.seek(entry.data_offset)
            out += fh.read(min(entry.data_size, remaining))
    return bytes(out)


@dataclass
class RawPage:
    """Reference RawPage (parquet_reader.hpp; PageIterator::next
    parquet_reader.cpp:249-260)."""

    page_id: int
    row_group: int
    column: int
    data: bytes


class PageIterator:
    """R8: lazy ``has_next/next/reset`` over the half-open global-id range
    [start, end) (parquet_reader.cpp:242-278). The index (headers only) is
    built once up front; page BYTES are read lazily per ``next()`` through
    ONE file handle held for the iterator's lifetime (the reference keeps
    its ifstream open the same way), so iterating metadata-heavy prefixes
    of a large file never touches the rest of the file's data and never
    re-opens the file per page."""

    def __init__(self, path: str, start: int = 0, end: int | None = None):
        self._path = path
        self._index = build_page_index(path)
        n = len(self._index)
        end = n if end is None else end
        if start > n or end > n:
            raise IndexError("page iterator range out of bounds")
        if start > end:
            raise ValueError("start must be <= end")
        self._start, self._end, self._current = start, end, start
        self._fh = open(path, "rb")

    def has_next(self) -> bool:
        return self._current < self._end

    def next(self) -> RawPage:
        if not self.has_next():
            raise StopIteration("PageIterator: no more pages")
        entry = self._index[self._current]
        self._fh.seek(entry.data_offset)
        page = RawPage(
            page_id=entry.page_id,
            row_group=entry.row_group,
            column=entry.column,
            data=self._fh.read(entry.data_size),
        )
        self._current += 1
        return page

    def close(self) -> None:
        self._fh.close()

    def reset(self) -> None:
        self._current = self._start

    # Pythonic sugar over the reference's explicit protocol
    def __iter__(self):
        while self.has_next():
            yield self.next()

    # Context-manager support so callers can't leak the held file handle
    # (ADVICE r5): ``with PageIterator(path) as it: ...``
    def __enter__(self) -> "PageIterator":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self.close()


# ---------------------------------------------------------------------------
# Distributed fleet audit — the 100 TB shape of R1/R6
# ---------------------------------------------------------------------------


def fleet_page_audit(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Run the page-header walker over MANY parquet files as a Spark job —
    the cluster-scale form of the reference's single-file inspection
    (parquet_reader.cpp:14-61,559-605 applied per file).

    Each executor task walks the footers + page headers of its files
    (O(pages) metadata reads, never column data) and emits one small stats
    row per file, so auditing a 100 TB lake moves only O(files) rows to
    the driver while the header I/O fans out across the cluster. One file
    per task (``repartition(len(paths))``): header walks are short and
    uniform, so max parallelism beats batching.
    """
    import pandas as pd

    if not paths:
        raise ValueError("fleet_page_audit: no paths given")
    out_schema = T.StructType(
        [
            T.StructField("file_name", T.StringType(), False),
            T.StructField("n_chunks", T.LongType(), False),
            T.StructField("num_values", T.LongType(), False),
            T.StructField("compressed_bytes", T.LongType(), False),
            T.StructField("uncompressed_bytes", T.LongType(), False),
        ]
    )

    def _audit(batches):
        for pdf in batches:
            rows = []
            for path in pdf["path"]:
                chunks: set[tuple[int, int]] = set()
                values = comp = uncomp = 0
                for p in walk_pages(path):
                    chunks.add((p.row_group, p.column))
                    comp += p.header_size + p.compressed_size
                    uncomp += p.header_size + p.uncompressed_size
                    if p.page_type in ("DATA_PAGE", "DATA_PAGE_V2"):
                        values += p.num_values
                rows.append((path, len(chunks), values, comp, uncomp))
            yield pd.DataFrame(
                rows, columns=[f.name for f in out_schema.fields]
            )

    files = spark.createDataFrame(
        [(p,) for p in paths], T.StructType([T.StructField("path", T.StringType(), False)])
    ).repartition(len(paths))
    return files.mapInPandas(_audit, schema=out_schema)


def q_r6_fleet_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout audit of every table in the scale-factor directory, computed
    executor-side; oracled against DuckDB parquet_metadata() over the same
    glob."""
    from .catalog import TABLES

    paths = sorted(table_path(sf_dir, t) for t in TABLES)
    return fleet_page_audit(spark, paths)


# ---------------------------------------------------------------------------
# Driver-contract queries
# ---------------------------------------------------------------------------

_RG_SCHEMA = T.StructType(
    [
        T.StructField("row_group", T.IntegerType(), False),
        T.StructField("num_rows", T.LongType(), False),
        T.StructField("num_columns", T.LongType(), False),
    ]
)


def q_r1_rowgroup_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-group shape of lineitem from OUR footer reader; oracled against
    DuckDB's parquet_metadata() on the same file."""
    stats = row_group_stats(table_path(sf_dir, "lineitem"))
    rows = [(s["row_group"], s["num_rows"], s["num_columns"]) for s in stats]
    return spark.createDataFrame(rows, _RG_SCHEMA)


def q_r6_chunk_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column-chunk value counts from OUR page walker vs DuckDB's
    parquet_metadata() — verifies the Thrift page-header walk end-to-end."""
    stats = page_stats(table_path(sf_dir, "documents"))
    rows = [
        (s["row_group"], s["column_name"], s["num_values"])
        for s in stats
    ]
    schema = T.StructType(
        [
            T.StructField("row_group", T.IntegerType(), False),
            T.StructField("column_name", T.StringType(), False),
            T.StructField("num_values", T.LongType(), False),
        ]
    )
    return spark.createDataFrame(rows, schema)


def q_r7_chunk_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7 byte-accounting certification: the byte arithmetic
    ``read_pages_chunk`` caps on (header_size + compressed page bytes,
    walked page by page) must tile each column chunk exactly — per the
    Parquet spec the footer's total_compressed_size/total_uncompressed_size
    include page headers, so our walked sums must equal DuckDB's
    parquet_metadata() view of the same chunks. Runs on the multi-row-group
    fixture so the per-chunk aggregation spans many (row_group, column)
    cells."""
    path = multi_rowgroup_documents(sf_dir)
    meta = file_metadata(path)
    names = [meta.schema.column(i).name for i in range(meta.num_columns)]
    agg: dict[tuple[int, int], list[int]] = {}
    for p in walk_pages(path):
        cell = agg.setdefault((p.row_group, p.column), [0, 0])
        cell[0] += p.header_size + p.compressed_size
        cell[1] += p.header_size + p.uncompressed_size
    rows = [
        (rg, names[col], agg[(rg, col)][0], agg[(rg, col)][1])
        for rg, col in sorted(agg)
    ]
    schema = T.StructType(
        [
            T.StructField("row_group", T.IntegerType(), False),
            T.StructField("column_name", T.StringType(), False),
            T.StructField("compressed_bytes", T.LongType(), False),
            T.StructField("uncompressed_bytes", T.LongType(), False),
        ]
    )
    return spark.createDataFrame(rows, schema)


def q_r8_page_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8 end-to-end: drive the full PageIterator (reading every data
    page's raw bytes), check each page's bytes match its index entry, and
    report per chunk the index-derived facts DuckDB can independently
    compute from the footer: total data-page values (= chunk num_values)
    and the first data page's header offset (= data_page_offset)."""
    path = multi_rowgroup_documents(sf_dir)
    meta = file_metadata(path)
    names = [meta.schema.column(i).name for i in range(meta.num_columns)]
    agg: dict[tuple[int, int], list[int]] = {}
    with PageIterator(path) as it:
        index = it._index
        for page in it:
            entry = index[page.page_id]
            if len(page.data) != entry.data_size:
                raise ValueError(
                    f"page {page.page_id}: read {len(page.data)} bytes, "
                    f"index says {entry.data_size}"
                )
            cell = agg.setdefault(
                (page.row_group, page.column),
                [0, entry.data_offset - entry.header_size],
            )
            cell[0] += entry.num_values
            cell[1] = min(cell[1], entry.data_offset - entry.header_size)
    rows = [
        (rg, names[col], agg[(rg, col)][0], agg[(rg, col)][1])
        for rg, col in sorted(agg)
    ]
    schema = T.StructType(
        [
            T.StructField("row_group", T.IntegerType(), False),
            T.StructField("column_name", T.StringType(), False),
            T.StructField("data_values", T.LongType(), False),
            T.StructField("first_data_page_offset", T.LongType(), False),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _oracle_path(table: str) -> str:
    # Oracle SQL cannot take parameters; the driver registers views per
    # sf_dir but parquet_metadata needs the file path. The driver runs
    # correctness at sf0.01 (BASELINE.md), so pin that path.
    return f"/root/testdata/sf0.01/{table}.parquet"


QUERIES = {
    "r1_rowgroup_meta": q_r1_rowgroup_meta,
    "r6_chunk_values": q_r6_chunk_values,
    "r7_chunk_bytes": q_r7_chunk_bytes,
    "r8_page_index": q_r8_page_index,
    "r6_fleet_audit": q_r6_fleet_audit,
}

ORACLES = {
    "r1_rowgroup_meta": f"""
        SELECT CAST(row_group_id AS INT) AS row_group,
               CAST(max(row_group_num_rows) AS BIGINT) AS num_rows,
               CAST(count(*) AS BIGINT) AS num_columns
        FROM parquet_metadata('{_oracle_path("lineitem")}')
        GROUP BY row_group_id
    """,
    "r6_chunk_values": f"""
        SELECT CAST(row_group_id AS INT) AS row_group,
               path_in_schema AS column_name,
               CAST(num_values AS BIGINT) AS num_values
        FROM parquet_metadata('{_oracle_path("documents")}')
    """,
    "r7_chunk_bytes": f"""
        SELECT CAST(row_group_id AS INT) AS row_group,
               path_in_schema AS column_name,
               CAST(total_compressed_size AS BIGINT) AS compressed_bytes,
               CAST(total_uncompressed_size AS BIGINT) AS uncompressed_bytes
        FROM parquet_metadata('{ORACLE_MRG_PATH}')
    """,
    "r8_page_index": f"""
        SELECT CAST(row_group_id AS INT) AS row_group,
               path_in_schema AS column_name,
               CAST(num_values AS BIGINT) AS data_values,
               CAST(data_page_offset AS BIGINT) AS first_data_page_offset
        FROM parquet_metadata('{ORACLE_MRG_PATH}')
    """,
    "r6_fleet_audit": """
        SELECT file_name,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(num_values) AS BIGINT) AS num_values,
               CAST(sum(total_compressed_size) AS BIGINT) AS compressed_bytes,
               CAST(sum(total_uncompressed_size) AS BIGINT) AS uncompressed_bytes
        FROM parquet_metadata('/root/testdata/sf0.01/*.parquet')
        GROUP BY file_name
    """,
}
