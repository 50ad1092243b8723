"""Differential-testing harness: run each declared query on Spark AND its
DuckDB oracle, compare row count + column names + order-insensitive value
hash — a local replica of the driver's correctness gate (BASELINE.md t2).
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math
from dataclasses import dataclass

import duckdb
import pandas as pd

from .catalog import TABLES, table_path
from .inspect import ORACLE_MRG_PATH, multi_rowgroup_documents


# The driver runs the correctness gate at exactly this scale factor, and
# oracle_sql() returns static strings — so oracles that need a *file path*
# (parquet_metadata etc.) pin the sf0.01 path. Locally, run_all retargets
# those pins to whatever sf_dir is under test so parity holds at any scale.
ORACLE_SF_DIR = "/root/testdata/sf0.01"


def retarget_oracle_sql(sql: str, sf_dir: str) -> str:
    """Point an oracle's pinned paths at ``sf_dir``: its tables, and the
    multi-row-group copy of its documents (built on first use, and only
    for the oracles that read it)."""
    sql = sql.replace(ORACLE_SF_DIR, sf_dir.rstrip("/"))
    if ORACLE_MRG_PATH in sql:
        sql = sql.replace(ORACLE_MRG_PATH, multi_rowgroup_documents(sf_dir))
    return sql


def duckdb_connection(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'"
        )
    return con


def _canon_cell(v) -> str:
    if v is None:
        return "\\N"
    if not hasattr(v, "__len__"):
        try:
            if pd.isna(v):  # NaT / NaN / pd.NA
                return "\\N"
        except (TypeError, ValueError):
            pass
    if isinstance(v, float):
        if math.isnan(v):
            return "\\N"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))  # 5.0 ↔ 5 across engines
        return repr(v)
    if isinstance(v, (pd.Timestamp, _dt.datetime)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    if isinstance(v, _dt.date):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int,)) or type(v).__name__.startswith(("int", "uint")):
        return str(int(v))
    if type(v).__name__.startswith("float"):
        return _canon_cell(float(v))
    if type(v).__name__ == "bool_":
        return "true" if bool(v) else "false"
    return str(v)


def canonical_hash(df: pd.DataFrame) -> tuple[int, list[str], str]:
    """(row_count, sorted column names, order-insensitive value hash)."""
    cols = sorted(df.columns)
    sub = df[cols]
    rows = sorted(
        "\x1f".join(_canon_cell(v) for v in row)
        for row in sub.itertuples(index=False, name=None)
    )
    digest = hashlib.md5("\x1e".join(rows).encode()).hexdigest()
    return len(df), cols, digest


@dataclass
class ParityResult:
    name: str
    ok: bool
    detail: str

    def __str__(self) -> str:
        return f"{'PASS' if self.ok else 'FAIL'} {self.name}: {self.detail}"


def compare_query(spark, sf_dir: str, name: str, fn, sql: str, con=None) -> ParityResult:
    own_con = con is None
    if own_con:
        con = duckdb_connection(sf_dir)
    try:
        spark_pdf = fn(spark, sf_dir).toPandas()
        oracle_pdf = con.execute(retarget_oracle_sql(sql, sf_dir)).fetchdf()
    except Exception as exc:  # surface, don't crash the whole run
        return ParityResult(name, False, f"EXCEPTION {type(exc).__name__}: {exc}")
    finally:
        if own_con:
            con.close()
    n_s, c_s, h_s = canonical_hash(spark_pdf)
    n_o, c_o, h_o = canonical_hash(oracle_pdf)
    if c_s != c_o:
        return ParityResult(name, False, f"columns differ: spark={c_s} oracle={c_o}")
    drift = _dtype_drift(spark_pdf, oracle_pdf)
    if drift:
        return ParityResult(name, False, drift)
    if n_s != n_o:
        return ParityResult(name, False, f"row counts differ: spark={n_s} oracle={n_o}")
    if h_s != h_o:
        sample = _first_diff(spark_pdf, oracle_pdf)
        return ParityResult(name, False, f"value hash differs ({n_s} rows). {sample}")
    return ParityResult(name, True, f"{n_s} rows, hash {h_s[:12]}")


def _dtype_drift(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """Integer-vs-float drift between engines. The local canonical hash
    normalizes int-valued floats (5.0 ↔ 5), the driver's does NOT — a DuckDB
    HUGEINT sum arriving as float64 against a Spark long passed locally in
    round 1 but failed the driver (x1_chunk_index). Flag it here so every
    uncast integer SUM fails fast in pytest too."""
    for c in spark_pdf.columns:
        if c not in oracle_pdf.columns:
            continue
        s, o = spark_pdf[c], oracle_pdf[c]
        s_int = pd.api.types.is_integer_dtype(s)
        o_int = pd.api.types.is_integer_dtype(o)
        s_float = pd.api.types.is_float_dtype(s)
        o_float = pd.api.types.is_float_dtype(o)
        if (s_int and o_float) or (s_float and o_int):
            return (
                f"dtype drift on '{c}': spark={s.dtype} oracle={o.dtype} "
                "(cast integer SUMs to BIGINT in the oracle)"
            )
    return None


def _first_diff(a: pd.DataFrame, b: pd.DataFrame) -> str:
    cols = sorted(a.columns)
    ra = sorted(
        tuple(_canon_cell(v) for v in row)
        for row in a[cols].itertuples(index=False, name=None)
    )
    rb = sorted(
        tuple(_canon_cell(v) for v in row)
        for row in b[cols].itertuples(index=False, name=None)
    )
    for i, (x, y) in enumerate(zip(ra, rb)):
        if x != y:
            return f"first diff at sorted row {i}: spark={x} oracle={y} (cols={cols})"
    return f"length mismatch tail: {ra[len(rb):3]}{rb[len(ra):3]}"


def run_all(spark, sf_dir: str, only: list[str] | None = None) -> list[ParityResult]:
    from .operators import collect_queries

    queries, oracles = collect_queries()
    con = duckdb_connection(sf_dir)
    results = []
    try:
        for name, fn in queries.items():
            if only and name not in only:
                continue
            if name not in oracles:
                results.append(ParityResult(name, True, "no oracle (rows-only op)"))
                continue
            results.append(compare_query(spark, sf_dir, name, fn, oracles[name], con))
    finally:
        con.close()
    return results
