"""Deterministic inputs: the fixture lake the ops read and the per-pass
ingest batches.

The lake mirrors the repository's TPC-H-ish fixture schema (FIXTURES.md):
ten tables, one Parquet file each, values drawn from the same domains.
Documents follow the fixture's measured shape (README.md, "Inputs"):
word soup over a 30-word vocabulary, 10-99 words each, and 5% of them
near-duplicates made by appending `` dup`` to another document's text.
The lake is a fixed function of ``LAKE_SEED`` and the scale, never of the
run's ``--seed``; the seed drives op order, CLI parameters and the ingest
batches instead.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LAKE_SEED = 20_201_016
LAKE_VERSION = 2

# Row counts per scale. "bench" is the sf0.01 fixture size: every op of
# both mixes stays near Spark's per-job floor, which keeps one run inside
# the time budget while still exercising every layer. "smoke" is sf0.001.
SCALES = {
    "bench": dict(customer=1500, supplier=100, part=2000, orders=15000,
                  lineitem=60000, events=10000, documents=500,
                  embeddings=500, users=150),
    "smoke": dict(customer=150, supplier=10, part=200, orders=1500,
                  lineitem=6000, events=1000, documents=200,
                  embeddings=200, users=15),
}

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
# Share of documents that copy another document's text and append " dup";
# a copy of a copy ends in "dup dup".
DUP_SHARE = 0.05
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("signup", "click", "purchase", "error", "view")

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _texts(rng, n: int) -> list[str]:
    texts = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k))
             for k in rng.integers(10, 100, n)]
    for i in rng.choice(n, round(n * DUP_SHARE), replace=False):
        src = int(rng.integers(n - 1))
        texts[i] = texts[src + (src >= i)] + " dup"
    return texts


def generate_tables(scale: str) -> dict[str, pa.Table]:
    """All ten lake tables for ``scale``; identical on every call."""
    n = SCALES[scale]
    rng = np.random.default_rng(LAKE_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, nc, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, ns, -999.99, 9999.99)),
    })
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": _pick(rng, names, npart),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ("P", "O", "F"), no),
        "o_totalprice": pa.array(_money(rng, no, 1000.0, 500000.0)),
        "o_orderdate": pa.array(_days(rng, no, "1995-01-01", "2001-08-01")),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, nl, 900.0, 100000.0)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
        "l_linestatus": _pick(rng, ("F", "O"), nl),
        "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", "2001-11-04")),
    })
    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n["users"], ne, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    nd = n["documents"]
    texts = _texts(rng, nd)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, nd, p=LANG_P),
        "source": _pick(rng, [f"src{i}" for i in range(20)], nd),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
    })
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv, dtype=np.int32)),
    })
    return t


def build_lake(cache_root: str, scale: str) -> str:
    """Write the lake for ``scale`` under ``cache_root`` once and return its
    directory. Later runs in the same checkout reuse it; the directory is
    published by rename, so a killed run never leaves a partial lake."""
    out = os.path.join(cache_root, f"lake-v{LAKE_VERSION}-{scale}")
    if os.path.exists(os.path.join(out, "_READY")):
        return out
    tmp = f"{out}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in generate_tables(scale).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "_READY"), "w") as f:
        json.dump({"seed": LAKE_SEED, "scale": scale}, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def table_rows(scale: str) -> dict[str, int]:
    n = SCALES[scale]
    rows = {k: n[k] for k in TABLES if k in n}
    rows.update(region=5, nation=25)
    return rows


# Ingest batch shape: row counts sampled per pass from the lake tables.
BATCH_ROWS = {"bench": dict(lineitem=12000, orders=3000, documents=300),
              "smoke": dict(lineitem=1200, orders=300, documents=60)}
BATCH_TABLES = ("lineitem", "orders", "documents")


def make_batch(lake_dir: str, out_dir: str, scale: str, seed: int,
               index: int) -> dict[str, pa.Table]:
    """Ingest batch ``index`` of a run: a seeded sample of ``lineitem``,
    ``orders`` and ``documents`` written with pyarrow as an sf-dir at
    ``out_dir``. Documents get fresh ids so each batch's signatures are
    new to the corpus artifact. Returns the batch tables."""
    rng = np.random.default_rng([seed, index])
    os.makedirs(out_dir, exist_ok=True)
    batch = {}
    for name in BATCH_TABLES:
        src = pq.read_table(os.path.join(lake_dir, f"{name}.parquet"))
        k = min(BATCH_ROWS[scale][name], src.num_rows)
        t = src.take(pa.array(rng.choice(src.num_rows, k, replace=False)))
        if name == "documents":
            base = (index + 1) * 1_000_000
            t = t.set_column(0, "doc_id",
                             pa.array(np.arange(base, base + k, dtype=np.int64)))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        batch[name] = t
    return batch

