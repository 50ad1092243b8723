"""Property fuzz for the winnowing scheme (operators/dedup.py):
a clean-room Python implementation of the DEFINITION (gram hash = first
48 md5 bits of the gram string; fingerprints = distinct minima of each
W-window, one clamped window for short docs) is checked against the
DuckDB oracle SQL on randomized corpora, and the paper's guarantee —
any shared token run of ≥ K + W - 1 tokens yields a shared fingerprint
— is asserted on planted runs. The Spark side is tied to the same
oracle by the parity tests in test_pending_r15.py, so agreement here
closes the triangle (Python ⇔ DuckDB ⇔ Spark).

No Spark session: each example is a tiny parquet file + two DuckDB
queries — the fuzz stays fast enough for hypothesis example counts.
"""

from __future__ import annotations

import hashlib
import os as _os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import given, settings, strategies as st

from duckdb_parquet_parser_spark.operators.dedup import (
    ORACLES,
    WINNOW_K,
    WINNOW_W,
)

_N_EXAMPLES = 25 * int(_os.environ.get("SPARK_GRAFT_FUZZ_SCALE", "1"))

_VOCAB = ["a", "b", "c", "dd", "eee", "Σ", "漢", "x y".replace(" ", ""), ""]


def _gram_hash(toks: list[str]) -> int:
    h = hashlib.md5(" ".join(toks).encode()).hexdigest()
    return int(h[:12], 16)


def _winnow_py(tokens: list[str]) -> set[int]:
    m = len(tokens) - (WINNOW_K - 1)
    if m < 1:
        return set()
    grams = [_gram_hash(tokens[i:i + WINNOW_K]) for i in range(m)]
    n_windows = max(len(grams) - WINNOW_W + 1, 1)
    return {min(grams[j:j + WINNOW_W]) for j in range(n_windows)}


def _oracle_fps(texts: list[str | None]) -> dict[int, set[int]]:
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(range(len(texts)), pa.int64()),
                    "text": pa.array(texts, pa.string()),
                    "lang": pa.array(["en"] * len(texts)),
                    "source": pa.array(["s0"] * len(texts)),
                    "n_chars": pa.array(
                        [len(t) if t is not None else None for t in texts],
                        pa.int64(),
                    ),
                }
            ),
            f"{d}/documents.parquet",
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS"
            f" SELECT * FROM '{d}/documents.parquet'"
        )
        out: dict[int, set[int]] = {}
        for did, fp in con.execute(
            ORACLES["ns_winnow_fingerprint"]
        ).fetchall():
            out.setdefault(did, set()).add(fp)
        con.close()
        return out


@settings(max_examples=_N_EXAMPLES, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(_VOCAB), min_size=0, max_size=30),
        min_size=1,
        max_size=6,
    ),
    st.data(),
)
def test_python_reference_matches_oracle_and_guarantee(docs_tokens, data):
    # plant a shared run of >= K+W-1 tokens into two docs when possible
    run_len = WINNOW_K + WINNOW_W - 1
    run = data.draw(
        st.lists(st.sampled_from(_VOCAB), min_size=run_len, max_size=run_len)
    )
    planted = None
    if len(docs_tokens) >= 2:
        docs_tokens = [list(t) for t in docs_tokens]
        docs_tokens[0] = docs_tokens[0][:5] + run + docs_tokens[0][5:]
        docs_tokens[1] = run + docs_tokens[1]
        planted = (0, 1)
    texts = [" ".join(t) for t in docs_tokens]
    expected = {
        i: _winnow_py(t.split(" "))
        for i, t in enumerate(texts)
        # split(" ") of "" is [""] — matches both engines' semantics
    }
    expected = {i: s for i, s in expected.items() if s}
    got = _oracle_fps(texts)
    assert got == expected
    if planted is not None:
        a, b = planted
        # the paper's guarantee on the planted shared run
        assert expected.get(a, set()) & expected.get(b, set())
