"""Driver-contract guards: these tests fail fast when an edit silently
breaks the certification discipline (the driver checks only the first 50
declared queries per round) or the bench harness contract."""

from __future__ import annotations

import ast
import os

from duckdb_parquet_parser_spark.operators import ROTATION_TAIL, collect_queries


def test_every_declared_query_has_an_oracle():
    queries, oracles = collect_queries()
    assert [n for n in queries if n not in oracles] == []


def test_rotation_tail_names_are_declared():
    queries, _ = collect_queries()
    assert [n for n in ROTATION_TAIL if n not in queries] == []


def test_head_fits_driver_window():
    """Every query whose code changed this round (= not parked in
    ROTATION_TAIL) must land inside the driver's 50-query window, or its
    certification silently goes stale (VERDICT r2 #1)."""
    queries, _ = collect_queries()
    names = list(queries)
    head = [n for n in names if n not in ROTATION_TAIL]
    assert len(head) <= 50, (len(head), head)
    spill = [n for n in head if n not in names[:50]]
    assert spill == [], spill


def test_conf_bytes_parses_spark_size_formats():
    from duckdb_parquet_parser_spark.catalog import _conf_bytes

    assert _conf_bytes("134217728") == 134217728
    assert _conf_bytes("134217728b") == 134217728
    assert _conf_bytes("128m") == 128 << 20
    assert _conf_bytes("128M") == 128 << 20
    assert _conf_bytes("1g") == 1 << 30
    assert _conf_bytes(" 64k ") == 64 << 10
    # two-letter spellings Spark also accepts (ADVICE r3)
    assert _conf_bytes("128mb") == 128 << 20
    assert _conf_bytes("64KB") == 64 << 10
    assert _conf_bytes("1gb") == 1 << 30
    assert _conf_bytes("2tb") == 2 << 40


def test_bench_headline_is_declared():
    import bench

    queries, oracles = collect_queries()
    missing = [n for n in bench.HEADLINE if n not in queries]
    assert missing == []
    # a bench-SF oracle skip must name a DECLARED query (r13: the skip
    # set may include non-headline queries — ns_dedup_components_converged
    # is skipped AND deliberately not a row, since its Spark plan is the
    # ns_dedup_components pipeline verbatim and a wall with no
    # denominator would distort the aggregate)
    assert bench.ORACLE_SKIP_AT_BENCH_SF <= set(queries)
    # skipped-at-bench oracles still exist for the sf0.01 correctness gate
    assert all(n in oracles for n in bench.ORACLE_SKIP_AT_BENCH_SF)
    # waiver rows must be headline rows with oracles (their legs need a
    # denominator to adjudicate against)
    assert bench.WAIVER_ROWS <= set(bench.HEADLINE)
    assert all(n in oracles for n in bench.WAIVER_ROWS)


def test_cert_ledger_in_coverage_is_current():
    """COVERAGE.md's certification-ledger table is GENERATED
    (scripts/cert_ledger.py --write); a rotation or query edit that
    forgets to refresh it would silently mislead the staleness audit
    (VERDICT r4 #8)."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "scripts"))
    import cert_ledger

    expected = cert_ledger.build_table()
    actual = open(os.path.join(repo, "COVERAGE.md")).read()
    assert cert_ledger.BEGIN in actual, "ledger section missing"
    got = actual[
        actual.index(cert_ledger.BEGIN) : actual.index(cert_ledger.END)
        + len(cert_ledger.END)
    ]
    assert got == expected, (
        "COVERAGE.md ledger is stale — run scripts/cert_ledger.py --write"
    )


def test_never_certified_queries_sit_in_the_head():
    """A query with no driver certification on record must be inside the
    50-slot window so the next round certifies it."""
    import sys, os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "scripts"))
    import cert_ledger

    queries, _ = collect_queries()
    names = list(queries)
    head = set(names[:50])
    certs = cert_ledger.latest_certs()
    uncertified_parked = [n for n in names if n not in certs and n not in head]
    assert uncertified_parked == []


def test_cert_ledger_round_parsing_is_numeric():
    """Round extraction must compare numerically and newest-wins — glob
    sort order would put r010/r10 before r02 and let an older round
    clobber the newest certification (code-review r5)."""
    import sys, os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "scripts"))
    import re
    import cert_ledger

    for fname, want in [
        ("CORRECTNESS_r04.json", 4),
        ("CORRECTNESS_r010.json", 10),
        ("CORRECTNESS_r10.json", 10),
        ("CORRECTNESS_r112.json", 112),
    ]:
        m = re.search(r"CORRECTNESS_r0*(\d+)\.json$", fname)
        assert m and int(m.group(1)) == want, fname
    # newest-wins on the real records: every cert round must be the MAX
    # green round for that query across all files, not the last in glob order
    import glob as g
    import json

    certs = cert_ledger.latest_certs()
    for path in g.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r0*(\d+)\.json$", path).group(1))
        for name, row in json.load(open(path)).items():
            if isinstance(row, dict) and row.get("hash_match"):
                assert certs[name][0] >= rnd, (name, certs[name], rnd)


def test_cert_ledger_forecast_names_parked_stale_only():
    """The round-N+2 must-rotate forecast (VERDICT r5 #7) must name
    exactly the parked queries whose certification will be ≥2 rounds old
    after the upcoming driver run — never anything in the current head
    (those get re-certified), never anything certified in the latest
    round."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "scripts"))
    import cert_ledger

    queries, _ = collect_queries()
    names = list(queries)
    head = set(names[:50])
    certs = cert_ledger.latest_certs()
    rounds = sorted({r for r, _ in certs.values()})
    latest = rounds[-1] if rounds else 0
    forecast = cert_ledger.forecast_next_round(names, head, certs, latest)
    assert set(forecast).isdisjoint(head)
    for n in forecast:
        assert certs.get(n, (0, "-"))[0] <= latest - 1, n
    # completeness: every parked query certified <= latest-1 is forecast
    expected = [
        n
        for n in names
        if n not in head and certs.get(n, (0, "-"))[0] <= latest - 1
    ]
    assert forecast == expected


def test_no_staging_modules_or_names():
    """Every query is either registered or gone: no module under the
    package is named ``pending_*``/``staged_*`` and no module-level name
    carries ``PENDING``/``STAGED`` (the old parking dicts). Parsed with
    ``ast`` so the check imports nothing. The ``r1``…``r10`` query
    prefixes are the reference's capability ids and are not affected."""
    import ast
    import os

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "duckdb_parquet_parser_spark",
    )
    bad = []
    for root, _, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            if f.startswith(("pending_", "staged_")):
                bad.append(path)
            names = []
            for node in ast.parse(open(path).read()).body:
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ):
                    names.append(node.name)
                elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                    targets = getattr(node, "targets", None) or [node.target]
                    names += [
                        n.id
                        for t in targets
                        for n in ast.walk(t)
                        if isinstance(n, ast.Name)
                    ]
                elif isinstance(node, (ast.Import, ast.ImportFrom)):
                    names += [a.asname or a.name for a in node.names]
            bad += [
                f"{path}: {n}"
                for n in names
                if "PENDING" in n.upper() or "STAGED" in n.upper()
            ]
    assert bad == [], bad


#: Package functions no package code calls, each with the caller that
#: keeps it. Anything else unreferenced is dead code.
EXTERNAL_API = {
    "inspect.read_page_data": "R6 page-read API; tests/test_inspect_fuzz.py",
    "inspect.read_pages_chunk": "R6 page-range API; tests/test_inspect_fuzz.py",
    "testing.run_all": "oracle-parity harness; randomized tests, scripts",
    "plans.assert_pushed_filter": "plan assertion helper; tests/test_plans.py",
    "plans.assert_pruned_schema": "plan assertion helper; tests/test_plans.py",
    "plans.assert_broadcast": "plan assertion helper; tests/test_plans.py",
    "streaming.windows.streaming_tumbling_append": "watermark mode; tests/test_streaming.py",
    "streaming.windows.dedup_within_watermark": "streaming dedup; tests/test_streaming.py",
    "streaming.stateful.streaming_sessionize_watermark": "eviction mode; tests/test_streaming.py",
    "operators.dedup.write_signature_artifact": "run-1 artifact write; perfbench",
    "operators.dedup.append_signatures": "artifact append; perfbench",
    "operators.dedup.clear_cc_labels_memo": "bench warm-shared protocol; bench.py",
    "operators.dedup.clear_simhash_memos": "cold-measurement reset; perfbench, bench.py",
    "operators.positional.with_chunk_ids": "chunk-id reference; tests/test_positional.py",
    "operators.media_codecs.unregister_codec": "codec registry undo; tests/test_media_codecs.py",
    "operators.curation.per_source_keepers": "kept-only source cap; tests/test_curation.py",
    "operators.quantized_ann.knn_bruteforce_quantized": "int8 KNN; tests/test_quantized_ann.py",
    "operators.similarity.embed_neardup_allpairs": "recall yardstick; tests/test_similarity.py",
    "operators.similarity._pair_dot_impl": "pandas-UDF body; tests/test_similarity.py",
    "operators.similarity.ann_lsh_topk": "bucketed top-k; tests/test_similarity.py",
    "sources.layout.write_partitioned": "hive-partitioned write; tests/test_layout.py",
    "sources.pywriter.write_reference_bytes": "byte-level writer; perfbench",
}


def _module_name(pkg_dir: str, path: str) -> str:
    mod = os.path.relpath(path, pkg_dir)[: -len(".py")].replace(os.sep, ".")
    return mod.removesuffix("__init__").rstrip(".")


def _dotted(node: ast.expr) -> str | None:
    """``a.b.c`` for a Name/Attribute chain, else None."""
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    return ".".join([node.id, *reversed(parts)])


def unreferenced_functions(pkg_dir: str, pkg_name: str) -> set[str]:
    """Top-level functions of the package at ``pkg_dir`` (imported as
    ``pkg_name``) that no package code references, as ``module.function``.

    A reference must resolve to the defining module: a bare name in that
    module outside the function's own body, an import of the name from
    that module (absolute or relative), or an attribute on a name bound
    to that module (``dedup.f`` after ``from . import dedup``). A
    same-named attribute on anything else, or a same-named local in
    another module, does not count."""
    trees, defs = {}, set()
    for root, _, files in os.walk(pkg_dir):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    trees[_module_name(pkg_dir, path)] = (ast.parse(fh.read()), f)
    modules = set(trees)
    for mod, (tree, _) in trees.items():
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.add(f"{mod}.{node.name}")

    def absolute(mod: str, is_init: bool, node: ast.ImportFrom) -> str:
        if not node.level:
            name = node.module or ""
            return name.removeprefix(pkg_name).lstrip(".") if (
                name == pkg_name or name.startswith(pkg_name + ".")
            ) else "\0" + name
        base = mod.split(".") if mod else []
        base = base if is_init else base[:-1]
        base = base[: len(base) - (node.level - 1)]
        return ".".join(p for p in [*base, node.module or ""] if p)

    def qualify(mod: str, name: str) -> str:
        return f"{mod}.{name}" if mod else name

    refs = set()
    for mod, (tree, fname) in trees.items():
        bound = {}  # local name -> package module it is bound to
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                src = absolute(mod, fname == "__init__.py", node)
                for al in node.names:
                    target = qualify(src, al.name)
                    refs.add(target)
                    if target in modules:
                        bound[al.asname or al.name] = target
            elif isinstance(node, ast.Import):
                for al in node.names:
                    if al.name == pkg_name or al.name.startswith(pkg_name + "."):
                        target = al.name.removeprefix(pkg_name).lstrip(".")
                        if al.asname:
                            bound[al.asname] = target
                        else:
                            bound[pkg_name] = ""
        own = {
            id(n): node.name
            for node in tree.body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            for n in ast.walk(node)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and own.get(id(node)) != node.id:
                refs.add(qualify(mod, node.id))
            elif isinstance(node, ast.Attribute):
                base = _dotted(node.value)
                if base is None:
                    continue
                head, _, rest = base.partition(".")
                if head in bound:
                    target = ".".join(p for p in [bound[head], rest] if p)
                    if target in modules:
                        refs.add(qualify(target, node.attr))
    return defs - refs


def test_every_package_function_is_referenced():
    """Every top-level function in the package is referenced by package
    code (a registered query is referenced by its module's ``QUERIES``)
    or is named in ``EXTERNAL_API``. Parsed with ``ast``; nothing is
    imported. Allowlist entries must still be unreferenced and exist,
    so the list cannot go stale."""
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "duckdb_parquet_parser_spark",
    )
    unreferenced = unreferenced_functions(pkg, "duckdb_parquet_parser_spark")
    assert sorted(unreferenced - set(EXTERNAL_API)) == []
    assert sorted(set(EXTERNAL_API) - unreferenced) == []


def test_reference_guard_ignores_same_named_attributes(tmp_path):
    """A dead function named like a common attribute, local or keyword
    elsewhere (``count``, ``run``) is still reported; one reached through
    a module alias or a relative import is not."""
    pkg = tmp_path / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "sub" / "__init__.py").write_text("")
    (pkg / "sub" / "a.py").write_text(
        "def count():\n    return count()\n\n"
        "def run():\n    pass\n\n"
        "def used_by_alias():\n    pass\n\n"
        "def used_by_import():\n    pass\n\n"
        "def used_here():\n    pass\n\n"
        "VALUE = used_here()\n"
    )
    (pkg / "b.py").write_text(
        "from .sub import a\n"
        "from .sub.a import used_by_import\n\n"
        "def main(df, run=1):\n"
        "    df.count()\n"
        "    count = run\n"
        "    a.used_by_alias()\n"
        "    return used_by_import, count, f(run=run)\n\n"
        "def f(run):\n    return run\n"
    )
    assert unreferenced_functions(str(pkg), "pkg") == {
        "sub.a.count",
        "sub.a.run",
        "b.main",
    }
