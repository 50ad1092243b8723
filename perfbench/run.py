#!/usr/bin/env python3
"""Closed-loop benchmark of the duckdb_parquet_parser_spark package.

    python3 perfbench/run.py --workload lake_ingest --seed 1 --seconds 15 --trace 0

One Python process with one Spark session on ``local[2]`` is a
single client: it sets up, runs one warm-up pass that also checks every
op's output, then runs the workload's op mix over and over for
``--seconds``, timing every call into the package from outside. The last
stdout line is the result JSON; the line before it is the full report
(every metric with unit and direction, per-op timings and Spark job
counts, the environment). ``--trace 1`` runs the window with spans
around the package's public functions and reports the per-layer metrics;
spans are written to ``.perfbench/out/`` at exit.
``--smoke`` runs one pass per workload on a tiny lake, for the test.

Everything the run writes lives under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import collections  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import lake as lakegen  # noqa: E402
from spans import JobCounts, Tracer, job_counts, span_costs  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# The per-layer metrics of the result line (BENCHMARK.json "per_layer"):
# those both workloads produce, never 0. The report line has every span
# and every work count, including those of layers one workload bypasses.
PER_LAYER = (
    "session.get_spark_s", "session.checkpoint_df_s", "session.checkpoint_df.calls",
    "catalog.load_table_s", "catalog.load_table.calls",
    "spark.jobs", "spark.stages", "spark.tasks",
    "trace.mix_pass_s", "trace.spans", "trace.overhead_s",
)

# The end-to-end metrics of the result line (BENCHMARK.json "end_to_end");
# the report line has these and the rest of report_metrics().
END_TO_END = ("setup_s", "mix_pass_cpu_s")

# Spark's local[N] unless SPARK_GRAFT_CPUS says otherwise.
SPARK_CPUS = 2


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny lake, one timed pass, no time window")
    return ap.parse_args(argv)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def isolate(run_dir: str) -> None:
    """Point every location the package, Spark, the JVM and the Python
    workers write to at this run's directory, and make the package
    importable by Spark's Python workers."""
    for sub in ("tmp", "spark-local", "artifacts", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_ARTIFACT_ROOT=os.path.join(run_dir, "artifacts"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    # Few busy threads and C1 only: the host steals more CPU time the more
    # threads are busy at once, and at these input sizes the C2 compiler
    # never pays for itself within a run (README, "Run length and
    # steadiness").
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(SPARK_CPUS, cpu_count())))
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), java_opts) if p)
    sys.path.insert(0, ROOT)


# ------------------------------------------------------------- processes


def _children() -> dict[int, list[int]]:
    kids = collections.defaultdict(list)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(pid))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out += kids.get(p, [])
        todo += kids.get(p, [])
    return out


CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_s(pids) -> dict[int, float]:
    """CPU seconds (user + system, reaped children included) of each
    process in ``pids`` that still exists."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[pid] = sum(int(x) for x in fields[11:15]) / CLK_TCK
    return out


def tree_pids(jvm_pid: int | None) -> list[int]:
    """This process, the gateway JVM and everything the JVM started."""
    if jvm_pid is None:
        return [os.getpid()]
    return [os.getpid(), jvm_pid] + descendants(jvm_pid)


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler(threading.Thread):
    """Peaks of this Python process's RSS, the JVM's RSS and their sum,
    sampled every 100 ms."""

    def __init__(self):
        super().__init__(daemon=True)
        self.jvm_pid: int | None = None
        self.peak = self.peak_python = self.peak_jvm = 0.0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.wait(0.1):
            py = rss_mb(os.getpid())
            jvm = rss_mb(self.jvm_pid) if self.jvm_pid else 0.0
            self.peak_python = max(self.peak_python, py)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak = max(self.peak, py + jvm)

    def stop(self):
        self._stop_evt.set()
        self.join(timeout=5)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until the JVM and
    every process it started (Python workers) have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    procs = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    # Java object proxies still alive in Python would try to release their
    # JVM side when collected; that JVM is gone now.
    from py4j.finalizer import ThreadSafeFinalizer

    ThreadSafeFinalizer.clear_finalizers(True)
    deadline = time.time() + 20
    while procs and time.time() < deadline:
        procs = [p for p in procs if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# ------------------------------------------------------------------- run


def _no_fixture(sf_dir):
    raise FileNotFoundError(sf_dir)


class Pkg:
    """The package's public modules the benchmark calls into.

    Importing ``operators.scan`` copies a fixture table from a fixed path
    outside the checkout when that path exists. The benchmark reads and
    writes only inside its checkout, so that import runs the package's own
    no-fixture fallback instead, and ``inspect.MRG_ROOT`` points into
    ``scratch``."""

    def __init__(self, scratch: str):
        from duckdb_parquet_parser_spark import inspect

        inspect.MRG_ROOT = os.path.join(scratch, "mrg")
        original = inspect.multi_rowgroup_documents
        inspect.multi_rowgroup_documents = _no_fixture
        try:
            import duckdb_parquet_parser_spark.__main__ as cli
            from duckdb_parquet_parser_spark import catalog, session
            from duckdb_parquet_parser_spark.operators import collect_queries, dedup
            from duckdb_parquet_parser_spark.sources import layout, pywriter, writer

            self.queries, self.oracles = collect_queries()
        finally:
            inspect.multi_rowgroup_documents = original
        self.cli, self.catalog, self.inspect, self.session = cli, catalog, inspect, session
        self.dedup, self.layout, self.pywriter, self.writer = dedup, layout, pywriter, writer


@dataclasses.dataclass(slots=True, eq=False)
class Sample:
    op: str
    category: str
    wall: float
    cpu: float
    counts: JobCounts
    phase: str
    pass_no: int


class Ctx:
    """State of one run, shared by the ops."""

    def __init__(self, args, run_dir, pkg):
        import numpy as np

        from duckdb_parquet_parser_spark.testing import duckdb_connection

        self.seed, self.scale = args.seed, "smoke" if args.smoke else "bench"
        self.rng = np.random.default_rng(args.seed)
        self.run_dir, self.pkg = run_dir, pkg
        self.queries = pkg.queries
        t0 = time.perf_counter()
        self.lake = lakegen.build_lake(os.path.join(WORK, "lakes"), self.scale)
        self.duck = duckdb_connection(self.lake)
        self.overhead_s = time.perf_counter() - t0  # not the program's work
        self.spark = None
        self.jvm_pid = None
        self.batch = None
        self.inspect_ms: list[float] = []
        self.counts = collections.Counter()
        self.sig_artifact_uri = None
        self.corpus_sig_rows = self.appended_docs = self.appends = 0
        self.result_rows: dict[str, int] = {}

    def oracle_check(self, name, pdf):
        from duckdb_parquet_parser_spark.testing import (
            canonical_hash,
            retarget_oracle_sql,
        )

        self.result_rows[name] = len(pdf)
        got = list(canonical_hash(pdf))
        sql = retarget_oracle_sql(self.pkg.oracles[name], self.lake)
        want = list(canonical_hash(self.duck.execute(sql).fetchdf()))
        if got != want:
            return f"result {got[:2]} {got[2][:12]} != oracle {want[:2]} {want[2][:12]}"
        return None


def execute(ctx, wl, op, first, collect, phase, pass_no, tracer, samples,
            failures):
    sc = ctx.spark.sparkContext
    wl.before_op(ctx, op, first)
    op_id = len(samples)
    group = f"perfbench-{op_id}"
    if tracer is not None:
        tracer.op_id = op_id
    sc.setJobGroup(group, op.name, False)
    error = result = None
    cpu0 = cpu_s(tree_pids(ctx.jvm_pid))
    t0 = time.perf_counter()
    try:
        result = op.run(ctx, collect)
    except Exception as exc:
        error = f"{type(exc).__name__}: {exc}"
    wall = time.perf_counter() - t0
    cpu1 = cpu_s(tree_pids(ctx.jvm_pid))
    cpu = sum(v - cpu0.get(pid, 0.0) for pid, v in cpu1.items())
    sc.setJobGroup(None, None, False)
    if tracer is not None:
        tracer.op_id = None
    counts = job_counts(sc, group)
    if error is None and op.check is not None and (collect or op.check_each_pass):
        t1 = time.perf_counter()
        try:
            error = op.check(ctx, result)
        except Exception as exc:
            error = f"check raised {type(exc).__name__}: {exc}"
        if phase == "check":
            ctx.overhead_s += time.perf_counter() - t1
    if error is not None:
        failures.append({"op": op.name, "phase": phase, "error": error[:500]})
    samples.append(Sample(op.name, op.category, wall, cpu, counts, phase, pass_no))


def run_passes(ctx, wl, seconds, phase, tracer, samples, failures, state):
    """Run passes until ``seconds`` have gone by; the first pass always
    completes. The "check" phase is the single set-up pass: it collects
    and checks every result."""
    deadline = time.perf_counter() + seconds
    started = 0
    while started == 0 or time.perf_counter() < deadline:
        t0 = time.perf_counter()
        pass_no = state["pass"]
        ops = wl.pass_ops(ctx, pass_no)
        if phase == "check":
            ctx.overhead_s += time.perf_counter() - t0
        state["pass"] += 1
        started += 1
        before = collections.Counter(ctx.counts)
        for i, op in enumerate(ops):
            if started > 1 and time.perf_counter() >= deadline:
                break
            execute(ctx, wl, op, i == 0, phase == "check", phase, pass_no,
                    tracer, samples, failures)
        state["pass_counts"][pass_no] = ctx.counts - before
        if ctx.batch is not None and phase != "check":
            b = ctx.batch
            if b.ref_out and b.bytes_out and len(b.ref_out) == 3:
                state["writes"].append((b.user_bytes, b.write_s))
        if phase == "check":
            break


def complete_passes(samples, phase, n_ops):
    """Samples of the passes of ``phase`` that ran every op."""
    ss = [s for s in samples if s.phase == phase]
    per_pass = collections.Counter(s.pass_no for s in ss)
    return [s for s in ss if per_pass[s.pass_no] == n_ops]


def hd_quantile(values, p: float) -> float:
    """Harrell-Davis estimate of quantile ``p``: a Beta(p(n+1), (1-p)(n+1))
    weighted mean of all order statistics. From a few dozen values it
    moves far less than a single order statistic does when neighbouring
    values swap places."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    grid = np.linspace(0.0, 1.0, 20001)[1:-1]
    logpdf = (a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)
    pdf = np.exp(logpdf - logpdf.max())
    cdf = np.concatenate(([0.0], np.cumsum(pdf)))
    cdf /= cdf[-1]
    grid = np.concatenate(([0.0], grid))
    edges = np.interp(np.arange(n + 1) / n, grid, cdf)
    return float(np.dot(np.diff(edges), x))


def window_metrics(samples, phase):
    """End-to-end figures of one window. Each op's latency is the median
    of its samples; a pass is the sum of those, and the op percentiles are
    taken over them, so every op of the mix weighs the same whatever the
    window's last pass reached. A pass's CPU time is summed the same way."""
    by_op = collections.defaultdict(list)
    cpu_by_op = collections.defaultdict(list)
    for s in samples:
        if s.phase == phase:
            by_op[s.op].append(s.wall)
            cpu_by_op[s.op].append(s.cpu)
    per_op = [statistics.median(v) for v in by_op.values()]
    return {
        "mix_pass_s": sum(per_op),
        "mix_pass_cpu_s": sum(statistics.median(v) for v in cpu_by_op.values()),
        "op_p50_s": hd_quantile(per_op, 0.5),
        "op_p90_s": hd_quantile(per_op, 0.9),
        "op_samples": sum(len(v) for v in by_op.values()),
        "ops_in_mix": len(per_op),
        "by_op": by_op,
        "cpu_by_op": cpu_by_op,
        "phase": phase,
    }


CATEGORY_METRICS = {  # report-line metric -> op category (workloads.py)
    "scan_p50_s": "scan",
    "index_p50_s": "index",
    "relational_p50_s": "relational",
    "dedup_p50_s": "dedup",
    "similarity_p50_s": "similarity",
    "text_p50_s": "text",
    "layout_p50_s": "layout",
    "append_p50_s": "append",
    "readback_p50_s": "readback",
}


def summarize_counts(ss) -> JobCounts:
    total = JobCounts()
    for s in ss:
        for k in vars(total):
            setattr(total, k, getattr(total, k) + getattr(s.counts, k))
    return total


def layer_metrics(tracer, samples, n_ops, pass_counts, costs):
    """Per-layer metrics of the traced window's whole passes, per pass.
    ``costs`` is what one span adds to a call, per span name."""
    from spans import TRACED

    whole = complete_passes(samples, "traced", n_ops)
    passes = len(whole) // n_ops
    op_ids = {i for i, s in enumerate(samples) if s in whole}
    total = collections.defaultdict(float)
    own = collections.defaultdict(float)
    calls = collections.Counter()
    work = collections.Counter()
    for sp, self_s in zip(tracer.spans, tracer.self_times()):
        if sp.op_id not in op_ids:
            continue
        total[sp.name] += sp.end - sp.start
        own[sp.name] += self_s
        calls[sp.name] += 1
        layer = sp.name.split(".")[0]
        work.update({f"{layer}.{k}": v for k, v in sp.counts.items()})
    for p in {s.pass_no for s in whole}:
        work.update(pass_counts[p])
    out = {}
    for name in TRACED:
        if name != "session.get_spark":
            out[f"{name}_s"] = total[name] / passes
            out[f"{name}.self_s"] = own[name] / passes
            out[f"{name}.calls"] = calls[name] / passes
    # the set-up call; the CLI ops' later calls only fetch the live session
    first = next(sp for sp in tracer.spans if sp.name == "session.get_spark")
    out["session.get_spark_s"] = first.end - first.start
    jc = summarize_counts(whole)
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        out[f"spark.{k}"] = getattr(jc, k) / passes
    out["catalog.schema_jobs"] = jc.schema_jobs / passes
    for k, v in work.items():
        out[k] = v / passes
    out["trace.spans"] = sum(calls.values()) / passes
    out["trace.overhead_s"] = sum(costs[n] * c for n, c in calls.items()) / passes
    for op, walls in window_metrics(samples, "traced")["by_op"].items():
        out[f"op.{op}.s"] = statistics.median(walls)
    return out


def layer_unit(name: str) -> str:
    return "s" if name.endswith("_s") else "count"


def dedup_yield(ctx):
    """Candidate and verified pair counts of the MinHash stage, counted
    once per run after the window with the salted candidate generator
    ``ns_dedup_minhash`` runs."""
    from pyspark.sql import functions as F

    d = ctx.pkg.dedup
    docs = ctx.pkg.catalog.load_table(ctx.spark, ctx.lake, "documents")
    ws = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("ws"))
    sigs = d.minhash_signatures_from_arrays(ws)
    cand = d.lsh_candidate_pairs_salted(sigs).count()
    verified = ctx.result_rows.get("ns_dedup_minhash", 0)
    return {"dedup.candidate_pairs": cand, "dedup.verified_pairs": verified,
            "dedup.candidate_yield": verified / cand if cand else 0.0}


def git_commit() -> str | None:
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            head = f.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:])) as f:
                return f.read().strip()
        return head
    except OSError:
        return None


def cpu_times() -> list[int]:
    """Aggregate /proc/stat cpu times (user nice system idle iowait irq
    softirq steal ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def environment(args, spark) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return {
        "nproc": cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "seed": args.seed,
        "git_commit": git_commit(),
        "loadavg_before": load,
    }


def report_metrics(ctx, samples, failures, state, rss, window, setup_s) -> dict:
    """Every end-to-end metric of the report line: name -> value, unit,
    better direction."""
    def metric(value, unit, better="lower"):
        return {"value": value, "unit": unit, "better": better}

    report = {"setup_s": metric(setup_s, "s")}
    for k in ("mix_pass_s", "mix_pass_cpu_s", "op_p50_s", "op_p90_s"):
        report[k] = metric(window[k], "s")
    report["peak_rss_mb"] = metric(rss.peak, "MB")
    report["peak_rss_python_mb"] = metric(rss.peak_python, "MB")
    report["peak_rss_jvm_mb"] = metric(rss.peak_jvm, "MB")
    tw = [s for s in samples if s.phase == window["phase"]]
    for name, cat in CATEGORY_METRICS.items():
        walls = [s.wall for s in tw if s.category == cat]
        if walls:
            report[name] = metric(statistics.median(walls), "s")
    if ctx.inspect_ms:
        report["inspect_p50_ms"] = metric(statistics.median(ctx.inspect_ms), "ms")
    if state["writes"]:
        user_bytes = sum(b for b, _ in state["writes"])
        write_s = sum(s for _, s in state["writes"])
        report["write_mb_per_s"] = metric(user_bytes / 1e6 / write_s, "MB/s", "higher")
        stored = ctx.counts["writer.bytes_out"] + ctx.counts["pywriter.bytes_out"]
        report["stored_bytes_ratio"] = metric(
            stored / ctx.counts["ingest.user_bytes"], "ratio")
    report["op_error_rate"] = metric(len(failures) / len(samples), "ratio")
    return report


def run(args, run_dir) -> int:
    isolate(run_dir)
    try:
        pkg = Pkg(os.path.join(run_dir, "tmp"))
    except ImportError as exc:
        print(f"perfbench: cannot import the package: {exc}", file=sys.stderr)
        return 2
    cpu0 = cpu_times()
    rss = RssSampler()
    rss.start()
    ctx = Ctx(args, run_dir, pkg)
    wl = WORKLOADS[args.workload]()
    tracer = Tracer() if args.trace else None
    phase = "timed" if tracer is None else "traced"
    if tracer is not None:
        tracer.install()
    samples, failures = [], []
    state = {"pass": 0, "writes": [], "pass_counts": {}}
    spark = None
    try:
        spark = ctx.spark = pkg.session.get_spark(app_name="perfbench")
        from pyspark import SparkContext

        rss.jvm_pid = ctx.jvm_pid = SparkContext._gateway.proc.pid
        env = environment(args, spark)
        marks = {"spark_ready": time.perf_counter()}
        for t in lakegen.TABLES:
            pkg.catalog.load_table(spark, ctx.lake, t)
        marks["schemas_resolved"] = time.perf_counter()
        wl.setup(ctx)
        marks["prebuilt"] = time.perf_counter()
        run_passes(ctx, wl, 0, "check", tracer, samples, failures, state)
        marks["warmed_up"] = time.perf_counter()
        setup_s = marks["warmed_up"] - T_START - ctx.overhead_s
        env["setup_excluded_s"] = ctx.overhead_s
        env["rss_peak_at_ready_mb"] = rss.peak

        seconds = 0 if args.smoke else args.seconds
        run_passes(ctx, wl, seconds, phase, tracer, samples, failures, state)
        marks["window_end"] = time.perf_counter()
        if tracer is not None:
            tracer.uninstall()
            layers = layer_metrics(tracer, samples, len(wl.ops),
                                   state["pass_counts"], span_costs())
            if args.workload == "dedup_curation":
                layers.update(dedup_yield(ctx))
    finally:
        if spark is not None:
            stop_spark(spark)
        rss.stop()
        ctx.duck.close()
    env["run_marks_s"] = {k: v - T_START for k, v in marks.items()}
    env["run_marks_s"]["stopped"] = time.perf_counter() - T_START

    with open("/proc/loadavg") as f:
        env["loadavg_after"] = f.read().split()[:3]
    delta = [b - a for a, b in zip(cpu0, cpu_times())]
    env["cpu_steal_share"] = delta[7] / max(1, sum(delta[:8]))
    window = window_metrics(samples, phase)
    report = report_metrics(ctx, samples, failures, state, rss, window, setup_s)
    warm = {s.op: s.wall for s in samples if s.phase == "check"}
    first = {}
    for s in samples:
        if s.phase == phase:
            first.setdefault(s.op, s.counts)
    ops = {name: {"warmup_s": warm[name], "walls_s": walls,
                  "cpu_s": window["cpu_by_op"][name],
                  "jobs": first[name].jobs, "stages": first[name].stages,
                  "tasks": first[name].tasks}
           for name, walls in window["by_op"].items()}
    full = {"workload": args.workload, "trace": args.trace, "env": env,
            "samples": {k: window[k] for k in ("op_samples", "ops_in_mix")},
            "metrics": report, "ops": ops, "failures": failures}
    if tracer is not None:
        layers["trace.mix_pass_s"] = window["mix_pass_s"]
        full["layers"] = layers
        out_dir = os.path.join(WORK, "out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
        with open(path, "w") as f:
            for sp in tracer.spans:
                f.write(json.dumps(vars(sp)) + "\n")
        full["spans_file"] = os.path.relpath(path, ROOT)
    print(json.dumps(full))
    final = {"correct": not failures, "attempted": len(samples),
             "failed": len(failures)}
    if tracer is None:
        final["metrics"] = {k: {"value": report[k]["value"], "unit": report[k]["unit"]}
                            for k in END_TO_END}
    else:
        final["metrics"] = {k: {"value": layers[k], "unit": layer_unit(k)}
                            for k in PER_LAYER}
    print(json.dumps(final))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    # a SIGTERM unwinds like an exception, so Spark and the JVM are still
    # stopped and the run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return run(args, run_dir)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
