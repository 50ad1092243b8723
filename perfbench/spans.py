"""Spans around the package's public functions, and Spark job counts.

Tracing is done from outside the package: :meth:`Tracer.install` swaps
each traced function for a wrapper in every loaded module of the package
that holds a reference to it (``from .x import f`` copies included), and
:meth:`Tracer.uninstall` puts the originals back. A span times what its
function does before returning, so only functions that run eager work
(schema inference, checkpoints, collects, writes, file reads) are traced;
the builders of lazy DataFrames (``minhash_signatures_from_arrays``,
``lsh_candidate_pairs_salted``, ``ivf_assignments``) are not: their cost
shows in the job time of the op that consumes them.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from dataclasses import dataclass

PACKAGE = "duckdb_parquet_parser_spark"

# span name -> (module, attribute). The name is the per-layer metric prefix.
TRACED = {
    "session.get_spark": ("session", "get_spark"),
    "session.checkpoint_df": ("session", "checkpoint_df"),
    "catalog.load_table": ("catalog", "load_table"),
    "inspect.file_metadata": ("inspect", "file_metadata"),
    "inspect.walk_pages": ("inspect", "walk_pages"),
    "inspect.page_stats": ("inspect", "page_stats"),
    "positional.scalable_chunk_ids": ("operators.positional", "scalable_chunk_ids"),
    "dedup.connected_components": ("operators.dedup", "connected_components_converged"),
    "dedup.append_signatures": ("operators.dedup", "append_signatures"),
    "writer.write_reference_style": ("sources.writer", "write_reference_style"),
    "pywriter.write_reference_bytes": ("sources.pywriter", "write_reference_bytes"),
    "layout.clustered_documents": ("sources.layout", "clustered_documents"),
    "layout.regex_manifest": ("sources.layout", "regex_manifest"),
    "layout.prune_files_by_stats": ("sources.layout", "prune_files_by_stats"),
}

# Spans whose calls schedule Spark jobs that belong to the span itself
# get their own job group, so the jobs can be attributed (e.g. schema
# inference inside load_table).
OWN_JOB_GROUP = {"catalog.load_table"}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None
    counts: dict


class Tracer:
    """In-memory span recorder. One instance per run; not thread-safe (the
    benchmark is a single closed-loop client)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    def span(self, name: str, fn, *args, **kwargs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self.op_id, {})
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            result = fn(*args, **kwargs)
            _count(sp, result)
            return result
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def _wrap(self, name: str, fn):
        call = fn
        if name in OWN_JOB_GROUP:
            call = functools.partial(in_job_group_suffix, f"|{name}", fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return self.span(name, call, *args, **kwargs)

        return wrapper

    def install(self) -> None:
        for name, (mod_name, attr) in TRACED.items():
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            original = getattr(mod, attr)
            wrapper = self._wrap(name, original)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PACKAGE) and (
                    getattr(m, attr, None) is original
                ):
                    self._restore.append((m, attr, original))
                    setattr(m, attr, wrapper)

    def uninstall(self) -> None:
        for m, attr, original in reversed(self._restore):
            setattr(m, attr, original)
        self._restore.clear()

    def self_times(self) -> list[float]:
        """Each span's duration minus the time its child spans cover."""
        own = [s.end - s.start for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.end - s.start
        return own


def _count(sp: Span, result) -> None:
    """Work counts read off a traced call's return value."""
    if result is None:
        return
    if sp.name == "inspect.walk_pages":
        sp.counts["pages_walked"] = len(result)
    elif sp.name == "layout.prune_files_by_stats":
        keep, total = result
        sp.counts["files_kept"] = len(keep)
        sp.counts["files_total"] = total


def span_costs(calls: int = 200) -> dict[str, float]:
    """Seconds one span adds to a call, per traced name: a throwaway
    tracer's wrapper around a no-op, timed against the bare no-op. Spans
    in ``OWN_JOB_GROUP`` also set and restore the Spark job group, so they
    are measured with the session live."""

    def noop():
        return None

    def per_call(fn) -> float:
        t0 = time.perf_counter()
        for _ in range(calls):
            fn()
        return (time.perf_counter() - t0) / calls

    bare = per_call(noop)
    return {name: max(0.0, per_call(Tracer()._wrap(name, noop)) - bare)
            for name in TRACED}


def in_job_group_suffix(suffix: str, fn, *args, **kwargs):
    """Run ``fn`` with the current job group extended by ``suffix``; the
    previous group is restored afterwards."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return fn(*args, **kwargs)
    prev = sc.getLocalProperty("spark.jobGroup.id")
    desc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(f"{prev or ''}{suffix}", suffix, False)
    try:
        return fn(*args, **kwargs)
    finally:
        sc.setJobGroup(prev, desc, False)


@dataclass
class JobCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    schema_jobs: int = 0


def job_counts(sc, group: str) -> JobCounts:
    """Jobs, stages that ran, completed and failed tasks of one op's job
    group, including the jobs traced spans moved into sub-groups."""
    st = sc.statusTracker()
    out = JobCounts()
    seen_stages: set[int] = set()
    for g in (group,) + tuple(group + "|" + n for n in OWN_JOB_GROUP):
        ids = list(st.getJobIdsForGroup(g))
        out.jobs += len(ids)
        if g != group:
            out.schema_jobs += len(ids)
        for jid in ids:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                s = st.getStageInfo(sid)
                if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                    continue
                out.stages += 1
                out.tasks += s.numCompletedTasks
                out.failed_tasks += s.numFailedTasks
    return out
