"""Span tracer for the traced run (``--trace 1``).

Spans are recorded from the benchmark's side: :func:`install` wraps the
public functions of each engine module the workloads call into, and the
workloads open one ``op.*`` root span per operation they time. Each
span carries a name (``<layer>.<call>``), start, end, parent, request id
and the Spark jobs, tasks and failed tasks launched while it was the
innermost span — every span runs under its own Spark job group, and the
counts come from ``SparkContext.statusTracker()`` when the span closes.

A layer's self time is its spans' durations minus the time covered by
their child spans; the ``op`` layer's self time is what no engine call
accounts for. Spans stay in memory and are written out when the run
ends.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from contextlib import contextmanager

from pyspark import SparkContext

LAYERS = (
    "op", "session", "build", "docids", "catalog", "incremental", "bitmaps",
    "parser", "engine", "execute",
)


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._request = 0
        self._counted_stages: set[tuple[int, int]] = set()
        self.bookkeeping_s = 0.0

    # -- recording ------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t_book = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._request += 1
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": self._request,
            "jobs": 0,
            "tasks": 0,
            "failed_tasks": 0,
        }
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(f"perfbench-{s['id']}", name)
        s["start"] = time.perf_counter()
        self.bookkeeping_s += s["start"] - t_book
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._count_jobs(s)
            self._stack.pop()
            top = self._stack[-1] if self._stack else None
            self._set_group(f"perfbench-{top['id']}" if top else None, top["name"] if top else "")
            self.bookkeeping_s += time.perf_counter() - s["end"]

    @staticmethod
    def _set_group(group: str | None, desc: str) -> None:
        sc = SparkContext._active_spark_context
        if sc is None:
            return
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, desc)

    def _count_jobs(self, s: dict) -> None:
        sc = SparkContext._active_spark_context
        if sc is None:
            return
        st = sc.statusTracker()
        ctx = id(sc)
        for job_id in st.getJobIdsForGroup(f"perfbench-{s['id']}"):
            s["jobs"] += 1
            info = st.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                # a reused shuffle stage shows up in later jobs too:
                # count its tasks once, for the job that ran it
                if (ctx, stage_id) in self._counted_stages:
                    continue
                self._counted_stages.add((ctx, stage_id))
                si = st.getStageInfo(stage_id)
                if si is not None:
                    s["tasks"] += si.numCompletedTasks
                    s["failed_tasks"] += si.numFailedTasks

    def wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    # -- summaries ------------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            out[layer_of(s["name"])] += s["end"] - s["start"]
            if s["parent"] is not None:
                parent = self.spans[s["parent"]]
                out[layer_of(parent["name"])] -= s["end"] - s["start"]
        return out


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


def install(tracer: Tracer) -> None:
    """Wrap the public entry points of every engine module the
    workloads exercise. Modules that import a function by name get the
    wrapper in their own namespace too."""
    from noise_spark import session
    from noise_spark.index import bitmaps, build, catalog, incremental
    from noise_spark.query import engine, parser

    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(session, "_warm_session", "session.warm")
    tracer.wrap(build, "assign_doc_ids", "docids.assign_doc_ids")
    tracer.wrap(build, "build_index", "build.build_index")
    incremental.build_index = build.build_index
    tracer.wrap(catalog.IndexCatalog, "commit_stage", "catalog.commit_stage")
    tracer.wrap(catalog.IndexCatalog, "commit_stages", "catalog.commit_stages")
    tracer.wrap(incremental, "append_docs", "incremental.append_docs")
    tracer.wrap(incremental, "delete_docs", "incremental.delete_docs")
    tracer.wrap(bitmaps, "build_tombstone_bitmaps", "bitmaps.build_tombstone_bitmaps")
    tracer.wrap(parser, "run_query", "parser.run_query")
    tracer.wrap(parser, "parse_query", "parser.parse_query")
    for attr in ("__init__", "query", "search", "search_wand", "search_many", "term_dfs"):
        tracer.wrap(engine.IndexReader, attr, f"engine.{attr.strip('_')}")


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0
