"""Spans for the traced run.

A span is ``(id, name, start, end, parent, req)`` kept in memory and
written out when the run ends, with its self time; ``req`` is the id of
the outermost span of the operation it belongs to. Each span that may launch Spark jobs gets
its own job group (``pb-<id>``); at exit the Spark UI REST API
(``/api/v1/applications/<app>/jobs`` and ``/stages``) maps every group to
its stages, so a span carries ``executorRunTime``, input / shuffle / output
bytes and records of the jobs it started, and the wall time and task-time
quantiles of the busiest of their stages.

The wrappers only open spans around calls the program makes anyway; they
start no Spark action, so a traced run does the same work as an untraced
one (``trace.overhead_pct`` is what the spans cost).

Job groups are thread-local, so the group is set inside wrappers around
the engine's public functions, on the thread that runs them (the daemon's
drainer thread, not the HTTP client). ``install`` puts the wrappers in
place and ``uninstall`` restores the originals; the untraced runs never
install them.
"""

from __future__ import annotations

import datetime
import itertools
import json
import os
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.enabled = False
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def current(self) -> dict | None:
        st = self._stack()
        return st[-1] if st else None

    @contextmanager
    def span(self, name: str, jobs: bool = True):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        parent = st[-1] if st else None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "req": parent["req"] if parent else sid,  # shared by one operation's spans
            "group": None,
        }
        prev = self.sc.getLocalProperty(GROUP_KEY) if jobs else None
        if jobs:
            rec["group"] = f"pb-{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
        st.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            st.pop()
            if jobs:
                self.sc.setLocalProperty(GROUP_KEY, prev)
            with self._lock:
                self.spans.append(rec)

    # ------------------------------------------------------------ exit --
    def attach_stage_metrics(self) -> None:
        """Fold the REST stage metrics of each span's job group into it,
        with a summary of its busiest stage (most executor run time)."""
        if not self.spans:
            return
        time.sleep(1.0)  # let the listener bus settle the last stages
        base = _rest_base(self.sc)
        jobs = _get_json(f"{base}/jobs")
        stages = {}
        for s in _get_json(f"{base}/stages?details=true&withSummaries=true&quantiles=0.5,1.0"):
            stages.setdefault(s["stageId"], s)
        by_group = defaultdict(list)
        for j in jobs:
            if j.get("jobGroup"):
                by_group[j["jobGroup"]].append(j)
        for rec in self.spans:
            js = by_group.get(rec["group"], [])
            m = {"jobs": len(js), "executor_run_ms": 0, "input_bytes": 0,
                 "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                 "output_bytes": 0, "output_records": 0, "tasks": 0, "top_stage": None}
            for j in js:
                for sid in j.get("stageIds", []):
                    s = stages.get(sid)
                    if s is None or s.get("status") == "SKIPPED":
                        continue
                    m["executor_run_ms"] += s.get("executorRunTime", 0)
                    m["input_bytes"] += s.get("inputBytes", 0)
                    m["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
                    m["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
                    m["output_bytes"] += s.get("outputBytes", 0)
                    m["output_records"] += s.get("outputRecords", 0)
                    m["tasks"] += s.get("numCompleteTasks", 0)
                    top = m["top_stage"]
                    if top is None or s.get("executorRunTime", 0) > top["run_ms"]:
                        m["top_stage"] = stage_summary(s)
            rec["spark"] = m

    def dump(self, path: str) -> None:
        children = defaultdict(list)
        for rec in self.spans:
            children[rec["parent"]].append(rec)
        out = []
        for rec in sorted(self.spans, key=lambda r: r["start"]):
            r = dict(rec)
            r["self_s"] = self_time(rec, children[rec["id"]])
            out.append(r)
        with open(path, "w") as f:
            json.dump({"spans": out}, f)


def self_time(rec: dict, kids: list[dict]) -> float:
    """Span duration minus the part of it its child spans cover."""
    return (rec["end"] - rec["start"]) - covered([(k["start"], k["end"]) for k in kids])


def covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, hi = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= hi:
            continue
        total += b - max(a, hi)
        hi = b
    return total


def stage_summary(s: dict) -> dict:
    """Executor run time, wall time and [median, max] task run time of one
    REST stage record."""
    def when(v):
        return datetime.datetime.fromisoformat(v.replace("GMT", "+00:00")).timestamp()

    dist = s.get("taskMetricsDistributions")
    return {
        "run_ms": s.get("executorRunTime", 0),
        "wall_s": when(s["completionTime"]) - when(s["submissionTime"]),
        "task_run_ms": dist["executorRunTime"] if dist else None,
    }


def _rest_base(sc) -> str:
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    return f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


# ---------------------------------------------------------- wrappers --
class _Patched:
    """A wrapped module function that pickles as the original: Spark ships
    UDF closures that name engine functions to its Python workers, which
    must get the plain function, not the tracer."""

    def __init__(self, fn, orig):
        self.fn, self.orig = fn, orig

    def __call__(self, *a, **kw):
        return self.fn(*a, **kw)

    def __reduce__(self):
        return getattr, (sys.modules[self.orig.__module__], self.orig.__name__)


class Wrappers:
    """Span wrappers around the engine's public functions (traced run only)."""

    def __init__(self, tracer: Tracer):
        self.t = tracer
        self._saved: list[tuple[object, str, object]] = []
        self._submitted: dict[tuple, list[float]] = defaultdict(list)
        self.cache = None  # the PostingCache the last warm() built

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        fn = make(orig)
        setattr(owner, attr, fn if isinstance(owner, type) else _Patched(fn, orig))

    def install(self) -> None:
        import search_engine_spark.engine as engine
        import search_engine_spark.operators.blocks as blocks
        import search_engine_spark.plans.build as build
        import search_engine_spark.plans.cache as cache
        import search_engine_spark.plans.query as query
        import search_engine_spark.plans.serve as serve
        import search_engine_spark.plans.snippet as snippet
        import search_engine_spark.searchd as searchd
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        t = self.t

        def spanned(name, jobs=True):
            def make(orig):
                def run(*a, **kw):
                    with t.span(name, jobs=jobs):
                        return orig(*a, **kw)
                return run
            return make

        # The build is lazy until its one action (collection_stats_from_blocks)
        # and the table writes of save: the spans wrap those calls and add
        # no action of their own, so the traced build does the same work
        self._patch(build, "assign_doc_ids", spanned("docids.assign"))
        self._patch(blocks, "invert_pack_blocks", spanned("blocks.plan", jobs=False))
        self._patch(blocks, "collection_stats_from_blocks", spanned("build.stats"))
        self._patch(engine, "build_math_index", spanned("math_index.plan", jobs=False))
        self._patch(engine, "build_math_lr_index", spanned("math_index.plan", jobs=False))

        def make_write(orig):
            def run(writer, path, *a, **kw):
                with t.span("build.write." + os.path.basename(path.rstrip("/"))):
                    return orig(writer, path, *a, **kw)
            return run

        self._patch(DataFrameWriter, "parquet", make_write)
        self._patch(engine, "mixed_search", spanned("math_search.mixed"))
        self._patch(query, "search_many", spanned("query.search_many"))
        self._patch(snippet, "render_snippet", spanned("snippet.render", jobs=False))

        def make_cache(orig):
            def run(*a, **kw):
                with t.span("cache.build"):
                    c = orig(*a, **kw)
                self.cache = c
                return c
            return run

        self._patch(cache, "build_posting_cache", make_cache)

        def make_resolve(orig):
            def run(spark, index, queries):
                known = getattr(index, "_df_cache", None) or {}
                terms = {w for q, _ in queries.values() for w in q.lower().split()}
                with t.span("serve.resolve") as rec:
                    if rec is not None:
                        rec["df_misses"] = sum(1 for w in terms if w not in known)
                    return orig(spark, index, queries)
            return run

        self._patch(serve, "resolve_keywords", make_resolve)

        def make_submit(orig):
            def run(batcher, qtext, page, mode="or"):
                self._submitted[(qtext, page, mode)].append(time.perf_counter())
                return orig(batcher, qtext, page, mode)
            return run

        self._patch(searchd.MicroBatcher, "submit", make_submit)

        def make_many(orig):
            def run(eng, requests):
                now = time.perf_counter()
                waits = []
                for r in requests:
                    sent = self._submitted.get(tuple(r))
                    if sent:
                        waits.append((now - sent.pop(0)) * 1e3)
                with t.span("engine.many") as rec:
                    if rec is not None:
                        rec["n_requests"] = len(requests)
                        rec["queue_wait_ms"] = waits
                        rec["collects"] = 0
                    return orig(eng, requests)
            return run

        self._patch(engine.SearchEngine, "query_json_many", make_many)
        self._patch(engine.SearchEngine, "query_json", spanned("engine.query_json"))

        # the engine collects its ranked rows and then its docstore probe
        # directly under query_json_many; name those two collects
        def make_collect(orig):
            def run(df):
                cur = t.current() if t.enabled else None
                if cur is None or "collects" not in cur:
                    return orig(df)
                cur["collects"] += 1
                name = "serve.kernel" if cur["collects"] == 1 else "engine.docstore"
                with t.span(name):
                    return orig(df)
            return run

        self._patch(DataFrame, "collect", make_collect)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)
