"""Spans around the engine's public functions, for the traced run.

``Tracer.install`` wraps, from outside the program, the functions a search
request passes through:

- ``SearchEngine.search`` and ``SearchEngine.restaurants`` (layer ``api``),
- ``api.query_vector`` (``embed``), ``api.knn`` (``knn``),
- ``bm25.fulltext`` and ``bm25.bm25_scores`` (``bm25``),
- ``fusion.score_fusion`` (``fusion``),
- ``DataFrame.collect`` inside a request, preceded by
  ``observability.plan_string`` on the same DataFrame, so that planning
  (``api.plan``) and execution plus fetch (``api.collect``) are timed apart.

A wrapper records a span (name, start, end, parent, request id) only while
its thread is inside ``Tracer.request``; otherwise it calls straight through.
Spans stay in memory and are written out when the run ends.

Call spans time plan construction only, because DataFrames are lazy. The
execution time of a layer comes from a replay after the timed window: the
captured call is invoked again and its output forced with
``write.format("noop")``; a kNN call's k rows are collected instead. A composite (fusion) is replayed over its inputs
cached and already forced, so its forced time is its own.

Spark work per request is read from ``statusTracker()`` under a job group
named after the request.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import defaultdict
from typing import Any

REPLAYS_PER_LAYER = 2  # captured calls replayed per layer; each replay re-runs a job
_CALL_METRICS = {"embed.query": "embed.query_ms", "knn": "knn.call_ms", "fusion": "fusion.call_ms"}


def force(df) -> float:
    """Milliseconds to plan and execute ``df`` to completion, discarding rows."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return (time.perf_counter() - t0) * 1000.0


def scan_rows(df) -> int:
    """Rows output by the leaf scans of ``df``'s executed plan, summed: the
    corpus rows a query read. Call it after an action on ``df``, which fills
    the plan's metrics."""
    todo, total = [df._jdf.queryExecution().executedPlan()], 0
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif node.children().isEmpty():
            rows = node.metrics().get("numOutputRows")
            total += rows.get().value() if rows.isDefined() else 0
        else:
            children = node.children()
            todo += [children.apply(i) for i in range(children.size())]
    return total


class _Request:
    def __init__(self, req_id: str, mode: str, filtered: bool):
        self.req_id, self.mode, self.filtered = req_id, mode, filtered
        self.spans: list[dict] = []
        self.stack: list[int] = []


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._local = threading.local()
        self._lock = threading.Lock()
        self._plan_lock = threading.Lock()  # plan_string swaps sys.stdout
        self._restore: list[tuple[Any, str, Any]] = []
        self.spans: list[dict] = []
        self.captures: dict[str, list] = defaultdict(list)
        self.requests: list[dict] = []

    # ----------------------------------------------------------- install

    def install(self, dataframe_cls) -> None:
        from hybrid_vector_search_spark import api
        from hybrid_vector_search_spark.observability import plan_string
        from hybrid_vector_search_spark.operators import bm25, fusion

        self._wrap(api.SearchEngine, "search", "api")
        self._wrap(api.SearchEngine, "restaurants", "api.restaurants")
        self._wrap(api, "query_vector", "embed.query")
        self._wrap(api, "knn", "knn", capture=True)
        self._wrap(bm25, "fulltext", "bm25")
        self._wrap(bm25, "bm25_scores", "bm25.scores", capture=True)
        self._wrap(fusion, "score_fusion", "fusion", capture=True)

        collect = dataframe_cls.collect

        @functools.wraps(collect)
        def traced_collect(df):
            req = getattr(self._local, "req", None)
            if req is None or not req.stack:
                return collect(df)
            with self._plan_lock:
                with self._span(req, "api.plan"):
                    plan_string(df)
            with self._span(req, "api.collect"):
                return collect(df)

        self._restore.append((dataframe_cls, "collect", collect))
        dataframe_cls.collect = traced_collect

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def _wrap(self, owner, attr: str, name: str, *, capture: bool = False) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            req = getattr(self._local, "req", None)
            if req is None:
                return orig(*args, **kwargs)
            with self._span(req, name):
                out = orig(*args, **kwargs)
            if req.filtered:
                return out
            if capture:
                with self._lock:
                    if len(self.captures[name]) < REPLAYS_PER_LAYER:
                        self.captures[name].append((orig, args, kwargs))
            return out

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    # ------------------------------------------------------------- spans

    @contextlib.contextmanager
    def _span(self, req: _Request, name: str):
        parent = req.stack[-1] if req.stack else None
        span = {"req": req.req_id, "name": name, "start": time.perf_counter(),
                "end": None, "parent": parent}
        req.spans.append(span)
        req.stack.append(len(req.spans) - 1)
        try:
            yield
        finally:
            span["end"] = time.perf_counter()
            req.stack.pop()

    @contextlib.contextmanager
    def request(self, req_id: str, mode: str, *, traced: bool, filtered: bool):
        """Run one op of the timed window. A traced op records spans and
        tags its Spark jobs with a job group named ``req_id``; an untraced
        op still sets a job group, so that its jobs are not counted against
        the previous traced op."""
        self.sc.setJobGroup(req_id if traced else "untraced", mode)
        if not traced:
            yield
            return
        req = _Request(req_id, mode, filtered)
        self._local.req = req
        try:
            yield
        finally:
            self._local.req = None
            with self._lock:
                self.spans += req.spans
                self.requests.append(req)

    # ---------------------------------------------------------- readings

    def job_counts(self) -> dict[str, dict[str, list[int]]]:
        """Per mode: jobs, executed stages and completed tasks of every
        traced unfiltered request."""
        tracker = self.sc.statusTracker()
        out: dict[str, dict[str, list[int]]] = defaultdict(lambda: defaultdict(list))
        for r in self.requests:
            if r.filtered:
                continue
            jobs = stages = tasks = 0
            for jid in tracker.getJobIdsForGroup(r.req_id):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    st = tracker.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks > 0:
                        stages += 1
                        tasks += st.numCompletedTasks
            for key, val in (("jobs", jobs), ("stages", stages), ("tasks", tasks)):
                out[r.mode][key].append(val)
        return out

    def span_metrics(self) -> dict[str, list[float]]:
        """Per-layer call times (ms) of traced unfiltered requests; the api
        ones per mode, since each mode plans and runs a different query."""
        modes = {r.req_id: r.mode for r in self.requests if not r.filtered}
        by_req: dict[str, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["req"] in modes:
                by_req[s["req"]].append(s)
        out: dict[str, list[float]] = defaultdict(list)
        for req_id, spans in by_req.items():
            mode = modes[req_id]
            dur = [(s["end"] - s["start"]) * 1000.0 for s in spans]
            child_ms: dict[int, float] = defaultdict(float)
            for i, s in enumerate(spans):
                if s["parent"] is not None:
                    child_ms[s["parent"]] += dur[i]
            for i, s in enumerate(spans):
                name = s["name"]
                parent = spans[s["parent"]]["name"] if s["parent"] is not None else None
                if name == "api":
                    out[f"api.self_ms.{mode}"].append(dur[i] - child_ms[i])
                elif name == "api.restaurants":
                    out["api.restaurants_ms"].append(dur[i])
                elif parent == "api" and name in ("api.plan", "api.collect"):
                    out[f"{name}_ms.{mode}"].append(dur[i])
                elif parent == "api" and name in ("bm25", "bm25.scores"):
                    out["bm25.call_ms"].append(dur[i])
                elif name in _CALL_METRICS:
                    out[_CALL_METRICS[name]].append(dur[i])
        return out

    def replay(self) -> dict[str, list[float]]:
        """Execution times (ms) and row counts from replays of captured calls."""
        self.sc.setJobGroup("replay", "")
        out: dict[str, list[float]] = defaultdict(list)
        for orig, args, kwargs in self.captures["knn"]:
            # collected rather than written to noop: the output is k rows,
            # and the collected plan's metrics give the rows it read
            top = orig(*args, **kwargs)
            t0 = time.perf_counter()
            top.collect()
            out["knn.exec_ms"].append((time.perf_counter() - t0) * 1000.0)
            out["knn.rows_scored"].append(scan_rows(top))
        for orig, args, kwargs in self.captures["bm25.scores"]:
            scores = orig(*args, **kwargs)
            out["bm25.exec_ms"].append(force(scores))
            out["bm25.matched_rows"].append(scores.count())
        for orig, args, kwargs in self.captures["fusion"]:
            inputs = {name: b.cache() for name, b in args[0].items()}
            for b in inputs.values():
                force(b)
            out["fusion.exec_ms"].append(force(orig(inputs, *args[1:], **kwargs)))
            for b in inputs.values():
                b.unpersist()
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
