"""Spans around the engine's public functions, recorded from outside.

``install()`` replaces the public functions of the session, registry,
data, operators.scale and streaming.pipeline modules with wrappers
that open a span per call. It must run before the query modules are
imported, because they bind ``load_table`` / ``materialize`` /
``session_cached`` / ``spread`` by name at import time.

Each span owns a Spark job group, so the jobs a call ran are the jobs
of its group (read from ``statusTracker`` when the span closes, before
the tracker's retention can drop them). Spans stay in memory; the
harness summarises them once at the end. The tracer counts its own
bookkeeping time so the run can report the tracing overhead.
"""

from __future__ import annotations

import functools
import re
import time
from collections import defaultdict
from contextlib import contextmanager

_GROUP_KEY = "spark.jobGroup.id"


def _sc():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    def begin(self, name: str, **attrs) -> int:
        t0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = {"name": name, "parent": parent, "jobs": 0, "tasks": 0, **attrs}
        sc = _sc()
        if sc is not None:
            sc.setLocalProperty(_GROUP_KEY, f"perfbench-{idx}")
        self.spans.append(span)
        self._stack.append(idx)
        span["start"] = time.perf_counter()
        self.overhead_s += span["start"] - t0
        return idx

    def end(self, idx: int, count_tasks: bool = False) -> dict:
        t0 = time.perf_counter()
        span = self.spans[idx]
        span["end"] = t0
        self._stack.pop()
        sc = _sc()
        if sc is not None:
            tracker = sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(f"perfbench-{idx}")
            span["jobs"] = len(jobs)
            if count_tasks:
                for j in jobs:
                    info = tracker.getJobInfo(j)
                    for s in info.stageIds if info else ():
                        st = tracker.getStageInfo(s)
                        span["tasks"] += st.numCompletedTasks if st else 0
            parent = self._stack[-1] if self._stack else None
            sc.setLocalProperty(
                _GROUP_KEY, None if parent is None else f"perfbench-{parent}"
            )
        self.overhead_s += time.perf_counter() - t0
        return span

    @contextmanager
    def span(self, name: str, **attrs):
        idx = self.begin(name, **attrs)
        try:
            yield idx
        finally:
            self.end(idx, count_tasks=name == "exec.action")

    def timed(self, fn):
        """Account ``fn``'s wall time as tracer overhead."""
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.overhead_s += time.perf_counter() - t0

    # -- summaries -------------------------------------------------------

    def duration(self, span: dict) -> float:
        return span["end"] - span["start"]

    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                kids[s["parent"]].append(i)
        return kids

    def subtree_jobs(self, idx: int, kids: dict[int, list[int]]) -> int:
        return self.spans[idx]["jobs"] + sum(
            self.subtree_jobs(k, kids) for k in kids.get(idx, ())
        )

    def self_time(self, idx: int, kids: dict[int, list[int]]) -> float:
        return self.duration(self.spans[idx]) - sum(
            self.duration(self.spans[k]) for k in kids.get(idx, ())
        )


def _wrap(tracer: Tracer, module, attr: str, name: str, hit=None) -> None:
    orig = getattr(module, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        attrs = {"hit": hit(*args, **kwargs)} if hit else {}
        with tracer.span(name, **attrs):
            return orig(*args, **kwargs)

    setattr(module, attr, wrapper)


def install(tracer: Tracer) -> None:
    """Wrap the engine's public functions. Call before ``catalog()``
    and before importing ``streaming.pipeline``."""
    import sys

    from big_data_final_project_spark import data, registry, session
    from big_data_final_project_spark.operators import scale

    if "big_data_final_project_spark.streaming.pipeline" in sys.modules:
        raise RuntimeError("install() must run before streaming.pipeline is imported")

    def cache_hit(spark, key, build):
        return (spark.sparkContext.applicationId, *key) in scale._SESSION_CACHE

    _wrap(tracer, session, "get_spark", "session.get_spark")
    _wrap(tracer, registry, "catalog", "registry.catalog")
    _wrap(tracer, data, "load_table", "data.load_table")
    _wrap(tracer, scale, "materialize", "scale.materialize")
    _wrap(tracer, scale, "session_cached", "scale.session_cached", hit=cache_hit)
    _wrap(tracer, scale, "spread", "scale.spread")

    from big_data_final_project_spark.streaming import pipeline

    for fn in (
        "read_event_stream",
        "split_valid",
        "persist_stream",
        "maintain_latest_view",
        "read_store",
    ):
        _wrap(tracer, pipeline, fn, f"streaming.{fn}")


# -- SQL operator metrics from the status store --------------------------

# Metric name -> exec.* key, summed over every plan node of the action's
# SQL executions.
SQL_METRICS = {
    "scan time": "exec.scan_s",
    "shuffle bytes written": "exec.shuffle_write_bytes",
    "shuffle records written": "exec.shuffle_records",
    "time in aggregation build": "exec.agg_build_s",
    "time to collect": "exec.broadcast_s",
    "time to build": "exec.broadcast_s",
    "time to broadcast": "exec.broadcast_s",
    "spill size": "exec.spill_bytes",
    "time to run Python workers": "exec.python_eval_s",
    "time to initialize Python workers": "exec.python_init_s",
}
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([-\d.,]+)\s*([A-Za-z]*)")
_LABEL = re.compile(r'label="<b>(.*?)</b>(.*?)"')
_TOTAL = " total (min, med, max (stageId: taskId))"


def parse_metric(text: str) -> float:
    """'1,234', '12.3 MiB' or '1.2 s (...)' -> number; bytes, seconds."""
    m = _VALUE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def node_metrics(dot: str):
    """(node name, metric name, value) from a plan graph's DOT text, the
    one-call rendering of the status store's plan graph and metrics."""
    for node, body in _LABEL.findall(dot):
        parts = body.split("<br>")
        i = 0
        while i < len(parts):
            part = parts[i]
            if part.endswith(_TOTAL) and i + 1 < len(parts):
                yield node.strip(), part[: -len(_TOTAL)], parse_metric(parts[i + 1])
                i += 2
                continue
            if ": " in part:
                name, value = part.split(": ", 1)
                yield node.strip(), name, parse_metric(value)
            i += 1


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    if n == 0:
        return -1
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    return max(e.executionId() for e in conv.asJava(store.executionsList(n - 1, 1)))


def action_metrics(spark, after_id: int) -> dict[str, float]:
    """Operator metrics of the SQL executions newer than ``after_id``."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    n = store.executionsCount()
    out: dict[str, float] = defaultdict(float)
    for ex in conv.asJava(store.executionsList(max(0, n - 32), 32)):
        eid = ex.executionId()
        if eid <= after_id:
            continue
        dot = store.planGraph(eid).makeDotFile(store.executionMetrics(eid))
        peak = 0.0
        for node, name, value in node_metrics(dot):
            if name == "number of output rows" and node.startswith("Scan"):
                out["exec.scan_rows"] += value
            elif name == "peak memory":
                peak += value
            elif name in SQL_METRICS:
                out[SQL_METRICS[name]] += value
        out["exec.peak_exec_mem_bytes"] = max(out["exec.peak_exec_mem_bytes"], peak)
    return out
