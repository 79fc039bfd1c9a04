"""Spark-side tracing: spans around calls into ``remine_spark`` layers,
each under its own Spark job group, and the per-span task counts and SQL
metrics read back from ``statusTracker()`` and the session's SQL status
store (both readable with ``spark.ui.enabled=false``).

Spans are made by replacing module attributes for the duration of a
traced run (``Tracer.wrap``); nothing inside ``remine_spark`` is changed.
"""

from __future__ import annotations

import contextlib
import functools
import re
import threading
import time
from collections import Counter, defaultdict
from collections.abc import Callable, Iterator

from pyspark.sql import SparkSession

from benchlib import Span, parse_metric

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description")

# SQL metric display name → short key in the per-span stats
SQL_METRICS = {
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_init_s",
    "time to initialize Python workers": "py_init_s",
    "data sent to Python workers": "arrow_in_b",
    "data returned from Python workers": "arrow_out_b",
    "shuffle bytes written": "shuffle_b",
    "spill size": "spill_b",
}

_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*?),(\d+),(\w+)\)")
_MAP_KEY = re.compile(r"(?:^|, )(\d+) -> ")


class Tracer:
    """Records a Span per wrapped call; the span's jobs run under the job
    group ``Span.group`` so their tasks and SQL metrics can be attributed
    to it afterwards. Works from any thread (the foreachBatch callback of
    a stream runs on its own)."""

    def __init__(self, spark: SparkSession):
        self._sc = spark.sparkContext
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self.spans: list[Span] = []
        self.counts: Counter = Counter()

    @contextlib.contextmanager
    def span(self, name: str, key: str | None = None) -> Iterator[None]:
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid, self._next = self._next, self._next + 1
        group = f"perfbench-span-{sid}"
        prev = {k: self._sc.getLocalProperty(k) for k in _GROUP_PROPS}
        self._sc.setLocalProperty("spark.jobGroup.id", group)
        self._sc.setLocalProperty("spark.job.description",
                                  name if key is None else f"{name}[{key}]")
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            for k, v in prev.items():
                self._sc.setLocalProperty(k, v)
            with self._lock:
                self.spans.append(Span(sid, parent, name, key, t0, t1, group))

    @contextlib.contextmanager
    def wrap(self, module, attr: str,
             key: Callable[[tuple, dict], str] | None = None,
             on_result: Callable[[object], None] | None = None
             ) -> Iterator[None]:
        """Replace ``module.attr`` by a spanned wrapper until exit.
        ``key(args, kwargs)`` names the span's key; ``on_result`` sees
        each return value."""
        orig = getattr(module, attr)
        name = f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, None if key is None else key(args, kwargs)):
                result = orig(*args, **kwargs)
            if on_result is not None:
                on_result(result)
            return result

        setattr(module, attr, wrapper)
        try:
            yield
        finally:
            setattr(module, attr, orig)

    @contextlib.contextmanager
    def count(self, module, attr: str) -> Iterator[None]:
        """Count calls of ``module.attr`` (no span) until exit."""
        orig = getattr(module, attr)
        name = f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self._lock:
                self.counts[name] += 1
            return orig(*args, **kwargs)

        setattr(module, attr, wrapper)
        try:
            yield
        finally:
            setattr(module, attr, orig)


def _scala_ints(text: str) -> list[int]:
    return [int(x) for x in re.findall(r"\d+", text)]


def _scala_map(text: str) -> dict[int, str]:
    """``Map(12 -> 300, 13 -> total (...)\\n9.3 s (...))`` → {12: "300", …}.
    Values may hold commas and parentheses but never ``<digits> -> ``."""
    body = text[text.index("(") + 1:text.rindex(")")]
    keys = list(_MAP_KEY.finditer(body))
    out = {}
    for i, m in enumerate(keys):
        end = keys[i + 1].start() if i + 1 < len(keys) else len(body)
        out[int(m.group(1))] = body[m.end():end]
    return out


def span_stats(spark: SparkSession, spans: list[Span]) -> dict[int, dict]:
    """Span id → {"tasks", "failed_tasks", "jobs", and the SQL_METRICS keys
    (seconds / bytes)}, summed over the jobs of the span's own group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    stats: dict[int, dict] = {s.id: defaultdict(float) for s in spans}
    job_span: dict[int, int] = {}
    for s in spans:
        jobs = tracker.getJobIdsForGroup(s.group)
        stages = set()
        for j in jobs:
            job_span[j] = s.id
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        st = stats[s.id]
        st["jobs"] = float(len(jobs))
        for sid in stages:
            info = tracker.getStageInfo(sid)
            if info is not None:
                st["tasks"] += info.numCompletedTasks + info.numFailedTasks
                st["failed_tasks"] += info.numFailedTasks

    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    for i in range(execs.size()):
        ex = execs.apply(i)
        owners = {job_span[j] for j in _scala_ints(ex.jobs().keySet().toString())
                  if j in job_span}
        if not owners:
            continue
        st = stats[min(owners)]
        wanted = {int(acc): SQL_METRICS[name]
                  for name, acc, _kind in _PLAN_METRIC.findall(
                      ex.metrics().toString())
                  if name in SQL_METRICS}
        if not wanted:
            continue
        values = _scala_map(store.executionMetrics(ex.executionId()).toString())
        for acc, short in wanted.items():
            if acc in values:
                st[short] += parse_metric(values[acc])
    return {k: dict(v) for k, v in stats.items()}
