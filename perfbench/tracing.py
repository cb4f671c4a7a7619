"""Per-layer tracing, taken from outside the program.

Three sources, none of which edits ``grouper_spark``:

- ``Spans`` wraps the public functions of the ``grouper_spark`` modules
  (sessions, sources, operators, functions, streaming) in timing spans.
  ``install`` must run before ``load_all()`` imports the query modules,
  because they bind operator names at import time.
- ``spark_jobs`` reads Spark's status store (jobs and stages) through
  py4j and attributes each job to the query window it was submitted in.
- ``StreamProgress`` is a ``StreamingQueryListener`` that sums the
  micro-batch duration breakdown Spark reports per trigger.

Spans are kept in memory and only recorded while ``Spans.enabled`` is
set, so the untraced passes of a traced run pay one flag test per call.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import threading
import time
from collections import defaultdict

# Modules whose public functions are wrapped, in import order.
TRACED_MODULES = (
    "grouper_spark.session",
    "grouper_spark.sources.catalog",
    "grouper_spark.sources.sinks",
    "grouper_spark.functions.text",
    "grouper_spark.functions.vector",
    "grouper_spark.functions.exact",
    "grouper_spark.operators.core",
    "grouper_spark.operators.dedup",
    "grouper_spark.operators.similarity",
    "grouper_spark.operators.linalg",
    "grouper_spark.streaming.stream",
)


class Spans:
    """Per-function call counts, total and self time (seconds)."""

    def __init__(self) -> None:
        self.enabled = False
        self._lock = threading.Lock()
        self._local = threading.local()
        self.calls: dict[str, int] = defaultdict(int)
        self.total_s: dict[str, float] = defaultdict(float)
        self.self_s: dict[str, float] = defaultdict(float)
        # collect_vector_panel returns None when it declines the panel
        self.panel_returned = 0

    def reset(self) -> None:
        with self._lock:
            self.calls.clear()
            self.total_s.clear()
            self.self_s.clear()
            self.panel_returned = 0

    def _wrap(self, name: str, fn):
        spans = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not spans.enabled:
                return fn(*args, **kwargs)
            stack = spans._local.__dict__.setdefault("stack", [])
            stack.append(0.0)  # time covered by child spans
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                child = stack.pop()
                if stack:
                    stack[-1] += dt
                with spans._lock:
                    spans.calls[name] += 1
                    spans.total_s[name] += dt
                    spans.self_s[name] += dt - child
            if name.endswith(".collect_vector_panel") and out is not None:
                with spans._lock:
                    spans.panel_returned += 1
            return out

        return traced

    def install(self) -> int:
        """Wrap every public plain function defined in TRACED_MODULES and
        rebind it wherever a loaded ``grouper_spark`` module re-exports
        it. Returns the number of functions wrapped."""
        import sys

        originals: dict[int, object] = {}
        for modname in TRACED_MODULES:
            mod = importlib.import_module(modname)
            for attr, fn in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != modname
                    or hasattr(fn, "evalType")  # a pandas/arrow UDF object
                ):
                    continue
                short = modname.removeprefix("grouper_spark.")
                originals[id(fn)] = self._wrap(f"{short}.{attr}", fn)
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("grouper_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                wrapped = originals.get(id(val))
                if wrapped is not None:
                    setattr(mod, attr, wrapped)
        return len(originals)

    def by_function(self) -> dict[str, dict[str, float]]:
        with self._lock:
            return {
                name: {
                    "calls": self.calls[name],
                    "total_s": self.total_s[name],
                    "self_s": self.self_s[name],
                }
                for name in sorted(self.calls)
            }


def _json_mapper(jvm):
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    return mapper


def spark_jobs(spark) -> tuple[list[dict], dict[int, dict]]:
    """Every retained job and stage from Spark's status store, as plain
    dicts, after the listener bus has delivered all pending events."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    mapper = _json_mapper(sc._jvm)
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(
        mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
    )
    by_id: dict[int, dict] = {}
    for st in stages:
        # keep the latest attempt of each stage
        if st["stageId"] not in by_id or st["attemptId"] > by_id[st["stageId"]]["attemptId"]:
            by_id[st["stageId"]] = st
    return jobs, by_id


STAGE_FIELDS = {
    "spark.executor_run_ms": "executorRunTime",
    "spark.gc_ms": "jvmGcTime",
    "spark.shuffle_read_bytes": "shuffleReadBytes",
    "spark.shuffle_write_bytes": "shuffleWriteBytes",
    "spark.input_bytes": "inputBytes",
    "spark.input_records": "inputRecords",
    "spark.output_bytes": "outputBytes",
}


def attribute_jobs(windows: list[tuple[str, str, float, float]], jobs, stages) -> dict:
    """Sum job and stage metrics per window.

    ``windows`` holds ``(query, phase, start_s, end_s)`` in epoch
    seconds; a job belongs to the window its submission time falls in.
    Returns ``{(query, phase): {metric: value}}``."""
    out: dict[tuple[str, str], dict[str, float]] = {}
    for q, phase, t0, t1 in windows:
        acc = defaultdict(float)
        for job in jobs:
            sub = job.get("submissionTime")
            if sub is None or not (t0 * 1000 <= sub <= t1 * 1000 + 1):
                continue
            acc["spark.jobs"] += 1
            for sid in job["stageIds"]:
                st = stages.get(sid)
                if st is None or st["status"] == "SKIPPED":
                    continue
                acc["spark.stages"] += 1
                acc["spark.tasks"] += st["numCompleteTasks"]
                acc["spark.executor_cpu_ms"] += st["executorCpuTime"] / 1e6
                acc["spark.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                for metric, field in STAGE_FIELDS.items():
                    acc[metric] += st[field]
        out[(q, phase)] = dict(acc)
    return out


def make_stream_listener():
    """A ``StreamingQueryListener`` summing trigger durations (ms)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.batches = 0
            self.duration_ms: dict[str, float] = defaultdict(float)

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            with self.lock:
                self.batches += 1
                for key, ms in (event.progress.durationMs or {}).items():
                    self.duration_ms[key] += ms

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return StreamProgress()
