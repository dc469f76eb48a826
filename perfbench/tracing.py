"""Spans, counters and Spark-side statistics for the traced run.

Everything here is installed from the benchmark's side: spans wrap the
calls into each layer's public functions (the package itself records
nothing), streaming progress comes from a ``StreamingQueryListener``
and job/stage/task counts come from Spark's status store after the
run.  Spans live in memory and are written once, at the end.
"""

from __future__ import annotations

import functools
import importlib
import os
import re
import sys
import time
from datetime import datetime, timezone

PKG = "nfl26_bigdatabowl_prediction_spark"

# layer -> public functions whose calls are wrapped in a span.  A layer
# listed in LAYER_SCOPE is wrapped only where modules under that
# package prefix bind the function (plan modules call some of the
# feature builders too, and those calls belong to the plans layer).
LAYER_FUNCS = {
    "sources": [
        ("sources.io", "table"),
        ("sources.io", "spread_scan"),
        ("sources.io", "events_asof"),
    ],
    "streaming": [
        ("streaming.run", "run_available_now"),
        ("streaming.run", "run_two_phase"),
        ("streaming.sink", "incremental_hourly_rollup"),
        ("streaming.sink", "incremental_cdc_table"),
        ("streaming.sink", "compact_rollup"),
    ],
    "ml.features": [
        ("plans.features", "advanced_features"),
        ("plans.features", "build_training_rows"),
        ("ml.seqreg", "window_matrix"),
        ("ml.folds", "with_fold"),
    ],
    "ml.seqreg": [
        ("ml.seqreg", "train_seq_reg"),
        ("ml.seqreg", "predict_seq"),
    ],
    "ml.score": [
        ("ml.scoring", "score"),
    ],
}
LAYER_SCOPE = {"ml.features": "ml", "ml.seqreg": "ml", "ml.score": "ml"}

CATALYST_PHASES = ("analysis", "optimization", "planning")

# Physical operators that ship rows to Python workers.
_PY_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?(\w*(?:Python|InPandas|InArrow)\w*)")


def python_nodes(plan: str) -> int:
    """Count Python-evaluation operators in a physical plan's tree string.

    An executed adaptive plan prints its final plan and then its
    initial one; only the final plan counts."""
    lines = plan.splitlines()
    if any("== Final Plan ==" in ln for ln in lines):
        keep, on = [], True
        for ln in lines:
            if "== Initial Plan ==" in ln:
                on = False
            elif "== Final Plan ==" in ln:
                on = True
            if on:
                keep.append(ln)
        lines = keep
    return sum(1 for line in lines if _PY_NODE.match(line))


class Tracer:
    """In-memory span recorder.

    A span is ``(id, name, start, end, parent, op)`` with wall-clock
    epoch seconds, so Spark's own timestamps (job submission) can be
    placed inside it.  Layer wrappers record only while ``active``.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.active = False
        self.op: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def begin(self, name: str, **attrs) -> dict:
        span = {
            "id": len(self.spans), "name": name, "start": time.time(),
            "end": None, "parent": self._stack[-1] if self._stack else None,
            "op": self.op, **attrs,
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack.pop()

    def wrap(self, layer: str, qualname: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            span = tracer.begin(f"{layer}:{qualname}", layer=layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(span)

        return traced

    def install(self, layers=LAYER_FUNCS, scope=LAYER_SCOPE) -> None:
        """Wrap each listed function in a span, wherever the package (or
        the layer's scope within it) binds it."""
        for layer, funcs in layers.items():
            for mod_name, attr in funcs:
                fn = getattr(importlib.import_module(f"{PKG}.{mod_name}"), attr)
                self.rebind(fn, self.wrap(layer, f"{mod_name}.{attr}", fn),
                            scope.get(layer))

    def rebind(self, fn, new, within: str | None = None) -> None:
        """Replace every package module attribute that *is* ``fn`` (plan
        modules import these functions by name) until ``uninstall``.
        With ``within``, only modules under ``PKG.<within>`` are patched."""
        prefix = f"{PKG}.{within}" if within else PKG
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == prefix or name.startswith(prefix + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    setattr(mod, attr, new)
                    self._patched.append((mod, attr, fn))

    def uninstall(self) -> None:
        for mod, attr, value in reversed(self._patched):
            setattr(mod, attr, value)
        self._patched.clear()


def coverage(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - coverage(children.get(s["id"], []))
        for s in spans
    }


def make_progress_listener(tracer: Tracer, sink: list[dict]):
    """A StreamingQueryListener that appends one row per micro-batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            if not tracer.active:
                return
            p = event.progress
            sink.append({
                "query": str(p.id), "batch": p.batchId,
                "ts": _iso_epoch(p.timestamp),
                "duration_ms": dict(p.durationMs),
                "input_rows": p.numInputRows,
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressLog()


def make_plan_listener(sink: list[dict]):
    """A ``QueryExecutionListener`` (a Python object the JVM calls back
    through py4j) that appends, for every query execution that
    completes, the Catalyst phase times of the ``QueryExecution`` that
    actually ran and the Python-evaluation operators of its executed
    plan.  For a ``noop`` write that is the write command's own
    execution, whose optimization and planning happen inside the write
    call."""

    class PlanLog:
        def onSuccess(self, func_name, qe, duration_ns) -> None:
            phases = qe.tracker().phases()
            row = {"func": func_name, "duration_s": duration_ns / 1e9}
            for k in CATALYST_PHASES:
                row[k] = phases.apply(k).durationMs() / 1000.0 if phases.contains(k) else 0.0
            row["python_nodes"] = python_nodes(qe.executedPlan().toString())
            sink.append(row)

        def onFailure(self, func_name, qe, exc) -> None:
            sink.append({"func": func_name, "failed": True})

        class Java:
            implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    return PlanLog()


def register_plan_listener(jsession, listener) -> None:
    """Register ``listener`` on one JVM ``SparkSession``; the JVM calls
    it back through py4j's callback server."""
    from pyspark import SparkContext
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(SparkContext._gateway)
    jsession.listenerManager().register(listener)


def analysis_s(df) -> float:
    """Analysis time of ``df``'s own plan.  A DataFrame is analysed when
    it is created, so this time lies inside the call that built it."""
    phases = df._jdf.queryExecution().tracker().phases()
    return phases.apply("analysis").durationMs() / 1000.0 if phases.contains("analysis") else 0.0


def attach_listener_to_stream_sessions(tracer: Tracer, listener) -> None:
    """Streams run on twin sessions made by ``stream_exec_session``;
    register ``listener`` on each twin the first time it is returned."""
    fn = importlib.import_module(f"{PKG}.streaming.source").stream_exec_session
    seen: set[int] = set()

    @functools.wraps(fn)
    def with_listener(*args, **kwargs):
        twin = fn(*args, **kwargs)
        if id(twin) not in seen:
            seen.add(id(twin))
            twin.streams.addListener(listener)
        return twin

    tracer.rebind(fn, with_listener)


def _iso_epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    ).timestamp()


def flush_listener_bus(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def spark_jobs(spark) -> list[dict]:
    """Every job the status store retains, with its completed stages."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    stage_cache: dict[int, dict | None] = {}
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        sub = j.submissionTime()
        stages = []
        ids = j.stageIds()
        for k in range(ids.size()):
            sid = ids.apply(k)
            if sid not in stage_cache:
                stage_cache[sid] = _stage(store, sid)
            if stage_cache[sid] is not None:
                stages.append(stage_cache[sid])
        out.append({
            "job": j.jobId(),
            "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            "status": j.status().toString(),
            "stages": stages,
        })
    return out


def _stage(store, sid: int) -> dict | None:
    """The last attempt of stage ``sid``; None if it was skipped."""
    sd = store.lastStageAttempt(sid)
    if sd.status().toString() == "SKIPPED":
        return None
    return {
        "stage": sid,
        "tasks": sd.numCompleteTasks() + sd.numFailedTasks() + sd.numKilledTasks(),
        "failed_tasks": sd.numFailedTasks(),
        "input_bytes": sd.inputBytes(),
        "shuffle_write_bytes": sd.shuffleWriteBytes(),
        "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
    }


def ckpt_bytes(root: str) -> int:
    """Bytes under every streaming checkpoint directory below ``root``."""
    total = 0
    for dirpath, dirnames, _ in os.walk(root):
        for d in dirnames:
            if d == "ckpt" or d.startswith("spark_ckpt_"):
                for p, _, files in os.walk(os.path.join(dirpath, d)):
                    for f in files:
                        try:
                            total += os.path.getsize(os.path.join(p, f))
                        except OSError:
                            pass
    return total
