"""Per-layer metrics of a traced run.

Inputs are the traced passes, the spans recorded around each layer's
calls, Spark's jobs (from the status store) and the streaming progress
rows.  Every metric is a total over the traced passes divided by their
number, i.e. a per-pass figure.  Jobs are placed by submission time:
the client has one thread, so a job submitted while an op's
``plans.build`` span is open belongs to that op's build layer; stream
micro-batch jobs, which run on the stream thread and carry no caller
tags, are placed the same way.  A model op's jobs are placed in its
``ml.fit`` span.

Catalyst phases nest inside other layers rather than beside them:
``catalyst.analysis_s`` is part of ``plans.build_s`` (a DataFrame is
analysed when it is built) and ``catalyst.optimization_s`` and
``catalyst.planning_s`` are part of ``execute.s`` (the noop write
optimizes and plans its own command).  They are not to be added to
those layers' times.
"""

from __future__ import annotations

import bisect
import statistics

import tracing

_SLACK = 0.001  # job submission times are truncated to milliseconds

LAYER_SPANS = ("plans.build", "execute", "ml.fit")


def _place_jobs(spans: list[dict], jobs: list[dict]) -> None:
    """Set ``job["op"]`` and ``job["layer"]`` from the enclosing spans."""
    layer = sorted(
        (s for s in spans if s["name"] in LAYER_SPANS), key=lambda s: s["start"]
    )
    starts = [s["start"] - _SLACK for s in layer]
    for job in jobs:
        job["op"] = job["layer"] = None
        t = job["submitted"]
        if t is None:
            continue
        i = bisect.bisect_right(starts, t) - 1
        if i >= 0 and t <= layer[i]["end"] + _SLACK:
            job["op"], job["layer"] = layer[i]["op"], layer[i]["name"]


def compute(passes, spans, jobs, progress):
    """Per-pass layer metrics, and the spans/jobs/progress record."""
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    n = len(traced)
    _place_jobs(spans, jobs)
    self_s = tracing.self_times(spans)

    def dur(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def jobs_in(layer: str) -> list[dict]:
        return [j for j in jobs if j["layer"] == layer]

    def stage_sum(js: list[dict], key: str | None) -> int:
        return sum(1 if key is None else st[key] for j in js for st in j["stages"])

    traced_ops = [o for p in traced for o in p["ops"]]
    ex = jobs_in("execute")
    build_jobs = jobs_in("plans.build")
    execute_s = dur("execute")
    sources = [s for s in spans if s.get("layer") == "sources"]

    def covered(layer: str) -> float:
        return tracing.coverage(
            [(s["start"], s["end"]) for s in spans if s.get("layer") == layer]
        )

    drain_s = covered("streaming")

    def dms(key: str) -> float:
        return sum(r["duration_ms"].get(key, 0) for r in progress) / 1000.0

    last_state: dict[str, int] = {}
    for r in sorted(progress, key=lambda r: (r["query"], r["batch"])):
        last_state[r["query"]] = r["state_rows"]
    stream_ops = {o["id"] for o in traced_ops if o["op"].startswith("q_stream")}

    totals = {
        "plans.build_s": dur("plans.build"),
        "plans.build_jobs": len(build_jobs),
        "catalyst.analysis_s": sum(o.get("analysis", 0.0) for o in traced_ops),
        "catalyst.optimization_s": sum(o.get("optimization", 0.0) for o in traced_ops),
        "catalyst.planning_s": sum(o.get("planning", 0.0) for o in traced_ops),
        "execute.s": execute_s,
        "execute.jobs": len(ex),
        "execute.stages": stage_sum(ex, None),
        "execute.tasks": stage_sum(ex, "tasks"),
        "execute.shuffle_write_bytes": stage_sum(ex, "shuffle_write_bytes"),
        "execute.input_bytes": stage_sum(ex, "input_bytes"),
        "execute.spill_bytes": stage_sum(ex, "spill_bytes"),
        "execute.failed_tasks": stage_sum(ex, "failed_tasks"),
        "sources.calls": len(sources),
        "sources.s": covered("sources"),
        "operators.python_nodes": sum(o.get("python_nodes", 0) for o in traced_ops),
        "operators.python_exec_s": sum(
            o.get("execute_s", 0.0) for o in traced_ops if o.get("python_nodes", 0)
        ),
        "streaming.drain_s": drain_s,
        "streaming.jobs": sum(1 for j in build_jobs if j["op"] in stream_ops),
        "streaming.batches": len(progress),
        "streaming.trigger_s": dms("triggerExecution"),
        "streaming.add_batch_s": dms("addBatch"),
        "streaming.query_planning_s": dms("queryPlanning"),
        "streaming.wal_commit_s": dms("walCommit"),
        "streaming.commit_offsets_s": dms("commitOffsets"),
        "streaming.idle_s": drain_s - dms("triggerExecution"),
        "streaming.input_rows": sum(r["input_rows"] for r in progress),
        "streaming.state_rows": sum(last_state.values()),
        "streaming.ckpt_bytes": sum(p["ckpt_bytes"] for p in traced),
        "ml.s": dur("ml.fit"),
        "ml.features_s": covered("ml.features"),
        "ml.seqreg_s": covered("ml.seqreg"),
        "ml.score_s": covered("ml.score"),
        "ml.jobs": len(jobs_in("ml.fit")),
    }
    metrics = {k: v / n for k, v in totals.items()}
    metrics["execute.s_per_job"] = execute_s / len(ex) if ex else 0.0
    metrics["trace.overhead_s"] = (
        statistics.median(p["wall_s"] for p in traced)
        - statistics.median(p["wall_s"] for p in plain)
    )

    record = {
        "passes": n,
        "spans": [dict(s, self_s=self_s[s["id"]]) for s in spans],
        "jobs": jobs,
        "stream_progress": progress,
    }
    return metrics, record
