"""The benchmark's workloads and the unit of every metric it reports.

An operation ("op") is one registry query, built and forced to the
noop sink (for a streaming query the build drains the stream), or one
model fit+predict+score (an op named in ``ML_OPS``).  Each workload is
a fixed list of ops; the run's seed generates the input tables and
shuffles the order.  Every registry op here has a DuckDB twin in
``ORACLES`` and matched it on generated inputs at the workload's scale
for every seed tried, so a failed check is a defect, not noise; a model
op is checked against the constant-velocity physics baseline.  Why each
workload exists is stated in ``BENCHMARK.json`` and ``README.md``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float            # scale of the generated tables (datagen.row_counts)
    probe: str           # op run by every set-up as its warm-up
    ops: tuple[str, ...]
    # Extra untimed noop runs of each query op after its check.  A
    # batch query's first noop run was about 30% slower than its second
    # even after the check (which collects).  A stream drain's showed
    # a gap only on two CPUs, and a second drain does not fit the run
    # budget, so stream-drain has none.
    warm_runs: int = 0
    # Runs of each query op in one pass (a model op runs once).  More
    # samples of the short queries per window steady their medians.
    query_reps: int = 1

    def pass_ops(self) -> list[str]:
        """The ops of one pass, before the seed shuffles them."""
        return [n for n in self.ops
                for _ in range(1 if n in ML_OPS else self.query_reps)]


# Model ops: residual sequence regressor (ml.seqreg) fit, out-of-fold
# predict and official-metric score on the tracking fixture
# (testing.make_tracking_tables, seeded by the run), at the settings of
# tests/test_ml.py.
ML_OPS = ("ml_seqreg",)

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="batch-heavy",
            sf=0.01,
            probe="q_groupby_multi",
            ops=(
                # execute-bound batch queries (67-91% of each op's time
                # in the noop write at sf0.01); q_spectral_bins runs a
                # Python-worker kernel
                "q_pairwise", "q_spectral_bins", "q_sketch_bounds",
                # sequence-model fit+predict+score: Arrow-batched
                # Python-worker passes over the tracking fixture
                "ml_seqreg",
            ),
            warm_runs=1,
            query_reps=3,
        ),
        Workload(
            name="stream-drain",
            sf=0.01,
            probe="q_groupby_multi",
            # micro-batch drains of the events stream: windowed and
            # session aggregates, dedup, a stream-static join, a
            # materialized-view rollup and a foreachBatch upsert sink
            ops=(
                "q_stream_static_join", "q_stream_cdc_upsert",
                "q_stream_mv_rollup", "q_stream_sliding", "q_stream_session",
                "q_stream_dedup",
            ),
        ),
    )
}

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
}

PER_LAYER = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "execute.s": "s",
    "execute.jobs": "count",
    "execute.stages": "count",
    "execute.tasks": "count",
    "execute.shuffle_write_bytes": "bytes",
    "execute.input_bytes": "bytes",
    "execute.spill_bytes": "bytes",
    "execute.failed_tasks": "count",
    "execute.s_per_job": "s",
    "sources.calls": "count",
    "sources.s": "s",
    "operators.python_nodes": "count",
    "operators.python_exec_s": "s",
    "streaming.drain_s": "s",
    "streaming.jobs": "count",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.idle_s": "s",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "streaming.ckpt_bytes": "bytes",
    "ml.s": "s",
    "ml.features_s": "s",
    "ml.seqreg_s": "s",
    "ml.score_s": "s",
    "ml.jobs": "count",
    "ml.train_rmse": "yards",
    "trace.overhead_s": "s",
}

UNITS = {**END_TO_END, **PER_LAYER}
