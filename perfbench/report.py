"""Metric definitions and their computation from a workload's outcome.

``END_TO_END`` metrics come from untraced runs; ``PER_LAYER`` metrics
from traced runs, where phase times are self times of the recorded
spans, in ms per timed step.  Work the step does itself between its
wrapped calls (input conversion, bookkeeping) belongs to no phase;
``trace.phase_sum_ratio`` shows how much of the step the phases account
for.  Every metric is defined on every workload; a layer a workload
never calls reads 0.
"""

from __future__ import annotations

import resource
import statistics

import numpy as np

from spans import TARGETS, Recorder

END_TO_END = {
    "setup_s": "s",
    "points_per_s": "points/s",
    "batch_ms_p50": "ms",
    "stream_latency_ms_p50": "ms",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "estep.local_ms": "ms",
    "estep.local_calls": "count",
    "estep.dist_ms": "ms",
    "estep.dist_calls": "count",
    "estep.winners": "count",
    "estep.pairs": "count",
    "estep.ids_returned": "count",
    "mstep.update_ms": "ms",
    "mstep.update_rule_ms": "ms",
    "mstep.remove_old_edges_ms": "ms",
    "mstep.remove_isolated_nodes_ms": "ms",
    "mstep.fading_ms": "ms",
    "mstep.add_new_nodes_ms": "ms",
    "model.nodes_max": "count",
    "model.nodes_end": "count",
    "model.edges_end": "count",
    "model.point_ids_total": "count",
    "model.births": "count",
    "model.fades": "count",
    "model.isolated_removed": "count",
    "train.step_ms": "ms",
    "train.step_ms_p99": "ms",
    "train.probe_ms": "ms",
    "snapshot.count": "count",
    "snapshot.ms_p50": "ms",
    "snapshot.ms_total": "ms",
    "snapshot.bytes": "bytes",
    "spark.jobs_per_step": "count",
    "spark.stages_per_step": "count",
    "spark.tasks_per_step": "count",
    "stream.trigger_ms_p50": "ms",
    "stream.latest_offset_ms_p50": "ms",
    "stream.query_planning_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.rows_per_trigger": "rows",
    "stream.backlog_files_max": "count",
    "gen.lag_ms_max": "ms",
    "setup.session_s": "s",
    "setup.warm_s": "s",
    "setup.input_gen_s": "s",
    "setup.pregrow_s": "s",
    "trace.overhead_pct": "%",
    "trace.phase_sum_ratio": "ratio",
}

# Self-time phases of one step, by span name.
STEP_PHASES = {
    "train.probe": "train.probe_ms",
    "estep.local": "estep.local_ms",
    "estep.dist": "estep.dist_ms",
    "mstep.update_rule": "mstep.update_rule_ms",
    "mstep.remove_old_edges": "mstep.remove_old_edges_ms",
    "mstep.remove_isolated_nodes": "mstep.remove_isolated_nodes_ms",
    "mstep.fading": "mstep.fading_ms",
    "mstep.add_new_nodes": "mstep.add_new_nodes_ms",
}

STREAM_PHASES = {
    "stream.trigger_ms_p50": "triggerExecution",
    "stream.latest_offset_ms_p50": "latestOffset",
    "stream.query_planning_ms_p50": "queryPlanning",
    "stream.add_batch_ms_p50": "addBatch",
    "stream.wal_commit_ms_p50": "walCommit",
}


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def end_to_end(outcome, setup_s: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "points_per_s": _median(outcome.unit_rates),
        "batch_ms_p50": _median(outcome.step_ms),
        "stream_latency_ms_p50": _median(outcome.latency_ms),
        "peak_rss_mb": peak_rss_mb(),
    }


def _model_state(model) -> dict[str, float]:
    fades, isolated = len(model.outdated_nodes), len(model.isolated_nodes)
    archived = sum(len(p.ids) for p in (*model.outdated_nodes, *model.isolated_nodes))
    return {
        "model.nodes_end": model.n_nodes,
        "model.edges_end": int(model.edges.sum()) // 2,
        "model.point_ids_total": sum(len(s) for s in model.point_ids) + archived,
        "model.births": model.n_nodes + fades + isolated - 2,
        "model.fades": fades,
        "model.isolated_removed": isolated,
    }


def _stream_layer(facts: dict) -> dict[str, float]:
    progress = facts.get("progress", [])
    out = {name: _median(p["durationMs"].get(key, 0) for p in progress)
           for name, key in STREAM_PHASES.items()}
    out["stream.rows_per_trigger"] = _median(p["numInputRows"] for p in progress)
    out["stream.backlog_files_max"] = facts.get("backlog_max", 0)
    out["gen.lag_ms_max"] = max(facts.get("lag_ms", [0.0]))
    return out


def per_layer(outcome, recorder: Recorder, setup: dict[str, float]) -> dict[str, float]:
    steps = recorder.named("train.step")
    n_steps = max(len(steps), 1)
    self_s = recorder.self_time_by_name()
    step_total_s = sum(s.duration for s in steps)
    # Time inside the step that a wrapped phase accounts for: every
    # span's self time but the step's own.
    phase_names = {name for _, _, name in TARGETS} - {"train.step"}
    phase_total_s = sum(self_s.get(name, 0.0) for name in phase_names)
    snaps = recorder.named("snapshot")
    estep_spans = recorder.named("estep.local") + recorder.named("estep.dist")

    def mean_attr(spans, key):
        return sum(s.attrs.get(key, 0) for s in spans) / len(spans) if spans else 0.0

    m = {metric: self_s.get(span, 0.0) * 1e3 / n_steps for span, metric in STEP_PHASES.items()}
    update = recorder.named("mstep.update")
    m.update({
        "estep.local_calls": len(recorder.named("estep.local")),
        "estep.dist_calls": len(recorder.named("estep.dist")),
        "estep.winners": mean_attr(estep_spans, "winners"),
        "estep.pairs": mean_attr(estep_spans, "pairs"),
        "estep.ids_returned": mean_attr(estep_spans, "ids"),
        "mstep.update_ms": sum(s.duration for s in update) * 1e3 / n_steps,
        "model.nodes_max": max((s.attrs.get("nodes", 0) for s in steps), default=0),
        **_model_state(outcome.model),
        "train.step_ms": step_total_s * 1e3 / n_steps,
        "train.step_ms_p99": (float(np.percentile([s.duration * 1e3 for s in steps], 99))
                              if steps else 0.0),
        "snapshot.count": len(snaps),
        "snapshot.ms_p50": _median(s.duration * 1e3 for s in snaps),
        "snapshot.ms_total": sum(s.duration for s in snaps) * 1e3,
        "snapshot.bytes": sum(s.attrs.get("bytes", 0) for s in snaps),
        "spark.jobs_per_step": mean_attr(steps, "jobs"),
        "spark.stages_per_step": mean_attr(steps, "stages"),
        "spark.tasks_per_step": mean_attr(steps, "tasks"),
        **_stream_layer(outcome.facts),
        "setup.session_s": setup.get("session", 0.0),
        "setup.warm_s": setup.get("warm", 0.0),
        "setup.input_gen_s": setup.get("input_gen", 0.0),
        "setup.pregrow_s": setup.get("pregrow", 0.0),
        "trace.overhead_pct": 100.0 * recorder.overhead_s / step_total_s if step_total_s else 0.0,
        # The recorder's own bookkeeping runs inside the steps but is
        # no work of the engine's, so it leaves the step walls.
        "trace.phase_sum_ratio": (phase_total_s / (sum(outcome.step_ms) / 1e3 - recorder.overhead_s)
                                  if outcome.step_ms else 0.0),
    })
    return m
