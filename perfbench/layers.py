"""Per-layer metrics of a traced run, from its spans and Spark's event log.

Unless noted, a metric is a total over the run's timed ops divided by the
number of timed ops, so runs that fit a different number of units stay
comparable. Spans opened during set-up or output checks are left out.
"""

from __future__ import annotations

import statistics

from spans import attribute_jobs, subtree_jobs
from stats import self_times
from workloads import PLAN_MODULES

COMMIT_NAMES = {"write": "append", "merge": "merge", "update": "update",
                "delete_with_dv": "delete_dv"}
FAST_PATH = ("version", "metadata", "protocol", "live_add_actions")

PER_LAYER = (
    ["session.start_s", "catalog.load_calls", "catalog.load_s", "catalog.load_jobs",
     "delta_log.calls", "delta_log.self_s", "delta_log.jobs", "delta_log.zero_job_frac",
     "delta_log.checkpoint_s"]
    + [f"writer.commit_s.{k}" for k in ("append", "merge", "update", "delete_dv")]
    + ["writer.jobs_per_commit", "writer.files_added", "writer.bytes_written",
       "maintenance.compact_s", "maintenance.zorder_s", "maintenance.vacuum_s",
       "maintenance.jobs", "maintenance.bytes_rewritten",
       "health.self_s", "health.jobs_per_report", "health.files_listed"]
    + [f"plans.{m}.{k}" for m in PLAN_MODULES
       for k in ("build_s", "build_jobs", "action_s", "action_jobs")]
    + ["spark.jobs", "spark.stages", "spark.task_s", "spark.scheduler_delay_s",
       "spark.shuffle_bytes", "spark.spill_bytes", "spark.failed_tasks",
       "spark.retained_cache_mb", "trace.wrapper_s", "trace.spans"]
)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _short(span: dict) -> str:
    return span["name"].rsplit(".", 1)[-1]


def per_layer(spans: list[dict], jobs: dict, n_ops: int, session_s: float,
              retained_mb: float, wrapper_s: float) -> dict[str, float]:
    by_id = {s["id"]: s for s in spans}
    timed = [s for s in spans if s["op"] is not None and s["end"] is not None
             and not s["layer"].startswith("bench.")]
    by_span = attribute_jobs([s for s in spans if s["end"] is not None], jobs)
    sub = subtree_jobs([s for s in spans if s["end"] is not None], by_span)
    selfs = self_times([s for s in spans if s["end"] is not None])
    per_op = 1.0 / max(1, n_ops)

    def dur(s):
        return s["end"] - s["start"]

    def outermost(layer):
        out = []
        for s in timed:
            if s["layer"] != layer:
                continue
            p = by_id.get(s["parent"])
            while p is not None and p["layer"] != layer:
                p = by_id.get(p["parent"])
            if p is None or p.get("is_op"):
                out.append(s)
        return out

    def of_layer(layer):
        return [s for s in timed if s["layer"] == layer and not s.get("is_op")]

    m: dict[str, float] = {"session.start_s": session_s}

    cat = [s for s in of_layer("sources.catalog") if _short(s) == "load"]
    cat_outer = outermost("sources.catalog")
    m["catalog.load_calls"] = len(cat) * per_op
    m["catalog.load_s"] = sum(dur(s) for s in cat_outer) * per_op
    m["catalog.load_jobs"] = sum(sub[s["id"]] for s in cat_outer) * per_op

    dl = [s for s in timed if s["layer"] == "sources.delta_log"]
    m["delta_log.calls"] = len(of_layer("sources.delta_log")) * per_op
    m["delta_log.self_s"] = sum(selfs[s["id"]] for s in dl) * per_op
    m["delta_log.jobs"] = sum(len(by_span.get(s["id"], [])) for s in dl) * per_op
    fast = [s for s in of_layer("sources.delta_log") if _short(s) in FAST_PATH]
    m["delta_log.zero_job_frac"] = (
        sum(1 for s in fast if sub[s["id"]] == 0) / len(fast) if fast else 0.0)
    m["delta_log.checkpoint_s"] = _median(
        [dur(s) for s in of_layer("sources.delta_log") if _short(s) == "checkpoint"])

    commits = [s for s in outermost("sources.delta_writer") if _short(s) in COMMIT_NAMES]
    for kind in ("append", "merge", "update", "delete_dv"):
        m[f"writer.commit_s.{kind}"] = _median(
            [dur(s) for s in commits if COMMIT_NAMES[_short(s)] == kind])
    nc = max(1, len(commits))
    m["writer.jobs_per_commit"] = sum(sub[s["id"]] for s in commits) / nc
    m["writer.files_added"] = sum(s.get("files_added", 0) for s in commits) / nc
    m["writer.bytes_written"] = sum(s.get("bytes_added", 0) for s in commits) / nc

    mt = outermost("operators.maintenance")
    for kind, name in (("compact", "compact"), ("zorder", "zorder_cluster"), ("vacuum", "vacuum")):
        m[f"maintenance.{kind}_s"] = _median([dur(s) for s in mt if _short(s) == name])
    m["maintenance.jobs"] = sum(sub[s["id"]] for s in mt) / max(1, len(mt))
    rewrites = [s for s in mt if _short(s) in ("compact", "zorder_cluster")]
    m["maintenance.bytes_rewritten"] = (
        sum(s.get("bytes_added", 0) for s in rewrites) / max(1, len(rewrites)))

    reports = [s for s in of_layer("operators.health") if _short(s) == "analyze_table"]
    nr = max(1, len(reports))
    m["health.self_s"] = sum(selfs[s["id"]] for s in timed
                             if s["layer"] == "operators.health") / nr if reports else 0.0
    m["health.jobs_per_report"] = sum(sub[s["id"]] for s in reports) / nr
    m["health.files_listed"] = sum(s.get("files_listed", 0) for s in reports) / nr

    for mod in PLAN_MODULES:
        q_ops = [s for s in timed if s.get("is_op") and s["layer"] == f"plans.{mod}"]
        nq = max(1, len(q_ops))
        for phase in ("build", "action"):
            ph = [s for s in timed if s["layer"] == f"plans.{mod}.{phase}"]
            m[f"plans.{mod}.{phase}_s"] = sum(dur(s) for s in ph) / nq
            m[f"plans.{mod}.{phase}_jobs"] = sum(sub[s["id"]] for s in ph) / nq

    op_jobs = [j for s in timed for j in by_span.get(s["id"], [])]
    m["spark.jobs"] = len(op_jobs) * per_op
    m["spark.stages"] = sum(j["stages"] for j in op_jobs) * per_op
    m["spark.task_s"] = sum(j["task_s"] for j in op_jobs) * per_op
    m["spark.scheduler_delay_s"] = sum(j["sched_s"] for j in op_jobs) * per_op
    m["spark.shuffle_bytes"] = sum(j["shuffle"] for j in op_jobs) * per_op
    m["spark.spill_bytes"] = sum(j["spill"] for j in op_jobs) * per_op
    m["spark.failed_tasks"] = float(sum(j["failed"] for j in op_jobs))
    m["spark.retained_cache_mb"] = retained_mb
    m["trace.wrapper_s"] = wrapper_s * per_op
    m["trace.spans"] = len(timed) * per_op
    return m
