"""Per-layer metrics of a traced run, named after the engine's packages.

Every value is per timed repetition (a catch-up call or a curation pass)
unless its name says otherwise, so runs that fit a different number of
repetitions stay comparable. A metric of a layer a workload does not
enter reads 0 there.

``functions.<module>.*`` count the jobs a function module triggers itself
(eager collects, checkpoints, model training); the jobs of a query's final
``collect()`` belong to its ``plans.queries.<name>_s`` span instead.
``streaming.apply.records_read_per_op`` counts every input record the
batch's jobs read (feed rows and state rows alike) per oplog entry.
"""

from __future__ import annotations

import datetime

from tracing import job_stages, jobs_within, median, stage_sum, union_length

FUNCTION_MODULES = (
    "dedup", "similarity", "quantization", "curation", "text", "bpe",
    "retrieval", "clustering",
)
STREAM_PHASES = {
    "streaming.latest_offset_s": "latestOffset",
    "streaming.wal_commit_s": "walCommit",
    "streaming.commit_offsets_s": "commitOffsets",
    "streaming.query_planning_s": "queryPlanning",
}


def units(query_names) -> dict[str, str]:
    """Every per-layer metric name -> unit, in output order."""
    u = {
        "streaming.add_batch_s": "s", "streaming.machinery_s": "s",
        **{k: "s" for k in STREAM_PHASES},
        "streaming.batches": "count", "streaming.rows_per_batch": "rows",
        "streaming.apply.jobs_per_batch": "count",
        "streaming.apply.tasks_per_batch": "count",
        "streaming.apply.job_wall_s": "s", "streaming.apply.driver_gap_s": "s",
        "streaming.apply.records_read_per_op": "rows",
        "streaming.apply.bytes_written_per_op": "bytes",
        "sources.scan_tasks_max": "count", "sources.input_bytes": "bytes",
    }
    u.update({f"plans.queries.{q}_s": "s" for q in query_names})
    for m in FUNCTION_MODULES:
        u.update({f"functions.{m}.jobs": "count", f"functions.{m}.job_wall_s": "s",
                  f"functions.{m}.shuffle_bytes": "bytes"})
    u.update({
        "session.jobs": "count", "session.stages": "count", "session.tasks": "count",
        "session.executor_run_s": "s", "session.executor_cpu_s": "s",
        "session.gc_s": "s", "session.shuffle_write_bytes": "bytes",
        "session.task_failures": "count", "session.slot_busy_frac": "fraction",
        "session.driver_only_s": "s", "session.peak_rss_mb": "MB",
        "trace.overhead_frac": "fraction", "trace.accounted_frac": "fraction",
    })
    return u


def _epoch(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _streaming(batches, log, n_reps: int) -> dict:
    out = {}
    dur = [b["durationMs"] for b in batches]
    out["streaming.add_batch_s"] = median(d["addBatch"] / 1000 for d in dur)
    out["streaming.machinery_s"] = median(
        (d["triggerExecution"] - d["addBatch"]) / 1000 for d in dur)
    for name, phase in STREAM_PHASES.items():
        out[name] = median(d.get(phase, 0) / 1000 for d in dur)
    out["streaming.batches"] = len(batches) / n_reps
    out["streaming.rows_per_batch"] = median(b["numInputRows"] for b in batches)

    per_batch = []
    for b in batches:
        start = _epoch(b["timestamp"])
        end = start + b["durationMs"]["triggerExecution"] / 1000
        jobs = [j for j in log["jobs"].values()
                if j["end"] is not None and j["query"] == b["id"]
                and j["batch"] == str(b["batchId"]) and start <= j["start"] <= end]
        stages = job_stages(log, jobs)
        busy = union_length((j["start"], j["end"]) for j in jobs)
        per_batch.append((jobs, stages, busy, b))
    rows = sum(b["numInputRows"] for b in batches) or 1
    out["streaming.apply.jobs_per_batch"] = median(len(p[0]) for p in per_batch)
    out["streaming.apply.tasks_per_batch"] = median(stage_sum(p[1], "tasks") for p in per_batch)
    out["streaming.apply.job_wall_s"] = median(p[2] for p in per_batch)
    out["streaming.apply.driver_gap_s"] = median(
        p[3]["durationMs"]["addBatch"] / 1000 - p[2] for p in per_batch)
    out["streaming.apply.records_read_per_op"] = sum(
        stage_sum(p[1], "input_records") for p in per_batch) / rows
    out["streaming.apply.bytes_written_per_op"] = sum(
        stage_sum(p[1], "output_bytes") for p in per_batch) / rows
    return out


def _functions(jobs, log, stack, n_reps: int) -> dict:
    acc = {m: [0, 0.0, 0] for m in FUNCTION_MODULES}
    for j in jobs:
        site = stack.module_between(j["start"], j["end"]) if stack else None
        if site and site.startswith("functions."):
            m = site.split(".", 1)[1]
            if m in acc:
                acc[m][0] += 1
                acc[m][1] += j["end"] - j["start"]
                acc[m][2] += stage_sum(job_stages(log, [j]), "shuffle_write_bytes")
    out = {}
    for m, (n, wall, shuffle) in acc.items():
        out[f"functions.{m}.jobs"] = n / n_reps
        out[f"functions.{m}.job_wall_s"] = wall / n_reps
        out[f"functions.{m}.shuffle_bytes"] = shuffle / n_reps
    return out


def per_layer(*, spans, measure_idx: int, batches, query_names, log, stack,
              peak_rss_mb: float, cores: int, overhead_frac: float) -> dict:
    """All per-layer metrics. The timed repetitions are the children of
    span ``measure_idx``; ``batches`` are their micro-batch progress events."""
    reps = {i: r for i, r in enumerate(spans.records) if r["parent"] == measure_idx}
    n_reps = max(1, len(reps))
    windows = [(r["start"], r["end"]) for r in reps.values()]
    wall = sum(e - s for s, e in windows)
    jobs = jobs_within(log, windows)
    stages = job_stages(log, jobs)
    out = dict.fromkeys(units(query_names), 0.0)

    if batches:
        out.update(_streaming(batches, log, n_reps))
    scans = [s["tasks"] for s in stages if s["input_bytes"] > 0]
    out["sources.scan_tasks_max"] = max(scans, default=0)
    out["sources.input_bytes"] = stage_sum(stages, "input_bytes") / n_reps

    for q in query_names:
        out[f"plans.queries.{q}_s"] = median(
            r["end"] - r["start"] for r in spans.records
            if r["name"] == f"plans.queries.{q}" and r["parent"] in reps)
    out.update(_functions(jobs, log, stack, n_reps))

    task_spans = [t for st in stages for t in st["task_spans"]]
    out.update({
        "session.jobs": len(jobs) / n_reps,
        "session.stages": len(stages) / n_reps,
        "session.tasks": stage_sum(stages, "tasks") / n_reps,
        "session.executor_run_s": stage_sum(stages, "run_s") / n_reps,
        "session.executor_cpu_s": stage_sum(stages, "cpu_s") / n_reps,
        "session.gc_s": stage_sum(stages, "gc_s") / n_reps,
        "session.shuffle_write_bytes": stage_sum(stages, "shuffle_write_bytes") / n_reps,
        "session.task_failures": stage_sum(stages, "failed_tasks"),
        "session.slot_busy_frac": stage_sum(stages, "run_s") / (wall * cores) if wall else 0.0,
        "session.driver_only_s": (wall - union_length(task_spans)) / n_reps,
        "session.peak_rss_mb": peak_rss_mb,
        "trace.overhead_frac": overhead_frac,
    })
    # the share of the timed wall the layer below the runner accounts for:
    # micro-batch triggers for a catch-up call, query spans for a pass
    if batches:
        covered = sum(b["durationMs"]["triggerExecution"] for b in batches) / 1000
    else:
        covered = sum(r["end"] - r["start"] for r in spans.records
                      if r["parent"] in reps)
    out["trace.accounted_frac"] = covered / wall if wall else 0.0
    return out
