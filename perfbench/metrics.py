"""Arithmetic of the benchmark: interval unions, self times, ratios.

Pure functions over plain numbers so they can be tested on synthetic spans
(test_metrics.py). Intervals are (start, end) pairs in milliseconds.
"""

import math
import statistics


def union_length(intervals):
    """Length covered by the union of intervals (overlaps counted once)."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, lo, hi):
    """The parts of `intervals` that fall inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """A span's length minus the time its children cover inside it."""
    lo, hi = span
    return (hi - lo) - union_length(clip(children, lo, hi))


def parallel_eff(task_s, wall_s, cores):
    """Summed task time over the core-seconds the wall clock offered."""
    return task_s / (wall_s * cores) if wall_s > 0 and cores > 0 else 0.0


def skew(task_times):
    """Max over mean task time of one stage (1.0 = perfectly even)."""
    if not task_times or sum(task_times) <= 0:
        return 1.0
    return max(task_times) / (sum(task_times) / len(task_times))


def geomean(values):
    """Geometric mean of positive values."""
    vals = [v for v in values if v > 0]
    if not vals:
        return 0.0
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def fail_ratio(failed, attempted):
    return failed / attempted if attempted else 1.0


def median(values):
    return statistics.median(values)


def quartile_spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


# layers whose spans hold the work before and at the action, per workload
BUILD_LAYERS = {"cli.parse", "core.plan", "query.build"}
ACTION_LAYERS = {"core.write", "query.action"}


def trace_layers(trace, cores):
    """Per-layer numbers of one traced iteration.

    `trace` holds op/layer spans, Spark job intervals, per-stage task times,
    task-metric totals, planning phases and streaming progress. Returns the
    layer metrics shared by every workload, the span and job time per layer
    name, and how self times and job time split the wall clock.
    """
    jobs = [tuple(j) for j in trace["jobs"]]
    ops = [s for s in trace["spans"] if s["layer"] == "op"]
    by_layer = {}
    build = action = action_jobs = op_self = job_time = 0.0
    for op in ops:
        lo, hi = op["start"], op["end"]
        kids = [s for s in trace["spans"] if s["op"] == op["op"] and s["layer"] != "op"
                and s["start"] >= lo and s["end"] <= hi]
        op_jobs = clip(jobs, lo, hi)
        job_time += union_length(op_jobs)
        op_self += self_time((lo, hi), [(k["start"], k["end"]) for k in kids] + op_jobs)
        for k in kids:
            length = k["end"] - k["start"]
            in_jobs = union_length(clip(op_jobs, k["start"], k["end"]))
            entry = by_layer.setdefault(k["layer"], {"span": 0.0, "jobs": 0.0})
            entry["span"] += length
            entry["jobs"] += in_jobs
            if k["layer"] in BUILD_LAYERS:
                build += length
            elif k["layer"] in ACTION_LAYERS:
                action += length
                action_jobs += in_jobs
    wall = sum(op["end"] - op["start"] for op in ops)
    layer_self = sum(v["span"] - v["jobs"] for v in by_layer.values())
    tel = trace["telemetry"]
    task_s = tel["task_ms"] / 1e3
    stages = [st for st in trace["task_ms"] if st]
    heaviest = max(stages, key=sum) if stages else []
    plan = trace["plan_ms"]
    metrics = {
        "op.build_s": build / 1e3,
        "op.action_s": action / 1e3,
        "op.action_jobs_s": action_jobs / 1e3,
        "op.action_driver_s": (action - action_jobs) / 1e3,
        "op.self_s": op_self / 1e3,
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": tel["tasks"],
        "spark.task_s": task_s,
        "spark.parallel_eff": parallel_eff(task_s, wall / 1e3, cores),
        "spark.driver_gap_s": (wall - job_time) / 1e3,
        "spark.stage_skew": skew(heaviest),
        "spark.shuffle_write_bytes": tel["shuffle_write_bytes"],
        "spark.shuffle_read_bytes": tel["shuffle_read_bytes"],
        "spark.spill_bytes": tel["spill_bytes"],
        "spark.input_bytes": tel["bytes_read"],
        "plan.analysis_s": plan["analysis"] / 1e3,
        "plan.optimization_s": plan["optimization"] / 1e3,
        "plan.planning_s": plan["planning"] / 1e3,
        "plan.executions": plan["executions"],
        "streaming.batches": trace["streaming"]["batches"],
        "trace.wall_s": wall / 1e3,
    }
    # layer self times + op glue + job time tile each op span
    accounting = {"layer_self_s": layer_self / 1e3, "op_self_s": op_self / 1e3,
                  "job_s": job_time / 1e3}
    return metrics, by_layer, accounting
