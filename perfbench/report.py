"""Metrics of a finished run.

End-to-end figures come from the run's own clock (untraced runs are the
measurement; a traced run prints them too, so the difference is the
tracing overhead).  Per-layer figures come from the spans, from layer
state read after each call, and from the Spark event log.  Per-call
figures are medians over the calls inside the timed loop; a layer the
workload never calls reads 0.
"""

from __future__ import annotations

import json
import math
import os
import statistics
from collections import defaultdict

import spans as sp


def _listed(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json lists them."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


END_TO_END = _listed("end_to_end")
PER_LAYER = _listed("per_layer")
# Per-layer metrics that only skewed_backfill moves; it is not a listed
# workload, so these are printed above the JSON line, not in it.
BACKFILL_ONLY = {
    "plans.build.full_refresh.exec_s": "s",
    "plans.build.full_refresh.shuffle_write_bytes": "bytes",
    "operators.scd2_salted.keys_routed_salted": "count",
}

READ_LAYERS = (  # operator spans inside temporal_reads' operations
    "operators.temporal_join.scd2_join",
    "operators.temporal_join.snapshot_at",
    "operators.temporal_join.scd2_diff",
    "operators.asof.asof_join",
    "operators.invariants.scd2_invariant_suite",
)
MERGE_MEASURES = ("exec_s", "stages", "tasks", "shuffle_read_bytes", "spill_bytes",
                  "executor_cpu_s", "gc_s", "max_task_s")

def med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]):
    """The highest whole percentile with at least ten samples beyond it
    (nearest rank): ``(value, percentile, samples)``, or None when the
    sample is too small for any."""
    xs, n = sorted(xs), len(xs)
    for p in range(99, 0, -1):
        rank = math.ceil(p / 100 * n)
        if rank >= 1 and n - rank >= 10:
            return xs[rank - 1], p, n
    return None


def end_to_end(run) -> dict[str, float]:
    return {"setup_s": run.setup_s, "step_p50_s": med(run.steps)}


def user_lines(run, workload: str) -> list[str]:
    """The workload's user-facing figures, one per line with its unit."""
    lines = [f"setup_s {run.setup_s:.4f} s"]

    def timing(name: str, op: str) -> None:
        xs = run.ops.get(op, [])
        lines.append(f"{name} {med(xs):.4f} s (median of {len(xs)})")

    if workload == "cdc_churn":
        timing("commit_p50_s", "plans.build.commit")
        t = tail(run.ops.get("plans.build.commit", []))
        n = len(run.ops.get("plans.build.commit", []))
        lines.append(f"commit_tail_s {t[0]:.4f} s (p{t[1]} of {t[2]})" if t else
                     f"commit_tail_s n/a s ({n} samples: no percentile has 10 beyond it)")
    elif workload == "skewed_backfill":
        timing("full_refresh_s", "plans.build.full_refresh")
        timing("bulk_merge_s", "plans.build.commit")
    else:
        for name, op in (("point_lookup_s", "point_lookup"), ("time_travel_s", "time_travel"),
                         ("snapshot_s", "snapshot"), ("cdc_diff_s", "cdc_diff"),
                         ("temporal_join_s", "temporal_join"), ("asof_join_s", "asof_join"),
                         ("invariants_s", "invariants")):
            timing(name, op)
    if workload != "temporal_reads":
        wa = run.written_bytes / run.input_bytes if run.input_bytes else 0.0
        lines.append(f"write_amplification {wa:.2f} bytes/byte")
    rate = sum(run.step_rows) / sum(run.steps) if run.steps else 0.0
    lines.append(f"rows_per_s {rate:.1f} rows/s (input rows per second of timed steps)")
    ratio = run.failed / run.attempted if run.attempted else 0.0
    lines.append(f"failed_op_ratio {ratio:.4f} ratio ({run.failed} of {run.attempted})")
    lines.append(f"peak_storage_mb {max(run.storage_mb, default=0.0):.3f} MB")
    return lines


def per_layer(run, get_spark_s: float, jobs: dict, persisted_after: int,
              storage_after_mb: float) -> dict[str, float]:
    lo, hi = run.window
    all_spans = run.tracer.spans
    kids = sp.children(all_spans)
    by_id = {s.op_id: s for s in all_spans}
    groups = sp.by_group(jobs)
    named: dict[str, list] = defaultdict(list)
    for s in all_spans:
        if lo <= s.start and s.end <= hi:
            named[s.name].append(s)

    def tree_jobs(s):
        return [j for t in sp.subtree(s, kids) for j in groups.get(t.op_id, [])]

    def tracker_jobs(s):  # inclusive count from the status tracker
        return sum(len(t.jobs) for t in sp.subtree(s, kids))

    def self_s(name):
        return med(sp.self_time(s, kids) for s in named[name])

    def dur(name):
        return med(s.seconds for s in named[name])

    def roll(s, own=False):
        return sp.rollup(groups.get(s.op_id, []) if own else tree_jobs(s), s.start, s.end)

    m = {
        "session.get_spark_s": get_spark_s,
        "sources.high_water_mark.self_s": self_s("sources.high_water_mark"),
        "sources.high_water_mark.jobs": med(map(tracker_jobs, named["sources.high_water_mark"])),
        "sources.incremental_source.self_s": self_s("sources.incremental_source"),
    }
    commits = named["plans.build.commit"]
    m["plans.build.commit.self_s"] = self_s("plans.build.commit")
    m["plans.build.commit.jobs"] = med(map(tracker_jobs, commits))
    for k in ("stages", "tasks", "driver_gap_s"):
        m[f"plans.build.commit.{k}"] = med(roll(s)[k] for s in commits)
    for k in ("list_affected_s", "merge_and_stage_s", "swap_and_commit_s", "vacuum_s",
              "files_per_bucket_max", "table_files", "generations_retained"):
        m[f"plans.build.{k}"] = med(run.samples.get(f"plans.build.{k}", []))
    m["plans.build.write_amplification"] = (
        run.written_bytes / run.input_bytes if run.input_bytes else 0.0)
    m["plans.build.read.self_s"] = self_s("plans.build.read")
    refresh = named["plans.build.full_refresh"]
    m["plans.build.full_refresh.exec_s"] = med(roll(s)["exec_s"] for s in refresh)
    m["plans.build.full_refresh.shuffle_write_bytes"] = med(
        roll(s)["shuffle_write_bytes"] for s in refresh)
    m["operators.merge_fn.self_s"] = self_s("operators.merge_fn")
    m["operators.merge_fn.jobs"] = med(map(tracker_jobs, named["operators.merge_fn"]))
    m["operators.scd2_salted.keys_routed_salted"] = med(
        run.samples.get("operators.scd2_salted.keys_routed_salted", []))
    m["operators.merge.plan_s"] = dur("operators.merge.plan")
    # The merge executes when the build writes its result: the commit
    # span's own jobs, without the eager jobs inside merge_fn.
    for k in MERGE_MEASURES:
        m[f"operators.merge.{k}"] = med(roll(s, own=True)[k] for s in commits)
    for layer in READ_LAYERS:
        ops = [by_id[s.parent] for s in named[layer] if s.parent in by_id]
        m[f"{layer}.build_s"] = dur(layer)
        m[f"{layer}.plan_s"] = dur(layer + ".plan")
        m[f"{layer}.exec_s"] = dur(layer + ".exec")
        m[f"{layer}.jobs"] = med(map(tracker_jobs, ops))
        m[f"{layer}.max_task_s"] = med(roll(s)["max_task_s"] for s in ops)
    m["functions.caching.persisted_rdds_after"] = persisted_after
    m["functions.caching.storage_mb_after"] = storage_after_mb
    m["functions.caching.storage_mb_peak"] = max(run.storage_mb, default=0.0)
    busy = sp.covered([(j.start, j.end) for j in jobs.values()], lo, hi)
    m["spark.driver_gap_share"] = 1 - busy / (hi - lo) if hi > lo else 0.0
    m["spark.jobs_per_step"] = med(map(tracker_jobs, named["step"]))
    want = set(PER_LAYER) | set(BACKFILL_ONLY)
    assert set(m) == want, set(m) ^ want
    return {k: float(v) for k, v in m.items()}
