"""Arithmetic of the lake benchmark.

Nothing here touches Spark, so every rule the benchmark reports by can
be tested on plain numbers: percentiles, span self time, job-id-range
attribution, the failure ratio, the contamination (``suspect``) rule
and the per-layer sums of one pass.

A span is a dict with ``id``, ``parent``, ``layer``, ``start`` and
``end`` (seconds), plus ``job_lo``/``job_hi``: the Spark job ids
``[job_lo, job_hi)`` launched while the span was open.
"""

from __future__ import annotations

import math
import statistics
from fractions import Fraction

# Tail percentiles tried from the highest down; one is reported only when
# at least TAIL_MIN_BEYOND samples lie beyond it.
TAIL_PERCENTILES = (99.9, 99.0, 90.0)
TAIL_MIN_BEYOND = 10

# A run is suspect when its q04 control drifts by more than this factor
# from its first stamp, in either direction.
CONTROL_DRIFT = 1.5
# ... or when the host steals more than this share of the machine's CPU
# time during the run: on a 4-core microVM, runs with 9-15% steal read
# 25-50% slower than runs with under 3%.
STEAL_SHARE = 0.05


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples, in
    exact arithmetic (99.9 / 100 * 10000 is not 9990 in floating point)."""
    return max(1, math.ceil(Fraction(str(p)) * n / 100))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(p, len(values)) - 1]


def tail_percentile(n: int) -> float | None:
    """The highest of TAIL_PERCENTILES that has at least TAIL_MIN_BEYOND
    of ``n`` samples beyond its nearest rank, or None."""
    for p in TAIL_PERCENTILES:
        if n - _rank(p, n) >= TAIL_MIN_BEYOND:
            return p
    return None


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with ``statistics.quantiles(values, n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def failed_ratio(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("no attempted calls")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..{attempted}")
    return failed / attempted


def suspect_reasons(
    load_start: float,
    load_end: float,
    cores: int,
    controls: list[float],
    steal_share: float,
) -> list[str]:
    """Why a run's figures may be contaminated; empty when it is clean.

    The 1-minute load average must stay at or below the core count at
    both ends of the run, every control stamp must stay within
    CONTROL_DRIFT of the first one, and the host may steal at most
    STEAL_SHARE of the CPU time."""
    reasons = []
    if steal_share > STEAL_SHARE:
        reasons.append(f"host stole {steal_share:.1%} of CPU time")
    if load_start > cores:
        reasons.append(f"loadavg at start {load_start:.2f} > {cores} cores")
    if load_end > cores:
        reasons.append(f"loadavg at end {load_end:.2f} > {cores} cores")
    if controls:
        first = controls[0]
        for i, c in enumerate(controls[1:], 1):
            if c > first * CONTROL_DRIFT or c * CONTROL_DRIFT < first:
                reasons.append(
                    f"control stamp {i} is {c:.3f}s against {first:.3f}s"
                )
    return reasons


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover.

    Children may overlap each other (spans on other threads), so the
    covered part is the union of their intervals clipped to the parent.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def attribute_jobs(spans: list[dict], job_ids: list[int]) -> dict[int, list[int]]:
    """Give each job to the innermost span whose job-id range holds it.

    Jobs are attributed by id range, not by job group: jobs launched from
    streaming threads never carry the caller's group. Innermost means
    the deepest span in the parent chain; a job no span holds is left
    out."""
    by_id = {s["id"]: s for s in spans}
    depth: dict[int, int] = {}

    def depth_of(sid: int) -> int:
        if sid not in depth:
            parent = by_id[sid]["parent"]
            depth[sid] = 0 if parent not in by_id else depth_of(parent) + 1
        return depth[sid]

    out: dict[int, list[int]] = {}
    for job in job_ids:
        holders = [s for s in spans if s["job_lo"] <= job < s["job_hi"]]
        if not holders:
            continue
        best = max(
            holders,
            key=lambda s: (depth_of(s["id"]), -(s["job_hi"] - s["job_lo"])),
        )
        out.setdefault(best["id"], []).append(job)
    return out


# Per-layer metrics of one pass: name -> unit, in the order they are
# printed; BENCHMARK.json lists them with the direction that is better.
LAYER_METRICS = {
    "tables.load_calls": "count",
    "tables.load_s": "s",
    "tables.load_jobs": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.cut_calls": "count",
    "queries.cut_s": "s",
    "queries.collect_calls": "count",
    "action.s": "s",
    "action.plan_s": "s",
    "action.jobs": "count",
    "action.stages": "count",
    "action.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.failed_tasks": "count",
    "spark.busy_ratio": "ratio",
    "streaming.triggers": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.plan_s": "s",
    "streaming.commit_s": "s",
    "streaming.input_rows": "count",
    "streaming.rows_per_s": "1/s",
    "streaming.jobs_per_trigger": "count",
    "dedup_index.gate_fold_calls": "count",
    "dedup_index.gate_fold_s": "s",
    "dedup_index.gate_fold_jobs": "count",
    "phash_index.gate_fold_calls": "count",
    "phash_index.gate_fold_s": "s",
    "phash_index.gate_fold_jobs": "count",
    "fs.calls": "count",
    "fs.s": "s",
}

_STAGE_SUMS = {
    "spark.executor_run_ms": "run_ms",
    "spark.executor_cpu_ms": "cpu_ms",
    "spark.gc_ms": "gc_ms",
    "spark.shuffle_read_bytes": "shuffle_read",
    "spark.shuffle_write_bytes": "shuffle_write",
    "spark.spill_bytes": "spill",
    "spark.input_bytes": "input",
    "spark.failed_tasks": "failed_tasks",
}


def _dur(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _jobs_in(spans: list[dict], job_ids: list[int]) -> list[int]:
    return [j for j in job_ids if any(s["job_lo"] <= j < s["job_hi"] for s in spans)]


def call_sums(call: dict) -> dict[str, float]:
    """Additive per-layer sums of one traced call, plus the raw totals
    the pass-level ratios are made from (keys starting with ``_``).

    ``call`` holds ``spans``, ``jobs`` (id, submit_ms, end_ms, stages),
    ``stages`` (stage id -> counters, ``executed`` flag) and
    ``triggers`` (start_ms, trigger_ms, add_batch_ms, plan_ms,
    commit_ms, rows)."""
    spans = call["spans"]
    layer = {}
    for s in spans:
        layer.setdefault(s["layer"], []).append(s)
    jobs = {j["id"]: j for j in call["jobs"]}
    job_ids = sorted(jobs)
    owner = attribute_jobs(spans, job_ids)
    stages = call["stages"]

    def stages_of(ids):
        sids = {sid for j in ids for sid in jobs[j]["stages"]}
        return [stages[sid] for sid in sorted(sids) if stages.get(sid, {}).get("executed")]

    out = dict.fromkeys(LAYER_METRICS, 0.0)
    loads = layer.get("tables", [])
    load_jobs = sum(len(owner.get(s["id"], [])) for s in loads)
    out["tables.load_calls"] = len(loads)
    out["tables.load_s"] = _dur(loads)
    out["tables.load_jobs"] = load_jobs
    builds = layer.get("queries.build", [])
    out["queries.build_s"] = _dur(builds) - out["tables.load_s"]
    out["queries.build_jobs"] = len(_jobs_in(builds, job_ids)) - load_jobs
    out["queries.cut_calls"] = len(layer.get("queries.cut", []))
    out["queries.cut_s"] = _dur(layer.get("queries.cut", []))
    out["queries.collect_calls"] = len(layer.get("queries.collect", []))
    writes = layer.get("action.write", [])
    write_jobs = _jobs_in(writes, job_ids)
    write_stages = stages_of(write_jobs)
    out["action.s"] = _dur(writes)
    out["action.plan_s"] = _dur(layer.get("action.plan", []))
    out["action.jobs"] = len(write_jobs)
    out["action.stages"] = len(write_stages)
    out["action.tasks"] = sum(st["tasks"] for st in write_stages)
    for metric, key in _STAGE_SUMS.items():
        out[metric] = sum(st[key] for st in stages_of(job_ids))
    out["_job_wall_ms"] = sum(j["end_ms"] - j["submit_ms"] for j in jobs.values())
    trig = call["triggers"]
    out["streaming.triggers"] = len(trig)
    out["streaming.trigger_s"] = sum(t["trigger_ms"] for t in trig) / 1000.0
    out["streaming.add_batch_s"] = sum(t["add_batch_ms"] for t in trig) / 1000.0
    out["streaming.plan_s"] = sum(t["plan_ms"] for t in trig) / 1000.0
    out["streaming.commit_s"] = sum(t["commit_ms"] for t in trig) / 1000.0
    out["streaming.input_rows"] = sum(t["rows"] for t in trig)
    out["_trigger_jobs"] = sum(
        1
        for j in jobs.values()
        for t in trig
        if t["start_ms"] <= j["submit_ms"] <= t["start_ms"] + t["trigger_ms"]
    )
    for lane in ("dedup_index", "phash_index"):
        folds = layer.get(lane, [])
        out[f"{lane}.gate_fold_calls"] = len(folds)
        out[f"{lane}.gate_fold_s"] = _dur(folds)
        out[f"{lane}.gate_fold_jobs"] = len(_jobs_in(folds, job_ids))
    out["fs.calls"] = len(layer.get("fs", []))
    out["fs.s"] = _dur(layer.get("fs", []))
    return out


def pass_layers(calls: list[dict], cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass: the call sums added up, and
    the ratios recomputed from the pass totals."""
    total: dict[str, float] = {}
    for call in calls:
        for k, v in call_sums(call).items():
            total[k] = total.get(k, 0.0) + v
    wall = total.pop("_job_wall_ms")
    trigger_jobs = total.pop("_trigger_jobs")
    total["spark.busy_ratio"] = (
        total["spark.executor_run_ms"] / (wall * cores) if wall > 0 else 0.0
    )
    total["streaming.rows_per_s"] = (
        total["streaming.input_rows"] / total["streaming.trigger_s"]
        if total["streaming.trigger_s"] > 0
        else 0.0
    )
    total["streaming.jobs_per_trigger"] = (
        trigger_jobs / total["streaming.triggers"]
        if total["streaming.triggers"]
        else 0.0
    )
    return total
