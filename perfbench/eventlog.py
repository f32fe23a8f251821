"""Spark event-log parser and per-layer table builder.

Reads one uncompressed, non-rolling event log (the benchmark's traced run
writes it that way) and attributes every Spark job, with its tasks' run
time, shuffle bytes and spill, to the window that contains the job's
submission time. Windows come from outside the program:

- one per pipeline stage, from the run's own metrics table (stage start and
  end rows, partition_id == -1);
- the benchmark's timers around the eager MetricsLog calls (log_stage,
  log_partitions, compact) that fall outside every stage window;
- everything else inside the run is driver gap: stage-skip probes, stage
  re-reads and plan building.

This covers what scripts/profile_flagship.py and scripts/profile_query.py
print per job, keyed by pipeline stage instead of by call site.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass

MB = 1024 * 1024

# DedupePipeline stage -> the package module whose layer it runs
STAGE_LAYER = {
    "00_pages_clean": "normalize",
    "01_exact_edges": "exact",
    "02_sigs": "minhash",
    "03_lsh_pairs": "lsh",
    "04_sub_pairs": "substring",
    "05_edges": "verify",
    "06_members": "cc",
    "07_clusters": "canonical",
}
STAGE_METRICS = (
    ("wall_s", "s"),
    ("jobs", "count"),
    ("task_s", "s"),
    ("shuffle_read_mb", "MB"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("rows_out", "count"),
)
EXTRA_METRICS = (
    ("lsh.dropped_buckets", "count"),
    ("substring.dropped_buckets", "count"),
    ("verify.yield", "ratio"),
    ("metrics.wall_s", "s"),
    ("metrics.jobs", "count"),
    ("metrics.calls", "count"),
    ("metrics.files", "count"),
    ("driver.gap_s", "s"),
    ("driver.idle_s", "s"),
    ("pipeline.wall_s", "s"),
    ("pipeline.jobs", "count"),
    ("pipeline.resume_s", "s"),
    ("pipeline.peak_rss_mb", "MB"),
    ("session.launch_s", "s"),
)


def layer_metric_units() -> dict[str, str]:
    """Every per-layer metric name the traced run reports, with its unit."""
    units = {
        f"{layer}.{name}": unit
        for layer in STAGE_LAYER.values()
        for name, unit in STAGE_METRICS
    }
    units.update(EXTRA_METRICS)
    return units


@dataclass
class Job:
    submit: float  # epoch seconds
    end: float
    stages: list[int]
    task_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0


def parse(path: str) -> dict[int, Job]:
    """Jobs by id, with their task totals, from one event-log file."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            # cheap prefilter: most lines are events this parser ignores
            if '"SparkListenerJob' not in line and '"SparkListenerTaskEnd"' not in line:
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                job = Job(ev["Submission Time"] / 1000, float("nan"), ev["Stage IDs"])
                jobs[ev["Job ID"]] = job
                for sid in job.stages:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    for ev in tasks:
        job = jobs.get(stage_job.get(ev["Stage ID"], -1))
        if job is None:
            continue
        info = ev.get("Task Info", {})
        if "Finish Time" in info and "Launch Time" in info:
            job.task_s += (info["Finish Time"] - info["Launch Time"]) / 1000
        tm = ev.get("Task Metrics") or {}
        rd = tm.get("Shuffle Read Metrics", {})
        job.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        job.shuffle_write += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        job.spill += tm.get("Disk Bytes Spilled", 0)
    return jobs


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of intervals."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def layer_table(
    jobs: dict[int, Job],
    run: tuple[float, float],
    stages: list[dict],
    metric_calls: list[tuple[str, float, float]],
) -> dict[str, float]:
    """Per-layer numbers of one pipeline run.

    run: (start, end) epoch seconds of DedupePipeline.run.
    stages: metrics-table stage rows as dicts with stage, start, end (epoch
      seconds) and rows_out; `<stage>/dropped_hot_buckets` rows carry the
      dropped-bucket count in rows_out.
    metric_calls: (method, start, end) of every MetricsLog call in the run.
    """
    t0, t1 = run
    windows = [s for s in stages if s["stage"] in STAGE_LAYER]
    stage_iv = [(s["start"], s["end"]) for s in windows]
    outside = []  # metrics-call time not inside any stage window
    for _, a, b in metric_calls:
        inside = _covered(stage_iv, a, b)
        if inside < b - a:
            outside.append((a, b))
    attributed = _covered(stage_iv + outside, t0, t1)
    metric_s = attributed - _covered(stage_iv, t0, t1)
    run_jobs = [j for j in jobs.values() if t0 <= j.submit <= t1]

    out: dict[str, float] = {}
    for layer in STAGE_LAYER.values():
        for name, _ in STAGE_METRICS:
            out[f"{layer}.{name}"] = 0.0

    def owner(j: Job) -> str | None:
        """Layer of the window holding the job's submission; None = gap."""
        for s in windows:
            if s["start"] <= j.submit <= s["end"]:
                return STAGE_LAYER[s["stage"]]
        if any(a <= j.submit <= b for a, b in outside):
            return "metrics"
        return None

    metric_jobs = 0
    for j in run_jobs:
        who = owner(j)
        if who == "metrics":
            metric_jobs += 1
        elif who is not None:
            out[f"{who}.jobs"] += 1
            out[f"{who}.task_s"] += j.task_s
            out[f"{who}.shuffle_read_mb"] += j.shuffle_read / MB
            out[f"{who}.shuffle_write_mb"] += j.shuffle_write / MB
            out[f"{who}.spill_mb"] += j.spill / MB
    for s in windows:
        layer = STAGE_LAYER[s["stage"]]
        out[f"{layer}.wall_s"] = s["end"] - s["start"]
        out[f"{layer}.rows_out"] = float(s["rows_out"] or 0)
    dropped = {s["stage"]: s["rows_out"] or 0 for s in stages}
    out["lsh.dropped_buckets"] = float(dropped.get("03_lsh_pairs/dropped_hot_buckets", 0))
    out["substring.dropped_buckets"] = float(
        dropped.get("04_sub_pairs/dropped_hot_buckets", 0)
    )
    cands = out["lsh.rows_out"] + out["substring.rows_out"]
    out["verify.yield"] = out["verify.rows_out"] / cands if cands else 0.0
    out["metrics.wall_s"] = metric_s
    out["metrics.jobs"] = float(metric_jobs)
    out["metrics.calls"] = float(len(metric_calls))
    out["driver.gap_s"] = (t1 - t0) - attributed
    out["driver.idle_s"] = (t1 - t0) - _covered(
        [(j.submit, j.end) for j in run_jobs if not math.isnan(j.end)], t0, t1
    )
    out["pipeline.wall_s"] = t1 - t0
    out["pipeline.jobs"] = float(len(run_jobs))
    return out
