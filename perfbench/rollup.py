"""Roll Spark's event log and the benchmark's spans up into per-layer
metrics.

Jobs are attributed to a layer by their ``spark.jobGroup.id`` (set by the
benchmark around each layer call), and tasks to jobs through the stage
ids each job lists. Time-based figures (busy time, driver gap, sink
self time) intersect job spans with the benchmark's own spans.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

MB = 1e6


@dataclass
class Job:
    submit: float  # epoch seconds
    end: float
    group: str | None
    stages: set[int]
    tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    result: int = 0
    failed_tasks: int = 0
    ran_stages: set[int] = field(default_factory=set)


def read_jobs(log_dir: str) -> list[Job]:
    jobs: dict[int, Job] = {}
    owner: dict[int, int] = {}
    events = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path):
            files = [os.path.join(path, f) for f in sorted(os.listdir(path))]
        else:
            files = [path]
        for fp in files:
            with open(fp) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                submit=ev["Submission Time"] / 1000.0,
                end=ev["Submission Time"] / 1000.0,
                group=props.get("spark.jobGroup.id"),
                stages=set(ev["Stage IDs"]),
            )
            jobs[ev["Job ID"]] = job
            for sid in job.stages:
                owner.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(owner.get(ev["Stage ID"], -1))
            if job is None:
                continue
            job.tasks += 1
            job.ran_stages.add(ev["Stage ID"])
            if ev["Task End Reason"]["Reason"] != "Success":
                job.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            job.run_s += m.get("Executor Run Time", 0) / 1000.0
            job.gc_s += m.get("JVM GC Time", 0) / 1000.0
            job.result += m.get("Result Size", 0)
            job.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            job.shuffle_write += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            job.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    return sorted(jobs.values(), key=lambda j: j.submit)


def covered(intervals, t0: float, t1: float) -> float:
    """Length of [t0, t1] covered by the union of ``intervals``."""
    total, reach = 0.0, t0
    for a, b in sorted((max(a, t0), min(b, t1)) for a, b in intervals):
        if b <= max(a, reach):
            continue
        total += b - max(a, reach)
        reach = b
    return total


def in_span(jobs: list[Job], span: dict) -> list[Job]:
    return [j for j in jobs if span["t0"] <= j.submit <= span["t1"]]


def engine(jobs: list[Job], span: dict, cores: int) -> dict[str, float]:
    """The spark.* block for the jobs submitted inside ``span``."""
    mine = in_span(jobs, span)
    wall = span["t1"] - span["t0"]
    busy = covered([(j.submit, j.end) for j in mine], span["t0"], span["t1"])
    stages = sum(len(j.ran_stages) for j in mine)
    tasks = sum(j.tasks for j in mine)
    run_s = sum(j.run_s for j in mine)
    return {
        "spark.jobs": len(mine),
        "spark.stages": stages,
        "spark.tasks": tasks,
        "spark.tasks_per_stage": tasks / stages if stages else 0.0,
        "spark.job_busy_s": busy,
        "spark.executor_cpu_s": sum(j.cpu_s for j in mine),
        "spark.executor_run_s": run_s,
        "spark.gc_s": sum(j.gc_s for j in mine),
        "spark.shuffle_write_mb": sum(j.shuffle_write for j in mine) / MB,
        "spark.shuffle_read_mb": sum(j.shuffle_read for j in mine) / MB,
        "spark.spill_mb": sum(j.spill for j in mine) / MB,
        "spark.result_mb": sum(j.result for j in mine) / MB,
        "spark.failed_tasks": sum(j.failed_tasks for j in mine),
        "spark.driver_gap_s": wall - busy,
        "spark.core_util": run_s / (wall * cores),
    }


def layer(jobs: list[Job], spans: list[dict], group: str) -> dict[str, float]:
    """Wall, jobs, executor CPU, shuffle write and driver gap of the
    spans named ``group`` (summed) and the jobs tagged with it."""
    mine = [j for j in jobs if j.group == group]
    wall = sum(s["t1"] - s["t0"] for s in spans if s["name"] == group)
    busy = sum(
        covered([(j.submit, j.end) for j in mine], s["t0"], s["t1"])
        for s in spans
        if s["name"] == group
    )
    return {
        "s": wall,
        "jobs": len(mine),
        "executor_cpu_s": sum(j.cpu_s for j in mine),
        "shuffle_write_mb": sum(j.shuffle_write for j in mine) / MB,
        "driver_gap_s": wall - busy,
    }


def span_total(spans: list[dict], name: str) -> float:
    return sum(s["t1"] - s["t0"] for s in spans if s["name"] == name)


def export_layers(jobs, spans, reports) -> dict[str, float]:
    out: dict[str, float] = {}
    facility = layer(jobs, spans, "facility")
    out["facility.lookup_s"] = facility["s"]
    out["facility.jobs"] = facility["jobs"]
    out["wide_view.assemble_s"] = span_total(spans, "wide_view")
    out["linelists.build_s"] = sum(span_total(spans, f"linelists.{r}") for r in reports)
    for r in reports:
        m = layer(jobs, spans, f"report.{r}")
        for k in ("s", "jobs", "executor_cpu_s", "driver_gap_s"):
            out[f"report.{r}.{k}"] = m[k]
    sinks = [s for s in spans if s["name"] == "csv_sink"]
    out["csv_sink.s"] = sum(s["t1"] - s["t0"] for s in sinks)
    out["csv_sink.self_s"] = out["csv_sink.s"] - sum(
        covered([(j.submit, j.end) for j in jobs], s["t0"], s["t1"]) for s in sinks
    )
    out["packaging.s"] = span_total(spans, "packaging")
    return out


def graph_layers(jobs, spans, ops) -> dict[str, float]:
    out: dict[str, float] = {}
    for op in ops:
        m = layer(jobs, spans, f"graph.{op}")
        for k in ("s", "jobs", "driver_gap_s", "executor_cpu_s", "shuffle_write_mb"):
            out[f"graph.{op}.{k}"] = m[k]
    return out


def coverage(spans: list[dict], unit: dict) -> float:
    """Share of the unit's wall time inside its direct child spans."""
    kids = [(s["t0"], s["t1"]) for s in spans if s["parent"] == "unit"]
    return covered(kids, unit["t0"], unit["t1"]) / (unit["t1"] - unit["t0"])
