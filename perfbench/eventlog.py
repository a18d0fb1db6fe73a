"""Per-layer Spark numbers from the event log of the traced pass.

Jobs are attributed to benchmark operations through their job group;
stages to jobs through the job-start event; tasks to stages by id.
"""

from __future__ import annotations

import json

from perfbench.harness import Span, Tracer

MB = 1e6


def read_events(path: str) -> list[dict]:
    """Events of one stopped Spark application's log."""
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of (start, end) intervals."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def attach(tracer: Tracer, op_spans: dict[str, int], events: list[dict]) -> dict:
    """Add job and stage spans under the operation spans whose job group
    they ran in, and return the pass-level Spark totals."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    tasks: dict[tuple[int, int], list[dict]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group in op_spans:
                jobs[ev["Job ID"]] = {
                    "group": group,
                    "start": ev["Submission Time"] / 1e3,
                    "stages": set(ev["Stage IDs"]),
                }
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            stages[key] = {
                "start": info.get("Submission Time", 0) / 1e3,
                "end": info.get("Completion Time", 0) / 1e3,
                "accumulables": info.get("Accumulables", []),
            }
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            tasks.setdefault(key, []).append(ev)

    totals = {
        "jobs": 0, "stages": 0, "tasks": 0, "job_overhead_s": 0.0,
        "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        "python_eval_s": 0.0,
    }
    intervals = []
    for job_id, job in sorted(jobs.items()):
        end = job.get("end", job["start"])
        jidx = tracer.add(
            Span(f"job {job_id}", "job", job["start"], end, op_spans[job["group"]])
        )
        intervals.append((job["start"], end))
        totals["jobs"] += 1
        longest_sum = 0.0
        for key in sorted(k for k in stages if k[0] in job["stages"]):
            st = stages[key]
            tracer.add(Span(f"stage {key[0]}.{key[1]}", "stage", st["start"], st["end"], jidx))
            totals["stages"] += 1
            longest = 0.0
            for t in tasks.get(key, []):
                info, m = t["Task Info"], t.get("Task Metrics") or {}
                longest = max(longest, (info["Finish Time"] - info["Launch Time"]) / 1e3)
                totals["tasks"] += 1
                totals["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                totals["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                totals["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                rd = m.get("Shuffle Read Metrics") or {}
                totals["shuffle_read_mb"] += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                ) / MB
                wr = m.get("Shuffle Write Metrics") or {}
                totals["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / MB
                totals["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            longest_sum += longest
            for acc in st["accumulables"]:
                # SQL metric of the Python UDF / Arrow evaluation nodes
                if "python" in str(acc.get("Name", "")).lower() and "time" in str(
                    acc.get("Name", "")
                ).lower():
                    totals["python_eval_s"] += float(acc.get("Value", 0)) / 1e3
        totals["job_overhead_s"] += max(0.0, end - job["start"] - longest_sum)
    totals["job_wall_s"] = union_s(intervals)
    return totals
