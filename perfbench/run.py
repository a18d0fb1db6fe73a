#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload graph_queries --seed 1 --seconds 5 --trace 0

Workloads: graph_queries, rmat_iterative, rmat_motifs (see README.md).
``--trace 0`` prints the end-to-end metrics. ``--trace 1`` first makes an
untraced run of the same workload and seed in a child process, the baseline
of the tracing overhead, then runs the same way with the Spark event log on
and prints the per-layer metrics. The full
record (spans, per-operation numbers, host stamps) is written under
perfbench/.work/records/. Exits 2 when the engine package is not found
next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3  # the first also starts the JVM; setup_s is the median of the rest
CHILD_TIMEOUT_S = 100

END_TO_END = {"wall_s": "s", "setup_s": "s", "spark_jobs": "count"}
SPARK_TOTALS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "job_wall_s": "s",
    "driver_s": "s",
    "job_overhead_s": "s",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "gc_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "python_eval_s": "s",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.workloads import GRAPH_FAMILIES, NAMED_QUERIES

    units = {"session.start_s": "s", "sources.load_s": "s"}
    for fam in GRAPH_FAMILIES:
        units[f"queries.{fam}.s"] = "s"
        units[f"queries.{fam}.jobs"] = "count"
    for q in NAMED_QUERIES:
        units[f"queries.{q}.s"] = "s"
    for op in ("connected_components", "triangle_count", "clustering", "jaccard"):
        units[f"operators.{op}.s"] = "s"
        units[f"operators.{op}.jobs"] = "count"
    units["operators.connected_components.rounds"] = "count"
    for name in ("motif.find.s", "graph.adjacency.s", "graph.degrees.s"):
        units[name] = "s"
    units["util.cached_mb"] = "MB"
    for k, u in SPARK_TOTALS.items():
        units[f"spark.{k}"] = u
    units["trace.overhead_s"] = "s"
    return units


def configure_env(work: str, event_log: bool) -> None:
    """Host hygiene: one core per Spark slot, every scratch file inside
    ``work``, and the engine importable by the Python workers."""
    from perfbench.harness import submit_args

    cpus = len(os.sched_getaffinity(0))
    for sub in ("spark-local", "tmp", "eventlog", "data"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_DRIVER_MEM": "4g",
            "TMPDIR": os.path.join(work, "tmp"),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_SUBMIT_ARGS": submit_args(work, event_log),
            # the spark-submit launcher JVM, which the driver options miss
            "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )


def run_pass(wl, spark, tracer, run_idx: int, tag: str):
    from perfbench.harness import Runner

    idx = tracer.open(wl.name, "workload", run_idx)
    runner = Runner(spark, tracer, idx, tag)
    t0 = time.perf_counter()
    wl.run(runner)
    wall = time.perf_counter() - t0
    tracer.close(idx, wall_s=round(wall, 6))
    return wall, runner.results, idx


def setup(wl, session) -> dict:
    t0 = time.perf_counter()
    spark = session.start()
    t1 = time.perf_counter()
    wl.prepare()
    wl.load(spark)
    t2 = time.perf_counter()
    return {"session_s": t1 - t0, "load_s": t2 - t1}


def check(wl, spark, passes) -> list[dict]:
    """One row per attempted operation: raised, failed its check, or ok."""
    rows = []
    for p, (_, results, _) in enumerate(passes):
        ok = [r for r in results if r.error is None]
        try:
            problems = wl.check(spark, ok) if ok else {}
        except Exception:  # malformed output fails its check, not the run
            err = traceback.format_exc(limit=3)
            print(f"# check of pass {p} raised\n{err}", file=sys.stderr)
            problems = {r.name: f"check raised: {err}" for r in ok}
        for r in results:
            problem = r.error or problems.get(r.name)
            rows.append(
                {"pass": p, "op": r.name, "layer": r.layer,
                 "s": round(r.seconds, 4), "jobs": r.jobs,
                 "cached_mb": round(r.cached_mb, 3), **r.extra,
                 "problem": problem}
            )
    return rows


def untraced_run(args) -> dict:
    """The result line of an untraced run of the same workload and seed,
    made by a child process with a JVM of its own. Its wall_s is the
    baseline of trace.overhead_s: a pass of the same kind and inputs as
    the traced one, in an equally cold JVM."""
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
        stdout=subprocess.PIPE, text=True,
    )
    try:
        out, _ = child.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        child.kill()  # its JVM exits when the child's end of the gateway closes
        child.wait()
        raise
    if child.returncode != 0:
        raise RuntimeError(f"untraced run exited with {child.returncode}")
    return json.loads(out.strip().splitlines()[-1])


def bench(args, work: str, baseline: dict | None) -> tuple[dict, dict]:
    from perfbench import eventlog, harness
    from perfbench.workloads import WORKLOADS

    tracer = harness.Tracer()
    run_idx = tracer.open("run", "run", None)
    wl = WORKLOADS[args.workload](work, args.seed)
    session = harness.Session(work)
    trace = baseline is not None
    record: dict = {"workload": args.workload, "seed": args.seed,
                    "trace": args.trace, "seconds": args.seconds}
    try:
        setups = [setup(wl, session) for _ in range(SETUPS)]
        guard = wl.guard()
        spark = session.spark
        load0, stat0 = harness.read_loadavg(), harness.read_proc_stat()
        record["calibration"] = harness.calibration(spark)
        passes = []
        t_start = time.perf_counter()
        while not passes or time.perf_counter() - t_start < args.seconds:
            if passes:
                wl.reset(spark)
            passes.append(run_pass(wl, spark, tracer, run_idx, f"p{len(passes)}"))
        t_check = time.perf_counter()
        rows = check(wl, spark, passes)
        record["check_s"] = time.perf_counter() - t_check
        app_id = spark.sparkContext.applicationId
        record["host"] = harness.host_conditions(
            stat0, harness.read_proc_stat(), load0, harness.read_loadavg()
        )
    finally:
        session.close()

    failed = sum(1 for r in rows if r["problem"]) + len(guard)
    attempted = len(rows) + 1
    if trace:  # the baseline run's operations count too
        failed += baseline["failed"]
        attempted += baseline["attempted"]
        record["untraced_wall_s"] = baseline["metrics"]["wall_s"]["value"]
    record.update(
        setups=setups, guard={"problems": guard, **wl.guard_info}, ops=rows,
        pass_walls=[p[0] for p in passes],
        fail_frac=failed / attempted,
    )
    if not trace:
        metrics = {
            "wall_s": statistics.median([p[0] for p in passes]),
            "setup_s": statistics.median(
                [s["session_s"] + s["load_s"] for s in setups[1:]]
            ),
            "spark_jobs": statistics.median([sum(r.jobs for r in p[1]) for p in passes]),
        }
        units = END_TO_END
    else:
        wall, results, idx = passes[0]
        op_spans = {
            s.attrs["group"]: i
            for i, s in enumerate(tracer.spans)
            if s.parent == idx and s.kind == "operation"
        }
        spark_totals = eventlog.attach(
            tracer, op_spans,
            eventlog.read_events(os.path.join(session.event_dir, app_id)),
        )
        spark_totals["driver_s"] = max(0.0, wall - spark_totals["job_wall_s"])
        units = per_layer_units()
        metrics = dict.fromkeys(units, 0.0)
        metrics.update(
            {
                "session.start_s": statistics.median(
                    s["session_s"] for s in setups[1:]
                ),
                "sources.load_s": statistics.median(s["load_s"] for s in setups[1:]),
                "util.cached_mb": max(r.cached_mb for r in results),
                "trace.overhead_s": wall - record["untraced_wall_s"],
                **{f"spark.{k}": v for k, v in spark_totals.items()},
                **wl.layer_metrics(results),
            }
        )
        record["op_self_s"] = {
            tracer.spans[i].name: round(
                tracer.spans[i].end - tracer.spans[i].start - eventlog.union_s(
                    [(j.start, j.end) for j in tracer.children(i, "job")]
                ), 6)
            for i in op_spans.values()
        }
    tracer.close(run_idx)
    record["spans"] = tracer.to_json()
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()
        },
    }
    return result, record


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["graph_queries", "rmat_iterative", "rmat_motifs"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "pyspark_graph_spark", "__init__.py")):
        print(f"engine package pyspark_graph_spark not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(HERE, ".work")
    records = os.path.join(base, "records")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    baseline = untraced_run(args) if args.trace else None
    configure_env(work, bool(args.trace))
    try:
        result, record = bench(args, work, baseline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(records, exist_ok=True)
    out = os.path.join(records, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(
        f"# {args.workload} seed={args.seed}: fail_frac="
        f"{result['failed']}/{result['attempted']}="
        f"{result['failed'] / result['attempted']:.4f}; "
        + ", ".join(f"{k}={v['value']:.4g} {v['unit']}" for k, v in result["metrics"].items()
                    if args.trace == 0)
        + f"; record {os.path.relpath(out, ROOT)}"
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
