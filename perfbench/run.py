"""Benchmark of the line-list export engine.

    python3 perfbench/run.py --workload clinic_month --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. One run generates the workload's
inputs from ``--seed`` (cached per seed, outside the timed process),
starts a fresh timed process (``worker.py``) that sets up a Spark
session and runs the workload's units for ``--seconds`` (at least one
unit), checks every output, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` turns on Spark's event log and the benchmark's spans and
reports the per-layer metrics instead. The exit code is 1 when an
output check fails, 2 when the run could not complete (no JSON line).
See perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import rollup  # noqa: E402
from worker import BUILDERS, GRAPH_OPS  # noqa: E402

WORKLOADS = {
    # one monthly export of the 12 line-lists for a 1,000-patient clinic
    "clinic_month": {
        "kind": "export",
        "patients": 1000,
        "month": "Nehassie",
        "year": 2015,
        "reports": [r for r in BUILDERS if r not in ("hvl", "ahd")],
    },
    # PageRank, personalized PageRank, connected components and HITS
    # over a 20k-node, 50k-edge zipf-skewed directed graph
    "graph_loops": {"kind": "graph", "nodes": 20000, "edges": 50000, "rounds": 5},
}

EXPECTED = os.path.join(HERE, "expected.json")
WORKER_TIMEOUT_S = 170
DRIVER_MEM = "4g"


class RunError(Exception):
    """The run could not produce a result."""


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_logged(cmd, env, cwd, logfile, timeout) -> int:
    """Run ``cmd`` in its own process group with its output in
    ``logfile``; return its exit code once every process of the group
    has ended (the Spark JVM outlives the Python worker by a moment)."""
    with open(logfile, "w") as out:
        proc = subprocess.Popen(
            cmd, env=env, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
        finally:
            wait_group(proc.pid)
    if code is None:
        raise RunError(f"{os.path.basename(cmd[1])} exceeded {timeout} s")
    return code


def wait_group(pgid: int, grace_s: float = 10.0) -> None:
    """Wait until no process of group ``pgid`` is left, killing the
    rest after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            os.killpg(pgid, 0 if time.monotonic() < deadline else signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def tail(path: str, n: int = 30) -> str:
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def environment(root: str, work: str, run_dir: str) -> dict:
    env = dict(os.environ)
    env.update(
        PYTHONPATH=root,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_FIXTURE_DIR=os.path.join(work, "fixtures"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    return env


def metric_units(root: str, trace: int) -> dict[str, str]:
    """name → unit of the metrics this run reports, from BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def end_to_end(res: dict) -> dict[str, float]:
    units = res["units"]
    return {
        "setup_s": res["session_up"] - res["launched"] + res["register_s"],
        "unit_s": statistics.median(u["wall_s"] for u in units),
        "unit_cpu_s": statistics.median(u["cpu_s"] for u in units),
    }


def per_layer(res: dict, spec: dict, run_dir: str, sizes: dict, loadavg: float) -> dict[str, float]:
    """Per-layer metrics of the first unit."""
    unit = res["units"][0]
    spans = [s for s in res["spans"] if unit["t0"] <= s["t0"] <= unit["t1"]]
    unit_span = next(s for s in spans if s["name"] == "unit")
    jobs = rollup.read_jobs(os.path.join(run_dir, "eventlog"))
    out = {
        "host.loadavg_1m": loadavg,
        "trace.unit_s": unit["wall_s"],
        "trace.span_coverage": rollup.coverage(spans, unit_span),
        "session.start_s": res["session_up"] - res["launched"],
        "warehouse.register_s": res["register_s"],
        "mem.peak_rss_mb": res["peak_rss_mb"],
    }
    out.update(rollup.engine(jobs, unit_span, res["cores"]))
    if spec["kind"] == "export":
        out.update(rollup.export_layers(jobs, spans, spec["reports"]))
        out["wide_view.cache_mb"] = res["cached_mb"]
        out["csv_sink.rows"] = sizes["rows"]
        out["csv_sink.mb"] = sizes["csv_bytes"] / rollup.MB
        out["packaging.in_mb"] = sizes["csv_bytes"] / rollup.MB
        out["packaging.zip_ratio"] = sizes["zip_bytes"] / max(sizes["csv_bytes"], 1)
    else:
        out.update(rollup.graph_layers(jobs, spans, GRAPH_OPS))
    return out


def check(res: dict, spec: dict, seed: int, inputs: dict, work: str, record: bool):
    """All output problems of the run, and the first unit's sizes."""
    problems, first = [], {}
    if spec["kind"] == "export":
        warehouse = os.path.join(work, "fixtures", f"seed{seed}_n{spec['patients']}")
        with open(EXPECTED) as f:
            expected = json.load(f)
        for i, unit in enumerate(res["units"]):
            found, sizes = checks.check_export(unit, warehouse, expected, seed)
            problems += found
            if i == 0:
                first = sizes
        if record and not problems:
            expected.setdefault("headers", first["headers"])
            expected.setdefault("seeds", {})[str(seed)] = first["digests"]
            with open(EXPECTED, "w") as f:
                json.dump(expected, f, indent=1, sort_keys=True)
                f.write("\n")
            log(f"recorded digests for seed {seed}")
    else:
        for unit in res["units"]:
            problems += checks.check_graph(
                unit, inputs["edges"], inputs["sources"], spec["rounds"]
            )
    return problems, first


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--record", action="store_true",
        help="store this seed's export digests in perfbench/expected.json",
    )
    args = ap.parse_args()
    loadavg = os.getloadavg()[0]
    log(f"{args.workload} seed={args.seed} trace={args.trace} loadavg_1m={loadavg:.2f}")

    root = os.getcwd()
    spec = WORKLOADS[args.workload]
    names = metric_units(root, args.trace)
    work = os.path.join(root, ".perfbench_work")
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "out"):
        os.makedirs(os.path.join(run_dir, d))
    env = environment(root, work, run_dir)
    py = sys.executable

    try:
        gen_log = os.path.join(run_dir, "inputs.log")
        code = run_logged(
            [py, os.path.join(HERE, "inputs.py"), spec["kind"], json.dumps(spec),
             str(args.seed), work],
            env, root, gen_log, timeout=300,
        )
        if code != 0:
            raise RunError(f"input generation failed:\n{tail(gen_log)}")
        with open(gen_log) as f:
            inputs = json.loads(f.read().strip().splitlines()[-1])
        worker_spec = dict(spec, **inputs)

        worker_log = os.path.join(run_dir, "worker.log")
        t0 = time.time()
        code = run_logged(
            [py, os.path.join(HERE, "worker.py"), "--kind", spec["kind"],
             "--spec", json.dumps(worker_spec), "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--work", run_dir, "--t0", repr(t0)],
            env, run_dir, worker_log, timeout=WORKER_TIMEOUT_S,
        )
        if code != 0:
            raise RunError(f"worker failed ({code}):\n{tail(worker_log)}")
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)
    except RunError as e:
        log(str(e))
        return 2

    problems, sizes = check(res, spec, args.seed, inputs, work, args.record)
    for p in problems:
        log(f"CHECK FAILED: {p}")
    if args.trace:
        values = per_layer(res, spec, run_dir, sizes, loadavg)
    else:
        values = end_to_end(res)
    metrics = {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in names.items()
    }
    correct = not problems and res["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
