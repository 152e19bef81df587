"""The timed process of one benchmark run.

Started by ``run.py`` with the inputs already generated. It starts the
Spark session, registers the inputs, runs the workload's units and
writes what it measured to ``<work>/result.json``; the outputs it
produced stay under ``<work>/out`` for ``run.py`` to check.

With ``--trace 1`` it also enables Spark's event log, sets a job group
around every layer call and records a span per call (name, parent,
epoch start/end). The spans wrap the program's public functions from
outside: module attributes that ``run_export`` resolves at call time are
replaced for the duration of the run. Nothing in the program changes.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import sys
import time
import traceback

#: report name (as in the per-layer metrics) → native line-list builder
BUILDERS = dict([
    ("tx_curr", "tx_curr_linelist"),
    ("vl_received", "tx_curr_vl_received_linelist"),
    ("ahd", "tx_curr_ahd_linelist"),
    ("hvl", "tx_curr_hvl_linelist"),
    ("vl_eligible_new", "tx_curr_vl_eligible_new_linelist"),
    ("tpt", "tx_curr_tpt_linelist"),
    ("outcome", "tx_curr_outcome"),
    ("cca_new", "tx_curr_cca_new_linelist"),
    ("cca", "tx_curr_cca_linelist"),
    ("vl_eligible", "tx_curr_vl_eligible_linelist"),
    ("pmtct_maternal", "pmtct_maternal_linelist"),
    ("pmtct_hei", "pmtct_hei_linelist"),
])

GRAPH_OPS = ("pagerank", "ppr", "cc", "hits")

CLK_TCK = os.sysconf("SC_CLK_TCK")


def proc_cpu_s(pid: int) -> float:
    """utime + stime of a process, from /proc (all its threads)."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def proc_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Tracer:
    """Spans and job groups around layer calls. Inactive when the run
    is untraced: ``open`` and ``close`` then do nothing."""

    def __init__(self, sc, active: bool):
        self.sc = sc
        self.active = active
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        #: the open report span: opened by its builder, closed when its
        #: CSV sink returns
        self.report: dict | None = None

    def open(self, name: str, group: str | None = None) -> dict | None:
        if not self.active:
            return None
        rec = {
            "name": name,
            "parent": self.stack[-1]["name"] if self.stack else None,
            "group": group,
            "prior_group": self.sc.getLocalProperty("spark.jobGroup.id"),
            "t0": time.time(),
        }
        if group is not None:
            self.sc.setJobGroup(group, name)
        self.stack.append(rec)
        return rec

    def close(self, rec: dict | None, ok: bool = True) -> None:
        if rec is None or not any(r is rec for r in self.stack):
            return
        rec["t1"] = time.time()
        rec["ok"] = ok
        self.stack = [r for r in self.stack if r is not rec]
        prior = rec.pop("prior_group")
        if rec["group"] is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", prior)
        self.spans.append(rec)

    def wrap(self, name: str, fn, group: str | None = None):
        def traced(*args, **kwargs):
            rec = self.open(name, group)
            try:
                out = fn(*args, **kwargs)
            except BaseException:
                self.close(rec, ok=False)
                raise
            self.close(rec)
            return out

        return traced


class ReportFailures(logging.Handler):
    """Counts ``run_export``'s per-report "Error executing query"
    records: a failed report and an empty one both return None."""

    def __init__(self):
        super().__init__(logging.ERROR)
        self.failed: list[str] = []

    def emit(self, record: logging.LogRecord) -> None:
        if str(record.msg).startswith("Error executing query"):
            self.failed.append(str(record.args[0]) if record.args else "?")


def session(args, trace: bool):
    from data_export_tool_spark.session import get_spark

    work = os.path.abspath(args.work)
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", extra_conf=conf)


def run_units(seconds: float, unit) -> list[dict]:
    """Run ``unit(i)`` back to back until ``seconds`` have passed; at
    least once. Each record carries wall and CPU seconds."""
    units = []
    start = time.perf_counter()
    while not units or time.perf_counter() - start < seconds:
        rec = unit(len(units))
        units.append(rec)
    return units


def timed(fn, jvm_pid: int) -> dict:
    """Wall and CPU (Python driver + JVM) of one call."""
    c_py, c_jvm = time.process_time(), proc_cpu_s(jvm_pid)
    t0, p0 = time.time(), time.perf_counter()
    fn()
    return {
        "t0": t0,
        "t1": time.time(),
        "wall_s": time.perf_counter() - p0,
        "cpu_s": (time.process_time() - c_py) + (proc_cpu_s(jvm_pid) - c_jvm),
    }


def export_workload(args, spark, tracer: Tracer, jvm_pid: int, result: dict):
    import inspect

    from data_export_tool_spark.__main__ import register_parquet_warehouse
    from data_export_tool_spark.mamba import facility as facility_mod
    from data_export_tool_spark.mamba import linelists
    from data_export_tool_spark.mamba import reports as reports_mod
    from data_export_tool_spark.mamba.fixture_store import fixture_dir
    from data_export_tool_spark.mamba.reports import FOLLOW_UP_WIDE_VIEW
    from data_export_tool_spark.plans import registry as registry_mod
    from data_export_tool_spark.plans.registry import ReportRegistry, run_export

    spec = json.loads(args.spec)
    warehouse = fixture_dir(args.seed, spec["patients"])
    t = time.perf_counter()
    names = register_parquet_warehouse(spark, warehouse)
    result["register_s"] = time.perf_counter() - t
    tables = {n: spark.table(n) for n in names}

    registry = ReportRegistry()
    for report in spec["reports"]:
        fn = getattr(linelists, BUILDERS[report])
        takes_wide = "follow_up" in inspect.signature(fn).parameters

        def build(s, window, fn=fn, takes_wide=takes_wide, report=report):
            tracer.report = tracer.open(f"report.{report}", f"report.{report}")
            rec = tracer.open(f"linelists.{report}")
            try:
                kw = {"follow_up": s.table(FOLLOW_UP_WIDE_VIEW)} if takes_wide else {}
                df = fn(tables, window.start, window.end, **kw)
            except BaseException:
                tracer.close(rec, ok=False)
                tracer.close(tracer.report, ok=False)
                raise
            tracer.close(rec)
            return df

        registry.register_builder(report, build)

    failures = ReportFailures()
    logging.getLogger().addHandler(failures)
    # (module, attribute, replacement) while the units run
    patches = []
    cached_mb = [0.0]
    if tracer.active:
        write_csv = registry_mod.write_query_csv

        def sink(*a, **kw):
            rec = tracer.open("csv_sink")
            try:
                return write_csv(*a, **kw)
            finally:
                tracer.close(rec)
                tracer.close(tracer.report)
                cached_mb.append(storage_mb(spark))

        patches = [
            (registry_mod, "write_query_csv", sink),
            (registry_mod, "zip_files_with_checksum",
             tracer.wrap("packaging", registry_mod.zip_files_with_checksum, "packaging")),
            (facility_mod, "lookup_facility_identity",
             tracer.wrap("facility", facility_mod.lookup_facility_identity, "facility")),
            (reports_mod, "ensure_follow_up_wide",
             tracer.wrap("wide_view", reports_mod.ensure_follow_up_wide, "wide_view")),
        ]
    originals = [(m, a, getattr(m, a)) for m, a, _ in patches]
    for m, a, fn in patches:
        setattr(m, a, fn)

    def unit(i: int) -> dict:
        out = os.path.join(args.work, "out", f"unit{i}")
        written = {}
        n_failed = len(failures.failed)

        def body():
            rec = tracer.open("unit", "unit")
            try:
                written.update(
                    run_export(
                        spark,
                        registry,
                        None,
                        spec["month"],
                        spec["year"],
                        out,
                        zip_name="export",
                        month_label=spec["month"],
                    )
                )
            finally:
                tracer.close(rec)

        rec = timed(body, jvm_pid)
        rec["written"] = {k: (os.path.basename(v) if v else None) for k, v in written.items()}
        rec["failed"] = failures.failed[n_failed:]
        rec["out"] = out
        return rec

    try:
        result["units"] = run_units(args.seconds, unit)
    finally:
        logging.getLogger().removeHandler(failures)
        for m, a, fn in originals:
            setattr(m, a, fn)
    result["cached_mb"] = max(cached_mb)
    result["attempted"] = len(spec["reports"]) * len(result["units"])
    result["failed"] = sum(len(u["failed"]) for u in result["units"])


def storage_mb(spark) -> float:
    """Memory held by cached RDD blocks right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(info.memSize() for info in infos) / 1e6


def graph_workload(args, spark, tracer: Tracer, jvm_pid: int, result: dict):
    import pyarrow.parquet as pq

    from data_export_tool_spark.operators import graph as G

    spec = json.loads(args.spec)
    path = os.path.abspath(spec["edges"])
    t = time.perf_counter()
    spark.read.parquet(path).createOrReplaceTempView("edges")
    result["register_s"] = time.perf_counter() - t
    edges = spark.table("edges")
    sources = spec["sources"]
    rounds = spec["rounds"]
    calls = {
        "pagerank": lambda: G.pagerank(edges, "src", "dst", max_iter=rounds, tol=0.0),
        "ppr": lambda: G.personalized_pagerank(
            edges, sources, "src", "dst", max_iter=rounds, tol=0.0
        ),
        "cc": lambda: G.connected_components(edges, "src", "dst"),
        "hits": lambda: G.hits(edges, "src", "dst", n_iter=rounds),
    }

    def unit(i: int) -> dict:
        outputs, failed = {}, []

        def body():
            rec = tracer.open("unit", "unit")
            try:
                for op in GRAPH_OPS:
                    # collecting the result is part of the op: the
                    # caller of a graph loop consumes its table
                    call = tracer.wrap(
                        f"graph.{op}", lambda op=op: calls[op]().toArrow(), f"graph.{op}"
                    )
                    try:
                        outputs[op] = call()
                    except Exception:
                        traceback.print_exc()
                        failed.append(op)
            finally:
                tracer.close(rec)

        rec = timed(body, jvm_pid)
        out = os.path.join(args.work, "out", f"unit{i}")
        os.makedirs(out, exist_ok=True)
        for op, table in outputs.items():
            pq.write_table(table, os.path.join(out, f"{op}.parquet"))
        rec["failed"] = failed
        rec["out"] = out
        return rec

    result["units"] = run_units(args.seconds, unit)
    result["attempted"] = len(GRAPH_OPS) * len(result["units"])
    result["failed"] = sum(len(u["failed"]) for u in result["units"])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--kind", choices=("export", "graph"), required=True)
    ap.add_argument("--spec", required=True, help="workload parameters, JSON")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--t0", type=float, required=True, help="epoch at process launch")
    args = ap.parse_args()

    result: dict = {"launched": args.t0}
    spark = session(args, bool(args.trace))
    result["session_up"] = time.time()
    sc = spark.sparkContext
    jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
    result["cores"] = sc.defaultParallelism
    tracer = Tracer(sc, bool(args.trace))
    try:
        if args.kind == "export":
            export_workload(args, spark, tracer, jvm_pid, result)
        else:
            graph_workload(args, spark, tracer, jvm_pid, result)
        result["peak_rss_mb"] = proc_hwm_mb(jvm_pid) + proc_hwm_mb(os.getpid())
    finally:
        result["spans"] = tracer.spans
        spark.stop()
        with open(os.path.join(args.work, "result.json"), "w") as f:
            json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
