#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload release_full --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout: the package under test is the
``cqdg_etl_spark`` directory next to ``perfbench``. One driver process in
``local[nproc]`` runs a closed loop: a single client starts the next job
pass only when the previous one has finished and been checked.

Workloads (see README.md in this directory):

- ``release_full``: a generated release through pre-process and process,
  from raw TSV to the donors and files index trees.
- ``operator_suite``: two registry queries over generated star-schema
  tables, each result checked against its DuckDB oracle.

A run starts a fresh driver and measures from its first pass, as a release
job launched on its own would run. A traced run measures one traced pass
on a fresh driver instead, and gives its overhead against the job times
that untraced runs of the same workload recorded in the checkout.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
from a traced pass (spans are written to ``.perfbench/traces/``). Every
intermediate file lives under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SCRATCH = os.path.join(WORK, "scratch")
# job_s of the untraced runs, one file per workload: the reference a
# traced run gives its overhead against.
UNTRACED = os.path.join(WORK, "untraced")
UNTRACED_KEEP = 10

SETUP_REPEATS = 3

# Clinical release shape: wide and shallow, even study sizes.
RELEASE_SHAPE = dict(donors=100, children=2, ancestors=3, studies=6, skew=0.0)
# Star-schema size for the query suite.
SUITE_SIZE = dict(orders=15000, docs=200, vectors=500)

END_TO_END = {
    "setup_s": "s", "job_s": "s", "docs_per_s": "1/s",
    "output_bytes_per_doc": "B", "query_geomean_s": "s",
}


def pin_host() -> None:
    """Host settings through the environment the package already reads:
    all cores, a driver heap sized to this host, and every Spark and temp
    directory inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gib = int(fh.readline().split()[1]) / 2**20
    tmp = os.path.join(SCRATCH, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{max(1, min(4, int(mem_gib // 4)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(SCRATCH, "spark-local"),
        "TMPDIR": tmp,
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    os.environ.pop("SPARK_MASTER", None)


def sys_snapshot() -> dict:
    """Load average and cumulative CPU steal ticks, as bench.py records."""
    snap: dict = {"loadavg": list(os.getloadavg())}
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    snap["cpu_ticks_total"], snap["cpu_ticks_steal"] = sum(vals), vals[7]
    return snap


def steal_pct(start: dict, end: dict) -> float:
    dt = end["cpu_ticks_total"] - start["cpu_ticks_total"]
    return 100.0 * (end["cpu_ticks_steal"] - start["cpu_ticks_steal"]) / dt if dt else 0.0


class JvmMemory:
    """Peak resident memory of the driver JVM over a window: the kernel's
    high-water mark, reset at the start of the window."""

    def __init__(self, sc):
        self.pid = sc._jvm.java.lang.ProcessHandle.current().pid()

    def reset(self) -> None:
        with open(f"/proc/{self.pid}/clear_refs", "w") as fh:
            fh.write("5")

    def peak_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("no VmHWM")


def median_timed(fn, repeats: int) -> tuple[float, object]:
    times, out = [], None
    for _ in range(repeats):
        start = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - start)
    return statistics.median(times), out


class Workload:
    """Set-up and one job pass of a workload."""

    def __init__(self, name: str, spark, seed: int):
        self.name, self.spark, self.seed = name, spark, seed

    def setup(self) -> tuple[float, float]:
        """Returns (median seconds of the repeatable set-up, seconds of the
        one-time set-up)."""
        if self.name == "release_full":
            import corpus

            rel_dir = os.path.join(SCRATCH, "release")
            shape = corpus.Shape(**RELEASE_SHAPE)
            gen_s, self.release = median_timed(
                lambda: corpus.write_release(rel_dir, shape, self.seed), SETUP_REPEATS)
            start = time.perf_counter()
            golden = corpus.golden_documents()
            if corpus.fixture_documents() != golden or not golden <= self.release.expected:
                raise RuntimeError("package fixture no longer matches pipe_clinical_e2e golden")
            return gen_s, time.perf_counter() - start
        import suite
        import suite_data

        self.data = os.path.join(SCRATCH, "tables")
        gen_s, _ = median_timed(
            lambda: suite_data.write_tables(self.data, self.seed, **SUITE_SIZE), SETUP_REPEATS)
        start = time.perf_counter()
        self.expected = suite.oracle_results(self.data)
        return gen_s, time.perf_counter() - start

    def run_pass(self, tracer=None) -> dict:
        if self.name == "release_full":
            import clinical

            return clinical.run_pass(self.spark, self.release, SCRATCH, tracer)
        import suite

        return suite.run_pass(self.spark, self.data, self.expected, tracer)


def measure(workload: Workload, seconds: float, log) -> tuple[list[dict], int, int]:
    """Closed loop for ``seconds`` (at least one pass)."""
    passes, attempted, failed = [], 0, 0
    start = time.perf_counter()
    while attempted == 0 or time.perf_counter() - start < seconds:
        attempted += 1
        try:
            passes.append(workload.run_pass())
            log(f"pass {attempted}: {passes[-1]['wall']:.3f}s")
        except Exception:
            failed += 1
            log(f"pass {attempted} failed:\n{traceback.format_exc()}")
    return passes, attempted, failed


def geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(max(v, 1e-9)) for v in values))


def end_to_end(passes: list[dict], setup_s: float) -> dict:
    job_s = statistics.median(p["wall"] for p in passes)
    docs = statistics.median(p["docs"] for p in passes)
    out_bytes = statistics.median(p["out_bytes"] for p in passes)
    return {
        "setup_s": setup_s,
        "job_s": job_s,
        "docs_per_s": docs / job_s,
        "output_bytes_per_doc": out_bytes / docs,
        "query_geomean_s": statistics.median(geomean(p["steps"].values()) for p in passes),
    }


def record_untraced(workload: str, job_s: float) -> None:
    os.makedirs(UNTRACED, exist_ok=True)
    with open(os.path.join(UNTRACED, f"{workload}.txt"), "a") as fh:
        fh.write(f"{job_s!r}\n")


def recorded_untraced(workload: str) -> float | None:
    """Median job_s of the last untraced runs of ``workload`` in this
    checkout, or None when there were none."""
    try:
        with open(os.path.join(UNTRACED, f"{workload}.txt")) as fh:
            values = [float(line) for line in fh if line.strip()]
    except FileNotFoundError:
        return None
    return statistics.median(values[-UNTRACED_KEEP:]) if values else None


def per_layer(tracer, traced: dict, untraced_s: float | None, session_s: float,
              rss_mb: float) -> dict:
    from layers import PER_LAYER

    by_name, by_layer = tracer.by_name(), tracer.by_layer()
    values = {}
    for metric in PER_LAYER:
        head, _, field = metric.rpartition(".")
        if metric == "trace.overhead_s":
            v = traced["wall"] - untraced_s if untraced_s else 0.0
        elif metric == "trace.job_s":
            v = traced["wall"]
        elif metric == "trace.untraced_job_s":
            v = untraced_s or 0.0
        elif metric == "session.start_s":
            v = session_s
        elif metric == "session.jvm_peak_rss_mb":
            v = rss_mb
        elif field in ("spark_jobs", "spark_stages", "tasks_failed", "self_s") and head in by_layer:
            v = by_layer[head][field]
        elif metric.endswith("_s") and metric[:-2] in by_name:
            v = by_name[metric[:-2]]["self_s"]
        elif metric == "ontology.fanout":
            tagged = tracer.counts.get("ontology.tagged_rows", 0)
            v = tracer.counts.get("ontology.ancestor_rows", 0) / tagged if tagged else 0.0
        elif metric == "indexes.docs":
            v = traced["docs"] if "max_doc_bytes" in traced else 0
        elif metric == "indexes.max_doc_bytes":
            v = traced.get("max_doc_bytes", 0)
        else:
            v = tracer.counts.get(metric, 0)
        values[metric] = v
    return values


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["release_full", "operator_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cqdg_etl_spark", "session.py")):
        print(f"perfbench: no cqdg_etl_spark package next to {HERE}", file=sys.stderr)
        return 2

    def log(msg: str) -> None:
        print(f"[perfbench {args.workload}] {msg}", file=sys.stderr, flush=True)

    shutil.rmtree(SCRATCH, ignore_errors=True)
    pin_host()
    sys.path[:0] = [ROOT, HERE]
    snap0 = sys_snapshot()
    spark = None
    try:
        start = time.perf_counter()
        from cqdg_etl_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        session_s = time.perf_counter() - start
        workload = Workload(args.workload, spark, args.seed)
        gen_s, once_s = workload.setup()
        setup_s = session_s + gen_s + once_s
        log(f"setup {setup_s:.3f}s (session {session_s:.3f}, generate {gen_s:.3f}, "
            f"checks {once_s:.3f})")

        memory = JvmMemory(spark.sparkContext)
        memory.reset()
        if args.trace:
            from layers import PER_LAYER as units
            from spans import Tracer

            # One traced pass on the fresh driver, like the untraced runs'
            # passes, so its overhead is against their recorded job_s.
            tracer = Tracer(spark.sparkContext)
            attempted, failed = 1, 0
            try:
                traced = workload.run_pass(tracer)
            except Exception:
                log(f"traced pass failed:\n{traceback.format_exc()}")
                return 1
            untraced_s = recorded_untraced(args.workload)
            if untraced_s is None:
                log("no untraced run recorded in this checkout: overhead reads 0")
            log(f"traced {traced['wall']:.3f}s, untraced median {untraced_s}")
            metrics = per_layer(tracer, traced, untraced_s, session_s, memory.peak_mb())
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.write(
                os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed,
                 "untraced_job_s": untraced_s, "traced_job_s": traced["wall"]})
        else:
            passes, attempted, failed = measure(workload, args.seconds, log)
            if not passes:
                log("every pass failed")
                return 1
            metrics = end_to_end(passes, setup_s)
            units = END_TO_END
            record_untraced(args.workload, metrics["job_s"])
        snap1 = sys_snapshot()
        log(f"ops_failed_ratio {failed / attempted:.3f} ({failed}/{attempted}); "
            f"loadavg {snap1['loadavg']}; steal {steal_pct(snap0, snap1):.2f}%")
        print(json.dumps({"summary": {k: f"{v:.6g} {units[k]}" for k, v in metrics.items()}
                          | {"ops_failed_ratio": failed / attempted,
                             "loadavg": snap1["loadavg"],
                             "steal_pct": steal_pct(snap0, snap1)}}))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(SCRATCH, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
