"""One benchmark process: set up Spark, run one workload's jobs, check each
job's output and report timings as a JSON line on stdout.

Run by ``run.py``, never directly. Protocol on stdout: ``@@READY`` once the
SparkSession is up and the package is imported, then ``@@RESULT <json>``.
Spark's own logging goes to stderr.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import core  # noqa: E402
from observe import StatusReader, Tracer, tree_cpu_s, tree_peak_rss_mb  # noqa: E402
from workloads import PKG, WORKLOADS, noop_write  # noqa: E402

PREFIX_REPEATS = 3
TRACED_JOBS = 2


def _emit(tag: str, payload=None) -> None:
    line = tag if payload is None else f"{tag} {json.dumps(payload)}"
    sys.stdout.write(line + "\n")
    sys.stdout.flush()


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit, so no process outlives us."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Runner:
    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.walls: list[float] = []
        self.cpus: list[float] = []  # process-tree CPU seconds per job

    def job(self) -> None:
        """One job: call, action and output check. Records its wall and
        CPU time; the check runs after the clock stops."""
        self.attempted += 1
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            result = self.wl.action(self.wl.call())
            wall = time.perf_counter() - t0
            self.cpus.append(tree_cpu_s() - cpu0)
            ok = self.wl.check(result)
        except Exception:  # a failed job is counted, and the run goes on
            wall = time.perf_counter() - t0
            self.cpus.append(tree_cpu_s() - cpu0)
            traceback.print_exc()
            ok = False
        if not ok:
            self.failed += 1
            print(f"job {self.attempted} failed its output check", file=sys.stderr)
        self.walls.append(wall)


def traced_job(runner: Runner, tracer: Tracer, status: StatusReader) -> dict:
    """One job with spans around the package calls, then the Spark jobs and
    SQL executions it ran, read after the clock stops."""
    first_job, first_exec = status.next_job_id(), status.next_execution_id()
    cpu0, gc0 = tree_cpu_s(), status.gc_s()
    wl = runner.wl
    runner.attempted += 1
    with tracer.span("job") as root:
        with tracer.span("call"):
            result = wl.call()
        with tracer.span("action"):
            result = wl.action(result)
    cpu = tree_cpu_s() - cpu0
    if not wl.check(result):
        runner.failed += 1
    status.drain()
    jobs = status.jobs_since(first_job)
    spans = [s for s in tracer.spans if s["id"] >= root["id"]]
    bench_spans = list(spans)
    for j in jobs:
        spans.append({"id": f"j{j['id']}", "name": "spark.job", "start": j["start"],
                      "end": j["end"], "parent": core.innermost(bench_spans, j["start"])})
    return {
        "wall": root["end"] - root["start"],
        "cpu": cpu,
        "gc_s": status.gc_s() - gc0,
        "jobs": jobs,
        "spans": spans,
        "executions": status.executions_since(first_exec),
    }


def layer_metrics(wl, traced: list[dict], prefix: dict, untraced_p50: float) -> dict:
    last = traced[-1]
    agg = core.aggregate_executions(last["executions"])
    spans, jobs = last["spans"], last["jobs"]
    selfs = core.self_times(spans)
    root = next(s for s in spans if s["name"] == "job")
    call = next(s for s in spans if s["name"] == "call")
    job_iv = [(j["start"], j["end"]) for j in jobs]
    call_iv = [(max(s, call["start"]), min(e, call["end"])) for s, e in job_iv
               if s < call["end"] and e > call["start"]]
    traced_p50 = core.median([t["wall"] for t in traced])
    out = {
        "sources.scan_s": prefix["scan"],
        "sources.bytes_read": agg["scan.bytes"],
        "sources.rows_read": agg["scan.rows"],
        "sink.bytes_written": agg["sink.bytes"],
        "sink.files_written": agg["sink.files"],
        "sink.commit_s": agg["sink.commit_s"],
        "exchange.count": agg["exchange.count"],
        "exchange.shuffle_bytes": agg["exchange.shuffle_bytes"],
        "exchange.shuffle_records": agg["exchange.shuffle_records"],
        "exchange.fetch_wait_s": agg["exchange.fetch_wait_s"],
        "agg.spill_bytes": agg["spill.bytes"],
        "agg.peak_mem_mb": agg["agg.peak_mem_bytes"] / 2**20,
        "spark.gc_s": core.median([t["gc_s"] for t in traced]),
        "arrow.python_run_s": agg["python.run_s"],
        "arrow.python_start_s": agg["python.start_s"],
        "arrow.python_init_s": agg["python.init_s"],
        "arrow.bytes_to_python": agg["python.bytes_to"],
        "arrow.bytes_from_python": agg["python.bytes_from"],
        "driver.gap_s": (root["end"] - root["start"]) - core.union_length(job_iv),
        "plan.build_s": (call["end"] - call["start"]) - core.union_length(call_iv),
        "plan.early_jobs": len(call_iv),
        "exec.jobs": len(jobs),
        "exec.stages": sum(j["stages"] for j in jobs),
        "exec.failed_tasks": sum(j["failed_tasks"] for j in jobs),
        "spark.job_cpu_s": core.median([t["cpu"] for t in traced]),
        "spark.peak_rss_mb": tree_peak_rss_mb(),
        "span.call.self_s": selfs.get("call", 0.0),
        "span.action.self_s": selfs.get("action", 0.0),
        "span.spark_jobs_s": core.union_length(job_iv),
        "trace.job_s_p50": traced_p50,
        "trace.overhead": traced_p50 / untraced_p50,
    }
    for name in wl.layer_spans:
        out[f"span.{name}.self_s"] = selfs.get(name, 0.0)
    out.update(wl.layer_metrics(agg, prefix, last))
    return out


def prefix_timings(wl) -> dict:
    """Median wall of a noop write of each public-function prefix."""
    out = {}
    for name, build in wl.prefixes().items():
        walls = []
        for _ in range(PREFIX_REPEATS):
            t0 = time.perf_counter()
            noop_write(build())
            walls.append(time.perf_counter() - t0)
        out[name] = core.median(walls)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--input", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--warmup", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--min-jobs", type=int, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--recorded-hash", type=int, default=None)
    args = ap.parse_args()

    cls = WORKLOADS[args.workload]
    session = importlib.import_module(f"{PKG}.session")
    for mod in cls.modules:
        importlib.import_module(f"{PKG}.{mod}")
    spark = session.get_spark(app_name="perfbench", cpus=args.cpus, driver_memory="2g")
    _emit("@@READY")
    try:
        if args.setup_only:
            return 0
        with open(os.path.join(args.input, "meta.json")) as f:
            meta = json.load(f)
        meta["recorded_hash"] = args.recorded_hash
        wl = cls(spark, args.input, meta, args.work)
        runner = Runner(wl)

        skip = 1 + args.warmup  # the cold job, then the warm-up
        for _ in range(skip):
            runner.job()
        result = {
            "cold_wall": runner.walls[0],
            "cold_cpu": runner.cpus[0],
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "pyspark": spark.version,
        }
        if args.trace:
            # Untraced and traced jobs alternate, so the overhead ratio
            # compares jobs at neighbouring positions of the warm-up drift.
            tracer, status = Tracer(), StatusReader(spark)
            traced = []
            for _ in range(TRACED_JOBS):
                runner.job()
                wl.install_tracing(tracer)
                try:
                    traced.append(traced_job(runner, tracer, status))
                finally:
                    tracer.unwrap()
            untraced = core.timed_walls(runner.walls, skip)
            prefix = prefix_timings(wl)
            result["layers"] = layer_metrics(wl, traced, prefix, core.median(untraced))
            with open(os.path.join(args.work, "spans.json"), "w") as f:
                json.dump([t["spans"] for t in traced], f)
        else:
            t_end = time.perf_counter() + args.seconds
            while time.perf_counter() < t_end or len(runner.walls) < skip + args.min_jobs:
                runner.job()
        result["walls"] = core.timed_walls(runner.walls, skip)
        result["attempted"], result["failed"] = runner.attempted, runner.failed
        result["job_cpus"] = runner.cpus
        result["output_hash"] = getattr(wl, "first_hash", None)
        _emit("@@RESULT", result)
        return 0
    finally:
        _stop(spark)


if __name__ == "__main__":
    sys.exit(main())
