"""Benchmark entry point.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. For one workload and seed it
generates (or reuses) the inputs, then starts fresh Python processes: one
that only sets up Spark, and one that sets up, runs a cold first job, a
fixed warm-up and timed jobs for ``--seconds``, checking every job's output.
With ``--trace 1`` the job process also runs traced jobs and reports
per-layer metrics instead of the end-to-end ones. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import core  # noqa: E402
from inputs import ensure_inputs  # noqa: E402
from workloads import PKG, WORKLOADS  # noqa: E402

# Cores given to Spark: local[N] with N at most nproc.
MAX_CPUS = 4
# Jobs run and discarded after the cold one. Job walls keep falling for
# ten or more jobs after a cold start (JIT), most on neardup and knn. A
# budget of 22 runs per workload in under an hour allows no run past that
# drift, so every run times the same job positions instead: two warm-up
# jobs past the steepest part, then at least three timed jobs, of which the
# median counts.
WARMUP_JOBS = 2
MIN_TIMED_JOBS = 3
# Setup-only processes per run; with the job process's own setup they give
# the samples whose median is setup_s.
SETUP_PROBES = 1
RUN_DEADLINE_S = 170
WORK = os.path.join(ROOT, ".perfbench")


def _env(cpus: int) -> dict:
    """Environment of the benchmark's processes: the load pinned to this
    box, every scratch file inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "OPENBLAS_NUM_THREADS": "1",
        "OMP_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
    })
    return env


def _group_alive(pgid: int) -> bool:
    """Whether a process of group ``pgid`` is still running (zombies,
    waiting for a parent that is not ours to reap them, do not count)."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                st = core.parse_proc_stat(f.read())
        except (FileNotFoundError, ProcessLookupError):
            continue
        if st["pgrp"] == pgid and st["state"] != "Z":
            return True
    return False


def _end_group(pgid: int) -> None:
    """Stop every process left in the group and wait until all have ended."""
    for sig, wait_s in ((signal.SIGTERM, 10), (signal.SIGKILL, 30)):
        t_end = time.monotonic() + wait_s
        while _group_alive(pgid):
            if time.monotonic() > t_end:
                break
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
            time.sleep(0.1)
        else:
            return
    raise RuntimeError(f"processes of group {pgid} did not end")


class Child:
    """A worker process whose stdout lines arrive, stamped, on a queue."""

    def __init__(self, args: list[str], env: dict, log_path: str, deadline: float):
        self.deadline = deadline
        self.log = open(log_path, "ab")
        self.t0 = time.monotonic()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            stdout=subprocess.PIPE, stderr=self.log, env=env,
            cwd=WORK, start_new_session=True,
        )
        self.lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self) -> None:
        for raw in self.proc.stdout:
            self.lines.put((time.monotonic(), raw.decode(errors="replace").rstrip("\n")))
        self.lines.put((time.monotonic(), None))

    def expect(self, tag: str) -> tuple[float, str]:
        """Seconds from process start to the first line tagged ``tag``, and
        the rest of that line."""
        while True:
            try:
                t, line = self.lines.get(timeout=max(self.deadline - time.monotonic(), 0.01))
            except queue.Empty:
                raise TimeoutError(f"no {tag} before the deadline") from None
            if line is None:
                raise RuntimeError(f"worker exited before {tag}")
            if line.startswith(tag):
                return t - self.t0, line[len(tag):].strip()

    def __enter__(self):
        return self

    def __exit__(self, exc_type, *_) -> None:
        """Let the worker exit on its own after a normal run; after an error,
        or past the deadline, stop its whole process group."""
        try:
            if exc_type is None:
                self.proc.wait(timeout=max(self.deadline - time.monotonic(), 1))
        finally:
            _end_group(self.proc.pid)
            self.proc.wait()
            self.log.close()


def _load_records(path: str) -> dict:
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {}


def run_workload(name: str, seed: int, seconds: float, trace: int) -> dict:
    deadline = time.monotonic() + RUN_DEADLINE_S
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    os.makedirs(WORK, exist_ok=True)
    inp, meta = ensure_inputs(os.path.join(WORK, "cache"), name, seed)
    work = os.path.join(WORK, "work", name)
    os.makedirs(work, exist_ok=True)
    env, log = _env(cpus), os.path.join(WORK, f"{name}.log")
    open(log, "wb").close()  # the log holds the last run only
    records_path = os.path.join(WORK, "records.json")
    key = f"{name}/{seed}"
    recorded = _load_records(records_path).get(key)
    args = ["--workload", name, "--input", inp, "--work", work, "--cpus", str(cpus),
            "--warmup", str(WARMUP_JOBS), "--seconds", str(seconds),
            "--min-jobs", str(MIN_TIMED_JOBS), "--trace", str(trace)]
    if recorded is not None:
        args += ["--recorded-hash", str(recorded)]

    setups = []
    if not trace:
        for _ in range(SETUP_PROBES):
            with Child([*args, "--setup-only"], env, log, deadline) as probe:
                setups.append(probe.expect("@@READY")[0])
    with Child(args, env, log, deadline) as job:
        setups.append(job.expect("@@READY")[0])
        result = json.loads(job.expect("@@RESULT")[1])
    if result["output_hash"] is not None and recorded is None and result["failed"] == 0:
        records = _load_records(records_path)
        records[key] = result["output_hash"]
        with open(records_path, "w") as f:
            json.dump(records, f)

    info = {
        "workload": name, "seed": seed, "nproc": os.cpu_count(), "spark_cores": cpus,
        "loadavg_1m": os.getloadavg()[0], "pyspark": result["pyspark"], "java": result["java"],
        "input": {k: v for k, v in meta.items() if k not in ("exact_top",) and "hash" not in k},
        "timed_jobs": len(result["walls"]), "setup_samples": setups,
        "failed_frac": core.failed_frac(result["attempted"], result["failed"]),
    }
    if trace:
        layers = result["layers"]
        declared = _declared("per_layer")
        unknown = set(layers) - set(declared)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        # A layer the workload never runs reads 0.
        metrics = {n: _metric(layers.get(n, 0.0), unit) for n, unit in declared.items()}
    else:
        p50 = core.median(result["walls"])
        values = {
            "setup_s": core.median(setups),
            "first_job_cpu_s": result["cold_cpu"],
            "job_s_p50": p50,
        }
        metrics = {n: _metric(values[n], unit) for n, unit in _declared("end_to_end").items()}
        info["first_job_wall_s"] = result["cold_wall"]
        info["job_walls_s"] = result["walls"]
        info["job_cpu_s"] = result["job_cpus"]
        if name == "wc_listings_zipf":
            info["wc_mb_per_s"] = meta["input_mb"] / p50
            info["reference_best_mb_per_s"] = 19.6
    return {"info": info, "attempted": result["attempted"], "failed": result["failed"],
            "metrics": metrics}


def _declared(kind: str) -> dict[str, str]:
    """Name -> unit of the metrics BENCHMARK.json declares of ``kind``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _terminated(signum, _frame):
    raise SystemExit(128 + signum)


def main() -> int:
    signal.signal(signal.SIGTERM, _terminated)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    results = {}
    for name in names:
        r = run_workload(name, args.seed, args.seconds, args.trace)
        print(json.dumps(r["info"]))
        for metric, m in r["metrics"].items():
            print(f"{name}  {metric} = {m['value']:.6g} {m['unit']}")
        print(f"{name}  failed_frac = {r['info']['failed_frac']:.6g} fraction")
        results[name] = r
    attempted = sum(r["attempted"] for r in results.values())
    failed = sum(r["failed"] for r in results.values())
    if len(names) == 1:
        metrics = results[names[0]]["metrics"]
    else:
        metrics = {f"{n}.{k}": m for n, r in results.items() for k, m in r["metrics"].items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
