#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload requests|stream --seed N \
        --seconds S --trace 0|1

Run it from the repository root. Each run starts one worker process
(``perfbench/worker.py``) in its own process group with
``local[$(nproc)]``, every temp, sink and checkpoint dir under a per-run
root inside the checkout (removed afterwards), and a driver heap below
the machine's memory. The last stdout line is the JSON result; per-run
details and the traced run's spans go to ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
TIMEOUT_S = 170  # the worker is killed past this; no result is printed
WORKLOADS = ("requests", "stream")


def driver_memory() -> str:
    """A quarter of physical memory, at most 4 GiB (the package default
    of 24g exceeds small machines)."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, total // 4 // 2**30))}g"


def worker_env(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    conf = os.path.join(run_dir, "conf")
    os.makedirs(tmp)
    os.makedirs(conf)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        # JVM temp files and perf data stay inside the run dir; keep
        # enough job history for the traced run's status-store reads
        fh.write(f"spark.driver.extraJavaOptions -XX:-UsePerfData -Djava.io.tmpdir={tmp}\n")
        fh.write("spark.ui.retainedJobs 10000\n")
        fh.write("spark.ui.retainedStages 20000\n")
        fh.write("spark.ui.showConsoleProgress false\n")
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_CONF_DIR=conf,
        # the launcher JVM spark-submit starts first gets no driver options
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=driver_memory(),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=ROOT,
        PYTHONHASHSEED="0",
    )
    return env


def reap(pgid: int) -> None:
    """Stop every process left in the worker's process group and wait
    until none remains."""
    for sig, wait_s in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + wait_s
        while time.monotonic() < end:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    if not os.path.isfile(os.path.join(ROOT, "fantasy_premier_league_spark", "__init__.py")):
        print("perfbench: run from a checkout that holds fantasy_premier_league_spark/",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(STATE, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(STATE, "out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    result_path = os.path.join(run_dir, "result.json")
    try:
        env = worker_env(run_dir)
        t_spawn = time.monotonic()
        proc = subprocess.Popen(
            [
                sys.executable, os.path.join(HERE, "worker.py"),
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--t-spawn", repr(t_spawn), "--run-dir", run_dir,
                "--cache-dir", os.path.join(STATE, "cache"), "--out-dir", out_dir,
                "--result", result_path,
            ],
            cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: worker exceeded {TIMEOUT_S}s", file=sys.stderr)
            rc = None
        finally:
            reap(proc.pid)
            proc.wait()
        if rc != 0 or not os.path.exists(result_path):
            print(f"perfbench: worker failed (rc={rc})", file=sys.stderr)
            return 1
        with open(result_path) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
