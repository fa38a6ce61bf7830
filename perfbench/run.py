"""Benchmark launcher: pins the environment, runs one workload, prints the result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload kg_pipeline --seed 1 --seconds 5 --trace 0

The run itself (perfbench/bench.py) executes in a child process whose
environment is pinned here: ``local[nproc]``, a driver heap below host RAM,
private Spark local and temp directories inside the checkout (removed
afterwards), and ``PYTHONPATH`` at the checkout root so Spark's Python
workers can import the package. Standard output holds two lines: the run's
detail (per-operation samples, set-up timeline), then the result object.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

TIMEOUT_S = 170


def pinned_env(root: str, workdir: str) -> dict[str, str]:
    cpus = len(os.sched_getaffinity(0))
    mem_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{max(1024, min(4096, mem_mib // 4))}m",
        SPARK_LOCAL_DIRS=os.path.join(workdir, "spark-local"),
        TMPDIR=os.path.join(workdir, "tmp"),
        PYTHONPATH=root + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONHASHSEED="0",
    )
    return env


def _wait_group_gone(pgid: int, limit_s: float = 20.0) -> None:
    deadline = time.monotonic() + limit_s
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main() -> int:
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "btc_blockchain_scanner_spark")):
        print("perfbench: run from the root of a checkout of the repository", file=sys.stderr)
        return 2
    workdir = os.path.join(root, ".perfbench_work", str(os.getpid()))
    env = pinned_env(root, workdir)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d)
    pin = {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS")}
    print(f"perfbench: pinned {json.dumps(pin)}", file=sys.stderr, flush=True)
    cmd = [sys.executable, os.path.join("perfbench", "bench.py"), *sys.argv[1:], "--workdir", workdir]
    # stdout of the run goes to stderr: only this launcher writes to stdout
    child = subprocess.Popen(cmd, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        code = child.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = "timeout"
    finally:
        # the session holds the JVM and Spark's Python workers: stop them all
        try:
            os.killpg(child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        child.wait()
        _wait_group_gone(child.pid)
    result_path = os.path.join(workdir, "result.json")
    out = None
    if code == 0 and os.path.exists(result_path):
        with open(result_path) as f:
            out = json.load(f)
    shutil.rmtree(workdir, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(workdir))
    except OSError:
        pass
    if out is None:
        print(f"perfbench: run failed ({code})", file=sys.stderr)
        return 1
    print(json.dumps(out["detail"]))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
