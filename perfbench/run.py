"""Benchmark launcher: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It pins the environment (cores,
driver heap, Spark local dirs, temp dir), gives the run its own working
and warehouse directory under ``.perfbench_tmp/``, starts
``worker.py`` in a fresh process group, relays its output and removes
the per-run directory afterwards. The last line of standard output is
the JSON result; the exit code is non-zero, with no result printed, when
the run fails or overruns its time limit.
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
TIME_LIMIT_S = 170.0
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def driver_heap() -> str:
    """A quarter of physical memory, at most 8 GiB, as a JVM size."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(total_kb // 4 // 1024, 8192)}m"


def pinned_env(run_dir: str) -> dict[str, str]:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local, os.path.join(run_dir, "work")):
        os.makedirs(d)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=driver_heap(),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        PYTHONHASHSEED="0",
        PERFBENCH_RUN_DIR=run_dir,
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


def stop_group(pgid: int) -> None:
    """Terminate every process left in the run's process group and wait
    until none remains."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + grace
        while time.time() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # runs the clean-up in main's finally


def main() -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    base = os.path.join(ROOT, ".perfbench_tmp")
    run_dir = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    proc = None
    try:
        env = pinned_env(run_dir)
        env["PERFBENCH_T0"] = repr(time.time())
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"),
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            cwd=os.path.join(run_dir, "work"),
            env=env,
            stdout=subprocess.PIPE,
            text=True,
            start_new_session=True,
        )
        try:
            out, _ = proc.communicate(timeout=TIME_LIMIT_S)
        except subprocess.TimeoutExpired:
            stop_group(proc.pid)
            proc.communicate()
            print(f"perfbench: run exceeded {TIME_LIMIT_S:.0f} s", file=sys.stderr)
            return 3
        lines = out.rstrip("\n").split("\n")
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
        if proc.returncode != 0 or not isinstance(result, dict) or set(result) != RESULT_KEYS:
            sys.stderr.write(out)
            print(f"perfbench: worker exited {proc.returncode} without a result", file=sys.stderr)
            return 1
        sys.stdout.write("\n".join(lines) + "\n")
        return 0
    finally:
        if proc is not None:
            stop_group(proc.pid)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


if __name__ == "__main__":
    raise SystemExit(main())
