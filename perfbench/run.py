"""Benchmark entry point.

    python3 perfbench/run.py --workload sensor_fleet --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout.  Each run gets a fresh worker
process (perfbench/worker.py) with SPARK_GRAFT_CPUS pinned to the CPUs
this process may use, SPARK_LOCAL_DIRS and TMPDIR inside its own run
directory (wiped first), and Spark's console progress bar off.  With
``--trace 1`` Spark's event log is switched on through submit-time
``--conf`` options, and the run reports per-layer figures instead of the
end-to-end ones.

The worker's report goes to stdout; the last line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.  Without a
complete result (missing program, failed run, timeout) the exit code is
not 0 and no JSON line is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKER_TIMEOUT_S = 170


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left in the worker's process group and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "meteaudata_spark", "__init__.py")):
        print("perfbench: no meteaudata_spark package next to perfbench/", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{'trace' if args.trace else 'plain'}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub))
    result = os.path.join(run_dir, "result.json")

    # C1 only: with the C2 compiler the driver kept getting faster for a
    # minute or more (eight 2-sensor passes fell from 10.0 to 6.5 s), so
    # a run's figures depended on how far up that curve the host's load
    # had let it climb; with C1 the passes after the warm-up are level
    java_opts = (f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
                 " -XX:TieredStopAtLevel=1")
    submit = ["--driver-java-options", java_opts, "--conf", "spark.ui.showConsoleProgress=false"]
    if args.trace:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{os.path.join(run_dir, 'eventlog')}",
                   "--conf", "spark.eventLog.compress=false"]
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit) + " pyspark-shell",
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--run-dir", run_dir, "--result", result]
    sys.stdout.flush()
    # a SIGTERM still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
        code = -1
    finally:
        _stop_group(proc)
        proc.wait()
    if code != 0 or not os.path.isfile(result):
        print(f"perfbench: run failed (exit {code})", file=sys.stderr)
        return 1
    with open(result) as fh:
        print(json.dumps(json.load(fh)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
