"""Benchmark entry point: one workload, one seed, one result line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload homed_daily --seed 1 --seconds 30 --trace 0

Makes the seeded inputs under a private run root inside the checkout, runs
``worker.py`` in a fresh process on ``local[<half the cores>]`` and relays its last
stdout line, a JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``.  The run root also serves as ``TMPDIR`` and
``SPARK_LOCAL_DIRS``; it is deleted after the run, and every process of the
run is stopped before this script exits.  See README.md for the workloads
and metrics.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
WORKER_TIMEOUT_S = 170
DRIVER_MEM = "4g"


def _stop_group(pgid: int) -> None:
    """Kill every process left in the worker's process group and wait.

    The worker has stopped its Spark session by then; what may remain is the
    JVM on its way out and its Python workers.
    """
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    print(f"processes of group {pgid} still listed after SIGKILL", file=sys.stderr)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "bigdata_homed_spark")):
        print(f"no bigdata_homed_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from inputs import generate

    os.makedirs(RUNS_DIR, exist_ok=True)
    run_root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=RUNS_DIR)
    try:
        sf_dir = os.path.join(run_root, "inputs")
        tmp = os.path.join(run_root, "tmp")
        os.makedirs(tmp)
        generate(args.seed, sf_dir)
        # half the cores run tasks; the rest keep the JVM's own threads, the
        # Python driver and its workers off the task threads' cores
        cpus = max(1, len(os.sched_getaffinity(0)) // 2)
        # a terminated run still stops its worker and deletes its run root
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
        env = dict(
            os.environ,
            PYTHONPATH=os.pathsep.join([ROOT, HERE]),
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=tmp,
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            # fixed str hashing, so set and dict orders repeat from run to run
            PYTHONHASHSEED="0",
            # the JVM's own temp files (native libraries) stay in the run root;
            # JIT compiler threads live as long as the JVM, so probes.SessionCpu
            # can read their CPU time apart
            JAVA_TOOL_OPTIONS=(
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
        )
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--sf-dir", sf_dir, "--root", ROOT,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus),
        ]
        proc = subprocess.Popen(
            cmd, cwd=run_root, env=env, stdout=subprocess.PIPE, text=True,
            start_new_session=True,
        )
        try:
            out, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"worker exceeded {WORKER_TIMEOUT_S}s", file=sys.stderr)
            return 1
        finally:
            _stop_group(proc.pid)
            if proc.poll() is None:
                proc.kill()
            proc.wait()
        lines = out.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"worker exited with {proc.returncode}", file=sys.stderr)
            return 1
        sys.stderr.write("\n".join(lines[:-1]) + "\n" if len(lines) > 1 else "")
        print(lines[-1])
        return 0
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)
        except OSError:
            pass


if __name__ == "__main__":
    raise SystemExit(main())
