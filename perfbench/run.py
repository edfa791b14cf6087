"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: sql_interactive, xops_batch, dbt_build (see workloads.py).
The run generates its inputs from ``--seed`` (datagen.py), starts one
worker process (worker.py) on local[4], waits for it and for every
process it started, removes its scratch directory, and prints two JSON
lines: a detail record (host, per-pass times, errors) and, last, the
result ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (layers.py). Everything it writes stays under
``.perfbench_work/`` (removed) and ``.perfbench_out/`` (span dumps).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SCALE = 0.01  # lineitem 60k rows; documents 500, embeddings 500x64
DEADLINE_S = 170.0
CORES = "4"


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _reap(proc: subprocess.Popen, grace_s: float) -> None:
    """Wait for the worker's whole process group (JVM, Python workers)
    to exit; kill what is left after ``grace_s``."""
    end = time.time() + grace_s
    while _group_alive(proc.pid) and time.time() < end:
        time.sleep(0.1)
    if _group_alive(proc.pid):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()
    while _group_alive(proc.pid):
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE)
    args = ap.parse_args()
    started = time.time()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "dbt_icebreaker_spark", "__init__.py")):
        print("perfbench: dbt_icebreaker_spark not found under "
              f"{ROOT}; run from a repository checkout", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=work_root)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    if args.trace:
        os.makedirs(out_dir, exist_ok=True)
    try:
        data = os.path.join(work, "data")
        datagen.generate(data, args.seed, args.scale, WORKLOADS[args.workload].tables)
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        pythonpath = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        env = dict(os.environ, PYTHONPATH=pythonpath, TMPDIR=tmp,
                   SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                   SPARK_GRAFT_CPUS=CORES, SPARK_GRAFT_DRIVER_MEM="2g",
                   PYTHONHASHSEED="0")
        result_path = os.path.join(work, "result.json")
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--work", work, "--out", result_path,
            "--spans", os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"),
            "--t0", repr(time.time()),
        ]
        proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=sys.stderr,
                                start_new_session=True)
        rc = None
        try:
            rc = proc.wait(timeout=max(1.0, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            print("perfbench: worker timed out", file=sys.stderr)
        finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
            _reap(proc, grace_s=10.0 if rc is not None else 0.0)
        if rc != 0 or not os.path.exists(result_path):
            print(f"perfbench: worker failed (exit {rc})", file=sys.stderr)
            return 1
        with open(result_path) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(work_root):
            os.rmdir(work_root)

    print(json.dumps(res["detail"]))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": res["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
