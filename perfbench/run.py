"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload transcripts_incr --seed 1 --seconds 1 --trace 0

Run from the repository root. Each run builds a fresh Spark session in a
fresh child process (``worker.py``) on ``local[<cores available>]``, with a
fresh warehouse under ``.perfbench_work/``. The engine runs with its own
defaults: the child environment carries no ``SPARK_GRAFT_*`` variable except
``SPARK_GRAFT_CPUS``. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the line before it records
the run's environment and counts. ``--trace 1`` reports the per-layer
metrics instead of the end-to-end ones.

Exits non-zero, printing no result, if the child fails or exceeds its time.
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
CHILD_TIMEOUT_S = 170


def _pgroup_members(pgid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            out.append(int(d))
    return out


def stop_group(pgid: int, grace_s: float = 10.0, wait_s: float = 10.0) -> None:
    """Wait for every process of the child's process group (the JVM and its
    python workers) to exit; terminate the ones still there after
    ``grace_s``, kill them after another ``wait_s``."""
    for sig, limit in ((None, grace_s), (signal.SIGTERM, wait_s), (signal.SIGKILL, wait_s)):
        deadline = time.time() + limit
        while _pgroup_members(pgid):
            if sig is not None:
                try:
                    os.killpg(pgid, sig)
                except ProcessLookupError:
                    return
            if time.time() > deadline:
                break
            time.sleep(0.1)
        else:
            return
    raise RuntimeError(f"processes of group {pgid} did not exit")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="tiny inputs, for the self-test")
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
    )
    out = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--workdir", work, "--out", out,
    ] + (["--toy"] if args.toy else [])
    child = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        code = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] run exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
        code = None
    finally:
        stop_group(child.pid)
        if child.poll() is None:
            child.wait()
    result = None
    if code == 0 and os.path.exists(out):
        with open(out) as f:
            result = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1
    print(json.dumps({"detail": result.pop("detail")}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
