"""Stage benchmark for reddit_big_data_spark: one workload, one seed, one run.

    python3 perfbench/run.py --workload eda --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Reads the sf0.01 input tables in place
from ``perfbench/data/sf0.01``, starts one Spark driver process
(perfbench/driver.py) on ``local[4]`` in its own session, samples the resident memory of that process tree (driver,
JVM and Python workers) while it runs, stops every process of the tree,
and prints two JSON lines: run details, then the result

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer ones
(``--trace 1``). Exits non-zero without a result if the run fails.
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
sys.path.insert(0, HERE)

from layertrace import PER_LAYER  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.01")
RUN_LIMIT_S = 170.0
END_TO_END = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("query_p50_s", "s"),
    ("query_tail_s", "s"),
    ("success_rate", "ratio"),
]


def session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid`` (zombies have ended already)."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def rss_mb(pids: list[int]) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * page / (1024.0 * 1024.0)


def stop_session(sid: int) -> None:
    """Kill every process of session ``sid`` (the JVM and Python workers
    outlive the driver by seconds otherwise) and wait until none is left."""
    deadline = time.monotonic() + 10.0
    while pids := session_pids(sid):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {pids} of session {sid} survived SIGKILL")
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--digests", default=os.path.join(HERE, "digests.json"),
                    help="expected digests (default: perfbench/digests.json)")
    ap.add_argument("--record-digests", action="store_true",
                    help="write the digests of this run to --digests")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "reddit_big_data_spark", "__init__.py")):
        print(f"perfbench: no reddit_big_data_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    result_path = os.path.join(run_dir, "result.json")
    spans_path = os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.json")

    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": "4",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    cmd = [sys.executable, os.path.join(HERE, "driver.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", DATA, "--digests", args.digests,
           "--result", result_path, "--spans", spans_path]
    if args.record_digests:
        cmd.append("--record")

    peak = 0.0
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                             start_new_session=True)
    deadline = time.monotonic() + RUN_LIMIT_S
    try:
        while child.poll() is None:
            if time.monotonic() > deadline:
                print("perfbench: run exceeded its time limit", file=sys.stderr)
                break
            peak = max(peak, rss_mb(session_pids(child.pid)))
            time.sleep(0.2)
    finally:
        stop_session(child.pid)
        child.wait()

    if child.returncode != 0 or not os.path.exists(result_path):
        print(f"perfbench: driver failed (exit {child.returncode})", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1
    with open(result_path) as f:
        result = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)

    values, specs = result["metrics"], END_TO_END
    if args.trace:
        values, specs = dict(result["layers"], peak_rss_mb=peak), PER_LAYER
    print(json.dumps(dict(result["detail"], peak_rss_mb=peak)))
    for name, msg in result["detail"]["failures"].items():
        print(f"perfbench: {name} failed: {msg}", file=sys.stderr)
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in specs},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
