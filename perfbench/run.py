"""Engine benchmark: one seeded workload per run, in a fresh process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads: roundtrip and lookup_mix
(see perfbench/README.md). Prints a table of the run and, as the last
line, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Every file it writes stays under
``.perfbench_work/`` in the checkout, and every process it starts is
stopped before it exits.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
LIMIT_S = 165          # a run must end within 180 s, clean-up included
FIRST_LIMIT_S = 870    # the first run in a checkout also compiles kernels
# the tracing overhead compares these between the paired runs
OVERHEAD = ("cpu_s_per_op", "op_p50_s")


def _group_alive(pgid: int) -> bool:
    """Whether a process of the group still runs (zombies have ended)."""
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
        except (OSError, IndexError, ValueError):
            continue
    return False


def _stop_group(pgid: int, grace: float) -> None:
    """Wait for every process of the worker's group (the JVM and the
    Python workers included) to end, sending TERM and then KILL to what
    is left after a grace period (the JVM runs its shutdown hooks after
    the driver exits)."""
    for sig, grace in ((0, grace), (signal.SIGTERM, 5.0),
                       (signal.SIGKILL, 5.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + grace
        while time.time() < end:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)
    raise RuntimeError(f"processes of group {pgid} survived SIGKILL")


def _worker(args, env: dict, deadline: float, trace: int) -> dict:
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    env = dict(env, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    os.makedirs(run_dir)
    try:
        return _run_worker(args, run_dir, env, deadline, trace)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run_worker(args, run_dir: str, env: dict, deadline: float,
                trace: int) -> dict:
    result = os.path.join(run_dir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace),
           "--work", run_dir, "--t0", repr(time.time()), "--result", result]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(deadline - time.time(), 1.0))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        _stop_group(proc.pid, 15.0 if proc.poll() is not None else 0.0)
        proc.wait()
    if rc != 0 or not os.path.exists(result):
        raise RuntimeError("worker timed out" if rc is None
                           else f"worker exited {rc}")
    with open(result) as f:
        return json.load(f)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("roundtrip", "lookup_mix"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    if not os.path.isfile(os.path.join(ROOT, "fileconvert_spark",
                                       "__init__.py")):
        print(f"perfbench: no fileconvert_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        print(f"perfbench: cannot read BENCHMARK.json: {e}", file=sys.stderr)
        return 2

    first = not os.path.isdir(os.path.join(WORK, "cache"))
    deadline = time.time() + (FIRST_LIMIT_S if first else LIMIT_S)
    for d in ("tmp", "cache"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ,
               TMPDIR=os.path.join(WORK, "tmp"),
               XDG_CACHE_HOME=os.path.join(WORK, "cache"),
               SPARK_GRAFT_CPUS=str(cores),
               SPARK_DRIVER_MEM="2g",
               # the spark-submit launcher JVM: no /tmp/hsperfdata_<user>
               SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
               PYTHONDONTWRITEBYTECODE="1")

    try:
        # the tracing overhead compares the traced run with an untraced
        # one of the same seed, made just before it
        runs = [_worker(args, env, deadline, t)
                for t in ((0, 1) if args.trace else (0,))]
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    res = runs[-1]
    if args.trace:
        layers = res["layers"]
        for k in OVERHEAD:
            layers[f"trace.overhead_frac.{k}"] = (
                res["e2e"][k]["value"] / runs[0]["e2e"][k]["value"] - 1)
        metrics = {m["name"]: {"value": layers.get(m["name"], 0),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res["e2e"][m["name"]]["value"],
                               "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": all(r["correct"] for r in runs),
                      "attempted": sum(r["attempted"] for r in runs),
                      "failed": sum(r["failed"] for r in runs),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
