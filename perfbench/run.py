"""Benchmark launcher.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The launcher pins the engine's
environment (local cores, driver heap, catalog backend, scratch dirs),
runs one workload in a child process that leads its own process group,
and prints the child's JSON result as the LAST line of stdout once every
process of the run has ended. Exit status is non-zero, and no result is
printed, when the engine sources are missing, the run fails or it
overruns its time limit. See perfbench/README.md for the workloads and
metrics.
"""
from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("corpus_dedup", "incremental_graph", "lakehouse_mix")
# the whole run (set-up, warm-up, timed passes, checks) must end by then
RUN_LIMIT_S = 170.0
REQUIRED = ("patterns_devkit_spark/__init__.py", "tools/gen_testdata.py")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="length of the timed window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", type=int, default=4, help="k of local[k]")
    p.add_argument("--driver-memory", default="2g", help="JVM heap (SPARK_DRIVER_MEMORY)")
    p.add_argument("--shuffle-partitions", type=int, default=4)
    return p.parse_args(argv)


def child_env(args: argparse.Namespace, work: str) -> dict[str, str]:
    env = dict(os.environ)
    env.pop("PDS_CATALOG_BACKEND", None)  # new warehouses use the default json backend
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        PYTHONPATH=ROOT,  # Spark's Python workers import the engine too
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(args.cpus),
        SPARK_DRIVER_MEMORY=args.driver_memory,
        # the whole heap is committed and touched at start, so peak RSS
        # does not follow when the collector happens to grow the heap
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options '-Xms{args.driver_memory} -XX:+AlwaysPreTouch' pyspark-shell",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    return env


def end_group(pgid: int, grace_s: float = 10.0) -> None:
    """Stop every process left in the run's group and wait until it is empty."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources not found under {ROOT}: {missing}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--shuffle-partitions", str(args.shuffle_partitions),
        "--work", work, "--result", result_path,
    ]
    proc = subprocess.Popen(cmd, cwd=work, env=child_env(args, work), start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_LIMIT_S:.0f} s, stopped", file=sys.stderr)
        code = -1
    except KeyboardInterrupt:
        code = -1
    end_group(proc.pid)
    if proc.poll() is None:
        proc.wait()
    result = None
    if code == 0 and os.path.isfile(result_path):
        with open(result_path) as f:
            result = f.read().strip()
    shutil.rmtree(work, ignore_errors=True)
    if not result:
        print(f"perfbench: {args.workload} failed (exit {code})", file=sys.stderr)
        return 1
    sys.stdout.flush()
    print(result, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
