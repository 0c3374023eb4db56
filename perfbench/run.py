"""perfbench entry point: run one workload of the benchmark in a fresh
process and print its result as the last line of stdout.

    python3 perfbench/run.py --workload pip-tiles --seed 1 --seconds 12 --trace 0

Run it from anywhere inside a checkout of the repository; it builds nothing
and reads the program's sources from the checkout root.  The measurement
runs in a child process (perfbench/harness.py) whose environment fixes
the host-fit settings below; all scratch files go under ``.perfbench/`` in
the checkout and are removed afterwards, except per-run span files under
``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("pip-tiles", "knn-hotspot")
CHILD_TIMEOUT_S = 165     # the run must end within 180 s, clean-up included
DRIVER_MEM_MAX_GB = 3     # the engine's default 16g heap gets OOM-killed on small hosts


def physical_mem_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024.0 * 1024.0)
    raise RuntimeError("no MemTotal in /proc/meminfo")


def child_env(work: Path) -> dict[str, str]:
    """Host-fit settings: all cores this process may use, two shuffle
    partitions per core, a driver heap well below physical memory,
    PYTHONPATH for Spark's Python workers, and every temporary directory
    inside the run's work dir."""
    tmp, local = work / "tmp", work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    mem_gb = max(1, min(DRIVER_MEM_MAX_GB, int(physical_mem_gb() // 4)))
    # a fixed-size heap: G1 resizing it mid-run made peak RSS swing 20 %
    java_opts = f"-Xms{mem_gb}g -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = " ".join([
        "--conf", shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell"])
    env = dict(os.environ)
    cpus = len(os.sched_getaffinity(0))
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # the engine's default floor of 16 partitions is sized for 32 cores
        "SPARK_GRAFT_SHUFFLE": str(2 * cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": submit,
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    return env


def group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def stop_group(pgid: int, timeout_s: float = 10.0) -> None:
    """Kill whatever is left of the child's process group (the JVM and its
    Python workers) and wait until it is gone."""
    if group_alive(pgid):
        os.killpg(pgid, signal.SIGKILL)
    deadline = time.monotonic() + timeout_s
    while group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "tosidewalk_spark" / "operators" / "spatial.py").is_file():
        print(f"perfbench: program sources not found under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    cmd = [sys.executable, str(ROOT / "perfbench" / "harness.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--traces", str(ROOT / ".perfbench" / "traces")]
    proc = subprocess.Popen(cmd, cwd=work.parent, env=child_env(work), start_new_session=True)
    # on SIGTERM, unwind through the finally below, which stops the child's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        rc = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        rc = 1
    finally:
        stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
