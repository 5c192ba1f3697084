"""Engine benchmark entry point.

    python3 perfbench/run.py --workload {ingest,relational} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. Pins the run environment, then runs
``bench.py`` in a child process group and removes everything the run
left behind. The environment is set here, not in the package:

- ``SPARK_GRAFT_CPUS``: the CPUs this process may use (``nproc``);
- ``SPARK_GRAFT_DRIVER_MEM``: a quarter of physical memory, at most 4g
  (the package default of 16g does not fit a small machine);
- ``PYTHONPATH``: the repository root, so Python workers started by the
  JVM import the package wherever the driver was started;
- ``TMPDIR`` and ``SPARK_LOCAL_DIRS``: a fresh directory for every run,
  so staged fixture layouts are always built inside the run's set-up.

The last line of standard output is the result JSON; the line before it
is a report with every metric, its unit and sample counts. Traced runs
keep their spans under ``.perfbench/traces``.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "ag_data_ingestion_github_to_snowflake_spark"
CHILD_TIMEOUT_S = 170


def driver_mem() -> str:
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1024, min(4096, total_kb // 1024 // 4))}m"


def pinned_env(work: Path) -> dict[str, str]:
    env = dict(os.environ)
    tmp = work / "tmp"
    tmp.mkdir()
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=driver_mem(),
        PYTHONPATH=str(ROOT),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(tmp),
        PYTHONHASHSEED="0",
    )
    for var in ("SPARK_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "GITHUB_TOKEN"):
        env.pop(var, None)
    return env


def stop_group(pgid: int) -> None:
    """Kill every process left in the run's process group and wait
    until none remains."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 5
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def main() -> int:
    p = argparse.ArgumentParser(description="Engine benchmark (see BENCHMARK.json)")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: engine package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2

    state = ROOT / ".perfbench"
    state.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=state))
    cmd = [
        sys.executable, str(HERE / "bench.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work),
    ]
    if args.trace:
        traces = state / "traces"
        traces.mkdir(exist_ok=True)
        cmd += ["--trace-out", str(traces / f"{args.workload}-seed{args.seed}-{work.name}.json")]
    child = subprocess.Popen(cmd, cwd=work, env=pinned_env(work), start_new_session=True)
    try:
        code = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        code = 3
    finally:
        stop_group(child.pid)
        child.wait()
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
