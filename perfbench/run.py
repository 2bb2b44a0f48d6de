"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The run happens in a fresh Python process (worker.py) on
``local[<nproc>]`` with 8 shuffle partitions, against the benchmark's
copy of the sf0.1 fixtures (perfbench/data/sf0.1). The seed permutes the
key order of every pass. Everything the run writes stays under
``.perfbench_run/`` in the checkout (a private ``run-<pid>/`` directory
while it runs); the full run record goes to ``.perfbench_run/records/``. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) named in BENCHMARK.json. Exit status is 0 when a result
was printed, 2 on bad arguments or when the engine or its fixtures are
missing, and 1 when the run itself failed or timed out.
"""

from __future__ import annotations

import argparse
import ctypes
import datetime as dt
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import (  # noqa: E402
    parse_seconds,
    parse_seed,
    parse_trace,
    parse_workload,
)

ENGINE_DIR = os.path.join(ROOT, "climateiq_pipelines_spark")
DATA_DIR = os.path.join(HERE, "data", "sf0.1")
WORK_DIR = os.path.join(ROOT, ".perfbench_run")
RECORDS_DIR = os.path.join(WORK_DIR, "records")
DRIVER_MEMORY = "2g"
RUN_TIMEOUT_S = 150
PR_SET_CHILD_SUBREAPER = 36


def git_head(root: str) -> str | None:
    """The commit the checkout is at, read from .git without running git
    (None when the checkout is not a git repository)."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[len("ref: "):]
        ref_path = os.path.join(git, ref)
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        return None
    return None


def become_subreaper() -> None:
    """Adopt orphaned descendants (the JVM, Python workers) so they can be
    waited for after the worker exits."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def reap_all(deadline: float) -> bool:
    """Wait for every child process; True when none is left."""
    while time.monotonic() < deadline:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid == 0:
            time.sleep(0.05)
    return False


def stop_group(pgid: int) -> None:
    """Wait for every process of the worker's process group to end (the
    JVM exits on its own once the worker has gone), signalling the group
    only when they outstay their grace period."""
    if reap_all(time.monotonic() + 10.0):
        return
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            pass
        if reap_all(time.monotonic() + 5.0):
            return


def worker_env(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        MALLOC_ARENA_MAX="2",
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    )
    return env


def tracing_overhead(workload: str, traced_job_s: float) -> float | None:
    """Traced job_s minus the median job_s of the untraced records of the
    same workload kept in this checkout (None when there are none)."""
    untraced = []
    for name in os.listdir(RECORDS_DIR):
        if not name.startswith(workload + "-") or not name.endswith("-t0.json"):
            continue
        with open(os.path.join(RECORDS_DIR, name)) as f:
            untraced.append(json.load(f)["process"]["job_s"])
    return traced_job_s - statistics.median(untraced) if untraced else None


def run_worker(run_dir: str, workload: str, seed: int, seconds: int, trace: bool) -> dict | None:
    """Run worker.py in its own process group and return its record
    (None when it failed or timed out)."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    os.makedirs(RECORDS_DIR, exist_ok=True)
    out = os.path.join(run_dir, "record.json")
    nproc = len(os.sched_getaffinity(0))
    become_subreaper()
    spawned = time.monotonic()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(int(trace)), "--spawned", repr(spawned),
         "--data", DATA_DIR, "--tmp", os.path.join(run_dir, "tmp"),
         "--master", f"local[{nproc}]", "--out", out],
        cwd=run_dir, env=worker_env(run_dir), stdout=sys.stderr,
        start_new_session=True,
    )
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        stop_group(proc.pid)
    if code != 0 or not os.path.exists(out):
        why = "timed out" if code is None else f"exited with {code}"
        print(f"perfbench: worker {why}", file=sys.stderr)
        return None
    with open(out) as f:
        record = json.load(f)
    record["process"]["run_wall_s"] = time.monotonic() - spawned
    return record


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True)
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--trace", required=True)
    args = ap.parse_args(argv)
    try:
        workload = parse_workload(args.workload)
        seed = parse_seed(args.seed)
        seconds = parse_seconds(args.seconds)
        trace = parse_trace(args.trace)
    except ValueError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    if not os.path.isdir(ENGINE_DIR):
        print(f"perfbench: engine package not found at {ENGINE_DIR}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(DATA_DIR, "lineitem.parquet")):
        print(f"perfbench: fixtures not found at {DATA_DIR}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK_DIR, f"run-{os.getpid()}")
    try:
        record = run_worker(run_dir, workload, seed, seconds, trace)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if record is None:
        return 1

    record["env"]["git_head"] = git_head(ROOT)
    record["env"]["finished_utc"] = dt.datetime.now(dt.timezone.utc).isoformat()
    if trace:
        record["tracing_overhead_s"] = tracing_overhead(workload, record["process"]["job_s"])
    stamp = dt.datetime.now(dt.timezone.utc).strftime("%Y%m%dT%H%M%S%f")
    name = f"{workload}-{stamp}-s{seed}-t{int(trace)}.json"
    with open(os.path.join(RECORDS_DIR, name), "w") as f:
        json.dump(record, f, indent=1)
    for fail in record["failures"]:
        print(f"perfbench: FAILED {fail['key']} (pass {fail['pass']}): {fail['error']}",
              file=sys.stderr)
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": record["metrics"],
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
