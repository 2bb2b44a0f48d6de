"""One benchmark run in a fresh Python process (started by run.py).

Set-up imports the engine, loads the plan registry, starts the session
through the engine's factory and runs a warm-up query. Then the first
(cold) pass runs every key of the workload once, and the workload's warm
passes follow; a warm pass after the first is skipped when it would end
outside the ``--seconds`` window. Each key run is timed
from the builder call to the last pandas row, checked against its golden
digest outside the timer, and followed by ``release_blocks``.

With ``--trace 1`` the run also records spans around every call into a
layer and reads that layer's counters at the same boundaries; those runs
report per-layer metrics only. The record is written as JSON to --out.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import golden  # noqa: E402
import layers  # noqa: E402
from spans import Tracer, self_time_by_name  # noqa: E402
from workloads import WORKLOADS, pass_order  # noqa: E402

SHUFFLE_PARTITIONS = 8
WARMUP_TABLE = "nation"


class Run:
    """State of one benchmark run: session, registry, tracer, results."""

    def __init__(self, spark, queries, goldens, sf_dir, tmp_dir, tracer, cores):
        self.spark = spark
        self.queries = queries
        self.goldens = goldens
        self.sf_dir = sf_dir
        self.tmp_dir = tmp_dir
        self.tracer = tracer
        self.trace = tracer.enabled
        self.cores = cores
        self.rows: list[dict] = []
        self.jvm_pid = layers.jvm_pid(spark) if self.trace else None

    def run_key(self, key: str, pass_index: int) -> dict:
        """Run one key once; the returned row is also kept in self.rows.

        A key that raises, or whose digest differs from its golden, is
        marked failed; reclaim runs either way."""
        from climateiq_pipelines_spark import session

        spark, tr = self.spark, self.tracer
        sc = spark.sparkContext
        run_id = f"{key}#{pass_index}"
        row = {"key": key, "pass": pass_index, "ok": False}
        with tr.span("key", run=run_id):
            write0 = layers.proc_write_bytes(self.jvm_pid) if self.trace else 0
            try:
                sc.setJobGroup(f"perfbench:{run_id}:build", key)
                t0 = time.perf_counter()
                with tr.span("build"):
                    df = self.queries[key](spark, self.sf_dir)
                t1 = time.perf_counter()
                if self.trace:
                    with tr.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                sc.setJobGroup(f"perfbench:{run_id}:action", key)
                t2 = time.perf_counter()
                with tr.span("action"):
                    pdf = df.toPandas()
                t3 = time.perf_counter()
                row.update(s=t3 - t0, build_s=t1 - t0, action_s=t3 - t2, rows=len(pdf))
                got = golden.digest(pdf)
                row["ok"] = got == self.goldens.get(key)
                if not row["ok"]:
                    row["error"] = f"digest {got[:16]} != golden {str(self.goldens.get(key))[:16]}"
                if self.trace:
                    self._trace_counters(row, df, pdf, run_id, write0)
            except Exception as exc:  # noqa: BLE001 - a failing key is counted, not fatal
                row["error"] = f"{type(exc).__name__}: {exc}"[:800]
                row["traceback"] = traceback.format_exc()[-4000:]
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                with tr.span("reclaim"):
                    purged = len(session.SESSION_TEMP_DIRS)
                    t = time.perf_counter()
                    released = session.release_blocks(spark, keep_lazy_metadata=True)
                    row["reclaim_s"] = time.perf_counter() - t
                row["rdds_released"] = released
                row["temp_dirs_purged"] = purged
                if self.trace:
                    row["leaked"] = layers.persistent_rdds(spark) + len(
                        layers.temp_roots(self.tmp_dir)
                    )
        self.rows.append(row)
        return row

    def _trace_counters(self, row, df, pdf, run_id, write0) -> None:
        """Per-layer counters of one key run, read after its action."""
        spark, tr = self.spark, self.tracer
        layers.drain_listener_bus(spark)
        build = layers.stage_totals(spark, layers.group_job_ids(spark, f"perfbench:{run_id}:build"))
        action = layers.stage_totals(spark, layers.group_job_ids(spark, f"perfbench:{run_id}:action"))
        row["build_jobs"] = build["jobs"]
        row["exec"] = {k: v for k, v in action.items() if k != "output_mb"}
        row["exec"]["busy_frac"] = action["task_run_s"] / (row["action_s"] * self.cores)
        row["output_mb"] = build["output_mb"] + action["output_mb"]
        row["catalyst"] = layers.catalyst_phases(df)
        row["plan"] = layers.plan_metrics(df)
        row["transfer_mb"] = float(pdf.memory_usage(index=True, deep=True).sum()) / layers.MB
        row["materialize"] = layers.storage(spark)
        row["files_written"] = layers.written_files(
            self.tmp_dir, os.path.join(os.getcwd(), "spark-warehouse"))
        spark.sparkContext.setJobGroup(f"perfbench:{run_id}:noop", row["key"])
        t = time.perf_counter()
        with tr.span("noop"):
            df.write.format("noop").mode("overwrite").save()
        row["noop_s"] = time.perf_counter() - t
        row["transfer_s"] = row["action_s"] - row["noop_s"]
        row["disk_write_mb"] = (layers.proc_write_bytes(self.jvm_pid) - write0) / layers.MB


# Per-layer metrics: name -> (unit, function of one key-run row).
PER_KEY = {
    "session.reclaim_s": ("s", lambda r: r["reclaim_s"]),
    "session.rdds_released": ("count", lambda r: r["rdds_released"]),
    "session.temp_dirs_purged": ("count", lambda r: r["temp_dirs_purged"]),
    "session.leaked": ("count", lambda r: r["leaked"]),
    "plans.build_s": ("s", lambda r: r["build_s"]),
    "plans.build_jobs": ("count", lambda r: r["build_jobs"]),
    "sources.input_mb": ("MB", lambda r: r["plan"]["sources.input_mb"]),
    "sources.output_mb": ("MB", lambda r: r["output_mb"]),
    "sources.files_written": ("count", lambda r: r["files_written"]),
    "sources.disk_write_mb": ("MB", lambda r: r["disk_write_mb"]),
    "catalyst.analysis_s": ("s", lambda r: r["catalyst"]["analysis_s"]),
    "catalyst.optimization_s": ("s", lambda r: r["catalyst"]["optimization_s"]),
    "catalyst.planning_s": ("s", lambda r: r["catalyst"]["planning_s"]),
    "exec.action_s": ("s", lambda r: r["action_s"]),
    "exec.jobs": ("count", lambda r: r["exec"]["jobs"]),
    "exec.stages": ("count", lambda r: r["exec"]["stages"]),
    "exec.tasks": ("count", lambda r: r["exec"]["tasks"]),
    "exec.task_run_s": ("s", lambda r: r["exec"]["task_run_s"]),
    "exec.task_cpu_s": ("s", lambda r: r["exec"]["task_cpu_s"]),
    "exec.gc_s": ("s", lambda r: r["exec"]["gc_s"]),
    "exec.busy_frac": ("ratio", lambda r: r["exec"]["busy_frac"]),
    "exec.shuffle_write_mb": ("MB", lambda r: r["exec"]["shuffle_write_mb"]),
    "exec.spill_mb": ("MB", lambda r: r["exec"]["spill_mb"]),
    "exec.failed_tasks": ("count", lambda r: r["exec"]["failed_tasks"]),
    "materialize.rdds": ("count", lambda r: r["materialize"]["rdds"]),
    "materialize.mb": ("MB", lambda r: r["materialize"]["mb"]),
    "python.boot_s": ("s", lambda r: r["plan"]["python.boot_s"]),
    "python.init_s": ("s", lambda r: r["plan"]["python.init_s"]),
    "python.total_s": ("s", lambda r: r["plan"]["python.total_s"]),
    "python.sent_mb": ("MB", lambda r: r["plan"]["python.sent_mb"]),
    "python.received_mb": ("MB", lambda r: r["plan"]["python.received_mb"]),
    "transfer.s": ("s", lambda r: r["transfer_s"]),
    "transfer.rows": ("count", lambda r: r["rows"]),
    "transfer.mb": ("MB", lambda r: r["transfer_mb"]),
}
# Per-layer metrics read once per process rather than per key run.
PROCESS_METRICS = {"session.start_s": "s", "session.peak_rss_mb": "MB", "plans.load_s": "s"}


def key_medians(rows: list[dict], keys: list[str], fn, warm_only: bool) -> dict[str, float]:
    """Per key: the median of fn(row) over its successful runs (warm
    passes only when warm_only)."""
    out = {}
    for key in keys:
        vals = [fn(r) for r in rows if r["key"] == key and r["ok"] and (r["pass"] > 0 or not warm_only)]
        if vals:
            out[key] = statistics.median(vals)
    return out


def end_to_end(rows, keys, setup_s, job_s) -> tuple[dict, dict]:
    """The end-to-end metrics and the per-key values behind them."""
    cold = {r["key"]: r["s"] for r in rows if r["pass"] == 0 and r["ok"]}
    warm = key_medians(rows, keys, lambda r: r["s"], warm_only=True)
    return {
        "setup_s": (setup_s, "s"),
        "cold_s": (sum(cold.values()), "s"),
        "warm_s": (sum(warm.values()), "s"),
        "job_s": (job_s, "s"),
    }, {"cold_s": cold, "warm_s": warm}


def per_layer(rows, keys, process: dict, cores: int) -> tuple[dict, dict]:
    """Workload totals (sum over keys of each key's warm-pass median) and
    the per-key values behind them."""
    metrics, detail = {}, {}
    for name, (unit, fn) in PER_KEY.items():
        vals = key_medians(rows, keys, fn, warm_only=True)
        detail[name] = vals
        metrics[name] = (sum(vals.values()), unit)
    # A ratio is not summed over keys: recompute it from the totals.
    run_s, action_s = metrics["exec.task_run_s"][0], metrics["exec.action_s"][0]
    metrics["exec.busy_frac"] = (run_s / (action_s * cores) if action_s else 0.0, "ratio")
    for name, unit in PROCESS_METRICS.items():
        metrics[name] = (process[name], unit)
    return metrics, detail


def failure_summary(rows: list[dict]) -> tuple[list[dict], float]:
    """Failed key runs (raised, or digest differs from golden) and their
    share of the key runs attempted."""
    failures = [{"key": r["key"], "pass": r["pass"], "error": r.get("error")}
                for r in rows if not r["ok"]]
    return failures, len(failures) / len(rows)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--spawned", type=float, required=True,
                    help="time.monotonic() when the parent started this process")
    ap.add_argument("--data", required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--master", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    trace = bool(args.trace)
    keys = WORKLOADS[args.workload]["keys"]
    cores = int(args.master[len("local["):-1])
    tracer = Tracer(trace)
    setup: dict = {}

    load_before = os.getloadavg()[0]
    steal_before = layers.cpu_steal_s()
    with tracer.span("setup", run="setup"):
        t = time.perf_counter()
        with tracer.span("plans.load_all"):
            from climateiq_pipelines_spark.plans import QUERIES, load_all

            load_all()
        setup["plans.load_s"] = time.perf_counter() - t
        from climateiq_pipelines_spark.registry import load_table
        from climateiq_pipelines_spark.session import get_spark

        t = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark(app_name="perfbench", master=args.master,
                              shuffle_partitions=SHUFFLE_PARTITIONS)
        setup["session.start_s"] = time.perf_counter() - t
        with tracer.span("warmup"):
            load_table(spark, args.data, WARMUP_TABLE).groupBy("n_regionkey").count().toPandas()
    setup_end = time.monotonic()
    setup_s = setup_end - args.spawned

    run = Run(spark, QUERIES, golden.load_goldens(), args.data, args.tmp, tracer, cores)
    orders = []
    job_s = None
    last_pass_s = 0.0
    # The cold pass and the workload's warm passes; a warm pass after the
    # first starts only if it is expected to end inside the window.
    for pass_index in range(1 + WORKLOADS[args.workload]["warm_passes"]):
        elapsed = time.monotonic() - setup_end
        if pass_index >= 2 and elapsed + last_pass_s > args.seconds:
            break
        order = pass_order(keys, args.seed, pass_index)
        orders.append(order)
        t = time.monotonic()
        for key in order:
            run.run_key(key, pass_index)
        last_pass_s = time.monotonic() - t
        if pass_index == 0:
            job_s = time.monotonic() - args.spawned

    process = dict(setup, setup_s=setup_s, job_s=job_s,
                   window_end_s=time.monotonic() - args.spawned)
    process["session.peak_rss_mb"] = (
        layers.proc_status_kb(layers.jvm_pid(spark), "VmHWM")
        + layers.proc_status_kb("self", "VmHWM")
    ) / 1024.0
    rows = run.rows
    if trace:
        metrics, detail = per_layer(rows, keys, process, cores)
    else:
        metrics, detail = end_to_end(rows, keys, setup_s, job_s)
    failures, failed_frac = failure_summary(rows)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": trace,
        "seconds": args.seconds,
        "key_order": orders,
        "passes": len(orders),
        "env": {
            "nproc": cores,
            "master": args.master,
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
            "pyspark": spark.version,
            "python": sys.version.split()[0],
            "load_1m_before": load_before,
            "load_1m_after": os.getloadavg()[0],
            "cpu_steal_s": layers.cpu_steal_s() - steal_before,
        },
        "process": process,
        "attempted": len(rows),
        "failed": len(failures),
        "failed_frac": failed_frac,
        "failures": failures,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "per_key": detail,
        "runs": rows,
    }
    if trace:
        record["spans"] = tracer.spans
        record["self_time_s"] = self_time_by_name(tracer.spans)
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
