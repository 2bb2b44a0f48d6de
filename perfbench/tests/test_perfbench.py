"""Tests of the benchmark's own pieces (not of the engine).

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re

import pytest

import compare
import golden
import layers
import run
import worker
from spans import Tracer, covered, self_time_by_name, self_times
from workloads import (
    WORKLOADS,
    parse_seconds,
    parse_seed,
    parse_trace,
    parse_workload,
    pass_order,
)

BENCHMARK = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def load_benchmark() -> dict:
    with open(BENCHMARK) as f:
        return json.load(f)


# ---------------------------------------------------------------- names


def test_metric_names_and_units_use_the_allowed_charset():
    bench = load_benchmark()
    for section in ("workloads", "end_to_end", "per_layer"):
        for entry in bench[section]:
            assert NAME_RE.fullmatch(entry["name"]), entry
            if "unit" in entry:
                assert UNIT_RE.fullmatch(entry["unit"]), entry
    names = [e["name"] for s in ("workloads", "end_to_end", "per_layer") for e in bench[s]]
    assert len(names) == len(set(names))
    assert NAME_RE.fullmatch("cold_s") and NAME_RE.fullmatch("exec.busy_frac")
    for bad in ("exec busy", "exec/busy", "_x", "é", "a" * 65, ""):
        assert not NAME_RE.fullmatch(bad), bad


def test_benchmark_json_lists_exactly_what_the_worker_reports():
    bench = load_benchmark()
    per_layer = {e["name"] for e in bench["per_layer"]}
    assert per_layer == set(worker.PER_KEY) | set(worker.PROCESS_METRICS)
    e2e, _ = worker.end_to_end([], [], 1.0, 2.0)
    assert {e["name"] for e in bench["end_to_end"]} == set(e2e)
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    assert all(0 < e["bound"] <= 0.25 for e in bench["end_to_end"])
    setup = [e for e in bench["end_to_end"] if e["name"] == "setup_s"][0]
    assert setup["bound"] == max(e["bound"] for e in bench["end_to_end"])


def test_every_workload_key_has_a_golden_digest():
    goldens = golden.load_goldens()
    for w in WORKLOADS.values():
        for key in w["keys"]:
            assert len(goldens[key]) == 64


# ---------------------------------------------------------------- arguments


@pytest.mark.parametrize("text", ["", "-1", "1.5", "abc", " 7", "7 ", "0x10", "1e3"])
def test_malformed_seed_is_refused(text):
    with pytest.raises(ValueError):
        parse_seed(text)


def test_arguments_parse_strictly():
    assert parse_seed("0") == 0 and parse_seed("42") == 42
    assert parse_workload("olap_read") == "olap_read"
    with pytest.raises(ValueError):
        parse_workload("OLAP_READ")
    with pytest.raises(ValueError):
        parse_trace("yes")
    assert parse_trace("1") is True and parse_trace("0") is False
    for bad in ("0", "601", "1.0", "ten"):
        with pytest.raises(ValueError):
            parse_seconds(bad)


def test_run_refuses_bad_arguments_without_starting_a_worker(capsys):
    base = ["--workload", "olap_read", "--seed", "1", "--seconds", "5", "--trace", "0"]
    for i, bad in ((1, "no_such_workload"), (3, "x1"), (7, "2")):
        argv = list(base)
        argv[i] = bad
        assert run.main(argv) == 2
    out = capsys.readouterr()
    assert out.out == ""
    assert "unknown workload" in out.err and "seed must be" in out.err


def test_pass_order_is_a_seeded_permutation():
    keys = WORKLOADS["olap_read"]["keys"]
    assert pass_order(keys, 7, 0) == pass_order(keys, 7, 0)
    assert sorted(pass_order(keys, 7, 1)) == sorted(keys)
    orders = {tuple(pass_order(keys, seed, 0)) for seed in range(20)}
    assert len(orders) > 1


# ---------------------------------------------------------------- spans


def test_covered_merges_overlaps_and_clips_to_the_parent():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == pytest.approx(4 + 2)
    assert covered([(-5, -1), (11, 12)], 0, 10) == 0
    assert covered([(0, 10), (2, 3)], 0, 10) == pytest.approx(10)


def test_self_time_is_duration_minus_child_coverage():
    spans = [
        {"id": 0, "name": "key", "start": 0.0, "end": 10.0, "parent": None, "run": "k#0"},
        {"id": 1, "name": "build", "start": 1.0, "end": 3.0, "parent": 0, "run": "k#0"},
        {"id": 2, "name": "action", "start": 3.0, "end": 7.5, "parent": 0, "run": "k#0"},
        {"id": 3, "name": "noop", "start": 4.0, "end": 5.0, "parent": 2, "run": "k#0"},
        {"id": 4, "name": "reclaim", "start": 9.0, "end": 10.0, "parent": 0, "run": "k#0"},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (2 + 4.5 + 1))
    assert st[1] == pytest.approx(2)
    assert st[2] == pytest.approx(4.5 - 1)
    assert st[3] == pytest.approx(1)
    assert sum(st.values()) == pytest.approx(10)
    assert self_time_by_name(spans)["action"] == pytest.approx(3.5)


def test_tracer_links_parents_and_shares_the_run_id():
    tr = Tracer(True)
    with tr.span("key", run="k#1"):
        with tr.span("build"):
            pass
        with tr.span("action"):
            with tr.span("inner"):
                pass
    names = [(s["name"], s["parent"], s["run"]) for s in tr.spans]
    assert names == [("key", None, "k#1"), ("build", 0, "k#1"),
                     ("action", 0, "k#1"), ("inner", 2, "k#1")]
    assert all(s["end"] >= s["start"] for s in tr.spans)
    off = Tracer(False)
    with off.span("key", run="k#1"):
        pass
    assert off.spans == []


# ---------------------------------------------------------------- compare


def test_compare_verdicts():
    tight = {"median": 10.0, "spread": 0.01}
    wide = {"median": 10.0, "spread": 0.5}
    assert compare.verdict(tight, dict(tight), 0.1, "lower")[0] == "agree"
    assert compare.verdict(tight, {"median": 12.0, "spread": 0.01}, 0.1, "lower")[0] == "worse"
    assert compare.verdict(tight, {"median": 12.0, "spread": 0.01}, 0.1, "higher")[0] == "better"
    assert compare.verdict(tight, wide, 0.1, "lower")[0] == "unresolved"
    assert compare.verdict(None, tight, 0.1, "lower")[0] == "unresolved"
    s = compare.summary([1.0, 2.0, 3.0, 4.0, 5.0])
    assert s["median"] == 3.0 and s["q1"] == 1.5 and s["q3"] == 4.5
    assert compare.summary([1.0]) is None


# ---------------------------------------------------------------- Spark


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "10")
        .config("spark.ui.retainedStages", "10")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield spark
    spark.stop()


def test_job_group_counts_stay_exact_past_retained_jobs(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    launched = 0
    for i in range(8):
        group = f"perfbench:test#{i}:action"
        sc.setJobGroup(group, "test")
        for n in range(3):
            spark.range(10 + n).collect()
        launched += 3
        sc.setLocalProperty("spark.jobGroup.id", None)
        layers.drain_listener_bus(spark)
        totals = layers.stage_totals(spark, layers.group_job_ids(spark, group))
        assert totals["jobs"] == 3
        assert totals["stages"] == 3
        assert totals["tasks"] >= 3 and totals["failed_tasks"] == 0
    # The delta over all retained jobs has lost the oldest ones by now.
    assert len(tracker.getJobIdsForGroup(None)) < launched


def test_raising_key_and_wrong_digest_count_as_failed(spark, tmp_path):
    expected = golden.digest(spark.range(3).toPandas())

    def boom(spark, sf_dir):
        raise RuntimeError("builder failed")

    queries = {
        "good": lambda s, d: s.range(3),
        "boom": boom,
        "wrong": lambda s, d: s.range(4),
    }
    goldens = {"good": expected, "wrong": expected, "boom": expected}
    r = worker.Run(spark, queries, goldens, "unused", str(tmp_path), Tracer(False), 2)
    for pass_index in (0, 1):
        for key in ("good", "boom", "wrong"):
            r.run_key(key, pass_index)
    ok = {(row["key"], row["pass"]): row["ok"] for row in r.rows}
    assert ok == {("good", 0): True, ("boom", 0): False, ("wrong", 0): False,
                  ("good", 1): True, ("boom", 1): False, ("wrong", 1): False}
    failures, frac = worker.failure_summary(r.rows)
    assert frac == pytest.approx(4 / 6)
    errors = {f["key"]: f["error"] for f in failures}
    assert "RuntimeError: builder failed" in errors["boom"]
    assert errors["wrong"].startswith("digest ")
    # Failed runs are left out of the timing sums, never out of the count.
    metrics, _ = worker.end_to_end(r.rows, list(queries), 1.0, 2.0)
    assert metrics["cold_s"][0] == pytest.approx(r.rows[0]["s"])
