"""Compare two sets of benchmark run records.

    python3 perfbench/compare.py A B

A and B are each a directory of run records (as run.py writes them to
``.perfbench_run/records/``) or a list of record files separated by
commas. Only untraced records count. For every workload and end-to-end
metric of BENCHMARK.json the command prints each side's run count,
median and quartiles, each side's spread ((Q3 - Q1) / median), the change
of B's median against A's, and a verdict against the metric's bound:

    agree       both spreads and the change are within the bound
    unresolved  a side's spread exceeds the bound (or has < 2 runs), so
                the two sides cannot be told apart
    worse       B's median is worse than A's by more than the bound
    better      B's median is better than A's by more than the bound

Exit status is 0 when every row agrees.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK_JSON = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def load_records(spec: str) -> list[dict]:
    if os.path.isdir(spec):
        paths = [os.path.join(spec, n) for n in sorted(os.listdir(spec)) if n.endswith(".json")]
    else:
        paths = spec.split(",")
    records = []
    for path in paths:
        with open(path) as f:
            rec = json.load(f)
        if not rec["trace"]:
            records.append(rec)
    return records


def summary(values: list[float]) -> dict | None:
    """Median, quartiles and relative spread; None below two values."""
    if len(values) < 2:
        return None
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"n": len(values), "q1": q1, "median": med, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def verdict(a: dict | None, b: dict | None, bound: float, better: str) -> tuple[str, float | None]:
    if a is None or b is None:
        return "unresolved", None
    change = (b["median"] - a["median"]) / a["median"]
    if a["spread"] > bound or b["spread"] > bound:
        return "unresolved", change
    worse = change if better == "lower" else -change
    if worse > bound:
        return "worse", change
    if -worse > bound:
        return "better", change
    return "agree", change


def compare(set_a: list[dict], set_b: list[dict], metrics: list[dict]) -> list[dict]:
    rows = []
    workloads = sorted({r["workload"] for r in set_a + set_b})
    for workload in workloads:
        for m in metrics:
            vals = [
                [r["metrics"][m["name"]]["value"] for r in s if r["workload"] == workload]
                for s in (set_a, set_b)
            ]
            a, b = summary(vals[0]), summary(vals[1])
            v, change = verdict(a, b, m["bound"], m["better"])
            rows.append({"workload": workload, "metric": m["name"], "unit": m["unit"],
                         "bound": m["bound"], "a": a, "b": b, "change": change, "verdict": v})
    return rows


def fmt(s: dict | None) -> str:
    if s is None:
        return "n<2".ljust(34)
    return (f"n={s['n']:<2} {s['median']:9.3f} [{s['q1']:.3f}, {s['q3']:.3f}] "
            f"{100 * s['spread']:5.1f}%")


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print("usage: compare.py A B", file=sys.stderr)
        return 2
    with open(BENCHMARK_JSON) as f:
        metrics = json.load(f)["end_to_end"]
    rows = compare(load_records(argv[0]), load_records(argv[1]), metrics)
    print(f"{'workload':<14} {'metric':<12} {'bound':>5}  "
          f"{'A: runs median [Q1, Q3] spread':<34}  {'B: runs median [Q1, Q3] spread':<34}  "
          f"{'change':>7}  verdict")
    for r in rows:
        change = "" if r["change"] is None else f"{100 * r['change']:+6.1f}%"
        print(f"{r['workload']:<14} {r['metric']:<12} {100 * r['bound']:4.0f}%  "
              f"{fmt(r['a'])}  {fmt(r['b'])}  {change:>7}  {r['verdict']}")
    return 0 if all(r["verdict"] == "agree" for r in rows) else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
