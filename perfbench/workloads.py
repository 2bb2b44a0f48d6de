"""Workload definitions and argument checks for the perfbench runner.

A workload is a list of registered query keys and a number of warm
passes. One pass runs every key of the workload once: the first pass is
cold, the warm passes follow. The seed permutes the key order of each
pass (timings depend on key order: the first key after set-up pays for
JIT and codegen warm-up the later keys reuse).
"""

from __future__ import annotations

import random
import re

WORKLOADS: dict[str, dict] = {
    "olap_read": {
        "why": "star joins, aggregates and windows over parquet scans; no "
        "Python workers, checkpoints or writes (the bypass case)",
        "keys": [
            "agg_pricing_summary",
            "join_multikey",
            "join_shuffle_fact",
            "win_rank_topn_per_group",
        ],
        "warm_passes": 2,
    },
    "etl_write": {
        "why": "transformations plus parquet/orc/table writes and temp-dir, "
        "table and view lifecycles",
        "keys": [
            "sink_partitioned_parquet",
            "scan_orc_roundtrip",
            "join_bucketed_colocated",
        ],
        "warm_passes": 2,
    },
    "corpus_iterative": {
        "why": "corpus keys that cross into Python workers (mapInPandas, "
        "applyInPandas) plus a checkpoint-heavy dedup key whose builder runs "
        "about 50 jobs eagerly",
        "keys": [
            "llm_semdedup",
            "mm_decode_features",
            "llm_dedup_clusters",
        ],
        "warm_passes": 1,
    },
}

def parse_workload(text: str) -> str:
    if text not in WORKLOADS:
        raise ValueError(
            f"unknown workload {text!r}; known: {', '.join(sorted(WORKLOADS))}"
        )
    return text


def parse_seed(text: str) -> int:
    """A seed is a non-negative decimal integer; anything else is refused."""
    if not re.fullmatch(r"[0-9]{1,18}", text):
        raise ValueError(f"seed must be a non-negative integer, got {text!r}")
    return int(text)


def parse_seconds(text: str) -> int:
    if not re.fullmatch(r"[0-9]{1,4}", text) or not 1 <= int(text) <= 600:
        raise ValueError(f"seconds must be an integer in 1..600, got {text!r}")
    return int(text)


def parse_trace(text: str) -> bool:
    if text not in ("0", "1"):
        raise ValueError(f"trace must be 0 or 1, got {text!r}")
    return text == "1"


def pass_order(keys: list[str], seed: int, pass_index: int) -> list[str]:
    """The key order of one pass: a permutation fixed by (seed, pass)."""
    order = list(keys)
    random.Random(seed * 1_000_003 + pass_index).shuffle(order)
    return order
