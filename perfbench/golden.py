"""Golden result digests for every benchmark key.

A digest is the sha256 of ``parity.canon_frame`` of a result frame: the
canonical, order-insensitive form the parity harness compares. The golden
digest of a key is that of its DuckDB oracle over the benchmark's copy of
the sf0.1 fixtures (``ORACLE_BUILDERS`` text where the key has a builder,
the static ``ORACLES`` text otherwise).

    python3 perfbench/golden.py            # re-derive and compare (verify)
    python3 perfbench/golden.py --write    # re-derive and rewrite goldens.json
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data", "sf0.1")
GOLDEN_PATH = os.path.join(HERE, "goldens.json")


def digest(pdf) -> str:
    from climateiq_pipelines_spark.parity import canon_frame

    cols, kinds, rows = canon_frame(pdf)
    text = json.dumps([cols, kinds, rows], ensure_ascii=False, separators=(",", ":"))
    return hashlib.sha256(text.encode()).hexdigest()


def load_goldens() -> dict[str, str]:
    with open(GOLDEN_PATH) as f:
        return json.load(f)


def derive(keys: list[str], sf_dir: str) -> dict[str, str]:
    from climateiq_pipelines_spark.parity import duck_connect
    from climateiq_pipelines_spark.plans import ORACLE_BUILDERS, ORACLES, load_all

    load_all()
    missing = [k for k in keys if k not in ORACLES and k not in ORACLE_BUILDERS]
    if missing:
        raise KeyError(f"keys without a DuckDB oracle: {missing}")
    con = duck_connect(sf_dir)
    con.execute("SET enable_progress_bar = false")
    try:
        out = {}
        for key in keys:
            text = ORACLE_BUILDERS[key](sf_dir) if key in ORACLE_BUILDERS else ORACLES[key]
            out[key] = digest(con.execute(text).fetchdf())
        return out
    finally:
        con.close()


def main(argv: list[str]) -> int:
    if argv not in ([], ["--write"]):
        print("usage: golden.py [--write]", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    keys = sorted({k for w in WORKLOADS.values() for k in w["keys"]})
    fresh = derive(keys, DATA_DIR)
    if argv == ["--write"]:
        with open(GOLDEN_PATH, "w") as f:
            json.dump(fresh, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {len(fresh)} digests to {os.path.relpath(GOLDEN_PATH)}")
        return 0
    committed = load_goldens()
    bad = [k for k in keys if committed.get(k) != fresh[k]]
    for k in bad:
        print(f"MISMATCH {k}: committed={committed.get(k)} derived={fresh[k]}")
    print(f"{len(keys) - len(bad)}/{len(keys)} golden digests match DuckDB")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
