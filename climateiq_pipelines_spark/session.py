"""SparkSession factory and the session lifecycle.

Single shared session per process: BASELINE.md shows session startup
(~4.3 s) dominates per-query time (~0.5 s warm) at bench scale, so every
surface (tests, bench, driver entry points) must reuse one session.

Scale notes (100 TB target, local[N] test harness):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  broadcast-join demotion/promotion replace hand-tuned partition counts
  when the same plans run on a 1000-executor cluster.
- shuffle.partitions is a *local* default; on a real cluster it is set to
  ~2-3x total cores and AQE coalesces down. Nothing in the engine assumes
  a fixed partition count.
- Arrow enabled so the few Pandas-UDF operators (SURVEY §2.11) move
  columnar batches, not pickled rows.

Lifecycle rule: whatever a session keeps between calls lives in this
module's three registries — ``memo`` entries, ``SESSION_TEMP_DIRS``
and the catalog drop list — and ``release_blocks`` frees all of them
together, after the caller has consumed the unit's result. A memo keeps
one live key per name, so a new sf_dir, input plan or session evicts
the old entry.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "climateiq-pipelines-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.ts is parquet TIMESTAMP(NANOS); declared here so sessions
        # from this factory never flip confs mid-flight (registry.py also
        # ensures it for driver-owned sessions).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# name -> ((applicationId, key), value, lazy)
SESSION_MEMO: dict[str, tuple[tuple[str, Hashable], Any, bool]] = {}

# Scratch roots whose files a returned frame still reads lazily, so the
# operator that wrote them can never delete them itself.
SESSION_TEMP_DIRS: list[str] = []

# ("TABLE" | "VIEW", name) catalog entries to DROP on reclaim.
SESSION_CATALOG_DROPS: list[tuple[str, str]] = []


def memo(
    spark: SparkSession,
    name: str,
    key: Hashable,
    build: Callable[[], Any],
    *,
    lazy: bool = False,
) -> Any:
    """``build()``'s value for ``key`` under ``name``, built once per
    (application, key). A new key replaces the name's entry; dropping
    the last reference to an evicted checkpointed frame lets Spark's
    ContextCleaner free its blocks. ``lazy=True`` marks a value that
    pins no blocks or files (a lazy plan, a footer flag), which
    ``release_blocks(keep_lazy_metadata=True)`` keeps."""
    full_key = (spark.sparkContext.applicationId, key)
    entry = SESSION_MEMO.get(name)
    if entry is not None and entry[0] == full_key:
        return entry[1]
    value = build()
    SESSION_MEMO[name] = (full_key, value, lazy)
    return value


def new_temp_dir(tag: str) -> str:
    """Create a scratch dir that ``release_blocks`` purges; the only
    sanctioned way an operator materializes scratch files. The prefix
    is always ``cps_{tag}_`` so purge audits can attribute every root."""
    path = tempfile.mkdtemp(prefix=f"cps_{tag}_")
    SESSION_TEMP_DIRS.append(path)
    return path


def register_temp_table(name: str) -> str:
    """Register a saveAsTable name for DROP on reclaim; returns the name
    unchanged so call sites stay one line."""
    SESSION_CATALOG_DROPS.append(("TABLE", name))
    return name


def register_temp_view(name: str) -> str:
    """Register a temp view or memory-sink query name for DROP on
    reclaim; returns the name unchanged."""
    SESSION_CATALOG_DROPS.append(("VIEW", name))
    return name


def _purge_temp_dirs() -> None:
    while SESSION_TEMP_DIRS:
        shutil.rmtree(SESSION_TEMP_DIRS.pop(), ignore_errors=True)


# Sessions that never reclaim (bench.py's warm mode, the external
# driver) still leave no scratch files behind.
atexit.register(_purge_temp_dirs)


def release_blocks(spark: SparkSession, *, keep_lazy_metadata: bool = False) -> int:
    """Free everything the session keeps between calls; returns how
    many persistent RDDs were released.

    Clears memo entries (all but the ``lazy`` ones when
    ``keep_lazy_metadata=True``), unpersists every persistent RDD and
    cached relation, drops the registered catalog tables and views,
    and purges the registered temp dirs.

    Operators localCheckpoint relations they return (diamond reuse,
    fixpoint bases, optimization barriers) and stage files their result
    reads, so they cannot free either themselves. A harness running
    many keys in one session must reclaim between them, or the leak
    makes timings order-dependent (llm_ann_recall_eval measured
    13.4 s vs 40.5 s by key order alone). Call AFTER the unit's result
    is fully consumed (e.g. toPandas) — never between building a
    DataFrame and collecting it.
    """
    # Memo entries go first: a checkpointed frame whose blocks are
    # unpersisted is poison (any reuse fails with
    # CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), so no handle may survive.
    for name, (_, _, lazy) in list(SESSION_MEMO.items()):
        if not (keep_lazy_metadata and lazy):
            del SESSION_MEMO[name]
    # getPersistentRDDs is a live java.util.Map; snapshot before
    # unpersisting. unpersist(False) is asynchronous: the blocking
    # default waits for every block-removal ack (~0.2 s per call, ~46 s
    # over a 232-key sweep), and nothing reuses these blocks.
    released = 0
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(False)
        released += 1
    spark.catalog.clearCache()
    # Best-effort per entry: a failed DROP keeps its name for the next
    # reclaim and must not stop the temp-dir purge below.
    failed: list[tuple[str, str]] = []
    while SESSION_CATALOG_DROPS:
        kind, name = SESSION_CATALOG_DROPS.pop()
        try:
            spark.sql(f"DROP {kind} IF EXISTS `{name}`")
        except Exception:  # noqa: BLE001 — dead JVM; retry next reclaim
            failed.append((kind, name))
    SESSION_CATALOG_DROPS.extend(failed)
    _purge_temp_dirs()
    return released
