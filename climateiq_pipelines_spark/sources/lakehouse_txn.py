"""Round-7 lakehouse TRANSACTION LOG — the commit-protocol piece the
round-6 module declared out of scope, now demonstrated as a minimal but
REAL protocol ("bring Delta/Iceberg" remains the production answer; what
this proves is that the engine side needs nothing more than atomic
rename/link semantics plus optimistic validation, which is exactly what
those formats build on).

Protocol (the Delta-style driver-side commit, stripped to essentials):

- Table layout: ``<root>/data/*.parquet`` (immutable data files) +
  ``<root>/_log/%08d.json`` (ordered commit records).
- A commit record lists file ADDS and REMOVES plus the writer's
  read-version and a declared write-domain predicate tag (here: the
  o_orderpriority partition it touched — the read/write-set summary
  real formats carry per commit).
- PUBLISH is ``os.link(tmp, _log/%08d.json)``: a POSIX hard link is
  atomic and EXCLUSIVE (EEXIST if the version was claimed) — the whole
  concurrency story reduces to this one primitive, the same way Delta
  reduces it to an atomic put-if-absent on the log object.
- SNAPSHOT READ at version V replays records 1..V: active files =
  adds − removes; the read is a plain parquet scan of the active set
  (engine-side cost identical to any multi-file scan — the log is
  metadata, never data).
- CONFLICT RESOLUTION on a lost race (optimistic concurrency): re-read
  the log tail; if every intervening commit's write-domain is DISJOINT
  from ours, REBASE (publish the same files at the next version);
  otherwise RECOMPUTE the transform on the new snapshot, then retry.

Determinism: races are SIMULATED deterministically (writer steps are
interleaved by the test harness in a fixed order — the protocol's
correctness is what's checked, not a scheduler's whims), and outputs
expose only value-level state (counts, sums, version numbers, retry
audits), never Spark's nondeterministic part-file names.

Registered after the driver's 50-entry certification window
(plans.load_all); rotation-targeted for round 8+.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from climateiq_pipelines_spark.functions.helpers import sql_dsum, two_level
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import load_table


def _mk_table(tag: str) -> str:
    # Purged by session.release_blocks (atexit fallback): each txn key
    # writes ~6 file groups of orders slices per call.
    from climateiq_pipelines_spark.session import new_temp_dir

    root = new_temp_dir(f"txn_{tag}")
    os.makedirs(os.path.join(root, "data"), exist_ok=True)
    os.makedirs(os.path.join(root, "_log"), exist_ok=True)
    return root


def _log_path(root: str, version: int) -> str:
    return os.path.join(root, "_log", f"{version:08d}.json")


def _publish_atomic(logdir: str, name: str, record: dict) -> bool:
    """Write ``record`` to a tmp file and atomically claim ``name`` in
    ``logdir`` via POSIX hard link.  Returns False on EEXIST (a
    concurrent publisher won; the tmp file is garbage, never a
    half-visible record).  ONE recipe for commits AND checkpoints —
    round-12 review found _write_checkpoint carrying a hand-rolled twin
    of this sequence, so a durability fix (e.g. fsync-before-link)
    would have had to land twice or the two publish paths diverge."""
    fd, tmp = tempfile.mkstemp(dir=logdir, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(record, f, sort_keys=True)
        try:
            os.link(tmp, os.path.join(logdir, name))
            return True
        except FileExistsError:
            return False
    finally:
        os.unlink(tmp)


def _try_commit(root: str, version: int, record: dict) -> bool:
    """Atomically claim ``version`` with ``record``. Returns False if a
    concurrent writer already claimed it (the POSIX hard link publishes
    exclusively — EEXIST is the loss signal, and a crashed writer's tmp
    file is garbage, never a half-visible commit)."""
    return _publish_atomic(
        os.path.join(root, "_log"),
        os.path.basename(_log_path(root, version)),
        record,
    )


def _commit_must_win(root: str, version: int, record: dict) -> None:
    """Publish a commit the protocol script REQUIRES to succeed.  A
    plain call plus raise, deliberately NOT an ``assert``: python -O
    strips asserts, and a stripped publish would silently skip linking
    the record — under PYTHONOPTIMIZE the entire transaction history
    would vanish and the snapshot read would crash on an empty active
    set (round-12 review)."""
    if not _try_commit(root, version, record):
        raise RuntimeError(
            f"txn protocol: commit v{version} unexpectedly lost its race "
            f"at {root}"
        )


def _commit_must_lose(root: str, version: int, record: dict) -> None:
    """Attempt a commit the deterministic simulated race REQUIRES to
    lose.  NOT an ``assert`` for the same reason as _commit_must_win —
    a stripped attempt would silently skip the race the key's audit
    columns claim happened."""
    if _try_commit(root, version, record):
        # The stale record is now LINKED — a later _read_log/_snapshot
        # on this root would replay it as committed history even though
        # we are about to declare the root broken.  Retract it before
        # raising so an abandoned root can never present the bogus
        # version as valid state (ADVICE r12).
        os.unlink(_log_path(root, version))
        raise RuntimeError(
            f"txn protocol: stale commit v{version} unexpectedly WON "
            f"at {root} (simulated race broken)"
        )


def _read_log(root: str) -> list[dict]:
    """All committed records in version order (the only reader-visible
    state; a record is visible iff its link exists, entirely)."""
    logdir = os.path.join(root, "_log")
    # ADVICE r7: '*.checkpoint.json' files live in the same directory
    # but are MATERIALIZED state, not commit records — replaying one as
    # a commit would corrupt _active_files/_latest_version and crash
    # the domain-conflict scans (no add/remove/domain keys).
    names = sorted(
        n
        for n in os.listdir(logdir)
        if n.endswith(".json") and not n.endswith(".checkpoint.json")
    )
    return [json.load(open(os.path.join(logdir, n))) for n in names]


def _latest_version(root: str) -> int:
    recs = _read_log(root)
    return recs[-1]["version"] if recs else 0


def _active_files(root: str, version: int | None = None) -> list[str]:
    """Replay adds − removes up to ``version`` (None = latest)."""
    active: set[str] = set()
    for rec in _read_log(root):
        if version is not None and rec["version"] > version:
            break
        active -= set(rec.get("remove", []))
        active |= set(rec.get("add", []))
    return sorted(active)


def _snapshot(spark: SparkSession, root: str, version: int | None = None) -> DataFrame:
    files = [os.path.join(root, "data", f) for f in _active_files(root, version)]
    return spark.read.parquet(*files)


def _write_data(df: DataFrame, root: str, tag: str) -> list[str]:
    """Write a data-file group under data/<tag>/ and return its files
    relative to data/ (immutable once written; commit visibility is the
    log's job, so a crash between write and publish leaks an orphan
    file, never a torn table — the same contract as Delta)."""
    out = os.path.join(root, "data", tag)
    df.write.mode("overwrite").parquet(out)
    return [
        os.path.join(tag, n)
        for n in sorted(os.listdir(out))
        if n.endswith(".parquet")
    ]


def commit_idempotent(root: str, batch_id: int, write_files) -> str:
    """PUBLIC idempotent-commit recipe for at-least-once producers
    (round-13 review batch C: the logic lived inlined in
    streaming/txn_sink's foreachBatch closure, coupled to this module's
    privates — the generic Delta txnAppId/txnVersion pattern deserves
    its own seam next to the protocol it composes with).

    Maps ``version = batch_id + 1`` and commits put-if-absent:

    - version unclaimed → invoke ``write_files()`` (a callable returning
      the data-file list — only called when a write is actually needed)
      and atomically claim the version → ``"committed"``;
    - version already committed BY THIS batch_id (a replayed delivery —
      the at-least-once failure mode) → skip without writing →
      ``"replay_skipped"``;
    - version held by a FOREIGN batch_id → RuntimeError (plain raise,
      never assert: python -O must not skip the exactly-once
      validation).

    The lost-race path re-reads the log: only a concurrent replay of
    this very batch can hold our version; anything else is a broken
    invariant."""
    version = batch_id + 1
    committed = {r["version"]: r for r in _read_log(root)}
    if version in committed:
        if committed[version].get("batch_id") == batch_id:
            return "replay_skipped"
        raise RuntimeError(
            f"txn: version {version} committed by a different batch "
            f"({committed[version].get('batch_id')!r}, "
            f"expected {batch_id!r})"
        )
    files = write_files()
    if _try_commit(
        root,
        version,
        {
            "version": version,
            "add": files,
            "read_version": version - 1,
            "domain": "*",
            "batch_id": batch_id,
        },
    ):
        return "committed"
    rec = {r["version"]: r for r in _read_log(root)}[version]
    if rec.get("batch_id") != batch_id:
        raise RuntimeError(
            f"txn sink: version {version} held by foreign batch "
            f"{rec.get('batch_id')!r}, expected {batch_id!r} — "
            "exactly-once invariant broken"
        )
    return "replay_skipped"


def _build_three_commit_history(
    spark: SparkSession, orders: DataFrame, root: str
) -> tuple[list[str], list[str], list[str]]:
    """The serial history both checked keys replay — v1 append the base
    slice (o_orderkey ≡ 0 mod 3); v2 blind append (≡ 1 mod 3); v3
    copy-on-write DELETE (rewrite without keys ≡ 0 mod 5, removing both
    prior file groups).  Shared by sink_txn_commit_protocol and
    sink_txn_checkpoint (round-12 review: the two carried line-for-line
    copies including the %3/%5 slice constants, so a history fix would
    have to land twice or the keys silently diverge from _TXN_SQL).
    Returns the three committed file groups."""
    base = orders.filter(F.col("o_orderkey") % 3 == 0)
    files1 = _write_data(base, root, "c1")
    _commit_must_win(
        root, 1, {"version": 1, "add": files1, "read_version": 0, "domain": "*"}
    )

    appended = orders.filter(F.col("o_orderkey") % 3 == 1)
    files2 = _write_data(appended, root, "c2")
    _commit_must_win(
        root, 2, {"version": 2, "add": files2, "read_version": 1, "domain": "*"}
    )

    rewritten = _snapshot(spark, root, 2).filter(F.col("o_orderkey") % 5 != 0)
    files3 = _write_data(rewritten, root, "c3")
    _commit_must_win(
        root,
        3,
        {
            "version": 3,
            "add": files3,
            "remove": files1 + files2,
            "read_version": 2,
            "domain": "*",
        },
    )
    return files1, files2, files3


_TXN_SQL = """
    base AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
      WHERE o_orderkey % 3 = 0
    ),
    appended AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
      WHERE o_orderkey % 3 = 1
    ),
    v2 AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
    v3 AS (SELECT * FROM v2 WHERE o_orderkey % 5 <> 0)
"""


@register(
    "sink_txn_commit_protocol",
    oracle=f"""
    WITH {_TXN_SQL}
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_dsum('o_totalprice')} AS total_price,
           CAST(3 AS INTEGER) AS n_versions,
           CAST((SELECT COUNT(*) FROM v2) AS BIGINT) AS rows_at_v2
    FROM v3 GROUP BY o_orderpriority
    """,
)
def sink_txn_commit_protocol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSACTION-LOG COMMIT PROTOCOL + SNAPSHOT/TIME-TRAVEL READ —
    a three-commit serial history through the atomic-link log:

      v1  append the base slice (o_orderkey ≡ 0 mod 3);
      v2  blind append a second slice (≡ 1 mod 3) — appends never
          conflict, the cheapest commit class;
      v3  DELETE via copy-on-write: rewrite the table without keys
          ≡ 0 mod 5, commit REMOVES both prior file groups and ADDS
          the rewrite (exactly sink_merge_upsert's write pattern, now
          with the metadata layer that makes it atomic and versioned).

    The read side proves BOTH isolation properties that matter: the
    latest snapshot reflects v3's removes (a reader never sees a
    half-applied rewrite — file visibility flips with one link), and a
    TIME-TRAVEL read pinned at v2 (rows_at_v2) still sees the
    pre-delete table even though v3 physically removed its files from
    the active set — immutable data files + log replay give versioned
    reads for free.

    Scale: the log is O(commits) driver-side metadata (real formats add
    checkpoint compaction once the tail grows — same replay contract);
    the data path is plain multi-file parquet scans, so at 100 TB every
    cost is the scan/write cost the engine already measures elsewhere.
    Each call builds its history in a fresh temp table — deterministic
    end state, no cross-call leakage."""
    root = _mk_table("serial")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    _build_three_commit_history(spark, orders, root)

    rows_at_v2 = _snapshot(spark, root, 2).count()  # time travel
    latest = _snapshot(spark, root)  # replays to v3
    # round 16: two-level exact audit sum (helpers.two_level); the
    # version literals attach at the merge stage.  Oracle unchanged.
    return two_level(
        latest,
        ["o_orderpriority"],
        [
            ("count", "n_rows"),
            ("dsum", F.col("o_totalprice"), "total_price"),
            ("lit", F.lit(_latest_version(root)).cast("int"), "n_versions"),
            ("lit", F.lit(rows_at_v2).cast("long"), "rows_at_v2"),
        ],
    )


_RACE_SQL = """
    p1 AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ),
    p2 AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
      WHERE o_orderpriority = '2-HIGH'
    ),
    -- writer A: +10 every URGENT price (wins version 2)
    a_out AS (
      SELECT o_orderkey, o_totalprice + 10.0 AS o_totalprice,
             o_orderpriority
      FROM p1
    ),
    -- writer B: +20 every HIGH price; loses the v2 race, REBASES
    -- (domain disjoint from A's) and lands at version 3 unchanged
    b_out AS (
      SELECT o_orderkey, o_totalprice + 20.0 AS o_totalprice,
             o_orderpriority
      FROM p2
    ),
    -- writer C: +100 every URGENT price computed against version 1;
    -- loses its race, detects OVERLAP with A's committed domain, must
    -- RECOMPUTE on the post-A snapshot (so +10 then +100), lands at v4.
    -- TWO additions in the engine's order, NOT a folded +110.0: double
    -- addition is non-associative, so (p+10)+100 can differ from p+110
    -- by 1 ulp, and the fixed-point floor in dsum would expose it
    -- (round-12 review — latent at larger SFs even though the fixture
    -- dodges every boundary today).
    c_out AS (
      SELECT o_orderkey, (o_totalprice + 10.0) + 100.0 AS o_totalprice,
             o_orderpriority
      FROM p1
    )
"""


@register(
    "sink_txn_conflict_retry",
    oracle=f"""
    WITH {_RACE_SQL}
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_dsum('o_totalprice')} AS total_price,
           CAST(4 AS INTEGER) AS n_versions,
           CAST(2 AS INTEGER) AS n_lost_races,
           CAST(1 AS INTEGER) AS n_recomputes
    FROM (SELECT * FROM b_out UNION ALL SELECT * FROM c_out)
    GROUP BY o_orderpriority
    """,
)
def sink_txn_conflict_retry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMISTIC-CONCURRENCY CONFLICT DETECTION — both retry classes a
    real table format distinguishes, in one deterministic simulated
    race over a table partitioned by o_orderpriority (URGENT + HIGH
    slices; each commit declares the partition it rewrites as its
    write-domain):

      v1  seed both partitions.
      A/B race for v2: A (+10 on URGENT) publishes first and wins; B
          (+20 on HIGH) prepared its commit against v1, loses the link
          race, re-reads the log, sees A's domain is DISJOINT → REBASE:
          its already-written files commit unchanged at v3. One lost
          race, zero recomputes — the cheap path.
      C  (+100 on URGENT) also prepared against v1: loses its race,
          sees an OVERLAPPING committed domain (A rewrote URGENT files
          C's commit would remove) → its result is STALE; it must
          RECOMPUTE the transform on the current snapshot (+10 then
          +100), then commits at v4. One lost race, one recompute —
          write-write conflict handled by retry, never by corruption.

    The output is the final snapshot's per-partition state plus the
    protocol audit (4 versions, 2 lost races, 1 recompute) — the
    oracle pins that HIGH prices carry exactly +20 and URGENT exactly
    +110 (= +10 then +100, proving C recomputed on A's result rather
    than clobbering it — the lost-update anomaly the protocol exists
    to prevent).

    Scale: identical primitives as sink_txn_commit_protocol; conflict
    checks read O(intervening commits) log records, and write-domain
    summaries keep validation metadata-only (no data reads) — the same
    reasons real formats commit in O(1) data IO after a race."""
    root = _mk_table("race")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    lost_races = 0
    recomputes = 0

    p1 = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    p2 = orders.filter(F.col("o_orderpriority") == "2-HIGH")
    f_p1 = _write_data(p1, root, "seed_urgent")
    f_p2 = _write_data(p2, root, "seed_high")
    _commit_must_win(
        root,
        1,
        {"version": 1, "add": f_p1 + f_p2, "read_version": 0, "domain": "*"},
    )

    # Both A and B prepare against version 1 (files written BEFORE the
    # race — the protocol's whole point is that preparation is cheap to
    # retry because data files are immutable and commit-independent).
    a_files = _write_data(
        _snapshot(spark, root, 1)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .withColumn("o_totalprice", F.col("o_totalprice") + 10.0),
        root,
        "a_v2",
    )
    b_files = _write_data(
        _snapshot(spark, root, 1)
        .filter(F.col("o_orderpriority") == "2-HIGH")
        .withColumn("o_totalprice", F.col("o_totalprice") + 20.0),
        root,
        "b_v2",
    )
    c_files = _write_data(
        _snapshot(spark, root, 1)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .withColumn("o_totalprice", F.col("o_totalprice") + 100.0),
        root,
        "c_v2",
    )

    # A wins version 2.
    _commit_must_win(
        root,
        2,
        {
            "version": 2,
            "add": a_files,
            "remove": f_p1,
            "read_version": 1,
            "domain": "1-URGENT",
        },
    )

    # B loses the v2 race (deterministically simulated: its attempt hits
    # the version A claimed), validates, and REBASES.
    _commit_must_lose(
        root,
        2,
        {
            "version": 2,
            "add": b_files,
            "remove": f_p2,
            "read_version": 1,
            "domain": "2-HIGH",
        },
    )
    lost_races += 1
    intervening = [
        r for r in _read_log(root) if r["version"] > 1
    ]  # commits since B's read version
    conflict = any(
        r["domain"] in ("2-HIGH", "*") for r in intervening
    )
    if conflict:  # disjoint domains -> rebase, same files (plain check,
        # not an assert: python -O must not skip protocol validation)
        raise RuntimeError(
            "txn protocol: B found a conflicting domain; rebase path broken"
        )
    _commit_must_win(
        root,
        3,
        {
            "version": 3,
            "add": b_files,
            "remove": f_p2,
            "read_version": 1,
            "domain": "2-HIGH",
        },
    )

    # C loses ITS race and finds an overlapping domain -> recompute.
    _commit_must_lose(
        root,
        2,
        {
            "version": 2,
            "add": c_files,
            "remove": f_p1,
            "read_version": 1,
            "domain": "1-URGENT",
        },
    )
    lost_races += 1
    intervening = [r for r in _read_log(root) if r["version"] > 1]
    conflict = any(
        r["domain"] in ("1-URGENT", "*") for r in intervening
    )
    if not conflict:  # A rewrote C's domain: C's prepared files ARE stale
        raise RuntimeError(
            "txn protocol: C expected an overlapping-domain conflict; "
            "recompute path broken"
        )
    recomputes += 1
    current = _latest_version(root)
    c_files2 = _write_data(
        _snapshot(spark, root, current)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .withColumn("o_totalprice", F.col("o_totalprice") + 100.0),
        root,
        "c_v4",
    )
    _commit_must_win(
        root,
        current + 1,
        {
            "version": current + 1,
            "add": c_files2,
            "remove": a_files,
            "read_version": current,
            "domain": "1-URGENT",
        },
    )

    latest = _snapshot(spark, root)
    # round 16: two-level exact audit sum (helpers.two_level); the
    # race-accounting literals attach at the merge stage.  Oracle
    # unchanged.
    return two_level(
        latest,
        ["o_orderpriority"],
        [
            ("count", "n_rows"),
            ("dsum", F.col("o_totalprice"), "total_price"),
            ("lit", F.lit(_latest_version(root)).cast("int"), "n_versions"),
            ("lit", F.lit(lost_races).cast("int"), "n_lost_races"),
            ("lit", F.lit(recomputes).cast("int"), "n_recomputes"),
        ],
    )


# ------------------------------------------------------- log checkpointing


def _write_checkpoint(root: str, version: int) -> None:
    """Compact the log prefix ≤ ``version`` into a checkpoint file
    (`_log/%08d.checkpoint.json` — the materialized active-file set, so
    readers replay checkpoint + tail instead of the whole history).
    Written via the same tmp+link publish as commits: atomic, and a
    duplicate checkpoint attempt is a harmless loss (checkpoints are
    derived state — ANY committed checkpoint for a version is equally
    valid, the property that lets every reader/writer checkpoint
    opportunistically without coordination)."""
    snap = {"version": version, "active": _active_files(root, version)}
    # Shared publish recipe (_publish_atomic); a False return means a
    # concurrent checkpointer won — harmless, identical derived content.
    _publish_atomic(
        os.path.join(root, "_log"), f"{version:08d}.checkpoint.json", snap
    )


def _read_via_checkpoint(root: str) -> tuple[list[str], int, int]:
    """Reader path once checkpoints exist: load the LATEST checkpoint,
    replay only the log tail after it. Returns (active files,
    checkpoint version, tail records replayed)."""
    logdir = os.path.join(root, "_log")
    cps = sorted(n for n in os.listdir(logdir) if n.endswith(".checkpoint.json"))
    if not cps:
        return _active_files(root), 0, len(_read_log(root))
    snap = json.load(open(os.path.join(logdir, cps[-1])))
    active = set(snap["active"])
    tail = [r for r in _read_log(root) if r["version"] > snap["version"]]
    for rec in tail:
        active -= set(rec.get("remove", []))
        active |= set(rec.get("add", []))
    return sorted(active), snap["version"], len(tail)


@register(
    "sink_txn_checkpoint",
    oracle=f"""
    WITH {_TXN_SQL},
    v4 AS (
      SELECT o_orderkey, o_totalprice + 5.0 AS o_totalprice,
             o_orderpriority
      FROM v3
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_dsum('o_totalprice')} AS total_price,
           CAST(3 AS INTEGER) AS checkpoint_version,
           CAST(1 AS INTEGER) AS tail_replayed,
           TRUE AS checkpoint_equals_replay
    FROM v4 GROUP BY o_orderpriority
    """,
)
def sink_txn_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG CHECKPOINT COMPACTION — how a transaction log stays O(tail)
    instead of O(history) forever: after the same three commits as
    sink_txn_commit_protocol, a CHECKPOINT materializes the active-file
    set at version 3 (published with the identical atomic-link recipe —
    a lost race is harmless because any committed checkpoint for a
    version is identical derived state); commit 4 (a copy-on-write
    +5.00 repricing) then lands AFTER it, and the reader path loads the
    checkpoint + replays only the 1-record tail — never the full
    history. Delta calls this the Parquet checkpoint; Iceberg, the
    snapshot manifest list.

    Checked: the final per-partition state (proving the checkpointed
    read path is lossless through a post-checkpoint commit), the
    checkpoint version, the tail length the reader actually replayed,
    and a boolean asserting checkpoint-path ≡ full-replay-path file
    sets — computed by running BOTH reader paths and comparing.

    Scale: checkpoint size is O(active files) metadata; writing one
    amortizes to nothing (every Nth commit); reader startup goes from
    O(commits-ever) to O(commits-since-checkpoint) — the property that
    makes a 10-year-old 100 TB table open in milliseconds."""
    root = _mk_table("ckpt")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    _, _, files3 = _build_three_commit_history(spark, orders, root)

    _write_checkpoint(root, 3)
    _write_checkpoint(root, 3)  # duplicate attempt: harmless no-op

    repriced = _snapshot(spark, root, 3).withColumn(
        "o_totalprice", F.col("o_totalprice") + 5.0
    )
    files4 = _write_data(repriced, root, "c4")
    _commit_must_win(
        root,
        4,
        {"version": 4, "add": files4, "remove": files3,
         "read_version": 3, "domain": "*"},
    )

    active_cp, cp_version, tail_n = _read_via_checkpoint(root)
    equals_replay = active_cp == _active_files(root)
    latest = spark.read.parquet(
        *[os.path.join(root, "data", f) for f in active_cp]
    )
    # round 16: two-level exact audit sum (helpers.two_level); the
    # checkpoint literals attach at the merge stage.  Oracle unchanged.
    return two_level(
        latest,
        ["o_orderpriority"],
        [
            ("count", "n_rows"),
            ("dsum", F.col("o_totalprice"), "total_price"),
            ("lit", F.lit(cp_version).cast("int"), "checkpoint_version"),
            ("lit", F.lit(tail_n).cast("int"), "tail_replayed"),
            ("lit", F.lit(equals_replay), "checkpoint_equals_replay"),
        ],
    )
