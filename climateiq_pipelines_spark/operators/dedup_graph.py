"""Near-duplicate CLUSTERING — the production step after pair
generation: near-dup pairs are edges, duplicates form connected
components, and each component keeps one canonical document. Added in
round 3; loaded after the driver's 50-entry correctness window
(plans.load_all) and covered by tools/driver_sim.py.

This is the repo's genuinely ITERATIVE operator (a driver loop of
window passes, converging in O(log n) rounds), yet still fully
hash-checked: the DuckDB oracle computes the same components with a
recursive CTE, so the iterative Spark formulation is proven equivalent
to the declarative fixpoint on every fixture.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from climateiq_pipelines_spark.operators.llm import (
    _simhash60_pairs,
    _simhash60_sigs,
    _simhash60_sql_sig,
)
from climateiq_pipelines_spark.plans import register
from climateiq_pipelines_spark.registry import load_table

def connected_components_propagation(
    nodes: DataFrame, edges: DataFrame, node_col: str = "doc_id"
) -> DataFrame:
    """Min-label propagation to a fixpoint: returns (node_col, label)
    where label = min node id reachable from each node over the
    undirected edge set (a_id, b_id). Totality: every node appears,
    singletons label themselves. Lineage is truncated per round with
    localCheckpoint (cluster deployments: durable checkpoint).

    Each round is propagate ∪ keep → min per node: TWO shuffles (the
    edge join and the min aggregate) — the cheapest possible round,
    but the ROUND COUNT is the component diameter, which is
    data-shaped: a chain-shaped dup component at 100 TB needs O(n)
    rounds. ``connected_components`` (alternating star contraction,
    O(log n) rounds) is the registered production path; this form is
    kept as the independently-simple reference both are property-tested
    against (tests/test_properties.py) and as the better plan for
    graphs KNOWN to be clique-shaped (1-2 rounds). Convergence check:
    labels only ever DECREASE under min-propagation, so Σlabel is a
    strict potential function — the round sum (a one-row aggregate off
    the checkpointed frame, summed as decimal(38) so 10^9 nodes with
    10^18 ids cannot overflow) is unchanged iff no label moved."""
    bi = edges.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    ).union(edges.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
    bi = bi.localCheckpoint(eager=True)

    labels = nodes.select(node_col, F.col(node_col).alias("label"))
    labels = labels.localCheckpoint(eager=True)
    prev_sum = None
    for _ in range(32):
        prop = bi.join(labels, bi.dst == F.col(node_col)).select(
            F.col("src").alias(node_col), F.col("label")
        )
        labels = (
            prop.union(labels)
            .groupBy(node_col)
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        # bounded driver action: ONE scalar row off the materialized
        # checkpoint (same class as the .count() convergence probes).
        round_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).first()["s"]
        if round_sum == prev_sum:
            break
        prev_sum = round_sum
    else:
        raise RuntimeError("label propagation did not converge in 32 rounds")
    return labels


def _neighbourhoods(e: DataFrame) -> DataFrame:
    """(x, y, mn, mx): every edge (x, y) of ``e`` in both orientations,
    with the min and max of x's neighbours — one window, one exchange,
    and ``e`` read once. Repeated edges do not change mn or mx."""
    x, y = F.col("x"), F.col("y")
    by_node = W.partitionBy("x")
    both = F.array(
        F.struct(x.alias("x"), y.alias("y")),
        F.struct(y.alias("x"), x.alias("y")),
    )
    return e.select(F.explode(both).alias("p")).select("p.x", "p.y").select(
        "x",
        "y",
        F.min(y).over(by_node).alias("mn"),
        F.max(y).over(by_node).alias("mx"),
    )


def _star_checkpoint(e: DataFrame) -> tuple[DataFrame, bool]:
    """``_neighbourhoods(e)``, eagerly checkpointed, and whether it is a
    star forest (see ``connected_components``; no edges counts as yes)."""
    x, mn, mx = F.col("x"), F.col("mn"), F.col("mx")
    not_star = Observation()
    star = (
        _neighbourhoods(e)
        .observe(not_star, F.max((mn < x) & (mn != mx)).alias("flag"))
        .localCheckpoint(eager=True)
    )
    return star, not not_star.get["flag"]


def connected_components(
    nodes: DataFrame, edges: DataFrame, node_col: str = "doc_id"
) -> DataFrame:
    """Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond"): same contract as ``connected_components_propagation``
    (self-loops, repeated edges and either orientation accepted) and
    property-tested equal to it and to union-find. Each round contracts
    toward component-minimum stars, so the round count is O(log n) for
    any component shape, where propagation needs diameter rounds.
    Each row of ``nodes`` (keys may repeat) keeps its columns.

    One round is two exchanges and no join:
    - large-star: the edges in both orientations, partitioned by node x
      (exchange 1); a window gives each row mn/mx = min/max of Γ(x),
      and each neighbour y > x is linked to min(Γ(x) ∪ {x}).
    - small-star: those (y, m) edges, repartitioned by y (exchange 2)
      and deduplicated inside that partitioning; a window min over y's
      smaller neighbours gives m', and each of them and y itself is
      linked to m'.

    Stop test: every node has all neighbours larger (mn > x) or exactly
    one (mn == mx). That holds iff the edges are disjoint stars centred
    on their component minima: an edge's larger end has a smaller
    neighbour, so it is a one-neighbour leaf; its smaller end has a
    larger neighbour, so it cannot also have a smaller one and is a
    centre. At that fixpoint the label is least(x, mn), read from the
    same windowed frame. The test rides on that frame's eager
    localCheckpoint (the round's lineage cut; cluster deployments:
    durable checkpoint), so it costs no job of its own."""
    x, y = F.col("x"), F.col("y")
    by_node = W.partitionBy("x")
    e = edges.select(F.col("a_id").alias("x"), F.col("b_id").alias("y")).where(x != y)
    for _ in range(32):
        star, done = _star_checkpoint(e)
        if done:
            break
        # LARGE-STAR: (y, min(Γ(x) ∪ {x})) for every neighbour y > x.
        large = (
            star.where(y > x)
            .select(y.alias("x"), F.least(x, "mn").alias("y"))
            .repartition("x")
            .dropDuplicates(["x", "y"])
        )
        # SMALL-STAR: large rows are (x, y) with x > y, so Γ⁻(x) is the
        # partition's y set; link each y and x itself to m' = min Γ⁻(x).
        # (m', m') is the one self-loop this emits; it is dropped.
        m = F.col("m")
        e = (
            large.select("x", "y", F.min(y).over(by_node).alias("m"))
            .select(
                F.explode(
                    F.array(
                        F.struct(y.alias("x"), m.alias("y")),
                        F.struct(x.alias("x"), m.alias("y")),
                    )
                ).alias("p")
            )
            .select("p.x", "p.y")
            .where(x != y)
        )
    else:
        raise RuntimeError("star contraction did not converge in 32 rounds")
    # At the fixpoint every node with an edge is a centre (its own
    # label) or a leaf of the centre; isolated nodes label themselves.
    heads = star.groupBy("x").agg(F.min("mn").alias("mn")).select(
        x.alias(node_col), F.least(x, "mn").alias("label")
    )
    return nodes.join(heads, node_col, "left").select(
        *nodes.columns,
        F.coalesce("label", F.col(node_col)).alias("label"),
    )


_CLUSTER_ORACLE = f"""
    WITH RECURSIVE
    {_simhash60_sql_sig()},
    edges AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sig, b.sig)) <= 3
    ),
    bi AS (
      SELECT a_id AS src, b_id AS dst FROM edges
      UNION ALL
      SELECT b_id, a_id FROM edges
    ),
    reach(node, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT bi.src, reach.r FROM bi JOIN reach ON bi.dst = reach.node
    ),
    comp AS (SELECT node AS doc_id, min(r) AS cluster_id
             FROM reach GROUP BY node)
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size,
           doc_id = cluster_id AS is_canonical
    FROM comp
"""


# VERDICT r9 task #3(b): the recursive `reach` CTE above materializes a
# (node, reachable-root) pair per component-internal pair — O(Σ size²)
# rows; measured 146 s of the 882 s round-9 sf0.1 sweep.  The builder
# below replaces it for sweep use with min-label propagation UNROLLED
# to the fixpoint depth solved in DuckDB itself (the iterative_ext
# stop-round-solver trick): per-stage state is one label per node, so
# the whole check is linear in nodes × rounds.  The static recursive
# text stays the registered driver contract.
_CLUSTER_LABEL_ROUNDS_CACHE: dict[str, int] = {}

# VERDICT r10 task #4: committed memo by fixture basename, consulted
# before any DuckDB solve (same construction and staleness test as
# iterative_ext.SOLVED_STOP_ROUNDS — test_oracle_builders re-derives
# one SF per run through _solve_cluster_label_rounds, which never
# reads this map).
SOLVED_LABEL_ROUNDS: dict[str, int] = {
    "sf0.001": 6,
    "sf0.01": 7,
    "sf0.1": 12,
}


def _cluster_label_rounds(sf_dir: str) -> int:
    """Label-propagation depth for this sf_dir: committed memo (by
    fixture basename, canonical fixture root only — see
    iterative_ext.FIXTURE_ROOT) -> in-process cache -> live solve."""
    from climateiq_pipelines_spark.operators.iterative_ext import FIXTURE_ROOT

    real = os.path.realpath(sf_dir)
    # ADVICE r11: direct children of the canonical root only — a
    # regenerated /root/testdata/experiments/sf0.1 must solve live.
    memo = (
        SOLVED_LABEL_ROUNDS.get(os.path.basename(real))
        if os.path.dirname(real) == FIXTURE_ROOT
        else None
    )
    if memo is not None:
        return memo
    got = _CLUSTER_LABEL_ROUNDS_CACHE.get(sf_dir)
    if got is not None:
        return got
    n_rounds = _solve_cluster_label_rounds(sf_dir)
    _CLUSTER_LABEL_ROUNDS_CACHE[sf_dir] = n_rounds
    return n_rounds


def _solve_cluster_label_rounds(sf_dir: str) -> int:
    """Solve min-label propagation over the simhash near-dup graph to
    fixpoint in DuckDB; returns the first round whose labels equal the
    previous round's (so unrolling that many stages provably reproduces
    the component minima — propagation converges in ≤ diameter
    rounds).  Never consults the memo — the staleness test's
    re-derivation path."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{sf_dir}/documents.parquet')"
    )
    con.execute(
        f"""
        CREATE TEMP TABLE bi AS
        WITH {_simhash60_sql_sig()},
        edges AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.sig, b.sig)) <= 3
        )
        SELECT a_id AS src, b_id AS dst FROM edges
        UNION ALL SELECT b_id, a_id FROM edges
        """
    )
    con.execute(
        "CREATE TEMP TABLE lbl_prev AS"
        " SELECT doc_id AS node, doc_id AS label FROM documents"
    )
    n_rounds = None  # set only on convergence; the cap RAISES below
    for rnd in range(1, 65):
        con.execute(
            """
            CREATE OR REPLACE TEMP TABLE lbl_next AS
            SELECT l.node,
                   LEAST(l.label, COALESCE(MIN(nl.label), l.label))
                     AS label
            FROM lbl_prev l
            LEFT JOIN bi ON bi.src = l.node
            LEFT JOIN lbl_prev nl ON nl.node = bi.dst
            GROUP BY l.node, l.label
            """
        )
        changed = con.execute(
            "SELECT COUNT(*) FROM lbl_next a JOIN lbl_prev b USING (node)"
            " WHERE a.label <> b.label"
        ).fetchone()[0]
        con.execute(
            "CREATE OR REPLACE TEMP TABLE lbl_prev AS SELECT * FROM lbl_next"
        )
        if changed == 0:
            n_rounds = rnd
            break
    con.close()
    if n_rounds is None:
        # ADVICE r10 #1: defaulting to the cap would emit a
        # NON-CONVERGED unrolled oracle and report a false engine
        # MISMATCH with no attribution; mirror connected_components'
        # 32-round raise instead so a high-diameter fixture fails
        # loudly at the solver.
        raise RuntimeError(
            "cluster label propagation did not converge in 64 rounds"
        )
    return n_rounds


def _cluster_oracle_unrolled(n_rounds: int) -> str:
    """Non-recursive cluster oracle: min-label propagation unrolled to
    ``n_rounds`` MATERIALIZED stages (DuckDB would otherwise inline
    each lbl{i} into both of lbl{i+1}'s references — 2^rounds blowup)."""
    stages = []
    prev = "lbl0"
    for i in range(1, n_rounds + 1):
        stages.append(
            f"""lbl{i} AS MATERIALIZED (
      SELECT l.node,
             LEAST(l.label, COALESCE(MIN(nl.label), l.label)) AS label
      FROM {prev} l
      LEFT JOIN bi ON bi.src = l.node
      LEFT JOIN {prev} nl ON nl.node = bi.dst
      GROUP BY l.node, l.label
    )"""
        )
        prev = f"lbl{i}"
    joined = ",\n    ".join(stages)
    return f"""
    WITH {_simhash60_sql_sig()},
    edges AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sig, b.sig)) <= 3
    ),
    bi AS MATERIALIZED (
      SELECT a_id AS src, b_id AS dst FROM edges
      UNION ALL
      SELECT b_id, a_id FROM edges
    ),
    lbl0 AS MATERIALIZED (
      SELECT doc_id AS node, doc_id AS label FROM documents
    ),
    {joined},
    comp AS (SELECT node AS doc_id, label AS cluster_id FROM {prev})
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size,
           doc_id = cluster_id AS is_canonical
    FROM comp
"""


def _cluster_oracle_for(sf_dir: str) -> str:
    """SF-parameterized oracle (plans.ORACLE_BUILDERS): fixpoint-depth
    min-label unroll — answers identical to the recursive text at every
    SF (pinned by tests/test_oracle_builders.py), linear instead of
    O(Σ cluster_size²) in DuckDB."""
    return _cluster_oracle_unrolled(_cluster_label_rounds(sf_dir))


def _signature_components(sigs: DataFrame) -> DataFrame:
    """(doc_id, label = least doc_id reachable by Hamming ≤ 3 steps) for
    (doc_id, sig) rows. Edges depend on signatures alone, so the graph
    has one node per distinct signature, its least doc_id (rep), and
    each document takes its rep's label."""
    rep = F.min("doc_id").over(W.partitionBy("sig"))
    tagged = sigs.select("doc_id", "sig", rep.alias("rep"))
    edges = _simhash60_pairs(tagged.where(F.col("doc_id") == F.col("rep")))
    nodes = tagged.select("doc_id", "rep")
    return connected_components(nodes, edges, "rep").select("doc_id", "label")


@register(
    "llm_dedup_clusters",
    oracle=_CLUSTER_ORACLE,
    oracle_builder=_cluster_oracle_for,  # sweep-speed path (r9 task #3b)
)
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over simhash near-dup edges (Hamming ≤ 3 on
    the 60-bit token simhash), by ALTERNATING STAR CONTRACTION (r6;
    was min-label propagation — VERDICT r5 #3):

    1. Signature collapse: documents sharing a signature are one node
       (_signature_components; sf0.1: 5,000 docs, 3,871 nodes).
    2. Edges between nodes from the banded candidate generator
       (_simhash60_pairs — recall exactly 1.0 for the ≤3 threshold,
       never all-pairs).
    3. connected_components contracts the edge set toward
       component-minimum stars in O(log n) rounds regardless of
       component shape (see its docstring); every doc appears in the
       output — singletons, null-text docs included, label themselves
       (totality matters: an un-clustered doc must not vanish).
    4. Output one row per DOCUMENT: (doc_id, cluster_id = component min
       id, cluster_size, is_canonical = keeps-the-cluster).

    The 32-round cap is a safety net that raises rather than emitting a
    half-converged clustering.

    The oracle is a DuckDB RECURSIVE CTE computing the identical
    fixpoint, so the iterative engine path is value-hash-proven — the
    repo's demonstration that 'iterative algorithm' need not mean
    'rows-only'."""
    docs = load_table(spark, sf_dir, "documents")
    no_sig = docs.where(F.col("text").isNull()).select(
        "doc_id", F.col("doc_id").alias("label")
    )
    labels = _signature_components(_simhash60_sigs(docs)).unionByName(no_sig)
    cluster_id = F.col("label")
    return labels.select(
        "doc_id",
        cluster_id.alias("cluster_id"),
        F.count(F.lit(1)).over(W.partitionBy(cluster_id)).alias("cluster_size"),
        (F.col("doc_id") == cluster_id).alias("is_canonical"),
    )
