"""Property-based algebraic invariants (SURVEY §5.2 #3, Hypothesis).

Small generated frames → invariants that must hold for ANY input, not
just the fixtures: join-partition laws, set-op cardinality laws, dedup
idempotence, top-k containment. Example counts are kept low because
each example pays a Spark job; the value is the generator exploring
edge shapes (empty groups, all-duplicates, single rows) that fixtures
never contain.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),  # key
        st.integers(min_value=-100, max_value=100),  # value
    ),
    min_size=0,
    max_size=30,
)
keys = st.lists(
    st.integers(min_value=0, max_value=9), min_size=0, max_size=10
)


@given(left=rows, right_keys=keys)
@settings(**SETTINGS)
def test_semi_anti_partition(spark, left, right_keys):
    """left_semi ∪ left_anti partitions the left table exactly."""
    ldf = spark.createDataFrame(left or [(0, 0)], "k int, v int")
    if not left:
        ldf = ldf.limit(0)
    rdf = spark.createDataFrame(
        [(k,) for k in right_keys] or [(0,)], "k int"
    )
    if not right_keys:
        rdf = rdf.limit(0)
    semi = ldf.join(rdf, "k", "left_semi").count()
    anti = ldf.join(rdf, "k", "left_anti").count()
    assert semi + anti == ldf.count()


@given(a=rows, b=rows)
@settings(**SETTINGS)
def test_union_all_additivity(spark, a, b):
    adf = spark.createDataFrame(a or [(0, 0)], "k int, v int")
    bdf = spark.createDataFrame(b or [(0, 0)], "k int, v int")
    if not a:
        adf = adf.limit(0)
    if not b:
        bdf = bdf.limit(0)
    assert adf.unionByName(bdf).count() == adf.count() + bdf.count()


@given(a=rows)
@settings(**SETTINGS)
def test_distinct_idempotent(spark, a):
    df = spark.createDataFrame(a or [(0, 0)], "k int, v int")
    if not a:
        df = df.limit(0)
    once = df.distinct()
    assert once.count() == once.distinct().count()


@given(a=rows)
@settings(**SETTINGS)
def test_groupmin_dedup_is_subset_and_covers_keys(spark, a):
    """The deterministic dedup (groupBy+min) emits exactly one row per
    key and every surviving (k, v) pair exists in the input."""
    df = spark.createDataFrame(a or [(0, 0)], "k int, v int")
    if not a:
        df = df.limit(0)
    dedup = df.groupBy("k").agg(F.min("v").alias("v"))
    assert dedup.count() == df.select("k").distinct().count()
    assert dedup.join(df, ["k", "v"], "left_anti").count() == 0


@given(a=rows)
@settings(**SETTINGS)
def test_window_topk_containment(spark, a):
    """Per-group top-2 rows ⊆ the group and ≤2 per key."""
    from pyspark.sql import Window as W

    df = spark.createDataFrame(a or [(0, 0)], "k int, v int")
    if not a:
        df = df.limit(0)
    w = W.partitionBy("k").orderBy(F.desc("v"), F.asc("k"))
    top = df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    per_key = top.groupBy("k").count().filter(F.col("count") > 2).count()
    assert per_key == 0
    assert top.drop("rn").join(df, ["k", "v"], "left_anti").count() == 0


seq_rows = st.lists(
    st.tuples(
        st.sampled_from(["en", "de"]),  # lang
        st.integers(min_value=1, max_value=600),  # n_tokens
    ),
    min_size=1,
    max_size=25,
)


@given(docs=seq_rows)
@settings(**SETTINGS)
def test_pack_sequences_conservation_and_boundaries(spark, docs):
    """llm_pack_sequences' contiguous-fill rule, on arbitrary corpora:
    packing preserves doc and token totals, and a new sequence starts
    exactly when the preceding cumsum crosses a 512 multiple."""
    from pyspark.sql import Window as W

    pdf = [(lang, i, n) for i, (lang, n) in enumerate(docs)]
    df = spark.createDataFrame(pdf, "lang string, doc_id int, n_tokens int")
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    placed = df.select(
        "lang",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("before"),
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 512.0)
        .cast("long")
        .alias("seq_id"),
    ).toPandas()
    packed = placed.groupby(["lang", "seq_id"]).agg(
        n_docs=("n_tokens", "size"), sum_tokens=("n_tokens", "sum")
    )
    assert packed["n_docs"].sum() == len(docs)
    assert packed["sum_tokens"].sum() == sum(n for _, n in docs)
    for _, row in placed.iterrows():
        assert row["seq_id"] == row["before"] // 512


@given(langs=st.lists(st.sampled_from(["en", "de", "fr"]), min_size=1, max_size=40))
@settings(**SETTINGS)
def test_stratified_sample_quota_and_determinism(spark, langs):
    """llm_stratified_sample's md5-ordered pick, on arbitrary strata:
    every stratum yields exactly ceil(0.1·n) rows, and the chosen SET is
    identical under different partitionings (no RNG, no layout
    dependence)."""
    import math

    from pyspark.sql import Window as W

    rows = [(lang, i) for i, lang in enumerate(langs)]
    df = spark.createDataFrame(rows, "lang string, doc_id int")

    def sample(frame):
        w = W.partitionBy("lang").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
        return (
            frame.select(
                "lang",
                "doc_id",
                F.row_number().over(w).alias("pick"),
                F.count(F.lit(1)).over(W.partitionBy("lang")).alias("n_lang"),
            )
            .filter(F.col("pick") <= F.ceil(0.1 * F.col("n_lang")).cast("long"))
            .select("lang", "doc_id")
        )

    got = {tuple(r) for r in sample(df.repartition(2)).collect()}
    again = {tuple(r) for r in sample(df.repartition(7)).collect()}
    assert got == again
    from collections import Counter

    per_lang = Counter(lang for lang, _ in got)
    pop = Counter(langs)
    for lang, n in pop.items():
        assert per_lang[lang] == math.ceil(0.1 * n)


@given(
    sig_pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=(1 << 60) - 1),
            st.integers(min_value=0, max_value=3),  # target hamming
            st.sets(st.integers(min_value=0, max_value=59), max_size=3),
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=50, deadline=None)
def test_simhash_band_pigeonhole_recall(sig_pairs):
    """llm_simhash_neardup's candidate rule, on arbitrary signatures:
    any pair within Hamming ≤ 3 on 60 bits MUST share at least one of
    the 4 15-bit bands (pigeonhole) — the banding can never miss a
    true near-dup. Pure arithmetic, no Spark needed."""
    for base, _, flip_bits in sig_pairs:
        other = base
        for b in flip_bits:
            other ^= 1 << b
        assert bin(base ^ other).count("1") <= 3
        shares_band = any(
            (base >> (15 * k)) & 0x7FFF == (other >> (15 * k)) & 0x7FFF
            for k in range(4)
        )
        assert shares_band, (base, other)


edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=11),
        st.integers(min_value=0, max_value=11),
    ),
    min_size=0,
    max_size=20,
)


@given(raw_edges=edge_lists)
@example(raw_edges=[(i + 1, i) for i in range(11)])  # 12-node chain
@example(raw_edges=[(0, 3), (5, 0), (0, 9), (1, 2), (1, 11), (4, 6)])  # stars
@settings(**SETTINGS)
def test_connected_components_match_union_find(spark, raw_edges):
    """BOTH component implementations — the registered alternating
    star contraction and the min-label propagation reference — must
    equal a union-find reference on ANY graph: chains, cliques,
    singletons. The edges go in unfiltered: both orientations,
    repeated edges and self-loops included."""
    from climateiq_pipelines_spark.operators.dedup_graph import (
        connected_components,
        connected_components_propagation,
    )

    n_nodes = 12
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in raw_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {v: find(v) for v in range(n_nodes)}

    nodes_df = spark.createDataFrame(
        [(v,) for v in range(n_nodes)], "doc_id long"
    )
    edges_df = spark.createDataFrame(
        raw_edges or [(0, 0)], "a_id long, b_id long"
    )
    if not raw_edges:
        edges_df = edges_df.limit(0)
    for impl in (connected_components, connected_components_propagation):
        got = {
            r["doc_id"]: r["label"]
            for r in impl(nodes_df, edges_df).collect()
        }
        assert got == expected, impl.__name__

    # nodes with repeated keys and an extra column: every row comes
    # back, with its own extra value and its node's label
    rows = [(v, 100 + v) for v in range(n_nodes)] + [
        (v, 200 + v) for v in range(0, n_nodes, 3)
    ]
    tagged = spark.createDataFrame(rows, "doc_id long, tag long")
    got = sorted(
        (r["doc_id"], r["tag"], r["label"])
        for r in connected_components(tagged, edges_df).collect()
    )
    assert got == sorted((v, t, expected[v]) for v, t in rows)


def test_star_forest_stop_predicate(spark):
    """connected_components stops when every node has all neighbours
    larger or exactly one neighbour, read from the flag observed on the
    round's checkpoint. A leaf with two smaller neighbours and a
    two-level chain 2→1→0 are not star forests; stars centred on their
    minima (with repeated edges) are, and so is an empty edge set."""
    from climateiq_pipelines_spark.operators.dedup_graph import _star_checkpoint

    def stops(edges):
        e = spark.createDataFrame(edges or [(0, 1)], "x long, y long")
        star, done = _star_checkpoint(e if edges else e.limit(0))
        assert star.count() == 2 * len(edges)  # both orientations
        return done

    assert not stops([(2, 0), (2, 1)])  # leaf 2 with two smaller nbrs
    assert not stops([(2, 1), (1, 0)])  # chain 2 → 1 → 0
    assert not stops([(0, 1), (1, 2)])  # same chain, other orientation
    assert not stops([(3, 1), (1, 0), (2, 0)])  # centre 0, leaf 1 hung on
    assert stops([(1, 0), (0, 2), (3, 0), (3, 0), (5, 4)])
    assert stops([(7, 6)])
    assert stops([])  # no edges: the observed flag is null


doc_texts = st.lists(
    st.one_of(
        st.none(),
        # runs of spaces give empty tokens; a small vocabulary repeats
        # tokens inside a text
        st.lists(
            st.sampled_from(["a", "dup", "scan", "spark", "naïve", "", "  "]),
            min_size=1,
            max_size=12,
        ).map(" ".join),
    ),
    min_size=1,
    max_size=8,
)


def _simhash60_reference(text: str) -> int:
    """Python twin of the oracle's signature: each distinct token votes
    ±1 per bit of its first 15 md5 hex digits; bit j is set iff its
    vote sum is ≥ 0."""
    import hashlib

    hs = [
        int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
        for t in set(text.split(" "))
    ]
    sig = 0
    for j in range(60):
        if sum(1 if (h >> j) & 1 else -1 for h in hs) >= 0:
            sig |= 1 << j
    return sig


@given(texts=doc_texts)
@example(texts=["spark spark spark dup", "a", "a  a   dup ", "", None])
@settings(**SETTINGS)
def test_simhash60_sigs_match_reference(spark, texts):
    """_simhash60_sigs computes each row's signature over its DISTINCT
    tokens (repeats vote once; empty tokens from runs of spaces count),
    and a row with null text has no signature row."""
    from climateiq_pipelines_spark.operators.llm import _simhash60_sigs

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {r["doc_id"]: r["sig"] for r in _simhash60_sigs(docs).collect()}
    assert got == {
        i: _simhash60_reference(t) for i, t in enumerate(texts) if t is not None
    }


sig_docs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # base signature
        st.lists(st.integers(min_value=0, max_value=59), max_size=4),  # flips
    ),
    min_size=1,
    max_size=16,
)


@given(docs=sig_docs)
@example(docs=[(0, [])] * 4 + [(0, [1]), (1, [])])  # shared sig + near-dup
@example(docs=[(0, [j for j in range(k)]) for k in range(5)])  # Hamming chain
@settings(**SETTINGS)
def test_signature_components_match_union_find(spark, docs):
    """Clustering one representative per distinct signature gives every
    document the label union-find gives it over brute-force document
    pairs with Hamming ≤ 3 — many documents share a signature."""
    from climateiq_pipelines_spark.operators.dedup_graph import (
        _signature_components,
    )

    bases = [0x0123456789ABCDE, 0x0FEDCBA98765432, 0, (1 << 60) - 1, 7, 1 << 59]
    rows = []
    for doc_id, (base, flips) in enumerate(docs):
        sig = bases[base]
        for bit in flips:
            sig ^= 1 << bit
        rows.append((doc_id, sig))
    parent = list(range(len(rows)))

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for i, si in rows:
        for j, sj in rows:
            if i < j and bin(si ^ sj).count("1") <= 3:
                ri, rj = find(i), find(j)
                parent[max(ri, rj)] = min(ri, rj)
    sig_df = spark.createDataFrame(rows, "doc_id long, sig long")
    got = {r["doc_id"]: r["label"] for r in _signature_components(sig_df).collect()}
    assert got == {i: find(i) for i, _ in rows}


band_sigs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=(1 << 60) - 1),
        # the base's near-dup: bit flips as (band, offset in band)
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=3),
                st.integers(min_value=0, max_value=14),
            ),
            max_size=4,
        ),
    ),
    min_size=1,
    max_size=6,
)


@given(groups=band_sigs)
@example(groups=[(0x0123456789ABCDE, [])])
# the near-dup of group n shares 4 - n bands with its base (n = 0:
# identical; n = 4: Hamming 4, not a pair)
@example(groups=[(0x0FEDCBA98765432, [(k, 5) for k in range(n)]) for n in range(5)])
@settings(**SETTINGS)
def test_simhash60_pairs_match_brute_force(spark, groups):
    """_simhash60_pairs over random signatures returns exactly the
    brute-force Hamming ≤ 3 pair set, each (a_id, b_id) once — also for
    identical signatures and near-dups sharing 1, 2, 3 or 4 bands."""
    from climateiq_pipelines_spark.operators.llm import _simhash60_pairs

    sigs = []
    for base, flips in groups:
        sigs.append(base)
        other = base
        for band, bit in flips:
            other ^= 1 << (15 * band + bit)
        sigs.append(other)
    rows = [(i, sig) for i, sig in enumerate(sigs)]
    expected = {
        (i, j, bin(si ^ sj).count("1"))
        for i, si in rows
        for j, sj in rows
        if i < j and bin(si ^ sj).count("1") <= 3
    }
    sig_df = spark.createDataFrame(rows, "doc_id long, sig long")
    got = [
        (r["a_id"], r["b_id"], r["hamming"])
        for r in _simhash60_pairs(sig_df).collect()
    ]
    assert len(got) == len(set(got)), "duplicate pair rows"
    assert set(got) == expected


norm_texts = st.lists(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Ll", "Lu", "Nd", "Po", "Zs", "Sm")
        ),
        max_size=40,
    ),
    min_size=1,
    max_size=8,
)


@given(texts=norm_texts)
@settings(**SETTINGS)
def test_text_normalize_idempotent(spark, texts):
    """C4-style normalization is a projection onto its own image:
    applying it twice must equal applying it once, for arbitrary
    unicode/punctuation/whitespace input."""
    def norm(col):
        return F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(col), "[^a-z0-9 ]", " "), " +", " "
            )
        )

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    out = df.select(
        norm(F.col("text")).alias("once"),
        norm(norm(F.col("text"))).alias("twice"),
    ).collect()
    for r in out:
        assert r["once"] == r["twice"], repr(r)


def test_dedup_clusters_keep_null_text_docs(spark, tmp_path):
    """A document with null text has no signature but stays in
    llm_dedup_clusters' output as a singleton, as in the oracle; an
    empty text is one empty token and does get a signature."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from climateiq_pipelines_spark.parity import compare_frames
    from climateiq_pipelines_spark.plans import ORACLES, QUERIES

    texts = ["a b c", None, "c b a a", "spark scan", None, "", "scan spark"]
    n = len(texts)
    path = tmp_path / "documents.parquet"
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * n, pa.string()),
                "source": pa.array(["src0"] * n, pa.string()),
                "n_chars": pa.array([len(t or "") for t in texts], pa.int64()),
            }
        ),
        path,
    )
    got = QUERIES["llm_dedup_clusters"](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    want = con.execute(ORACLES["llm_dedup_clusters"]).fetchdf()
    con.close()
    result = compare_frames("llm_dedup_clusters", got, want)
    assert result.ok, result.reasons
    labels = dict(zip(got["doc_id"], got["cluster_id"]))
    assert (labels[1], labels[4], labels[2], labels[6]) == (1, 4, 0, 3)
