"""Connected components (large-star/small-star) and dup-cluster
resolution.

The reference implementation for every graph test is a 20-line
union-find — the ground truth the distributed algorithm must match on
any input, including the shapes that break naive propagation (long
chains) and the shapes that break naive star-fixpoints (overlapping
cliques sharing nodes)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from tcga_query_project_spark.operators import dedup
from tcga_query_project_spark.operators.graph import connected_components


def union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # canonical label = min node id in component
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    return {n: min(ns + [r]) for r, ns in comp.items() for n in ns}


def _run(spark, edges: list[tuple[int, int]], **kw) -> dict[int, int]:
    df = spark.createDataFrame(edges, "a long, b long")
    out = connected_components(df, "a", "b", **kw)
    return {r["id"]: r["component"] for r in out.collect()}


def test_empty_edges(spark):
    df = spark.createDataFrame([], "a long, b long")
    out = connected_components(df, "a", "b")
    assert out.columns == ["id", "component"]
    assert out.count() == 0


def test_two_cliques_and_a_bridgeless_pair(spark):
    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (20, 21)]
    got = _run(spark, edges)
    assert got == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_long_chain_converges_logarithmically(spark):
    """A 300-node chain is the adversarial case for min-label
    propagation (diameter rounds); large-star/small-star must resolve
    it within the O(log^2 n) budget that connected_components allots
    (max_iter=15 << 300 forces the fast convergence, not the rail)."""
    n = 300
    edges = [(i, i + 1) for i in range(n - 1)]
    df = _shuffled_df(edges)
    # local_threshold=0 forces the distributed alternation — this test
    # exists to pin ITS convergence rate, not the union-find shortcut
    out = connected_components(df, "a", "b", max_iter=15, local_threshold=0)
    rows = out.collect()
    assert len(rows) == n
    assert {r["component"] for r in rows} == {0}


_shuffled_spark = None


def _shuffled_df(edges):
    rng = random.Random(7)
    e = list(edges)
    rng.shuffle(e)
    # randomize orientation too — the algorithm must not depend on it
    e = [(v, u) if rng.random() < 0.5 else (u, v) for u, v in e]
    return _shuffled_spark.createDataFrame(e, "a long, b long")


@pytest.fixture(autouse=True)
def _bind_spark(spark):
    global _shuffled_spark
    _shuffled_spark = spark
    yield


@pytest.mark.parametrize("seed,n,m", [(1, 60, 40), (2, 120, 150), (3, 200, 90)])
def test_random_graphs_match_union_find(spark, seed, n, m):
    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    edges = [(u, v) for u, v in edges if u != v]
    # both execution paths (size-gated driver union-find and the
    # distributed star alternation) must produce the identical labelling
    got_local = _run(spark, edges)
    got_dist = _run(spark, edges, local_threshold=0)
    assert got_local == union_find_components(edges)
    assert got_dist == got_local


def test_duplicate_and_reversed_edges_are_harmless(spark):
    edges = [(1, 2), (2, 1), (1, 2), (2, 3), (3, 2)]
    got = _run(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1}


def test_cc_local_path_runs_one_job(spark):
    """The small-graph gate is one bounded collect: no checkpoint or
    digest job before it, and a label frame that needs no job to build.
    AQE submits each shuffle map stage as a job of its own, and a limit
    collect scans partitions in rounds, so the count runs with AQE off
    and one shuffle partition, where one action is one job."""
    sc = spark.sparkContext
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    saved = {k: spark.conf.get(k) for k in keys}
    df = spark.createDataFrame([(1, 2), (2, 3), (2, 1), (10, 11)], "a long, b long")
    group = "cc_local_path_jobs"
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    sc.setJobGroup(group, "connected_components local path")
    try:
        out = connected_components(df, "a", "b")
    finally:
        sc.setJobGroup("none", "")
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert {r["id"]: r["component"] for r in out.collect()} == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
    }


def test_dup_clusters_golden(spark):
    """Three near-identical long docs (A~B, B~C transitively), one
    near-pair of short docs, one singleton. Keeper = longest text,
    tie -> min id."""
    base = "the quick brown fox jumps over the lazy dog again and again "
    docs = spark.createDataFrame(
        [
            (1, base * 4 + "alpha"),
            (2, base * 4 + "beta"),
            (3, base * 4 + "beta gamma extra tail words"),  # longest
            (10, "completely different text about spark shuffle behavior"
                 " and partition pruning in very large clusters here"),
            (11, "completely different text about spark shuffle behavior"
                 " and partition pruning in very large clusters there"),
            (50, "a singleton document unlike anything else in corpus"),
        ],
        "doc_id long, text string",
    )
    out = dedup.dup_clusters(docs, "doc_id", "text")
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows.keys() == {1, 2, 3, 10, 11, 50}
    assert [rows[i]["component"] for i in (1, 2, 3)] == [1, 1, 1]
    assert [rows[i]["cluster_size"] for i in (1, 2, 3)] == [3, 3, 3]
    # doc 3 has the longest text -> keeper for the big cluster
    assert [rows[i]["keep_id"] for i in (1, 2, 3)] == [3, 3, 3]
    assert rows[10]["component"] == 10 and rows[11]["component"] == 10
    assert rows[10]["cluster_size"] == 2
    # "there" is one char longer than "here" -> 11 is the keeper
    assert rows[10]["keep_id"] == 11 and rows[11]["keep_id"] == 11
    assert (
        rows[50]["component"] == 50
        and rows[50]["cluster_size"] == 1
        and rows[50]["keep_id"] == 50
    )


def test_dup_clusters_keeper_partition_is_consistent(spark, tmp_path):
    """Deduplicated corpus = filter(id == keep_id): exactly one keeper
    per component, and every dropped doc's keeper exists."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    out = dedup.dup_clusters(docs, "doc_id", "text").cache()
    try:
        per_comp = out.groupBy("component").agg(
            F.countDistinct("keep_id").alias("nk"),
            F.sum((F.col("doc_id") == F.col("keep_id")).cast("int")).alias(
                "keepers_present"
            ),
        )
        bad = per_comp.filter(
            (F.col("nk") != 1) | (F.col("keepers_present") != 1)
        ).count()
        assert bad == 0
        assert out.count() == docs.count()
    finally:
        out.unpersist()


def test_clusters_from_pairs_embedding_source(spark):
    """The cluster resolver is pair-source-agnostic: feed it
    embedding-cosine near-dup pairs and check keeper/size semantics
    against a direct union-find on the same pairs."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pairs = dedup.embedding_near_dup(emb, "vec_id", "embedding", 0.35)
    pl = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    out = dedup.clusters_from_pairs(emb, pairs, "vec_id", F.lit(0))
    rows = {r["vec_id"]: r for r in out.collect()}
    assert len(rows) == emb.count()
    ref = union_find_components(pl)
    for vid, r in rows.items():
        assert r["component"] == ref.get(vid, vid)
        # equal weights -> keeper is the component label (min id)
        assert r["keep_id"] == r["component"]


# =====================================================================
# PageRank
# =====================================================================


def numpy_pagerank(
    edges: list[tuple[int, int]], damping: float, n_iter: int
) -> dict[int, float]:
    """Dense power-iteration reference: identical recurrence to the
    operator (uniform init, dangling mass redistributed uniformly,
    simple-graph normalization)."""
    import numpy as np

    es = sorted({(u, v) for u, v in edges if u != v})
    nodes = sorted({u for u, _ in es} | {v for _, v in es})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out: dict[int, list[int]] = {}
    for u, v in es:
        out.setdefault(idx[u], []).append(idx[v])
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        nxt = np.full(n, (1.0 - damping) / n)
        dang = sum(r[i] for i in range(n) if i not in out)
        nxt += damping * dang / n
        for i, targets in out.items():
            share = damping * r[i] / len(targets)
            for j in targets:
                nxt[j] += share
        r = nxt
    return {nodes[i]: float(r[i]) for i in range(n)}


def _pagerank_dict(spark, edges, **kw) -> dict[int, float]:
    from tcga_query_project_spark.operators.graph import pagerank

    df = spark.createDataFrame(edges, schema="src bigint, dst bigint")
    return {
        r["node"]: r["rank"] for r in pagerank(df, **kw).collect()
    }


def test_pagerank_two_node_cycle_is_uniform(spark):
    got = _pagerank_dict(spark, [(1, 2), (2, 1)])
    assert got == pytest.approx({1: 0.5, 2: 0.5})


def test_pagerank_star_concentrates_on_hub(spark):
    # 4 leaves all pointing at the hub; hub is dangling. With uniform
    # dangling redistribution rank stays a probability distribution and
    # the hub strictly dominates every leaf.
    got = _pagerank_dict(spark, [(1, 0), (2, 0), (3, 0), (4, 0)])
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    assert all(got[0] > got[leaf] for leaf in (1, 2, 3, 4))
    assert got[1] == pytest.approx(got[2])


@pytest.mark.parametrize("local_threshold", [0, 1_000_000])
@pytest.mark.parametrize("seed,n,m", [(7, 30, 90), (11, 50, 120)])
def test_pagerank_matches_numpy_power_iteration(
    spark, seed, n, m, local_threshold
):
    """Differential vs the dense reference on random digraphs that
    contain dangling nodes, sinks, duplicate and self-loop edges —
    BOTH the distributed path (threshold 0) and the driver escape
    hatch must match the same numpy reference."""
    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    edges += edges[:5]  # duplicates
    edges.append((3, 3))  # self-loop (dropped by both)
    want = numpy_pagerank(edges, damping=0.85, n_iter=6)
    got = _pagerank_dict(spark, edges, local_threshold=local_threshold)
    assert set(got) == set(want)
    for node, rank in want.items():
        assert got[node] == pytest.approx(rank, abs=1e-12), node
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


# ---------------------------------------------------------------------------
# triangle_counts
# ---------------------------------------------------------------------------


def _brute_triangles(edges):
    """Dict node -> (degree, triangles, clustering) by enumeration."""
    import itertools

    und = {(min(s, t), max(s, t)) for s, t in edges if s != t}
    adj: dict = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for n, nbrs in adj.items():
        t = sum(
            1
            for x, y in itertools.combinations(sorted(nbrs), 2)
            if (min(x, y), max(x, y)) in und
        )
        d = len(nbrs)
        cc = round(2.0 * t / (d * (d - 1)), 6) if d >= 2 else None
        out[n] = (d, t, cc)
    return out


def _tri_dict(spark, edges):
    from tcga_query_project_spark.operators.graph import triangle_counts

    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: (r["degree"], r["triangles"], r["clustering"])
        for r in triangle_counts(df).collect()
    }


def test_triangles_k4_golden(spark):
    """K4: every node has degree 3, sits in 3 triangles, clustering 1."""
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    got = _tri_dict(spark, k4)
    assert got == {n: (3, 3, 1.0) for n in range(4)}


def test_triangles_path_has_none_and_degree1_clustering_is_null(spark):
    got = _tri_dict(spark, [(0, 1), (1, 2), (2, 3)])
    assert got[0] == (1, 0, None)  # d<2: clustering undefined, not 0.0
    assert got[1] == (2, 0, 0.0)
    assert got[3] == (1, 0, None)


def test_triangles_empty(spark):
    from tcga_query_project_spark.operators.graph import triangle_counts

    df = spark.createDataFrame([], "src long, dst long")
    assert triangle_counts(df).count() == 0


@pytest.mark.parametrize("seed,n,m", [(7, 30, 120), (13, 25, 60), (29, 40, 200)])
def test_triangles_match_brute_force(spark, seed, n, m):
    """Differential vs pairwise enumeration on random multigraphs with
    duplicate / reversed / self-loop edges (all dropped by contract) —
    including heavy degree ties, the case the (degree, id) orientation
    tiebreak must keep acyclic."""
    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    edges += [(b, a) for a, b in edges[:10]]  # reversed duplicates
    edges.append((5, 5))  # self-loop
    assert _tri_dict(spark, edges) == _brute_triangles(edges)


def test_triangles_hub_with_rim(spark):
    """Wheel graph: hub connected to an 8-cycle rim. The hub is the
    high-degree endpoint of every spoke, so orientation points every
    spoke AT it — its wedge fan-out is zero even though its degree is
    max (the Suri-Vassilvitskii property), yet its triangle count (8,
    one per rim edge) still lands via the closing-edge attribution."""
    rim = [(i, i % 8 + 1) for i in range(1, 9)]  # 1-2, 2-3, ..., 8-1
    spokes = [(0, i) for i in range(1, 9)]
    got = _tri_dict(spark, rim + spokes)
    assert got[0] == (8, 8, round(16 / 56, 6))
    for i in range(1, 9):  # 2 rim neighbors + hub; 2 triangles each
        assert got[i] == (3, 2, round(2 / 3, 6))


# =========================================================================
# Round-11 adversarial fuzz grid (round-10 verdict item 5): hypothesis-
# generated edge lists — long chains (diameter pressure), dense small-id
# collisions (overlapping cliques), self-loops, duplicate and reversed
# edges, negative ids — differentially checked against the 20-line
# union-find ground truth on BOTH execution paths, plus the
# local_threshold boundary straddle (the gate must be a pure
# implementation switch, never a semantics switch). Soak dials shared
# with tests/test_fuzz_parity.py: SPARK_GRAFT_FUZZ_EXAMPLES /
# SPARK_GRAFT_FUZZ_SOAK.
# =========================================================================

import os as _os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_FUZZ_EXAMPLES = int(_os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "5"))
_FUZZ_SETTINGS = dict(
    max_examples=_FUZZ_EXAMPLES,
    deadline=None,
    derandomize=_os.environ.get("SPARK_GRAFT_FUZZ_SOAK", "") == "",
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

#: edge soup: ids from a tiny domain (collision-heavy) UNION a chain
#: segment (the adversarial diameter case) UNION junk (self-loops,
#: reversed duplicates, negatives)
_edge_lists = st.lists(
    st.one_of(
        st.tuples(st.integers(-5, 12), st.integers(-5, 12)),
        # chain fragments: (i, i+1) over a wider id range
        st.integers(20, 60).map(lambda i: (i, i + 1)),
    ),
    min_size=0,
    max_size=60,
).map(
    # plant one guaranteed self-loop and one reversed duplicate when
    # there is material to mirror
    lambda es: es + [(3, 3)] + [(b, a) for a, b in es[:2]]
)


@given(edges=_edge_lists)
@settings(**_FUZZ_SETTINGS)
def test_fuzz_cc_local_path_matches_union_find(spark, edges):
    clean = [(u, v) for u, v in edges if u != v]
    assert _run(spark, edges) == union_find_components(clean)


@given(edges=_edge_lists)
@settings(max_examples=max(2, _FUZZ_EXAMPLES // 2), deadline=None,
          derandomize=_os.environ.get("SPARK_GRAFT_FUZZ_SOAK", "") == "",
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_fuzz_cc_distributed_path_matches_union_find(spark, edges):
    # local_threshold=0 forces the star alternation (each example costs
    # several Spark rounds — half the example budget of the local path)
    clean = [(u, v) for u, v in edges if u != v]
    assert _run(spark, edges, local_threshold=0) == union_find_components(
        clean
    )


@given(edges=_edge_lists)
@settings(max_examples=max(2, _FUZZ_EXAMPLES // 2), deadline=None,
          derandomize=_os.environ.get("SPARK_GRAFT_FUZZ_SOAK", "") == "",
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_fuzz_cc_threshold_boundary_is_pure_implementation(spark, edges):
    """Straddle the local-fallback gate at its exact boundary: the gate
    compares the DISTINCT directed self-loop-free edge count, so
    running with threshold == that count (local union-find) and
    threshold == count - 1 (distributed alternation) must label every
    node identically."""
    distinct_directed = {(u, v) for u, v in edges if u != v}
    d = len(distinct_directed)
    if d == 0:
        # nothing but self-loops: both paths must return zero rows
        assert _run(spark, edges) == {}
        return
    at = _run(spark, edges, local_threshold=d)
    below = _run(spark, edges, local_threshold=d - 1)
    assert at == below == union_find_components(sorted(distinct_directed))


def test_cc_self_loops_only_is_empty(spark):
    got = _run(spark, [(4, 4), (7, 7)])
    assert got == {}
