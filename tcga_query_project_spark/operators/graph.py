"""Distributed connected components (alternating large-star / small-star).

The transitive-closure step of dedup: MinHash-LSH / SimHash /
embedding-cosine emit near-duplicate PAIRS, but pairs only relate
documents pairwise — choosing one keeper per duplicate *group* needs
the connected components of the pair graph (A~B and B~C put {A, B, C}
in one cluster even though A and C were never directly compared).
Without this step a pair-wise "drop id_b" policy both under-deletes
(transitive dups survive) and over-deletes (the keeper itself can be
someone else's id_b).

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
and Beyond", SoCC 2014). Each operation is one groupBy-min plus one
equi-join — pure relational shuffles, no driver-side graph state — and
the alternation converges in O(log^2 n) rounds on ANY graph shape. In
practice dedup graphs converge in 2-4 rounds (clusters are small and
star-like), but the bound is what matters at scale: plain min-label
propagation needs rounds proportional to the graph DIAMETER, so one
pathological 1M-node chain (e.g. boilerplate documents that drift one
shingle per page) would need 1M rounds; large-star/small-star needs
~20. This is the standard cluster-scale recipe when GraphX /
GraphFrames is not reachable from PySpark.

Scale notes (100 TB corpus):

- The working set is the EDGE list — near-dup pairs, orders of
  magnitude smaller than the corpus — and each round shuffles only
  (long, long) pairs. Documents are never shuffled here.
- Rounds are separated by ``localCheckpoint`` (lazy — the round's
  convergence digest materializes it, so each round is one Spark
  action) to truncate lineage: without it, iteration k's plan embeds
  k copies of the join-agg subtree and both the optimizer and the
  scheduler choke. On a real cluster prefer reliable ``checkpoint()``
  (HDFS/S3-backed) so a lost executor does not force recomputing the
  whole iteration chain; ``localCheckpoint`` is the single-JVM
  stand-in, same lineage semantics.
- Convergence is detected with an order-insensitive digest
  (count + sum of xxhash64 over edges) — two scalar aggregates, no
  driver-side edge collection.
- Small graphs short-circuit: the first digest yields the exact edge
  count for free, and below ``local_threshold`` edges the component
  labelling comes from driver-side union-find on the collected pairs
  (the GraphFrames ``broadcastThreshold`` pattern) — a dedup pair
  graph is orders of magnitude smaller than its corpus, and one
  distributed round costs more wall-clock in shuffle-stage scheduling
  than union-find costs on a million edges.

Reference analog: none (the reference pipeline, vital_status_DESeq.R,
has no graph step); this operator serves the LLM-data-pipeline dedup
surface the brief adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bidir(e: DataFrame) -> DataFrame:
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u with neighborhood G(u): connect every LARGER
    neighbor v > u to m = min({u} + G(u)). Strictly decreases large
    labels; cannot create self-loops except (m, m), filtered."""
    bidir = _bidir(e)
    mins = (
        bidir.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least(F.col("u"), F.col("_mn")).alias("_m"))
    )
    return (
        bidir.filter(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient each edge (big, small); for each big node u connect every
    SMALLER neighbor — and u itself — to m = min(G_small(u)). Flattens
    chains of small labels into stars."""
    ori = (
        e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = ori.groupBy("u").agg(F.min("v").alias("_m"))
    nbrs = ori.join(mins, "u").select(
        F.col("v").alias("u"), F.col("_m").alias("v")
    )
    selfrows = mins.select("u", F.col("_m").alias("v"))
    return (
        nbrs.union(selfrows)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _union_find_local(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find with path compression + union-by-size, relabelled so
    every root is the MINIMUM id of its component (same canonical label
    as the distributed fixed point)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min: the smaller id becomes the root, so the
            # final root IS the component's minimum without a second
            # relabelling pass
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    return {x: find(x) for x in parent}


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 50,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components of an undirected graph given as an edge
    list. Returns ``(id BIGINT, component BIGINT)`` with one row per
    node that appears in ``edges``; ``component`` is the MINIMUM node
    id in the component (a deterministic, engine-portable canonical
    label). Nodes absent from ``edges`` (singletons) are the caller's
    to add — see :func:`tcga_query_project_spark.operators.dedup.dup_clusters`.

    ``max_iter`` is a safety rail, not a tuning knob: the alternation
    provably converges in O(log^2 n) rounds, so 50 covers any graph
    that fits in any cluster. Raises ``RuntimeError`` if the digest has
    not stabilized by then (indicates data corruption, e.g. NaN ids).

    ``local_threshold``: when the deduplicated edge list has at most
    this many edges (known exactly from the first convergence digest —
    no extra job), solve with driver-side union-find on the collected
    pairs instead of iterating distributed rounds. Each distributed
    round costs ~6 shuffle stages of pure scheduling latency however
    small the data, so a tiny graph pays seconds for work union-find
    does in microseconds; 1M edges is ~16 MB of (long, long) — far
    under any driver budget, and orders of magnitude smaller than the
    corpus the pairs came from. Same size-gated escape hatch as
    GraphFrames' ``broadcastThreshold``; set 0 to force the
    distributed path (tests do, to pin both paths' equivalence).
    """
    # Lazy checkpoints: marking the round's result for checkpoint and
    # letting the digest aggregate materialize it costs ONE Spark action
    # per round instead of two (eager checkpoint job + digest job) —
    # the digest both truncates lineage and detects convergence in the
    # same pass. Halves per-round fixed cost; matters because the edge
    # list is tiny relative to the corpus, so round latency is
    # scheduling overhead, not data.
    e = (
        edges.select(
            F.col(src).cast("long").alias("u"),
            F.col(dst).cast("long").alias("v"),
        )
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    out_schema = e.select(
        F.col("u").alias("id"), F.col("v").alias("component")
    )

    def digest(df: DataFrame) -> tuple:
        # decimal(38,0) accumulator: a sum of 64-bit hashes overflows
        # BIGINT under ANSI arithmetic
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).first()
        return (row["n"], row["h"])

    prev = digest(e)
    if prev[0] == 0:
        return out_schema.limit(0)
    if prev[0] <= local_threshold:
        # e is checkpointed, so this collect re-reads materialized
        # blocks — no recomputation of the (possibly expensive)
        # pair-generation subtree.
        comp = _union_find_local([(r["u"], r["v"]) for r in e.collect()])
        spark = edges.sparkSession
        return spark.createDataFrame(
            [(int(k), int(v)) for k, v in sorted(comp.items())],
            schema="id bigint, component bigint",
        )
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        cur = digest(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # Fixed point of both stars is a union of min-rooted stars:
    # every edge is (member, root). Roots get a self-labelled row.
    members = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = (
        e.select(F.col("v").alias("id")).distinct()
        .select("id", F.col("id").alias("component"))
    )
    return members.union(roots).distinct()


def _pagerank_local(spark, pairs, damping: float, n_iter: int):
    """Driver-side sparse power iteration — the small-graph escape
    hatch (same recurrence as the distributed loop; accumulation order
    differs only at float ulp, inside every consumer's rounding)."""
    nodes = sorted({u for u, _ in pairs} | {v for _, v in pairs})
    if not nodes:
        return spark.createDataFrame([], schema="node bigint, rank double")
    idx = {nd: i for i, nd in enumerate(nodes)}
    n = len(nodes)
    out: dict[int, list[int]] = {}
    for u, v in pairs:
        out.setdefault(idx[u], []).append(idx[v])
    rank = [1.0 / n] * n
    for _ in range(n_iter):
        nxt = [(1.0 - damping) / n] * n
        dang = sum(rank[i] for i in range(n) if i not in out)
        if dang:
            add = damping * dang / n
            nxt = [x + add for x in nxt]
        for i, targets in out.items():
            share = damping * rank[i] / len(targets)
            for j in targets:
                nxt[j] += share
        rank = nxt
    return spark.createDataFrame(
        [(int(nd), float(rank[i])) for nd, i in idx.items()],
        schema="node bigint, rank double",
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    damping: float = 0.85,
    n_iter: int = 10,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """PageRank over a directed edge list — the link-graph quality
    prior of a web-scale training pipeline (Common Crawl publishes
    exactly this as its host-level ranking; quality-weighted sampling
    and crawl frontier prioritization both consume it).

    Returns ``(node BIGINT, rank DOUBLE)`` with one row per node that
    appears in ``edges`` (as source OR target); ranks sum to 1. Fixed
    ``n_iter`` synchronous power iterations of the standard recurrence

        rank'(j) = (1-d)/n + d * (sum_{i->j} rank(i)/outdeg(i)
                                  + dangling_mass/n)

    with dangling-node mass (nodes with no out-edges) redistributed
    uniformly — the convention of Page et al. 1999 that keeps the
    iterate a probability distribution, so a fixed iteration count is
    comparable across engines (and mirrorable in SQL as ``n_iter``
    chained CTEs: see the ``gq_pagerank`` oracle).

    Scale notes (billion-node web graph):

    - Per iteration: ONE join of the rank vector to the edge list and
      ONE groupBy(dst) partial-aggregated sum — both node/edge-scale
      relational shuffles; documents/pages themselves never move.
      The edge list and the (node, outdeg) base are hash-partitioned
      on their join keys ONCE and persisted, so every iteration
      re-shuffles only the rank vector (8+8 bytes per node).
    - The dangling-mass scalar stays IN-PLAN (a 1-row aggregate
      broadcast-cross-joined onto the update) — no per-iteration
      driver collect.
    - Each iteration ends in an eager ``localCheckpoint`` (reliable
      ``checkpoint()`` on a real cluster) so iteration k's plan does
      not embed k copies of the join-agg subtree — same lineage
      discipline as :func:`connected_components`.
    - Self-loops and duplicate edges are dropped (simple-graph
      semantics); NULL endpoints are dropped.
    - ``local_threshold``: when the deduplicated edge list is at most
      this many edges (known from the one count that also
      materializes the persisted edges), iterate driver-side instead —
      n_iter distributed rounds cost ~4 shuffle-stage schedulings each
      however small the graph (measured 4.7 s for a 5000-node graph at
      sf0.1), while sparse power iteration on 1M collected edges is
      O(E·n_iter) driver work, well under a second. Same size-gated
      escape hatch as :func:`connected_components`; 0 forces the
      distributed path (the differential tests pin both paths to the
      same numpy reference).

    Reference analog: none (no graph step in the reference); serves
    the LLM-data-pipeline quality surface the brief adds.
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    e = (
        edges.select(
            F.col(src).cast("long").alias("src"),
            F.col(dst).cast("long").alias("dst"),
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .repartition("src")
        .persist()
    )
    if local_threshold:
        n_edges = e.count()
        if n_edges <= local_threshold:
            pairs = [(r["src"], r["dst"]) for r in e.collect()]
            e.unpersist()
            return _pagerank_local(
                edges.sparkSession, pairs, damping, n_iter
            )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(
        F.count(F.lit(1)).cast("double").alias("od")
    )
    # Static per-iteration side: (node, od) with od NULL for dangling
    # nodes; partitioned on node so the per-iteration rank join is
    # co-located.
    base = (
        nodes.join(outdeg, nodes["node"] == outdeg["src"], "left")
        .select("node", "od")
        .repartition("node")
        .persist()
    )
    n = base.count()  # one action; also materializes base + e
    if n == 0:
        base.unpersist()
        e.unpersist()
        return edges.sparkSession.createDataFrame(
            [], schema="node bigint, rank double"
        )
    ranks = base.select(
        "node", F.lit(1.0 / n).alias("rank")
    ).localCheckpoint(eager=True)
    teleport = (1.0 - damping) / n
    for _ in range(n_iter):
        withdeg = ranks.join(base, "node")
        contrib = (
            withdeg.join(e, withdeg["node"] == e["src"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("od")).alias("_contrib"))
        )
        dangling = withdeg.filter(F.col("od").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang")
        )
        new = (
            base.select("node")
            .join(contrib, base["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("_contrib"), F.lit(0.0))
                        + F.col("_dang") / F.lit(float(n))
                    )
                ).alias("rank"),
            )
        )
        ranks = new.localCheckpoint(eager=True)
    base.unpersist()
    e.unpersist()
    return ranks


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle participation and local clustering coefficient
    over an undirected simple graph — the community-structure /
    spam-farm signal of a link-graph quality pipeline (dense local
    clustering separates organic neighborhoods from link farms, and the
    global transitivity ratio is the standard graph-health summary).

    Returns ``(node BIGINT, degree BIGINT, triangles BIGINT,
    clustering DOUBLE)`` — one row per node appearing in ``edges``;
    ``clustering = round(2·T / (d·(d−1)), 6)``, NULL when ``d < 2``
    (undefined: no possible wedge). Direction, duplicate edges, and
    self-loops are dropped (simple-graph semantics, same normalization
    as :func:`pagerank` / :func:`connected_components`).

    Degree-ordered orientation (Suri & Vassilvitskii, "Counting
    Triangles and the Curse of the Last Reducer", WWW 2011): each
    undirected edge is oriented from its endpoint with the smaller
    ``(degree, node)`` to the larger — a total order, so every
    triangle has exactly ONE pivot vertex with two out-edges and is
    generated exactly once. The wedge self-join fans out per node as
    out-degree², and orientation bounds out-degree by O(√m) on ANY
    graph — a degree-10⁷ hub that would generate 10¹⁴ wedges under
    naive neighbor-pairing generates at most m ≈ 10⁷·√m here. This is
    the difference between "works on the web graph" and "the last
    reducer runs for a week" (the paper's title).

    Dataflow (three relational shuffles on the EDGE list — node/edge
    scale; no windows, no Python, no driver state):

    1. canonicalize + distinct → degrees (one groupBy);
    2. orient (two degree joins), wedge self-join on the pivot;
    3. close wedges against the canonical edge list (equi-join on the
       ``(min_id, max_id)`` pair — wedge endpoints are already emitted
       in id order, matching the canonical form), then one explode +
       groupBy to attribute each triangle to its three vertices.

    Reference analog: none (no graph step in the reference); serves
    the link-graph quality surface alongside :func:`pagerank`.
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("a"),
            F.col(dst).cast("long").alias("b"),
        )
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    # the canonical edge list recurs in FOUR subtrees (degree, two
    # orientation joins, closing-edge lookup); without lineage
    # truncation the static plan replicates the whole derive-edges
    # subplan per consumer (13 source scans / 19 exchanges in the
    # audit) and correctness of the dedupe is left to runtime
    # ReusedExchange. An eager localCheckpoint materializes the
    # (long, long) edge list ONCE — same lineage discipline as
    # pagerank/connected_components (reliable checkpoint() on a real
    # cluster); a lazy function-scope persist would leak executor
    # memory with no unpersist point. A lazy variant was evaluated and
    # rejected — localCheckpoint executes its stages at
    # call time even with eager=False, and the persist form only moved
    # the same one-time materialization from build to exec while
    # bloating the static plan metrics.
    e = e.localCheckpoint(eager=True)
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("_db"))
    # orient low-(degree, id) -> high; (degree, id) is a TOTAL order so
    # the orientation is acyclic and every triangle has one pivot
    a_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    e1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    e2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    # x < y by id: each out-neighbor pair of the pivot appears once,
    # and (x, y) is already the canonical (min_id, max_id) form the
    # closing-edge lookup needs
    wedges = e1.join(e2, "u").filter(F.col("x") < F.col("y"))
    tri = wedges.join(
        e, (F.col("x") == F.col("a")) & (F.col("y") == F.col("b"))
    ).select("u", "x", "y")
    tn = (
        tri.select(
            F.explode(F.array("u", "x", "y")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(tn, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias(
                "triangles"
            ),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0
                    * F.coalesce(F.col("triangles"), F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                    6,
                ),
            ).alias("clustering"),
        )
    )
