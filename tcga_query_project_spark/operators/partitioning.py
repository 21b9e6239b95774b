"""Partition-shape utilities (physical-layer helpers).

Catalyst decides join/agg strategies, but the *input* partition count
is set by the file layout: a small or single-row-group parquet file
arrives as ONE split, and any CPU-heavy per-row stage downstream
(tokenize → shingle → hash, vector kernels) then runs on one core no
matter how many executors exist. At cluster scale inputs arrive in
many splits and these helpers are no-ops; locally (and for genuinely
small hot tables) they buy back the lost parallelism for the price of
one tiny shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fan_out(df: DataFrame, key: str) -> DataFrame:
    """Ensure at least cluster-parallelism partitions before a CPU-bound
    per-row stage.

    No-op when the input already has that many partitions — the guard
    makes this safe to leave in operator code at any scale; it only
    fires when the scan produced too few splits to keep the cores busy.
    ``key`` hash-partitions (deterministic placement, and pre-aligns a
    following groupBy on the same key).

    The partition probe (``df.rdd.getNumPartitions()``) compiles the
    subtree to an RDD — ~0.1 s of physical planning per call, paid at
    PLAN-BUILD time by every operator that guards a CPU stage. Round
    13 memoizes it per (session, semanticHash): the count is a
    deterministic function of the plan within a session, and the memo
    can only ever influence the parallelism DECISION, never a result
    (a repartition is row-preserving), so this is metadata caching in
    the metastore sense, not result caching.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    memo = getattr(spark, "_fanout_npart_memo", None)
    if memo is None:
        memo = {}
        spark._fanout_npart_memo = memo
    mkey = df.semanticHash()
    nparts = memo.get(mkey)
    if nparts is None:
        nparts = df.rdd.getNumPartitions()
        memo[mkey] = nparts
    if nparts >= target:
        return df
    return df.repartition(target, F.col(key))


def _cap_order_key(tiebreak: str, salt: str) -> "F.Column":
    """The portable content-stable order for per-stratum capping: the
    md5-prefix long of (salt || tiebreak) — same construction as
    sampling.hash_fraction, bit-identical in DuckDB, so an oracle can
    replay the exact keep-set (xxhash64 cannot be mirrored off-JVM)."""
    from tcga_query_project_spark.functions.scalar import md5_prefix_long

    return md5_prefix_long(F.concat(F.lit(salt), F.col(tiebreak).cast("string")))


#: md5_prefix_long ranges over [0, 2^32) — 8 hex chars.
_CAP_HASH_SPACE = 1 << 32


def stratified_cap_scaled(
    df: DataFrame,
    strata_cols: list[str],
    cap: int,
    tiebreak: str,
    salt: str = "cap",
    slack: float = 1.25,
    margin: int = 64,
) -> DataFrame:
    """Deterministic per-stratum row cap — the training-mix balancer:
    keep at most ``cap`` rows per stratum (domain, language, source),
    the ``cap`` smallest in the portable order ``h`` =
    md5_prefix_long(salt || tiebreak), then ``tiebreak`` (a unique id),
    so the same input keeps the same rows on any cluster layout and the
    DuckDB oracle replays the keep-set. No stratum is ever sorted whole
    in one task (a 5-language corpus would put corpus/5 rows in one
    window partition) — the distributed-selection analog of the W1
    quantile-strata fix.

    The keep-set "cap smallest (h, tiebreak) per stratum" only needs a
    full per-stratum sort of rows that can still be in the answer, so:

    1. ONE tiny aggregate counts each stratum (strata are
       language/source/domain — dimension-sized by contract; the count
       relation broadcasts).
    2. Strata with ``n <= cap`` pass through untouched (no ordering of
       any kind).
    3. Over-cap strata pre-filter to ``h < thr`` with
       ``thr ≈ (cap·slack + margin)/n`` of the 2^32 hash space — a
       per-stratum Bernoulli whose survivor count concentrates around
       ``cap·slack + margin``, so the exact row_number window that
       follows sees O(cap) rows per stratum, never n.
    4. Correctness is never probabilistic: survivors form a PREFIX of
       the (h, tiebreak) order, so survivors ⊇ true keep-set iff a
       stratum kept ≥ cap survivors; the (rare: lower-tail binomial)
       deficient strata — including zero-survivor ones — fall back to
       their full row set for the window. The plan stays static; the
       fallback branch is empty in the expected case.
    """
    from pyspark.sql.window import Window

    h = _cap_order_key(tiebreak, salt)
    # NULL is a legitimate stratum: a per-stratum window and the SQL
    # oracle both cap a NULL partition, so every strata join below keys on a
    # STRUCT of the strata columns — struct equality compares fields
    # null-safely (verified: a NULL-field struct equi-joins and
    # anti-joins like any other value), where a plain multi-column
    # equi-join would silently DROP null-stratum rows.
    with_h = df.withColumn("_h", h).withColumn("_sk", F.struct(*strata_cols))
    cnt = with_h.groupBy("_sk").agg(F.count(F.lit(1)).alias("_n"))
    joined = with_h.join(F.broadcast(cnt), "_sk")
    small = joined.filter(F.col("_n") <= cap).drop("_h", "_n", "_sk")
    big = joined.filter(F.col("_n") > cap)
    thr = F.least(
        F.lit(float(_CAP_HASH_SPACE)),
        (cap * slack + margin) / F.col("_n") * _CAP_HASH_SPACE + 1.0,
    ).cast("long")
    surv = big.filter(F.col("_h") < thr)
    sc = surv.groupBy("_sk").agg(F.count(F.lit(1)).alias("_sn"))
    # deficient = over-cap strata whose survivor prefix is too short to
    # provably contain the keep-set; zero-survivor strata never reach
    # sc at all, so recover them from the count relation by anti-join.
    deficient = sc.filter(F.col("_sn") < cap).select("_sk")
    zero = (
        cnt.filter(F.col("_n") > cap)
        .select("_sk")
        .join(sc.select("_sk"), "_sk", "left_anti")
    )
    fb_keys = deficient.unionByName(zero)
    ok = surv.join(F.broadcast(fb_keys), "_sk", "left_anti")
    fallback = big.join(F.broadcast(fb_keys), "_sk", "left_semi")
    cand = ok.unionByName(fallback)
    w = Window.partitionBy("_sk").orderBy(
        F.col("_h").asc(), F.col(tiebreak).asc()
    )
    capped = (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_h", "_n", "_rn", "_sk")
    )
    return small.unionByName(capped)
