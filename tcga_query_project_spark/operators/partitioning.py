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


def fan_out(df: DataFrame, key: str | None = None, target: int | None = None) -> DataFrame:
    """Ensure at least ``target`` (default: cluster parallelism)
    partitions before a CPU-bound per-row stage.

    No-op when the input already has that many partitions — the guard
    makes this safe to leave in operator code at any scale; it only
    fires when the scan produced too few splits to keep the cores busy.
    ``key`` hash-partitions (deterministic placement, and pre-aligns a
    following groupBy on the same key); without it Spark round-robins.

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
    sc = spark.sparkContext
    target = target or sc.defaultParallelism
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
    return df.repartition(target, F.col(key)) if key else df.repartition(target)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Skew-safe equi-join: split each hot key's left-side rows across
    ``salt`` sub-keys and replicate the (small) right side once per
    sub-key, so no single task receives a whole hot key.

    AQE's skew-join splitting (on in session.py) already handles most
    skew for *sort-merge* joins; salting is the explicit fallback for
    the cases AQE cannot split — a hot key inside a broadcast-unfriendly
    aggregation-feeding join, or engines/paths with AQE off. Result is
    row-identical to ``left.join(right, key, how)``.

    The left row's salt comes from a hash over all its columns — any
    assignment is correct (the right side matches every salt value);
    hashing the row keeps it deterministic for tests without needing an
    id column. Supported ``how``: inner / left (semantics where the
    right side is the replicated one).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salted_l = left.withColumn(
        "_salt", F.pmod(F.xxhash64(*left.columns), F.lit(salt)).cast("int")
    )
    # explode(sequence(...)) yields INT elements, matching the cast above
    salted_r = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return salted_l.join(salted_r, [key, "_salt"], how).drop("_salt")


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple],
    salt: int = 16,
) -> DataFrame:
    """Skew-safe two-phase aggregation: partial-aggregate on
    (keys + salt), then final-aggregate on keys — a hot group's rows
    are combined by ``salt`` tasks in parallel before one tiny final
    merge, instead of one task absorbing the whole group.

    ``aggs`` maps output column → (kind, input column) with kind in
    {sum, count, min, max} (the re-aggregable aggregates; avg = sum
    + count composed by the caller). Spark's own map-side partial
    aggregation covers this when the upstream partitioning is random;
    explicit salting matters when the input is *already* partitioned by
    the hot key (map-side combine then sees one giant group per task).
    """
    supported = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    partial_cols, final_cols = [], []
    for out, (kind, col) in aggs.items():
        if kind not in supported:
            raise ValueError(f"salted_agg: unsupported aggregate {kind!r}")
        partial_cols.append(supported[kind](col).alias(f"_p_{out}"))
        refold = F.sum if kind in ("sum", "count") else supported[kind]
        cast = (lambda c: c.cast("long")) if kind == "count" else (lambda c: c)
        final_cols.append(cast(refold(f"_p_{out}")).alias(out))
    return (
        df.withColumn(
            "_salt", F.pmod(F.xxhash64(*df.columns), F.lit(salt)).cast("int")
        )
        .groupBy(*keys, "_salt")
        .agg(*partial_cols)
        .groupBy(*keys)
        .agg(*final_cols)
    )


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Persist a table hive-partitioned by low-cardinality filter
    columns (project / sample_type / date in the reference's ingest —
    SURVEY.md §2.1 S4: the GDCquery predicates become partition-pruning
    filters at the source).

    A read with an equality/IN filter on a partition column never lists
    or opens the other directories (plan shows the predicate under
    PartitionFilters, not PushedFilters) — at 100 TB the difference
    between scanning one project's files and scanning the world.
    Partition columns must be low-cardinality: one directory (and at
    least one file) per value; high-cardinality keys belong in
    ``sources.io.write_bucketed`` buckets instead.
    """
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def skew_profile(df: DataFrame, key: str, top: int = 10) -> DataFrame:
    """Key-skew diagnostic: the ``top`` heaviest key values with their
    row counts and share of the table — the measurement you take BEFORE
    reaching for :func:`salted_join`/:func:`salted_agg` (a 'hot' key
    under 1% of rows is not the problem; one at 30% is).

    One aggregation + a tiny top-k. The table total attaches as a
    broadcast cross join of a scalar aggregate (the same shape the
    survival suite uses for its test scalar) — NOT a global window,
    which would funnel every distinct key through one task; a skew
    diagnostic is needed most exactly when the key is high-cardinality,
    so the diagnostic itself must stay fully parallel.
    """
    per_key = df.groupBy(key).agg(F.count(F.lit(1)).alias("n_rows"))
    total = df.agg(F.count(F.lit(1)).alias("_total"))
    return (
        per_key.crossJoin(F.broadcast(total))
        .withColumn("share", F.round(F.col("n_rows") / F.col("_total"), 6))
        .orderBy(F.col("n_rows").desc(), F.col(key).asc())
        .limit(top)
        .select(key, F.col("n_rows").cast("long").alias("n_rows"), "share")
    )


def _cap_order_key(tiebreak: str, salt: str) -> "F.Column":
    """The portable content-stable order for per-stratum capping: the
    md5-prefix long of (salt || tiebreak) — same construction as
    sampling.hash_fraction, bit-identical in DuckDB, so an oracle can
    replay the exact keep-set (xxhash64 cannot be mirrored off-JVM)."""
    from tcga_query_project_spark.functions.scalar import md5_prefix_long

    return md5_prefix_long(F.concat(F.lit(salt), F.col(tiebreak).cast("string")))


#: md5_prefix_long ranges over [0, 2^32) — 8 hex chars.
_CAP_HASH_SPACE = 1 << 32


def stratified_cap(
    df: DataFrame,
    strata_cols: list[str],
    cap: int,
    tiebreak: str,
    salt: str | None = None,
) -> DataFrame:
    """Deterministic per-stratum row cap — the training-mix balancer:
    keep at most ``cap`` rows per stratum (domain, language, source),
    chosen by a content-stable hash order rather than partition order,
    so the same input always keeps the same rows on any cluster layout.

    ``tiebreak`` must be a unique column (an id): the keep-set is the
    ``cap`` smallest hash values per stratum — a uniform
    random-but-reproducible sample without a global sort; one shuffle
    keyed by the strata. Default order is ``xxhash64(tiebreak)``
    (cheapest JVM-side); pass ``salt`` to switch to the portable
    md5-prefix order that :func:`stratified_cap_scaled` and its DuckDB
    oracle use (same keep-set across engines AND across the two forms).

    SCALE CAVEAT: the window partitions by the strata — fine while
    every stratum fits one task's sort, but a 5-language 100 TB corpus
    puts corpus/5 in one partition. That regime is exactly
    :func:`stratified_cap_scaled`; this form remains the oracle
    tie-semantics pin and the small-strata fast path.
    """
    from pyspark.sql.window import Window

    order = (
        _cap_order_key(tiebreak, salt)
        if salt is not None
        else F.xxhash64(F.col(tiebreak))
    )
    w = Window.partitionBy(*strata_cols).orderBy(
        order.asc(), F.col(tiebreak).asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


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


def zorder_value(
    levels: "list[Column]", bits: int
) -> "Column":
    """Morton (Z-order) key: interleave the bit-planes of N
    pre-quantized level columns (each in ``[0, 2^bits)``) — rows close
    on the curve are close in EVERY dimension at once. Pure expression
    work (no UDF).

    Quantization MUST be order-preserving (rank or width buckets, as
    :func:`write_zordered` builds) — parquet min/max statistics are on
    the RAW column values, so a hash-based level would leave every
    file spanning the full value range and prune nothing.

    ``bits * len(levels)`` must fit in the 63 value bits of a signed
    64-bit key; beyond that the interleave would overflow into the
    sign bit, producing negative keys that break curve ordering (and
    with it the clustering/stat-pruning guarantee) — rejected
    explicitly rather than silently wrapped.
    """
    if bits * len(levels) > 63:
        raise ValueError(
            f"zorder_value: bits({bits}) * dims({len(levels)}) = "
            f"{bits * len(levels)} exceeds the 63 usable bits of a "
            "signed 64-bit Morton key; lower bits or drop columns"
        )
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, q in enumerate(levels):
            z = z + F.shiftleft(
                F.shiftrightunsigned(q, b) % 2, b * len(levels) + i
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 8,
    bits: int = 10,
    mode: str = "overwrite",
) -> None:
    """Cluster a table on a Z-order curve over numeric ``cols`` and
    write it so parquet row-group/file min-max statistics skip on
    EVERY one of the columns — the multi-column locality a
    single-column sort cannot give (sorting by A gives perfect
    A-skipping and none on B; the curve gives good skipping on all) —
    Delta/Iceberg's ``OPTIMIZE ZORDER BY`` as a plain-parquet job.

    Plan: one aggregate computes per-column min/max; each column maps
    to an equi-width level in ``[0, 2^bits)`` (order-preserving — see
    :func:`zorder_value` for why hashing would defeat stats pruning;
    heavily skewed columns would prefer sampled-rank boundaries, the
    Delta recipe), the Morton key interleaves the levels,
    ``repartitionByRange`` gives each output file a contiguous curve
    segment, and a within-partition sort tightens row-group stats.
    Readers need no code change — engine-side min/max pruning does the
    skipping. At 100 TB this is the table-maintenance job run after
    ingest/compaction.
    """
    stats = df.agg(
        *[
            x
            for c in cols
            for x in (
                F.min(F.col(c).cast("double")).alias(f"_lo_{c}"),
                F.max(F.col(c).cast("double")).alias(f"_hi_{c}"),
            )
        ]
    ).first()
    if any(stats[f"_lo_{c}"] is None for c in cols):
        # empty input or an all-null curve column: no curve to build —
        # write the data as-is rather than abort the maintenance job
        df.write.mode(mode).parquet(path)
        return
    n_levels = 1 << bits
    levels = []
    for c in cols:
        lo, hi = stats[f"_lo_{c}"], stats[f"_hi_{c}"]
        span = (hi - lo) or 1.0
        lvl = F.least(
            F.lit(n_levels - 1),
            F.floor(
                (F.col(c).cast("double") - F.lit(lo))
                / F.lit(span)
                * n_levels
            ).cast("long"),
        )
        levels.append(F.greatest(F.lit(0), lvl))
    (
        df.withColumn("_z", zorder_value(levels, bits))
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )
