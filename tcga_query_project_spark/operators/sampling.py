"""Training-corpus sampling: domain mixture weighting and token-budget
shard packing.

The last mile of a training-data pipeline: after cleaning/dedup, the
corpus is (a) re-weighted to a target domain MIXTURE (e.g. up-sample
books 2.3x, down-sample web 0.6x) and (b) packed into fixed-token
shards for the trainer. Both must be DETERMINISTIC — stable across
runs, engines, partitionings, and row order — or every epoch and every
re-run trains on a different corpus. ``rand()``-based sampling is none
of those; everything here derives from portable content hashes and
total key orders.

Reference analog: none (vital_status_DESeq.R has no sampling surface);
these serve the LLM-data-pipeline brief alongside operators/dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: modulus for the hash→fraction map; 1e6 keeps the fraction exactly
#: representable and the SQL mirror integer-only until one division.
_FRAC_MOD = 1_000_000

#: pack_shards driver guard: the superblock prefix sum is the ONLY
#: driver-side state; ~4M rows × ~100 B/Row is a few hundred MB —
#: beyond that, fail loudly instead of OOMing the driver.
_MAX_DRIVER_SUPERBLOCKS = 1 << 22


def hash_fraction(key: Column, salt: str) -> Column:
    """Deterministic uniform-ish fraction in [0, 1) from a row key —
    md5-prefix construction, bit-identical in DuckDB:

    ``(('0x' || substring(md5(concat(salt, CAST(k AS VARCHAR))), 1, 8))
    ::BIGINT % 1000000) / 1000000.0``

    Distinct salts give independent fractions from the same key, so
    layered sampling decisions (mixture, split, subsample) never
    correlate.
    """
    from tcga_query_project_spark.functions.scalar import md5_prefix_long

    h = md5_prefix_long(F.concat(F.lit(salt), key.cast("string")))
    return (h % _FRAC_MOD).cast("double") / _FRAC_MOD


def sample_mixture(
    df: DataFrame,
    domain_col: str,
    weights: dict[str, float],
    key_col: str,
    salt: str = "mix",
) -> DataFrame:
    """Re-weight a corpus to a target domain mixture. ``weights`` maps
    domain value → sampling weight:

    - weight < 1  : keep the row iff hash_fraction < weight
      (deterministic subsample);
    - weight >= 1 : emit floor(w) full copies plus one more iff
      hash_fraction < frac(w) (deterministic oversample);
    - missing domains default to 0 (dropped) — an explicit mixture
      spec, not a passthrough;
    - rows with a NULL domain or NULL key are dropped (null hash →
      null copy count → filtered), same propagation in the SQL mirror
      — clean your keys upstream if nulls must survive.

    Output = input columns + ``copy_idx`` (0-based; epoch schedulers
    use it to spread repeats). Pure narrow projection + filter +
    bounded explode: no shuffle, no driver state; at 100 TB this is a
    map-only pass whose output size is exactly the mixture's token
    budget. The weight lookup is a literal map expression (broadcast
    semantics without a join — the mixture spec is config-sized).
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    wmap = F.create_map(
        *[F.lit(x) for kv in weights.items() for x in (kv[0], float(kv[1]))]
    )
    w = F.coalesce(wmap[F.col(domain_col)], F.lit(0.0))
    frac = hash_fraction(F.col(key_col), salt)
    n_copies = (
        F.floor(w).cast("long")
        + (frac < (w - F.floor(w))).cast("long")
    )
    return (
        df.withColumn("_n_copies", n_copies)
        .filter(F.col("_n_copies") > 0)
        .withColumn(
            "copy_idx",
            F.explode(F.sequence(F.lit(0), F.col("_n_copies") - 1)),
        )
        .drop("_n_copies")
    )


def pack_shards(
    df: DataFrame,
    key_col: str,
    token_col: str,
    budget: int,
    block_size: int = 1 << 20,
    order_cols: tuple[str, ...] = (),
    carry_cols: tuple[str, ...] = (),
    superblock_factor: int = 1 << 12,
    return_total: bool = False,
) -> DataFrame:
    """Assign each row to a training SHARD so that consecutive rows (in
    total ``(key_col, *order_cols)`` order) fill ~``budget`` tokens per
    shard: ``shard = floor(running_tokens_before_row / budget)``.

    Contiguous-range semantics: a shard may overrun the budget by at
    most one document (the straddling one starts in the shard where its
    predecessor's cumsum left off). The strict greedy "close the bin
    when full" form needs row-sequential state; this relaxation is the
    standard distributed shard-writer contract and is exactly
    SQL-window-expressible, hence oracle-checkable.

    Distributed prefix-sum, NOT a global window (a single
    ``Window.orderBy`` funnels the corpus through one task — the
    anti-pattern tests/test_plans.py bans):

    1. rows get a deterministic coarse ``block = floor(key/block_size)``
       — fixed key ranges, so block order == key order, independent of
       data distribution (unlike range-partitioning's sampled bounds);
    2. per-block token totals aggregate, then roll up a second level
       into SUPERBLOCKS of ``superblock_factor`` blocks; the superblock
       totals — keyspace/(block_size·superblock_factor) rows (a
       single-level form's state would grow as corpus/block_size) — are
       prefix-summed in ONE tiny window task (lazy: building the plan
       does not execute the upstream chain) unless
       ``return_total=True``, whose caller needs the grand total as a
       driver literal and therefore keeps the eager driver collect.
       Block offsets are then recovered DISTRIBUTEDLY: superblock offset
       (broadcast) + a within-superblock window cumsum over the block
       totals — that window partitions by superblock (≤
       ``superblock_factor`` rows per partition);
    3. each row's global cumsum = its block offset (broadcast join —
       16 bytes per non-empty block, JVM-side only, never a Python
       list) + a within-block window cumsum — the window partitions by
       block, so it parallelizes across blocks.

    Hard cap: if the driver-side superblock count would exceed ~4M
    rows, raise with instructions to raise ``block_size`` /
    ``superblock_factor`` instead of silently OOMing the driver.

    Output: key (+order cols), ``n_tokens``, ``cum_tokens`` (inclusive
    global running total, BIGINT) and ``shard`` (BIGINT, 0-based);
    ``carry_cols`` pass through untouched (payload text, labels).
    With ``return_total=True`` returns ``(df, grand_total)`` — the
    exact corpus token total falls out of the superblock roll-up this
    function ALREADY collects, so callers that need it (the PPS
    sampler's grid spacing) don't pay a second corpus scan to
    recompute it.
    """
    order = [key_col, *order_cols]
    base = df.select(
        *order,
        *carry_cols,
        F.col(token_col).cast("long").alias("n_tokens"),
        (F.col(key_col).cast("long") / F.lit(int(block_size)))
        .cast("long")
        .alias("_block"),
    )
    blocks = (
        base.groupBy("_block")
        .agg(F.sum("n_tokens").alias("_tot"))
        .withColumn(
            "_sb", F.expr(f"_block div {int(superblock_factor)}")
        )
    )
    sb_totals_df = blocks.groupBy("_sb").agg(F.sum("_tot").alias("_sbtot"))
    if return_total:
        # the caller needs the grand total as a DRIVER value (grid
        # spacing / overflow guards are plan literals) — eager by
        # contract, dimension-sized driver state
        sb_totals = sb_totals_df.orderBy("_sb").collect()
        if len(sb_totals) > _MAX_DRIVER_SUPERBLOCKS:
            raise ValueError(
                f"pack_shards: {len(sb_totals)} superblocks exceed the "
                f"driver prefix-sum cap ({_MAX_DRIVER_SUPERBLOCKS}); raise "
                "block_size or superblock_factor so keyspace/"
                "(block_size*superblock_factor) fits driver memory"
            )
        sb_offsets: list[tuple[int, int]] = []
        run = 0
        for r in sb_totals:
            sb_offsets.append((r["_sb"], run))
            run += r["_sbtot"]
        spark = df.sparkSession
        sb_off_df = spark.createDataFrame(
            sb_offsets or [(0, 0)], "_sb long, _sb_offset long"
        )
    else:
        # LAZY top level: the superblock prefix sum is an
        # exclusive cumsum over superblock TOTALS — at most
        # keyspace/(block_size·superblock_factor) rows, the same bound
        # the eager branch enforced on driver memory, now one tiny
        # window task instead of a driver collect. Building the plan no
        # longer executes the upstream chain (previously the whole
        # dedup→filter→chunk pipeline ran once at build just to fetch
        # these totals, then AGAIN at execution), and Spark's cache
        # sharing still computes a persisted upstream only once per
        # action.
        #
        # The lazy path enforces the SAME
        # _MAX_DRIVER_SUPERBLOCKS bound the eager collect does — as a
        # row_number guard inside the one window pass (the single
        # prefix-sum task is exactly the state the cap protects), so a
        # pathological keyspace/(block_size·superblock_factor) fails
        # loudly instead of funneling into one unbounded task.
        cap = int(_MAX_DRIVER_SUPERBLOCKS)
        guard = (
            f"CASE WHEN (row_number() OVER (ORDER BY _sb ASC)) > {cap}"
            " THEN CAST(raise_error('pack_shards: superblock count "
            f"exceeds the prefix-sum cap ({cap}); raise block_size or "
            "superblock_factor so keyspace/(block_size*superblock_"
            "factor) stays bounded') AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END"
        )
        sb_off_df = sb_totals_df.selectExpr(
            "_sb",
            "CAST(coalesce(sum(_sbtot) OVER (ORDER BY _sb ASC ROWS "
            "BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)"
            f" + {guard} AS _sb_offset",
        )
    w_sb = (
        Window.partitionBy("_sb")
        .orderBy("_block")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off_df = (
        blocks.join(F.broadcast(sb_off_df), "_sb")
        .select(
            "_block",
            (
                F.col("_sb_offset")
                + F.coalesce(F.sum("_tot").over(w_sb), F.lit(0))
            )
            .cast("long")
            .alias("_offset"),
        )
    )
    w = (
        Window.partitionBy("_block")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        F.coalesce(F.col("_offset"), F.lit(0))
        + F.sum("n_tokens").over(w)
    ).cast("long")
    out = (
        base.join(F.broadcast(off_df), "_block", "left")
        .select(
            *order,
            *carry_cols,
            "n_tokens",
            cum.alias("cum_tokens"),
            F.floor((cum - F.col("n_tokens")) / F.lit(int(budget)))
            .cast("long")
            .alias("shard"),
        )
    )
    if return_total:
        return out, int(run)
    return out


def pps_systematic_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    *,
    salt: str = "pps",
    block_size: int = 1 << 20,
    superblock_factor: int = 1 << 12,
) -> DataFrame:
    """Probability-proportional-to-size SYSTEMATIC sampling: draw
    exactly ``k`` slots from the corpus with per-row inclusion
    probability ∝ integer ``weight_col`` — the weighted analog of
    :func:`hash_fraction` splits, used to build quality- or
    importance-weighted training subsets (sample documents ∝ quality
    score, users ∝ activity) with ZERO randomness state: the only
    entropy is a deterministic md5 rotation of the sampling grid, so
    membership is stable across runs, engines, partitionings, and
    data order, exactly like every other sampling primitive here.

    Construction (all BIGINT arithmetic — no float thresholds, hence
    exactly oracle-portable where the classic Efraimidis-Spirakis
    u^(1/w) keys are not: pow/log last-ulp noise reorders the top-k
    boundary across engines): rows are laid on a line in ``key_col``
    order at their cumulative weights; a grid of ``k`` equally-spaced
    points (spacing total/k, rotated by ``r = md5(salt) mod total``)
    is dropped on the line; a row is hit once per grid point inside
    its weight segment:

        n_hits(row) = ⌊(cum·k + r)/total⌋ − ⌊((cum−w)·k + r)/total⌋

    Σ n_hits = k exactly (r < total); a row with w > total/k can take
    several hits (its multiplicity — classic PPS-with-replacement
    accounting; emit ``n_hits`` so downstream repetition-weighting is
    exact); w = 0 rows are never hit. This is Madow's systematic PPS
    (1949) — the standard "exactly k, ∝ weight, one pass" design.

    Contract: ``key_col`` unique non-negative BIGINT (it is the total
    order AND the block key); NULL keys are dropped; weights are
    clamped to ≥ 0 and NULL → 0; ``total·k`` must fit in int64 —
    guarded with a driver-side ValueError (the total is known at build
    time) rather than silently wrapping; coarsen weight units (e.g.
    cents → dollars) or shrink ``k`` if hit.

    Scale shape: the global cumulative weight reuses
    :func:`pack_shards`'s two-level distributed prefix sum (per-block
    totals → superblock driver roll-up → broadcast offsets +
    block-partitioned windows) — NOT a single-task global window; the
    grid test itself is a zero-shuffle projection over literals: the
    grand total falls out of the prefix-sum roll-up pack_shards
    already collects (``return_total``), so no second corpus scan and
    no cross-join — total and rotation are plan literals.

    Returns ``(key_col, weight, cum_weight, n_hits)`` filtered to
    sampled rows (``n_hits ≥ 1``).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    wt = F.greatest(
        F.coalesce(F.col(weight_col).cast("long"), F.lit(0)), F.lit(0)
    )
    base = df.filter(F.col(key_col).isNotNull()).select(
        F.col(key_col), wt.alias("_w")
    )
    packed, total = pack_shards(
        base,
        key_col,
        "_w",
        budget=1 << 62,  # shard column unused; one bin
        block_size=block_size,
        superblock_factor=superblock_factor,
        return_total=True,  # grand total falls out of the roll-up —
        # a separate agg would rescan the whole input (review finding)
    )
    cum = packed.select(
        key_col,
        F.col("n_tokens").alias("weight"),
        F.col("cum_tokens").alias("cum_weight"),
    )
    empty = cum.withColumn("n_hits", F.lit(0).cast("long")).filter(
        F.lit(False)
    )
    if total <= 0:
        return empty  # no mass: nothing can be sampled (schema kept)
    max_total = (2**63 - 1) // (k + 1)
    if total > max_total:
        raise ValueError(
            f"pps_systematic_sample: total weight {total} exceeds "
            f"{max_total} — total*k would overflow int64; coarsen "
            f"weight units or reduce k={k}"
        )
    # the rotation is a pure function of the salt — same md5-prefix
    # integer the SQL mirror computes, evaluated driver-side
    import hashlib

    rot = int(hashlib.md5(salt.encode()).hexdigest()[:8], 16) % total
    # `div`, not `/`: Spark's `/` on BIGINT is DOUBLE true-division,
    # which loses integer exactness past 2^53 — `div` is the integral
    # form (truncating; operands are non-negative here, so == floor,
    # matching DuckDB's `//`)
    hits = F.expr(
        f"(cum_weight * {int(k)} + {rot}) div {total}"
        f" - ((cum_weight - weight) * {int(k)} + {rot}) div {total}"
    ).cast("long")
    return (
        cum.withColumn("n_hits", hits)
        .filter(F.col("n_hits") > 0)
    )


def dsir_select(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
    k: int,
    n_buckets: int = 1024,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    NeurIPS — DSIR): score every document by how much more likely its
    hashed-n-gram bag is under a TARGET distribution (e.g. trusted /
    in-domain docs) than under the raw-corpus distribution, then draw
    ``k`` documents by Gumbel-top-k — sampling WITHOUT replacement
    proportionally to the importance weights, the paper's exact
    selection rule.

    ``target_col`` is a boolean column marking the target slice (NULL
    counts as false). Features are the paper's: unigrams AND bigrams of
    the lowercased whitespace tokenization, hashed into ``n_buckets``
    buckets by the house md5-prefix hash (portable to the SQL mirror).
    With bucket counts t_b (target) / r_b (raw = everyone), totals
    T / R, and Laplace smoothing 0.5 per bucket::

        log w(d) = sum_b n_b(d) * ln( ((2*t_b+1) * (2R+B))
                                    / ((2*r_b+1) * (2T+B)) )

    — the smoothed log-likelihood ratio, algebraically rearranged so
    the ln argument is ONE ratio of exact integers (both engines round
    identically to ~1 ulp; no intermediate ln subtraction whose
    association could differ). A zero-target corpus degrades to the
    uniform distribution (ratio well-defined), so no guard is needed.

    Gumbel-top-k: ``key = round(log_w, 6) + round(g, 6)`` re-rounded to
    6, with ``g = -ln(-ln(u))`` and ``u = (md5_prefix('dsir'||id) + 0.5)
    / 2^32`` — u is an EXACT dyadic rational on both engines, so the
    only cross-engine noise is 1-ulp ln, absorbed by the rounding
    grid. ``selected`` marks the top ``k`` keys (doc_id tiebreak).

    Output: ``(id, n_feats BIGINT, log_weight, sel_key, selected)``;
    docs with no tokens (NULL/empty text) have no features and are
    absent — route them through length gates first.

    Scale shape: the feature stream (unigram explode + slice-zip bigram
    explode, both codegen projections) is the only corpus-sized data;
    the bucket table is B rows — ONE conditional aggregate builds raw
    and target counts in the same pass, then broadcasts back; totals
    derive from the B-row table, never a rescan. The top-k is
    TakeOrderedAndProject (k rows to the driver plan, never a global
    sort) feeding a k-row broadcast semi-join. Exchanges at any corpus
    size: bucket agg + doc agg.
    """
    from tcga_query_project_spark.functions.scalar import md5_prefix_long

    b_lit = int(n_buckets)
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    n = F.size("_toks")
    base = df.select(
        F.col(id_col),
        F.coalesce(F.col(target_col), F.lit(False)).alias("_is_t"),
        toks.alias("_toks"),
    )
    unigrams = (
        base.select(id_col, "_is_t", F.explode("_toks").alias("_feat"))
        .filter(F.col("_feat") != "")
    )
    bigrams = (
        base.filter(n >= 2)
        .select(
            id_col,
            "_is_t",
            F.explode(
                F.arrays_zip(
                    F.slice("_toks", 1, n - 1), F.slice("_toks", 2, n - 1)
                )
            ).alias("_bg"),
        )
        .select(
            F.col(id_col),
            "_is_t",
            F.concat_ws(" ", F.col("_bg")["0"], F.col("_bg")["1"]).alias(
                "_feat"
            ),
        )
    )
    feats = unigrams.unionByName(bigrams).select(
        id_col, "_is_t", (md5_prefix_long(F.col("_feat")) % b_lit).alias("_b")
    )
    # Reduce the corpus-sized feature stream to per-(doc, bucket)
    # OCCURRENCE COUNTS in one aggregation: every consumer
    # below — bucket counts, totals, per-doc scores — derives from this
    # table's single exchange (ReusedExchange dedups the identical
    # subtree at runtime), so the explode + md5 feature pass runs ONCE
    # instead of once per consumer branch (measured 2x at sf0.1).
    # Values are unchanged: counts are exact integers, and per-doc
    # Σ c_b·lr_b replaces Σ_occurrences lr_b — fewer FP additions of
    # the same terms (error ≤ 0.5 ulp per product vs (c−1) ulp of
    # repeated addition), absorbed by the same rounding grid that
    # already absorbs partial-aggregation order nondeterminism.
    doc_bkt = feats.groupBy(id_col, "_is_t", "_b").agg(
        F.count(F.lit(1)).cast("double").alias("_c")
    )
    buckets = doc_bkt.groupBy("_b").agg(
        F.sum("_c").alias("_raw"),
        F.sum(F.when(F.col("_is_t"), F.col("_c")).otherwise(0.0)).alias(
            "_tgt"
        ),
    )
    totals = buckets.agg(
        F.sum("_raw").alias("_R"), F.sum("_tgt").alias("_T")
    )
    lr = (
        buckets.crossJoin(F.broadcast(totals))
        .select(
            "_b",
            F.log(
                ((2.0 * F.col("_tgt") + 1.0) * (2.0 * F.col("_R") + b_lit))
                / ((2.0 * F.col("_raw") + 1.0) * (2.0 * F.col("_T") + b_lit))
            ).alias("_lr"),
        )
    )
    scored = (
        doc_bkt.join(F.broadcast(lr), "_b")
        .groupBy(F.col(id_col))
        .agg(
            F.sum("_c").cast("long").alias("n_feats"),
            F.round(F.sum(F.col("_c") * F.col("_lr")), 6).alias(
                "log_weight"
            ),
        )
    )
    u = (
        md5_prefix_long(F.concat(F.lit("dsir"), F.col(id_col).cast("string")))
        .cast("double")
        + 0.5
    ) / float(1 << 32)
    keyed = scored.withColumn(
        "sel_key",
        F.round(F.col("log_weight") + F.round(-F.log(-F.log(u)), 6), 6),
    )
    top = (
        keyed.orderBy(F.desc("sel_key"), F.asc(id_col))
        .limit(int(k))
        .select(F.col(id_col), F.lit(True).alias("_sel"))
    )
    return (
        keyed.join(F.broadcast(top), id_col, "left")
        .select(
            F.col(id_col),
            "n_feats",
            "log_weight",
            "sel_key",
            F.coalesce(F.col("_sel"), F.lit(False)).alias("selected"),
        )
    )
