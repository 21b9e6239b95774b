"""Statistical operators (SURVEY.md §2.4 A4-A9).

The reference delegates these to Bioconductor C/C++ kernels (``DESeq``,
``vst``, ``compare_means``). Here each is a pure Spark SQL composition —
groupBy + window aggregates, JVM-side, shuffle-partitioned by the
grouping key (gene) — so they scale horizontally instead of being bound
to one R process. The only op that leaves the JVM is the per-gene NB GLM
fit (A6), in :mod:`tcga_query_project_spark.operators.glm`.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tcga_query_project_spark.functions.scalar import normal_sf_two_sided


def size_factors(
    fact: DataFrame, gene: str, sample: str, value: str
) -> DataFrame:
    """A5: DESeq2 median-of-ratios size-factor estimation — the
    normalization inside ``DESeq(data)`` / ``vst`` (reference
    vital_status_DESeq.R:51,100; per-cohort variant
    drug_km_median_exp.R:61-68).

    Faithful to DESeq2's estimateSizeFactors: the per-gene log geometric
    mean uses *all* samples, and genes with any zero count are excluded
    (their log-geomean is -inf in DESeq2). Then per sample:
    ``sf = exp(median(ln(count) - log_geomean))`` over surviving genes.

    Scale shape (this was the fattest spill in BENCH_STRESS at 100x
    data): the per-sample exact median comes from
    a sample-partitioned window sort + middle-rank pick instead of
    ``percentile()``, whose per-group value-map buffers were the 4 GB
    memory-spill (object-hash aggregation holds every distinct ratio
    per sample in memory — and its map-side partial phase holds maps
    for EVERY sample a task sees; a window sort is Spark's external,
    sequential-spill path). Interpolation is the identical
    ``lo + 0.5*(hi - lo)`` percentile formula, so values are unchanged
    to the last bit. The gene-level aggregate carries NO broadcast
    hint: in the TCGA domain it is the bounded annotation dimension
    and AQE broadcasts it, but under this operator's generic contract
    the gene universe can grow with the corpus (the TPC-H stress
    mapping's partkey does exactly that — a forced hint measured 44 s
    at 100x vs 18 s letting AQE sort-merge, the same rule the bigram
    and prefix-join element tables follow). Measured at 100x data,
    single-query sessions, same conditions: 118.9 s / 4.2 GB
    memory-spill / 254 MB disk-spill (percentile form) -> 18-26 s /
    ZERO spill (this form; 56 s inside the full ten-query stress
    sequence, still zero spill — BENCH_STRESS.json).
    """
    # Single-parse SQL expressions: identical analyzed plan
    # to the previous Column forest (hash-checked), ~5x fewer py4j
    # round trips per build. Literal spellings matter for plan
    # equality: bare ints stay ints, 0.5D/1.0D are the double literals
    # the Python floats produced, F.log == ln.
    vq, sq = f"`{value}`", f"`{sample}`"
    per_gene = (
        fact.groupBy(gene)
        .agg(
            F.expr("count(1) AS _n"),
            F.expr(
                f"sum(CASE WHEN {vq} > 0 THEN 1 ELSE 0 END) AS _n_pos"
            ),
            F.expr(
                f"avg(CASE WHEN {vq} > 0 THEN ln({vq}) END)"
                " AS _log_geomean"
            ),
        )
        .filter("_n_pos = _n")  # all-positive genes only
        .select(gene, "_log_geomean")
    )
    ratios = fact.join(per_gene, gene).selectExpr(
        sq, f"ln({vq}) - _log_geomean AS _lr"
    )
    over_rank = f"OVER (PARTITION BY {sq} ORDER BY _lr ASC)"
    over_all = f"OVER (PARTITION BY {sq})"
    mids = ratios.selectExpr(
        "*",
        f"row_number() {over_rank} AS _rn",
        f"count(1) {over_all} AS _cnt",
    ).filter(
        "_rn = floor((_cnt + 1) / 2) OR _rn = ceil((_cnt + 1) / 2)"
    )
    return (
        mids.groupBy(sample)
        .agg(F.expr("min(_lr) AS _lo"), F.expr("max(_lr) AS _hi"))
        .selectExpr(sq, "exp(_lo + 0.5D * (_hi - _lo)) AS size_factor")
    )


def log_normalize(
    fact: DataFrame, sf: DataFrame, sample: str, value: str
) -> DataFrame:
    """A7 (v1): variance-stabilizing transform stand-in —
    ``log2(count / size_factor + 1)``.

    The reference's ``vst()`` (vital_status_DESeq.R:100-101) fits a
    dispersion-aware transform; downstream it is consumed only through
    rank-based operations (median splits W1, boxplots), which are
    invariant under monotone transforms — so this monotone surrogate
    preserves the pipeline's semantics. Documented divergence
    (SURVEY.md §2.4 A7). Appends ``normalized``.
    """
    return fact.join(F.broadcast(sf), sample).withColumn(
        "normalized", F.log2(F.col(value) / F.col("size_factor") + 1.0)
    )


def vst_fitted(
    fact: DataFrame,
    sf: DataFrame,
    gene: str,
    sample: str,
    value: str,
) -> DataFrame:
    """A7 (v2): dispersion-aware variance-stabilizing transform — the
    shape of DESeq2's parametric VST (``vst(data, blind=F)``,
    vital_status_DESeq.R:100-101), entirely in SQL.

    Three stages, all aggregates/expressions:
    1. per-gene mean and method-of-moments dispersion of the
       size-factor-normalized counts  q = K/sf:
       ``alpha_g = max((s2_g − mu_g·mean(1/sf)) / mu_g², 0)``
       (the mean(1/sf) term is the Poisson noise floor under
       normalization);
    2. parametric trend fit  alpha(mu) ≈ a0 + a1/mu  by least squares
       over genes (closed form from five sums; genes with alpha≤0
       excluded, mirroring DESeq2's gamma-family trend fit in spirit);
    3. the DESeq2 closed-form transform for that trend:
       ``vst(q) = log2( (1 + a1 + 2·a0·q + 2·sqrt(a0·q·(1 + a1 + a0·q)))
                        / (4·a0) )``,
       monotone in q, ~log2(q) for large q, linear near 0.

    Degenerate trend (a0 ≤ 0: data at/below Poisson noise) falls back
    to ``log2(q + 1)`` — the v1 transform — keeping the operator total.
    Cohort-relative by construction: pass cohort-restricted ``fact``/
    ``sf`` for the drug-cohort pipeline (SURVEY §3.3 step 3).

    Returns ``(gene, sample, normalized_count, vst)``.

    Per-gene mu/alpha are rounded to 8 decimals before the trend fit —
    that pins the alpha>0 gene set and the regression inputs across
    engines so the DuckDB oracle agrees exactly (catalog determinism
    conventions).

    LAZY: the trend fit rides the SAME action as the
    transform — the one-row coefficient table enters as a broadcast
    cross join (exactly how the DuckDB oracle phrases it) and the
    degenerate-trend fallback becomes a CASE on the broadcast columns
    instead of a Python branch. Calling this function runs NO Spark
    jobs; the old eager contract (sf.collect() + trend.first(), two
    full fact scans in separate driver-blocking jobs before the plan
    even existed) bought literal coefficients at the price of charging
    every caller two extra scans at build time. The identical
    size-factor subtree feeds both the trend branch and the transform
    branch, so exchange reuse computes it once per action; coefficient
    VALUES are bit-identical either way (same doubles, same
    expression tree).
    """
    # Single-parse SQL expressions: identical optimized
    # plan to the previous Column forest (diff-checked in-session),
    # ~10x fewer py4j round trips per build. Double literals spelled
    # with D suffixes to match what the Python floats produced; bare
    # ints stay ints.
    gq, sq, vq = f"`{gene}`", f"`{sample}`", f"`{value}`"
    q_tbl = fact.join(F.broadcast(sf), sample).selectExpr(
        gq,
        sq,
        f"{vq} / size_factor AS _q",
        "1.0D / size_factor AS _inv_sf",
    )
    per_gene = q_tbl.groupBy(gene).agg(
        F.expr("avg(_q) AS _mu"),
        F.expr("var_samp(_q) AS _s2"),
        F.expr("avg(_inv_sf) AS _xi"),
    )
    disp = per_gene.selectExpr(
        gq,
        "round(_mu, 8) AS _mu",
        "round(greatest((_s2 - (_mu * _xi)) / (_mu * _mu), 0.0D), 8) AS _alpha",
    ).filter("_mu > 0 AND _alpha IS NOT NULL")
    # least-squares alpha ~ a0 + a1 * (1/mu) over genes with alpha > 0.
    # a1 clamped >= 0: DESeq2's parametric trend enforces positive
    # coefficients; a negative a1 would make the closed form's log
    # argument negative at q=0.
    slope_s = (
        "greatest(CASE WHEN ((_n * _sxx) - (_sx * _sx)) > 0"
        " THEN ((_n * _sxy) - (_sx * _sy)) / ((_n * _sxx) - (_sx * _sx))"
        " ELSE 0.0D END, 0.0D)"
    )
    trend = (
        disp.filter("_alpha > 0")
        .selectExpr("1.0D / _mu AS _x", "_alpha AS _y")
        .agg(
            F.expr("count(1) AS _n"),
            F.expr("sum(_x) AS _sx"),
            F.expr("sum(_y) AS _sy"),
            F.expr("sum(_x * _y) AS _sxy"),
            F.expr("sum(_x * _x) AS _sxx"),
        )
        .selectExpr(
            f"{slope_s} AS a1",
            "CASE WHEN _n > 0"
            f" THEN (_sy / _n) - (({slope_s} * _sx) / _n)"
            " ELSE 0.0D END AS a0",
        )
    )
    # The trend is a single row of two doubles — broadcast it as a
    # cross join (one-row build side; the big pass stays a single
    # map-side expression over fact). The a0 <= 0 degenerate fallback
    # (data at/below the Poisson noise floor -> the v1 transform) is a
    # CASE over the broadcast column, as in the SQL mirror.
    vst_s = (
        "CASE WHEN a0 > 0 THEN"
        " log2((((1.0D + a1) + ((2.0D * a0) * _q))"
        " + (2.0D * sqrt(((a0 * _q) * ((1.0D + a1) + (a0 * _q))))))"
        " / (4.0D * a0))"
        " ELSE log2(_q + 1.0D) END"
    )
    return (
        q_tbl.crossJoin(F.broadcast(trend))
        .withColumn("vst", F.expr(vst_s))
        .select(gene, sample, "_q", "vst")
        .withColumnRenamed("_q", "normalized_count")
    )


def wilcoxon_rank_sum(
    df: DataFrame,
    gene: str,
    label: str,
    value: str,
    label_a: str,
    label_b: str,
) -> DataFrame:
    """A4: per-gene two-sample Wilcoxon rank-sum (Mann-Whitney U) test,
    normal approximation with tie correction — the reference's
    ``compare_means(counts ~ group, group.by="gene", method="wilcox")``
    (vital_status_DESeq.R:130, lettercode_DESeq.R:133).

    All-SQL formulation: average ranks come from per-(gene,value) counts
    plus a running sum — no per-row window sort state, and one shuffle
    keyed by gene. For n as in TCGA (~1.2k samples/gene) the normal
    approximation is standard; exact small-sample p would drop to
    ``applyInPandas`` + scipy.

    Output per gene: n_a, n_b, u_stat (group-a U), z, p_value.
    """
    two = df.filter(F.col(label).isin(label_a, label_b))
    per_value = two.groupBy(gene, value).agg(
        F.count(F.lit(1)).cast("double").alias("_cnt"),
        F.sum(F.when(F.col(label) == label_a, 1).otherwise(0))
        .cast("double")
        .alias("_cnt_a"),
    )
    w = (
        Window.partitionBy(gene)
        .orderBy(value)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = per_value.withColumn(
        "_avg_rank",
        F.coalesce(F.sum("_cnt").over(w), F.lit(0.0)) + (F.col("_cnt") + 1.0) / 2.0,
    )
    stats = ranked.groupBy(gene).agg(
        F.sum("_cnt_a").alias("n_a_d"),
        (F.sum("_cnt") - F.sum("_cnt_a")).alias("n_b_d"),
        F.sum(F.col("_cnt_a") * F.col("_avg_rank")).alias("_r_a"),
        F.sum(F.col("_cnt") * F.col("_cnt") * F.col("_cnt") - F.col("_cnt")).alias(
            "_tie"
        ),
    )
    n_a, n_b = F.col("n_a_d"), F.col("n_b_d")
    n = n_a + n_b
    u = F.col("_r_a") - n_a * (n_a + 1.0) / 2.0
    mu = n_a * n_b / 2.0
    var = (
        n_a * n_b / 12.0 * ((n + 1.0) - F.col("_tie") / (n * (n - 1.0)))
    )
    z = F.when(var > 0, (u - mu) / F.sqrt(var))
    return stats.select(
        F.col(gene),
        n_a.cast("long").alias("n_a"),
        n_b.cast("long").alias("n_b"),
        u.alias("u_stat"),
        z.alias("z"),
        normal_sf_two_sided(z).alias("p_value"),
    )


def bh_adjust(
    df: DataFrame,
    p: str,
    partition_cols: list[str],
    tiebreak: Column,
) -> DataFrame:
    """Benjamini-Hochberg adjusted p-values — the ``padj`` column the
    reference reads off ``results()`` (A6 component;
    vital_status_DESeq.R:90-97).

    Window formulation: rank p ascending (total order via ``tiebreak``),
    then ``padj(i) = min_{j>=i} p(j)*n/j`` as a running minimum over the
    descending-rank frame, capped at 1. One window per partition
    (per contrast), no Python.

    NULL-aware: ``n`` counts the non-null p, NULL p rank last (so they
    never shift a tested row's rank) and get a NULL padj — untested rows
    ride along instead of being split off and unioned back.

    Tied p share one padj whatever ``tiebreak`` says: the cummin at any
    rank of a tie group reaches the group's largest rank, where
    ``p*n/rank`` is smallest. With no ``partition_cols`` the window is a
    single partition, so the input should be one row per test (per
    gene), never per observation.
    """
    w_rank = Window.partitionBy(*partition_cols).orderBy(
        F.col(p).asc_nulls_last(), tiebreak
    )
    w_n = Window.partitionBy(*partition_cols)
    w_cummin = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.col("_rank").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.withColumn("_rank", F.row_number().over(w_rank).cast("double"))
        .withColumn("_n_tests", F.count(p).over(w_n).cast("double"))
        .withColumn(
            "padj",
            F.when(
                F.col(p).isNotNull(),
                F.least(
                    F.lit(1.0),
                    F.min(F.col(p) * F.col("_n_tests") / F.col("_rank")).over(
                        w_cummin
                    ),
                ),
            ),
        )
        .drop("_rank", "_n_tests")
    )


def r_lowess(
    x: list[float],
    y: list[float],
    f: float = 2.0 / 3.0,
    iters: int = 3,
) -> list[float]:
    """Cleveland's LOWESS (Cleveland 1979, JASA 74) matching R's
    ``lowess()`` semantics for the no-delta-skip regime: per point,
    locally weighted linear regression over the ``ceil(f*n)`` nearest
    x-neighbors with tricube weights, then ``iters`` robustifying
    passes reweighting by the bisquare of scaled residuals
    (``6 * median(|res|)``).

    Inputs must be sorted ascending by x. R's delta speed-up
    (interpolate across points closer than ``delta = 0.01 * range(x)``)
    is NOT implemented: for DESeq2's use the grid is 50 evenly spaced
    thetas, so the spacing is ``range/49 > delta`` and the skip never
    activates — fitting every point IS R's answer there. Driver-side
    only: the caller hands in a dimension-sized grid (50 points), never
    row data.
    """
    import math

    n = len(x)
    if n == 0:
        return []
    if n == 1:
        return [y[0]]
    ns = max(2, min(n, int(f * n + 1e-7)))
    rng = x[-1] - x[0]
    rw = [1.0] * n
    ys = [0.0] * n
    for it in range(iters + 1):
        nleft, nright = 0, ns - 1
        for i in range(n):
            # slide the ns-window to center on x[i]
            while nright < n - 1:
                if x[i] - x[nleft] <= x[nright + 1] - x[i]:
                    break
                nleft += 1
                nright += 1
            h = max(x[i] - x[nleft], x[nright] - x[i])
            h9, h1 = 0.999 * h, 0.001 * h
            w = [0.0] * n
            for j in range(nleft, n):
                r = abs(x[j] - x[i])
                if r <= h9:
                    w[j] = 1.0 if r <= h1 else (1.0 - (r / h) ** 3) ** 3
                    if it > 0:
                        w[j] *= rw[j]
                elif x[j] > x[i]:
                    break
            tot = sum(w)
            if tot <= 0.0:
                # all local robustness weights zero: keep raw y
                ys[i] = y[i]
                continue
            w = [wj / tot for wj in w]
            if h > 0.0:
                # weighted linear fit: tilt weights by the slope term
                a = sum(wj * xj for wj, xj in zip(w, x))
                b = x[i] - a
                c = sum(wj * (xj - a) ** 2 for wj, xj in zip(w, x))
                if math.sqrt(c) > 0.001 * rng:
                    b /= c
                    w = [wj * (1.0 + b * (xj - a)) for wj, xj in zip(w, x)]
            ys[i] = sum(wj * yj for wj, yj in zip(w, y))
        if it == iters:
            break
        res = [abs(yi - fi) for yi, fi in zip(y, ys)]
        sres = sorted(res)
        m = (
            sres[n // 2]
            if n % 2
            else 0.5 * (sres[n // 2 - 1] + sres[n // 2])
        )
        cmad = 6.0 * m
        if cmad <= 1e-12:
            break
        c9, c1 = 0.999 * cmad, 0.001 * cmad
        rw = [
            1.0
            if r <= c1
            else (0.0 if r >= c9 else (1.0 - (r / cmad) ** 2) ** 2)
            for r in res
        ]
    return ys


#: BH level of DESeq2 ``results()``' independent filtering (its
#: ``alpha`` default): the rejection count each theta is scored by
FILTER_ALPHA = 0.1


def select_filter_theta(num_rej: list[float]) -> int:
    """DESeq2 ``results()`` independent-filtering threshold selection
    (pvalueAdjustment in DESeq2 results.R; Love et al. 2014 and Bourgon
    et al. 2010 for why filtering on base mean is p-value-independent
    under the null): given the rejection count at each candidate theta,
    lowess-smooth the rejection curve (f=1/5), set ``thresh = max(fit)
    - sqrt(mean(residual^2))`` over the positive-rejection points, and
    take the FIRST theta whose raw count exceeds it — the smallest
    filter that achieves (within noise) the maximum rejections. If no
    theta rejects more than 10 hypotheses the data cannot support a
    threshold choice and index 0 (no filtering benefit) is returned.

    Pure driver-side selection over the dimension-sized grid.
    """
    n = len(num_rej)
    if n == 0:
        return 0
    if max(num_rej) <= 10:
        return 0
    thetas = [i / (n - 1) if n > 1 else 0.0 for i in range(n)]
    fit = r_lowess(thetas, [float(v) for v in num_rej], f=1.0 / 5.0)
    pos = [(v, fv) for v, fv in zip(num_rej, fit) if v > 0]
    if pos:
        mse = sum((v - fv) ** 2 for v, fv in pos) / len(pos)
    else:
        mse = 0.0
    thresh = max(fit) - mse**0.5
    for i, v in enumerate(num_rej):
        if v > thresh:
            return i
    return 0


def rejection_grid(
    df: DataFrame,
    base_mean_col: str,
    p: str,
    thetas: list[float],
    *,
    alpha: float = 0.1,
) -> DataFrame:
    """The SQL-expressible grid stage of independent filtering
    (genefilter ``filtered_p`` counts): for each theta, the type-7
    baseMean quantile cutoff and the number of BH rejections at
    ``alpha`` among genes with ``baseMean >= cutoff``. Returns
    ``(_ti, _cut, _nrej)`` — one row per theta. NULL-p rows are
    excluded (they never enter BH).

    Distributed shape: ONE ``percentile`` aggregate produces all
    cutoffs, the theta-sized grid broadcasts against the gene table,
    and the rejection count comes straight off the per-theta
    DISTINCT-p table — no padj is ever joined back onto rows. BH's
    step-up theorem: ``#{k: padj_(k) < alpha} = max{k: p_(k)*m/k <
    alpha}``, and within a tie group the largest rank has the smallest
    ``p*m/k``, so the maximum is always attained at a tie group's
    ``max_rank`` — exactly the rows of the distinct-p table. (The
    float expression ``p*m/max_rank`` is the identical term the padj
    cummin would have minimized over, so the count is bit-equal to
    counting ``padj < alpha``, which is what the DuckDB oracle does.)
    Three dimension-sized exchanges total; the theta-fold expansion is
    over a gene-DIMENSION table (samples were already aggregated away
    by the Wald stage), so the cost is flat at any cohort size.
    """
    tested = df.filter(F.col(p).isNotNull())
    cuts = tested.agg(
        F.percentile(
            F.col(base_mean_col), F.array(*[F.lit(t) for t in thetas])
        ).alias("_cuts")
    )
    grid = cuts.select(F.posexplode("_cuts").alias("_ti", "_cut"))
    expanded = tested.crossJoin(F.broadcast(grid)).filter(
        F.col(base_mean_col) >= F.col("_cut")
    )
    per_p = expanded.groupBy("_ti", "_cut", p).agg(
        F.count(F.lit(1)).alias("_c")
    )
    w_cum = (
        Window.partitionBy("_ti")
        .orderBy(F.col(p).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_n = Window.partitionBy("_ti")
    ranked = per_p.withColumn(
        "_max_rank", F.sum("_c").over(w_cum).cast("double")
    ).withColumn("_n_tests", F.sum("_c").over(w_n).cast("double"))
    return ranked.groupBy("_ti").agg(
        F.first("_cut").alias("_cut"),
        F.coalesce(
            F.max(
                F.when(
                    F.col(p) * F.col("_n_tests") / F.col("_max_rank")
                    < F.lit(alpha),
                    F.col("_max_rank"),
                )
            ),
            F.lit(0.0),
        )
        .cast("long")
        .alias("_nrej"),
    )


def independent_filter_padj(
    df: DataFrame,
    base_mean_col: str,
    p: str,
    *,
    n_theta: int = 50,
) -> DataFrame:
    """DESeq2 ``results()`` independent filtering + BH — the default
    padj the reference actually reads (vital_status_DESeq.R:89 consumes
    ``results()``, whose default ``independentFiltering=TRUE`` optimizes
    the tested gene set by mean-normalized-count before BH; plain
    :func:`bh_adjust` is the ``independentFiltering=FALSE`` form).

    Algorithm (DESeq2 pvalueAdjustment + genefilter ``filtered_p``):

    1. theta grid: ``n_theta`` points from ``mean(baseMean == 0)`` to
       0.95; cutoffs are the type-7 quantiles of baseMean at each theta
       (Spark's exact ``percentile`` interpolates identically to R
       type 7).
    2. for each theta: BH over the genes with ``baseMean >= cutoff``
       and non-NULL p; count rejections at :data:`FILTER_ALPHA`.
    3. select theta by the lowess rule (:func:`select_filter_theta`).
    4. final padj: BH over the kept genes at the chosen cutoff, one
       row window over the input; genes filtered out (or with NULL p)
       get ``padj`` NULL — DESeq2's NA.

    Output: the input rows plus ``padj``, ``filter_theta`` and
    ``filter_threshold`` (the chosen quantile and baseMean cutoff,
    constant columns — DESeq2 reports them as result metadata).

    Documented divergence: DESeq2 computes the quantile grid over ALL
    result rows (including NA-p genes — mostly the all-zero ones its
    ``lowerQuantile`` then skips); here the grid is over the TESTED
    (non-NULL p) genes only. BH only ever sees non-NA p in both, so the
    rejection-maximization semantics are identical — only the reported
    ``filter_threshold`` can sit at a slightly different quantile of
    the full table when many Cook's-filtered genes exist.

    EAGER CONTRACT: this runs two Spark jobs at call time (one scalar
    aggregate for the zero fraction, one ``n_theta``-row rejection-grid
    collect — both dimension-sized, the same guarded-collect class as
    the k-group log-rank). An input not already cached is persisted
    for the two jobs, so they compute it once between them, and
    released before returning: the returned plan, and any other query
    over the same input, never reads that cache. The rejection grid
    itself is distributed: a
    broadcast of the 50-row cutoff table against the gene table, BH per
    theta via the distinct-p formulation, one grouped count back. The
    gene-level results table this consumes is
    bounded by the annotation (~60k genes), so the 50x expansion is
    ~3M intermediate rows at worst — flat cost at any cohort size,
    since samples were already aggregated away by the Wald stage.
    """
    if n_theta < 2:
        # grid spacing divides by n_theta-1; a 1-point "grid" cannot
        # express the lowess selection — fail loudly, not with a
        # ZeroDivisionError mid-plan (genefilter's default is 50)
        raise ValueError(f"n_theta must be >= 2, got {n_theta}")
    # the two collects share one computation of the input (for the DE
    # pipeline, the whole NB-GLM fit): the first populates the cache
    # and the second reads it
    persisted = df.storageLevel == StorageLevel.NONE
    if persisted:
        df.persist()
    try:
        tested = df.filter(F.col(p).isNotNull())
        frac0_row = tested.agg(
            F.coalesce(
                F.avg(
                    F.when(F.col(base_mean_col) == 0.0, 1.0).otherwise(0.0)
                ),
                F.lit(0.0),
            ).alias("f0")
        ).collect()[0]
        lower = float(frac0_row["f0"])
        upper = 0.95 if lower < 0.95 else 1.0
        thetas = [
            lower + (upper - lower) * i / (n_theta - 1)
            for i in range(n_theta)
        ]
        rej = (
            rejection_grid(df, base_mean_col, p, thetas, alpha=FILTER_ALPHA)
            .orderBy("_ti")
            .collect()
        )
    finally:
        if persisted:
            df.unpersist()
    num_rej = [float(r["_nrej"]) for r in rej]
    # lowess over the ACTUAL theta spacing (evenly spaced by
    # construction, so index-based x in select_filter_theta is affine-
    # equivalent — lowess is invariant to affine x rescaling)
    j = select_filter_theta(num_rej)
    cutoff = float(rej[j]["_cut"]) if rej else 0.0
    # one consumer of the input: BH over p masked to the kept genes. The
    # NULL-aware bh_adjust counts only non-NULL p and gives the rest a
    # NULL padj, so filtered genes (a NULL baseMean included: the
    # comparison is NULL) and untested genes come out NULL in place.
    # Tied p share one padj, so the tiebreak cannot move a value.
    kept_p = F.when(F.col(base_mean_col) >= F.lit(cutoff), F.col(p))
    return (
        bh_adjust(df.withColumn("_kept_p", kept_p), "_kept_p", [], F.col(p))
        .drop("_kept_p")
        .withColumn("filter_theta", F.lit(round(thetas[j], 6)))
        .withColumn("filter_threshold", F.lit(round(cutoff, 6)))
    )


#: modified-z cut of Iglewicz & Hoaglin
ROBUST_Z_THRESHOLD = 3.5
#: scales the MAD to estimate sigma under normality
MAD_CONSISTENCY = 1.4826


def robust_outliers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Per-group robust outlier scores — median/MAD z-scores (Iglewicz
    & Hoaglin's modified z, |z| > :data:`ROBUST_Z_THRESHOLD`), the standard
    mean/stddev-free anomaly gate: one fat-tailed batch (a crawl dump
    of minified JS, a price-feed glitch) moves mean and stddev enough
    to mask its own outliers, while median and MAD have a 50%
    breakdown point.

    Appends ``robust_z`` (DOUBLE, rounded 6) and ``is_outlier``
    (BOOLEAN) to the input rows: ``robust_z = (x - median) /
    (MAD_CONSISTENCY * MAD)`` with ``MAD = median(|x - median|)``;
    :data:`MAD_CONSISTENCY` rescales MAD to estimate sigma under
    normality. Degenerate groups (MAD = 0: over half the values
    identical) and NULL values yield ``robust_z = NULL`` /
    ``is_outlier = false`` — an explicit guard, not an ANSI
    divide-by-zero error. The verdict compares the ROUNDED z so it is
    engine-portable (mirrored in the ``qa_robust_outliers`` oracle).

    Scale: exact medians are two grouped aggregations (median needs a
    full pass before MAD's |x - median| pass — inherent, not an
    implementation choice) plus two joins of dimension-sized
    per-group tables back to the fact, which Spark broadcasts; the
    fact is scanned three times, so persist upstream if it is not a
    plain columnar scan. Rows whose group key is NULL are dropped
    (they have no cohort to be outliers of). For corpora where exact
    medians are overkill, swap ``median`` for ``approx_percentile``
    upstream — same shape, one fewer constraint.

    Reference analog: the reference's low-count filter (A1) is a fixed
    threshold; this is its distribution-aware form for the
    pipeline-hygiene surface.
    """
    med = df.groupBy(*group_cols).agg(
        F.median(F.col(value_col)).alias("_med")
    )
    j = df.join(F.broadcast(med), group_cols)
    mad = j.groupBy(*group_cols).agg(
        F.median(F.abs(F.col(value_col) - F.col("_med"))).alias("_mad")
    )
    z = F.when(
        (F.col("_mad") == 0) | F.col(value_col).isNull(), F.lit(None)
    ).otherwise(
        F.round(
            (F.col(value_col) - F.col("_med"))
            / (F.lit(MAD_CONSISTENCY) * F.col("_mad")),
            6,
        )
    )
    return (
        j.join(F.broadcast(mad), group_cols)
        .withColumn("robust_z", z)
        .withColumn(
            "is_outlier",
            F.coalesce(
                F.abs(F.col("robust_z")) > F.lit(ROBUST_Z_THRESHOLD),
                F.lit(False),
            ),
        )
        .drop("_med", "_mad")
    )


#: Cumulative Poisson(1) CDF thresholds for k = 0..7 (tail mass
#: ~1e-5 truncates to k=8). Embedded as exact double literals in BOTH
#: engines (see the st_bootstrap oracle), so the weight drawn from a
#: given hash value is engine-portable by construction.
POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
    0.9999897508033253,
)


#: The same thresholds as 8-hex-digit STRING literals
#: (``format(floor(t * 2^32), '08x')``): an 8-char lowercase-hex md5
#: slice compares lexicographically exactly like its integer value, so
#: ``slice <= POISSON1_CDF_HEX[k]`` IS ``u < POISSON1_CDF[k]`` at
#: 32-bit resolution — no hex->int conversion in the hot path (conv()
#: measured ~40% of the per-draw cost at sf0.1).
POISSON1_CDF_HEX = tuple(
    format(int(t * 2**32), "08x") for t in POISSON1_CDF
)


def poisson1_weight_hex_sql(slice_expr: str) -> str:
    """Poisson(1) draw from an 8-char lowercase-hex digest slice by
    STRING comparison against :data:`POISSON1_CDF_HEX` (fixed-width
    lowercase hex orders lexicographically as its value; both engines
    compare ASCII), so no string->integer conversion is needed. A
    searched CASE whose conditions test the thresholds in ascending
    order — exactly the evaluation order of the nested when/otherwise
    chain, one parsed expression instead of ~20 py4j round trips per
    replicate slice."""
    whens = " ".join(
        f"when {slice_expr} <= '{t}' then {k}"
        for k, t in enumerate(POISSON1_CDF_HEX)
    )
    return f"case {whens} else {len(POISSON1_CDF_HEX)} end"


#: coverage of the bootstrap interval
BOOTSTRAP_LEVEL = 0.95


def bootstrap_ci(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    id_col: str,
    *,
    n_boot: int = 100,
    salt: str = "boot",
) -> DataFrame:
    """Per-group bootstrap confidence interval for the MEAN via the
    Poisson bootstrap — the resampling scheme that works when the data
    cannot sit on one machine (Chamandy et al., "Estimating Uncertainty
    for Massive Data Streams", Google 2012): instead of drawing n rows
    with replacement (which needs global coordination), each row enters
    replicate ``b`` Poisson(1)-many times. Resample counts come from
    the portable md5 digest of ``(salt, id, b div 4)``: ONE md5 yields
    FOUR 32-bit draws (the digest's 8-hex-char slices, one per
    replicate in the group of four), each mapped through the inverse
    CDF by direct hex-string comparison — a 4x hash-count and
    zero-conversion hot path that is still deterministic,
    layout-independent, and replayable in plain SQL (the
    ``a13_bootstrap_ci`` oracle re-slices the identical digests).

    Returns one row per group: ``(group_cols..., est, lo, hi,
    n_boot)`` — ``est`` the plain mean, ``lo``/``hi`` the
    equal-tailed :data:`BOOTSTRAP_LEVEL` percentile interval over
    replicate means (all rounded 6). Replicates where a group draws zero total weight (possible
    only for tiny groups) yield a NULL replicate mean, which the
    percentile skips — the standard small-group caveat of the Poisson
    bootstrap. Rows with a NULL ``value_col`` are excluded before
    resampling (they would otherwise inflate replicate denominators
    without contributing to the numerator); NULL-keyed groups survive
    via a null-safe struct-key final join.

    Scale: the explode is ``n_boot`` PER ROW but map-side — partial
    aggregation collapses it before the shuffle, so the exchange
    carries ~(partitions x groups x n_boot) partial sums, independent
    of row count. CPU is the inherent B-fold bootstrap cost (md5 paid
    once per 4 replicates); ``n_boot=100`` on a quantile that needs
    2.5%/97.5% tails is the practical floor. No driver-side state, no
    rand() (never reproducible across retries), no per-row Python.
    """
    alpha = (1.0 - BOOTSTRAP_LEVEL) / 2.0
    n_groups = (n_boot + 3) // 4
    # NULL values are excluded up front: a NULL-valued row would add
    # its Poisson weight to the replicate denominator SUM(_w) while
    # contributing nothing to SUM(_w*_x), biasing every replicate mean
    # low relative to est (whose AVG skips NULLs). Filtering first
    # makes replicates and est agree on the population; a group whose
    # values are ALL NULL drops out entirely (matching est = NULL
    # having nothing to pair with).
    df = df.filter(F.col(value_col).isNotNull())
    dig = F.md5(
        F.concat(
            F.lit(salt),
            F.col("_id").cast("string"),
            F.lit("|"),
            F.col("_g").cast("string"),
        )
    )
    # one digest -> four 8-hex-char slices -> four replicate weights.
    # The four slices are aggregated as EIGHT sum columns per
    # (group, digest group) instead of fanning out one row per
    # replicate: the old posexplode quadrupled the generate
    # output (n_rows x n_boot rows through the hash aggregate — the
    # measured majority of this operator's cost at sf0.1, +1.3s on a
    # 1.4s md5 pass); the wide aggregate keeps the fan-out at
    # n_rows x n_groups and replays the identical per-replicate sums —
    # same addend multisets per (group, b), same partial-aggregation
    # nondeterminism class, so results are unchanged. The tiny
    # (groups x n_groups) aggregate output then explodes back to
    # replicate grain for the percentile.
    # The slices are MATERIALIZED as columns before the weight chains
    # run: each chain compares its slice up to 8 times, and a chain
    # over an inline substring(...) re-slices the digest per branch
    # (conditional branches sit outside codegen's common-subexpression
    # elimination — measured +1.0s at sf0.1); a chain over an attribute
    # compares a ready value. The weights then fuse straight into the
    # aggregate expressions — no intermediate weight row ever
    # materializes.
    per_rep_wide = (
        df.select(
            *group_cols,
            F.col(value_col).alias("_x"),
            F.col(id_col).alias("_id"),
            F.explode(
                F.sequence(F.lit(0), F.lit(n_groups - 1))
            ).alias("_g"),
        )
        .withColumn("_dig", dig)
        .selectExpr(
            *[f"`{g}`" for g in group_cols],
            "_x",
            "_g",
            *[
                f"substring(_dig, {8 * s + 1}, 8) as _sl{s}"
                for s in range(4)
            ],
        )
        .groupBy(*group_cols, "_g")
        .agg(
            *[
                agg
                for s in range(4)
                for agg in (
                    F.expr(
                        "sum(cast("
                        + poisson1_weight_hex_sql(f"_sl{s}")
                        + f" as double) * _x) as _sw{s}"
                    ),
                    F.expr(
                        "sum(cast("
                        + poisson1_weight_hex_sql(f"_sl{s}")
                        + f" as double)) as _n{s}"
                    ),
                )
            ]
        )
    )
    rep_structs = ", ".join(
        f"struct(_g * 4 + {s} as _b, _sw{s} as _sw, _n{s} as _n)"
        for s in range(4)
    )
    per_rep = (
        per_rep_wide.selectExpr(
            *[f"`{g}`" for g in group_cols],
            f"explode(array({rep_structs})) as _r",
        )
        .filter(F.col("_r._b") < n_boot)
        .select(
            *group_cols,
            F.when(
                F.col("_r._n") > 0, F.col("_r._sw") / F.col("_r._n")
            ).alias("_mean_b"),
        )
    )
    ci = per_rep.groupBy(*group_cols).agg(
        F.round(F.percentile(F.col("_mean_b"), F.lit(alpha)), 6).alias("lo"),
        F.round(
            F.percentile(F.col("_mean_b"), F.lit(1.0 - alpha)), 6
        ).alias("hi"),
    )
    est = df.groupBy(*group_cols).agg(
        F.round(F.avg(value_col), 6).alias("est")
    )
    # struct-key join so a NULL-keyed group (kept by both groupBys)
    # survives the merge instead of being dropped by NULL = NULL
    est_k = est.select(
        F.struct(*[F.col(g) for g in group_cols]).alias("_k"), "est"
    )
    ci_k = ci.select(
        F.struct(*[F.col(g) for g in group_cols]).alias("_k"), "lo", "hi"
    )
    return (
        est_k.join(ci_k, "_k")
        .withColumn("n_boot", F.lit(n_boot).cast("bigint"))
        .select(
            *[F.col("_k")[g].alias(g) for g in group_cols],
            "est",
            "lo",
            "hi",
            "n_boot",
        )
    )


def cuped_ab(
    df: DataFrame,
    unit_col: str,
    arm_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """CUPED-adjusted A/B experiment readout (Deng, Xu, Kohavi &
    Walker, WSDM 2013): the industry-standard variance-reduction
    estimator — adjust each unit's experiment-period metric ``y`` by
    its PRE-period covariate ``x``::

        theta    = cov(x, y) / var(x)        (pooled across arms)
        y_cuped  = y - theta * (x - mean(x))

    Because assignment is independent of the pre-period, the
    adjustment is unbiased for the treatment effect while removing the
    between-unit variance ``x`` explains (variance shrinks by the
    factor ``1 - corr(x,y)^2``) — the same experiment reaches
    significance with far fewer units. This is the experiment-analysis
    tier of the engine, next to the Wilcoxon/bootstrap/KS tests.

    Input: one row per UNIT: ``(unit, arm 'A'|'B', x, y)`` (build it
    with a user-keyed conditional aggregate; NULL x/y are treated as
    0.0 — a unit with no pre-period activity has covariate 0).

    Output: ONE row of scalars::

        n_a, n_b,
        mean_a_raw,  mean_b_raw,  lift_raw  [r6], z_raw  [r4],
        theta [r6],
        mean_a_cuped, mean_b_cuped, lift_cuped [r6], z_cuped [r4],
        var_reduction_pct [r4]

    z-stats are two-sample unpooled (Welch form): ``lift /
    sqrt(s2_a/n_a + s2_b/n_b)`` with SAMPLE variances; every division
    is NULLIF-guarded (single-unit arms and zero-variance covariates
    yield NULL z / theta=0, never an ANSI divide-by-zero). Floats are
    computed from raw power sums identically in both engines and
    rounded before publication.

    Scale shape: everything derives from ONE global aggregate of per-
    arm power sums (n, Σx, Σy, Σx², Σy², Σxy conditioned on arm) —
    a map-side-combined single-row reduction; no per-unit data ever
    leaves the exchange. With the unit table itself built by a
    user-keyed aggregate, the whole readout is two shuffles at any
    event volume.
    """
    # Single-parse SQL expressions throughout: the Column-
    # object forest here cost ~3,300 py4j round trips per build (~0.7s
    # of driver wall per bench rep) for a query whose execution is a
    # quarter of that. Intermediate named columns hold exactly the
    # doubles the inlined tree produced (materializing a subexpression
    # never changes its IEEE value), so outputs are bit-identical.
    a = f"case when `{arm_col}` = 'A' then 1.0D else 0.0D end"
    b = f"case when `{arm_col}` = 'B' then 1.0D else 0.0D end"
    x = f"coalesce(cast(`{x_col}` as double), 0.0D)"
    y = f"coalesce(cast(`{y_col}` as double), 0.0D)"
    sums = df.agg(
        F.expr(f"sum({a}) as na"),
        F.expr(f"sum({b}) as nb"),
        F.expr(f"sum({x}) as sx"),
        F.expr(f"sum({y}) as sy"),
        F.expr(f"sum({x} * {x}) as sxx"),
        F.expr(f"sum({x} * {y}) as sxy"),
        F.expr(f"sum({a} * {x}) as sxa"),
        F.expr(f"sum({b} * {x}) as sxb"),
        F.expr(f"sum({a} * {y}) as sya"),
        F.expr(f"sum({b} * {y}) as syb"),
        F.expr(f"sum({a} * {y} * {y}) as syya"),
        F.expr(f"sum({b} * {y} * {y}) as syyb"),
        F.expr(f"sum({a} * {x} * {x}) as sxxa"),
        F.expr(f"sum({b} * {x} * {x}) as sxxb"),
        F.expr(f"sum({a} * {x} * {y}) as sxya"),
        F.expr(f"sum({b} * {x} * {y}) as sxyb"),
    )

    def _div(num: str, den: str) -> str:
        return f"({num}) / nullif({den}, 0.0D)"

    def _clamp0(v: str) -> str:
        # variances derived from power sums can go ~-1e-12 via float
        # cancellation (e.g. a constant-metric arm); clamp at 0 but
        # PRESERVE NULL (single-unit arm) — CASE WHEN NULL < 0 falls to
        # ELSE v = NULL in both Spark and the DuckDB oracle's CASE
        return f"case when ({v}) < 0 then 0.0D else ({v}) end"

    n = "(na + nb)"
    # pooled theta from centered sums; zero covariate variance -> 0
    varx = f"sxx - {_div('sx * sx', n)}"
    covxy = f"sxy - {_div('sx * sy', n)}"
    base = sums.selectExpr(
        "*",
        f"coalesce({_div(covxy, f'nullif({varx}, 0.0D)')}, 0.0D) as _theta",
        _div("sx", n) + " as _xbar",
    )

    # per-arm means / variances from the same power sums, as named
    # intermediate columns (one selectExpr pass per derivation level)
    arm_exprs = []
    for t in ("a", "b"):
        my = _div(f"sy{t}", f"n{t}")
        mx = _div(f"sx{t}", f"n{t}")
        vy = _clamp0(
            _div(f"syy{t} - {_div(f'power(sy{t}, 2)', f'n{t}')}",
                 f"n{t} - 1")
        )
        vxa = f"sxx{t} - {_div(f'power(sx{t}, 2)', f'n{t}')}"
        cxy = f"sxy{t} - {_div(f'sx{t} * sy{t}', f'n{t}')}"
        syy = f"syy{t} - {_div(f'power(sy{t}, 2)', f'n{t}')}"
        vc = _clamp0(
            _div(
                f"({syy}) - 2 * _theta * ({cxy})"
                f" + power(_theta, 2) * ({vxa})",
                f"n{t} - 1",
            )
        )
        mc = f"({my}) - _theta * (({mx}) - _xbar)"
        arm_exprs += [
            f"{my} as _my{t}",
            f"{vy} as _vy{t}",
            f"{mc} as _mc{t}",
            f"{vc} as _vc{t}",
        ]
    step = base.selectExpr("*", *arm_exprs)
    z_raw = _div(
        "_myb - _mya", f"sqrt({_div('_vya', 'na')} + {_div('_vyb', 'nb')})"
    )
    z_cu = _div(
        "_mcb - _mca", f"sqrt({_div('_vca', 'na')} + {_div('_vcb', 'nb')})"
    )
    # pooled variance reduction: 1 - var(cuped)/var(raw), from the
    # pooled WITHIN-arm variances so the treatment effect itself does
    # not count as "variance explained"
    pooled_raw = _div("(na - 1) * _vya + (nb - 1) * _vyb", f"{n} - 2")
    pooled_cu = _div("(na - 1) * _vca + (nb - 1) * _vcb", f"{n} - 2")
    red = (
        "100.0D * (1.0D - "
        + _div(pooled_cu, f"nullif({pooled_raw}, 0.0D)")
        + ")"
    )
    return step.selectExpr(
        "cast(na as long) as n_a",
        "cast(nb as long) as n_b",
        "round(_mya, 6) as mean_a_raw",
        "round(_myb, 6) as mean_b_raw",
        "round(_myb - _mya, 6) as lift_raw",
        f"round({z_raw}, 4) as z_raw",
        "round(_theta, 6) as theta",
        "round(_mca, 6) as mean_a_cuped",
        "round(_mcb, 6) as mean_b_cuped",
        "round(_mcb - _mca, 6) as lift_cuped",
        f"round({z_cu}, 4) as z_cuped",
        f"round({red}, 4) as var_reduction_pct",
    )
