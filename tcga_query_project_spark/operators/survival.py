"""Survival-analysis operators (SURVEY.md §2.5 W1-W5).

The reference delegates to the R ``survival``/``survminer`` packages:
``Surv`` + ``survfit`` (surv_analysis_median_exp.R:129-150), log-rank p
(``ggsurvplot(pval=T)``, :155), Greenwood CIs (:156), median line
(:158). Here each is a window/groupBy composition over a tidy
``(subject, time, status, stratum)`` table — one shuffle keyed by
stratum, cumulative windows ordered by time, all JVM-side. The
reference's per-gene plot loop disappears: partitioning by
(gene, stratum) computes every gene's curve in one pass
(SURVEY.md §3.2). Every comparison in the reference is a two-group
median split, so :func:`logrank_test` is the one log-rank.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tcga_query_project_spark.functions.scalar import NORMAL_SF_TWO_SIDED_SQL


def ntile_strata(
    df: DataFrame,
    value: str,
    n: int,
    partition_cols: list[str],
    tiebreak: Column,
) -> DataFrame:
    """W1 + P9: quantile stratification — ``ntile(km_plot[gene], n)``
    (surv_analysis_median_exp.R:131-141, drug_km_median_exp.R:105-108).

    n=2 is the median split; for n>2 only tiles 1 and n are kept
    (``keep <- which(tmp %in% 1 | tmp %in% n)``,
    surv_analysis_median_exp.R:139-140), labeled LOW/HIGH in
    ``stratum`` (:141). ``tiebreak`` makes the ordering total — ntile
    bucket membership on ties is otherwise engine-dependent
    (SURVEY.md §7 hard-part #4).

    A RUNTIME guard enforces that precondition: if
    any two rows in a partition share the full ``(value, tiebreak)``
    order key, the job fails with a descriptive error instead of
    silently emitting an engine-dependent stratum. Implemented as a
    ``rank != row_number`` probe over the SAME window (a tie in the
    full ordering is exactly a duplicate key) lifted to a PARTITION-
    LEVEL flag (max over the unbounded frame of the same window spec —
    same shuffle key, no extra exchange), folded into the output
    column so column pruning cannot drop it. The partition-level lift
    means the guard fires even when every row of the
    duplicate pair lands in a dropped MID tile: a duplicate full key
    ANYWHERE means the tiebreak is not total — a data-contract
    violation — even if this particular output happens to be
    unaffected."""
    w = Window.partitionBy(*partition_cols).orderBy(F.col(value).asc(), tiebreak)
    tiled = df.withColumn("_tile", F.ntile(n).over(w))
    # rank < row_number over the FULL (value, tiebreak) ordering marks
    # every non-first row of a duplicate-key group (ties are contiguous,
    # so such a row duplicates its immediate predecessor). The probe
    # works for ANY tiebreak expression — including SortOrder columns
    # like F.col(x).asc(), which lag/lead cannot take as input. The
    # whole-partition max carries (one of) the duplicated values to
    # EVERY row of the partition — computed BEFORE the extremes filter,
    # so the surviving tile-1/tile-n rows raise no matter where the
    # duplicates sat (tile 1 is never empty for a nonempty partition).
    dup_row = F.rank().over(w) != F.row_number().over(w)
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tiled = tiled.withColumn(
        "_dup_val", F.max(F.when(dup_row, F.col(value))).over(w_all)
    ).filter(F.col("_tile").isin(1, n))
    label = (
        F.when(F.col("_tile") == 1, F.lit("LOW"))
        .when(F.col("_tile") == n, F.lit("HIGH"))
        .otherwise(F.lit("MID"))
    )
    label = F.when(
        F.col("_dup_val").isNotNull(),
        F.raise_error(
            F.concat(
                F.lit(
                    "ntile_strata(strict=True): duplicate (value, "
                    "tiebreak) order key within a partition — ntile "
                    "assignment would be engine-dependent; value="
                ),
                F.col("_dup_val").cast("string"),
            )
        ),
    ).otherwise(label)
    return tiled.withColumn("stratum", label).drop("_tile", "_dup_val")


def quantile_strata(
    df: DataFrame,
    value: str,
    n: int,
    partition_cols: list[str],
) -> DataFrame:
    """Scale-safe n-tile stratification, replacing :func:`ntile_strata`
    as the 100 TB path (surv_analysis_median_exp.R:131-141 semantics;
    ``ntile(n) OVER (PARTITION BY low-cardinality-key)``
    funnels corpus/|keys| rows through ONE sort task — the only
    superlinear query in BENCH_SCALE at 10x data).

    Explicit deterministic tie rule (inverse CDF on the value grid
    rounded to 2 decimals), cross-engine portable — unlike
    percentile_approx, whose sketch state no other engine can replay:

    - per group, ``t_low`` = smallest rounded value whose cumulative
      count reaches ``ceil(N/n)``; ``t_high`` = smallest reaching
      ``ceil((n-1)·N/n)`` (integer arithmetic: ``(N+n-1) div n`` /
      ``((n-1)·N+n-1) div n`` — no float thresholds);
    - LOW ⇔ rounded value ≤ ``t_low`` (ties at the boundary ALL go
      low); HIGH ⇔ rounded value > ``t_high`` (boundary ties go MID,
      and MID rows drop: only the LOW/HIGH extremes are kept, in
      ``stratum``);
    - NULL values are LOW — matching ntile's nulls-first ascending
      order (tile 1), so a null-valued subject's stratum does not flip
      when swapping implementations. Groups with NO non-null values
      drop (no boundary is definable; inner join). NULL partition
      KEYS form their own group (null-safe struct-keyed label join),
      exactly as ``Window.partitionBy`` treats them in
      :func:`ntile_strata`.

    On tie-free rounded values with group size divisible by ``n`` this
    equals ntile's tiles 1/n exactly (equivalence-tested); under ties
    the two differ only in boundary-tie placement, which the reference
    leaves unspecified.

    Execution shape — every stage bounded regardless of corpus size:

    1. histogram ``groupBy(group, round(value, 2))`` — a
       MERGEABLE count aggregation (map-side partials); the shuffle
       carries distinct (group, grid value) pairs, not rows;
    2. cumulative window over the HISTOGRAM partitioned by group —
       partition size = distinct grid values per group, bounded by the
       value range × 10^2 (the grid is the scale lever:
       coarser grid → smaller histogram, boundary moves by at most one
       grid step), never by row count;
    3. per-group boundary aggregate (one row per group) broadcast back
       onto the unshuffled input for labeling — the corpus itself is
       never sorted, windowed, or re-partitioned.
    """
    if n < 2:
        raise ValueError(f"quantile_strata: n must be >= 2, got {n}")
    v = F.round(F.col(value), 2)
    hist = (
        df.filter(F.col(value).isNotNull())
        .groupBy(*partition_cols, v.alias("_v"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w_cum = (
        Window.partitionBy(*partition_cols)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*partition_cols)
    cum = hist.select(
        *partition_cols,
        "_v",
        F.sum("_c").over(w_cum).alias("_cum"),
        F.sum("_c").over(w_all).alias("_n"),
    )
    # integer ceil-div, no FP anywhere: ceil(x/n) = (x + n - 1) div n
    k_low = F.expr(f"(_n + {n - 1}) div {n}")
    k_high = F.expr(f"(_n * {n - 1} + {n - 1}) div {n}")
    bounds = cum.groupBy(*partition_cols).agg(
        F.min(F.when(F.col("_cum") >= k_low, F.col("_v"))).alias("_t_low"),
        F.min(F.when(F.col("_cum") >= k_high, F.col("_v"))).alias(
            "_t_high"
        ),
    )
    # struct-keyed join: struct equality compares fields null-safely,
    # so NULL-keyed groups stratify like any other (a plain
    # multi-column equi-join would silently DROP null-stratum rows —
    # the same defect stratified_cap_scaled fixed; ntile_strata's
    # Window.partitionBy treats NULL as a normal partition and these
    # two must agree)
    _k = F.struct(*[F.col(c) for c in partition_cols])
    bounds_k = bounds.withColumn("_sk", _k).drop(*partition_cols)
    labeled = (
        df.withColumn("_sk", _k)
        .join(F.broadcast(bounds_k), "_sk")
        .drop("_sk")
    ).withColumn(
        "stratum",
        F.when(
            F.col(value).isNull()
            | (F.round(F.col(value), 2) <= F.col("_t_low")),
            F.lit("LOW"),
        )
        .when(
            F.round(F.col(value), 2) > F.col("_t_high"),
            F.lit("HIGH"),
        )
        .otherwise(F.lit("MID")),
    )
    return labeled.filter(F.col("stratum") != "MID").drop("_t_low", "_t_high")


def km_curve(
    df: DataFrame,
    time: str,
    status: str,
    strata_cols: list[str],
) -> DataFrame:
    """W2 + W5: Kaplan-Meier product-limit estimator with Greenwood
    variance — ``survfit(Surv(time, status) ~ stratum)``
    (surv_analysis_median_exp.R:129-150) and ``conf.int=T`` (:156).

    Input: one row per subject with ``time`` (numeric), ``status``
    (1 = event/death, 0 = censored) and stratum key columns.
    Output: one row per (stratum, observed time):
    ``n_at_risk, n_events, n_censored, survival, greenwood_var``.

    Semantics (R ``survival`` conventions): subjects censored at t are
    at risk through t (deaths at t happen "first"); S(t) multiplies
    ``(1 - d/n)`` over event times ≤ t; once n_events == n_at_risk the
    curve hits 0 and Greenwood variance is undefined (NULL). Computed as
    ``exp(Σ ln(1-d/n))`` with an explicit zero flag rather than ln(0).
    """
    # Consolidated selectExpr passes: the expression forest
    # below used to be built as ~150 individual Column objects, each a
    # py4j round trip at plan-construction time (~0.5s of driver wall
    # per build, 3 builds per bench rep). SQL-string expressions parse
    # JVM-side in one call each and resolve to the IDENTICAL analyzed
    # plan — semantics, types and null handling unchanged (asserted by
    # the R-golden unit tests and the w2/w3 oracle parity suite).
    part = ", ".join(f"`{c}`" for c in strata_cols)
    tq = f"`{time}`"
    per_time = df.groupBy(*strata_cols, time).agg(
        F.expr(f"cast(sum(`{status}`) as double)").alias("_d"),
        F.expr(f"cast(sum(1 - `{status}`) as double)").alias("_c"),
    )
    over_tot = f"(partition by {part})"
    over_prev = (
        f"(partition by {part} order by {tq} asc "
        "rows between unbounded preceding and 1 preceding)"
    )
    over_cum = (
        f"(partition by {part} order by {tq} asc "
        "rows between unbounded preceding and current row)"
    )
    at_risk = per_time.selectExpr(
        "*",
        f"sum(_d + _c) over {over_tot}"
        f" - coalesce(sum(_d + _c) over {over_prev}, 0.0D) as _n",
    ).selectExpr("*", "1.0D - _d / _n as _factor")
    surv = at_risk.selectExpr(
        "*",
        f"max(case when _factor <= 0 then 1 else 0 end) over {over_cum}"
        " as _hit_zero",
        "sum(case when _factor > 0 then ln(_factor) else 0.0D end)"
        f" over {over_cum} as _lnsum",
        "sum(case when _d > 0 and _n > _d then _d / (_n * (_n - _d))"
        f" else 0.0D end) over {over_cum} as _gw_sum",
    ).selectExpr(
        "*",
        "case when _hit_zero = 1 then 0.0D else exp(_lnsum) end as survival",
    )
    # 95% CI, conf.type="log" (R survfit default): se(log S)^2 is the
    # cumulative Greenwood sum itself, CI = S * exp(±z * se(log S)),
    # upper clamped to 1; undefined once the curve hits 0.
    z95 = "1.959963984540054D"
    return surv.selectExpr(
        *[f"`{c}`" for c in strata_cols],
        tq,
        "cast(_n as long) as n_at_risk",
        "cast(_d as long) as n_events",
        "cast(_c as long) as n_censored",
        "survival",
        "case when survival <= 0 then cast(null as double)"
        " else survival * survival * _gw_sum end as greenwood_var",
        "case when survival > 0"
        f" then survival * exp(-{z95} * sqrt(_gw_sum))"
        " else cast(null as double) end as ci_lower",
        "case when survival > 0"
        f" then least(1.0D, survival * exp({z95} * sqrt(_gw_sum)))"
        " else cast(null as double) end as ci_upper",
    )


def median_survival(km: DataFrame, time: str, strata_cols: list[str]) -> DataFrame:
    """W4: median survival time — the first observed time where the KM
    curve drops to ≤ 0.5 (``surv.median.line="hv"``,
    surv_analysis_median_exp.R:158). NULL when the curve never crosses
    0.5 (left join against the stratum list preserves such strata).
    """
    strata = km.select(*strata_cols).distinct()
    crossed = (
        km.filter(F.col("survival") <= 0.5)
        .groupBy(*strata_cols)
        .agg(F.min(time).alias("median_time"))
    )
    return strata.join(crossed, strata_cols, "left")


def logrank_test(
    df: DataFrame,
    time: str,
    status: str,
    group: str,
    extra_partition: list[str] | None = None,
) -> DataFrame:
    """W3: two-group log-rank (Mantel-Cox) test —
    ``ggsurvplot(s1, pval=T)`` (surv_analysis_median_exp.R:155,
    drug_km_median_exp.R:117).

    At each time with ≥1 event: expected group-1 deaths ``e1 = d·n1/n``
    and hypergeometric variance ``v = d·(n1/n)·(1-n1/n)·(n-d)/(n-1)``;
    ``chi2 = (Σ(d1-e1))² / Σv``, p from chi²(1) = two-sided normal tail
    of sqrt(chi2). Groups are ordered by name; "group 1" is the first.
    A one-group partition (Σv = 0) gets NULL chi2 and p; a partition
    without events gets no row. ``extra_partition`` runs one test per
    key (e.g. per gene) in one pass.

    Risk-set form, no time × group grid: n(t) is the partition's total
    minus its removals before t, for all subjects and for group 1.
    Keyed on ``extra_partition``, the group-1 window's shuffle is the
    plan's only one; without it, group 1 is a broadcast one-row min.
    """
    part = list(extra_partition or [])
    partq = [f"`{c}`" for c in part]
    tq, gq, sq = f"`{time}`", f"`{group}`", f"`{status}`"
    pby = f"partition by {', '.join(partq)}" if part else ""
    over_p = f"({pby})"
    over_prev = (
        f"({pby} order by {tq} asc"
        " rows between unbounded preceding and 1 preceding)"
    )
    if part:
        flagged = df.selectExpr(
            "*", f"cast(({gq} = min({gq}) over {over_p}) as int) as _is1"
        )
    else:
        g1 = df.agg(F.min(group).alias("_g1"))
        flagged = df.crossJoin(F.broadcast(g1)).selectExpr(
            "*", f"cast(({gq} = _g1) as int) as _is1"
        )
    per_t = flagged.groupBy(*part, time).agg(
        F.expr("cast(count(1) as double)").alias("_r"),
        F.expr(f"cast(sum({sq}) as double)").alias("_d"),
        F.expr("cast(sum(_is1) as double)").alias("_r1"),
        F.expr(f"cast(sum(_is1 * {sq}) as double)").alias("_d1"),
    )
    at_risk = per_t.selectExpr(
        *partq,
        "_d",
        "_d1",
        f"sum(_r) over {over_p} - coalesce(sum(_r) over {over_prev}, 0.0D)"
        " as _n",
        f"sum(_r1) over {over_p} - coalesce(sum(_r1) over {over_prev}, 0.0D)"
        " as _n1",
    ).filter(F.col("_d") > 0)
    stats = at_risk.groupBy(*part).agg(
        F.expr("sum(_d1 - _d * _n1 / _n)").alias("_sum_oe"),
        F.expr(
            "sum(case when _n > 1 then _d * (_n1 / _n) * (1.0D - _n1 / _n)"
            " * (_n - _d) / (_n - 1.0D) else 0.0D end)"
        ).alias("_sum_v"),
    )
    return stats.selectExpr(
        *partq,
        "case when _sum_v > 0 then _sum_oe * _sum_oe / _sum_v end as chi2",
    ).selectExpr(
        *partq,
        "chi2",
        "case when chi2 is not null then "
        + NORMAL_SF_TWO_SIDED_SQL.format(z="sqrt(chi2)")
        + " end as p_value",
    )
