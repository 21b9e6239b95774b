"""Survival-analysis operators (SURVEY.md §2.5 W1-W5).

The reference delegates to the R ``survival``/``survminer`` packages:
``Surv`` + ``survfit`` (surv_analysis_median_exp.R:129-150), log-rank p
(``ggsurvplot(pval=T)``, :155), Greenwood CIs (:156), median line
(:158). Here each is a window/groupBy composition over a tidy
``(subject, time, status, stratum)`` table — one shuffle keyed by
stratum, cumulative windows ordered by time, all JVM-side. The
reference's per-gene plot loop disappears: partitioning by
(gene, stratum) computes every gene's curve in one pass
(SURVEY.md §3.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from tcga_query_project_spark.functions.scalar import NORMAL_SF_TWO_SIDED_SQL


def ntile_strata(
    df: DataFrame,
    value: str,
    n: int,
    partition_cols: list[str],
    tiebreak: Column,
    keep_extremes_only: bool = True,
    out: str = "stratum",
    strict: bool = False,
) -> DataFrame:
    """W1 + P9: quantile stratification — ``ntile(km_plot[gene], n)``
    (surv_analysis_median_exp.R:131-141, drug_km_median_exp.R:105-108).

    n=2 is the median split; for n>2 only tiles 1 and n are kept
    (``keep <- which(tmp %in% 1 | tmp %in% n)``,
    surv_analysis_median_exp.R:139-140), labeled LOW/HIGH
    (:141). ``tiebreak`` makes the ordering total — ntile bucket
    membership on ties is otherwise engine-dependent
    (SURVEY.md §7 hard-part #4).

    ``strict=True`` turns that precondition into a RUNTIME guard: if
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
    if strict:
        # rank < row_number over the FULL (value, tiebreak) ordering
        # marks every non-first row of a duplicate-key group (ties are
        # contiguous, so such a row duplicates its immediate
        # predecessor). The probe works for ANY tiebreak expression —
        # including SortOrder columns like F.col(x).asc(), which lag/
        # lead cannot take as input. The whole-partition max carries
        # (one of) the duplicated values to EVERY row of the partition
        # — computed BEFORE the extremes filter, so the surviving
        # tile-1/tile-n rows raise no matter where the duplicates sat
        # (tile 1 is never empty for a nonempty partition).
        dup_row = F.rank().over(w) != F.row_number().over(w)
        w_all = w.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        tiled = tiled.withColumn(
            "_dup_val",
            F.max(F.when(dup_row, F.col(value))).over(w_all),
        )
    if keep_extremes_only:
        tiled = tiled.filter(F.col("_tile").isin(1, n))
    label = (
        F.when(F.col("_tile") == 1, F.lit("LOW"))
        .when(F.col("_tile") == n, F.lit("HIGH"))
        .otherwise(F.lit("MID"))
    )
    if strict:
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
    return tiled.withColumn(out, label).drop("_tile", "_dup_val")


def quantile_strata(
    df: DataFrame,
    value: str,
    n: int,
    partition_cols: list[str],
    decimals: int = 2,
    keep_extremes_only: bool = True,
    out: str = "stratum",
) -> DataFrame:
    """Scale-safe n-tile stratification, replacing :func:`ntile_strata`
    as the 100 TB path (surv_analysis_median_exp.R:131-141 semantics;
    ``ntile(n) OVER (PARTITION BY low-cardinality-key)``
    funnels corpus/|keys| rows through ONE sort task — the only
    superlinear query in BENCH_SCALE at 10x data).

    Explicit deterministic tie rule (inverse CDF on the ``decimals``-
    rounded value grid), cross-engine portable — unlike
    percentile_approx, whose sketch state no other engine can replay:

    - per group, ``t_low`` = smallest rounded value whose cumulative
      count reaches ``ceil(N/n)``; ``t_high`` = smallest reaching
      ``ceil((n-1)·N/n)`` (integer arithmetic: ``(N+n-1) div n`` /
      ``((n-1)·N+n-1) div n`` — no float thresholds);
    - LOW ⇔ rounded value ≤ ``t_low`` (ties at the boundary ALL go
      low); HIGH ⇔ rounded value > ``t_high`` (boundary ties go MID);
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

    1. histogram ``groupBy(group, round(value, decimals))`` — a
       MERGEABLE count aggregation (map-side partials); the shuffle
       carries distinct (group, grid value) pairs, not rows;
    2. cumulative window over the HISTOGRAM partitioned by group —
       partition size = distinct grid values per group, bounded by the
       value range × 10^decimals (the grid is the scale lever:
       coarser grid → smaller histogram, boundary moves by at most one
       grid step), never by row count;
    3. per-group boundary aggregate (one row per group) broadcast back
       onto the unshuffled input for labeling — the corpus itself is
       never sorted, windowed, or re-partitioned.
    """
    if n < 2:
        raise ValueError(f"quantile_strata: n must be >= 2, got {n}")
    v = F.round(F.col(value), decimals)
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
        out,
        F.when(
            F.col(value).isNull()
            | (F.round(F.col(value), decimals) <= F.col("_t_low")),
            F.lit("LOW"),
        )
        .when(
            F.round(F.col(value), decimals) > F.col("_t_high"),
            F.lit("HIGH"),
        )
        .otherwise(F.lit("MID")),
    )
    if keep_extremes_only:
        labeled = labeled.filter(F.col(out) != "MID")
    return labeled.drop("_t_low", "_t_high")


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

    ``extra_partition`` computes many independent tests (e.g. per gene)
    in one pass.

    Scale note: built entirely from equi-joins on (partition, time) plus
    cumulative windows — no time-range theta join (which Spark would plan
    as a nested-loop join). The grid × group expansion is |distinct
    times| × |groups| rows, already reduced from subject level.
    """
    part = list(extra_partition or [])
    partq = [f"`{c}`" for c in part]
    tq, gq = f"`{time}`", f"`{group}`"

    # Removals (deaths d_g + any-cause exits r_g) per (group, time).
    per_gt = df.groupBy(*part, group, time).agg(
        F.expr(f"cast(sum(`{status}`) as double)").alias("_d_g"),
        F.expr("cast(count(1) as double)").alias("_r_g"),
    )
    # Common time grid: every observed time, for every group.
    times = per_gt.select(*part, time).distinct()
    groups_df = per_gt.select(*part, group).distinct()
    grid = times.join(groups_df, part) if part else times.crossJoin(groups_df)
    cells = grid.join(per_gt, [*part, group, time], "left").na.fill(
        {"_d_g": 0.0, "_r_g": 0.0}
    )
    # n_g(t) = group total − removals strictly before t; "group 1" =
    # lexicographically first label within the partition. One
    # selectExpr pass (the Column-object forest cost ~0.4s
    # of py4j chatter per build; identical analyzed plan).
    pg = ", ".join([*partq, gq])
    over_p = f"(partition by {', '.join(partq)})" if part else "()"
    at_risk = cells.selectExpr(
        "*",
        f"sum(_r_g) over (partition by {pg})"
        f" - coalesce(sum(_r_g) over (partition by {pg} order by {tq} asc"
        " rows between unbounded preceding and 1 preceding), 0.0D)"
        " as _n_g",
        f"cast(({gq} = min({gq}) over {over_p}) as int) as _is_g1",
    )
    per_t = (
        at_risk.groupBy(*part, time)
        .agg(
            F.expr("sum(_n_g)").alias("_n"),
            F.expr("sum(_d_g)").alias("_d"),
            F.expr("sum(_n_g * _is_g1)").alias("_n1"),
            F.expr("sum(_d_g * _is_g1)").alias("_d1"),
        )
        .filter(F.col("_d") > 0)
    )
    terms = per_t.selectExpr(
        *partq,
        "_d1 - _d * _n1 / _n as _oe",
        "case when _n > 1 then _d * (_n1 / _n) * (1.0D - _n1 / _n)"
        " * (_n - _d) / (_n - 1.0D) else 0.0D end as _v",
    )
    agg_cols = [
        F.sum("_oe").alias("_sum_oe"),
        F.sum("_v").alias("_sum_v"),
    ]
    stats = terms.groupBy(*part).agg(*agg_cols) if part else terms.agg(*agg_cols)
    return stats.selectExpr(
        *partq,
        "case when _sum_v > 0 then _sum_oe * _sum_oe / _sum_v end as chi2",
    ).selectExpr(
        *partq,
        "chi2",
        NORMAL_SF_TWO_SIDED_SQL.format(z="sqrt(chi2)") + " as p_value",
    )


def logrank_test_k(
    df: DataFrame, time: str, status: str, group: str
) -> DataFrame:
    """k-group log-rank (Mantel-Cox) test — the multi-arm
    generalization of :func:`logrank_test` (the reference's BRCA
    stage/subtype cohorts have 5 levels; ``survdiff`` computes exactly
    this). Full covariance form, not the Σ(O−E)²/E approximation:

    per event time t: ``E_g = d·n_g/n`` and
    ``V_gh = d·(n−d)/(n−1) · (n_g/n)·(δ_gh − n_h/n)``; summing over
    times gives the vector ``u = O−E`` and matrix ``V`` (k−1 free
    components); ``chi2 = u' V⁻ u`` on χ²(k−1).

    Execution shape: everything per-time is groupBy/window SQL; the
    k-vector and k×k matrix of SUMS (k² + k numbers — bytes, for any
    real k) are collected and the tiny quadratic form is solved with a
    pseudo-inverse driver-side. P-value: exact χ²(1) tail at df=1
    (matching :func:`logrank_test` bit-for-bit), Wilson-Hilferty normal
    approximation for df>1. Degenerate inputs (fewer than two groups,
    no events, zero total variance) return NULL chi2/p — never a
    fabricated "not significant". **Eager contract**: calling this runs
    the aggregation jobs immediately (like stats.vst_fitted; the
    per-time table is persisted across the two collects so both read
    one snapshot) and returns a one-row DataFrame (chi2, df, p_value).
    For a per-gene (or any per-cohort) multi-arm sweep use
    :func:`logrank_test_k_by` — the distributed fan-out that runs the
    identical math once per cohort in a single grouped job.
    """
    import math

    import numpy as np

    per_gt = df.groupBy(group, time).agg(
        F.sum(F.col(status)).cast("double").alias("_d_g"),
        F.count(F.lit(1)).cast("double").alias("_r_g"),
    )
    times = per_gt.select(time).distinct()
    groups_df = per_gt.select(group).distinct()
    grid = times.crossJoin(groups_df)
    cells = grid.join(per_gt, [group, time], "left").na.fill(
        {"_d_g": 0.0, "_r_g": 0.0}
    )
    w_tot = Window.partitionBy(group)
    w_prev = (
        Window.partitionBy(group)
        .orderBy(F.col(time).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    at_risk = cells.withColumn(
        "_n_g",
        F.sum("_r_g").over(w_tot)
        - F.coalesce(F.sum("_r_g").over(w_prev), F.lit(0.0)),
    )
    from pyspark import StorageLevel

    w_t = Window.partitionBy(time)
    per = (
        at_risk.withColumn("_n", F.sum("_n_g").over(w_t))
        .withColumn("_d", F.sum("_d_g").over(w_t))
        .filter(F.col("_d") > 0)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # u_g = Σ_t (d_g − d·n_g/n), per group (k rows)
    u_rows = (
        per.groupBy(group)
        .agg(
            F.sum(
                F.col("_d_g") - F.col("_d") * F.col("_n_g") / F.col("_n")
            ).alias("_u")
        )
        .orderBy(group)
        .collect()
    )
    # V_gh = Σ_t d(n−d)/(n−1) · (n_g/n)(δ_gh − n_h/n): a self-join of the
    # per-(time, group) table on time gives the (g, h) pairs per time
    a = per.select(
        F.col(time).alias("_t"), F.col(group).alias("_g"),
        F.col("_n_g").alias("_ng"), "_n", "_d",
    )
    b = per.select(
        F.col(time).alias("_t"), F.col(group).alias("_h"),
        F.col("_n_g").alias("_nh"),
    )
    scale = F.when(
        F.col("_n") > 1,
        F.col("_d") * (F.col("_n") - F.col("_d")) / (F.col("_n") - 1.0),
    ).otherwise(0.0)
    v_rows = (
        a.join(b, "_t")
        .select(
            "_g",
            "_h",
            (
                scale
                * (F.col("_ng") / F.col("_n"))
                * (
                    F.when(F.col("_g") == F.col("_h"), 1.0).otherwise(0.0)
                    - F.col("_nh") / F.col("_n")
                )
            ).alias("_v"),
        )
        .groupBy("_g", "_h")
        .agg(F.sum("_v").alias("_v"))
        .collect()
    )
    per.unpersist(blocking=False)
    labels = [r[group] for r in u_rows]
    idx = {g: i for i, g in enumerate(labels)}
    k = len(labels)
    spark = df.sparkSession
    schema = "chi2 double, df long, p_value double"
    if k < 2:
        return spark.createDataFrame([(None, max(k - 1, 0), None)], schema)
    u = np.array([r["_u"] for r in u_rows])
    V = np.zeros((k, k))
    for r in v_rows:
        V[idx[r["_g"]], idx[r["_h"]]] = r["_v"]
    dof = k - 1
    uu, VV = u[:-1], V[:-1, :-1]
    # zero total variance (no events / all-tied removals): undefined,
    # mirror logrank_test's NULL rather than fabricating chi2=0
    if float(np.abs(VV).sum()) <= 0.0:
        return spark.createDataFrame([(None, dof, None)], schema)
    chi2 = float(uu @ np.linalg.pinv(VV) @ uu)
    return spark.createDataFrame(
        [(chi2, dof, _chi2_pvalue(chi2, dof))], schema
    )


def _chi2_pvalue(chi2: float, dof: int) -> float:
    """Upper-tail χ²(dof) p-value: exact at df=1 (two-sided normal tail
    of √chi2, matching :func:`logrank_test` bit-for-bit),
    Wilson-Hilferty normal approximation for df>1."""
    import math

    if dof == 1:
        p = math.erfc(math.sqrt(max(chi2, 0.0)) / math.sqrt(2.0))
    else:
        # Wilson-Hilferty: (chi2/df)^(1/3) ~ N(1 - 2/(9df), 2/(9df))
        h = 2.0 / (9.0 * dof)
        z = ((max(chi2, 0.0) / dof) ** (1.0 / 3.0) - (1.0 - h)) / math.sqrt(h)
        p = 0.5 * math.erfc(z / math.sqrt(2.0))
    return min(p, 1.0)


def _logrank_k_arrays(times, status, groups):
    """Covariance-form k-group log-rank on numpy arrays — the per-cohort
    kernel behind :func:`logrank_test_k_by`, algebraically identical to
    the SQL form in :func:`logrank_test_k` (same u/V sums, same
    pseudo-inverse solve, same degenerate-input NULLs).

    Returns (chi2 | None, dof, p | None)."""
    import numpy as np

    labels = np.unique(groups)
    k = len(labels)
    if k < 2:
        return None, max(k - 1, 0), None
    dof = k - 1
    # event times only (d > 0); n_g(t) = subjects in g with time >= t
    ev_times = np.unique(times[status > 0])
    if len(ev_times) == 0:
        return None, dof, None
    T = len(ev_times)
    d_g = np.zeros((T, k))
    n_g = np.zeros((T, k))
    for j, g in enumerate(labels):
        in_g = groups == g
        tg = np.sort(times[in_g])
        # at-risk: count of times >= t  (searchsorted on the sorted arr)
        n_g[:, j] = len(tg) - np.searchsorted(tg, ev_times, side="left")
        te = np.sort(times[in_g & (status > 0)])
        d_g[:, j] = np.searchsorted(te, ev_times, side="right") - np.searchsorted(
            te, ev_times, side="left"
        )
    n = n_g.sum(axis=1)
    d = d_g.sum(axis=1)
    keep = d > 0
    n_g, d_g, n, d = n_g[keep], d_g[keep], n[keep], d[keep]
    if len(n) == 0:
        return None, dof, None
    p_g = n_g / n[:, None]
    u = (d_g - d[:, None] * p_g).sum(axis=0)
    scale = np.where(n > 1, d * (n - d) / np.maximum(n - 1, 1.0), 0.0)
    # V = Σ_t scale_t · (diag(p_t) − p_t p_tᵀ)
    V = np.einsum("t,tg,gh->gh", scale, p_g, np.eye(k)) - np.einsum(
        "t,tg,th->gh", scale, p_g, p_g
    )
    uu, VV = u[:-1], V[:-1, :-1]
    if float(np.abs(VV).sum()) <= 0.0:
        return None, dof, None
    chi2 = float(uu @ np.linalg.pinv(VV) @ uu)
    return chi2, dof, _chi2_pvalue(chi2, dof)


def logrank_test_k_by(
    df: DataFrame, time: str, status: str, group: str, by: list[str]
) -> DataFrame:
    """Distributed per-cohort k-group log-rank: one χ²(k−1) test per
    ``by``-key (e.g. per gene), all cohorts in ONE grouped job — the
    fan-out :func:`logrank_test_k`'s eager driver-side solve cannot do.

    Execution shape: ``applyInPandas`` over the ``by`` columns — the
    shuffle carries tidy (time, status, group) rows keyed by cohort,
    each Python task receives whole cohorts (one patient table each,
    small by construction: cohort size = study subjects, not corpus
    size) and runs the numpy covariance-form kernel per cohort. A 60k-
    gene sweep is 60k independent k×k solves spread across the cluster;
    no driver loop, no collect. Lazy (plans like any DataFrame op),
    unlike the eager one-cohort form.

    Output: one row per cohort — ``by`` columns + (chi2, df, p_value),
    NULLs for degenerate cohorts (singleton group set, no events, zero
    variance) exactly like the one-cohort form.
    """
    import numpy as np
    import pandas as pd

    by_fields = [df.schema[c] for c in by]
    out_schema = StructType(
        list(by_fields)
        + [
            StructField("chi2", DoubleType()),
            StructField("df", LongType()),
            StructField("p_value", DoubleType()),
        ]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        chi2, dof, p = _logrank_k_arrays(
            pdf[time].to_numpy(dtype=np.float64),
            pdf[status].to_numpy(dtype=np.float64),
            pdf[group].to_numpy(),
        )
        row = {c: [pdf[c].iloc[0]] for c in by}
        row.update({"chi2": [chi2], "df": [dof], "p_value": [p]})
        return pd.DataFrame(row)

    return df.groupBy(*by).applyInPandas(fn, out_schema)
