"""A6: per-gene negative-binomial GLM with Wald tests.

The reference delegates this to DESeq2's C++ core (``DESeq(data)`` →
``results()``; reference vital_status_DESeq.R:51,89,
BRCA_path_stage_DESeq.R:71,113-122). For the two-level contrast the
design [1, g] is saturated, so the fit splits into one 1-D root per
level with closed-form starts and standard errors: :func:`_nb_wald_sql`
runs it as fused Spark SQL — one aggregate per gene, then a fixed
count of Newton steps in higher-order functions — with no Python
worker. The numpy IRLS (:func:`_fit_core`, :func:`_fit_nb_irls`) stays
as the reference the SQL fit is tested against.

Scope (SURVEY.md §7 "hard parts" #1): v1 (:func:`nb_glm_wald`,
:func:`nb_glm_wald_pairs`) fits the NB GLM with a method-of-moments
per-gene dispersion; v2/v3 (:func:`nb_glm_wald_shrunk`) adds
DESeq2-style empirical-Bayes dispersion shrinkage (gene-wise moments →
iteratively-refit parametric trend with outlier exclusion →
data-estimated prior variance (:func:`estimate_dispersion_prior_variance`)
→ Cox-Reid MAP) and Cook's-distance outlier handling (p-value withheld
past the qf(0.99, p, m−p) cutoff below 7 replicates; trimmed-mean count
replacement + refit at ≥ 7 — DESeq2's minReplicatesForReplace). The
shrunk path's MAP search and Cook's refit still run as a grouped-map
Pandas UDF over the numpy IRLS. All variants use unshrunken MLE log2
fold changes and DESeq2's Wald construction (coefficient / standard
error from the observed information). :func:`poisson_glm_wald` runs the
SQL fit at alpha=0, whose closed-form MLE gives it a plain-SQL
cross-engine oracle (catalog ``a6_poisson_wald``).

Design for 100 TB: the input is the long expression fact table; the
fit shuffles once on the gene key, and the output (one row per gene per
contrast) is dimension-sized. No driver collection, no global state.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tcga_query_project_spark.functions.scalar import NORMAL_SF_TWO_SIDED_SQL

RESULT_SCHEMA = StructType(
    [
        StructField("gene", StringType()),
        StructField("base_mean", DoubleType()),
        StructField("log2_fold_change", DoubleType()),
        StructField("lfc_se", DoubleType()),
        StructField("wald_stat", DoubleType()),
        StructField("pvalue", DoubleType()),
        StructField("n_a", LongType()),
        StructField("n_b", LongType()),
    ]
)

_LN2 = float(np.log(2.0))


def _normal_sf_two_sided(z: np.ndarray) -> np.ndarray:
    """Two-sided standard-normal tail (Abramowitz & Stegun 26.2.17),
    identical polynomial to functions.scalar.normal_sf_two_sided so
    Python-side and SQL-side p-values agree to the approximation's 7.5e-8.
    """
    az = np.abs(z)
    t = 1.0 / (1.0 + 0.2316419 * az)
    poly = t * (
        0.319381530
        + t * (-0.356563782 + t * (1.781477937 + t * (-1.821255978 + t * 1.330274429)))
    )
    pdf = np.exp(-(az * az) / 2.0) / 2.5066282746310002
    return np.minimum(2.0 * pdf * poly, 1.0)


def _fit_nb_irls(
    y: np.ndarray, x: np.ndarray, offset: np.ndarray, alpha: float
) -> tuple[np.ndarray, np.ndarray] | None:
    """IRLS for the NB(mean mu, dispersion alpha) log-link GLM
    ``log mu = X beta + offset`` (var = mu + alpha * mu^2).

    Returns (beta, standard errors) or None if the fit degenerates.
    For alpha=0 this reduces to Poisson IRLS. Working weights
    w = mu / (1 + alpha * mu) are the canonical NB2 GLM weights; at most
    50 iterations.
    """
    n, p = x.shape
    beta = np.zeros(p)
    # moment start: intercept at log of offset-adjusted mean
    mean0 = max(np.mean(y / np.exp(offset)), 1e-8)
    beta[0] = np.log(mean0)
    for _ in range(50):
        eta = x @ beta + offset
        eta = np.clip(eta, -30.0, 30.0)
        mu = np.exp(eta)
        w = mu / (1.0 + alpha * mu)
        z = eta - offset + (y - mu) / mu
        xtw = x.T * w
        try:
            xtwx = xtw @ x
            beta_new = np.linalg.solve(xtwx, xtw @ z)
        except np.linalg.LinAlgError:
            return None
        if not np.all(np.isfinite(beta_new)):
            return None
        if np.max(np.abs(beta_new - beta)) < 1e-8:
            beta = beta_new
            break
        beta = beta_new
    eta = np.clip(x @ beta + offset, -30.0, 30.0)
    mu = np.exp(eta)
    w = mu / (1.0 + alpha * mu)
    try:
        cov = np.linalg.inv((x.T * w) @ x)
    except np.linalg.LinAlgError:
        return None
    se = np.sqrt(np.clip(np.diag(cov), 0.0, np.inf))
    return beta, se


def _moment_dispersion(y: np.ndarray, mu: np.ndarray) -> float:
    """Method-of-moments NB2 dispersion:
    alpha = max(0, (s2 - mean) / mean^2) pooled over fitted means."""
    resid = (y - mu) ** 2 - mu
    denom = np.sum(mu**2)
    if denom <= 0:
        return 0.0
    return float(max(np.sum(resid) / denom, 0.0))


def _fit_core(y: np.ndarray, grp: np.ndarray, sf: np.ndarray) -> dict:
    """Fit one two-level NB contrast; returns the stat fields."""
    n_a = int(np.sum(grp == 0))
    n_b = int(np.sum(grp == 1))
    out = {
        "base_mean": float(np.mean(y / sf)),
        "log2_fold_change": np.nan,
        "lfc_se": np.nan,
        "wald_stat": np.nan,
        "pvalue": np.nan,
        "n_a": n_a,
        "n_b": n_b,
    }
    # a level with no rows or a zero count sum has no finite MLE (its
    # log mean runs to -inf): NULL stats, as in _nb_wald_sql
    if not (np.sum(y[grp == 0]) > 0 and np.sum(y[grp == 1]) > 0):
        return out
    x = np.column_stack([np.ones_like(grp), grp])
    offset = np.log(sf)
    # pass 1: Poisson fit for mu-hat, then moment dispersion, then NB refit
    fit = _fit_nb_irls(y, x, offset, alpha=0.0)
    if fit is None:
        return out
    beta, _ = fit
    mu = np.exp(np.clip(x @ beta + offset, -30.0, 30.0))
    alpha = _moment_dispersion(y, mu)
    fit = _fit_nb_irls(y, x, offset, alpha=alpha)
    if fit is None:
        return out
    beta, se = fit
    if se[1] <= 0 or not np.isfinite(se[1]):
        return out
    wald = beta[1] / se[1]
    out.update(
        log2_fold_change=float(beta[1] / _LN2),
        lfc_se=float(se[1] / _LN2),
        wald_stat=float(wald),
        pvalue=float(_normal_sf_two_sided(np.array([wald]))[0]),
    )
    return out


def _prepare_contrast(
    fact: DataFrame,
    gene: str,
    cond: str,
    value: str,
    size_factors: DataFrame,
    sample: str,
    level_a: str,
    level_b: str,
) -> DataFrame:
    """Shared two-level contrast preparation (v1 and v2): filter to the
    two levels, broadcast-join size factors, normalize column names and
    relabel the condition to A (reference) / B."""
    return (
        fact.filter(F.col(cond).isin(level_a, level_b))
        .join(F.broadcast(size_factors), sample)
        .select(
            F.col(gene).cast("string").alias("gene"),
            F.when(F.col(cond) == level_b, F.lit("B")).otherwise("A").alias("cond"),
            F.col(value).cast("double").alias("count"),
            F.col("size_factor").cast("double"),
        )
    )


#: Newton steps of the per-level mean solve in :func:`_nb_wald_sql`: the
#: smallest count at which the last step moves log q by < 1e-12 on every
#: gene of the parity grid in tests/test_glm.py.
NEWTON_STEPS = 6

# Spark SQL text of the fit's per-level stages ({lv} = a or b).
# ``transform(array(x), v -> ...)[0]`` binds x to v: when Catalyst pushes
# a filter below these projections it inlines each projected column at
# every use, so a stage that used its input k times would copy the whole
# upstream fit k times (a ``pvalue IS NOT NULL`` filter took a second to
# optimize); bound, each stage copies its input once. try_divide turns a
# zero derivative (an empty level, an underflowed μ) into NULL rather
# than an ANSI DIVIDE_BY_ZERO.
#
# Newton in b = log q on Σ (y − s·e^b)/(1 + α·s·e^b) = 0: each step adds
# Σ (y − μ)/(1 + αμ) / Σ μ(1 + αy)/(1 + αμ)².
_NEWTON_SQL = (
    "transform(array(_alpha), a -> aggregate(sequence(1, {k}), _b0_{lv},"
    " (b, i) -> aggregate(_obs_{lv}, named_struct('n', 0D, 'd', 0D),"
    " (acc, o) -> named_struct("
    "'n', acc.n + (o.y - o.s * exp(b)) / (1D + a * o.s * exp(b)),"
    " 'd', acc.d + o.s * exp(b) * (1D + a * o.y)"
    " / ((1D + a * o.s * exp(b)) * (1D + a * o.s * exp(b)))),"
    " acc -> b + try_divide(acc.n, acc.d))))[0] AS _b_{lv}"
)
# W = Σ μ/(1 + αμ) at the fitted mean
_WEIGHT_SQL = (
    "transform(array(exp(_b_{lv})), e -> aggregate(_obs_{lv}, 0D,"
    " (w, o) -> w + o.s * e / (1D + _alpha * o.s * e)))[0]"
)


def _nb_wald_sql(
    prepared: DataFrame, keys: list[str], alpha: float | None = None
) -> DataFrame:
    """The two-level NB GLM Wald fit of :func:`_fit_core`, as Spark SQL.

    ``prepared``: (keys..., cond ∈ {A, B}, count, size_factor). The
    design [1, g] is saturated, so the fit splits per level ``L``:

    - one aggregate per key: Σy, Σs, Σy², Σys, Σs² and the (y, s) list
      of each level;
    - Poisson start ``q_L = Σy/Σs`` (the α = 0 MLE, in closed form);
    - moment dispersion ``α = max(0, Σ((y − μ)² − μ) / Σμ²)`` at the
      Poisson means, from the five sums (``alpha`` pins it instead);
    - ``log q_L`` after :data:`NEWTON_STEPS` Newton steps;
    - ``se(β₁) = sqrt(1/W_A + 1/W_B)`` with ``W_L = Σ μ/(1 + αμ)``, and
      the p-value of ``β₁/se`` from ``NORMAL_SF_TWO_SIDED_SQL``.

    A level with no rows or a zero count sum has no finite MLE: its
    stats are NULL. The stages are separate projections: inlining the
    fit into the aggregate's result expressions duplicates the
    expression tree, which Catalyst then spends seconds optimizing.
    """
    aggs = ["avg(`count` / size_factor) AS base_mean"]
    for lv in ("a", "b"):
        on = f"cond = '{lv.upper()}'"
        aggs += [
            f"count(CASE WHEN {on} THEN 1 END) AS n_{lv}",
            f"collect_list(CASE WHEN {on} THEN"
            f" named_struct('y', `count`, 's', size_factor) END) AS _obs_{lv}",
        ] + [
            f"sum(CASE WHEN {on} THEN {e} END) AS _{name}_{lv}"
            for name, e in (
                ("sy", "`count`"),
                ("ss", "size_factor"),
                ("syy", "`count` * `count`"),
                ("sys", "`count` * size_factor"),
                ("sss", "size_factor * size_factor"),
            )
        ]
    if alpha is None:
        q = {lv: f"try_divide(_sy_{lv}, _ss_{lv})" for lv in ("a", "b")}
        den = " + ".join(f"{q[lv]} * {q[lv]} * _sss_{lv}" for lv in ("a", "b"))
        num = " + ".join(
            f"_syy_{lv} - 2D * {q[lv]} * _sys_{lv} + {q[lv]} * {q[lv]} * _sss_{lv}"
            for lv in ("a", "b")
        )
        alpha_sql = (
            f"CASE WHEN {den} > 0 THEN greatest(({num} - _sy_a - _sy_b) / ({den}), 0D)"
            " ELSE 0D END"
        )
    else:
        alpha_sql = f"CAST({float(alpha)!r} AS DOUBLE)"
    out = [*keys, "base_mean", "n_a", "n_b"]
    fit = (
        prepared.groupBy(*keys)
        .agg(*map(F.expr, aggs))
        .selectExpr(
            *out,
            "_obs_a",
            "_obs_b",
            f"{alpha_sql} AS _alpha",
            *(
                f"CASE WHEN _sy_{lv} > 0 THEN ln(_sy_{lv} / _ss_{lv}) END AS _b0_{lv}"
                for lv in ("a", "b")
            ),
        )
        .selectExpr(
            *out,
            "_obs_a",
            "_obs_b",
            "_alpha",
            *(_NEWTON_SQL.format(lv=lv, k=NEWTON_STEPS) for lv in ("a", "b")),
        )
        .selectExpr(
            *out,
            "_b_b - _b_a AS _beta",
            "sqrt(try_divide(1D, {}) + try_divide(1D, {})) AS _se".format(
                *(_WEIGHT_SQL.format(lv=lv) for lv in ("a", "b"))
            ),
        )
    )
    return fit.selectExpr(
        *keys,
        "base_mean",
        f"_beta / {_LN2!r}D AS log2_fold_change",
        f"_se / {_LN2!r}D AS lfc_se",
        "try_divide(_beta, _se) AS wald_stat",
        "transform(array(try_divide(_beta, _se)), z -> CASE WHEN z IS NOT NULL THEN "
        + NORMAL_SF_TWO_SIDED_SQL.format(z="z")
        + " END)[0] AS pvalue",
        "n_a",
        "n_b",
    )


def nb_glm_wald(
    fact: DataFrame,
    gene: str,
    cond: str,
    value: str,
    size_factors: DataFrame,
    sample: str,
    level_a: str,
    level_b: str,
) -> DataFrame:
    """Per-gene NB GLM Wald contrast level_b vs level_a.

    ``fact``: long expression table (gene, sample, cond, count);
    ``size_factors``: (sample, size_factor) from stats.size_factors —
    broadcast onto the fact, then one shuffle keyed by gene into the
    :func:`_nb_wald_sql` aggregate.
    """
    prepared = _prepare_contrast(
        fact, gene, cond, value, size_factors, sample, level_a, level_b
    )
    return _nb_wald_sql(prepared, ["gene"])


def nb_glm_wald_pairs(
    fact: DataFrame,
    gene: str,
    cond: str,
    value: str,
    size_factors: DataFrame,
    sample: str,
    pairs: list[tuple[str, str]],
) -> DataFrame:
    """A8 at scale: ALL pairwise contrasts in one pass
    (``results(..., contrast=c(col, A, B))`` fan-out,
    BRCA_path_stage_DESeq.R:113-122).

    The pair list becomes a broadcast membership table
    (level → pair, role); joining it replicates each fact row once per
    pair its level participates in (×(levels−1) at worst, not ×pairs),
    then a single ``groupBy(pair, gene)`` aggregate fits every
    contrast — one shuffle of the fact table total, versus one full
    scan+shuffle per pair in the loop formulation. Size factors are
    computed once on the whole cohort, matching DESeq2's fit-once /
    extract-contrasts semantics.
    """
    spark = fact.sparkSession
    memb_rows = []
    for a, b in pairs:
        pair = f"{a}_vs_{b}"
        memb_rows.append((a, pair, "A"))
        memb_rows.append((b, pair, "B"))
    memb = spark.createDataFrame(
        memb_rows, f"{cond} string, pair string, _role string"
    )
    prepared = (
        fact.join(F.broadcast(memb), cond)
        .join(F.broadcast(size_factors), sample)
        .select(
            F.col(gene).cast("string").alias("gene"),
            F.col("pair"),
            F.col("_role").alias("cond"),
            F.col(value).cast("double").alias("count"),
            F.col("size_factor").cast("double"),
        )
    )
    return _nb_wald_sql(prepared, ["pair", "gene"])


# --- A6 v2: dispersion shrinkage (DESeq2's empirical-Bayes recipe) -------

SHRUNK_RESULT_SCHEMA = StructType(
    [
        *RESULT_SCHEMA.fields,
        StructField("dispersion_mom", DoubleType()),
        StructField("dispersion_map", DoubleType()),
        StructField("max_cooks", DoubleType()),
        StructField("cooks_outlier", LongType()),
        StructField("n_replaced", LongType()),
    ]
)


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction for the regularized incomplete beta
    (Lentz's method — the classic numerical recipe; no scipy here)."""
    tiny = 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c, d = 1.0, 1.0 - qab * x / qap
    if abs(d) < tiny:
        d = tiny
    d = 1.0 / d
    h = d
    for m in range(1, 201):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-12:
            break
    return h


def _betai(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b)."""
    import math

    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_front = (
        math.lgamma(a + b)
        - math.lgamma(a)
        - math.lgamma(b)
        + a * math.log(x)
        + b * math.log(1.0 - x)
    )
    front = math.exp(ln_front)
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def f_cdf(x: float, d1: float, d2: float) -> float:
    """F(d1, d2) cumulative distribution via the incomplete beta."""
    if x <= 0.0:
        return 0.0
    return _betai(d1 / 2.0, d2 / 2.0, d1 * x / (d1 * x + d2))


@functools.lru_cache(maxsize=256)
def f_quantile(p: float, d1: float, d2: float) -> float:
    """Upper-quantile inverse of the F(d1, d2) CDF by bisection —
    DESeq2's Cook's-distance cutoff is ``qf(0.99, p, m - p)``.

    lru_cache'd: the per-gene kernel calls this with the SAME (p, d1,
    d2) for every gene of a design (a ~60-iteration bisection whose
    each step runs the Lentz continued fraction), so without the memo a
    60k-gene sweep re-derives one constant tens of thousands of times
    on the executors."""
    lo, hi = 0.0, 1.0
    while f_cdf(hi, d1, d2) < p:
        hi *= 2.0
        if hi > 1e12:
            return hi
    for _ in range(200):
        mid = 0.5 * (lo + hi)
        if f_cdf(mid, d1, d2) < p:
            lo = mid
        else:
            hi = mid
        if hi - lo <= 1e-9 * max(hi, 1.0):
            break
    return 0.5 * (lo + hi)


def _cooks_distances(
    y: np.ndarray, x: np.ndarray, offset: np.ndarray, beta: np.ndarray, alpha: float
) -> np.ndarray:
    """Per-sample Cook's distance for the fitted NB GLM — DESeq2's
    outlier diagnostic: ``r_pearson² / p · h_ii / (1 − h_ii)²`` with
    leverages from the weighted hat matrix H = W^½X(X'WX)⁻¹X'W^½."""
    n, p = x.shape
    mu = np.exp(np.clip(x @ beta + offset, -30.0, 30.0))
    var = mu + alpha * mu * mu
    r2 = (y - mu) ** 2 / np.maximum(var, 1e-300)
    w = mu / (1.0 + alpha * mu)
    try:
        xtwx_inv = np.linalg.inv((x.T * w) @ x)
    except np.linalg.LinAlgError:
        return np.zeros(n)
    h = w * np.einsum("ij,jk,ik->i", x, xtwx_inv, x)
    h = np.clip(h, 0.0, 1.0 - 1e-9)
    return (r2 / p) * h / (1.0 - h) ** 2

_LGAMMA = np.frompyfunc(__import__("math").lgamma, 1, 1)


def _nb_loglik_cr(y: np.ndarray, x: np.ndarray, offset: np.ndarray, alpha: float) -> float:
    """Cox-Reid-adjusted NB2 profile log-likelihood at dispersion
    ``alpha`` (beta profiled out by IRLS). -inf when the fit
    degenerates. The CR term ``-0.5 log det(X'WX)`` is DESeq2's
    adjustment removing the bias from estimating beta."""
    fit = _fit_nb_irls(y, x, offset, alpha=alpha)
    if fit is None:
        return -np.inf
    beta, _ = fit
    mu = np.exp(np.clip(x @ beta + offset, -30.0, 30.0))
    if alpha <= 1e-12:
        ll = float(np.sum(y * np.log(np.maximum(mu, 1e-300)) - mu
                          - _LGAMMA(y + 1.0).astype(np.float64)))
    else:
        k = 1.0 / alpha
        ll = float(
            np.sum(
                _LGAMMA(y + k).astype(np.float64)
                - _LGAMMA(np.full_like(y, k)).astype(np.float64)
                - _LGAMMA(y + 1.0).astype(np.float64)
                + k * np.log(k / (k + mu))
                + y * np.log(np.maximum(mu, 1e-300) / (k + mu))
            )
        )
    w = mu / (1.0 + alpha * mu)
    sign, logdet = np.linalg.slogdet((x.T * w) @ x)
    if sign <= 0:
        return -np.inf
    return ll - 0.5 * float(logdet)


def _map_dispersion(
    y: np.ndarray,
    x: np.ndarray,
    offset: np.ndarray,
    alpha_trend: float,
    prior_sigma2: float,
) -> float:
    """Posterior mode of the dispersion: golden-section maximization of
    ``CR-loglik(alpha) + logNormal(log alpha; log alpha_trend, sigma2)``
    over log alpha in [1e-8, 10] (40 steps) — DESeq2's dispersion MAP
    (log-normal prior centered at the fitted trend)."""
    lo = 1e-8
    la_t = np.log(max(alpha_trend, lo))

    def obj(la: float) -> float:
        return _nb_loglik_cr(y, x, offset, float(np.exp(la))) - (
            (la - la_t) ** 2
        ) / (2.0 * prior_sigma2)

    gr = (np.sqrt(5.0) - 1.0) / 2.0
    a, b = np.log(lo), np.log(10.0)
    c, d = b - gr * (b - a), a + gr * (b - a)
    fc, fd = obj(c), obj(d)
    for _ in range(40):
        if fc >= fd:
            b, d, fd = d, c, fc
            c = b - gr * (b - a)
            fc = obj(c)
        else:
            a, c, fc = c, d, fd
            d = a + gr * (b - a)
            fd = obj(d)
    return float(np.exp((a + b) / 2.0))


def _fit_core_shrunk(
    y: np.ndarray,
    grp: np.ndarray,
    sf: np.ndarray,
    a0: float,
    a1: float,
    prior_sigma2: float,
) -> dict:
    """Two-level NB contrast with MAP-shrunk dispersion and Cook's
    outlier flagging.

    Single fit chain (no redundant IRLS passes): Poisson fit for mu-hat
    → MoM dispersion (reported) → MAP dispersion → final IRLS at
    alpha_MAP → Cook's distances at the final fit. Contract:
    ``dispersion_map`` is non-NaN ONLY when the reported statistics
    were computed at that dispersion; if the MAP refit degenerates the
    row falls back to the MoM fit and ``dispersion_map`` stays NaN so
    consumers can tell.

    Cook's gate (DESeq2 semantics): a gene whose max per-sample Cook's
    distance exceeds ``qf(0.99, p, m − p)`` has ``cooks_outlier = 1``
    and its ``pvalue`` set to NaN — but only when BOTH groups have ≥ 3
    replicates (below that, one sample legitimately dominates its
    group's mean and the diagnostic is uninformative — DESeq2 skips the
    filter there too). Deliberate divergence: the distances are
    evaluated at the cross-gene TREND dispersion, not the gene's own
    MAP — a single corrupting count inflates the gene-wise dispersion
    estimate enough to deflate its own Pearson residual below any
    cutoff (self-masking; measured: max Cook's 4.7 at the MAP vs 2300
    at the trend for a 5000-in-a-sea-of-60 spike). DESeq2 escapes that
    circularity with a data-estimated (usually much tighter) prior
    variance; with this module's fixed-floor prior the trend is the
    robust scale (the estimated prior,
    :func:`estimate_dispersion_prior_variance`, narrows it further).

    Outlier REPLACEMENT (DESeq2's minReplicatesForReplace):
    when a gene is flagged AND both groups have ≥ 7 replicates, the
    flagged counts are replaced by their group's 20%-trimmed mean of
    normalized counts re-scaled by the sample's size factor, and the
    whole chain (MoM → MAP at the same trend → IRLS → Wald) re-runs on
    the repaired counts — the refit p-value IS reported (DESeq2
    semantics: with that many replicates the gene is rescued, not
    discarded), ``cooks_outlier`` stays 1 and ``n_replaced`` records
    how many counts were repaired. Below 7 replicates the gene is
    flagged-and-withheld exactly as before."""
    n_a = int(np.sum(grp == 0))
    n_b = int(np.sum(grp == 1))
    out = {
        "base_mean": float(np.mean(y / sf)),
        "log2_fold_change": np.nan,
        "lfc_se": np.nan,
        "wald_stat": np.nan,
        "pvalue": np.nan,
        "n_a": n_a,
        "n_b": n_b,
        "dispersion_mom": np.nan,
        "dispersion_map": np.nan,
        "max_cooks": np.nan,
        "cooks_outlier": 0,
        "n_replaced": 0,
    }
    if n_a == 0 or n_b == 0 or np.all(y == 0):
        return out
    x = np.column_stack([np.ones_like(grp), grp])
    offset = np.log(sf)
    fit0 = _fit_nb_irls(y, x, offset, alpha=0.0)
    if fit0 is None:
        return out
    mu0 = np.exp(np.clip(x @ fit0[0] + offset, -30.0, 30.0))
    alpha_mom = _moment_dispersion(y, mu0)
    out["dispersion_mom"] = float(alpha_mom)
    base_q = float(np.mean(y / sf))
    alpha_trend = max(a0 + (a1 / base_q if base_q > 0 else 0.0), 1e-8)
    alpha_map = _map_dispersion(y, x, offset, alpha_trend, prior_sigma2)

    def _finish(alpha: float) -> np.ndarray | None:
        fit = _fit_nb_irls(y, x, offset, alpha=alpha)
        if fit is None:
            return None
        beta, se = fit
        if se[1] <= 0 or not np.isfinite(se[1]):
            return None
        wald = beta[1] / se[1]
        out.update(
            log2_fold_change=float(beta[1] / _LN2),
            lfc_se=float(se[1] / _LN2),
            wald_stat=float(wald),
            pvalue=float(_normal_sf_two_sided(np.array([wald]))[0]),
        )
        return beta

    beta = _finish(alpha_map)
    if beta is not None:
        out["dispersion_map"] = float(alpha_map)
    else:
        beta = _finish(alpha_mom)  # fallback: stats at MoM, map NaN
    if beta is not None:
        n, p = x.shape
        # trend dispersion, not the gene's own (see docstring: a wild
        # count inflates the gene-wise estimate and masks itself)
        cooks = _cooks_distances(y, x, offset, beta, alpha_trend)
        out["max_cooks"] = float(np.max(cooks))
        if min(n_a, n_b) >= 3 and n > p:
            cutoff = f_quantile(0.99, float(p), float(n - p))
            if out["max_cooks"] > cutoff:
                out["cooks_outlier"] = 1
                out["pvalue"] = np.nan
                if min(n_a, n_b) >= 7:
                    flagged = cooks > cutoff
                    y2 = y.astype(np.float64).copy()
                    for g in (0, 1):
                        in_g = grp == g
                        repl = flagged & in_g
                        if not np.any(repl):
                            continue
                        q = np.sort(y[in_g] / sf[in_g])
                        t = int(np.floor(0.2 * len(q)))
                        trimmed = (
                            q[t : len(q) - t] if len(q) - 2 * t > 0 else q
                        )
                        y2[repl] = np.round(float(np.mean(trimmed)) * sf[repl])
                    out["n_replaced"] = int(np.sum(flagged))
                    fit_r = _fit_nb_irls(y2, x, offset, alpha=0.0)
                    if fit_r is not None:
                        mu_r = np.exp(
                            np.clip(x @ fit_r[0] + offset, -30.0, 30.0)
                        )
                        out["dispersion_mom"] = float(
                            _moment_dispersion(y2, mu_r)
                        )
                        alpha_map_r = _map_dispersion(
                            y2, x, offset, alpha_trend, prior_sigma2
                        )
                        fit2 = _fit_nb_irls(y2, x, offset, alpha=alpha_map_r)
                        if fit2 is not None and fit2[1][1] > 0 and np.isfinite(
                            fit2[1][1]
                        ):
                            b2, se2 = fit2
                            wald2 = b2[1] / se2[1]
                            out.update(
                                base_mean=float(np.mean(y2 / sf)),
                                log2_fold_change=float(b2[1] / _LN2),
                                lfc_se=float(se2[1] / _LN2),
                                wald_stat=float(wald2),
                                pvalue=float(
                                    _normal_sf_two_sided(np.array([wald2]))[0]
                                ),
                                dispersion_map=float(alpha_map_r),
                            )
    return out


def _trigamma(x: float) -> float:
    """ψ'(x) via the ascending recurrence + asymptotic series (no
    scipy): trigamma(x) = trigamma(x+1) + 1/x²; for x ≥ 6 the
    Bernoulli-number series is accurate to ~1e-12."""
    acc = 0.0
    while x < 6.0:
        acc += 1.0 / (x * x)
        x += 1.0
    inv = 1.0 / x
    inv2 = inv * inv
    return acc + inv * (
        1.0
        + inv / 2.0
        + inv2 * (1.0 / 6.0 - inv2 * (1.0 / 30.0 - inv2 / 42.0))
    )


def estimate_dispersion_prior_variance(
    disp: DataFrame,
    a0: float,
    a1: float,
) -> float:
    """DESeq2's dispPriorVar estimate (estimateDispersionsMAP): the
    robust variance of log gene-wise dispersions around the fitted
    trend — ``(1.4826 · MAD(log α_gene − log trend(μ_gene)))²`` —
    minus the EXPECTED sampling variance of a log dispersion estimate,
    ``trigamma((m − p)/2)`` (m = per-gene sample count, median across
    genes; p = 2 design columns), floored at 0.25 as in DESeq2.
    Subtracting the sampling noise leaves only the true biological
    spread: with few replicates the gene-wise estimates
    scatter widely even when every gene sits ON the trend, and a prior
    as wide as that scatter would barely shrink at all.

    Input contract: the dimension-sized per-gene ``(_alpha, _mu, _m)``
    table (caller persists it); two tiny exact-percentile aggregates,
    eager floats out.
    """
    lr = F.log(F.col("_alpha")) - F.log(
        F.lit(a0) + F.lit(a1) / F.col("_mu")
    )
    first = disp.agg(
        F.percentile(lr, F.lit(0.5)).alias("med"),
        F.percentile(F.col("_m"), F.lit(0.5)).alias("m_med"),
    ).first()
    if first is None or first["med"] is None:
        return 0.25
    med, m_med = float(first["med"]), float(first["m_med"] or 4)
    mad_row = disp.agg(
        F.percentile(F.abs(lr - F.lit(med)), F.lit(0.5)).alias("mad")
    ).first()
    if mad_row is None or mad_row["mad"] is None:
        return 0.25
    s2 = (1.4826 * float(mad_row["mad"])) ** 2
    return max(s2 - _trigamma(max((m_med - 2) / 2.0, 0.51)), 0.25)


def fit_dispersion_trend(
    disp: DataFrame,
    max_iter: int = 10,
) -> tuple[float, float]:
    """Iteratively-refit parametric dispersion trend
    ``alpha(mu) = a0 + a1/mu`` over a per-gene ``(_alpha, _mu)`` table —
    DESeq2's estimateDispersionsFit loop: fit, drop genes whose
    gene-wise dispersion deviates from the current trend by more than
    15× (or below 1e-4×, the all-but-Poisson floor), refit until the
    coefficients move < 1e-3 relatively. The first
    pass uses every gene (the previous single-pass behavior ==
    ``max_iter=1``); high-dispersion outlier genes then stop dragging
    the trend every other gene's prior is centered on.

    Input contract: dimension-sized (one row per gene, two doubles) —
    each iteration is one tiny Spark aggregate with the current (a0,
    a1) as literals; the caller should persist ``disp`` across the
    loop. Eager: returns plain floats.
    """

    def _sums_to_coeffs(
        sums, prev: tuple[float, float] | None
    ) -> tuple[float, float] | None:
        n, sx, sy, sxy, sxx = (
            sums["n"], sums["sx"], sums["sy"], sums["sxy"], sums["sxx"]
        )
        if not n:
            return None
        if n * sxx - sx * sx > 0:
            a1 = max((n * sxy - sx * sy) / (n * sxx - sx * sx), 0.0)
            a0 = max(sy / n - a1 * sx / n, 1e-8)
            return a0, a1
        return (max(sy / n, 1e-8), 0.0) if prev is None else prev

    agg_cols = [
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("_x").alias("sx"),
        F.sum("_y").alias("sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
    ]
    xy = disp.select(
        (1.0 / F.col("_mu")).alias("_x"), F.col("_alpha").alias("_y")
    )
    coeffs = _sums_to_coeffs(xy.agg(*agg_cols).first(), None)
    if coeffs is None:
        return 1e-2, 0.0
    for _ in range(max_iter - 1):
        a0, a1 = coeffs
        trend = F.lit(a0) + F.lit(a1) * F.col("_x")
        kept = xy.filter(
            (F.col("_y") / trend > 1e-4) & (F.col("_y") / trend < 15.0)
        )
        new = _sums_to_coeffs(kept.agg(*agg_cols).first(), coeffs)
        if new is None:
            break
        if (
            abs(new[0] - a0) <= 1e-3 * max(a0, 1e-8)
            and abs(new[1] - a1) <= 1e-3 * max(a1, 1e-8)
        ):
            coeffs = new
            break
        coeffs = new
    return coeffs


def nb_glm_wald_shrunk(
    fact: DataFrame,
    gene: str,
    cond: str,
    value: str,
    size_factors: DataFrame,
    sample: str,
    level_a: str,
    level_b: str,
) -> DataFrame:
    """A6 v2: per-gene NB GLM Wald contrast with DESeq2-style
    empirical-Bayes dispersion shrinkage (``DESeq()``'s
    estimateDispersions chain, vital_status_DESeq.R:51) — the
    documented v1 divergence (no shrinkage) closed to a simplified but
    principled form:

    1. gene-wise dispersions: SQL aggregates of per-(gene, condition)
       moments of size-factor-normalized counts, combined within-group
       (design-aware — between-condition fold changes do NOT count as
       dispersion; no Python, one shuffle);
    2. parametric trend ``alpha(mu) = a0 + a1/mu`` — iteratively refit
       with outlier exclusion (:func:`fit_dispersion_trend`, DESeq2's
       estimateDispersionsFit loop: genes > 15× or < 1e-4× off the
       current trend are dropped and the trend refit to convergence);
       the per-gene (alpha, mu) table is dimension-sized and persisted
       across the loop's tiny aggregates;
    3. per-gene MAP dispersion — golden-section maximization of the
       Cox-Reid-adjusted profile likelihood plus a log-normal prior
       centered at the trend — then IRLS at alpha_MAP, Wald stats, and
       Cook's distances (grouped-map applyInPandas, one shuffle keyed
       by gene). Genes with ≥ 3 replicates per group whose max Cook's
       distance exceeds ``qf(0.99, p, m − p)`` are flagged
       (``cooks_outlier = 1``) and their p-value withheld (NaN) —
       DESeq2's outlier gate.

    Two DESeq2 refinements over the plain MAP fit: the prior variance
    is ESTIMATED from the data (:func:`estimate_dispersion_prior_variance`
    — MAD²-around-trend minus trigamma sampling noise, floored at 0.25,
    DESeq2's dispPriorVar), and flagged genes
    with ≥ 7 replicates per group get their outlier counts REPLACED by
    group trimmed means and the fit re-run (minReplicatesForReplace
    semantics — the refit p-value is reported, ``n_replaced`` counts
    repairs). Output adds dispersion_mom / dispersion_map / max_cooks /
    cooks_outlier / n_replaced so shrinkage, the gate and the repair
    are all observable.

    Eager contract: phases 1-2 run Spark jobs at call time (like
    stats.vst_fitted) so the trend coefficients embed as literals in
    the returned plan.
    """
    prepared = _prepare_contrast(
        fact, gene, cond, value, size_factors, sample, level_a, level_b
    )
    # Design-aware gene-wise dispersions for the trend: moments are
    # computed WITHIN each condition and combined, so a true fold change
    # between A and B does not masquerade as overdispersion (pooled
    # var_samp would absorb the between-group term — with many DE genes
    # that inflates the trend and over-disperses every gene's prior).
    q = F.col("count") / F.col("size_factor")
    per_gc = prepared.groupBy("gene", "cond").agg(
        F.count(F.lit(1)).cast("double").alias("_n_g"),
        F.avg(q).alias("_mu_g"),
        F.var_samp(q).alias("_s2_g"),
        F.avg(1.0 / F.col("size_factor")).alias("_xi_g"),
    )
    wgt = F.when(F.col("_n_g") > 1, F.col("_n_g") - 1.0).otherwise(0.0)
    per_gene = per_gc.groupBy("gene").agg(
        F.sum(
            wgt * (F.coalesce(F.col("_s2_g"), F.lit(0.0))
                   - F.col("_mu_g") * F.col("_xi_g"))
        ).alias("_num"),
        F.sum(wgt * F.col("_mu_g") * F.col("_mu_g")).alias("_den"),
        (
            F.sum(F.col("_n_g") * F.col("_mu_g")) / F.sum("_n_g")
        ).alias("_mu"),
        F.sum("_n_g").alias("_m"),
    )
    disp = per_gene.select(
        F.greatest(F.col("_num") / F.col("_den"), F.lit(0.0)).alias("_alpha"),
        F.col("_mu"),
        F.col("_m"),
    ).filter(
        (F.col("_den") > 0) & (F.col("_mu") > 0) & (F.col("_alpha") > 0)
    )
    # dimension-sized (one row per gene); persisted across the trend
    # loop's aggregates, released before the heavy per-gene stage.
    from pyspark import StorageLevel

    disp = disp.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        a0, a1 = fit_dispersion_trend(disp)
        prior_sigma2 = estimate_dispersion_prior_variance(disp, a0, a1)
    finally:
        disp.unpersist(blocking=False)

    def fit_one(pdf: pd.DataFrame) -> pd.DataFrame:
        out = _fit_core_shrunk(
            pdf["count"].to_numpy(dtype=np.float64),
            (pdf["cond"] == "B").to_numpy(dtype=np.float64),
            pdf["size_factor"].to_numpy(dtype=np.float64),
            a0,
            a1,
            prior_sigma2,
        )
        out["gene"] = pdf["gene"].iloc[0]
        return pd.DataFrame([out])

    return prepared.groupBy("gene").applyInPandas(fit_one, SHRUNK_RESULT_SCHEMA)


def poisson_glm_wald(
    fact: DataFrame,
    gene: str,
    cond: str,
    value: str,
    size_factors: DataFrame,
    sample: str,
    level_a: str,
    level_b: str,
) -> DataFrame:
    """Per-gene POISSON (alpha = 0) GLM Wald contrast — the
    closed-form-verifiable member of the GLM family: the log-link
    two-group Poisson MLE is ``beta1 = ln((Σ_B y/Σ_B s)/(Σ_A y/Σ_A s))``
    with ``se = sqrt(1/Σ_A y + 1/Σ_B y)``. It runs :func:`_nb_wald_sql`
    with α pinned to 0, so the Newton solve starts at its own root and
    the plain-SQL DuckDB oracle (catalog ``a6_poisson_wald``) checks
    the fit's aggregate, weights and p-value end to end.

    A gene with a zero-sum group has no finite MLE and gets NULL
    stats; the catalog query excludes such genes on both sides.
    """
    prepared = _prepare_contrast(
        fact, gene, cond, value, size_factors, sample, level_a, level_b
    )
    return _nb_wald_sql(prepared, ["gene"], alpha=0.0)
