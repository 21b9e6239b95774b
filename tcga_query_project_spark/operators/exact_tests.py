"""Exact small-sample tests (SURVEY.md §2.4 A4 fallback path).

The SQL Wilcoxon (operators/stats.wilcoxon_rank_sum) uses the normal
approximation — correct for TCGA-sized groups (~hundreds). For small
cohorts the reference's ``compare_means(..., method="wilcox")``
switches to the exact Mann-Whitney U distribution; scipy is not in
this container, so the exact null distribution is computed directly by
the classic dynamic program (count of rank arrangements per U value),
inside an Arrow-batched grouped-map kernel.

Tie-free small samples use the classic Mann-Whitney null DP (matching
R's ``wilcox.test(exact=TRUE)``). TIED small samples — the norm for
TCGA count data — use the exact PERMUTATION distribution of the
midrank sum over all C(n, n_a) group assignments (the distribution
``coin::wilcox_test(distribution="exact")`` computes; base R's
``wilcox.test`` refuses ties and silently falls back to the normal
approximation, which is precisely the gap this path closes). Groups with n_a*n_b above ``max_exact`` OR n_a+n_b
above ``max_exact_n`` fall back to the tie-corrected normal
approximation; the ``method`` column records which path ran
(``exact`` / ``exact-tie-perm`` / ``normal-approx`` / ``degenerate``).
"""

from __future__ import annotations

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

from tcga_query_project_spark.operators.glm import _normal_sf_two_sided

EXACT_SCHEMA = StructType(
    [
        StructField("gene", StringType()),
        StructField("n_a", LongType()),
        StructField("n_b", LongType()),
        StructField("u_stat", DoubleType()),
        StructField("p_value", DoubleType()),
        StructField("method", StringType()),
    ]
)


def _u_null_counts(n1: int, n2: int) -> np.ndarray:
    """Counts of rank arrangements per U value under H0 (no ties):
    ``c[u]`` = number of ways group A attains statistic u.

    Mann-Whitney recurrence (the Gaussian-binomial coefficient DP):
    ``f(u; m, n) = f(u - n; m - 1, n) + f(u; m, n - 1)`` — adding an
    m-th A-observation larger than all n B's contributes n to U, while
    adding an n-th B contributes nothing. Rolling over m keeps memory
    at O(n2 · n1·n2); the inner u-dimension is a vectorized shift-add.

    The null distribution of U is symmetric in (n1, n2) (partition
    transposition: arrangements with U=u for (n1, n2) biject with
    those for (n2, n1)), so the roll runs with the SMALLER size in the
    n2 slot — memory is O(min(n1,n2) · n1·n2), never O(max · n1·n2)
    (a 1-vs-2500 split would otherwise hold 2501 count arrays).
    """
    if n2 > n1:
        n1, n2 = n2, n1
    max_u = n1 * n2
    width = max_u + 1
    # level m-1: one count-array per n in 0..n2
    prev = [np.zeros(width) for _ in range(n2 + 1)]
    for n in range(n2 + 1):
        prev[n][0] = 1.0  # m=0: only u=0
    for _m in range(1, n1 + 1):
        cur = [np.zeros(width) for _ in range(n2 + 1)]
        cur[0][0] = 1.0  # n=0: only u=0
        for n in range(1, n2 + 1):
            shifted = np.zeros(width)
            shifted[n:] = prev[n][: width - n]
            cur[n] = cur[n - 1] + shifted
        prev = cur
    return prev[n2]


def _exact_p_two_sided(u: float, n1: int, n2: int) -> float:
    counts = _u_null_counts(n1, n2)
    total = counts.sum()
    u_int = int(round(u))
    lower = counts[: u_int + 1].sum() / total
    upper = counts[u_int:].sum() / total
    return float(min(1.0, 2.0 * min(lower, upper)))


def _tie_perm_p_two_sided(ranks: np.ndarray, n1: int) -> float:
    """Exact permutation p for the rank-sum statistic on TIED data:
    the null distribution of ``W_A = sum of A's midranks`` over all
    ``C(n, n1)`` equally likely assignments of the observed (tied,
    midranked) pooled values to group A — the subset-sum DP
    ``f[k][s] = #(k-subsets with doubled-midrank sum s)``.

    Midranks are multiples of 0.5, so doubling makes every sum an
    integer index. The two-sided rule is the same doubling of the
    smaller tail the tie-free path uses (``min(1, 2*min(lo, hi))``),
    and on tie-free data this distribution IS the shifted Mann-Whitney
    null, so the two paths agree exactly there.

    The DP always runs over the SMALLER arm: ``W_A = T - W_B`` (T the
    fixed total midrank sum), and the complement bijection between
    k-subsets and (n-k)-subsets mirrors the tails exactly
    (``P(W_A <= w) = P(W_B >= T - w)``), so the two-sided p computed
    from either arm is identical while the table is
    ``(min(n1,n2)+1) x (n(n+1)+1)`` — bounded regardless of how skewed
    the split is (a 2500-vs-1 group would otherwise allocate a
    ~125 GB table; over the 1-arm it is two rows).

    Exactness: counts reach C(n, n/2), above float64's 2^53 integer
    range for n > ~50; accumulated relative error stays ~n²·eps
    (≤ ~1e-11 at the n=200 gate), far below any p-value tolerance —
    the ``exact-tie-perm`` label is exact-to-float64, documented here
    rather than split into a separate method name.
    """
    r2 = np.rint(2.0 * ranks).astype(np.int64)
    n = len(r2)
    max_s = int(r2.sum())
    w_obs = int(np.rint(2.0 * ranks[:n1].sum()))
    k = n1
    if n - k < k:  # run over the smaller (complement) arm
        k = n - k
        w_obs = max_s - w_obs
    f = np.zeros((k + 1, max_s + 1))
    f[0, 0] = 1.0
    for r in r2:
        # k descending so each value is used at most once (0/1 DP)
        for kk in range(k, 0, -1):
            f[kk, r:] += f[kk - 1, : max_s + 1 - r]
    dist = f[k]
    total = dist.sum()
    lower = dist[: w_obs + 1].sum() / total
    upper = dist[w_obs:].sum() / total
    return float(min(1.0, 2.0 * min(lower, upper)))


def _wilcoxon_one_gene(max_exact: int, max_exact_n: int):
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        gene = pdf["gene"].iloc[0]
        a = pdf.loc[pdf["cond"] == "A", "value"].to_numpy(dtype=np.float64)
        b = pdf.loc[pdf["cond"] == "B", "value"].to_numpy(dtype=np.float64)
        n1, n2 = len(a), len(b)
        out = {
            "gene": gene,
            "n_a": n1,
            "n_b": n2,
            "u_stat": np.nan,
            "p_value": np.nan,
            "method": "degenerate",
        }
        if n1 == 0 or n2 == 0:
            return pd.DataFrame([out])
        pooled = np.concatenate([a, b])
        order = np.argsort(pooled, kind="mergesort")
        ranks = np.empty_like(pooled)
        # average ranks for ties
        sorted_vals = pooled[order]
        rank_vals = np.arange(1, len(pooled) + 1, dtype=np.float64)
        i = 0
        while i < len(sorted_vals):
            j = i
            while j + 1 < len(sorted_vals) and sorted_vals[j + 1] == sorted_vals[i]:
                j += 1
            rank_vals[i : j + 1] = rank_vals[i : j + 1].mean()
            i = j + 1
        ranks[order] = rank_vals
        r_a = ranks[:n1].sum()
        u = r_a - n1 * (n1 + 1) / 2.0
        out["u_stat"] = float(u)
        has_ties = len(np.unique(pooled)) < len(pooled)
        # BOTH gates must pass for an exact path: n1*n2 bounds the
        # tie-free U-table width, n1+n2 bounds the tie-perm subset-sum
        # table (n1*n2 alone admits 2500-vs-1 splits whose pooled n
        # makes the midrank DP arbitrarily large).
        small = n1 * n2 <= max_exact and n1 + n2 <= max_exact_n
        if small and not has_ties:
            out["p_value"] = _exact_p_two_sided(u, n1, n2)
            out["method"] = "exact"
        elif small:
            # ties: exact permutation distribution over midranks
            # (ranks is pooled-order = [a..., b...], so [:n1] is A)
            out["p_value"] = _tie_perm_p_two_sided(ranks, n1)
            out["method"] = "exact-tie-perm"
        else:
            n = float(n1 + n2)
            _, tie_counts = np.unique(pooled, return_counts=True)
            tie = float((tie_counts**3 - tie_counts).sum())
            var = n1 * n2 / 12.0 * ((n + 1.0) - tie / (n * (n - 1.0)))
            if var > 0:
                z = (u - n1 * n2 / 2.0) / np.sqrt(var)
                out["p_value"] = float(_normal_sf_two_sided(np.array([z]))[0])
                out["method"] = "normal-approx"
        return pd.DataFrame([out])

    return fn


def wilcoxon_exact(
    df: DataFrame,
    gene: str,
    label: str,
    value: str,
    label_a: str,
    label_b: str,
    max_exact: int = 2_500,
    max_exact_n: int = 200,
) -> DataFrame:
    """A4 exact path: per-gene two-sample Mann-Whitney U with the exact
    null distribution for small samples — the classic U-count DP when
    tie-free, the exact midrank-permutation distribution when tied —
    and the tie-corrected normal approximation above the gate. Exact
    requires BOTH ``n_a*n_b <= max_exact`` (tie-free table width) and
    ``n_a+n_b <= max_exact_n`` (tie-perm table height × width:
    min-arm × n(n+1) doubled-midrank sums — ≤ ~8 MB at the defaults;
    without it a 2500-vs-1 split passes the product gate yet needs a
    ~125 GB table). Same shuffle shape as the SQL variant — one
    grouped-map pass keyed by gene."""
    prepared = df.filter(F.col(label).isin(label_a, label_b)).select(
        F.col(gene).cast("string").alias("gene"),
        F.when(F.col(label) == label_a, "A").otherwise("B").alias("cond"),
        F.col(value).cast("double").alias("value"),
    )
    return prepared.groupBy("gene").applyInPandas(
        _wilcoxon_one_gene(max_exact, max_exact_n), EXACT_SCHEMA
    )
