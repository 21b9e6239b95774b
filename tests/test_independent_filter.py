"""DESeq2 independent filtering (stats.independent_filter_padj) — the
last A6-chain fidelity delta (round-9 verdict item 3): results()'s
default mean-count padj optimization. Goldens are closed-form where the
math admits one (lowess reproduces linear data exactly; flat rejection
curves select no filtering) plus a full numpy differential of the
grid/BH/selection chain against an independent reference recompute."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tcga_query_project_spark.operators.stats import (
    bh_adjust,
    independent_filter_padj,
    r_lowess,
    select_filter_theta,
)


# ---------------------------------------------------------------- lowess


def test_lowess_reproduces_linear_data_exactly():
    # locally weighted LINEAR regression is exact on linear data at any
    # span — the classic lowess identity, a closed-form golden
    x = [i / 49 for i in range(50)]
    y = [3.0 + 2.5 * xi for xi in x]
    fit = r_lowess(x, y, f=1.0 / 5.0)
    assert max(abs(a - b) for a, b in zip(fit, y)) < 1e-9


def test_lowess_constant_series_is_identity():
    x = [float(i) for i in range(20)]
    y = [7.0] * 20
    assert r_lowess(x, y, f=1.0 / 3.0) == pytest.approx(y, abs=1e-12)


def test_lowess_robust_iterations_downweight_outlier():
    # one gross outlier on a NOISY line (the noise matters: on exactly
    # linear data the median residual is ~0, so cmad ~ 0 and both R's
    # lowess and this one break out of robustification — bisquare
    # weights would degenerate to all-zero): the iter=3 fit at the
    # outlier's x must sit far closer to the underlying line than the
    # iter=0 fit
    x = [i / 29 for i in range(30)]
    noise = [0.3 * ((-1) ** i) for i in range(30)]
    y = [1.0 + 2.0 * xi + ni for xi, ni in zip(x, noise)]
    y[15] += 50.0
    smooth = r_lowess(x, y, f=1.0 / 3.0, iters=3)
    rough = r_lowess(x, y, f=1.0 / 3.0, iters=0)
    truth = 1.0 + 2.0 * x[15]
    assert abs(smooth[15] - truth) < 0.2 * abs(rough[15] - truth)
    assert abs(smooth[15] - truth) < 1.0


def test_lowess_degenerate_inputs():
    assert r_lowess([], []) == []
    assert r_lowess([1.0], [5.0]) == [5.0]
    # two points: window is both points, linear fit through them
    assert r_lowess([0.0, 1.0], [0.0, 2.0]) == pytest.approx([0.0, 2.0])


# ------------------------------------------------------------- selection


def test_select_theta_low_counts_pick_no_filtering():
    # DESeq2: max(numRej) <= 10 -> threshold choice unsupported, j = 0
    assert select_filter_theta([0, 3, 5, 7, 9, 10]) == 0


def test_select_theta_flat_curve_picks_first():
    # constant curve: residuals 0 -> thresh == max(fit) -> nothing
    # strictly exceeds it -> first index (filtering buys nothing)
    assert select_filter_theta([40.0] * 50) == 0


def test_select_theta_rising_curve_picks_knee():
    # rejections climb to a plateau: the rule takes the FIRST theta
    # within one residual-RMSE of the smoothed max — at/just before
    # the plateau, never the far end (overfiltering)
    curve = [float(min(100, 4 * i)) for i in range(50)]
    j = select_filter_theta(curve)
    assert 0 < j <= 25
    assert curve[j] > 0.85 * max(curve)


def test_select_theta_noisy_peak_ignores_spike():
    # a spike WITHIN the curve's own noise band must not drag the
    # selection out to its theta: the rmse band admits the earliest
    # point within one residual-RMSE of the smoothed max. (A spike on
    # an otherwise NOISELESS curve is a different story — zero rmse
    # makes any strict maximum the legitimate selection, in DESeq2 as
    # here: it literally maximizes rejections.)
    curve = [50.0 + 5.0 * ((-1) ** i) for i in range(50)]
    curve[40] = 62.0
    j = select_filter_theta(curve)
    assert j < 40


# ------------------------------------------ full operator differential


def _reference_filtered_padj(base_mean, pval, alpha=0.1, n_theta=50):
    """Independent numpy recompute of the DESeq2 chain: type-7 quantile
    grid over tested genes, per-theta BH rejection counts, the shared
    selection rule, final BH over the kept set (NaN elsewhere)."""
    tested = ~np.isnan(pval)
    bm_t, p_t = base_mean[tested], pval[tested]
    lower = float((bm_t == 0).mean())
    upper = 0.95 if lower < 0.95 else 1.0
    thetas = lower + (upper - lower) * np.arange(n_theta) / (n_theta - 1)
    cuts = np.quantile(bm_t, thetas, method="linear")  # R type 7

    def bh(p):
        n = len(p)
        order = np.argsort(p, kind="stable")
        ranked = p[order] * n / np.arange(1, n + 1)
        adj = np.minimum.accumulate(ranked[::-1])[::-1]
        out = np.empty(n)
        out[order] = np.minimum(adj, 1.0)
        return out

    num_rej = []
    for c in cuts:
        keep = bm_t >= c
        num_rej.append(
            int((bh(p_t[keep]) < alpha).sum()) if keep.any() else 0
        )
    j = select_filter_theta([float(v) for v in num_rej])
    cutoff = float(cuts[j])
    padj = np.full(len(base_mean), np.nan)
    kept_mask = tested & (base_mean >= cutoff)
    if kept_mask.any():
        padj[kept_mask] = bh(pval[kept_mask])
    return padj, cutoff, float(thetas[j]), num_rej


def _make_fixture(seed=11, n=400):
    """Genes where filtering genuinely helps: a low-baseMean noise block
    diluting BH and a high-baseMean block with planted signal."""
    rng = np.random.RandomState(seed)
    base_mean = np.concatenate(
        [
            np.zeros(8),  # all-zero genes (NULL p downstream)
            rng.uniform(0.1, 5.0, 250),  # low-count noise
            rng.uniform(50.0, 500.0, n - 258),  # well-measured
        ]
    )
    pval = np.concatenate(
        [
            np.full(8, np.nan),
            rng.uniform(0.0, 1.0, 250),
            # MARGINAL signal p-values (0.005..0.03): with all 392
            # tested genes the BH boundary 0.1*k/392 never catches
            # them (p_(k) grows faster than 0.00025k), but with the
            # 250-gene noise block filtered out the boundary
            # 0.1*k/142 admits the whole signal block — the dilution
            # regime independent filtering exists for (Bourgon 2010)
            np.where(
                rng.uniform(size=n - 258) < 0.4,
                rng.uniform(0.005, 0.03, n - 258),
                rng.uniform(0.0, 1.0, n - 258),
            ),
        ]
    )
    return base_mean, pval


def test_independent_filter_matches_numpy_reference(spark):
    base_mean, pval = _make_fixture()
    rows = [
        (f"g{i:04d}", float(base_mean[i]),
         None if np.isnan(pval[i]) else float(pval[i]))
        for i in range(len(base_mean))
    ]
    df = spark.createDataFrame(
        rows, "gene string, base_mean double, pvalue double"
    )
    out = independent_filter_padj(df, "base_mean", "pvalue").collect()
    got = {r["gene"]: r for r in out}
    want_padj, want_cut, want_theta, num_rej = _reference_filtered_padj(
        base_mean, pval
    )
    # the planted design must actually exercise filtering
    assert want_cut > 0.0 and max(num_rej) > 10
    assert len(out) == len(rows)
    r0 = out[0]
    assert r0["filter_threshold"] == pytest.approx(want_cut, abs=5e-7)
    assert r0["filter_theta"] == pytest.approx(want_theta, abs=5e-7)
    for i in range(len(rows)):
        g = got[f"g{i:04d}"]
        if np.isnan(want_padj[i]):
            assert g["padj"] is None, (i, g["padj"])
        else:
            assert g["padj"] == pytest.approx(want_padj[i], abs=1e-9)


def test_independent_filter_rejects_more_than_plain_bh(spark):
    # the whole point of the procedure (Bourgon et al. 2010): filtering
    # the noise block strictly increases the rejection count
    base_mean, pval = _make_fixture(seed=23)
    rows = [
        (f"g{i:04d}", float(base_mean[i]),
         None if np.isnan(pval[i]) else float(pval[i]))
        for i in range(len(base_mean))
    ]
    df = spark.createDataFrame(
        rows, "gene string, base_mean double, pvalue double"
    )
    filt = independent_filter_padj(df, "base_mean", "pvalue")
    n_filt = filt.filter(F.col("padj") < 0.1).count()
    plain = bh_adjust(
        df.filter(F.col("pvalue").isNotNull()), "pvalue", [], F.col("gene").asc()
    )
    n_plain = plain.filter(F.col("padj") < 0.1).count()
    assert n_filt > n_plain


def test_independent_filter_no_benefit_degrades_to_plain_bh(spark):
    # few genes, few rejections (max <= 10): theta index 0 at the
    # lower quantile -> every tested gene kept -> padj == plain BH
    rng = np.random.RandomState(3)
    rows = [
        (f"g{i}", float(rng.uniform(1, 100)), float(rng.uniform(0, 1)))
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "gene string, base_mean double, pvalue double"
    )
    filt = {
        r["gene"]: r["padj"]
        for r in independent_filter_padj(df, "base_mean", "pvalue").collect()
    }
    plain = {
        r["gene"]: r["padj"]
        for r in bh_adjust(df, "pvalue", [], F.col("gene").asc()).collect()
    }
    assert filt == pytest.approx(plain, abs=1e-12)


def test_independent_filter_null_base_mean_row_survives(spark):
    # a NULL baseMean with a non-NULL p must land in the output with
    # padj NULL (round-10 self-review: a bare `< cutoff` dropped-branch
    # filter is NULL for it, so the row vanished from both branches)
    rng = np.random.RandomState(9)
    rows = [
        (f"g{i}", float(rng.uniform(1, 100)), float(rng.uniform(0, 1)))
        for i in range(40)
    ] + [("g_nullbm", None, 0.001)]
    df = spark.createDataFrame(
        rows, "gene string, base_mean double, pvalue double"
    )
    out = independent_filter_padj(df, "base_mean", "pvalue").collect()
    assert len(out) == 41
    got = {r["gene"]: r["padj"] for r in out}
    assert got["g_nullbm"] is None


def test_independent_filter_empty_and_all_null(spark):
    empty = spark.createDataFrame(
        [], "gene string, base_mean double, pvalue double"
    )
    assert independent_filter_padj(empty, "base_mean", "pvalue").count() == 0
    allnull = spark.createDataFrame(
        [("g1", 5.0, None), ("g2", 7.0, None)],
        "gene string, base_mean double, pvalue double",
    )
    out = independent_filter_padj(allnull, "base_mean", "pvalue").collect()
    assert len(out) == 2 and all(r["padj"] is None for r in out)


def test_pipeline_flag_smoke(spark):
    # differential_expression(independent_filtering=True) end-to-end on
    # a small planted cohort: runs, keeps the metadata columns, and
    # NULL-padj rows are exactly the below-threshold + NULL-p genes
    from tcga_query_project_spark.pipelines.differential_expression import (
        differential_expression,
    )

    rng = np.random.RandomState(5)
    n_genes, n_per_arm = 40, 8
    expr_rows = []
    for gi in range(n_genes):
        lam = 5 if gi < 20 else 80
        for si in range(n_per_arm * 2):
            arm_b = si >= n_per_arm
            boost = 4 if (arm_b and gi >= 30) else 1
            expr_rows.append(
                (f"g{gi:03d}", f"s{si:02d}",
                 float(rng.poisson(lam * boost)))
            )
    expression = spark.createDataFrame(
        expr_rows, "gene_id string, barcode string, count double"
    )
    samples = spark.createDataFrame(
        [(f"s{si:02d}", "A" if si < n_per_arm else "B")
         for si in range(n_per_arm * 2)],
        "barcode string, vital string",
    )
    genes = spark.createDataFrame([("g000",)], "gene_id string")
    out = differential_expression(
        expression, genes, samples, "vital", "A", "B",
        independent_filtering=True,
    )
    rows = out.collect()
    assert len(rows) > 0
    assert "filter_threshold" in out.columns and "p_signif" in out.columns
    thr = rows[0]["filter_threshold"]
    for r in rows:
        if r["padj"] is None:
            assert r["pvalue"] is None or r["base_mean"] < thr
