"""A6 NB GLM unit tests (SURVEY.md §5): golden values, and the SQL fit
against the numpy reference fit."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tcga_query_project_spark.operators import glm, stats


def test_poisson_closed_form(spark):
    # With dispersion 0 the NB GLM is Poisson; for a one-factor design
    # with offsets the MLE has a closed form:
    # exp(beta1) = (sum_b y / sum_b sf) / (sum_a y / sum_a sf).
    rows = [
        ("g1", "s1", "A", 10.0), ("g1", "s2", "A", 12.0),
        ("g1", "s3", "B", 40.0), ("g1", "s4", "B", 44.0),
    ]
    fact = spark.createDataFrame(rows, "gene string, sample string, cond string, count double")
    sf = spark.createDataFrame(
        [("s1", 1.0), ("s2", 1.0), ("s3", 1.0), ("s4", 1.0)],
        "sample string, size_factor double",
    )
    out = glm.nb_glm_wald(fact, "gene", "cond", "count", sf, "sample", "A", "B").collect()[0]
    expected_lfc = np.log2(84.0 / 22.0)
    # moment dispersion on this tiny sample may be >0; the group-mean
    # ratio remains the MLE for the saturated one-factor NB model too.
    assert abs(out["log2_fold_change"] - expected_lfc) < 1e-6
    assert out["n_a"] == 2 and out["n_b"] == 2
    assert out["pvalue"] is not None and 0.0 <= out["pvalue"] <= 1.0


def test_size_factor_offsets_shift_lfc(spark):
    # doubling group B's size factors should halve the fold change
    rows = [
        ("g1", "s1", "A", 10.0), ("g1", "s2", "A", 10.0),
        ("g1", "s3", "B", 40.0), ("g1", "s4", "B", 40.0),
    ]
    fact = spark.createDataFrame(rows, "gene string, sample string, cond string, count double")
    sf = spark.createDataFrame(
        [("s1", 1.0), ("s2", 1.0), ("s3", 2.0), ("s4", 2.0)],
        "sample string, size_factor double",
    )
    out = glm.nb_glm_wald(fact, "gene", "cond", "count", sf, "sample", "A", "B").collect()[0]
    assert abs(out["log2_fold_change"] - 1.0) < 1e-6  # 20/10 → log2 = 1


def test_null_gene_large_p_and_de_gene_small_p(spark):
    rng = np.random.default_rng(7)
    rows = []
    for i in range(30):
        rows.append(("null_g", f"a{i}", "A", float(rng.poisson(50))))
        rows.append(("null_g", f"b{i}", "B", float(rng.poisson(50))))
        rows.append(("de_g", f"a{i}", "A", float(rng.poisson(20))))
        rows.append(("de_g", f"b{i}", "B", float(rng.poisson(200))))
    fact = spark.createDataFrame(rows, "gene string, sample string, cond string, count double")
    samples = sorted({r[1] for r in rows})
    sf = spark.createDataFrame([(s, 1.0) for s in samples], "sample string, size_factor double")
    out = {
        r["gene"]: r
        for r in glm.nb_glm_wald(
            fact, "gene", "cond", "count", sf, "sample", "A", "B"
        ).collect()
    }
    assert out["de_g"]["pvalue"] < 1e-8
    assert abs(out["de_g"]["log2_fold_change"] - np.log2(10)) < 0.3
    assert out["null_g"]["pvalue"] > 0.01
    assert abs(out["null_g"]["log2_fold_change"]) < 0.3


def test_degenerate_groups_yield_null_stats(spark):
    # all-zero counts, single-group genes and a level whose counts are
    # all zero (no finite MLE) must not crash the fit: NULL stats in the
    # SQL fit, NaN in the numpy reference
    rows = [
        ("zero", "s1", "A", 0.0), ("zero", "s2", "B", 0.0),
        ("onegrp", "s1", "A", 5.0), ("onegrp", "s2", "A", 7.0),
        ("bzero", "s1", "A", 5.0), ("bzero", "s3", "A", 9.0),
        ("bzero", "s2", "B", 0.0), ("bzero", "s4", "B", 0.0),
    ]
    fact = spark.createDataFrame(rows, "gene string, sample string, cond string, count double")
    sf = spark.createDataFrame(
        [("s1", 1.0), ("s2", 1.0), ("s3", 0.8), ("s4", 1.3)],
        "sample string, size_factor double",
    )
    out = {
        r["gene"]: r
        for r in glm.nb_glm_wald(
            fact, "gene", "cond", "count", sf, "sample", "A", "B"
        ).collect()
    }
    assert out["zero"]["pvalue"] is None
    assert out["onegrp"]["pvalue"] is None
    assert out["bzero"]["log2_fold_change"] is None
    assert out["bzero"]["lfc_se"] is None and out["bzero"]["pvalue"] is None
    assert out["bzero"]["n_a"] == 2 and out["bzero"]["n_b"] == 2
    ref = glm._fit_core(
        np.array([5.0, 9.0, 0.0, 0.0]),
        np.array([0.0, 0.0, 1.0, 1.0]),
        np.array([1.0, 0.8, 1.0, 1.3]),
    )
    assert np.isnan(ref["log2_fold_change"]) and np.isnan(ref["pvalue"])


def _parity_grid(seed: int = 20):
    """Seeded genes covering balanced (6/6) and unbalanced (3/9, 10/2)
    groups, means from mostly-zero counts to hundreds, Poisson and
    overdispersed (α = 0.3, 2.5) draws, no and four-fold effects, over
    24 samples whose size factors span [0.3, 3]. Returns the long rows,
    the size factors and each gene's (y, is_b, s) arrays."""
    rng = np.random.default_rng(seed)
    sf = {f"s{i:02d}": float(v) for i, v in enumerate(rng.uniform(0.3, 3.0, 24))}
    names = sorted(sf)
    rows, genes = [], {}
    for n_a, n_b in ((6, 6), (3, 9), (10, 2)):
        for mean in (0.6, 8.0, 300.0):
            for disp in (0.0, 0.3, 2.5):
                for fold in (1.0, 4.0):
                    g = f"g{len(genes):03d}"
                    smp = [names[i] for i in rng.choice(12, n_a, replace=False)] + [
                        names[12 + i] for i in rng.choice(12, n_b, replace=False)
                    ]
                    ys = []
                    for j, s in enumerate(smp):
                        mu = mean * sf[s] * (fold if j >= n_a else 1.0)
                        lam = mu if disp == 0 else rng.gamma(1 / disp, mu * disp)
                        ys.append(float(rng.poisson(lam)))
                        rows.append((g, s, "A" if j < n_a else "B", ys[-1]))
                    genes[g] = (
                        np.array(ys),
                        np.array([0.0] * n_a + [1.0] * n_b),
                        np.array([sf[s] for s in smp]),
                    )
    return rows, sf, genes


def _newton_steps(y, is_b, s, steps):
    """numpy mirror of glm._newton_log_mean from the Poisson start at
    the moment dispersion: (α, |Δ log q| per level and step), or
    (None, None) when a level has no finite MLE."""
    q = {lv: y[is_b == lv].sum() / s[is_b == lv].sum() for lv in (0.0, 1.0)}
    if min(y[is_b == lv].sum() for lv in (0.0, 1.0)) <= 0:
        return None, None
    mu = s * np.where(is_b == 1.0, q[1.0], q[0.0])
    alpha = max(np.sum((y - mu) ** 2 - mu) / np.sum(mu**2), 0.0)
    moves = np.zeros((2, steps))
    for i, lv in enumerate((0.0, 1.0)):
        yl, sl, b = y[is_b == lv], s[is_b == lv], np.log(q[lv])
        for k in range(steps):
            m = sl * np.exp(b)
            den = 1.0 + alpha * m
            nb = b + np.sum((yl - m) / den) / np.sum(m * (1.0 + alpha * yl) / den**2)
            moves[i, k], b = abs(nb - b), nb
    return alpha, moves


def test_newton_steps_is_smallest_converged_count():
    # NEWTON_STEPS: the last step moves log q by < 1e-12 on every grid
    # gene, and one step fewer would not
    _, _, genes = _parity_grid()
    k = glm.NEWTON_STEPS
    worst, alphas = np.zeros(k), []
    for y, is_b, s in genes.values():
        alpha, moves = _newton_steps(y, is_b, s, k)
        if alpha is None:
            continue
        alphas.append(alpha)
        worst = np.maximum(worst, moves.max(axis=0))
    assert worst[-1] < 1e-12
    assert worst[-2] >= 1e-12
    # the grid spans Poisson (α clamped to 0) and high dispersion
    assert min(alphas) == 0.0 and max(alphas) > 1.0


def test_sql_fit_matches_numpy_reference(spark):
    rows, sf, genes = _parity_grid()
    fact = spark.createDataFrame(rows, "gene string, sample string, cond string, count double")
    sfd = spark.createDataFrame(list(sf.items()), "sample string, size_factor double")
    got = {
        r["gene"]: r
        for r in glm.nb_glm_wald(
            fact, "gene", "cond", "count", sfd, "sample", "A", "B"
        ).collect()
    }
    assert set(got) == set(genes)
    n_null = 0
    for g, (y, is_b, s) in genes.items():
        ref = glm._fit_core(y, is_b, s)
        assert (got[g]["n_a"], got[g]["n_b"]) == (ref["n_a"], ref["n_b"]), g
        assert got[g]["base_mean"] == pytest.approx(ref["base_mean"], rel=1e-12), g
        for k in ("log2_fold_change", "lfc_se", "pvalue"):
            if np.isnan(ref[k]):
                assert got[g][k] is None, (g, k)
                n_null += 1
            else:
                assert got[g][k] == pytest.approx(ref[k], rel=1e-6), (g, k)
    # zero-heavy genes include levels without a finite MLE
    assert n_null > 0


def test_pairs_rows_equal_single_contrast(spark):
    # nb_glm_wald_pairs' X_vs_Y rows are the nb_glm_wald(X, Y) fit on
    # the same fact and size factors (equal up to summation order)
    rng = np.random.default_rng(5)
    sf_rows = [(f"s{i}", float(v)) for i, v in enumerate(rng.uniform(0.5, 2.0, 18))]
    rows = []
    for g in range(8):
        for i, (smp, f) in enumerate(sf_rows):
            lv = "XYZ"[i % 3]
            mu = (5.0 + 20.0 * g) * f * (3.0 if lv == "Z" else 1.0)
            rows.append((f"g{g}", smp, lv, float(rng.poisson(rng.gamma(4.0, mu / 4.0)))))
    fact = spark.createDataFrame(rows, "gene string, sample string, cond string, count double")
    sfd = spark.createDataFrame(sf_rows, "sample string, size_factor double")
    pairs = glm.nb_glm_wald_pairs(
        fact, "gene", "cond", "count", sfd, "sample", [("X", "Y"), ("X", "Z")]
    )
    for a, b in (("X", "Y"), ("X", "Z")):
        single = {
            r["gene"]: r.asDict()
            for r in glm.nb_glm_wald(
                fact, "gene", "cond", "count", sfd, "sample", a, b
            ).collect()
        }
        paired = {
            r["gene"]: r.asDict()
            for r in pairs.filter(F.col("pair") == f"{a}_vs_{b}").collect()
        }
        assert set(paired) == set(single) and len(single) == 8
        for g, want in single.items():
            have = paired[g]
            assert (have["n_a"], have["n_b"]) == (want["n_a"], want["n_b"])
            for k in ("base_mean", "log2_fold_change", "lfc_se", "wald_stat", "pvalue"):
                assert have[k] == pytest.approx(want[k], rel=1e-12, abs=1e-300), (g, k)


def test_independent_filter_rejects_single_point_grid(spark):
    import pytest as _pytest

    from tcga_query_project_spark.operators import stats as sqlstats

    df = spark.createDataFrame(
        [(1.0, 0.01), (2.0, 0.5)], "baseMean double, pvalue double"
    )
    with _pytest.raises(ValueError, match="n_theta"):
        sqlstats.independent_filter_padj(df, "baseMean", "pvalue", n_theta=1)


def test_dispersion_shrinkage_pulls_outliers_toward_trend(spark):
    """A6 v2: the MAP dispersion must sit between the gene-wise MoM
    estimate and the cross-gene trend (shrinkage), pull hardest on the
    most discrepant gene, and leave planted differential signal
    detectable."""
    rng = np.random.default_rng(7)
    rows = []
    n_per = 20
    # 30 well-behaved NB genes (alpha ~ 0.05) + 1 variance outlier
    for g in range(30):
        base = 50.0
        for i in range(n_per):
            cond = "A" if i < n_per // 2 else "B"
            lam = rng.gamma(shape=20.0, scale=base / 20.0)  # alpha=0.05
            rows.append((f"g{g}", f"s{i}", cond, float(rng.poisson(lam))))
    # outlier gene: huge empirical overdispersion by construction
    for i in range(n_per):
        cond = "A" if i < n_per // 2 else "B"
        val = 5.0 if i % 2 == 0 else 200.0
        rows.append(("g_outlier", f"s{i}", cond, val))
    # DE gene: clean 4x fold change
    for i in range(n_per):
        cond = "A" if i < n_per // 2 else "B"
        lam = 40.0 if cond == "A" else 160.0
        rows.append(("g_de", f"s{i}", cond, float(rng.poisson(lam))))
    fact = spark.createDataFrame(
        rows, "gene string, sample string, cond string, cnt double"
    )
    sf = spark.createDataFrame(
        [(f"s{i}", 1.0) for i in range(n_per)], "sample string, size_factor double"
    )
    out = {
        r["gene"]: r
        for r in glm.nb_glm_wald_shrunk(
            fact, "gene", "cond", "cnt", sf, "sample", "A", "B"
        ).collect()
    }
    # near-flat prior ≈ the unshrunk CR-MLE — the reference point: the
    # outlier gene's MAP under a prior variance of 100 (unit size factors)
    y = np.array([5.0 if i % 2 == 0 else 200.0 for i in range(n_per)])
    grp = np.array([0.0 if i < n_per // 2 else 1.0 for i in range(n_per)])
    x = np.column_stack([np.ones_like(grp), grp])
    flat_map = glm._map_dispersion(y, x, np.zeros(n_per), 1.0, 100.0)
    o = out["g_outlier"]
    assert o["dispersion_mom"] > 0.3  # wildly overdispersed gene-wise
    # the prior pulls log-dispersion toward the (low) trend: the tight
    # prior's MAP must sit strictly below the flat prior's, and every
    # estimate stays positive/finite
    assert 0 < o["dispersion_map"] < flat_map
    # with 20 informative samples the pull is modest (DESeq2 likewise
    # lets data dominate at large n) — but it must be a real pull
    assert flat_map / o["dispersion_map"] > 1.02
    ok = [
        out[f"g{g}"]["dispersion_map"]
        for g in range(30)
        if out[f"g{g}"]["dispersion_map"] is not None
        and not np.isnan(out[f"g{g}"]["dispersion_map"])
    ]
    assert len(ok) >= 25
    # planted DE signal survives shrinkage
    assert out["g_de"]["pvalue"] < 1e-6
    assert abs(out["g_de"]["log2_fold_change"] - 2.0) < 0.5


def test_f_quantile_matches_published_tables():
    """qf anchors from published F tables (3-4 significant figures):
    the Cook's cutoff machinery must be numerically trustworthy."""
    assert abs(glm.f_quantile(0.99, 2, 10) - 7.5594) < 2e-3
    assert abs(glm.f_quantile(0.99, 2, 4) - 18.000) < 5e-3
    assert abs(glm.f_quantile(0.95, 2, 10) - 4.1028) < 2e-3
    assert abs(glm.f_quantile(0.99, 1, 1) - 4052.2) < 2.0
    # CDF inverts the quantile
    for p, d1, d2 in [(0.99, 2, 10), (0.9, 3, 7), (0.5, 2, 2)]:
        assert abs(glm.f_cdf(glm.f_quantile(p, d1, d2), d1, d2) - p) < 1e-6


def test_dispersion_trend_refit_excludes_outlier_genes(spark):
    """Iterative trend refit (DESeq2 estimateDispersionsFit loop):
    a few wildly overdispersed genes must stop dragging the trend —
    the converged (a0, a1) land nearer the planted truth than the
    single-pass fit that includes the outliers."""
    a0_true, a1_true = 0.05, 2.0
    rows = []
    rng = np.random.default_rng(3)
    for g in range(60):
        mu = 10.0 + 15.0 * (g % 20)
        alpha = a0_true + a1_true / mu
        rows.append((f"g{g}", float(alpha), float(mu)))
    for g in range(3):  # 100x-trend outliers
        mu = 50.0 + g
        rows.append((f"o{g}", float(100.0 * (a0_true + a1_true / mu)), float(mu)))
    disp = spark.createDataFrame(rows, "gene string, _alpha double, _mu double")
    a0_1, a1_1 = glm.fit_dispersion_trend(disp, max_iter=1)
    a0_r, a1_r = glm.fit_dispersion_trend(disp, max_iter=10)
    err_1 = abs(a0_1 - a0_true) / a0_true + abs(a1_1 - a1_true) / a1_true
    err_r = abs(a0_r - a0_true) / a0_true + abs(a1_r - a1_true) / a1_true
    assert err_r < err_1 / 5  # refit is much closer to the truth
    assert abs(a0_r - a0_true) < 0.01 and abs(a1_r - a1_true) < 0.1


def test_cooks_distance_flags_single_wild_outlier(spark):
    """Cook's gate: one wild count in an otherwise clean gene flags the
    gene (cooks_outlier=1, pvalue withheld); the clean gene passes with
    finite pvalue and sub-threshold max_cooks."""
    rng = np.random.default_rng(5)
    rows = []
    n_per = 12  # 6 per group (>= 3 replicates -> gate active)
    # 20 background NB genes (alpha ~ 0.05) populate the dispersion
    # trend — as in real data, the trend comes from the gene ensemble,
    # and the refit loop excludes the spiked gene's corrupted estimate
    for g in range(20):
        for i in range(n_per):
            cond = "A" if i < n_per // 2 else "B"
            lam = rng.gamma(shape=20.0, scale=60.0 / 20.0)
            rows.append((f"bg{g}", f"s{i}", cond, float(rng.poisson(lam))))
    for g, planted in [("clean", None), ("spiked", (3, 5000.0))]:
        for i in range(n_per):
            cond = "A" if i < n_per // 2 else "B"
            val = float(rng.poisson(60.0))
            if planted and i == planted[0]:
                val = planted[1]
            rows.append((g, f"s{i}", cond, val))
    fact = spark.createDataFrame(
        rows, "gene string, sample string, cond string, cnt double"
    )
    sf = spark.createDataFrame(
        [(f"s{i}", 1.0) for i in range(n_per)], "sample string, size_factor double"
    )
    out = {
        r["gene"]: r
        for r in glm.nb_glm_wald_shrunk(
            fact, "gene", "cond", "cnt", sf, "sample", "A", "B"
        ).collect()
    }
    spiked, clean = out["spiked"], out["clean"]
    assert spiked["cooks_outlier"] == 1
    assert spiked["pvalue"] is None or np.isnan(spiked["pvalue"])  # withheld
    assert spiked["max_cooks"] > glm.f_quantile(0.99, 2.0, float(n_per - 2))
    assert clean["cooks_outlier"] == 0
    assert clean["pvalue"] is not None and not np.isnan(clean["pvalue"])
    assert clean["max_cooks"] < spiked["max_cooks"]


def test_trigamma_matches_known_values():
    """trigamma(1) = pi^2/6; trigamma(0.5) = pi^2/2; recurrence
    consistency trigamma(x) = trigamma(x+1) + 1/x^2."""
    assert abs(glm._trigamma(1.0) - np.pi**2 / 6.0) < 1e-7
    assert abs(glm._trigamma(0.5) - np.pi**2 / 2.0) < 1e-7
    for x in (0.7, 2.3, 5.0, 11.5):
        assert abs(glm._trigamma(x) - (glm._trigamma(x + 1) + 1 / x**2)) < 1e-7


def test_estimated_prior_variance_tracks_residual_spread(spark):
    """dispPriorVar estimation: gene-wise dispersions sitting ON the
    trend give the 0.25 floor (all apparent spread is sampling noise);
    widely scattered dispersions give a prior variance well above the
    floor and above the tight case."""
    import math

    a0, a1 = 0.05, 1.0
    m = 20
    tight = spark.createDataFrame(
        [(a0 + a1 / mu, float(mu), m) for mu in range(10, 110, 2)],
        "_alpha double, _mu double, _m long",
    )
    assert glm.estimate_dispersion_prior_variance(tight, a0, a1) == 0.25
    wide = spark.createDataFrame(
        [
            (
                (a0 + a1 / mu) * math.exp(3.0 * (1 if i % 2 else -1)),
                float(mu),
                m,
            )
            for i, mu in enumerate(range(10, 110, 2))
        ],
        "_alpha double, _mu double, _m long",
    )
    v = glm.estimate_dispersion_prior_variance(wide, a0, a1)
    # residuals are +-3 in log space -> MAD*1.4826 ~ 4.45, var ~ 19.8
    assert v > 5.0


def test_outlier_counts_replaced_and_refit_at_seven_replicates(spark):
    """minReplicatesForReplace semantics: with >= 7 replicates per
    group, a flagged gene's wild count is REPLACED by its group's
    trimmed mean and the fit re-runs — p-value reported (rescued, not
    withheld), n_replaced counts the repair, and the refit LFC lands
    near the clean gene's; with 6 replicates the p stays withheld."""
    rng = np.random.default_rng(11)

    def build(n_per):
        rows = []
        for g in range(20):  # background genes populate the trend
            for i in range(n_per):
                cond = "A" if i < n_per // 2 else "B"
                lam = rng.gamma(shape=20.0, scale=60.0 / 20.0)
                rows.append((f"bg{g}", f"s{i}", cond, float(rng.poisson(lam))))
        for g, planted in [("clean", None), ("spiked", (3, 5000.0))]:
            for i in range(n_per):
                cond = "A" if i < n_per // 2 else "B"
                val = float(rng.poisson(60.0))
                if planted and i == planted[0]:
                    val = planted[1]
                rows.append((g, f"s{i}", cond, val))
        fact = spark.createDataFrame(
            rows, "gene string, sample string, cond string, cnt double"
        )
        sf = spark.createDataFrame(
            [(f"s{i}", 1.0) for i in range(n_per)],
            "sample string, size_factor double",
        )
        return {
            r["gene"]: r
            for r in glm.nb_glm_wald_shrunk(
                fact, "gene", "cond", "cnt", sf, "sample", "A", "B"
            ).collect()
        }

    out16 = build(16)  # 8 per group -> replacement active
    spiked, clean = out16["spiked"], out16["clean"]
    assert spiked["cooks_outlier"] == 1
    assert spiked["n_replaced"] >= 1
    assert spiked["pvalue"] is not None and not np.isnan(spiked["pvalue"])
    # repaired gene: no real signal, LFC near the clean gene's scale
    assert abs(spiked["log2_fold_change"]) < 1.0
    assert clean["n_replaced"] == 0

    out12 = build(12)  # 6 per group -> flag-and-withhold, no repair
    s12 = out12["spiked"]
    assert s12["cooks_outlier"] == 1 and s12["n_replaced"] == 0
    assert s12["pvalue"] is None or np.isnan(s12["pvalue"])
