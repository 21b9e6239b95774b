"""Single-pass expectation audit: metric values, pass/fail logic,
single-job execution, null/empty edge semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from tcga_query_project_spark.operators import quality_audit as qa


def _df(spark):
    return spark.createDataFrame(
        [
            (1, "en", 10.0, "a@b.com"),
            (2, "en", 55.0, "c@d.org"),
            (3, "fr", 99.0, "not-an-email"),
            (4, None, 200.0, "e@f.net"),
            (4, "de", -5.0, "g@h.io"),  # duplicate id, out-of-range vals
        ],
        "id long, lang string, score double, email string",
    )


def test_metrics_and_verdicts(spark):
    df = _df(spark)
    report = qa.audit(
        df,
        [
            qa.not_null("lang", max_null_frac=0.0),       # fails: 1/5 null
            qa.not_null("score"),                          # passes
            qa.in_range("score", 0.0, 100.0),              # min fails, max fails
            qa.unique("id"),                               # fails: dup 4
            qa.in_set("lang", ["en", "fr", "de"], 0.8),    # passes: 4/5
            qa.row_count(3, 10),                           # passes
        ],
    )
    rows = {(r["check"], r["column"]): r for r in report.collect()}
    assert rows[("not_null", "lang")]["metric"] == 0.2
    assert not rows[("not_null", "lang")]["passed"]
    assert rows[("not_null", "score")]["passed"]
    assert rows[("min_at_least", "score")]["metric"] == -5.0
    assert not rows[("min_at_least", "score")]["passed"]
    assert rows[("max_at_most", "score")]["metric"] == 200.0
    assert not rows[("max_at_most", "score")]["passed"]
    assert rows[("unique", "id")]["metric"] == 0.2
    assert not rows[("unique", "id")]["passed"]
    assert rows[("in_set", "lang")]["metric"] == 0.8
    assert rows[("in_set", "lang")]["passed"]
    assert rows[("row_count_at_least", "*")]["metric"] == 5.0
    assert rows[("row_count_at_least", "*")]["passed"]
    assert not all(r["passed"] for r in rows.values())


def test_clean_batch_passes_gate(spark):
    df = spark.createDataFrame(
        [(1, "en", 10.0), (2, "fr", 20.0)], "id long, lang string, v double"
    )
    report = qa.audit(
        df,
        [
            qa.not_null("lang"),
            qa.unique("id"),
            qa.in_range("v", 0.0, 100.0),
            qa.row_count(1),
        ],
    )
    assert all(r["passed"] for r in report.collect())


def test_empty_batch_fails_not_vanishes(spark):
    """NULL metrics (empty input) must FAIL their checks — an empty
    ingest silently passing the gate is the worst audit outcome."""
    df = spark.createDataFrame([], "id long, v double")
    report = qa.audit(
        df, [qa.in_range("v", 0.0, 1.0), qa.row_count(1)]
    )
    rows = {r["check"]: r for r in report.collect()}
    assert not rows["min_at_least"]["passed"]
    assert not rows["max_at_most"]["passed"]
    assert not rows["row_count_at_least"]["passed"]
    assert not all(r["passed"] for r in rows.values())


def test_single_job_plan(spark):
    """However many checks, the audit is ONE aggregation over one scan
    (no per-check jobs): the physical plan contains exactly one scan
    of the input."""
    df = _df(spark)
    report = qa.audit(
        df,
        [
            qa.not_null("lang"),
            qa.not_null("score"),
            qa.in_range("score", 0, 100),
            qa.in_set("lang", ["en"]),
            qa.row_count(1),
        ],
    )
    plan = report._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") + plan.count("LocalTableScan") == 1


def test_raw_metric_comparison_not_rounded(spark):
    """A violation rate below rounding precision must still FAIL a
    zero-tolerance check — rounding before comparison fails open."""
    n = 4_000_000
    df = spark.range(n).selectExpr(
        "id", "CASE WHEN id = 0 THEN NULL ELSE 'en' END AS lang"
    )
    report = qa.audit(df, [qa.not_null("lang", max_null_frac=0.0)])
    r = report.collect()[0]
    assert r["metric"] == 0.0  # reported metric rounds to 6 decimals
    assert not r["passed"]     # but the verdict sees the raw 2.5e-7
    # duplicate key below rounding precision likewise fails unique()
    dup = spark.range(n).selectExpr("CASE WHEN id = 1 THEN 0 ELSE id END AS id")
    r2 = qa.audit(dup, [qa.unique("id")]).collect()[0]
    assert not r2["passed"]


def test_unique_semantics_nulls_and_empty(spark):
    """unique() measures duplicates over NON-NULL keys (nullability is
    not_null's job) and fails closed — without throwing — on empty."""
    df = spark.createDataFrame([(1,), (2,), (None,)], "id long")
    r = qa.audit(df, [qa.unique("id")]).collect()[0]
    assert r["passed"] and r["metric"] == 0.0  # null is not a duplicate
    dup = spark.createDataFrame([(1,), (1,), (None,)], "id long")
    assert not qa.audit(dup, [qa.unique("id")]).collect()[0]["passed"]
    empty = spark.createDataFrame([], "id long")
    r3 = qa.audit(empty, [qa.unique("id")]).collect()[0]  # no ANSI throw
    assert not r3["passed"]


# =====================================================================
# PSI drift
# =====================================================================


def _psi_map(df):
    return {r["feature"]: r for r in df.collect()}


def test_psi_hand_worked_value(spark):
    """2 categorical bins, shares (0.8, 0.2) vs (0.2, 0.8):
    PSI = (0.8-0.2)ln(0.8/0.2) + (0.2-0.8)ln(0.2/0.8)
        = 1.2 ln 4 = 1.663553."""
    ref = spark.createDataFrame([("a",)] * 8 + [("b",)] * 2, "cat string")
    cur = spark.createDataFrame([("a",)] * 2 + [("b",)] * 8, "cat string")
    got = _psi_map(qa.psi_drift(ref, cur, categorical=["cat"]))["cat"]
    assert got["psi"] == 1.663553
    assert got["n_bins"] == 2
    assert bool(got["drifted"]) is True


def test_psi_planted_numeric_drift_fires_stable_does_not(spark):
    rows_ref = [(float(i % 100), "x" if i % 2 else "y") for i in range(1000)]
    # price distribution shifted up 10x; cat mix unchanged
    rows_cur = [(float(i % 100) * 10, "x" if i % 2 else "y") for i in range(1000)]
    ref = spark.createDataFrame(rows_ref, "price double, cat string")
    cur = spark.createDataFrame(rows_cur, "price double, cat string")
    got = _psi_map(
        qa.psi_drift(
            ref, cur,
            numeric={"price": [50.0, 200.0, 500.0]},
            categorical=["cat"],
        )
    )
    assert bool(got["price"]["drifted"]) is True
    assert got["price"]["psi"] > 0.2
    assert bool(got["cat"]["drifted"]) is False
    assert got["cat"]["psi"] == 0.0


def test_psi_one_sided_bin_uses_epsilon_floor_and_null_bin(spark):
    # 'c' appears only in ref; NULLs bin separately on both sides.
    ref = spark.createDataFrame(
        [("a",), ("a",), ("c",), (None,)], "cat string"
    )
    cur = spark.createDataFrame([("a",), ("a",), (None,), (None,)], "cat string")
    out = _psi_map(qa.psi_drift(ref, cur, categorical=["cat"]))["cat"]
    import math

    assert out["n_bins"] == 3  # a, c, __null__
    assert math.isfinite(out["psi"]) and out["psi"] > 0


def test_psi_empty_reference_side_is_total_and_drifts(spark):
    """An empty ref window must not 0/0-NaN the shares: every ref
    share floors to epsilon -> PSI large -> drifted, deterministically."""
    ref = spark.createDataFrame([], "cat string")
    cur = spark.createDataFrame([("a",), ("b",)], "cat string")
    row = qa.psi_drift(ref, cur, categorical=["cat"]).first()
    import math

    assert math.isfinite(row["psi"]) and row["psi"] > 0.2
    assert bool(row["drifted"]) is True


def test_psi_requires_features(spark):
    import pytest as _pt

    df = spark.range(3)
    with _pt.raises(ValueError):
        qa.psi_drift(df, df)


# ---------------------------------------------------------------------------
# column_profile
# ---------------------------------------------------------------------------


def test_column_profile_hand_worked(spark):
    import math

    from pyspark.sql import functions as F

    from tcga_query_project_spark.operators.quality_audit import (
        column_profile,
    )

    df = spark.createDataFrame(
        [
            ("a", 1, None),
            ("a", 2, None),
            ("b", 2, None),
            ("b", None, None),
            (None, 3, None),
        ],
        "s string, i long, z string",
    )
    got = {
        r["column"]: r
        for r in column_profile(
            df, {"s": F.col("s"), "i": F.col("i"), "z": F.col("z")}
        ).collect()
    }
    # s: 4 non-null of 5; dist a:2 b:2 -> entropy ln2; mode tie a/b ->
    # smallest wins
    s = got["s"]
    assert (s["n"], s["n_null"], s["n_distinct"]) == (5, 1, 2)
    assert s["entropy"] == round(math.log(2), 6)
    assert (s["top_value"], s["top_share"]) == ("a", 0.5)
    # i: dist 1:1 2:2 3:1 -> H = ln4 - (2 ln 2)/4
    i = got["i"]
    assert (i["n"], i["n_null"], i["n_distinct"]) == (5, 1, 3)
    assert i["entropy"] == round(math.log(4) - 2 * math.log(2) / 4, 6)
    assert (i["top_value"], i["top_share"]) == ("2", 0.5)
    # z: all null -> entropy/top undefined, not 0
    z = got["z"]
    assert (z["n"], z["n_null"], z["n_distinct"]) == (5, 5, 0)
    assert z["entropy"] is None and z["top_value"] is None
    assert z["top_share"] is None


def test_column_profile_constant_and_key_columns(spark):
    """Degeneracy signal: a constant column has entropy 0 and
    top_share 1; a unique key column has entropy ln(n)."""
    import math

    from pyspark.sql import functions as F

    from tcga_query_project_spark.operators.quality_audit import (
        column_profile,
    )

    n = 64
    df = spark.range(n).select(
        F.col("id"), F.lit("k").alias("c")
    )
    got = {
        r["column"]: r
        for r in column_profile(
            df, {"id": F.col("id"), "c": F.col("c")}
        ).collect()
    }
    assert got["c"]["entropy"] == 0.0
    assert got["c"]["top_share"] == 1.0
    assert got["id"]["entropy"] == round(math.log(n), 6)
    assert got["id"]["n_distinct"] == n


def test_column_profile_empty(spark):
    from pyspark.sql import functions as F

    from tcga_query_project_spark.operators.quality_audit import (
        column_profile,
    )

    df = spark.createDataFrame([], "s string")
    assert column_profile(df, {"s": F.col("s")}).count() == 0


def test_ks_drift_matches_numpy_ecdf(spark):
    """Differential: the distributed binned-KS statistic equals a
    numpy brute-force ECDF sup-distance over the same integer grid,
    for a planted location shift (fires) and an identical pair (does
    not); one-sided groups are dropped."""
    import numpy as np

    from tcga_query_project_spark.operators.quality_audit import ks_drift

    rng = np.random.default_rng(8)
    shifted_ref = np.round(rng.normal(50, 10, 400), 2)
    shifted_cur = np.round(rng.normal(58, 10, 400), 2)  # location shift
    same_ref = np.round(rng.normal(20, 5, 300), 2)
    same_cur = np.round(rng.normal(20, 5, 300), 2)

    def rows(vals, grp):
        return [(grp, float(v)) for v in vals]

    ref = spark.createDataFrame(
        rows(shifted_ref, "shift") + rows(same_ref, "same")
        + [("only_ref", 1.0)],
        "g string, value double",
    )
    cur = spark.createDataFrame(
        rows(shifted_cur, "shift") + rows(same_cur, "same"),
        "g string, value double",
    )
    got = {r["g"]: r for r in ks_drift(ref, cur, "value", ["g"]).collect()}
    assert set(got) == {"shift", "same"}  # one-sided group dropped

    def brute(a, b):
        ga, gb = np.floor(a), np.floor(b)
        grid = np.unique(np.concatenate([ga, gb]))
        fa = np.searchsorted(np.sort(ga), grid, side="right") / len(ga)
        fb = np.searchsorted(np.sort(gb), grid, side="right") / len(gb)
        return np.abs(fa - fb).max()

    for grp, a, b in [("shift", shifted_ref, shifted_cur),
                      ("same", same_ref, same_cur)]:
        d = brute(a, b)
        crit = 1.358 * np.sqrt((len(a) + len(b)) / (len(a) * len(b)))
        assert got[grp]["d_stat"] == round(float(d), 6), grp
        assert got[grp]["d_crit"] == round(float(crit), 6), grp
        assert got[grp]["drifted"] == (round(d, 6) > round(crit, 6)), grp
    assert got["shift"]["drifted"] is True
    assert got["same"]["drifted"] is False
    assert got["shift"]["n_ref"] == 400 and got["shift"]["n_cur"] == 400


def test_ks_drift_null_values_excluded(spark):
    from tcga_query_project_spark.operators.quality_audit import ks_drift

    ref = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 2.0)], "g string, value double"
    )
    cur = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", None)], "g string, value double"
    )
    row = ks_drift(ref, cur, "value", ["g"]).collect()[0]
    assert row["n_ref"] == 2 and row["n_cur"] == 2
    assert row["d_stat"] == 0.0 and row["drifted"] is False
