"""Golden end-to-end pipeline tests (SURVEY.md §5 strategy #3): the
three reference entry points (§3.1-3.3) over the seeded TCGA-shaped
fixtures (FIXTURES.md §A). Fixture generation is deterministic, so the
assertions below are stable goldens on planted signal."""

import pytest
from pyspark.sql import functions as F

from tcga_query_project_spark import fixtures
from tcga_query_project_spark.pipelines import (
    differential_expression as de_pipe,
)
from tcga_query_project_spark.pipelines import survival_analysis as surv_pipe


@pytest.fixture(scope="module")
def tcga(spark):
    t = fixtures.load_fixtures(spark)
    # small tables reused across many tests — cache once
    for df in t.values():
        df.cache().count()
    yield t
    for df in t.values():
        df.unpersist()


def test_de_pipeline_recovers_planted_signal(spark, tcga):
    de = de_pipe.differential_expression(
        tcga["expression"], tcga["genes"], tcga["samples"],
        "short_letter_code", "NT", "TP",
    )
    rows = {r["gene_id"]: r for r in de.collect()}
    # gene 0 = ATAT1, planted 4x up in tumor; gene 1 = HDAC6, 0.3x down
    up = rows["ENSG00000000"]
    down = rows["ENSG00000001"]
    assert up["log2_fold_change"] > 1.0
    assert up["padj"] < 0.01 and up["p_signif"] in ("**", "***", "****")
    assert down["log2_fold_change"] < -0.8
    assert down["padj"] < 0.05
    # the low-count genes (floor) must be filtered out entirely
    assert not any(g >= "ENSG00000050" for g in rows)
    # null-heavy genes keep padj/p_signif null, not dropped silently
    for r in rows.values():
        if r["pvalue"] is None:
            assert r["padj"] is None and r["p_signif"] is None


def test_de_filtered_default_fidelity(spark, tcga):
    """DESeq2 ``results()`` default-fidelity variant (round-10 verdict
    item 4): ``independent_filtering=True`` — the catalog's
    ``tcga_de_filtered`` BENCH_ONLY query. Goldens on planted signal:
    the filtering must keep (and still reject) the planted DE genes,
    report the constant theta/threshold metadata, NULL the padj of
    filtered-out genes rather than dropping rows, and never reject
    FEWER genes than plain BH (the lowess rule maximizes rejections
    over a grid whose low end approximates no filtering)."""
    kw = dict(group_col="short_letter_code", level_a="NT", level_b="TP")
    plain = de_pipe.differential_expression(
        tcga["expression"], tcga["genes"], tcga["samples"], **kw
    )
    filt = de_pipe.differential_expression(
        tcga["expression"], tcga["genes"], tcga["samples"],
        independent_filtering=True, **kw,
    )
    rows = {r["gene_id"]: r for r in filt.collect()}
    plain_rows = {r["gene_id"]: r for r in plain.collect()}
    # same gene universe — filtering NULLs padj, never drops rows
    assert set(rows) == set(plain_rows)
    # constant metadata columns present and single-valued
    thetas = {r["filter_theta"] for r in rows.values()}
    cuts = {r["filter_threshold"] for r in rows.values()}
    assert len(thetas) == 1 and len(cuts) == 1
    assert 0.0 <= thetas.pop() <= 0.95
    # planted signal survives the filter and stays significant
    up, down = rows["ENSG00000000"], rows["ENSG00000001"]
    assert up["padj"] is not None and up["padj"] < 0.01
    assert down["padj"] is not None and down["padj"] < 0.05
    # rejection count at alpha=0.1 is >= the plain-BH count
    alpha = 0.1
    n_rej_f = sum(
        1 for r in rows.values() if r["padj"] is not None and r["padj"] < alpha
    )
    n_rej_p = sum(
        1
        for r in plain_rows.values()
        if r["padj"] is not None and r["padj"] < alpha
    )
    assert n_rej_f >= n_rej_p
    # the kept/dropped split follows the reported threshold (which is
    # rounded to 6 decimals for presentation — allow that slack): every
    # kept gene sits at-or-above it, every dropped tested gene below
    cut = next(iter(cuts)) if cuts else 0.0
    for r in rows.values():
        if r["pvalue"] is not None and r["base_mean"] is not None:
            if r["padj"] is not None:
                assert r["base_mean"] >= cut - 1e-5
            else:
                assert r["base_mean"] <= cut + 1e-5


def test_de_pairwise_stacks_contrasts(spark, tcga):
    out = de_pipe.pairwise_de(
        tcga["expression"], tcga["genes"], tcga["samples"],
        "paper_brca_subtype_pam50",
        [("Normal", "Basal"), ("Normal", "Her2")],
    )
    pairs = {r["pair"] for r in out.select("pair").distinct().collect()}
    assert pairs == {"Normal_vs_Basal", "Normal_vs_Her2"}


def test_goi_counts_and_wilcoxon(spark, tcga):
    goi_long = de_pipe.goi_counts(
        tcga["expression"], tcga["genes"], tcga["samples"],
        ["atat1", "Hdac6", "SIRT2"],  # mixed case → F1 toupper
        "short_letter_code",
    )
    names = {r["gene_name"] for r in goi_long.select("gene_name").distinct().collect()}
    assert names == {"ATAT1", "HDAC6", "SIRT2"}
    wil = de_pipe.wilcoxon_secondary(goi_long, "NT", "TP")
    stats = {r["gene_name"]: r for r in wil.collect()}
    # HDAC6 (unique name) planted 0.3x down: Wilcoxon must detect it.
    # ATAT1 is deliberately diluted — its name maps to TWO gene_ids
    # (FIXTURES.md A2), only one of which carries signal, mirroring the
    # real-TCGA duplicate-symbol quirk the reference's %in% tolerates.
    assert stats["HDAC6"]["p_value"] < 0.05
    assert stats["HDAC6"]["z"] > 0  # NT ranks above TP for a down gene


def test_survival_pipeline_shapes(spark, tcga):
    out = surv_pipe.km_by_median_expression(
        tcga["expression"], tcga["genes"], tcga["samples"], ["ATAT1", "HDAC6"]
    )
    curves = out["curves"].collect()
    assert curves, "KM curves must be non-empty"
    # survival within [0,1] and non-increasing per (gene, stratum)
    by_key = {}
    for r in curves:
        assert 0.0 <= r["survival"] <= 1.0
        by_key.setdefault((r["gene_name"], r["stratum"]), []).append(
            (r["time"], r["survival"])
        )
    for series in by_key.values():
        series.sort()
        surv = [s for _, s in series]
        assert all(a >= b - 1e-12 for a, b in zip(surv, surv[1:]))
    # strata labels only LOW/HIGH for median split
    strata = {r["stratum"] for r in out["strata"].select("stratum").distinct().collect()}
    assert strata == {"LOW", "HIGH"}
    # one logrank row per gene with a valid p
    lr = out["logrank"].collect()
    assert {r["gene_name"] for r in lr} == {"ATAT1", "HDAC6"}
    for r in lr:
        if r["p_value"] is not None:
            assert 0.0 <= r["p_value"] <= 1.0
    # medians: one row per (gene, stratum)
    med = out["medians"].collect()
    assert len(med) == 4


def test_drug_cohort_pipeline(spark, tcga):
    out = surv_pipe.drug_km(
        tcga["expression"], tcga["genes"], tcga["samples"],
        fixtures.DRUG_CLASSES, ["ATAT1"],
    )
    strata = out["strata"].collect()
    assert strata, "drug cohorts must select some treated samples"
    classes = {r["drug_class"] for r in strata}
    assert classes <= set(fixtures.DRUG_CLASSES)
    curves = out["curves"].collect()
    for r in curves:
        assert 0.0 <= r["survival"] <= 1.0
    # cohort-relative normalization: a sample appearing in two cohorts
    # may get different size factors — verify values are per-cohort by
    # checking the normalized table join keys include drug_class
    assert {"drug_class", "gene_name", "stratum"} <= set(out["curves"].columns)


def test_config_tsvs_roundtrip(spark, tmp_path):
    paths = fixtures.write_config_tsvs(str(tmp_path))
    from tcga_query_project_spark.sources.io import read_tsv_config

    genes = read_tsv_config(spark, paths["genes"])
    assert [r[0] for r in genes.collect()] == ["atat1", "Hdac6", "SIRT2"]
    ther = read_tsv_config(spark, paths["therapeutics"], header=True)
    assert ther.columns == ["Taxane", "Anthracycline"]
    assert ther.count() == 3  # ragged row kept, empty cell → null


def test_normalize_stage_labels(spark, tcga):
    out = de_pipe.normalize_stage_labels(tcga["samples"])
    stages = {r["ajcc_pathologic_stage"] for r in out.collect()}
    # raw "Stage IA"/"Stage IIB" collapse; Stage_X and nulls dropped
    assert stages <= {"Stage_I", "Stage_II", "Stage_III", "Stage_IV", "Stage_0"}
    assert "Stage_X" not in stages
    ranks = {
        (r["ajcc_pathologic_stage"], r["stage_rank"]) for r in out.collect()
    }
    for stage, rank in ranks:
        assert rank == de_pipe.STAGE_LEVELS.index(stage)
    # the cleaned labels feed the pairwise fan-out directly
    pw = de_pipe.pairwise_de(
        tcga["expression"], tcga["genes"], out,
        "ajcc_pathologic_stage", [("Stage_I", "Stage_II")],
    )
    assert pw.count() > 0


def test_corpus_clean_dedups_filters_and_classifies(spark):
    """Planted corpus: the duplicate loses to the lower id, the
    too-short and French docs are filtered, the good English doc
    survives with its features."""
    from tcga_query_project_spark.pipelines.corpus_prep import corpus_clean

    good = "the cat and the dog is in the house " + " ".join(
        f"w{i}" for i in range(20)
    )
    rows = [
        (1, good),
        (2, "  " + good.upper() + "  "),          # exact dup of 1 (normalized)
        (3, "short text"),                         # < 10 tokens → length_ok=0
        (4, "le chat et la maison " + " ".join(f"m{i}" for i in range(20))),  # fr
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in corpus_clean(docs).collect()}
    assert set(out) == {1}
    r = out[1]
    assert r["pred_lang"] == "en"
    assert r["n_tokens"] == 29
    assert r["quality_score"] >= 0.4


def test_prepare_training_corpus_end_to_end(spark):
    """Flagship composition: dedup -> quality/lang -> gopher gate ->
    PII scrub -> mixture -> chunk -> pack, on crafted docs where every
    stage has a designated victim/survivor."""
    from tcga_query_project_spark.pipelines.corpus_prep import (
        prepare_training_corpus,
    )

    good = (
        "the quick brown fox jumps over the lazy dog and then it "
        "runs far away to the old stone bridge where it is resting now "
        "while the tired hunter is walking home in quiet evening light"
    )
    rows = [
        (1, good),
        (2, good),  # exact dup of 1 -> dropped (keeper is min id)
        (3, "x1 y2 z3 q4 w5 e6 r7 t8 u9 i10 o11 p12 a13 s14 d15 f16"),  # und
        (4, "the cat sat " * 20 + "and it is done"),  # en but gopher-fail
        (5, "the contact address is admin@example.com and the office "
            "is open now so the team can answer all the questions sent "
            "there every single day without any long delay at all and "
            "visitors may also walk in during normal working hours to "
            "speak with a friendly person about almost any topic they "
            "bring along from billing issues to simple product advice"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = prepare_training_corpus(
        docs, max_tokens=16, shard_budget=40, block_size=2
    ).cache()
    try:
        rows_out = out.collect()
        ids = {r["doc_id"] for r in rows_out}
        assert ids == {1, 5}
        # mixture weight 1.0 for English -> one copy of every kept doc
        for d in (1, 5):
            assert {r["copy_idx"] for r in rows_out if r["doc_id"] == d} == {0}
        # chunking: doc 1 has 36 tokens -> 3 chunks of <=16 per copy
        c1 = sorted(
            (r["copy_idx"], r["chunk_idx"], r["n_tokens"])
            for r in rows_out if r["doc_id"] == 1
        )
        assert [x[2] for x in c1 if x[0] == 0] == [16, 16, 4]
        # PII scrubbed inside chunk payloads
        joined = " ".join(r["chunk"] for r in rows_out if r["doc_id"] == 5)
        assert "<EMAIL>" in joined and "admin@example.com" not in joined
        # packing: cum_tokens strictly increasing in (id, copy, chunk)
        # order and shard = floor(cum_before/budget)
        seq = sorted(
            rows_out,
            key=lambda r: (r["doc_id"], r["copy_idx"], r["chunk_idx"]),
        )
        run = 0
        for r in seq:
            assert r["shard"] == run // 40
            run += r["n_tokens"]
            assert r["cum_tokens"] == run
    finally:
        out.unpersist()


def test_parquet_fixtures_match_in_session_fixtures(spark):
    """The committed fixture parquet (the DuckDB oracle's view of the
    star schema) must hold exactly the rows load_fixtures builds
    in-session — if the generator drifts without re-persisting, the
    pipeline oracles would silently verify stale data."""
    mem = fixtures.load_fixtures(spark)
    pq = fixtures.read_fixtures_parquet(spark)
    for name in ("genes", "samples", "expression"):
        a, b = mem[name], pq[name]
        assert a.columns == b.columns, name
        assert a.count() == b.count(), name
        sym = a.exceptAll(b).count() + b.exceptAll(a).count()
        assert sym == 0, f"{name}: {sym} differing rows"


def test_km_ntile_ordering_is_total_on_fixtures(spark):
    """The drug-KM oracle's hash match relies on the ntile ordering
    (normalized, barcode) being duplicate-free within each pooled
    gene_name partition (two gene_ids share the ATAT1 name): an exact
    tie would make stratum assignment engine-dependent. Assert the
    fixtures keep it total."""
    t = fixtures.read_fixtures_parquet(spark)
    goi = t["genes"].filter(F.upper(F.col("gene_name")) == "ATAT1")
    dup = (
        t["expression"]
        .join(goi, "gene_id")
        .groupBy("gene_name", "barcode", "count")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    assert dup.count() == 0


def test_de_full_composition_differential(spark):
    """Attest the ``tcga_de_full``/``tcga_de_filtered`` COMPOSITION
    end-to-end (``tcga_de_filtered`` is rows-only). R/DESeq2 is not in
    this image, so the golden is an independent driver-side
    re-composition over the committed fixture parquet: cohort filter,
    gene floor, DESeq2 median-of-ratios size factors and BH are
    re-derived here in plain pandas/numpy (separate code path from the
    engine's joins/windows), and the per-gene fit is the numpy IRLS
    reference ``glm._fit_core`` (the engine runs the SQL fit, checked
    against it in test_glm). Any mis-wiring of the
    composition (wrong gene universe after the floor, BH over the
    wrong test set, size factors from the wrong cohort, NULL
    propagation, join key drift) diverges here. Compared on pvalue,
    padj RANK ORDER (tolerance-based) and signif bins per the verdict's
    'done' criterion."""
    import numpy as np
    import pandas as pd

    from tcga_query_project_spark.operators import glm

    t = fixtures.read_fixtures_parquet(spark)
    expr_pd = t["expression"].toPandas()
    samples_pd = t["samples"].toPandas()
    a, b, min_total = "NT", "TP", 10.0

    # ---- independent local re-composition ----------------------------
    samp = samples_pd[samples_pd["short_letter_code"].isin([a, b])]
    cond_of = dict(zip(samp["barcode"], samp["short_letter_code"]))
    fact = expr_pd[expr_pd["barcode"].isin(cond_of)].copy()
    fact["cond"] = fact["barcode"].map(cond_of)
    tot = fact.groupby("gene_id")["count"].sum()
    fact = fact[fact["gene_id"].isin(tot[tot >= min_total].index)]

    # DESeq2 estimateSizeFactors: log-geomean over each all-positive
    # gene; per-sample exp(median(log count - log geomean))
    allpos = fact.groupby("gene_id")["count"].agg(lambda s: bool((s > 0).all()))
    sf_genes = set(allpos[allpos].index)
    sub = fact[fact["gene_id"].isin(sf_genes)]
    geo = (
        np.log(sub["count"].astype(float))
        .groupby(sub["gene_id"].to_numpy())
        .mean()
    )
    lr = pd.Series(
        np.log(sub["count"].astype(float).to_numpy())
        - geo.loc[sub["gene_id"]].to_numpy(),
        index=sub.index,
    )
    sf = np.exp(lr.groupby(sub["barcode"].to_numpy()).median())

    local = {}
    for gid, gdf in fact.groupby("gene_id"):
        local[gid] = glm._fit_core(
            gdf["count"].to_numpy(dtype=np.float64),
            (gdf["cond"] == b).to_numpy(dtype=np.float64),
            sf.loc[gdf["barcode"]].to_numpy(dtype=np.float64),
        )
    genes = sorted(local)
    p = np.array([local[g]["pvalue"] for g in genes])
    mask = np.isfinite(p)
    m = int(mask.sum())
    order = np.argsort(p[mask], kind="mergesort")
    ranked = p[mask][order] * m / (np.arange(m) + 1.0)
    adj = np.minimum(np.minimum.accumulate(ranked[::-1])[::-1], 1.0)
    padj_local = np.full(len(genes), np.nan)
    tmp = np.empty(m)
    tmp[order] = adj
    padj_local[mask] = tmp

    def bin_of(x):
        if not np.isfinite(x):
            return None
        for cut, lab in [(0.05, "ns"), (0.01, "*"), (0.001, "**"),
                         (0.0001, "***")]:
            if x > cut:
                return lab
        return "****"

    # ---- the engine's composed pipelines -----------------------------
    full = {
        r["gene_id"]: r
        for r in de_pipe.differential_expression(
            t["expression"], t["genes"], t["samples"],
            "short_letter_code", a, b,
        ).collect()
    }
    filt = {
        r["gene_id"]: r
        for r in de_pipe.differential_expression(
            t["expression"], t["genes"], t["samples"],
            "short_letter_code", a, b, independent_filtering=True,
        ).collect()
    }

    # same gene universe out of the floor stage, both variants
    assert set(full) == set(genes)
    assert set(filt) == set(genes)
    for i, g in enumerate(genes):
        lp, ep = local[g]["pvalue"], full[g]["pvalue"]
        fp = filt[g]["pvalue"]
        if not np.isfinite(lp):
            assert ep is None and fp is None
            assert full[g]["padj"] is None and full[g]["p_signif"] is None
            continue
        # composition through the Wald stage (cohort+floor+sf+fit): the
        # SQL fit against the numpy reference, independently wired
        assert ep is not None and abs(ep - lp) <= 1e-6 * max(lp, 1e-12), g
        assert fp is not None and abs(fp - lp) <= 1e-6 * max(lp, 1e-12), g
        # BH tail: tolerance-based value match + identical signif bins
        assert abs(full[g]["padj"] - padj_local[i]) <= 1e-6, g
        assert full[g]["p_signif"] == bin_of(padj_local[i]), g
    # padj RANK ORDER: walking genes in local-oracle padj order, the
    # engine's padj must be non-decreasing (up to fp slack) — the
    # verdict's rank-order criterion without tie-order brittleness
    tested = [g for g in genes if np.isfinite(local[g]["pvalue"])]
    by_local = sorted(
        tested, key=lambda g: (padj_local[genes.index(g)], g)
    )
    eng = [full[g]["padj"] for g in by_local]
    assert all(eng[i] <= eng[i + 1] + 1e-9 for i in range(len(eng) - 1))
