"""Entry point A — differential-expression pipeline (SURVEY.md §3.1).

Recasts lettercode_DESeq.R / vital_status_DESeq.R (and the two BRCA
pairwise variants) over the long star schema: sample filter → gene
floor (A1) → size factors (A5) → per-gene NB GLM Wald (A6) → BH padj →
significance bins (A9) → goi presentation join (J1/J3) with normalized
counts (A7) → secondary Wilcoxon (A4) joined *explicitly by gene*
(never by sort position — SURVEY.md §7 hard-part #4; the reference's
positional alignment is at vital_status_DESeq.R:132-133).

One lazy DAG, no driver-side loops: every per-gene computation is a
groupBy/window keyed on gene_id, so a 60k-gene × 1.2k-sample cohort and
a 1000× larger one run the same plan with more partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tcga_query_project_spark.functions.scalar import signif_bin
from tcga_query_project_spark.operators import glm, relational, stats


#: the reference's explicit stage order (BRCA_path_stage_DESeq.R:47) —
#: carried as an explicit rank because Spark has no ordered-categorical
#: type and contrast direction / axis order depend on it
#: (SURVEY.md §1.2 factor row; §7 hard-part #3).
STAGE_LEVELS = ["Stage_0", "Stage_I", "Stage_II", "Stage_III", "Stage_IV"]


def normalize_stage_labels(
    samples: DataFrame, col: str = "ajcc_pathologic_stage"
) -> DataFrame:
    """The BRCA stage-cleaning preamble (BRCA_path_stage_DESeq.R:42-47):
    drop null stages (P3), collapse sub-stages by deleting the UPPERCASE
    A/B/C letters (F3 ``gsub("A|B|C","",...)`` — 'Stage' itself is safe,
    its only 'a' is lowercase), space→underscore (F3), drop
    indeterminate ``Stage_X`` (P5), and attach the explicit
    ``stage_rank`` ordering column. Labels outside the reference's level
    list keep rank NULL (the factor() would have made them NA)."""
    cleaned = (
        samples.filter(F.col(col).isNotNull())
        .withColumn(col, F.regexp_replace(F.col(col), "A|B|C", ""))
        .withColumn(col, F.regexp_replace(F.col(col), " ", "_"))
        .filter(F.col(col) != "Stage_X")
    )
    rank = F.lit(None).cast("int")
    for i, level in reversed(list(enumerate(STAGE_LEVELS))):
        rank = F.when(F.col(col) == level, F.lit(i)).otherwise(rank)
    return cleaned.withColumn("stage_rank", rank)


def prepare_cohort(
    expression: DataFrame,
    samples: DataFrame,
    group_col: str,
    levels: list[str],
    min_total: float = 10.0,
) -> DataFrame:
    """Steps 3-4 of §3.1: drop null/foreign group labels
    (P3, ``prep[,!is.na(prep$vital_status)]`` vital_status_DESeq.R:40),
    attach the group label (J1, broadcast), apply the A1 gene floor
    (``rowSums >= 10`` vital_status_DESeq.R:47-48) via aggregate +
    left-semi join back."""
    cohort_samples = samples.filter(
        F.col(group_col).isNotNull() & F.col(group_col).isin(levels)
    ).select("barcode", F.col(group_col).alias("cond"))
    fact = expression.join(F.broadcast(cohort_samples), "barcode")
    keep_genes = (
        fact.groupBy("gene_id")
        .agg(F.sum("count").alias("_tot"))
        .filter(F.col("_tot") >= min_total)
        .select("gene_id")
    )
    return relational.keep_keys(fact, keep_genes, "gene_id")


def differential_expression(
    expression: DataFrame,
    genes: DataFrame,
    samples: DataFrame,
    group_col: str,
    level_a: str,
    level_b: str,
    min_total: float = 10.0,
    independent_filtering: bool = False,
) -> DataFrame:
    """DE results for the contrast level_b vs level_a: one row per gene
    with base_mean, log2_fold_change, pvalue, padj, p_signif —
    the ``results()`` + BH + binning chain
    (vital_status_DESeq.R:89-97).

    ``independent_filtering=True`` enables DESeq2 ``results()``'s
    default mean-count padj optimization
    (:func:`stats.independent_filter_padj` — lowess-selected baseMean
    quantile cutoff, filtered genes padj=NULL, plus the
    ``filter_theta``/``filter_threshold`` metadata columns). The pinned
    driver oracle runs with it OFF (the plain-BH form below); the flag
    is the ``results()`` default-fidelity path."""
    fact = prepare_cohort(
        expression, samples, group_col, [level_a, level_b], min_total
    )
    sf = stats.size_factors(fact, "gene_id", "barcode", "count")
    de = glm.nb_glm_wald(
        fact, "gene_id", "cond", "count", sf, "barcode", level_a, level_b
    )
    if independent_filtering:
        return (
            stats.independent_filter_padj(de, "base_mean", "pvalue")
            .withColumn("p_signif", signif_bin(F.col("padj")))
            .withColumnRenamed("gene", "gene_id")
        )
    # The fit has exactly one consumer: a row-window BH over genes. The
    # distinct-p form (stats.bh_adjust_distinct) saves nothing here —
    # one test per gene, p-values almost all distinct, so its window is
    # as large — and its join back would evaluate the fit a second time.
    return (
        stats.bh_adjust(de, "pvalue", [], F.col("gene").asc())
        .withColumn("p_signif", signif_bin(F.col("padj")))
        .withColumnRenamed("gene", "gene_id")
    )


def pairwise_de(
    expression: DataFrame,
    genes: DataFrame,
    samples: DataFrame,
    group_col: str,
    pairs: list[tuple[str, str]],
    min_total: float = 10.0,
) -> DataFrame:
    """A8/U2: the BRCA pairwise fan-out
    (``results(..., contrast=c(col, A, B))`` × 10 pairs,
    BRCA_path_stage_DESeq.R:113-139) — single-pass: DESeq2 fits the
    model ONCE on the full cohort and extracts contrasts, so here the
    cohort/floor/size-factor stages run once and
    ``glm.nb_glm_wald_pairs`` fits every (gene, pair) contrast in one
    aggregate shuffle. BH adjustment is per contrast
    (``results()`` adjusts within each pair), hence partitioned by
    ``pair``."""
    levels = sorted({lv for p in pairs for lv in p})
    fact = prepare_cohort(expression, samples, group_col, levels, min_total)
    sf = stats.size_factors(fact, "gene_id", "barcode", "count")
    de = glm.nb_glm_wald_pairs(
        fact, "gene_id", "cond", "count", sf, "barcode", pairs
    )
    return (
        stats.bh_adjust(de, "pvalue", ["pair"], F.col("gene").asc())
        .withColumn("p_signif", signif_bin(F.col("padj")))
        .withColumnRenamed("gene", "gene_id")
    )


def goi_counts(
    expression: DataFrame,
    genes: DataFrame,
    samples: DataFrame,
    goi: list[str],
    group_col: str,
) -> DataFrame:
    """Step 7 of §3.1 — the presentation join: normalize (A7 v1), keep
    the genes of interest (J3 semi-join through the broadcast genes dim,
    with F1 toupper on both sides), attach the clinical group (J1), and
    emit the long (gene_name, barcode, cond, normalized) boxplot table.
    In the long schema the reference's transpose (R1) + rename (P2) +
    melt (R3/U1) all vanish."""
    goi_upper = [g.upper() for g in goi]
    goi_dim = genes.filter(F.upper(F.col("gene_name")).isin(goi_upper))
    fact = expression.join(F.broadcast(goi_dim), "gene_id")
    cohort = samples.filter(F.col(group_col).isNotNull()).select(
        "barcode", F.col(group_col).alias("cond")
    )
    # size factors must come from the full (floored) cohort, not the goi
    # subset — mirrors vst on the full matrix (vital_status_DESeq.R:100)
    full = expression.join(F.broadcast(cohort.select("barcode")), "barcode")
    sf = stats.size_factors(full, "gene_id", "barcode", "count")
    normalized = stats.log_normalize(fact, sf, "barcode", "count")
    return normalized.join(F.broadcast(cohort), "barcode").select(
        "gene_name", "barcode", "cond", "count", "normalized"
    )


def wilcoxon_secondary(
    goi_long: DataFrame, level_a: str, level_b: str
) -> DataFrame:
    """Step 8 of §3.1: the grouped Wilcoxon cross-check (A4,
    ``compare_means(counts ~ group, group.by="gene")``
    vital_status_DESeq.R:130), keyed by gene_name — an explicit join
    key for downstream alignment with the DE table."""
    return stats.wilcoxon_rank_sum(
        goi_long, "gene_name", "cond", "normalized", level_a, level_b
    )
