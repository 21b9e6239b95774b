"""Entry points B & C — survival pipelines (SURVEY.md §3.2-3.3).

B (surv_analysis_median_exp.R): KM-table construction (cast F8, derived
status/time F5/F6, null filters P3) → normalize (A5+A7) → goi join (J3)
→ per-gene median-split strata (W1/P9) → KM curves + Greenwood (W2/W5),
median survival (W4), log-rank (W3).

C (drug_km_median_exp.R): the same tail, restricted per drug-class
cohort selected through the nested ``treatments`` column (P6 exists-
predicate → F4 participant substring → P7 semi-join), with
**cohort-relative** size factors (recomputed inside each cohort —
semantically load-bearing, SURVEY.md §7 hard-part #6, reference
drug_km_median_exp.R:61-68).

The reference's per-gene (and per-drug) R loops disappear: strata,
curves and tests are windowed by (drug_class, gene_name, stratum), so
every gene and cohort is computed in one pass over the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tcga_query_project_spark.operators import nested, stats, survival


def km_table(samples: DataFrame) -> DataFrame:
    """§3.2 step 3: project the three clinical columns (P1), cast the
    string-typed day counts (F8, surv_analysis_median_exp.R:109),
    derive ``status`` (F5: Alive→0/censored, Dead→1/event; the
    reference codes 1/2, surv_analysis_median_exp.R:110) and ``time``
    (F6 column-switch: followup for the living, days_to_death
    otherwise, :111-113), then drop rows with null time/status
    (P3, :114-117)."""
    km = samples.select(
        "barcode",
        "submitter_id",
        F.col("vital_status"),
        F.col("days_to_death").cast("double").alias("_death"),
        F.col("paper_days_to_last_followup").cast("double").alias("_follow"),
    ).select(
        "barcode",
        "submitter_id",
        F.when(F.col("vital_status") == "Alive", 0)
        .when(F.col("vital_status") == "Dead", 1)
        .alias("status"),
        F.when(F.col("vital_status") == "Alive", F.col("_follow"))
        .otherwise(F.col("_death"))
        .alias("time"),
    )
    return km.filter(F.col("status").isNotNull() & F.col("time").isNotNull())


def goi_normalized(
    expression: DataFrame,
    genes: DataFrame,
    goi: list[str],
) -> DataFrame:
    """Normalized expression for the genes of interest: A1 floor →
    A5 size factors (full cohort) → A7 normalize → J3 goi semi-join.
    Returns (gene_name, barcode, normalized)."""
    keep = (
        expression.groupBy("gene_id")
        .agg(F.sum("count").alias("_tot"))
        .filter(F.col("_tot") >= 10.0)
        .select("gene_id")
    )
    floored = expression.join(keep, "gene_id", "left_semi")
    sf = stats.size_factors(floored, "gene_id", "barcode", "count")
    goi_dim = genes.filter(
        F.upper(F.col("gene_name")).isin([g.upper() for g in goi])
    )
    fact = floored.join(F.broadcast(goi_dim), "gene_id")
    return stats.log_normalize(fact, sf, "barcode", "count").select(
        "gene_name", "barcode", "normalized"
    )


def km_by_median_expression(
    expression: DataFrame,
    genes: DataFrame,
    samples: DataFrame,
    goi: list[str],
) -> dict[str, DataFrame]:
    """Entry point B composed end-to-end. Returns the four result
    shapes the reference plots: ``strata`` (subject-level, W1),
    ``curves`` (KM + Greenwood, W2/W5), ``medians`` (W4) and
    ``logrank`` (W3 per gene)."""
    km = km_table(samples)
    expr = goi_normalized(expression, genes, goi)
    joined = km.join(expr, "barcode")  # J2
    strata = survival.ntile_strata(
        joined, "normalized", 2, ["gene_name"], F.col("barcode").asc()
    )
    curves = survival.km_curve(strata, "time", "status", ["gene_name", "stratum"])
    medians = survival.median_survival(curves, "time", ["gene_name", "stratum"])
    logrank = survival.logrank_test(
        strata, "time", "status", "stratum", extra_partition=["gene_name"]
    )
    return {
        "strata": strata,
        "curves": curves,
        "medians": medians,
        "logrank": logrank,
    }


def drug_cohorts(samples: DataFrame, therapeutics: dict[str, list[str]]) -> DataFrame:
    """§3.3 step 2: per drug class, samples whose nested treatments
    match class name (treatment_type) OR any member drug
    (therapeutic_agents) — P6 ``exists`` without explode — then the
    participant id via F4 substring. Output: (drug_class, submitter_id)
    cohort table, unioned across classes."""
    parts = []
    for drug_class, agents in therapeutics.items():
        cohort = (
            nested.treated_filter(samples, "treatments", [drug_class], agents)
            .select(
                F.lit(drug_class).alias("drug_class"),
                nested.participant_id(F.col("barcode")).alias("submitter_id"),
            )
            .distinct()
        )
        parts.append(cohort)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def drug_km(
    expression: DataFrame,
    genes: DataFrame,
    samples: DataFrame,
    therapeutics: dict[str, list[str]],
    goi: list[str],
) -> dict[str, DataFrame]:
    """Entry point C composed end-to-end: for each drug class, restrict
    samples to treated participants (P7 semi-join on submitter_id),
    recompute size factors *within the cohort* (reference
    drug_km_median_exp.R:61-68), then the B tail keyed by
    (drug_class, gene_name, stratum).

    The per-(drug x gene) loop of the reference collapses into windows
    partitioned by drug_class — implemented by tagging the fact rows
    with their cohort and running one windowed pass.
    """
    cohorts = drug_cohorts(samples, therapeutics)
    tagged_samples = samples.withColumn(
        "submitter_id", nested.participant_id(F.col("barcode"))
    ).join(F.broadcast(cohorts), "submitter_id")  # P7, adds drug_class
    km = km_table(samples).join(
        F.broadcast(tagged_samples.select("barcode", "drug_class").distinct()),
        "barcode",
    )
    # cohort-relative normalization: floor + size factors per drug_class
    cohort_fact = expression.join(
        F.broadcast(tagged_samples.select("barcode", "drug_class").distinct()),
        "barcode",
    )
    keep = (
        cohort_fact.groupBy("drug_class", "gene_id")
        .agg(F.sum("count").alias("_tot"))
        .filter(F.col("_tot") >= 10.0)
        .select("drug_class", "gene_id")
    )
    floored = cohort_fact.join(keep, ["drug_class", "gene_id"], "left_semi")
    per_gene = (
        floored.groupBy("drug_class", "gene_id")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.when(F.col("count") > 0, 1).otherwise(0)).alias("_n_pos"),
            F.avg(F.when(F.col("count") > 0, F.log("count"))).alias(
                "_log_geomean"
            ),
        )
        .filter(F.col("_n_pos") == F.col("_n"))
        .select("drug_class", "gene_id", "_log_geomean")
    )
    sf = (
        floored.join(per_gene, ["drug_class", "gene_id"])
        .groupBy("drug_class", "barcode")
        .agg(
            F.percentile(
                F.log(F.col("count")) - F.col("_log_geomean"), F.lit(0.5)
            ).alias("_log_sf")
        )
        .select("drug_class", "barcode", F.exp("_log_sf").alias("size_factor"))
    )
    goi_dim = genes.filter(
        F.upper(F.col("gene_name")).isin([g.upper() for g in goi])
    )
    normalized = (
        floored.join(F.broadcast(goi_dim), "gene_id")
        .join(sf, ["drug_class", "barcode"])
        .withColumn(
            "normalized", F.log2(F.col("count") / F.col("size_factor") + 1.0)
        )
        .select("drug_class", "gene_name", "barcode", "normalized")
    )
    joined = km.join(normalized, ["drug_class", "barcode"])
    strata = survival.ntile_strata(
        joined, "normalized", 2, ["drug_class", "gene_name"], F.col("barcode").asc()
    )
    curves = survival.km_curve(
        strata, "time", "status", ["drug_class", "gene_name", "stratum"]
    )
    medians = survival.median_survival(
        curves, "time", ["drug_class", "gene_name", "stratum"]
    )
    logrank = survival.logrank_test(
        strata,
        "time",
        "status",
        "stratum",
        extra_partition=["drug_class", "gene_name"],
    )
    return {
        "strata": strata,
        "curves": curves,
        "medians": medians,
        "logrank": logrank,
    }
