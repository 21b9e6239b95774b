"""Relational operator library (SURVEY.md §2.2-§2.3, §2.6-§2.8).

Every function is DataFrame → DataFrame, declarative, built-ins only —
Catalyst handles pushdown/pruning/join selection; nothing here collects
to the driver. Trivial ops (P1 select, P3 isNotNull, P5 !=, F1-F8
scalars) are one-line DataFrame idioms and are exercised directly in the
query catalog; this module implements the composite ones.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def min_total_filter(
    fact: DataFrame, key: str, value: str, min_total: float
) -> DataFrame:
    """A1: the reference's low-count gene filter
    (``rowSums(counts(data)) >= 10``, vital_status_DESeq.R:47-48).

    groupBy-sum + HAVING. Returns (key, total). Spark plans this as a
    partial (map-side) + final hash aggregate, so at 100 TB the shuffle
    carries one row per key per map task, not the fact table.
    """
    return (
        fact.groupBy(key)
        .agg(F.sum(value).alias("total"))
        .filter(F.col("total") >= min_total)
    )


def keep_keys(fact: DataFrame, keys: DataFrame, on: str | list[str]) -> DataFrame:
    """A1 (second half) / P4-derived-list / P7: restrict the fact table to
    keys surviving a derived filter — ``data <- data[keep,]``
    (vital_status_DESeq.R:48), ``prep[,keep]`` (drug_km_median_exp.R:55-56).

    LEFT SEMI join: no payload duplication, and when ``keys`` is small
    Catalyst broadcasts it (no shuffle of the fact side).
    """
    return fact.join(keys, on=on, how="left_semi")


def dim_lookup_semi(
    fact: DataFrame,
    dim: DataFrame,
    dim_filter: Column,
    fact_key: str,
) -> DataFrame:
    """J3: the two-step ``%in%`` through rowRanges
    (gene_name → gene_id → row subset; vital_status_DESeq.R:102-104,
    surv_analysis_median_exp.R:98-100).

    Expressed as a semi-join through a *broadcast* filtered dimension:
    the dim after the name filter is tiny, so the fact scan never
    shuffles.
    """
    keys = dim.filter(dim_filter).select(fact_key).distinct()
    return fact.join(F.broadcast(keys), on=fact_key, how="left_semi")


def topk(df: DataFrame, order: list[Column], k: int) -> DataFrame:
    """O1+O2: ORDER BY + LIMIT (res[order(...),] + [1:k] patterns,
    vital_status_DESeq.R:92, BRCA_subtype_DESeq.R:172).

    Callers must make ``order`` a total order (append a unique key) —
    the reference relies on sort stability, which is not portable
    (SURVEY.md §7 hard-part #4). Spark plans this as
    TakeOrderedAndProject: per-partition top-k then a k-row merge on the
    driver — no global sort at scale.
    """
    return df.orderBy(*order).limit(k)


def stack_wide_to_long(
    df: DataFrame, id_cols: list[str], value_cols: list[str], key_name: str, value_name: str
) -> DataFrame:
    """U1/R3: melt wide per-gene columns into long (gene, counts) rows —
    the reference's per-gene loop + ``do.call(rbind, ...)``
    (vital_status_DESeq.R:118-126). One ``stack()`` projection, no
    shuffle; in the engine's long-format star schema this is usually a
    no-op.
    """
    pairs = ", ".join(f"'{c}', `{c}`" for c in value_cols)
    stacked = f"stack({len(value_cols)}, {pairs}) as ({key_name}, {value_name})"
    return df.selectExpr(*id_cols, stacked)


def union_labeled(parts: list[tuple[str, DataFrame]], label_col: str) -> DataFrame:
    """U2: stack per-contrast result tables with a names key
    (``do.call(rbind, res)`` + rownames, BRCA_path_stage_DESeq.R:125-139).
    """
    out = None
    for label, df in parts:
        cur = df.withColumn(label_col, F.lit(label))
        out = cur if out is None else out.unionByName(cur)
    assert out is not None
    return out


def pivot_wide(
    df: DataFrame,
    row_key: str,
    pivot_col: str,
    pivot_values: list[str],
    agg: Column,
    prefix: str = "",
) -> DataFrame:
    """R1: long → wide transpose (``t(gene_count)``,
    vital_status_DESeq.R:106). Only ever applied *after* filtering to a
    handful of keys, so the pivoted side stays tiny; explicit
    ``pivot_values`` keeps the plan static (no extra distinct-values job)
    and output column names deterministic.
    """
    out = df.groupBy(row_key).pivot(pivot_col, pivot_values).agg(agg)
    for v in pivot_values:
        out = out.withColumnRenamed(v, f"{prefix}{v}")
    return out


def ragged_export(
    df: DataFrame,
    group_col: str,
    groups: list[str],
    value_col: str,
    order: list[Column],
) -> DataFrame:
    """R2: the reference's ``cbind.fill`` ragged column-bind
    (vital_status_DESeq.R:147-168): unequal-length per-group value
    vectors padded with NULL and laid side by side for CSV export, one
    ``v_<group>`` column per group.

    Relational reconstruction: row_number within group, then pivot groups
    into columns keyed by row_number. Export-shape-only op — lives at the
    sink edge, never mid-plan. ``order`` must be total for deterministic
    column contents.
    """
    w = Window.partitionBy(group_col).orderBy(*order)
    numbered = df.select(
        F.col(group_col),
        F.col(value_col),
        F.row_number().over(w).cast("long").alias("rn"),
    )
    return (
        pivot_wide(numbered, "rn", group_col, groups, F.first(value_col), "v_")
        .orderBy("rn")
    )


def pairwise_contrasts(
    per_level: DataFrame, level_col: str, pairs: list[tuple[str, str]]
) -> DataFrame:
    """A8: expand per-level partial aggregates into level-pair contrasts
    (``results(data, contrast=c(col, A, B))`` fan-out,
    BRCA_path_stage_DESeq.R:113-122: 10 pairs; BRCA_subtype_DESeq.R:108-111).

    One pass: the per-level aggregate (small) is joined twice against a
    broadcast pair list — never re-scans the fact table per pair, unlike
    the reference's per-contrast ``results()`` calls.
    """
    spark = per_level.sparkSession
    pair_df = spark.createDataFrame(pairs, ["level_a", "level_b"])
    a = per_level.select(
        F.col(level_col).alias("level_a"),
        *[F.col(c).alias(f"{c}_a") for c in per_level.columns if c != level_col],
    )
    b = per_level.select(
        F.col(level_col).alias("level_b"),
        *[F.col(c).alias(f"{c}_b") for c in per_level.columns if c != level_col],
    )
    return (
        F.broadcast(pair_df)
        .join(a, "level_a")
        .join(b, "level_b")
        .withColumn("pair", F.concat_ws("_vs_", F.col("level_a"), F.col("level_b")))
    )
