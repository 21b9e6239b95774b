"""Windowed distribution drift: PSI per event-time window against a
static baseline, from bin counts.

The windowed companion to the two-snapshot gate
(``operators/quality_audit.psi_drift``): per event-time window, how far
has each feature's distribution moved from the reference the
pipeline's filters were tuned on? ``qa_windowed_psi`` composes it.

Two helpers, both over BIN-CARDINALITY-sized rows: ``baseline_counts``
bins the static reference once, and ``psi_report_for_batch`` expands
those counts across the windows of a window-count table, outer-merges
them (a bin present on one side keeps its epsilon-floored term) and
computes PSI with the SAME
:func:`~tcga_query_project_spark.operators.quality_audit.psi_from_counts`
algebra the two-snapshot gate uses. The row-scaled data crosses one
shuffle, the caller's windowed count, whose output is
(windows x features x bins).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tcga_query_project_spark.operators.quality_audit import (
    binned_features,
    psi_from_counts,
)


def baseline_counts(
    baseline: DataFrame,
    *,
    numeric: dict[str, Sequence[float]],
    categorical: Sequence[str],
) -> DataFrame:
    """Reference bin counts ``(feature, bin, ref_n)`` from the static
    baseline table — computed once, bin-cardinality-sized."""
    return (
        binned_features(baseline, numeric, categorical)
        .groupBy("feature", "bin")
        .agg(F.count(F.lit(1)).cast("double").alias("ref_n"))
    )


def psi_report_for_batch(
    batch_counts: DataFrame,
    ref_counts: DataFrame,
) -> DataFrame:
    """PSI per (window, feature) from a table of window bin counts
    ``(window_start_us, feature, bin, cur_n)``: expand the baseline across the batch's windows, OUTER-
    merge with the current counts (a bin present on one side keeps its
    epsilon-floored term — dropping it would understate drift), then
    the shared :func:`psi_from_counts` algebra. All inputs are
    bin-cardinality-sized."""
    wins = batch_counts.select("window_start_us").distinct()
    ref_exp = wins.crossJoin(ref_counts)
    merged = (
        batch_counts.join(
            ref_exp, ["window_start_us", "feature", "bin"], "full_outer"
        )
        .select(
            "window_start_us",
            "feature",
            "bin",
            F.coalesce("ref_n", F.lit(0.0)).alias("ref_n"),
            F.coalesce("cur_n", F.lit(0.0)).alias("cur_n"),
        )
    )
    return psi_from_counts(merged, group_cols=["window_start_us"])
