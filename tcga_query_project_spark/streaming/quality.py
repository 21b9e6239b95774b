"""Streaming distribution-drift monitor: windowed PSI against a
static baseline.

The deploy-time companion to the batch gate
(``operators/quality_audit.psi_drift``): the batch form compares two
snapshots after the fact; this one watches the LIVE ingest — per
event-time window, how far has each feature's distribution moved from
the reference the pipeline's filters/weights were tuned on? The
training-data use: a crawler's language mix or quality-score profile
shifting mid-ingest should page someone before a week of skewed data
lands in the corpus.

Design (the only shape Structured Streaming allows AND the only one
that scales): PSI per window needs two aggregation levels (bin counts,
then the per-feature sum over bins) plus a join against the baseline —
more than one aggregation is illegal in a streaming query, and
collecting rows per window into arrays would put row-scaled data in
executor memory. So the STREAMING query is exactly one windowed
aggregation — ``groupBy(window(ts), feature, bin).count()`` in append
mode, emitting each window's bin counts once its watermark closes —
and everything downstream of it runs in ``foreachBatch`` over
BIN-CARDINALITY-sized rows: expand the static baseline counts across
the batch's windows (both tiny), outer-merge so bins present on only
one side keep their epsilon-floored term, and compute PSI with the
SAME :func:`~tcga_query_project_spark.operators.quality_audit.
psi_from_counts` algebra the batch gate uses — stream == batch by
shared code, not by parallel implementation.

Replay safety: ``foreachBatch`` is at-least-once, so the report sink
partitions by ``batch_id`` and writes with dynamic partition overwrite
(the idempotent-foreachBatch recipe): a replayed batch recomputes
deterministically and replaces its own partition.

At 100 TB/day: the row-scaled data crosses exactly one shuffle (the
windowed count), whose output is (windows x features x bins) — KBs.
The baseline is computed ONCE at start (driver-side collect of a
bin-cardinality table) and broadcast into every batch.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tcga_query_project_spark.operators.quality_audit import (
    binned_features,
    psi_from_counts,
)


def windowed_bin_counts(
    stream: DataFrame,
    ts_col: str,
    *,
    numeric: dict[str, Sequence[float]] | None = None,
    categorical: Sequence[str] | None = None,
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """The streaming half: one watermarked windowed aggregation over
    the binned projection — ``(window_start_us, feature, bin, cur_n)``,
    append-mode-ready (a window's counts emit once, after its
    watermark closes). Exposed separately so tests can drive it
    against the identical batch expression."""
    binned = binned_features(
        stream, numeric, categorical, extra_cols=[ts_col]
    )
    return (
        binned.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), "feature", "bin")
        .agg(F.count(F.lit(1)).cast("double").alias("cur_n"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "feature",
            "bin",
            "cur_n",
        )
    )


def baseline_counts(
    baseline: DataFrame,
    *,
    numeric: dict[str, Sequence[float]] | None = None,
    categorical: Sequence[str] | None = None,
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
    *,
    epsilon: float = 1e-6,
    threshold: float = 0.2,
) -> DataFrame:
    """PSI per (window, feature) for one delivered batch of closed
    windows: expand the baseline across the batch's windows, OUTER-
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
    return psi_from_counts(
        merged,
        epsilon=epsilon,
        threshold=threshold,
        group_cols=["window_start_us"],
    )


def start_windowed_psi(
    stream: DataFrame,
    ts_col: str,
    baseline: DataFrame,
    report_path: str,
    checkpoint_path: str,
    *,
    numeric: dict[str, Sequence[float]] | None = None,
    categorical: Sequence[str] | None = None,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    epsilon: float = 1e-6,
    threshold: float = 0.2,
    trigger_available_now: bool = True,
):
    """Start the monitor; returns the StreamingQuery (caller owns its
    lifecycle). ``report_path`` accumulates ``(window_start_us,
    feature, psi, n_bins, drifted, batch_id)`` parquet partitioned by
    ``batch_id`` with dynamic overwrite (idempotent under foreachBatch
    replay)."""
    ref = baseline_counts(
        baseline, numeric=numeric, categorical=categorical
    ).cache()
    ref.count()  # materialize once, before the first batch
    counts = windowed_bin_counts(
        stream,
        ts_col,
        numeric=numeric,
        categorical=categorical,
        window=window,
        watermark=watermark,
    )

    def _emit(batch_df: DataFrame, batch_id: int) -> None:
        report = psi_report_for_batch(
            batch_df, ref, epsilon=epsilon, threshold=threshold
        ).withColumn("batch_id", F.lit(int(batch_id)))
        (
            report.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(report_path)
        )

    writer = (
        counts.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(_emit)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
