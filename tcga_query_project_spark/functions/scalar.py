"""Scalar expression helpers (SURVEY.md §2.9, §2.4 A9).

Everything here is a *column expression builder* — pure built-in
``pyspark.sql.functions`` compositions, JVM-side, whole-stage-codegen
friendly. No Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def qident(name: str) -> str:
    """Backtick-quote an identifier for interpolation into a SQL-string
    expression (the single-parse builders): backticks in the name
    double, so ANY column name round-trips — the raw f-string
    interpolations a backtick-bearing name could break out of all
    route through here.
    """
    return "`" + name.replace("`", "``") + "`"


def signif_bin(padj: Column) -> Column:
    """A9/F7: p-value → significance symbol.

    Mirrors the nested ifelse chains of the reference
    (vital_status_DESeq.R:93-97, BRCA_path_stage_DESeq.R:141-145):
    ``ns`` > 0.05 ≥ ``*`` > 0.01 ≥ ``**`` > 0.001 ≥ ``***`` > 0.0001 ≥
    ``****``; NULL padj propagates to NULL (R's ifelse NA semantics,
    handled downstream at BRCA_path_stage_DESeq.R:183).
    """
    return (
        F.when(padj.isNull(), F.lit(None).cast("string"))
        .when(padj > 0.05, F.lit("ns"))
        .when(padj > 0.01, F.lit("*"))
        .when(padj > 0.001, F.lit("**"))
        .when(padj > 0.0001, F.lit("***"))
        .otherwise(F.lit("****"))
    )


# DuckDB mirror of signif_bin, kept adjacent so the two never drift.
SIGNIF_BIN_SQL = (
    "CASE WHEN {p} IS NULL THEN NULL"
    " WHEN {p} > 0.05 THEN 'ns'"
    " WHEN {p} > 0.01 THEN '*'"
    " WHEN {p} > 0.001 THEN '**'"
    " WHEN {p} > 0.0001 THEN '***'"
    " ELSE '****' END"
)


def normal_sf_two_sided(z: Column) -> Column:
    """Two-sided tail probability of the standard normal, via the
    Abramowitz & Stegun 26.2.17 polynomial (|error| < 7.5e-8).

    Used for the normal-approximation Wilcoxon rank-sum p-value (A4;
    the reference delegates to ``compare_means(..., method="wilcox")``,
    vital_status_DESeq.R:130). Pure built-ins so the identical formula is
    expressible in the DuckDB oracle (NORMAL_SF_TWO_SIDED_SQL).
    """
    az = F.abs(z)
    t = 1.0 / (1.0 + 0.2316419 * az)
    poly = t * (
        0.319381530
        + t * (-0.356563782 + t * (1.781477937 + t * (-1.821255978 + t * 1.330274429)))
    )
    pdf = F.exp(-(az * az) / 2.0) / 2.5066282746310002  # sqrt(2*pi)
    p = 2.0 * pdf * poly
    return F.least(p, F.lit(1.0))


NORMAL_SF_TWO_SIDED_SQL = (
    "LEAST(2.0 * (EXP(-(ABS({z})*ABS({z}))/2.0) / 2.5066282746310002) * "
    "((1.0/(1.0+0.2316419*ABS({z}))) * (0.319381530 + (1.0/(1.0+0.2316419*ABS({z}))) * "
    "(-0.356563782 + (1.0/(1.0+0.2316419*ABS({z}))) * (1.781477937 + "
    "(1.0/(1.0+0.2316419*ABS({z}))) * (-1.821255978 + (1.0/(1.0+0.2316419*ABS({z}))) * "
    "1.330274429))))), 1.0)"
)


#: DuckDB mirror of :func:`hash_split_bucket` (catalog determinism
#: conventions): same md5-prefix integer, same modulus.
HASH_SPLIT_BUCKET_SQL = (
    "CAST(('0x' || substring(md5(CAST({key} AS VARCHAR)), 1, 8))::BIGINT"
    " % 100 AS BIGINT)"
)


def md5_prefix_long(key: Column) -> Column:
    """First 8 hex chars of md5 as a BIGINT — THE portable-hash
    primitive every deterministic sampling/splitting/minhash surface in
    this engine derives from (DuckDB mirror:
    ``('0x' || substring(md5(x), 1, 8))::BIGINT``). Centralized so the
    Spark expression and its SQL mirror evolve in one place."""
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")


def hash_split_bucket(key: Column) -> Column:
    """Deterministic 0-99 bucket from a row key — the train/val/test
    split primitive of a training-data pipeline: stable across runs,
    engines, partitionings, and data order (a ``rand()`` split is none
    of those), so downstream epochs always see the same membership.
    Portable md5-prefix construction (identical in DuckDB, see
    ``HASH_SPLIT_BUCKET_SQL``); assign splits as e.g.
    ``bucket < 90 → train, < 95 → val, else test``.
    """
    return md5_prefix_long(key.cast("string")) % 100


def split_label(
    key: Column, train_pct: int = 90, val_pct: int = 5
) -> Column:
    """train/val/test label from :func:`hash_split_bucket`."""
    b = hash_split_bucket(key)
    return (
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test")
    )
