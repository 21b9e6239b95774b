"""Sources & sinks (SURVEY.md §2.1).

Covers the reference's I/O surface:

- S1 delimited-text scan  — ``read.delim("genes.txt", header=F)``
  (reference BRCA_path_stage_DESeq.R:7, surv_analysis_median_exp.R:6,9,
  drug_km_median_exp.R:23-30) → :func:`read_tsv_config`.
- S2/S3 binary cache ladder — ``readRDS``/``saveRDS`` + file-existence
  probes (reference vital_status_DESeq.R:22-86 and siblings) →
  :func:`checkpoint`: parquet stage checkpoints keyed by name, recomputed
  only when absent. Unlike the reference's RDS blobs these are columnar,
  splittable, and predicate-pushdown-friendly at any scale.
- S4 remote REST source — ``GDCquery``/``GDCdownload``/``GDCprepare``
  (reference vital_status_DESeq.R:60-67) → an ingestion job outside the
  query path; the query-path equivalent is a partition-pruned parquet
  scan, i.e. :func:`read_table` + ``.filter``.
- S5 CSV sink — ``write.csv`` (reference vital_status_DESeq.R:175) →
  :func:`write_csv_single`.
- S6 plot sink — out of engine scope; the engine emits plot-ready
  DataFrames (box stats, KM step curves) instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


#: Per-process memo of inferred parquet schemas, keyed by the dataset's
#: (absolute path, directory mtime_ns): the role a metastore plays on a
#: real deployment. Without it EVERY ``spark.read.parquet`` pays a
#: footer-read schema-inference job at plan-construction time — ~200
#: table reads per bench pass, each a driver round-trip plus a 1-task
#: job. The mtime key invalidates the entry whenever the dataset
#: directory is rewritten (overwrite writes replace files, bumping the
#: directory mtime), so a re-generated table is always re-inferred.
#: Only schema METADATA is memoized — never rows, plans, or results;
#: every query still computes from the parquet inputs.
_SCHEMA_MEMO: dict[tuple[str, int], StructType] = {}


def _schema_memo_key(path: str) -> tuple | None:
    """Memo key = (abs path, root mtime_ns, sorted child names + their
    mtimes). The root mtime alone misses in-place file
    rewrites (``cp`` over an existing part file) and rewrites inside
    subdirectories — neither bumps the parent directory's mtime, and a
    stale explicit schema would then silently null out columns added
    since memoization. Including each child's (name, mtime_ns)
    invalidates on any file replaced, added, or removed one level down;
    writers must still replace (not patch) files below that level,
    which every Spark/parquet writer does."""
    try:
        root = os.path.abspath(path)
        st = os.stat(root)
        children: tuple = ()
        if os.path.isdir(root):
            children = tuple(
                sorted(
                    (name, os.stat(os.path.join(root, name)).st_mtime_ns)
                    for name in os.listdir(root)
                )
            )
        return (root, st.st_mtime_ns, children)
    except OSError:
        return None


def read_parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with the inference result memoized (see
    :data:`_SCHEMA_MEMO`): first read of a dataset infers and records
    its schema; subsequent reads pass the recorded schema explicitly,
    which skips the footer-read job entirely. The explicit schema is
    byte-identical to what inference would return (it IS a prior
    inference of the same unchanged files), so plans and results are
    unaffected."""
    key = _schema_memo_key(path)
    schema = _SCHEMA_MEMO.get(key) if key is not None else None
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        _SCHEMA_MEMO[key] = df.schema
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver testdata table (parquet).

    Declarative scan: Catalyst pushes filters and prunes columns into the
    parquet reader, which is the scale-path replacement for the
    reference's "download everything, then subset in RAM" pattern.
    """
    return read_parquet_memo(spark, os.path.join(sf_dir, f"{name}.parquet"))


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan the events table, normalizing its timestamp column to
    TIMESTAMP_LTZ (UTC session zone) whatever the writer encoded.

    The driver regenerates events.parquet every round and its ``ts``
    encoding has already changed twice: INT64 TIMESTAMP(NANOS) (Spark
    rejects outright — PARQUET_TYPE_ILLEGAL — hence the nanosAsLong
    legacy conf), then micros with isAdjustedToUTC=false (inferred
    TIMESTAMP_NTZ). This reader normalizes every plausible encoding:

    - plain integers resolve their unit by MAGNITUDE per row (epoch
      nanos ≥ 1e17, micros ≥ 1e14, millis ≥ 1e11, else seconds —
      unambiguous for any timestamp between 1973 and 5000+); integer
      division (DIV) matches DuckDB's truncating nanos→micros coercion
      bit-for-bit, no double roundtrip;
    - TIMESTAMP_NTZ casts wall-clock-preserving (UTC session zone);
    - strings parse with to_timestamp.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet_memo(spark, os.path.join(sf_dir, "events.parquet"))
    # branch on the (memoized) schema locally — dict(df.dtypes) would
    # re-fetch the schema over py4j on every call
    ts_field = next((f for f in df.schema.fields if f.name == "ts"), None)
    ts_type = ts_field.dataType.simpleString() if ts_field else None
    if ts_type in ("bigint", "int"):
        # the BIGINT cast matters for the int32 case: epoch SECONDS fit
        # an int32, but seconds * 1000000 does not — under ANSI the
        # unwidened multiply throws ARITHMETIC_OVERFLOW for exactly the
        # encoding this branch exists to normalize
        df = df.withColumn(
            "ts",
            F.timestamp_micros(
                F.expr(
                    "CASE WHEN abs(CAST(ts AS BIGINT)) >= 100000000000000000"
                    "          THEN CAST(ts AS BIGINT) DIV 1000"
                    "     WHEN abs(CAST(ts AS BIGINT)) >= 100000000000000"
                    "          THEN CAST(ts AS BIGINT)"
                    "     WHEN abs(CAST(ts AS BIGINT)) >= 100000000000"
                    "          THEN CAST(ts AS BIGINT) * 1000"
                    "     ELSE CAST(ts AS BIGINT) * 1000000 END"
                )
            ),
        )
    elif ts_type == "timestamp_ntz":
        # engine convention is TIMESTAMP_LTZ with a UTC session zone,
        # so the cast is wall-clock-preserving and keeps
        # unix_micros()/window() applicable.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    elif ts_type == "string":
        df = df.withColumn("ts", F.to_timestamp("ts"))
    return df


def read_tsv_config(spark: SparkSession, path: str, header: bool = False) -> DataFrame:
    """S1: headerless tab-delimited config (gene lists, cancer codes,
    therapeutics matrix; reference surv_analysis_median_exp.R:6-10)."""
    return (
        spark.read.option("sep", "\t")
        .option("header", str(header).lower())
        .option("inferSchema", "false")
        .csv(path)
    )


def checkpoint(df: DataFrame, stage_dir: str, name: str, overwrite: bool = False) -> DataFrame:
    """S2/S3: the reference's three-way cache ladder
    (reference vital_status_DESeq.R:22-86) as a parquet stage checkpoint.

    If ``{stage_dir}/{name}`` exists, read it back (cache hit — the
    ``readRDS`` branch); else materialize ``df`` there and re-read
    (the compute-then-``saveRDS`` branch). Existence probing mirrors S3
    (``list.files() %in% ...``, reference vital_status_DESeq.R:22).
    """
    path = os.path.join(stage_dir, name)
    spark = df.sparkSession
    marker = os.path.join(path, "_SUCCESS")
    if overwrite or not os.path.exists(marker):
        df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Scale-path table layout: bucketed (+ optionally sorted) parquet
    saved as a catalog table.

    This is the 100 TB answer to the reference's in-RAM matrix: the
    expression fact table bucketed by ``gene_id`` makes every per-gene
    stage (A1 floor, A4 ranks, A5 geomeans, A6 GLM groups, W1/W2
    windows) shuffle-free — Spark recognizes both sides of a join or a
    groupBy as co-partitioned and elides the Exchange. Dim tables stay
    broadcast so only one physical layout is ever needed.
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_csv_single(df: DataFrame, path: str, null_fill: str | None = "") -> None:
    """S5 CSV sink with the reference's NA→"" blank-fill on export
    (P8; reference vital_status_DESeq.R:174-175).

    ``coalesce(1)`` reproduces the reference's single-file output shape;
    at cluster scale callers drop the coalesce and write sharded.
    """
    out = df
    if null_fill is not None:
        out = out.na.fill(null_fill)
    out.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)


def write_training_shards(
    packed: DataFrame,
    out_dir: str,
    order_cols: list[str],
    fmt: str = "parquet",
) -> None:
    """Materialize :func:`operators.sampling.pack_shards` output as the
    trainer-facing layout: ``out_dir/shard=N/`` with EXACTLY ONE file
    per shard, rows inside each file in ``order_cols`` order — so a
    data-loader can map shard → file → deterministic sample sequence.

    Recipe: hash-repartition on ``shard`` (co-locates each shard in one
    task; shards are token-budget-balanced by construction, so this
    does not skew), sort within partitions, then ``partitionBy(shard)``
    on write — each task emits one file per shard it holds. At 100 TB
    this is the single unavoidable output shuffle, and the files come
    out at ~budget tokens each, so no compaction pass is needed.
    """
    (
        packed.repartition(F.col("shard"))
        .sortWithinPartitions("shard", *order_cols)
        .write.mode("overwrite")
        .partitionBy("shard")
        .format(fmt)
        .save(out_dir)
    )
