"""Similarity search over embedding columns (north-star; SURVEY.md §2.10).

``embeddings(vec_id, embedding ARRAY<FLOAT>, label)`` — cosine top-k
with a brute-force baseline (:func:`cosine_topk`) and a sign-LSH
bucketed scale path (:func:`cosine_topk_bucketed`), plus the per-row
array profile (:func:`array_stats`).

Pair scoring runs in Arrow-batched pandas UDFs (einsum over the batch)
— Spark's higher-order-function lambdas evaluate interpreted, so
expression-level per-pair dot products cost ~3 µs per element and lose
to the Arrow transfer + vectorized kernel by an order of magnitude at
any scale (the HOF forms are kept for single-row derived columns and as
the oracle-mirrorable reference semantics).

Scale notes: brute force is O(|Q|·|C|) — right answer for small query
sets against a broadcast candidate side. The bucketed path buckets by
sign pattern on the leading components, so candidate generation is an
equi-join on bucket id, cutting the cross product by ~2^bits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.types import DoubleType

from tcga_query_project_spark.operators.caching import (
    materialize_shared as _materialize_shared,
)
from tcga_query_project_spark.operators.partitioning import fan_out


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@F.pandas_udf(DoubleType())
def _dot_batch(a, b):
    """Arrow-batched row-wise dot product.

    Spark evaluates higher-order-function lambdas interpreted (outside
    whole-stage codegen) — measured ~3 µs per lambda call, which makes
    per-pair ``aggregate(zip_with(...))`` the bottleneck of every
    similarity query (2.6M lambda evals for a 20k-pair top-k). One
    einsum over the Arrow batch does the same math in float64 at memory
    bandwidth. Used for PAIR scoring; single-row norms stay expression-
    level where they feed oracle-checked columns."""
    import numpy as np
    import pandas as pd

    if not len(a):
        return pd.Series([], dtype="float64")
    ma = np.stack(a.to_numpy()).astype("float64", copy=False)
    mb = np.stack(b.to_numpy()).astype("float64", copy=False)
    return pd.Series(np.einsum("ij,ij->i", ma, mb))


@F.pandas_udf(DoubleType())
def _norm_batch(a):
    """Arrow-batched row-wise L2 norm (same rationale as _dot_batch)."""
    import numpy as np
    import pandas as pd

    if not len(a):
        return pd.Series([], dtype="float64")
    m = np.stack(a.to_numpy()).astype("float64", copy=False)
    return pd.Series(np.sqrt(np.einsum("ij,ij->i", m, m)))


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _rank_top_k(scored: DataFrame, k: int) -> DataFrame:
    """Keep each query's ``k`` best ``(query_id, neighbor_id, cosine)``
    rows, ranked by cosine with a deterministic tiebreak on neighbor
    id."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def array_stats(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Typed-array column profile: dimensionality, L2 norm, mean /
    min / max component, RMS: cheap per-row derived features, all
    expression-level."""
    v = F.col(vec_col)
    total = F.aggregate(
        F.transform(v, lambda x: x.cast("double")), F.lit(0.0), lambda acc, x: acc + x
    )
    dim_d = F.size(v).cast("double")
    return df.select(
        F.col(id_col),
        F.size(v).cast("long").alias("dim"),
        F.round(_norm(v), 6).alias("l2_norm"),
        F.round(total / dim_d, 6).alias("mean_val"),
        F.round(F.array_min(v).cast("double"), 6).alias("min_val"),
        F.round(F.array_max(v).cast("double"), 6).alias("max_val"),
        F.round(_norm(v) / F.sqrt(dim_d), 6).alias("rms"),
    )


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Brute-force cosine top-k: every query row scored against every
    candidate (self-matches excluded), ranked per query with a
    deterministic tiebreak on candidate id.

    The query side is expected to be small — Spark broadcasts it, so the
    candidate scan never shuffles; the only shuffle is the tiny per-query
    top-k window.
    """
    # the query norm is computed once per query on the BROADCAST side
    # (|Q| rows), never per pair; the candidate norm stays fused with
    # the dot in the one streamed Python stage, so the big side crosses
    # the Arrow boundary exactly once.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _norm_batch(F.col(vec_col)).alias("_qn"),
    )
    # the candidate side carries the per-pair dot-product work; a
    # single-split scan would run it on one core (fan_out is a no-op
    # once the scan itself parallelizes).
    c = fan_out(candidates, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot_batch(F.col("_qv"), F.col("_cv"))
                / (F.col("_qn") * _norm_batch(F.col("_cv"))),
                4,
            ).alias("cosine"),
        )
    )
    return _rank_top_k(scored, k)


def sign_bucket(vec: Column, bits: int = 4) -> Column:
    """Axis-aligned hyperplane LSH bucket: bit b is the sign of
    component b+1. The simplest member of the hyperplane family —
    deterministic, model-free, and expressible verbatim in any SQL
    engine (which is why the catalog's oracle-checked bucketed-ANN query
    uses it)."""
    bucket = F.lit(0).cast("long")
    for b in range(bits):
        bucket = bucket + F.when(
            F.element_at(vec, b + 1).cast("double") > 0, F.lit(1 << b)
        ).otherwise(F.lit(0)).cast("long")
    return bucket


def cosine_topk_bucketed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    bits: int = 4,
    query_filter: Column | None = None,
) -> DataFrame:
    """Bucketed ANN with deterministic sign-LSH: candidates = rows in
    the query's own bucket (single-probe). Candidate generation is an
    equi-join on bucket id — the corpus is scanned once, bucketed once,
    and each query exactly-scores only ~|corpus|/2^bits rows. Recall is
    by construction < 1 (that is the ANN trade); the bucket assignment
    is deterministic, so results are reproducible across engines.

    At 100 TB: bucket the corpus ONCE (write bucketed/partitioned by
    bucket id), broadcast the query side per bucket; the per-bucket
    top-k never sees other buckets' rows.
    """
    # both the query and candidate branches read this subtree; persist +
    # eagerly populate so the bucket assignment + norm stage runs once,
    # not per branch, and the broadcast build never races a cold cache
    # (the in-memory cache plays the role the bucketed table layout
    # plays at cluster scale; caching contract: see _materialize_shared).
    # Eager, not lazy: the broadcast build's first touch would
    # serialize the population the eager count parallelizes across all
    # cores.
    based = _materialize_shared(
        fan_out(df.select(F.col(id_col), F.col(vec_col)), id_col).select(
            F.col(id_col),
            F.col(vec_col),
            sign_bucket(F.col(vec_col), bits).alias("_bkt"),
            _norm_batch(F.col(vec_col)).alias("_nrm"),
        )
    )
    q = based.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.col("_nrm").alias("_qn"),
        "_bkt",
    )
    if query_filter is not None:
        q = q.filter(query_filter)
    c = based.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        F.col("_nrm").alias("_cn"),
        "_bkt",
    )
    scored = (
        F.broadcast(q)
        .join(c, "_bkt")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot_batch(F.col("_qv"), F.col("_cv"))
                / (F.col("_qn") * F.col("_cn")),
                4,
            ).alias("cosine"),
        )
    )
    return _rank_top_k(scored, k)
