"""Similarity search over embedding columns (north-star; SURVEY.md §2.10).

``embeddings(vec_id, embedding ARRAY<FLOAT>, label)`` — cosine top-k
(:func:`cosine_topk`: brute force at ``bits=0``, single-probe sign-LSH
buckets above it) and the per-row array profile (:func:`array_stats`).

Every sparse or broadcast cosine pair in the package is scored by one
Spark SQL form: :func:`vector_side` gives each vector its norm once, and
:func:`cosine` is ``round(try_divide(dot, na·nb), 4)`` with ``dot =
aggregate(zip_with(...))``, the oracles' ``dot / (nrm_a · nrm_b)``.
``try_divide`` makes a zero-norm vector's cosine NULL under ANSI, as
DuckDB's division does, so it ranks last in a top-k and never clears a
threshold. :func:`sign_bucket` is the one sign-LSH bucket expression.
Build+exec, cache cleared before each run, ``get_spark(cpus=4)`` on a
4-core, 15 GB host, against the Arrow-batched pandas UDF scorers and
eager bucket cache this form replaced (same rows). Each figure is a warm
median of 5 runs after one warm-up; at sf0.1, the median of that over 6
fresh-session pairs, the two forms interleaved:

============================  ===============  ===============
query, scale                  Arrow UDFs       Spark SQL
============================  ===============  ===============
``ann_cosine_topk``, sf0.1    1.04 s           0.67 s
``ann_lsh_bucketed``, sf0.1   1.28 s           0.57 s
``ann_cosine_topk``, sf0.01   1.10 s           0.82 s
``ann_lsh_bucketed``, sf0.01  1.23 s           0.60 s
exact all-pairs, sf0.1        0.89 s (numpy)   5.6 s
============================  ===============  ===============

The last row (2,000 vectors, ~2M pairs, 4,143 kept; SQL over 4
partitions) is dense all-pairs, where :func:`dedup.embedding_near_dup`'s
blocked numpy matmul amortizes over whole blocks; it keeps that kernel.

Scale notes: brute force is O(|Q|·|C|) — right answer for small query
sets against a broadcast query side. The bucketed form buckets by sign
pattern on the leading components, so candidate generation is an
equi-join on bucket id, cutting the cross product by ~2^bits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tcga_query_project_spark.operators.partitioning import fan_out


def vector_side(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """``(id, v, norm)``: each vector as ``array<double>`` with its L2
    norm, computed once per vector rather than once per pair."""
    v = F.col(vec_col).cast("array<double>")
    return df.select(
        F.col(id_col).alias("id"),
        v.alias("v"),
        F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)).alias(
            "norm"
        ),
    )


def cosine(va: Column, na: Column, vb: Column, nb: Column) -> Column:
    """Cosine of two :func:`vector_side` rows, rounded to 4 decimals for
    FP portability; NULL when either norm is 0 (0/0 raises
    ``DIVIDE_BY_ZERO`` under ANSI, and is NULL in DuckDB)."""
    dot = F.aggregate(
        F.zip_with(va, vb, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return F.round(F.try_divide(dot, na * nb), 4)


def sign_bucket(
    vec: Column, bits: int | Column = 4, start: int | Column = 0
) -> Column:
    """Axis-aligned hyperplane LSH bucket: the sign pattern of components
    ``start+1 .. start+bits``, folded big-endian (``acc·2 + bit``).
    Deterministic, model-free and expressible verbatim in any SQL
    engine. Bucket ids are opaque: the grouping is the contract, not the
    values. ``bits`` and ``start`` may be Columns (a width tuned in-plan).
    A component past the vector's end reads NULL through the null-safe
    ``F.get`` (``element_at`` throws under ANSI) and gives bit 0, as SQL
    list indexing does. ``bits=0`` is one constant bucket."""
    bits = F.lit(bits) if isinstance(bits, int) else bits
    start = F.lit(start) if isinstance(start, int) else start
    fold = F.aggregate(
        F.sequence(F.lit(1), bits),
        F.lit(0).cast("long"),
        lambda acc, p: acc * 2
        + F.when(F.get(vec, (start + p - 1).cast("int")).cast("double") > 0, 1)
        .otherwise(0)
        .cast("long"),
    )
    # Spark's sequence(1, 0) is [1, 0], not empty. The coalesce also
    # makes the bucket non-nullable, so a join on it infers no
    # isnotnull filter that would evaluate the fold a second time.
    return F.coalesce(F.when(bits > 0, fold), F.lit(0).cast("long"))


def array_stats(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Typed-array column profile: dimensionality, L2 norm, mean /
    min / max component, RMS: cheap per-row derived features, all
    expression-level."""
    v = F.col("v")
    dim_d = F.size(v).cast("double")
    total = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x)
    return vector_side(df, id_col, vec_col).select(
        F.col("id").alias(id_col),
        F.size(v).cast("long").alias("dim"),
        F.round("norm", 6).alias("l2_norm"),
        F.round(total / dim_d, 6).alias("mean_val"),
        F.round(F.array_min(v), 6).alias("min_val"),
        F.round(F.array_max(v), 6).alias("max_val"),
        F.round(F.col("norm") / F.sqrt(dim_d), 6).alias("rms"),
    )


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    bits: int = 0,
) -> DataFrame:
    """Cosine top-k of each query row among the candidates that share
    its :func:`sign_bucket` (self-matches excluded), ranked per query
    by cosine with a deterministic tiebreak on candidate id; NULL
    cosines (zero-norm vectors) rank last.

    ``bits=0`` puts every vector in one bucket: brute force. ``bits>0``
    is single-probe sign-LSH — candidate generation is an equi-join on
    bucket id and each query exactly scores ~|candidates|/2^bits rows.
    Recall is then < 1 by construction (the ANN trade); the bucket
    assignment is deterministic, so results are reproducible across
    engines.

    The query side is expected to be small — Spark broadcasts it, so the
    candidate scan never shuffles; the only shuffle is the tiny per-query
    top-k window. At 100 TB: bucket the corpus once (write it bucketed by
    bucket id) and broadcast the query side per bucket.
    """
    q = vector_side(queries, id_col, vec_col).select(
        F.col("id").alias("query_id"),
        F.col("v").alias("_qv"),
        F.col("norm").alias("_qn"),
        sign_bucket(F.col("v"), bits).alias("_bkt"),
    )
    # the candidate side carries the per-pair dot-product work; a
    # single-split scan would run it on one core (fan_out is a no-op
    # once the scan itself parallelizes).
    c = vector_side(fan_out(candidates, id_col), id_col, vec_col).select(
        F.col("id").alias("neighbor_id"),
        F.col("v").alias("_cv"),
        F.col("norm").alias("_cn"),
        sign_bucket(F.col("v"), bits).alias("_bkt"),
    )
    scored = (
        F.broadcast(q)
        .join(c, "_bkt")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("_qv"), F.col("_qn"), F.col("_cv"), F.col("_cn")).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )
