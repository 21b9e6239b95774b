"""Approximate (sketch) aggregates — the 100 TB substitutes for exact
DISTINCT/quantile operators.

At cluster scale, exact COUNT(DISTINCT) re-shuffles every distinct key
and exact percentiles sort the column; both are unaffordable on 100 TB
inputs. The sketch versions are one map-side pass with tiny mergeable
state: HyperLogLog++ for cardinality (``approx_count_distinct``,
default ~5% relative error) and Greenwald-Khanna
``percentile_approx`` for quantiles.

These cannot be DuckDB-oracle-matched (different sketch
implementations), so they ship as rows-only catalog queries plus
tolerance unit tests against the exact answers (tests/).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def approx_profile(
    df: DataFrame,
    group_col: str,
    distinct_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group approximate profile: HLL distinct count + quartiles.

    One hash aggregation, all sketch state mergeable map-side — the
    shuffle carries sketches, not rows. percentile_approx runs at
    accuracy 10000 (inverse epsilon: ~0.01% rank error).
    """
    return df.groupBy(group_col).agg(
        F.approx_count_distinct(distinct_col).alias("approx_distinct"),
        F.percentile_approx(
            value_col, [0.25, 0.5, 0.75], 10000
        ).alias("approx_quartiles"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


def heavy_hitters(
    df: DataFrame, key_col: str, k: int = 10, capacity: int = 1024
) -> DataFrame:
    """Top-``k`` most frequent keys with EXACT counts, without a
    full-cardinality aggregation: per-partition Misra-Gries candidate
    summaries (bounded state ``capacity`` counters, streamed across the
    partition's Arrow batches) → union the survivors (dimension-sized:
    ≤ capacity · partitions) → one exact count over candidate rows only
    via broadcast semi-join → TakeOrdered(k).

    Guarantee (the standard MG bound, distributed by pigeonhole): any
    key with global share > 1/``capacity`` has local share >
    1/``capacity`` in at least one partition, survives that summary,
    and therefore gets an exact global count — so the returned top-k is
    exact whenever the k-th heavy hitter's share exceeds
    1/``capacity``. Keys below that share may be missed (the sketch
    trade); size ``capacity`` ≫ k. The second pass scans the input
    again — at 100 TB prefer reading from the same materialized scan
    (cache/checkpoint), or accept 2 linear passes over a
    full-cardinality shuffle of e.g. all n-grams.

    Output: ``(key_col, freq BIGINT)``, ordered (freq DESC, key ASC) —
    deterministic whenever the guarantee holds.
    """
    src = df.select(F.col(key_col).cast("string").alias(key_col)).filter(
        F.col(key_col).isNotNull()
    )

    def mg_partition(batches):
        # batched mergeable form (Agarwal/Cormode/Huang/Phillips/Wei/Yi,
        # "Mergeable Summaries"): exact-count each Arrow batch
        # vectorized, merge into the summary, then shrink by
        # subtracting the (capacity+1)-th largest count — identical
        # error bound (≤ n_p/capacity undercount) to row-at-a-time MG,
        # ~100x less Python per row
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            for v, c in pdf[key_col].value_counts().items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > capacity:
                sub = sorted(counters.values(), reverse=True)[capacity]
                counters = {
                    key: cnt - sub
                    for key, cnt in counters.items()
                    if cnt > sub
                }
        yield pd.DataFrame({key_col: list(counters.keys())})

    candidates = (
        src.mapInPandas(mg_partition, f"{key_col} string").distinct()
    )
    exact = (
        src.join(F.broadcast(candidates), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    return exact.orderBy(F.col("freq").desc(), F.col(key_col).asc()).limit(k)
