"""Stream-stream joins (north-star §2.10).

Structured Streaming's stream-stream inner join needs BOTH a key
equality and a time-interval condition plus watermarks on both sides —
that is what lets each side's join state be evicted once the watermark
passes the interval, keeping state bounded on an unbounded stream.
Written (like streaming/windows.py) so the same call works on batch
DataFrames: batch inputs skip the watermark and produce the identical
rows, which is exactly what the symmetry test asserts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_with_scd2(
    stream: DataFrame,
    dim: DataFrame,
    key: str,
    ts_col: str,
) -> DataFrame:
    """Point-in-time dimension enrichment for a stream: join each event
    to the SCD2 dimension version that was valid AT THE EVENT'S OWN
    TIME — `` dim.valid_from <= ts AND (valid_to IS NULL OR ts <
    valid_to)`` — not the version current when the event happens to be
    processed. The difference is exactly late data: an event replayed
    an hour later must still see the dimension as of its event time, or
    reprocessing changes answers.

    Spark executes this as a stream-STATIC join (the dimension is a
    batch DataFrame): stateless, no watermark needed, and the static
    side broadcasts when dimension-sized — each micro-batch is one
    map-side lookup. The SCD2 interval guarantee (gap-free,
    non-overlapping per key — property-tested in
    ``test_properties``) makes the match unique, so the join cannot
    fan out rows. Rebuild/refresh the dim with
    ``operators/temporal.scd2_intervals``; restart the query to pick
    up a re-read dimension (stream-static joins bind the static
    snapshot at query start — the documented Spark contract).

    Works identically on a batch ``stream`` input (same plan, minus the
    micro-batching), which is how the stream==batch test pins it.
    """
    # disambiguate the self-lineage case: when the dimension derives
    # from the same source as the stream (clicks enriching purchases
    # of one events table), unaliased stream[key] == dim[key] resolves
    # ambiguously and the post-join drop can keep the WRONG side's key
    # (observed: null keys on unmatched rows). The dim key renames to
    # a private column and the event side gets an alias the condition
    # references by name.
    left = stream.alias("_evt")
    d = dim.select(
        F.col(key).alias("_dimkey"),
        F.col("valid_from").alias("_vf"),
        F.col("valid_to").alias("_vt"),
        *[
            F.col(c)
            for c in dim.columns
            if c not in (key, "valid_from", "valid_to")
        ],
    )
    ev_key = F.col(f"_evt.{key}")
    ev_ts = F.col(f"_evt.{ts_col}")
    cond = (
        (ev_key == F.col("_dimkey"))
        & (F.col("_vf") <= ev_ts)
        & (F.col("_vt").isNull() | (ev_ts < F.col("_vt")))
    )
    return (
        left.join(d, cond, "left")
        .drop("_dimkey")
        .withColumnRenamed("_vf", "dim_valid_from")
        .withColumnRenamed("_vt", "dim_valid_to")
    )
