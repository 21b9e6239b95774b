"""Batch/stream symmetry tests (SURVEY.md §2.10): the same
streaming/windows.py functions run over a readStream source with a
watermark and must produce exactly the batch results once the stream
drains (availableNow trigger → memory sink)."""

import pytest
from pyspark.sql import functions as F

from tcga_query_project_spark.sources.io import read_events
from tcga_query_project_spark.streaming import windows as sw

SF = "/root/testdata/sf0.001"


def _run_stream(spark, build, name):
    """Run a streaming query to completion (availableNow) and return
    the memory-sink rows."""
    q = (
        build.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


@pytest.fixture(scope="module")
def events_stream(spark, tmp_path_factory):
    # materialize events with a clean micros timestamp, then re-read it
    # as a file stream — the readStream side of the same table.
    path = str(tmp_path_factory.mktemp("events_stream"))
    batch = read_events(spark, SF)
    batch.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(batch.schema).parquet(path)
    return batch, stream


def _sorted_rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_tumbling_stream_equals_batch(spark, events_stream):
    batch, stream = events_stream
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    ]
    b = sw.tumbling_agg(batch, "ts", "1 hour", ["event_type"], aggs)
    s_df = sw.tumbling_agg(stream, "ts", "1 hour", ["event_type"], aggs)
    assert s_df.isStreaming
    s = _run_stream(spark, s_df, "t_tumble")
    cols = ["window_start_us", "event_type", "n_events", "total_value"]
    assert _sorted_rows(s, cols) == _sorted_rows(b, cols)


def test_session_stream_equals_batch(spark, events_stream):
    batch, stream = events_stream
    aggs = [F.count(F.lit(1)).cast("long").alias("n_events")]
    b = sw.session_agg(batch, "ts", "1 day", ["user_id"], aggs)
    s_df = sw.session_agg(stream, "ts", "1 day", ["user_id"], aggs)
    s = _run_stream(spark, s_df, "t_session")
    cols = ["user_id", "session_start_us", "session_end_us", "n_events"]
    assert _sorted_rows(s, cols) == _sorted_rows(b, cols)


def test_sliding_stream_equals_batch(spark, events_stream):
    batch, stream = events_stream
    aggs = [F.count(F.lit(1)).cast("long").alias("n_events")]
    b = sw.sliding_agg(batch, "ts", "2 hours", "1 hour", [], aggs)
    s_df = sw.sliding_agg(stream, "ts", "2 hours", "1 hour", [], aggs)
    s = _run_stream(spark, s_df, "t_slide")
    cols = ["window_start_us", "n_events"]
    assert _sorted_rows(s, cols) == _sorted_rows(b, cols)


def test_watermark_drops_late_data_in_append_mode(spark, tmp_path):
    """Late-data handling: an event older than the committed watermark
    must be excluded from its (already-finalized) window; append mode
    emits a window only once the watermark passes its end.

    Batches are driven one write + processAllAvailable at a time —
    under a single availableNow run the source pre-plans every file
    against the start-of-run watermark, so the late row would not yet
    be late (observed empirically; the sequential-commit form below is
    the semantics the engine promises).
    """
    import datetime as dt

    def t(h, m=0):
        return dt.datetime(2024, 1, 1, h, m)

    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")
    schema = "ts timestamp, value double"
    spark.createDataFrame(
        [(t(10, 30), 1.0), (t(11, 30), 1.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    agg = sw.tumbling_agg(
        stream,
        "ts",
        "1 hour",
        [],
        [F.count(F.lit(1)).cast("long").alias("n")],
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1 → watermark 11:20
        # batch 2: LATE event at 05:00 (dropped) + 20:00 (advances wm)
        spark.createDataFrame(
            [(t(5, 0), 99.0), (t(20, 0), 1.0)], schema
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        # batch 3: push the watermark past 21:00 so 20:00 emits too
        spark.createDataFrame([(t(23, 0), 1.0)], schema).coalesce(
            1
        ).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["window_start_us"]: r["n"]
        for r in spark.sql("SELECT * FROM t_late").collect()
    }
    us = lambda h: int(
        dt.datetime(2024, 1, 1, h, tzinfo=dt.timezone.utc).timestamp()
    ) * 1_000_000
    assert us(5) not in got, "late event must be dropped, not resurrected"
    assert got.get(us(10)) == 1 and got.get(us(11)) == 1
    assert got.get(us(20)) == 1


def test_rollup_hierarchy_equals_direct_tumbling(spark):
    """st_rollup_hierarchy computes hourly aggregates FROM minute
    partials; dropping the standalone tumbling-hourly query is only
    sound if the re-aggregation is value-identical to aggregating the
    raw events directly into hourly buckets."""
    from tests.conftest import SF_SMALL
    from tcga_query_project_spark.catalog import BENCH_ONLY, REGISTRY

    rolled = (
        {**BENCH_ONLY, **REGISTRY}["st_rollup_hierarchy"]
        .build(spark, SF_SMALL)
        .toPandas()
    )
    ev = read_events(spark, SF_SMALL)
    direct = (
        sw.tumbling_agg(
            ev,
            "ts",
            "1 hour",
            ["event_type"],
            [
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.round(F.sum("value"), 4).alias("total_value"),
            ],
        )
        .select("window_start_us", "event_type", "n_events", "total_value")
        .toPandas()
    )
    key = ["window_start_us", "event_type"]
    rolled = rolled.sort_values(key).reset_index(drop=True)
    direct = direct.sort_values(key).reset_index(drop=True)
    assert rolled[key + ["n_events"]].equals(direct[key + ["n_events"]])
    # the rollup rounds minute partials to 4 decimals before re-summing
    # (hash-portability convention), so allow <=5e-5 per contributing
    # minute of drift vs the direct hourly sum
    assert (rolled["total_value"] - direct["total_value"]).abs().max() < 0.01


def test_enrich_with_scd2_event_time_versions(spark, tmp_path):
    """Point-in-time dimension enrichment: each event joins the SCD2
    version valid at ITS OWN timestamp (late replays included), the
    match is unique (no fan-out), pre-history events get NULLs, and
    the drained stream equals the batch join."""
    import datetime as dt

    from tcga_query_project_spark.operators.temporal import scd2_intervals
    from tcga_query_project_spark.streaming.joins import enrich_with_scd2

    def t(h):
        return dt.datetime(2024, 1, 1, h)

    changes = spark.createDataFrame(
        [(1, t(1), "bronze"), (1, t(5), "gold"), (2, t(2), "silver")],
        "cust long, ts timestamp, tier string",
    )
    dim = scd2_intervals(changes, "cust", "ts", ["tier"])

    events_rows = [
        (10, 1, t(0)),   # before any version -> NULL tier
        (11, 1, t(3)),   # bronze era
        (12, 1, t(5)),   # boundary: gold starts AT its change ts
        (13, 1, t(9)),   # current era -> gold
        (14, 2, t(8)),   # silver (open-ended)
    ]
    schema = "event_id long, cust long, ts timestamp"
    batch = spark.createDataFrame(events_rows, schema)

    expect = {10: None, 11: "bronze", 12: "gold", 13: "gold", 14: "silver"}
    b = enrich_with_scd2(batch, dim, "cust", "ts")
    got_b = {r["event_id"]: r["tier"] for r in b.collect()}
    assert got_b == expect
    assert b.count() == len(events_rows)  # unique match: no fan-out

    src = str(tmp_path / "src")
    batch.write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    s = enrich_with_scd2(stream, dim, "cust", "ts")
    assert s.isStreaming
    q = (
        s.writeStream.format("memory")
        .queryName("t_scd2_enrich")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_s = {
        r["event_id"]: r["tier"]
        for r in spark.sql("SELECT * FROM t_scd2_enrich").collect()
    }
    assert got_s == expect
