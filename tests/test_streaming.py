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
    s_df = sw.tumbling_agg(stream, "ts", "1 hour", ["event_type"], aggs,
                           watermark="1 minute")
    assert s_df.isStreaming
    s = _run_stream(spark, s_df, "t_tumble")
    cols = ["window_start_us", "event_type", "n_events", "total_value"]
    assert _sorted_rows(s, cols) == _sorted_rows(b, cols)


def test_session_stream_equals_batch(spark, events_stream):
    batch, stream = events_stream
    aggs = [F.count(F.lit(1)).cast("long").alias("n_events")]
    b = sw.session_agg(batch, "ts", "1 day", ["user_id"], aggs)
    s_df = sw.session_agg(stream, "ts", "1 day", ["user_id"], aggs,
                          watermark="1 minute")
    s = _run_stream(spark, s_df, "t_session")
    cols = ["user_id", "session_start_us", "session_end_us", "n_events"]
    assert _sorted_rows(s, cols) == _sorted_rows(b, cols)


def test_sliding_stream_equals_batch(spark, events_stream):
    batch, stream = events_stream
    aggs = [F.count(F.lit(1)).cast("long").alias("n_events")]
    b = sw.sliding_agg(batch, "ts", "2 hours", "1 hour", [], aggs)
    s_df = sw.sliding_agg(stream, "ts", "2 hours", "1 hour", [], aggs,
                          watermark="1 minute")
    s = _run_stream(spark, s_df, "t_slide")
    cols = ["window_start_us", "n_events"]
    assert _sorted_rows(s, cols) == _sorted_rows(b, cols)


def test_transform_with_state_totals_and_timer_close(spark, tmp_path):
    """transformWithState: running totals accumulate across
    micro-batches, and the event-time timer publishes a final closed=1
    row (and clears state) once the watermark passes last-event + gap.

    Key 1 goes quiet early -> its timer (last event 00:10 + 1 minute)
    expires when the second file advances the watermark to 01:59 and a
    closed row with the full totals appears. Key 2 is active to the end
    -> never closed.

    Environment prerequisites (tests/conftest.py provides both):
    ``google.protobuf`` for the state-server protocol (vendored shim in
    tests/_vendor when no site-package exists) and the RocksDB state
    store provider — transformWithState keeps each state variable in
    its own column family, which HDFSBackedStateStoreProvider does not
    support."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState's state-server protocol needs "
        "protobuf, which this environment does not ship; the operator "
        "is exercised wherever protobuf exists",
    )
    import datetime as dt

    from tcga_query_project_spark.streaming.stateful import (
        running_totals_tws,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    def t(minute, second=0):
        return dt.datetime(2024, 1, 1, 0, minute, second)

    schema = "user_id long, value double, ts timestamp"
    half1 = [(1, 10.0, t(0)), (1, 5.0, t(0, 10)), (2, 1.0, t(0, 20))]
    # second file: only key 2, two hours later — watermark jumps far
    # past key 1's (00:00:10 + 1 min) timer
    half2 = [(2, 4.0, t(59)), (2, 2.0, t(59, 30))]
    spark.createDataFrame(half1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(half2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = running_totals_tws(
        stream, "user_id", "value", "ts", inactivity_gap="1 minute"
    )
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = (
            out.writeStream.format("memory")
            .queryName("t_tws")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if prev_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev_provider)
    rows = spark.sql("SELECT * FROM t_tws").collect()
    closed = {r["key"]: (r["n_events"], r["total_value"]) for r in rows if r["closed"] == 1}
    updates = {}
    for r in rows:
        if r["closed"] == 0:
            updates[r["key"]] = (r["n_events"], r["total_value"])
    # key 1 finalized with its full totals; key 2 still open
    assert closed == {1: (2, 15.0)}
    assert updates[2] == (3, 7.0)


def test_transform_with_state_plan_builds(spark, tmp_path):
    """Plan-level smoke for running_totals_tws that runs WITHOUT
    protobuf: the unstarted streaming plan must analyze with the
    documented output schema (execution is covered by the timer test
    where the environment allows it)."""
    from tcga_query_project_spark.streaming.stateful import (
        TOTALS_TWS_SCHEMA,
        running_totals_tws,
    )

    schema = "user_id long, value double, ts timestamp"
    stream = spark.readStream.schema(schema).parquet(str(tmp_path))
    out = running_totals_tws(stream, "user_id", "value", "ts", "5 minutes")
    assert out.isStreaming
    assert out.schema == TOTALS_TWS_SCHEMA


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
        watermark="10 minutes",
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


def test_stream_dedup_drops_duplicates(spark, tmp_path_factory):
    """exact_dedup_stream over a stream carrying every event twice must
    emit each event_id once (duplicates arrive within the watermark)."""
    from tcga_query_project_spark.streaming import dedup as sd

    path = str(tmp_path_factory.mktemp("events_dup"))
    batch = read_events(spark, SF)
    doubled = batch.unionAll(batch)
    doubled.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(batch.schema).parquet(path)

    deduped = sd.exact_dedup_stream(stream, ["event_id"], "ts", "1 hour")
    assert deduped.isStreaming
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM t_dedup").collect()[0]
    want = batch.select("event_id").distinct().count()
    assert got["n"] == want and got["d"] == want
    # batch path: same call, same scope
    assert sd.exact_dedup_stream(doubled, ["event_id"]).count() == want


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


def test_near_dup_dedup_stream_bands(spark, tmp_path):
    """Streaming LSH near-dedup: an exact re-arrival collides on every
    band and is dropped; a novel document passes; a too-short document
    passes unconditionally; and the batch run over the union equals the
    drained stream (same hash family, same decision rule)."""
    import datetime as dt

    from tcga_query_project_spark.streaming.neardup import (
        near_dup_dedup_stream,
    )

    def t(minute):
        return dt.datetime(2024, 1, 1, 0, minute)

    a = "the quick brown fox jumps over the lazy dog today"
    b = "entirely different words describing some other topic completely"
    schema = "doc_id long, text string, ts timestamp"
    half1 = [(1, a, t(0)), (2, b, t(1))]
    # 3 = exact re-arrival; 4 and 5 both short — TWO distinct short
    # docs pin the regression where empty shingles produced n_bands
    # sentinel ('', band) keys and short docs deduped against each other
    half2 = [(3, a, t(2)), (4, "hi", t(3)), (5, "yo", t(3))]
    # append-mode aggregates emit only when the watermark passes the
    # window end: a late flush doc advances it past [00:00, 00:10)
    # (its own window stays open, so it is never emitted itself)
    flush = [(99, "late watermark advancing flush document here now", t(59))]
    src = str(tmp_path / "src")
    spark.createDataFrame(half1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(half2, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(flush, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = near_dup_dedup_stream(stream, "doc_id", "text", "ts", delay="3 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("t_neardup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM t_neardup").collect()
    passed = sorted(r["doc_id"] for r in rows)
    assert 1 in passed and 2 in passed      # novel docs pass
    assert 3 not in passed                  # exact re-arrival: all bands seen
    assert 4 in passed and 5 in passed      # short docs: no bands, both pass
    assert 99 not in passed                 # flush doc's window never closed

    # batch form over the same (pre-flush) docs: same decision rule
    batch = spark.createDataFrame(half1 + half2, schema)
    bpassed = sorted(
        r["doc_id"]
        for r in near_dup_dedup_stream(
            batch, "doc_id", "text", "ts", delay="3 minutes"
        ).collect()
    )
    assert bpassed == passed


def test_streaming_minhash_values_match_batch_family(spark):
    """The streaming near-dedup's per-row expression MinHash must be
    bit-identical to the batch module's exploded-aggregation family —
    same shingles, same md5 parse, same permutation, same mins."""
    from tcga_query_project_spark.operators import dedup
    from tcga_query_project_spark.streaming.neardup import (
        _band_sigs_expr,
        _shingle_expr,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "entirely different words describing some other topic completely"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # batch: wide _mh columns
    batch = {
        r["doc_id"]: [r[f"_mh{i}"] for i in range(1, 9)]
        for r in dedup.minhash_signature_arrays(
            dedup.shingle_array(df, "doc_id", "text", 3), "doc_id", 8
        ).collect()
    }
    # streaming: band structs of raw min strings, band_size=1 so each
    # band_sig IS one minhash value
    stream_side = {
        r["doc_id"]: [int(b["band_sig"]) for b in r["bands"]]
        for r in df.select(
            "doc_id",
            _band_sigs_expr(_shingle_expr(F.col("text"), 3), 8, 1).alias(
                "bands"
            ),
        ).collect()
    }
    assert batch == stream_side


def test_streaming_banded_kernel_matches_expr(spark):
    """The Arrow-batched band kernel (the streaming hot path since
    round 8) must produce exactly the rows of the interpreted
    HOF-expression form — same shingling (Java trim/split semantics),
    same md5 parse, same permutation mins, same band grouping — across
    tabs/newlines, repeated shingles, short docs, and NULL text."""
    from tcga_query_project_spark.streaming.neardup import (
        _band_sigs_expr,
        _banded_rows_map_in_pandas,
        _shingle_expr,
    )

    docs = [
        (1, "the quick\tbrown fox\n jumps  over the lazy dog today", 10),
        (2, "  entirely different words describing other topics  ", 20),
        (3, "too short", 30),  # < k tokens: no band rows
        (4, None, 40),  # NULL text: no band rows
        (5, "a a a a a a", 50),  # one distinct shingle
        # boundary empty tokens (round-8 review): SQL trim strips ONLY
        # U+0020, and Java split keeps leading/trailing empties — these
        # docs tokenize as ['foo','bar',''] / ['','lead','tab'], i.e.
        # 3 tokens with an EMPTY boundary token that must flow into the
        # shingles, exactly like the expression form
        (6, "foo bar\n", 60),
        (7, "\tlead tab", 70),
        (8, "two toks\t", 80),  # ['two','toks',''] -> 3 tokens, bands
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, ts_s long") \
        .select("doc_id", "text", F.timestamp_seconds("ts_s").alias("ts"))
    expr_rows = sorted(
        (r["doc_id"], r["_b"]["band"], r["_b"]["band_sig"])
        for r in df.select(
            "doc_id",
            F.explode(
                _band_sigs_expr(_shingle_expr(F.col("text"), 3), 8, 2)
            ).alias("_b"),
        ).collect()
    )
    kernel_rows = sorted(
        (r["doc_id"], r["_band"], r["_band_sig"])
        for r in _banded_rows_map_in_pandas(
            df, "doc_id", "text", "ts", 3, 8, 2
        ).collect()
    )
    assert kernel_rows == expr_rows
    assert {t[0] for t in kernel_rows} == {1, 2, 5, 6, 7, 8}


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


def test_near_dup_stream_null_text_passes_through(spark, tmp_path):
    """NULL-text documents must land in the short-doc branch (batch
    family treats NULL as unshingleable), not vanish: under ANSI,
    size(tokens(NULL)) is NULL and an unguarded branch split drops
    the row from BOTH branches."""
    import datetime as dt

    from tcga_query_project_spark.streaming.neardup import (
        near_dup_dedup_stream,
    )

    rows = [
        (1, None, dt.datetime(2000, 1, 1, 0, 0)),
        (2, "", dt.datetime(2000, 1, 1, 0, 1)),
        (3, "the quick brown fox jumps over the lazy dog every day",
         dt.datetime(2000, 1, 1, 0, 2)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")
    out = near_dup_dedup_stream(
        df, "doc_id", "text", "ts",
        k=3, num_hashes=8, band_size=2,
        delay="10 minutes", window="1 hour",
    )
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {1, 2, 3}  # NULL and empty text pass through


def test_transition_pairs_stream_equals_batch(spark, tmp_path):
    """Stateful transition tracking: the carried last event must chain
    across micro-batches (u1's last event of file 1 pairs with its
    first of file 2), and on event-time-ordered input the emitted pair
    multiset equals temporal.transition_matrix's counts on the union."""
    from datetime import datetime as dt

    from tcga_query_project_spark.operators import temporal
    from tcga_query_project_spark.streaming.stateful import transition_pairs

    def t(m):
        return dt(2024, 1, 1, 0, m)

    schema = "event_id long, user_id long, ts timestamp, event_type string"
    # COLLIDING timestamps inside a batch (tiebreak by event_id) and a
    # NULL type (a real state)
    half1 = [
        (1, 1, t(0), "a"), (2, 1, t(0), "b"), (3, 2, t(1), "a"),
        (4, 3, t(1), None),
    ]
    half2 = [
        (5, 1, t(2), "a"), (6, 2, t(3), "b"), (7, 3, t(3), "c"),
        (8, 1, t(4), "b"),
    ]
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(half1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(half2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = transition_pairs(stream, "user_id", "ts", "event_type", "event_id")
    q = (
        out.writeStream.format("memory")
        .queryName("t_transitions")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {}
    for r in spark.sql("SELECT * FROM t_transitions").collect():
        k = (r["from_type"], r["to_type"])
        got[k] = got.get(k, 0) + 1
    batch = spark.createDataFrame(half1 + half2, schema)
    want = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in temporal.transition_matrix(
            batch, "user_id", "ts", "event_type", "event_id"
        ).collect()
    }
    assert got == want
    # the cross-batch chain specifically: u1 file1-tail 'b' -> file2
    # head 'a' exists only if state crossed the trigger boundary
    assert got[("b", "a")] >= 1


def test_transition_pairs_null_timestamp_does_not_crash(spark, tmp_path):
    """Review regression: a NULL timestamp (NaN after unix_micros in
    pandas) must sort FIRST like the batch operator's asc_nulls_first —
    not become the carried tail and crash int() conversion."""
    from datetime import datetime as dt

    from tcga_query_project_spark.operators import temporal
    from tcga_query_project_spark.streaming.stateful import transition_pairs

    schema = "event_id long, user_id long, ts timestamp, event_type string"
    rows = [
        (2, 1, dt(2024, 1, 1, 0, 1), "b"),
        (1, 1, None, "a"),  # NULL ts: sorts first, 'a' -> 'b'
        (3, 2, None, "c"),  # lone NULL-ts event: state must store it
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = transition_pairs(stream, "user_id", "ts", "event_type", "event_id")
    q = (
        out.writeStream.format("memory")
        .queryName("t_null_ts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["from_type"], r["to_type"])
        for r in spark.sql("SELECT * FROM t_null_ts").collect()
    }
    batch = spark.createDataFrame(rows, schema)
    want = {
        (r["from_type"], r["to_type"])
        for r in temporal.transition_matrix(
            batch, "user_id", "ts", "event_type", "event_id"
        ).collect()
    }
    assert got == want == {("a", "b")}


def test_windowed_psi_stream_equals_batch(spark, tmp_path):
    """Streaming windowed PSI vs a batch recompute THROUGH THE SAME
    shared algebra (psi_from_counts): per closed window the report
    must match exactly; the planted-skew window must flag drifted and
    the baseline-shaped window must not."""
    import datetime as dt

    from pyspark.sql import functions as F

    from tcga_query_project_spark.operators.quality_audit import (
        binned_features,
    )
    from tcga_query_project_spark.streaming import quality as sq

    def t(h, m=0):
        return dt.datetime(2024, 1, 1, h, m)

    # baseline: balanced types, small values
    base_rows = [(et, 5.0) for et in ("a", "b") for _ in range(10)]
    baseline = spark.createDataFrame(
        base_rows, "event_type string, value double"
    )
    feats = dict(
        categorical=["event_type"], numeric={"value": [0.0, 10.0]}
    )

    # window 10:00 mirrors the baseline; window 11:00 is all-'b' with
    # large values (drift); 23:00 tail closes both under a 10m watermark
    rows = (
        [(t(10, i), "a", 5.0) for i in range(5)]
        + [(t(10, 30 + i), "b", 5.0) for i in range(5)]
        + [(t(11, i), "b", 50.0) for i in range(10)]
        + [(t(23, 0), "a", 5.0)]
    )
    schema = "ts timestamp, event_type string, value double"
    src = str(tmp_path / "psi_src")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    report_path = str(tmp_path / "psi_report")
    q = sq.start_windowed_psi(
        stream,
        "ts",
        baseline,
        report_path,
        str(tmp_path / "psi_ckpt"),
        window="1 hour",
        watermark="10 minutes",
        **feats,
    )
    q.awaitTermination(120)

    got = {
        (r["window_start_us"], r["feature"]): (
            r["psi"],
            r["n_bins"],
            r["drifted"],
        )
        for r in spark.read.parquet(report_path).collect()
    }

    # batch recompute: same binning + same shared PSI algebra
    batch = spark.createDataFrame(rows, schema)
    batch_counts = (
        binned_features(batch, feats["numeric"], feats["categorical"],
                        extra_cols=["ts"])
        .groupBy(F.window("ts", "1 hour"), "feature", "bin")
        .agg(F.count(F.lit(1)).cast("double").alias("cur_n"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "feature", "bin", "cur_n",
        )
    )
    ref = sq.baseline_counts(baseline, **feats)
    want_all = {
        (r["window_start_us"], r["feature"]): (
            r["psi"],
            r["n_bins"],
            r["drifted"],
        )
        for r in sq.psi_report_for_batch(batch_counts, ref).collect()
    }
    closed = {k: v for k, v in want_all.items() if k in got}
    # both 10:00 and 11:00 closed (23:00 itself cannot, by design)
    us = lambda h: int(
        dt.datetime(2024, 1, 1, h, tzinfo=dt.timezone.utc).timestamp()
    ) * 1_000_000
    assert {w for w, _ in got} == {us(10), us(11)}
    assert got == closed
    # semantics: the skewed window drifts on both features, the
    # baseline-shaped window on neither
    assert got[(us(11), "event_type")][2] and got[(us(11), "value")][2]
    assert not got[(us(10), "event_type")][2]
    assert not got[(us(10), "value")][2]
