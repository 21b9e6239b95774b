"""Source/sink layer tests (SURVEY.md §2.1 S1-S5)."""

import os

from pyspark.sql import functions as F

from tcga_query_project_spark.sources import io


def test_checkpoint_ladder_hit_and_miss(spark, tmp_path):
    """S2/S3: first call computes + writes; second call must read the
    parquet back instead of recomputing (the readRDS branch)."""
    stage = str(tmp_path)
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out1 = io.checkpoint(df, stage, "stage_a")
    assert out1.count() == 100
    assert os.path.exists(os.path.join(stage, "stage_a", "_SUCCESS"))
    # cache hit: pass a different frame; the checkpoint must win
    other = spark.range(5)
    out2 = io.checkpoint(other, stage, "stage_a")
    assert out2.count() == 100  # read back, not recomputed
    # overwrite forces recompute (the cache-ladder "re-download" branch)
    out3 = io.checkpoint(other, stage, "stage_a", overwrite=True)
    assert out3.count() == 5


def test_write_csv_single_blank_fills_nulls(spark, tmp_path):
    """S5 + P8: single-file CSV with NA → '' blank-fill."""
    df = spark.createDataFrame(
        [("a", 1.0), (None, 2.0)], "name string, v double"
    )
    path = str(tmp_path / "out_csv")
    io.write_csv_single(df, path)
    files = [f for f in os.listdir(path) if f.endswith(".csv")]
    assert len(files) == 1  # coalesce(1) single-file shape
    text = open(os.path.join(path, files[0])).read()
    assert "name,v" in text
    assert '"",2.0' in text or ",2.0" in text  # null → blank


def test_read_events_normalizes_nanos(spark):
    ev = io.read_events(spark, "/root/testdata/sf0.001")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.count() > 0


def test_write_bucketed_elides_shuffle(spark, tmp_path):
    """Bucketed layout: a groupBy on the bucket key over the saved table
    must plan without an Exchange (the 100 TB co-location strategy)."""
    # table lands in ./spark-warehouse (gitignored); dropped in finally
    df = spark.range(10_000).withColumn("gene_id", F.col("id") % 100).withColumn(
        "cnt", F.col("id") % 7
    )
    io.write_bucketed(df, "bucketed_expr_test", ["gene_id"], n_buckets=8)
    try:
        scan = spark.table("bucketed_expr_test")
        agg = scan.groupBy("gene_id").sum("cnt")
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS bucketed_expr_test")


def test_gdc_ingest_star_layout_prunes_and_elides(spark, tmp_path):
    """S4 ingest side, end-to-end: chunked executor-side fetch ->
    star-schema normalize -> layout-aware write. The written layout
    must (a) partition-prune a GDCquery-style cohort predicate on
    samples, (b) elide the gene-key shuffle on the bucketed expression
    fact, (c) be deterministic (same barcodes -> same records)."""
    from tcga_query_project_spark.sources import ingest

    barcodes = [f"TCGA-{proj}-{i:04d}-01A" for proj in ("BR", "LU")
                for i in range(10)]
    base = str(tmp_path / "star")
    tables = ingest.ingest_gdc_star(
        spark, barcodes, base, files_per_chunk=4,
        expression_table="ingest_expr_test", n_buckets=8,
    )
    try:
        # fact: one row per (case, gene); dims: one row per key
        assert tables["expression"].count() == len(barcodes) * 50
        assert tables["samples"].count() == len(barcodes)
        assert tables["genes"].count() == 50
        samp = tables["samples"].collect()
        assert all(r["submitter_id"] == r["barcode"][:12] for r in samp)

        # (a) the GDCquery predicates prune partitions: the filtered
        # scan plans PartitionFilters, not a full-directory read
        cohort = tables["samples"].filter(
            (F.col("project") == "TCGA-BR")
            & (F.col("short_letter_code") == "TP")
        )
        plan = cohort._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert "project" in plan.split("PartitionFilters")[1][:200]
        expect_tp_br = [
            r for r in samp
            if r["project"] == "TCGA-BR" and r["short_letter_code"] == "TP"
        ]
        assert cohort.count() == len(expect_tp_br) > 0

        # (b) per-gene aggregation over the bucketed fact: no Exchange
        agg = tables["expression"].groupBy("gene_id").sum("count")
        aplan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in aplan, aplan

        # (c) deterministic fetch: a second ingest of the same manifest
        # produces identical (barcode, gene_id, count) triples
        again = ingest.fetch_chunked(
            spark.createDataFrame([(b,) for b in barcodes], "barcode string"),
            ingest.simulated_gdc_fetcher(),
            files_per_chunk=4,
        ).select("barcode", "gene_id", "count")
        first = tables["expression"].select("barcode", "gene_id", "count")
        assert first.exceptAll(again).count() == 0
        assert again.exceptAll(first).count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS ingest_expr_test")


def test_gdc_ingest_feeds_de_pipeline_end_to_end(spark, tmp_path):
    """Closing the reference's full loop: the ingest job's written star
    schema is directly consumable by entry point A (differential
    expression on vital_status) — the GDCdownload -> GDCprepare ->
    DESeq chain with no adapter glue. The per-gene stage runs over the
    gene-bucketed fact, so its groupBy plans without an extra
    exchange beyond the bucketed layout's own scan."""
    from tcga_query_project_spark.pipelines import differential_expression as dp
    from tcga_query_project_spark.sources import ingest

    barcodes = [f"TCGA-BR-{i:04d}-01A" for i in range(24)]
    base = str(tmp_path / "star")
    tables = ingest.ingest_gdc_star(
        spark, barcodes, base, files_per_chunk=8,
        expression_table="ingest_de_test", n_buckets=4,
    )
    try:
        de = dp.differential_expression(
            tables["expression"],
            tables["genes"],
            tables["samples"],
            "vital_status",
            "Alive",
            "Dead",
        ).collect()
        # one row per surviving gene, BH-adjusted and binned
        assert 0 < len(de) <= 50
        for r in de:
            assert r["padj"] is None or 0.0 <= r["padj"] <= 1.0
            assert r["gene_id"].startswith("ENSG")
        assert any(r["padj"] is not None for r in de)
    finally:
        spark.sql("DROP TABLE IF EXISTS ingest_de_test")


def test_read_events_normalizes_any_encoding(spark, tmp_path):
    """read_events must yield the same TIMESTAMP for every encoding the
    driver might regenerate: int64 nanos/micros/millis/seconds, NTZ
    micros, and strings — the ts column is the one schema element that
    has changed between rounds."""
    import datetime as dt

    base = dt.datetime(2025, 6, 1, 12, 34, 56, 789000)
    epoch_us = int(base.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    cases = {
        "nanos": epoch_us * 1000,
        "micros": epoch_us,
        "millis": epoch_us // 1000,
        "seconds": epoch_us // 1_000_000,
    }
    for name, raw in cases.items():
        d = str(tmp_path / name)
        spark.createDataFrame(
            [(1, raw, "click", 1.0)],
            "event_id long, ts long, event_type string, value double",
        ).write.parquet(f"{d}/events.parquet")
        out = io.read_events(spark, d).collect()[0]
        got_us = int(
            out["ts"].replace(tzinfo=dt.timezone.utc).timestamp() * 1e6
        )
        # sub-unit precision truncates with the coarser encodings
        unit_us = {"nanos": 1, "micros": 1, "millis": 1000,
                   "seconds": 1_000_000}[name]
        assert got_us == (epoch_us // unit_us) * unit_us, name
        assert dict(io.read_events(spark, d).dtypes)["ts"] == "timestamp"
    # string encoding
    d = str(tmp_path / "strts")
    spark.createDataFrame(
        [(1, "2025-06-01 12:34:56.789", "click", 1.0)],
        "event_id long, ts string, event_type string, value double",
    ).write.parquet(f"{d}/events.parquet")
    out = io.read_events(spark, d).collect()[0]
    assert out["ts"].replace(tzinfo=None) == base
    # INT32 epoch seconds — the only unit an int32 can hold; regression
    # for the unwidened `ts * 1000000` that overflowed under ANSI
    d = str(tmp_path / "int32s")
    spark.createDataFrame(
        [(1, epoch_us // 1_000_000, "click", 1.0)],
        "event_id long, ts int, event_type string, value double",
    ).write.parquet(f"{d}/events.parquet")
    out = io.read_events(spark, d).collect()[0]
    got_us = int(out["ts"].replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    assert got_us == (epoch_us // 1_000_000) * 1_000_000


def test_write_zordered_narrows_stats_on_every_dim(spark, tmp_path):
    """Z-order clustering: every output file's min-max footer range is
    narrow on BOTH curve columns (the multi-column data-skipping a
    single-column sort cannot give — its second column spans the whole
    domain in every file), and the rows round-trip unchanged."""
    import glob
    import random

    import pyarrow.parquet as pq

    from tcga_query_project_spark.operators.partitioning import (
        write_zordered,
    )

    rng = random.Random(3)
    rows = [
        (rng.randrange(0, 1024), rng.randrange(0, 1024), i)
        for i in range(40_000)
    ]
    df = spark.createDataFrame(rows, "x long, y long, id long")
    zpath = str(tmp_path / "z")
    write_zordered(df, zpath, ["x", "y"], n_files=8, bits=10)

    def span_fracs(path, col):
        fracs = []
        for f in glob.glob(path + "/*.parquet"):
            md = pq.read_metadata(f)
            names = [md.schema.column(k).name for k in range(md.num_columns)]
            j = names.index(col)
            los, his = [], []
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(j).statistics
                los.append(st.min)
                his.append(st.max)
            fracs.append((max(his) - min(los)) / 1023)
        return fracs

    zx, zy = span_fracs(zpath, "x"), span_fracs(zpath, "y")
    assert sum(zx) / len(zx) < 0.75, zx
    assert sum(zy) / len(zy) < 0.75, zy

    # single-column sort baseline: files cover the FULL y domain
    xpath = str(tmp_path / "xsort")
    (
        df.repartitionByRange(8, "x")
        .sortWithinPartitions("x")
        .write.parquet(xpath)
    )
    by = span_fracs(xpath, "y")
    assert min(by) > 0.9, by

    got = sorted(
        tuple(r) for r in spark.read.parquet(zpath).collect()
    )
    assert got == sorted(rows)


def test_write_zordered_degenerate_inputs(spark, tmp_path):
    """Empty input and an all-null curve column must still write
    (unclustered fallback), not abort the maintenance job."""
    from tcga_query_project_spark.operators.partitioning import (
        write_zordered,
    )

    empty = spark.createDataFrame([], "x long, y long")
    p1 = str(tmp_path / "empty")
    write_zordered(empty, p1, ["x", "y"])
    assert spark.read.parquet(p1).count() == 0

    nully = spark.createDataFrame(
        [(None, 1), (None, 2)], "x long, y long"
    )
    p2 = str(tmp_path / "nully")
    write_zordered(nully, p2, ["x", "y"])
    assert spark.read.parquet(p2).count() == 2


def test_zorder_rejects_key_overflow():
    """bits * dims > 63 would overflow the signed-64 Morton key into
    the sign bit (negative keys, broken curve order) — must raise, not
    silently wrap."""
    import pytest
    from pyspark.sql import functions as F

    from tcga_query_project_spark.operators.partitioning import (
        zorder_value,
    )

    cols = [F.col(f"c{i}") for i in range(7)]
    with pytest.raises(ValueError, match="63"):
        zorder_value(cols, bits=10)  # 70 bits
    # 7 dims at 9 bits (63) is the legal maximum
    zorder_value(cols, bits=9)


def _warc_record(rtype, uri, rid, body: bytes, extra=""):
    head = (
        f"WARC/1.0\r\n"
        f"WARC-Type: {rtype}\r\n"
        f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        f"{extra}"
        f"Content-Length: {len(body)}\r\n"
        f"\r\n"
    ).encode()
    return head + body + b"\r\n\r\n"


def _http_html(html: str) -> bytes:
    body = html.encode()
    return (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body
    )
