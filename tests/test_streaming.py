"""Structured Streaming: streaming extract == batch extract on the same
corpus; windowed stats with watermark; stateful progress counters."""

import pytest
from pyspark.sql import functions as F

from nolock_social_ocr_services_spark import corpus, pipeline
from nolock_social_ocr_services_spark.streaming import jobs


@pytest.fixture(scope="module")
def corpus_path(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream_corpus"))
    corpus.write_corpus(spark, sf_dir, path, partitions=8)
    return path


def test_stream_extract_matches_batch(spark, corpus_path, tmp_path_factory):
    stream = jobs.stream_extract(spark, corpus_path, max_files_per_trigger=2)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("stream_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT doc_id, offset, kind, mime, text, media_ref FROM stream_out"
    ).collect()
    batch = (
        pipeline.extract_spans(spark.read.parquet(corpus_path))
        .select("doc_id", "offset", "kind", "mime", "text", "media_ref")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))
    assert len(got) > 0


def test_windowed_stats_with_watermark(spark):
    rows = [
        ("2024-01-01 00:00:01", None),
        ("2024-01-01 00:00:02", "empty_ocr_text"),
        ("2024-01-01 00:00:07", None),
        ("2024-01-01 00:00:08", None),
    ]
    df = spark.createDataFrame(rows, "ts_s string, extract_error string").select(
        F.to_timestamp("ts_s").alias("ts"), "extract_error"
    )
    out = jobs.windowed_stats(df, window="5 seconds").orderBy("window_start")
    got = out.collect()
    assert len(got) == 2
    assert got[0].total == 2 and got[0].errors == 1 and got[0].success_rate == 0.5
    assert got[1].total == 2 and got[1].errors == 0 and got[1].success_rate == 1.0


def test_running_doc_counter_stateful(spark, corpus_path):
    schema = spark.read.parquet(corpus_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(corpus_path)
    )
    spans = pipeline.explode_spans(stream).select("doc_id", "offset")
    counted = jobs.running_doc_counter(spans)
    q = (
        counted.writeStream.format("memory")
        .queryName("progress_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # final per-doc count (last update) must equal the batch span count
    final = spark.sql(
        """SELECT doc_id, max(spans_seen) AS n FROM progress_out GROUP BY doc_id"""
    )
    batch = (
        spark.read.parquet(corpus_path)
        .select("doc_id", F.size("spans").alias("n"))
    )
    diff = final.join(batch, on="doc_id").filter("final.n != batch.n") \
        if False else final.alias("f").join(batch.alias("b"), on="doc_id").filter(
            F.col("f.n") != F.col("b.n")
        )
    assert diff.count() == 0
    assert final.count() == batch.count()


def test_stream_dedup_unbounded_matches_distinct(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sdedup"))
    rows = [(i % 7, f"payload-{i % 7}") for i in range(100)]
    spark.createDataFrame(rows, "k long, text string").repartition(6).write.mode(
        "overwrite"
    ).parquet(d)
    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(d)
    )
    q = (
        jobs.stream_dedup(stream, keys=("k",))
        .writeStream.format("memory")
        .queryName("sdedup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("sdedup_t")
    assert out.count() == 7  # one survivor per key across ALL triggers
    assert {r.k for r in out.collect()} == set(range(7))


def test_stream_dedup_within_watermark_bounds_state(spark, tmp_path_factory):
    import datetime as dt

    d = str(tmp_path_factory.mktemp("sdedup_wm"))
    base = dt.datetime(2024, 1, 1)
    rows = [
        (i % 5, base + dt.timedelta(seconds=i)) for i in range(50)
    ]
    spark.createDataFrame(rows, "k long, ts timestamp").coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    schema = spark.read.parquet(d).schema
    stream = spark.readStream.schema(schema).parquet(d)
    q = (
        jobs.stream_dedup(stream, keys=("k",), ts_col="ts", within="10 minutes")
        .writeStream.format("memory")
        .queryName("sdedup_wm_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("sdedup_wm_t")
    # all dups fall inside one watermark horizon -> exactly one row per key
    assert out.count() == 5
    assert {r.k for r in out.collect()} == set(range(5))


def test_priority_rate_limited_sink(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("prio"))
    rows = [(i, i % 3, f"req-{i}") for i in range(30)]  # priorities 0,1,2
    df = spark.createDataFrame(rows, "req_id long, priority long, body string")
    # 6 files -> maxFilesPerTrigger=2 gives ~3 admitted windows (the
    # rate limiter: un-admitted files stay queued in the source)
    df.repartition(6).write.mode("overwrite").parquet(d)
    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(d)
    )
    batches = []

    def process(batch_df, batch_id):
        batches.append([(r.priority, r.req_id) for r in batch_df.collect()])

    q = (
        jobs.priority_rate_limited_sink(
            stream, process, priority_col="priority", order_col="req_id"
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batches) >= 2  # admission happened in rate-capped windows
    seen = [x for b in batches for x in b]
    assert len(seen) == 30 and len({r for _, r in seen}) == 30  # nothing dropped
    for b in batches:  # within every admitted window: priority order
        assert b == sorted(b, key=lambda pr: (-pr[0], pr[1]))


def test_stream_stream_join_matches_batch(spark, tmp_path_factory):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    lrows = [(i, i % 4, base + dt.timedelta(seconds=20 * i)) for i in range(40)]
    rrows = [(100 + i, i % 4, base + dt.timedelta(seconds=20 * i + 5))
             for i in range(40)]
    ld = str(tmp_path_factory.mktemp("ssj_l"))
    rd = str(tmp_path_factory.mktemp("ssj_r"))
    lbatch = spark.createDataFrame(lrows, "event_id long, user_id long, ts timestamp")
    rbatch = spark.createDataFrame(rrows, "event_id long, user_id long, ts timestamp")
    lbatch.repartition(4).write.mode("overwrite").parquet(ld)
    rbatch.repartition(4).write.mode("overwrite").parquet(rd)
    schema = spark.read.parquet(ld).schema
    ls = spark.readStream.schema(schema).parquet(ld)
    rs = spark.readStream.schema(schema).parquet(rd)
    q = (
        jobs.stream_stream_join(ls, rs, watermark="30 seconds",
                                within="INTERVAL 2 MINUTES")
        .writeStream.format("memory")
        .queryName("ssj_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.l_event_id, r.r_event_id) for r in spark.table("ssj_t").collect()
    }
    expected = {
        (le, re)
        for le, lu, lt in lrows
        for re, ru, rt in rrows
        if lu == ru and rt <= lt and rt >= lt - dt.timedelta(minutes=2)
    }
    assert got == expected and len(expected) > 0


def test_stream_static_broadcast_enrichment(spark, corpus_path):
    """Stream-static join: spans enriched against a static MIME routing
    dim; result matches the same join done in batch."""
    dim = spark.createDataFrame(
        [("application/pdf", "ocr"), ("text/html", "strip"),
         ("image/png", "ocr"), ("image/jpeg", "ocr")],
        "mime string, route string",
    )
    stream = jobs.stream_extract(spark, corpus_path, max_files_per_trigger=4)
    q = (
        jobs.enrich_with_dim(stream, dim, on="mime")
        .writeStream.format("memory")
        .queryName("enriched_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT doc_id, offset, mime, route FROM enriched_out"
    ).collect()
    batch = (
        pipeline.extract_spans(spark.read.parquet(corpus_path))
        .join(F.broadcast(dim), on="mime", how="left")
        .select("doc_id", "offset", "mime", "route")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))
    routed = [r for r in got if r.route is not None]
    assert routed and len(routed) < len(got)
