"""Structured-Streaming incremental index build + windowed aggregates."""

import time

import pytest
from pyspark.sql import functions as F

from fuzzy_wiki_spark.corpus import DOCS_SCHEMA_DDL, generate_docs_pdf
from fuzzy_wiki_spark.operators.segments import vocabulary
from fuzzy_wiki_spark.streaming.incremental import (
    load_generations,
    start_incremental_index,
    windowed_event_counts,
)


def test_incremental_index_build(spark, tmp_path):
    src = tmp_path / "src"
    out = tmp_path / "idx"
    src.mkdir()

    pdf = generate_docs_pdf(60, seed=42)
    # first file arrives
    spark.createDataFrame(pdf.iloc[:30]).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    q = start_incremental_index(
        spark, str(src), str(out), DOCS_SCHEMA_DDL, n_buckets=2
    )
    q.awaitTermination(120)

    # second file arrives; availableNow trigger restarts from checkpoint
    spark.createDataFrame(pdf.iloc[30:]).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    q2 = start_incremental_index(
        spark, str(src), str(out), DOCS_SCHEMA_DDL, n_buckets=2
    )
    q2.awaitTermination(120)

    segs = load_generations(spark, str(out))
    gens = [r["gen"] for r in segs.select("gen").distinct().collect()]
    assert len(gens) == 2, f"expected 2 generations, got {gens}"

    # union of generations covers all 60 docs' postings: df sums match a
    # one-shot batch build
    from fuzzy_wiki_spark.operators.postings import build_postings

    batch = build_postings(spark.createDataFrame(pdf))
    n_batch = batch.count()
    n_stream = vocabulary(segs).agg(F.sum("df")).head()[0]
    assert n_stream == n_batch


def test_sessionize_stream_equals_batch(spark, tmp_path):
    """The applyInPandasWithState sessionizer must produce EXACTLY the
    batch window-function sessionization once the watermark has passed
    every session (sessions are flushed by event-time timeouts; sentinel
    events advance the watermark across restarts of an availableNow
    stream, mirroring a live stream's progress)."""
    from fuzzy_wiki_spark.streaming.incremental import (
        sessionize_events,
        sessionize_stream,
    )

    src = tmp_path / "ev"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    # 12 users × bursts: events at minute offsets with >30-min gaps
    # between bursts (deterministic, sub-second jitter included)
    main = spark.range(0, 600).select(
        F.col("id").alias("event_id"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(
                hours=(F.col("id") % 5).cast("int"),
                mins=((F.col("id") * 7) % 23).cast("int"),
                secs=((F.col("id") % 13) + (F.col("id") % 997) / 1000.0),
            )
        ).alias("ts"),
        (F.col("id") % 12).alias("user_id"),
        ((F.col("id") % 17) / 4.0).alias("value"),
    )
    main.coalesce(1).write.mode("append").parquet(str(src))

    want = sorted(
        (
            int(r["user_id"]),
            r["session_start"],
            r["session_end"],
            int(r["n_events"]),
            float(r["total_value"]),
        )
        for r in sessionize_events(
            spark.read.parquet(str(src)), gap_minutes=30
        ).collect()
    )

    out_dir = str(tmp_path / "sessions_out")

    def run_once(name):
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        ).parquet(str(src))
        q = (
            sessionize_stream(stream, gap_minutes=30, watermark="1 minute")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once("sess1")
    # sentinel events push the watermark far past every main session;
    # their own (sentinel) sessions are filtered out of the comparison
    for i, days in enumerate((10, 20)):
        sent = spark.createDataFrame(
            [(100000 + i, 999, 0.0)],
            "event_id long, user_id long, value double",
        ).select(
            "event_id",
            (
                F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                + F.make_interval(days=F.lit(days))
            ).alias("ts"),
            "user_id",
            "value",
        ).select("event_id", "ts", "user_id", "value")
        sent.coalesce(1).write.mode("append").parquet(str(src))
        run_once(f"sess{i + 2}")

    got_rows = spark.read.parquet(out_dir).collect()
    got = sorted(
        (
            int(r["user_id"]),
            r["session_start"],
            r["session_end"],
            int(r["n_events"]),
            float(r["total_value"]),
        )
        for r in got_rows
        if r["user_id"] != 999
    )
    assert len(got) == len(want) > 0
    assert got == want


def test_windowed_event_counts_streaming_equals_batch(spark, tmp_path):
    ev_dir = str(tmp_path / "events")
    batch_events = spark.range(0, 200).select(
        (F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(
            mins=(F.col("id") % 90).cast("int")
        )).alias("ts"),
        F.when(F.col("id") % 3 == 0, "click").otherwise("view").alias(
            "event_type"
        ),
        (F.col("id") % 7).cast("double").alias("value"),
    )
    batch_events.write.parquet(ev_dir)

    want = sorted(
        tuple(r) for r in windowed_event_counts(
            spark.read.parquet(ev_dir), window="1 hour"
        ).collect()
    )

    stream = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).parquet(ev_dir)
    agg = windowed_event_counts(stream, window="1 hour")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.sql("SELECT * FROM win_out").collect())
    assert got == want


def test_prep_stream_equals_batch(spark, tmp_path):
    """Two-epoch streaming corpus prep == one-shot batch prep: the
    cross-batch dropDuplicates state drops epoch-2 re-arrivals of epoch-1
    texts, null rows fall to validation, and the feature columns are the
    identical Column expressions."""
    from fuzzy_wiki_spark.streaming.prep import (
        prep_transform,
        start_prep_stream,
    )

    pdf = generate_docs_pdf(80, seed=7)[["doc_id", "content"]].rename(
        columns={"content": "text"}
    )
    assert pdf["text"].nunique() == len(pdf)  # distinct within epoch 1
    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    schema = "doc_id long, text string"

    # epoch 1: the base corpus
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(
        str(src)
    )
    start_prep_stream(spark, str(src), str(out), schema).awaitTermination(
        120
    )
    # epoch 2: exact duplicates (higher ids) + a null row -> all dropped
    dup = pdf.iloc[:30].assign(doc_id=lambda d: d.doc_id + 50_000)
    epoch2 = spark.createDataFrame(dup).union(
        spark.createDataFrame([(99999, None)], schema)
    )
    epoch2.coalesce(1).write.mode("append").parquet(str(src))
    start_prep_stream(spark, str(src), str(out), schema).awaitTermination(
        120
    )

    got = {
        tuple(r) for r in spark.read.parquet(str(out)).collect()
    }
    # batch reference over the ORIGINALS: epoch-2 rows are exact dups (the
    # stream's cross-batch state drops them; batch dropDuplicates over the
    # union would keep a partition-order-dependent representative, so the
    # originals ARE the deterministic expected set) + the null row, which
    # validation drops
    want = {
        tuple(r)
        for r in prep_transform(spark.createDataFrame(pdf)).collect()
    }
    assert got == want
    assert all(r[0] < 50_000 for r in got)  # epoch-2 dups never survive


def test_prep_stream_watermarked_dedup_state_eviction(spark, tmp_path):
    """dedup_within bounds the dedup state: a duplicate arriving within
    the horizon is dropped; after the watermark passes the first copy's
    event time + delay, its state is evicted and a later re-arrival is
    kept (the documented trade of bounded-state dedup)."""
    import datetime as dt

    from fuzzy_wiki_spark.streaming.prep import start_prep_stream

    def ts(h, m=0):
        return dt.datetime(2026, 1, 1, h, m)

    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    schema = "doc_id long, text string, ingest_ts timestamp"
    text_a = " ".join(f"a{i}" for i in range(40))
    text_b = " ".join(f"b{i}" for i in range(40))
    text_c = " ".join(f"c{i}" for i in range(40))

    def arrive(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        start_prep_stream(
            spark, str(src), str(out), schema, dedup_within="1 hour"
        ).awaitTermination(120)

    arrive([(1, text_a, ts(0)), (2, text_b, ts(0))])
    # dup of A within the horizon -> dropped; C at 06:00 advances the
    # watermark to 05:00, evicting A's state (expiry 01:00)
    arrive([(3, text_a, ts(0, 30)), (4, text_c, ts(6))])
    # dup of A AFTER eviction -> kept
    arrive([(5, text_a, ts(6, 30))])

    got = sorted(
        r["doc_id"] for r in spark.read.parquet(str(out)).collect()
    )
    assert got == [1, 2, 4, 5]


def test_prep_batch_dedup_keeps_lowest_id(spark):
    """ADVICE r2: the batch path of prep_transform must keep the LOWEST
    doc_id per duplicated text (deterministic survivor), matching the
    batch pipeline's keep-first rule — not an arbitrary dropDuplicates
    row."""
    from fuzzy_wiki_spark.streaming.prep import prep_transform

    t = "a good long document with plenty of ordinary words in it here"
    rows = [(9, t), (3, t), (7, t), (1, "another fine unique text entirely")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        r["doc_id"]
        for r in prep_transform(df, min_quality=0.0).select("doc_id").collect()
    )
    assert got == [1, 3]


def test_trending_terms_streaming_equals_batch(spark, tmp_path):
    """windowed_term_counts produces identical (window, term, n_docs)
    rows in batch and streaming mode (watermarked dropDuplicates +
    windowed count), and trending_from_counts ranks the latest window
    by the smoothed vs-previous ratio."""
    from fuzzy_wiki_spark.streaming.incremental import (
        trending_from_counts,
        windowed_term_counts,
    )

    doc_dir = str(tmp_path / "docs")
    docs = spark.range(0, 120).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "alpha beta beta")
        .otherwise("beta gamma")
        .alias("text"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(mins=(F.col("id") % 100).cast("int"))
        ).alias("ts"),
    )
    docs.write.parquet(doc_dir)

    want = sorted(
        tuple(r)
        for r in windowed_term_counts(
            spark.read.parquet(doc_dir), window="1 hour"
        ).collect()
    )
    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).parquet(doc_dir)
    q = (
        windowed_term_counts(stream, window="1 hour")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("trend_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM trend_out").collect()
    )
    assert got == want

    top = trending_from_counts(
        windowed_term_counts(spark.read.parquet(doc_dir), window="1 hour")
    ).collect()
    # all rows belong to the latest window; trend = (n+1)/(prev+1)
    assert len({r["window_start"] for r in top}) == 1
    for r in top:
        assert abs(
            r["trend"] - round((r["n_docs"] + 1) / (r["prev"] + 1), 6)
        ) < 1e-9
