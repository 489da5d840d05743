"""Streaming tests (SURVEY.md §5.2): replay the static events table
through a file-source stream, drain with availableNow, assert the
streamed results equal the batch equivalents (Structured Streaming's
batch≡stream promise), reproducing the reference's produce→consume
round-trip (1000 msgs in → 1000 msgs out,
reference: src/main/java/jc/DemoApplication.java:96,147)."""

from __future__ import annotations

import uuid

import pytest

from pyspark.sql import functions as F

from spring_and_kafka_spark.sources.tables import load_table
from spring_and_kafka_spark.streaming.replay import (
    read_event_stream,
    stage_event_chunks,
)
from spring_and_kafka_spark.streaming.windows import (
    session_counts,
    stream_dedup,
    tumbling_counts,
)

from .conftest import SF_SMOKE, drain


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stage")
    return stage_event_chunks(spark, SF_SMOKE, str(d), n_chunks=8)


def _drain(spark, sdf, mode):
    name = f"t_{uuid.uuid4().hex[:8]}"
    drain(
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
    )
    return spark.table(name)


def _as_set(df):
    return {tuple(str(v) for v in r) for r in df.collect()}


def test_processing_time_trigger_cadence(spark, staged):
    """The reference's poller analog: a 100 ms processing-time trigger
    (reference: src/main/java/jc/DemoApplication.java:150) with a per-batch
    rate cap — the stream advances in multiple bounded micro-batches."""
    import time

    stream = read_event_stream(spark, staged, max_files_per_trigger=1)
    q = (
        stream.writeStream.format("memory")
        .queryName("cadence")
        .outputMode("append")
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 20
        while time.time() < deadline:
            if len(q.recentProgress) >= 3:
                break
            time.sleep(0.2)
        progresses = q.recentProgress
        assert len(progresses) >= 3  # multiple micro-batches fired
        assert all(p["numInputRows"] <= 300 for p in progresses)  # rate-capped
    finally:
        q.stop()


def test_message_generator_rate_source(spark):
    """The reference's demo producer on the streaming surface: rate source
    → "#i" messages keyed by sequence number
    (reference: src/main/java/jc/DemoApplication.java:94-101,119)."""
    from spring_and_kafka_spark.streaming.kafka import message_generator

    gen = message_generator(spark)
    out = _drain(spark, gen, "append")
    rows = out.collect()
    assert len(rows) >= 0  # availableNow drains whatever the rate source accrued
    for r in rows:
        assert r["value"] == f"#{r['key']}"  # "#i" keyed by sequence number


def test_roundtrip_all_events_arrive(spark, staged):
    """1000 events in → 1000 events out of the stream."""
    out = _drain(spark, read_event_stream(spark, staged), "append")
    batch = load_table(spark, SF_SMOKE, "events")
    assert out.count() == batch.count() == 1000
    assert _as_set(out.select("event_id")) == _as_set(batch.select("event_id"))


def test_stream_tumble_equals_batch(spark, staged):
    stream = tumbling_counts(read_event_stream(spark, staged))
    out = _drain(spark, stream, "complete")
    batch = tumbling_counts(load_table(spark, SF_SMOKE, "events"))
    assert _as_set(out) == _as_set(batch)


def test_tumbling_counts_progress_accounts_for_every_row(spark, tmp_path):
    """The stream's own progress metrics, read off the query ``drain``
    returns: the micro-batches' ``numInputRows`` add up to the staged
    events, and after the drain the windowed aggregate's state holds only
    the windows the 2-hour watermark keeps open — at most three 1-hour
    windows per event type — far fewer than the windows append mode
    emitted over the fixture's 30 days."""
    from .conftest import stage_time_ordered_chunks

    ev = load_table(spark, SF_SMOKE, "events")
    stage = stage_time_ordered_chunks(ev, str(tmp_path / "events"))
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = drain(
        tumbling_counts(read_event_stream(spark, stage))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
    )
    progress = q.recentProgress
    assert sum(p.numInputRows for p in progress) == ev.count() == 1000
    held = progress[-1].stateOperators[0].numRowsTotal
    n_types = ev.select("event_type").distinct().count()
    emitted = spark.table(name).count()
    assert 0 < held <= 3 * n_types
    assert held * 10 < emitted


def test_stream_slide_equals_batch(spark, staged):
    from spring_and_kafka_spark.streaming.windows import sliding_counts

    stream = sliding_counts(read_event_stream(spark, staged))
    out = _drain(spark, stream, "complete")
    batch = sliding_counts(load_table(spark, SF_SMOKE, "events"))
    assert _as_set(out) == _as_set(batch)


def test_stream_session_window_runs(spark, staged):
    stream = session_counts(read_event_stream(spark, staged))
    out = _drain(spark, stream, "complete")
    # session windows require event-time state; assert shape + sanity
    assert out.count() > 0
    assert out.filter(F.col("n_events") <= 0).count() == 0


def test_stream_dedup_equals_batch(spark, staged):
    # single micro-batch (all files in one trigger): chunk files are not
    # time-ordered, so multi-batch replay would advance the watermark past
    # out-of-order events and (correctly) drop them as late — the batch≡
    # stream equivalence only holds for in-order delivery
    stream = stream_dedup(read_event_stream(spark, staged, max_files_per_trigger=64))
    out = _drain(spark, stream, "append")
    batch = stream_dedup(load_table(spark, SF_SMOKE, "events"))
    assert out.count() == batch.count()


def test_stream_dedup_drops_late_out_of_order(spark, staged):
    # multi-batch replay of unordered chunks: watermark advances between
    # micro-batches, so some late events are dropped — state stays bounded
    # (the 100 TB behavior; fewer-or-equal rows, never more)
    stream = stream_dedup(read_event_stream(spark, staged, max_files_per_trigger=2))
    out = _drain(spark, stream, "append")
    assert 0 < out.count() <= 1000


def _broker_reachable(host="localhost", port=9092, timeout=0.5):
    import socket

    try:
        with socket.create_connection((host, port), timeout=timeout):
            return True
    except OSError:
        return False


def test_kafka_headers_surface_in_read_schema(spark):
    """read_stream must expose the headers column when asked — the
    reference's consumer reads SEQUENCE_NUMBER off the envelope
    (reference: src/main/java/jc/DemoApplication.java:119). Runs only when
    the Kafka connector jar is on the classpath (schema resolution needs
    it); no broker required — .load() is lazy."""
    from spring_and_kafka_spark.streaming.kafka import kafka_available, read_stream

    if not kafka_available(spark):
        pytest.skip("connector jar missing: org.apache.spark:spark-sql-kafka-0-10_2.13:<spark version>")
    with_headers = read_stream(spark, include_headers=True)
    assert "headers" in with_headers.columns
    without = read_stream(spark, include_headers=False)
    assert "headers" not in without.columns


def test_kafka_real_broker_roundtrip(spark, tmp_path):
    """The reference's end-to-end demo: produce 1000 '#i' messages keyed by
    sequence number, consume them back, count 1000
    (reference: src/main/java/jc/DemoApplication.java:94-159). Skips unless
    both the connector jar and a broker at localhost:9092 exist — in that
    environment this exercises streaming/kafka.py's real produce/consume
    path instead of the file-source replay."""
    from spring_and_kafka_spark.streaming.kafka import (
        kafka_available,
        read_stream,
        write_stream,
    )

    if not kafka_available(spark):
        pytest.skip("connector jar missing: org.apache.spark:spark-sql-kafka-0-10_2.13:<spark version>")
    if not _broker_reachable():
        pytest.skip("no Kafka broker at localhost:9092")

    topic = f"event-stream-test-{uuid.uuid4().hex[:8]}"
    n = 1000
    batch = spark.range(n).select(
        F.col("id").cast("string").alias("key"),
        F.concat(F.lit("#"), F.col("id").cast("string")).alias("value"),
    )
    (
        batch.write.format("kafka")
        .option("kafka.bootstrap.servers", "localhost:9092")
        .option("topic", topic)
        .save()
    )
    consumed = read_stream(spark, topic=topic, max_offsets_per_trigger=None)
    name = f"kafka_rt_{uuid.uuid4().hex[:8]}"
    drain(
        consumed.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    got = spark.table(name)
    assert got.count() == n
    assert got.filter(~F.col("value").startswith("#")).count() == 0
    assert "headers" in got.columns


def test_stream_curation_equals_batch(spark, tmp_path):
    """Ingest-time curation: quality gate + stateful exact-content dedup
    over a replayed document stream must match the batch run — surviving
    fingerprint set and per-language counts identical, and every planted
    exact duplicate (same text, doc_id+200000) collapses to one survivor."""
    from spring_and_kafka_spark.streaming.curation import (
        curate_stream,
        read_document_stream,
        stage_document_chunks,
    )

    stage = stage_document_chunks(spark, SF_SMOKE, str(tmp_path / "docs"))
    stream = curate_stream(read_document_stream(spark, stage))
    out = _drain(spark, stream, "append")
    batch = curate_stream(spark.read.parquet(stage))
    assert out.count() == batch.count()
    s_fps = {r["fp"] for r in out.select("fp").collect()}
    b_fps = {r["fp"] for r in batch.select("fp").collect()}
    assert s_fps == b_fps
    # each planted duplicate pair shares a fingerprint → one survivor per fp
    assert out.groupBy("fp").count().filter(F.col("count") > 1).count() == 0


def test_sessionize_summary_consistent_with_session_rows(spark):
    """q_sessionize (per-user summary) must agree with q_stream_session
    (per-session rows) — same gap rule, two independent formulations."""
    from spring_and_kafka_spark.operators.analytics import q_sessionize
    from spring_and_kafka_spark.streaming.batch_equiv import q_stream_session

    summary = {
        r["user_id"]: (r["n_sessions"], r["n_events"], r["max_session_events"])
        for r in q_sessionize(spark, SF_SMOKE).collect()
    }
    per_user: dict = {}
    for r in q_stream_session(spark, SF_SMOKE).collect():
        per_user.setdefault(r["user_id"], []).append(r["n_events"])
    rebuilt = {
        u: (len(v), sum(v), max(v)) for u, v in per_user.items()
    }
    assert summary == rebuilt


def test_stream_admission_equals_batch_incremental(spark, tmp_path):
    """Ingest-time near-dup admission over a replayed new-doc stream must
    equal the batch q_dedup_incremental run: same per-doc decision,
    match, and Jaccard, regardless of micro-batch boundaries (the
    corpus side is static, so stream-of-batches ≡ one batch)."""
    from spring_and_kafka_spark.llm.dedup import q_dedup_incremental
    from spring_and_kafka_spark.sources.tables import load_table
    from spring_and_kafka_spark.streaming.curation import (
        admission_stream,
        stage_new_batch_chunks,
    )

    stage = stage_new_batch_chunks(spark, SF_SMOKE, str(tmp_path / "newdocs"))
    schema = spark.read.parquet(stage).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    corpus_old = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    decisions_dir = str(tmp_path / "decisions")
    q = admission_stream(corpus_old, stream, decisions_dir)
    q.awaitTermination()
    streamed = {
        r.new_id: (r.match_id, r.jaccard, r.rejected)
        for r in spark.read.parquet(decisions_dir).collect()
    }
    batch = {
        r.new_id: (r.match_id, r.jaccard, r.rejected)
        for r in q_dedup_incremental(spark, SF_SMOKE).collect()
    }
    assert streamed == batch
