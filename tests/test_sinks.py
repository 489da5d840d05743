"""Streaming sink wrappers: foreachBatch (the generalized per-batch
handle) and the parquet sink with checkpoint."""

from __future__ import annotations

import os

import pytest

from spring_and_kafka_spark.sources.tables import load_table
from spring_and_kafka_spark.streaming.replay import (
    read_event_stream,
    stage_event_chunks,
)
from spring_and_kafka_spark.streaming.sinks import foreach_batch_sink, parquet_sink

from .conftest import SF_SMOKE


def test_foreach_batch_sees_every_batch(spark, tmp_path):
    staged = stage_event_chunks(spark, SF_SMOKE, str(tmp_path / "stage"), n_chunks=6)
    stream = read_event_stream(spark, staged, max_files_per_trigger=2)
    seen: list[tuple[int, int]] = []

    def handle(batch_df, batch_id: int) -> None:
        seen.append((batch_id, batch_df.count()))

    q = foreach_batch_sink(stream, handle).trigger(availableNow=True).start()
    q.awaitTermination()
    assert len(seen) >= 3  # 6 files / 2 per trigger
    assert sum(n for _, n in seen) == 1000  # every event delivered once
    assert [b for b, _ in seen] == sorted({b for b, _ in seen})  # ordered, unique


def test_parquet_sink_exactly_once_restart(spark, tmp_path):
    staged = stage_event_chunks(spark, SF_SMOKE, str(tmp_path / "stage2"), n_chunks=4)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = read_event_stream(spark, staged, max_files_per_trigger=2)
        q = parquet_sink(stream, out, ckpt).trigger(availableNow=True).start()
        q.awaitTermination()

    run()
    n1 = spark.read.parquet(out).count()
    run()  # restart against the same checkpoint: nothing new → no dupes
    n2 = spark.read.parquet(out).count()
    assert n1 == 1000 and n2 == 1000


def _crash_writes(monkeypatch, suffix: str, mid_write: bool = False):
    """Make ``DataFrameWriter.parquet`` raise on the path ending in
    ``suffix``: before writing, or (``mid_write``) after writing the
    data but before its ``_SUCCESS`` marker survives, as a crash during
    the job commit leaves it. ``monkeypatch.undo()`` restores it."""
    from pyspark.sql.readwriter import DataFrameWriter

    write_parquet = DataFrameWriter.parquet

    def crashing(self, path, *args, **kwargs):
        if path.endswith(suffix):
            if mid_write:
                write_parquet(self, path, *args, **kwargs)
                os.remove(f"{path}/_SUCCESS")
            raise OSError("injected crash")
        return write_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crashing)


def _stage_documents(spark, stage: str, n_files: int) -> str:
    load_table(spark, SF_SMOKE, "documents").repartition(n_files).write.mode(
        "overwrite"
    ).parquet(stage)
    return stage


def _doc_stream(spark, stage: str):
    return (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )


def test_templates_resume_after_crash_between_writes(
    spark, tmp_path, monkeypatch
):
    """Kill a real two-table maintainer stream between a batch's two
    partial writes, then restart it from the same state dir. In
    between, the reader must raise on the torn batch; after the
    restart, the replayed batch overwrites its partials (replayable
    source + offset log + idempotent sink), so the result equals the
    batch twin."""
    from pyspark.errors import StreamingQueryException

    from spring_and_kafka_spark.llm.text import q_text_boilerplate
    from spring_and_kafka_spark.streaming.templates import (
        maintained_templates,
        template_delta_stream,
    )

    staged = _stage_documents(spark, str(tmp_path / "docs"), 4)
    state = str(tmp_path / "state")

    def drain():
        template_delta_stream(_doc_stream(spark, staged), state).awaitTermination()

    _crash_writes(monkeypatch, "/docs/batch_id=2")
    with pytest.raises(StreamingQueryException):
        drain()
    with pytest.raises(
        RuntimeError, match="batch_id=2 has counts/ but not docs/"
    ):
        maintained_templates(spark, state)

    monkeypatch.undo()
    drain()
    assert {tuple(r) for r in maintained_templates(spark, state).collect()} == {
        tuple(r) for r in q_text_boilerplate(spark, SF_SMOKE).collect()
    }


def _audit(df):
    return {
        r.day: (r.n_rows, r.n_users, r.null_value_rate, r.dod_ratio)
        for r in df.collect()
    }


def test_freshness_resumes_after_crash_during_its_write(
    spark, tmp_path, monkeypatch
):
    """Kill the freshness stream during its one partial write of
    batch 2, leaving that partition without its _SUCCESS marker. The
    reader must raise on it; the restart replays batch 2 over its own
    partition, and the result equals the batch twin."""
    from pyspark.errors import StreamingQueryException

    from spring_and_kafka_spark.operators.quality import q_dq_freshness
    from spring_and_kafka_spark.streaming.freshness import (
        freshness_delta_stream,
        maintained_freshness,
    )

    staged = stage_event_chunks(spark, SF_SMOKE, str(tmp_path / "stage"), n_chunks=4)
    state = str(tmp_path / "state")

    def drain():
        stream = read_event_stream(spark, staged, max_files_per_trigger=1)
        freshness_delta_stream(stream, state).awaitTermination()

    _crash_writes(monkeypatch, "/day_users/batch_id=2", mid_write=True)
    with pytest.raises(StreamingQueryException):
        drain()
    with pytest.raises(
        RuntimeError, match="batch_id=2 under day_users/ has no _SUCCESS"
    ):
        maintained_freshness(spark, state)

    monkeypatch.undo()
    drain()
    assert _audit(maintained_freshness(spark, state)) == _audit(
        q_dq_freshness(spark, SF_SMOKE)
    )


def test_freshness_and_segdf_write_one_partial_per_batch(
    spark, tmp_path, monkeypatch
):
    """The counters ride on the presence rows: each micro-batch of the
    freshness and segment-df maintainers is exactly one parquet write,
    so no batch can be torn between two writes."""
    from pyspark.sql.readwriter import DataFrameWriter

    from spring_and_kafka_spark.streaming.freshness import (
        freshness_delta_stream,
    )
    from spring_and_kafka_spark.streaming.segdf import seg_df_delta_stream

    written: list[str] = []
    write_parquet = DataFrameWriter.parquet

    def counting(self, path, *args, **kwargs):
        written.append(path)
        return write_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", counting)
    events = stage_event_chunks(spark, SF_SMOKE, str(tmp_path / "ev"), n_chunks=4)
    docs = _stage_documents(spark, str(tmp_path / "docs"), 4)
    for name, table, start in (
        (
            "fresh",
            "day_users",
            lambda s: freshness_delta_stream(
                read_event_stream(spark, events, max_files_per_trigger=1), s
            ),
        ),
        (
            "segdf",
            "seg_docs",
            lambda s: seg_df_delta_stream(_doc_stream(spark, docs), s),
        ),
    ):
        written.clear()
        state = str(tmp_path / name)
        start(state).awaitTermination()
        assert written == [f"{state}/{table}/batch_id={b}" for b in range(4)]


def test_reader_raises_on_legacy_state_layout(spark, tmp_path):
    """State of an older on-disk layout must raise, naming the stray
    entry, instead of reading as a stream that never ran: the flat
    ``{state}/batch_id=N`` layout and freshness' two-table
    ``counts/`` + ``users/`` layout. Hidden entries are not strays."""
    from spring_and_kafka_spark.streaming.drift import maintained_counts
    from spring_and_kafka_spark.streaming.freshness import maintained_freshness

    flat = str(tmp_path / "flat")
    spark.createDataFrame(
        [("s0", "tok", 2)], "source string, tok string, c long"
    ).write.parquet(f"{flat}/batch_id=0")
    with pytest.raises(RuntimeError, match="'batch_id=0'.*clear or re-drain"):
        maintained_counts(spark, flat)

    two = str(tmp_path / "two")
    spark.createDataFrame(
        [(None, 1, 0)], "day date, n_rows long, n_null_value long"
    ).write.parquet(f"{two}/counts/batch_id=0")
    spark.createDataFrame([(None, 7)], "day date, user_id long").write.parquet(
        f"{two}/users/batch_id=0"
    )
    with pytest.raises(RuntimeError, match="'counts'.*clear or re-drain"):
        maintained_freshness(spark, two)

    ok = str(tmp_path / "ok")
    spark.createDataFrame(
        [(None, 7, 1, 0)],
        "day date, user_id long, n_rows long, n_null_value long",
    ).write.parquet(f"{ok}/day_users/batch_id=0")
    open(f"{ok}/_hidden", "w").close()
    assert maintained_freshness(spark, ok).count() == 1


def test_maintained_freshness_with_nulls_equals_batch(spark, tmp_path):
    """Freshness over events with a NULL ts, a NULL user_id and a NULL
    value, and one user seen on the same day in two batches, equals the
    batch q_dq_freshness on the same directory: a NULL day is its own
    group, a NULL user counts rows but not users, and the re-seen user
    counts once."""
    import datetime as dt

    from spring_and_kafka_spark.operators.quality import q_dq_freshness
    from spring_and_kafka_spark.streaming.freshness import (
        freshness_delta_stream,
        maintained_freshness,
    )

    d1, d2 = dt.datetime(2024, 1, 1, 10), dt.datetime(2024, 1, 2, 9)
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    batches = [
        [
            (1, d1, 7, "click", 1.0, None),
            (2, None, 8, "click", 2.0, None),
            (3, d1, None, "view", 3.0, None),
            (4, d2, 9, "view", None, None),
        ],
        [
            (5, d1, 7, "click", None, None),
            (6, None, None, "view", None, None),
            (7, d2, 9, "click", 5.0, None),
        ],
        [(8, dt.datetime(2024, 1, 3, 8), 10, "view", 1.5, None)],
    ]
    sf_dir = tmp_path / "sf"
    events = str(sf_dir / "events.parquet")
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(events)
    state = str(tmp_path / "state")
    freshness_delta_stream(
        read_event_stream(spark, events, max_files_per_trigger=1), state
    ).awaitTermination()

    assert sorted(os.listdir(f"{state}/day_users")) == [
        f"batch_id={b}" for b in range(len(batches))
    ]
    got = _audit(maintained_freshness(spark, state))
    assert got == _audit(q_dq_freshness(spark, str(sf_dir)))
    assert got[None][:2] == (2, 1)
    assert got[d1.date()][:2] == (3, 1)
