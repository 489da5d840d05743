"""Streaming sink wrappers: foreachBatch (the generalized per-batch
handle) and the parquet sink with checkpoint."""

from __future__ import annotations

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


def test_freshness_resumes_after_crash_between_writes(
    spark, tmp_path, monkeypatch
):
    """Kill a real maintainer stream between a batch's two partial
    writes, then restart it from the same state dir. In between, the
    reader must raise on the torn batch; after the restart, the replayed
    batch overwrites its partials (replayable source + offset log +
    idempotent sink), so the result equals the batch twin."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.readwriter import DataFrameWriter

    from spring_and_kafka_spark.operators.quality import q_dq_freshness
    from spring_and_kafka_spark.streaming.freshness import (
        freshness_delta_stream,
        maintained_freshness,
    )

    staged = stage_event_chunks(spark, SF_SMOKE, str(tmp_path / "stage3"), n_chunks=4)
    state = str(tmp_path / "state")
    write_parquet = DataFrameWriter.parquet

    def crash_before_users_2(self, path, *args, **kwargs):
        if path.endswith("/users/batch_id=2"):
            raise OSError("injected crash between a batch's writes")
        return write_parquet(self, path, *args, **kwargs)

    def drain():
        stream = read_event_stream(spark, staged, max_files_per_trigger=1)
        freshness_delta_stream(stream, state).awaitTermination()

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_before_users_2)
    with pytest.raises(StreamingQueryException):
        drain()
    with pytest.raises(
        RuntimeError, match="batch_id=2 has counts/ but not users/"
    ):
        maintained_freshness(spark, state)

    monkeypatch.undo()
    drain()

    def audit(df):
        return {
            r.day: (r.n_rows, r.n_users, r.null_value_rate, r.dod_ratio)
            for r in df.collect()
        }

    assert audit(maintained_freshness(spark, state)) == audit(
        q_dq_freshness(spark, SF_SMOKE)
    )
