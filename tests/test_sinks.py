"""Streaming sink wrappers: foreachBatch (the generalized per-batch
handle) and the parquet sink with checkpoint."""

from __future__ import annotations

import os

import pytest

from spring_and_kafka_spark.llm.dedup import q_dedup_seg_df_hist, q_dedup_span_cover
from spring_and_kafka_spark.llm.text import q_text_boilerplate, q_text_js_shift
from spring_and_kafka_spark.operators.layout import q_mv_incremental
from spring_and_kafka_spark.operators.quality import q_dq_freshness
from spring_and_kafka_spark.operators.sketches import (
    decimal_histogram,
    select_quantile_buckets,
    to_cents,
)
from spring_and_kafka_spark.sources.tables import load_table
from spring_and_kafka_spark.streaming.drift import maintained_js, token_delta_stream
from spring_and_kafka_spark.streaming.freshness import (
    freshness_delta_stream,
    maintained_freshness,
)
from spring_and_kafka_spark.streaming.mv import maintained_view, mv_delta_stream
from spring_and_kafka_spark.streaming.replay import (
    read_event_stream,
    stage_event_chunks,
)
from spring_and_kafka_spark.streaming.segdf import (
    maintained_seg_df_hist,
    seg_df_delta_stream,
)
from spring_and_kafka_spark.streaming.sinks import (
    foreach_batch_sink,
    log_sink,
    parquet_sink,
    run_available_now,
)
from spring_and_kafka_spark.streaming.sketch import merged_quantiles, sketch_stream
from spring_and_kafka_spark.streaming.spananchor import (
    maintained_span_cover,
    span_anchor_delta_stream,
)
from spring_and_kafka_spark.streaming.templates import (
    maintained_templates,
    template_delta_stream,
)

from .conftest import SF_SMOKE, drain, mv_base_and_changelog


def test_foreach_batch_sees_every_batch(spark, tmp_path):
    staged = stage_event_chunks(spark, SF_SMOKE, str(tmp_path / "stage"), n_chunks=6)
    stream = read_event_stream(spark, staged, max_files_per_trigger=2)
    seen: list[tuple[int, int]] = []

    def handle(batch_df, batch_id: int) -> None:
        seen.append((batch_id, batch_df.count()))

    drain(foreach_batch_sink(stream, handle))
    assert len(seen) >= 3  # 6 files / 2 per trigger
    assert sum(n for _, n in seen) == 1000  # every event delivered once
    assert [b for b, _ in seen] == sorted({b for b, _ in seen})  # ordered, unique


def test_log_sink_drain_counts_every_row(spark, tmp_path):
    """The ``| log`` console sink drained by run_available_now: the
    terminated query's progress accounts for every event."""
    staged = stage_event_chunks(spark, SF_SMOKE, str(tmp_path / "stage"), n_chunks=3)
    stream = read_event_stream(spark, staged, max_files_per_trigger=1)
    q = run_available_now(log_sink(stream, str(tmp_path / "ckpt"), num_rows=1))
    assert not q.isActive
    assert sum(p["numInputRows"] for p in q.recentProgress) == 1000


def test_parquet_sink_exactly_once_restart(spark, tmp_path):
    staged = stage_event_chunks(spark, SF_SMOKE, str(tmp_path / "stage2"), n_chunks=4)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = read_event_stream(spark, staged, max_files_per_trigger=2)
        drain(parquet_sink(stream, out, ckpt))

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


def _stage(df, stage: str, n_files: int = 4) -> str:
    """Write ``df`` as ``n_files`` parquet files under ``stage``: the
    topic a file stream replays, one file per trigger."""
    df.repartition(n_files).write.mode("overwrite").parquet(stage)
    return stage


def _file_stream(spark, stage: str):
    return (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )


def _audit(df):
    return {
        r.day: (r.n_rows, r.n_users, r.null_value_rate, r.dod_ratio)
        for r in df.collect()
    }


def _table(name):
    return lambda spark: load_table(spark, SF_SMOKE, name)


def _prices(spark):
    return load_table(spark, SF_SMOKE, "lineitem").select("l_extendedprice")


def _quantiles(spark):
    return select_quantile_buckets(
        spark, decimal_histogram(to_cents(_prices(spark)))
    ).select("q", "approx_cents")


def _changelog(spark):
    return mv_base_and_changelog(spark, SF_SMOKE)[1]


def _view(spark, state):
    return maintained_view(spark, mv_base_and_changelog(spark, SF_SMOKE)[0], state)


def _twin(q):
    return lambda spark: q(spark, SF_SMOKE)


# One row per merge-on-read maintainer: (maintainer, staged input,
# drain, merged read, batch twin, table write to fail, whether the
# crash hits during that write rather than before it). A crash before
# the second table's write tears the batch between its writes; a crash
# during a write leaves the partition without its _SUCCESS marker.
RECOVERY = [
    ("templates", _table("documents"), template_delta_stream,
     maintained_templates, _twin(q_text_boilerplate), "docs", False),
    ("spananchor", _table("documents"), span_anchor_delta_stream,
     maintained_span_cover, _twin(q_dedup_span_cover), "sizes", False),
    ("freshness", _table("events"), freshness_delta_stream,
     maintained_freshness, _twin(q_dq_freshness), "day_users", True),
    ("mv", _changelog, mv_delta_stream,
     _view, _twin(q_mv_incremental), "deltas", True),
    ("sketch", _prices, sketch_stream,
     merged_quantiles, _quantiles, "hist", True),
    ("drift", _table("documents"), token_delta_stream,
     maintained_js, _twin(q_text_js_shift), "counts", True),
    ("segdf", _table("documents"), seg_df_delta_stream,
     maintained_seg_df_hist, _twin(q_dedup_seg_df_hist), "seg_docs", True),
]


@pytest.mark.parametrize(
    "rows, start, read, twin, table, during",
    [row[1:] for row in RECOVERY],
    ids=[row[0] for row in RECOVERY],
)
def test_maintainer_resumes_after_crash(
    spark, tmp_path, monkeypatch, rows, start, read, twin, table, during
):
    """Kill a real maintainer stream at batch 2's write of ``table``,
    then restart it from the same state dir. In between, the merged
    read must raise on the torn batch; after the restart, the replayed
    batch overwrites its own partials (replayable source + offset log +
    idempotent sink), so the merged read equals the batch twin."""
    from pyspark.errors import StreamingQueryException

    staged = _stage(rows(spark), str(tmp_path / "stage"))
    state = str(tmp_path / "state")

    def run():
        start(_file_stream(spark, staged), state).awaitTermination()

    _crash_writes(monkeypatch, f"/{table}/batch_id=2", mid_write=during)
    with pytest.raises(StreamingQueryException):
        run()
    if during:
        torn = f"batch_id=2 under {table}/ has no _SUCCESS"
    else:
        torn = f"batch_id=2 has .*/ but not {table}/"
    with pytest.raises(RuntimeError, match=torn):
        read(spark, state)

    monkeypatch.undo()
    run()
    got = read(spark, state)
    cols = got.columns
    assert {tuple(r[c] for c in cols) for r in got.collect()} == {
        tuple(r[c] for c in cols) for r in twin(spark).collect()
    }


def test_freshness_and_segdf_write_one_partial_per_batch(
    spark, tmp_path, monkeypatch
):
    """The counters ride on the presence rows: each micro-batch of the
    freshness and segment-df maintainers is exactly one parquet write,
    so no batch can be torn between two writes."""
    from pyspark.sql.readwriter import DataFrameWriter


    written: list[str] = []
    write_parquet = DataFrameWriter.parquet

    def counting(self, path, *args, **kwargs):
        written.append(path)
        return write_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", counting)
    events = stage_event_chunks(spark, SF_SMOKE, str(tmp_path / "ev"), n_chunks=4)
    docs = _stage(load_table(spark, SF_SMOKE, "documents"), str(tmp_path / "docs"))
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
            lambda s: seg_df_delta_stream(_file_stream(spark, docs), s),
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


def test_markerless_committer_state_merges_with_a_warning(
    spark, tmp_path, caplog
):
    """With ``mapreduce.fileoutputcommitter.marksuccessfuljobs=false``
    (the common object-store-committer setting) Spark's own writes leave
    no ``_SUCCESS`` marker, so a drained maintainer's state has none.
    The public reader follows the same setting: it merges that state to
    the batch answer and logs the marker-less warning."""
    import glob
    import logging

    key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    staged = _stage(load_table(spark, SF_SMOKE, "events"), str(tmp_path / "stage"))
    state = str(tmp_path / "state")
    spark.conf.set(key, "false")
    try:
        freshness_delta_stream(_file_stream(spark, staged), state).awaitTermination()
        assert glob.glob(f"{state}/day_users/batch_id=*")
        assert not glob.glob(f"{state}/**/_SUCCESS", recursive=True)
        with caplog.at_level(
            logging.WARNING, logger="spring_and_kafka_spark.streaming.sinks"
        ):
            got = _audit(maintained_freshness(spark, state))
    finally:
        spark.conf.unset(key)
    assert got == _audit(q_dq_freshness(spark, SF_SMOKE))
    assert any("marker-less" in r.getMessage() for r in caplog.records)


def test_maintained_freshness_with_nulls_equals_batch(spark, tmp_path):
    """Freshness over events with a NULL ts, a NULL user_id and a NULL
    value, and one user seen on the same day in two batches, equals the
    batch q_dq_freshness on the same directory: a NULL day is its own
    group, a NULL user counts rows but not users, and the re-seen user
    counts once."""
    import datetime as dt


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
