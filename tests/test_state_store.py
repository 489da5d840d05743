"""Pin the streaming state and checkpoint layer session.get_spark()
configures, and prove state survives a restart through it.

The default HDFSBackedStateStoreProvider holds every key's state on the
executor heap — at 100 TB keyed-state cardinalities that is an OOM, not
a slowdown. session.get_spark() must therefore configure the
disk-backed RocksDB provider, and a stateful query run under it must
actually materialize RocksDB artifacts (SST files / zipped snapshots /
changelog deltas) in the checkpoint's state directory — asserting the
conf alone would pass even if Spark silently fell back to the heap
provider. Checkpoints go through Spark's FileSystem-based checkpoint
file manager (a fork-free rename on ``file:``, see session.py), which
must still write a Hadoop ``.crc`` beside every checkpoint file.
``file:`` itself is Hadoop's LocalFileSystem over a raw layer that sets
permissions without forking ``chmod`` (session.py); it must leave the
same mode bits as Hadoop's own raw layer."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)
FS_CHECKPOINTS = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
NIO_LOCAL_FS = "spring_and_kafka_spark.jvm.NioLocalFileSystem"


def test_session_configures_rocksdb_provider(spark):
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        == ROCKSDB
    )
    assert (
        spark.conf.get(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled"
        )
        == "true"
    )


def test_session_configures_filesystem_checkpoint_manager(spark):
    assert (
        spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
        == FS_CHECKPOINTS
    )


def test_file_scheme_sets_permissions_like_hadoop(spark, tmp_path):
    """``file:`` is the NIO LocalFileSystem, and its setPermission leaves
    the same ``st_mode`` bits as the forking RawLocalFileSystem does on
    a twin path: plain modes on files and directories, a directory that
    keeps its setgid bit under chmod, and a sticky mode, which goes to
    the fallback."""
    jvm = spark._jvm
    hfs = jvm.org.apache.hadoop.fs
    root = jvm.java.net.URI("file:///")
    conf = spark._jsc.hadoopConfiguration()
    fs = hfs.FileSystem.get(root, conf)
    assert fs.getClass().getName() == NIO_LOCAL_FS
    assert fs.getRaw().getClass().getName() == NIO_LOCAL_FS + "$Raw"
    assert hfs.LocalFileSystem._java_lang_class.isInstance(fs)
    forking = hfs.RawLocalFileSystem()
    forking.initialize(root, conf)

    def mode_after(layer, side: str, kind: str, before: int, mode: int) -> int:
        p = tmp_path / side / f"{kind}-{before:o}-{mode:o}"
        p.parent.mkdir(exist_ok=True)
        p.mkdir() if kind == "dir" else p.touch()
        os.chmod(p, before)
        layer.setPermission(hfs.Path(str(p)), hfs.permission.FsPermission(f"{mode:o}"))
        return os.stat(p).st_mode & 0o7777

    cases = [
        (kind, 0o700, mode)
        for kind in ("file", "dir")
        for mode in (0o600, 0o640, 0o644, 0o700, 0o750, 0o755, 0o777)
    ]
    cases += [("dir", 0o2755, 0o750), ("file", 0o2755, 0o640), ("dir", 0o755, 0o1777)]
    got = {c: mode_after(fs.getRaw(), "nio", *c) for c in cases}
    assert got == {c: mode_after(forking, "ref", *c) for c in cases}
    assert got["dir", 0o2755, 0o750] == 0o2750
    assert got["dir", 0o755, 0o1777] == 0o1777

    out = fs.create(hfs.Path(str(tmp_path / "part-0")))
    out.write(bytearray(b"payload"))
    out.close()
    assert (tmp_path / ".part-0.crc").is_file()


def test_stateful_query_writes_rocksdb_state(spark, tmp_path):
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    spark.range(2000).select(
        (F.col("id") % 13).alias("k"), F.col("id").alias("v")
    ).write.parquet(src)

    sdf = spark.readStream.schema("k long, v long").parquet(src)
    q = (
        sdf.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("rocksdb_state_probe")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    out = spark.table("rocksdb_state_probe")
    assert out.count() == 13

    # RocksDB's on-disk layout is unmistakable: SST files under SSTs/
    # or zipped snapshots / .changelog deltas per version. The heap
    # provider writes only `<version>.delta` / `<version>.snapshot`.
    state_files = [
        os.path.basename(p)
        for p in glob.glob(os.path.join(ck, "state", "**", "*"), recursive=True)
        if os.path.isfile(p)
    ]
    rocks = [
        f
        for f in state_files
        if f.endswith(".sst")
        or f.endswith(".zip")
        or f.endswith(".changelog")
    ]
    assert rocks, f"no RocksDB artifacts in state dir, saw: {state_files[:20]}"
    # every checkpoint file keeps its Hadoop checksum sidecar
    ck_files = [
        p
        for p in glob.glob(os.path.join(ck, "**", "*"), recursive=True)
        if os.path.isfile(p)
    ]
    assert ck_files
    for p in ck_files:
        d, f = os.path.split(p)
        assert os.path.isfile(os.path.join(d, f".{f}.crc")), p


def test_tumbling_counts_resumes_from_checkpoint(spark, tmp_path):
    """The benchmark's stateful job across a restart: drain the first
    half of the time-ordered events, stop, land the rest while the job
    is down, restart from the same checkpoint. The complete-mode result
    must equal tumbling_counts over the batch table, which it can only
    do by reading back the windowed aggregate's RocksDB changelog."""
    from spring_and_kafka_spark.sources.tables import load_table
    from spring_and_kafka_spark.streaming.replay import read_event_stream
    from spring_and_kafka_spark.streaming.windows import tumbling_counts

    from .conftest import SF_SMOKE, stage_time_ordered_chunks

    ev = load_table(spark, SF_SMOKE, "events")
    stage = str(tmp_path / "events")
    ck = str(tmp_path / "ck")

    def drain(name: str) -> set:
        q = (
            tumbling_counts(read_event_stream(spark, stage))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {tuple(r) for r in spark.table(name).collect()}

    batch = {tuple(r) for r in tumbling_counts(ev).collect()}
    stage_time_ordered_chunks(ev, stage, lo=1, hi=4)
    first = drain("tumble_first_half")
    assert first and first != batch  # phase 1 saw only half the events
    stage_time_ordered_chunks(ev, stage, lo=4, hi=7)  # lands while down
    assert drain("tumble_resumed") == batch
    assert glob.glob(
        os.path.join(ck, "state", "**", "*.changelog"), recursive=True
    ), "the resumed aggregate left no RocksDB changelog"


def test_cusum_keyed_state_resumes_from_checkpoint(spark, tmp_path):
    """The failure-recovery half of the RocksDB story: a keyed-state
    stream is stopped after draining half the (time-ordered) input,
    new files arrive while it is down, and a restart from the SAME
    checkpoint must CONTINUE the per-key CUSUM carries (prefix sum,
    running min) rather than restart them — final per-key summaries
    equal the batch q_ts_cusum over the full table. State crosses the
    restart through the RocksDB changelog checkpoint; the sink is the
    idempotent batch_id-partition pattern, so a replayed batch
    overwrites itself (exactly-once merge-on-read)."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    from spring_and_kafka_spark.exec_utils import ts_micros
    from spring_and_kafka_spark.operators.timeseries import q_ts_cusum
    from spring_and_kafka_spark.sources.tables import load_table
    from spring_and_kafka_spark.streaming.replay import read_event_stream
    from spring_and_kafka_spark.streaming.stateful import cusum_stream

    from .conftest import SF_SMOKE

    from .conftest import stage_time_ordered_chunks

    ev = load_table(spark, SF_SMOKE, "events")
    stage = str(tmp_path / "events")

    def add_chunks(lo: int, hi: int) -> None:
        stage_time_ordered_chunks(ev, stage, lo=lo, hi=hi)

    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def run_phase() -> None:
        dev = read_event_stream(spark, stage, max_files_per_trigger=1).select(
            "event_type",
            "event_id",
            ts_micros("ts").alias("us"),
            (
                F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long")
                - 60_000_000
            ).alias("d"),
        )

        def on_batch(bdf, bid):
            bdf.write.mode("overwrite").parquet(f"{out_dir}/batch_id={bid}")

        q = (
            cusum_stream(dev)
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", ck)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    add_chunks(1, 4)
    run_phase()  # drains the first half, then stops (availableNow)
    mid = spark.read.parquet(out_dir)
    assert 0 < mid.count()  # phase 1 really emitted state updates

    add_chunks(4, 7)  # data lands while the job is DOWN
    run_phase()  # restart from the same checkpoint

    out = spark.read.parquet(out_dir)
    last = {}
    for r in out.collect():
        if (
            r.event_type not in last
            or r.n_events > last[r.event_type].n_events
        ):
            last[r.event_type] = r
    streamed = {
        k: (r.n_events, r.n_alarms, r.max_cusum_micros, r.first_alarm_us)
        for k, r in last.items()
    }
    batch = {
        r.event_type: (
            r.n_events,
            r.n_alarms,
            r.max_cusum_micros,
            r.first_alarm_us,
        )
        for r in q_ts_cusum(spark, SF_SMOKE).collect()
    }
    assert streamed == batch


def test_drift_monitor_resumes_and_restart_is_idempotent(spark, tmp_path):
    """Offset-resume for the maintained drift monitor: drain half the
    corpus, stop, add the rest, restart from the same checkpoint — the
    readout equals the batch q_text_js_shift over the full corpus. A
    third restart with NO new data must process zero batches and leave
    the answer unchanged (idempotent recovery)."""
    from pyspark.sql import functions as F

    from spring_and_kafka_spark.llm.text import q_text_js_shift
    from spring_and_kafka_spark.sources.tables import load_table
    from spring_and_kafka_spark.streaming.drift import (
        maintained_js,
        token_delta_stream,
    )

    from .conftest import SF_SMOKE

    d = load_table(spark, SF_SMOKE, "documents").select("source", "text")
    stage = str(tmp_path / "docs")
    half1 = d.filter(F.crc32(F.col("text")) % 2 == 0)
    half2 = d.filter(
        F.col("text").isNull() | (F.crc32(F.col("text")) % 2 != 0)
    )
    half1.coalesce(2).write.mode("append").parquet(stage)

    state = str(tmp_path / "state")

    def run_phase() -> None:
        docs = (
            spark.readStream.schema(spark.read.parquet(stage).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(stage)
        )
        q = token_delta_stream(docs, state)
        q.awaitTermination()

    run_phase()
    half2.coalesce(2).write.mode("append").parquet(stage)
    run_phase()

    batch = {
        r.source: (r.n_tokens, r.vocab_size, r.js_bits)
        for r in q_text_js_shift(spark, SF_SMOKE).collect()
    }
    after_resume = {
        r.source: (r.n_tokens, r.vocab_size, r.js_bits)
        for r in maintained_js(spark, state).collect()
    }
    assert after_resume == batch

    run_phase()  # nothing new: zero batches, answer unchanged
    assert {
        r.source: (r.n_tokens, r.vocab_size, r.js_bits)
        for r in maintained_js(spark, state).collect()
    } == batch


def test_attribution_keyed_state_resumes_from_checkpoint(spark, tmp_path):
    """Same failure-recovery shape for the attribution twin: the carried
    (touchpoint us, campaign) struct must survive a stop/restart — a
    click landing before the outage must still win a purchase that
    arrives after it, through the RocksDB changelog checkpoint."""
    from pyspark.sql import functions as F

    from spring_and_kafka_spark.exec_utils import ts_micros
    from spring_and_kafka_spark.operators.analytics import q_attribution
    from spring_and_kafka_spark.sources.tables import load_table
    from spring_and_kafka_spark.streaming.replay import read_event_stream
    from spring_and_kafka_spark.streaming.stateful import attribution_stream

    from .conftest import SF_SMOKE, stage_time_ordered_chunks

    ev = load_table(spark, SF_SMOKE, "events")
    stage = str(tmp_path / "events")
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def run_phase() -> None:
        e = read_event_stream(spark, stage, max_files_per_trigger=1).select(
            "user_id",
            "event_id",
            ts_micros("ts").alias("us"),
            "event_type",
            "value",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )

        def on_batch(bdf, bid):
            bdf.write.mode("overwrite").parquet(f"{out_dir}/batch_id={bid}")

        q = (
            attribution_stream(e)
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    stage_time_ordered_chunks(ev, stage, lo=1, hi=4)
    run_phase()  # first half, stop
    stage_time_ordered_chunks(ev, stage, lo=4, hi=7)  # lands while down
    run_phase()  # resume from the same checkpoint

    out = spark.read.parquet(out_dir)
    streamed = {
        r.campaign: (r.n, None if r.rev is None else round(r.rev, 2))
        for r in out.groupBy("campaign")
        .agg(F.count("*").alias("n"), F.sum("value").alias("rev"))
        .collect()
    }
    batch = {
        r.campaign: (r.n_purchases, r.revenue)
        for r in q_attribution(spark, SF_SMOKE).collect()
    }
    assert set(streamed) == set(batch)
    import math

    for c, (n, rev) in batch.items():
        assert streamed[c][0] == n
        if rev is None:
            assert streamed[c][1] is None
        else:
            assert math.isclose(streamed[c][1], rev, abs_tol=0.02)


@pytest.mark.slow
def test_micro_batches_start_no_process():
    """DESIGN item 31 as a check: the forks tool drains tumbling_counts
    and the freshness maintainer over SF_CORRECT and counts the driver
    JVM's process starts per non-empty micro-batch; neither job may
    start a ``readlink`` or a ``chmod``."""
    from .conftest import SF_CORRECT

    repo = Path(__file__).resolve().parent.parent
    res = subprocess.run(
        [sys.executable, str(repo / "tools" / "jvm_forks.py"), SF_CORRECT],
        capture_output=True, text=True, check=True, timeout=600,
    )
    report = json.loads(res.stdout.strip().splitlines()[-1])
    for job, per_batch in report["per_job"].items():
        assert report["batches"][job] > 0, job
        for cmd in ("readlink", "chmod"):
            assert per_batch.get(cmd, 0) == 0, (job, cmd, res.stdout)
