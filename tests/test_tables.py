"""Table registration (sources/tables.py): every parquet schema comes
from one footer read on the driver (parquet_schema), equals the schema
Spark's own inference gives, and registering tables or a replayed
stream launches no Spark job."""

from __future__ import annotations

import os
import re
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spring_and_kafka_spark.sources.tables import (
    TABLES,
    _enforce_float_contract,
    clear_table_cache,
    load_table,
    parquet_schema,
)
from spring_and_kafka_spark.streaming.replay import (
    read_event_stream,
    stage_event_chunks,
)

from .conftest import SF_CORRECT, SF_SMOKE


def _mismatch(spark, path: str):
    """None when a read through parquet_schema reports the schema an
    inferring read does, else both schemas. Read schemas, not raw
    footers: Spark's row metadata may mark columns non-null, and every
    file read forces them nullable."""
    inferred = spark.read.parquet(path).schema
    given = spark.read.schema(parquet_schema(spark, path)).parquet(path).schema
    return None if given == inferred else (path, given, inferred)


@pytest.mark.parametrize("sf", [SF_SMOKE, SF_CORRECT])
def test_parquet_schema_matches_inference_on_every_table(spark, sf):
    bad = [_mismatch(spark, f"{sf}/{t}.parquet") for t in TABLES]
    assert [b for b in bad if b] == []


def test_parquet_schema_matches_inference_on_spark_written_dirs(spark, tmp_path):
    df = spark.range(5).select(
        "id",
        F.lit("2024-03-01 12:34:56.789").cast("timestamp_ntz").alias("ntz"),
        F.lit("2024-03-01 12:34:56.789").cast("timestamp").alias("ltz"),
        F.array(F.lit(1.5).cast("float"), F.lit(None).cast("float")).alias("vec"),
        (F.col("id") / 7).cast("decimal(12,4)").alias("amount"),
        F.when(F.col("id") > 0, F.col("id").cast("string")).alias("label"),
    )
    full, empty = str(tmp_path / "full"), str(tmp_path / "empty")
    df.repartition(3).write.parquet(full)
    df.limit(0).write.parquet(empty)
    names = os.listdir(full)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    assert _mismatch(spark, full) is None
    assert _mismatch(spark, empty) is None
    assert parquet_schema(spark, empty)["vec"].dataType == T.ArrayType(T.FloatType())


@pytest.mark.parametrize(
    "unit, conf, value, ts_type",
    [
        ("us", "spark.sql.parquet.inferTimestampNTZ.enabled", "false", T.TimestampType()),
        ("ns", "spark.sql.legacy.parquet.nanosAsLong", "true", T.LongType()),
    ],
)
def test_parquet_schema_follows_session_conf(spark, tmp_path, unit, conf, value, ts_type):
    # A file without Spark's row metadata: the converter, built from
    # the session's SQLConf at call time, decides the timestamp's type.
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "ts.parquet")
    pq.write_table(pa.table({"ts": pa.array([0, 1], pa.timestamp(unit))}), path)
    spark.conf.set(conf, value)
    try:
        assert parquet_schema(spark, path)["ts"].dataType == ts_type
        assert _mismatch(spark, path) is None
    finally:
        spark.conf.unset(conf)


def test_event_stream_schema_matches_inference(spark, tmp_path):
    stage = stage_event_chunks(spark, SF_SMOKE, str(tmp_path / "topic"), 4)
    assert _mismatch(spark, stage) is None
    inferred = spark.readStream.schema(spark.read.parquet(stage).schema).parquet(stage)
    assert (
        read_event_stream(spark, stage).schema
        == _enforce_float_contract(inferred, "events").schema
    )


def test_parquet_schema_raises_naming_a_dir_without_data(spark, tmp_path):
    d = tmp_path / "no_data"
    d.mkdir()
    (d / "_SUCCESS").touch()
    (d / "._SUCCESS.crc").touch()
    with pytest.raises(FileNotFoundError, match=re.escape(str(d))):
        parquet_schema(spark, str(d))


def test_registration_launches_no_spark_job(spark, tmp_path):
    stage = stage_event_chunks(spark, SF_SMOKE, str(tmp_path / "topic"), 2)
    sc = spark.sparkContext
    group = f"registration-{uuid.uuid4().hex}"

    def jobs() -> list[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group))

    clear_table_cache()
    sc.setJobGroup(group, "table registration")
    try:
        for name in TABLES:
            load_table(spark, SF_SMOKE, name)
        read_event_stream(spark, stage)
        assert jobs() == []
        spark.range(1).collect()  # the tracker does see this group's jobs
        assert len(jobs()) == 1
    finally:
        sc._jsc.clearJobGroup()
