"""Brokerless stream replay: run the static `events` fixture through a
file-source stream (SURVEY.md §5.2) so every streaming operator is testable
with no Kafka broker, then drained with availableNow (the deterministic
analog of the reference's drain-the-queue consumer loop).

maxFilesPerTrigger plays the reference's maxMessages(10) role
(reference: src/main/java/jc/DemoApplication.java:147): bounded work per
micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spring_and_kafka_spark.sources.tables import load_table


def stage_event_chunks(
    spark: SparkSession, sf_dir: str, stage_dir: str, n_chunks: int = 8
) -> str:
    """Split events into n parquet chunk-files under stage_dir — the
    "topic" the file stream consumes (each file ≈ a batch of messages)."""
    events = load_table(spark, sf_dir, "events")
    events.repartition(n_chunks).write.mode("overwrite").parquet(stage_dir)
    return stage_dir


def read_event_stream(
    spark: SparkSession, stage_dir: str, max_files_per_trigger: int = 2
) -> DataFrame:
    """File-source streaming DataFrame over staged event chunks, schema
    locked from the static table (file streams require explicit schema).

    The finite-or-null float contract is applied here too: staged
    chunks are already clean (stage_events writes through load_table's
    contract-enforcing scan), but a deploy pointing this reader at RAW
    external parquet must get the same ingest boundary the batch scan
    guarantees — the normalization is a no-op on clean data and fuses
    into the stream's source projection."""
    from spring_and_kafka_spark.sources.tables import _enforce_float_contract

    schema = spark.read.parquet(stage_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(stage_dir)
    )
    return _enforce_float_contract(stream, "events")


def drain_to_memory(stream_df: DataFrame, table_name: str, spark: SparkSession) -> DataFrame:
    """Run the stream to completion (availableNow) into an in-memory sink
    in append mode and return the result as a batch DataFrame. An
    aggregate without a watermark cannot append, so Spark's analyzer
    rejects it at start."""
    query = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(table_name)
