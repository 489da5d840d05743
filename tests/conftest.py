from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from spring_and_kafka_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from spring_and_kafka_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    return con


def stage_time_ordered_chunks(
    df, stage: str, n_chunks: int = 6, lo: int = 1, hi: int | None = None
) -> str:
    """Write `df` (an events-shaped frame with ts/event_id) as
    sequential TIME-ORDERED chunk files under `stage`, so a file
    source's modification-time ordering replays the stream in order.
    `lo`/`hi` select a chunk sub-range (1-based, hi exclusive) so resume
    tests can land the first half, stop, then land the rest — the ONE
    shared implementation of the ordering-sensitive staging both
    streaming batteries and the checkpoint-resume tests depend on."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    ranked = df.withColumn(
        "chunk", F.ntile(n_chunks).over(W.orderBy("ts", "event_id"))
    )
    for k in range(lo, n_chunks + 1 if hi is None else hi):
        ranked.filter(F.col("chunk") == k).drop("chunk").coalesce(
            1
        ).write.mode("append").parquet(stage)
    return stage


def mv_base_and_changelog(spark, sf_dir: str):
    """(base view, CDC changelog) over ``sf_dir``'s orders in the
    q_mv_incremental convention: the base is the monthly (n_orders,
    revenue_cents) view of snapshot A; changelog rows (month_id,
    d_orders, d_cents) retract deletes, carry the repriced updates'
    cent difference and add inserts. mv_delta_stream folds the
    changelog; maintained_view over the base must equal
    q_mv_incremental."""
    from pyspark.sql import functions as F

    from spring_and_kafka_spark.operators.layout import _MV_DEL, _MV_INS, _MV_UPD
    from spring_and_kafka_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    month_id = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast(
        "long"
    ).alias("month_id")
    cents = lambda c: F.floor(c * 100 + F.lit(0.5)).cast("long")  # noqa: E731
    price = F.col("o_totalprice")
    key = F.col("o_orderkey")

    def rows(cond, d_orders, d_cents):
        return o.filter(cond).select(
            month_id,
            F.lit(d_orders).cast("long").alias("d_orders"),
            d_cents.alias("d_cents"),
        )

    base = o.groupBy(month_id).agg(
        F.count("*").alias("n_orders"),
        F.sum(cents(price)).alias("revenue_cents"),
    )
    changelog = (
        rows(key % _MV_DEL == 0, -1, -cents(price))
        .unionByName(
            rows(
                (key % _MV_DEL != 0) & (key % _MV_UPD == 0),
                0,
                cents(price * 1.1) - cents(price),
            )
        )
        .unionByName(rows(key % _MV_INS == 0, 1, cents(price)))
    )
    return base, changelog
