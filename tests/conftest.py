from __future__ import annotations

import datetime as dt
import math
import shutil
import sys
import tempfile
from contextlib import contextmanager
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from spring_and_kafka_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

TS0 = dt.datetime(2024, 1, 1)
NAN = float("nan")
INF = float("inf")

# Spark DDL of the tables the staged fixtures write (the columns the
# registered queries read, in the generator's order).
LINEITEM = (
    "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
    "l_quantity double, l_extendedprice double, l_discount double, "
    "l_tax double, l_returnflag string, l_linestatus string, "
    "l_shipdate timestamp"
)
ORDERS = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)
CUSTOMER = (
    "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
    "c_mktsegment string"
)
EVENTS = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double"
)
EVENTS_PROPS = EVENTS + ", props string"
DOCUMENTS = "doc_id long, text string, lang string, source string, n_chars long"
EMBEDDINGS = "vec_id long, embedding array<float>, label int"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s


@contextmanager
def staged(spark, **tables):
    """Write each ``name=(rows, schema)`` to ``{tmp}/{name}.parquet`` in
    a fresh temp dir, yield the dir, then remove it. A DDL-string schema
    is written by Spark; a ``pyarrow.Schema`` by pyarrow, which keeps
    the exact physical types a non-Spark writer produces (int32,
    float32 lists, partial column sets)."""
    d = tempfile.mkdtemp(prefix="staged-")
    try:
        for name, (rows, schema) in tables.items():
            path = f"{d}/{name}.parquet"
            if isinstance(schema, str):
                spark.createDataFrame(rows, schema).write.parquet(path)
            else:
                named = [dict(zip(schema.names, r)) for r in rows]
                pq.write_table(pa.Table.from_pylist(named, schema), path)
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


def lineitem(items):
    """``(rows, LINEITEM)`` for ``(orderkey, partkey)`` pairs, line
    numbers 1..n: the co-order graph the graph queries read."""
    shipdate = TS0 + dt.timedelta(days=1)
    rows = [
        (ok, pk, 1, i + 1, 1.0, 1.0, 0.0, 0.0, "N", "O", shipdate)
        for i, (ok, pk) in enumerate(items)
    ]
    return rows, LINEITEM


def contract(x):
    """The ingest boundary: finite-or-null."""
    if x is None or math.isnan(x) or math.isinf(x):
        return None
    return x


# finite | None | non-finite — the full external-double domain
raw_value = st.one_of(
    st.floats(min_value=-1e4, max_value=1e4, allow_nan=False),
    st.none(),
    st.sampled_from([float("nan"), float("inf"), float("-inf")]),
)

# (event_type, day | None, value) rows of the daily-revenue replays that
# both the rolling-median and the Theil-Sen batteries drive
ev_rows = st.lists(
    st.tuples(
        st.sampled_from(["click", "view"]),
        st.one_of(st.none(), st.integers(0, 9)),   # day (None -> NULL ts)
        st.one_of(
            st.none(), st.just(NAN), st.just(INF),
            st.floats(-1e5, 1e5, allow_nan=False, allow_infinity=False),
        ),
    ),
    min_size=1,
    max_size=50,
)


def ev_table(rows):
    """``(rows, EVENTS_PROPS)`` for ``ev_rows`` examples: a NULL day
    stages a NULL ``ts``, users cycle 0..4, props ``{}``."""
    staged_rows = [
        (
            i,
            None if day is None else TS0 + dt.timedelta(days=day),
            i % 5,
            et,
            v,
            "{}",
        )
        for i, (et, day, v) in enumerate(rows)
    ]
    return staged_rows, EVENTS_PROPS


def daily_micros(rows, keep_null_day):
    """Per-(event_type, day) revenue of ``ev_rows`` in exact micro-units:
    non-finite values count as NULL, an all-NULL day sums to NULL."""
    from collections import defaultdict

    daily = defaultdict(list)
    for et, day, v in rows:
        if day is None and not keep_null_day:
            continue
        vi = (
            None
            if v is None or (isinstance(v, float) and not math.isfinite(v))
            else math.floor(v * 1e6 + 0.5)
        )
        daily[(et, day)].append(vi)
    return {
        k: (sum(x for x in vs if x is not None)
            if any(x is not None for x in vs) else None)
        for k, vs in daily.items()
    }


def interp_median(vals):
    """The (n-1)*0.5 interpolated median of the non-NULL ``vals`` in the
    engines' ``lo + (hi - lo) * f`` form (exact on micro-unit ints)."""
    vs = sorted(v for v in vals if v is not None)
    if not vs:
        return None
    idx = (len(vs) - 1) * 0.5
    lo, f = int(idx // 1), idx % 1
    hi = min(lo + 1, len(vs) - 1)
    return vs[lo] + (vs[hi] - vs[lo]) * f


def drain(writer):
    """Run a ``DataStreamWriter`` to completion with
    ``trigger(availableNow=True)``: start it, wait until it ends,
    re-raise the query's exception and return the finished query, whose
    ``recentProgress`` the caller may read."""
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    if q.exception() is not None:
        raise q.exception()
    return q


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
