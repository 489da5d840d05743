"""Window functions (SURVEY.md §2.5).

All windows partition by a key → one shuffle on the partition key, then
per-partition sort; no global sort anywhere (a global window without
PARTITION BY funnels everything through one task — only q_sort uses that,
on a 100-row table). Every ORDER BY includes a unique tie-break column so
results are deterministic and hash-match the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from spring_and_kafka_spark.exec_utils import cents as ex_cents
from spring_and_kafka_spark.exec_utils import cents_sql, micros_sql, ts_micros
from spring_and_kafka_spark.exec_utils import micros as ex_micros
from spring_and_kafka_spark.operators.timeseries import (
    event_window,
    event_window_sql,
    frame_moments,
    frame_moments_sql,
    moment_det,
    moment_det_sql,
    moment_num,
    moment_num_sql,
)
from spring_and_kafka_spark.registry import register
from spring_and_kafka_spark.sources.tables import load_table


@register(
    "q_win_rank",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(row_number()  OVER w AS BIGINT) AS rn,
           CAST(rank()        OVER w AS BIGINT) AS rk,
           CAST(dense_rank()  OVER w AS BIGINT) AS drk,
           CAST(ntile(4)      OVER w AS BIGINT) AS nt
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family: row_number/rank/dense_rank/ntile per customer."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rk"),
        F.dense_rank().over(w).cast("long").alias("drk"),
        F.ntile(4).over(w).cast("long").alias("nt"),
    )


@register(
    "q_win_lag",
    oracle=f"""
    SELECT event_id, user_id,
           lag(value)  OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           first_value(value) OVER ({event_window_sql()}
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_value
    FROM events
    WINDOW w AS ({event_window_sql()})
    """,
)
def q_win_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic family: lag/lead/first_value along each user's timeline.
    No arithmetic → raw stored doubles compare exactly."""
    e = load_table(spark, sf_dir, "events")
    w = event_window()
    wf = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return e.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.first("value").over(wf).alias("first_value"),
    )


@register(
    "q_win_frame_rows",
    oracle="""
    SELECT o_orderkey, o_custkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
           round(avg(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg3
    FROM orders
    """,
)
def q_win_frame_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS frames: running total + 3-row moving average per customer."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
            2,
        ).alias("running_total"),
        F.round(
            F.avg("o_totalprice").over(w.rowsBetween(-2, W.currentRow)), 4
        ).alias("moving_avg3"),
    )


@register(
    "q_win_frame_range",
    oracle="""
    SELECT o_orderkey, o_custkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
             RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW), 2) AS sum_90d
    FROM orders
    """,
)
def q_win_frame_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event-time: trailing-90-day revenue per customer.
    Spark RANGE frames need a numeric ordering column → epoch seconds
    (90 days = 7,776,000 s); the oracle mirrors the same encoding."""
    o = load_table(spark, sf_dir, "orders")
    o = o.withColumn("o_epoch", F.unix_timestamp("o_orderdate"))
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_epoch")
        .rangeBetween(-7_776_000, W.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("sum_90d"),
    )


@register(
    "q_win_dist",
    oracle="""
    SELECT s_suppkey,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd
    FROM supplier
    -- NULLS FIRST = Spark's asc default (DuckDB defaults NULLS LAST)
    WINDOW w AS (ORDER BY s_acctbal NULLS FIRST, s_suppkey)
    """,
)
def q_win_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution family: percent_rank / cume_dist (global window on the
    100-row supplier dim — the one acceptable single-partition window)."""
    s = load_table(spark, sf_dir, "supplier")
    w = W.orderBy("s_acctbal", "s_suppkey")
    return s.select(
        "s_suppkey",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@register(
    "q_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: rank window + filter. At scale Spark
    pushes the rank-filter into the window via WindowGroupLimit (top-k per
    key without materializing full partitions)."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
            "rn",
        )
    )


@register(
    "q_win_ntile",
    oracle="""
    SELECT o_orderpriority, o_orderkey,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           floor(percent_rank() OVER w * 1e6 + 0.5) / 1e6 AS pct_rank,
           floor(cume_dist() OVER w * 1e6 + 0.5) / 1e6 AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 -- NULLS FIRST pins Spark's asc default; DuckDB defaults
                 -- NULLS LAST, so a NULL price would shift every rank
                 -- ratio in its partition
                 ORDER BY o_totalprice NULLS FIRST, o_orderkey)
    """,
)
def q_win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows: ntile quartiles, percent_rank, cume_dist over
    order value WITHIN each priority class. Partitioned by a bounded key on
    purpose — a single global ntile is a one-partition sort at 100 TB; the
    scalable form computes distribution stats per partition key (or uses
    approx percentiles for global cuts). Ties broken by o_orderkey so the
    frame order is total; both rank ratios are exact rationals of row
    counts, floor-form rounded at 1e-6 on both engines."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderpriority",
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        (ex_micros(F.percent_rank().over(w)) / 1e6).alias("pct_rank"),
        (ex_micros(F.cume_dist().over(w)) / 1e6).alias("cume"),
    )


@register(
    "q_win_running_distinct",
    oracle=f"""
    SELECT user_id, event_id,
           CAST(count(DISTINCT event_type) OVER (
             {event_window_sql()}
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS INTEGER) AS n_types_seen
    FROM events
    """,
)
def q_win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running count of DISTINCT event types each user has produced so
    far — the growing-engagement-breadth signal. SQL windows have no
    incremental distinct aggregate in Spark, so the implementation keeps
    a collect_set over the frame and takes its size; the count (unlike
    the set's order) is deterministic. DuckDB states it directly as a
    windowed COUNT(DISTINCT).

    Shape at 100 TB: one shuffle on user_id, one sorted pass; frame state
    is the per-user type set, bounded by the type-vocabulary size (5
    here; small by construction for categorical columns — for unbounded
    value domains use the approx_count_distinct sketch instead)."""
    e = load_table(spark, sf_dir, "events")
    w = event_window().rowsBetween(W.unboundedPreceding, 0)
    return e.select(
        "user_id",
        "event_id",
        F.size(F.collect_set("event_type").over(w)).alias("n_types_seen"),
    )


@register(
    "q_win_first_last",
    oracle="""
    SELECT o_orderkey, o_custkey,
           first_value(o_orderkey) OVER w AS first_ok,
           last_value(o_orderkey) OVER w AS last_ok,
           nth_value(o_orderkey, 2) OVER w AS second_ok
    FROM orders
    WINDOW w AS (
      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
)
def q_win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over the full partition frame
    (SURVEY.md §2.5 navigation functions): each order annotated with its
    customer's first, last, and second order. The explicit
    unbounded-following frame matters — last_value under the default
    frame is just the current row. One shuffle on o_custkey; all three
    functions share the single sorted window pass."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_ok"),
        F.last("o_orderkey").over(w).alias("last_ok"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_ok"),
    )


@register(
    "q_win_trend",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_id,
             (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00'))
               // 1000000 AS x,
             {cents_sql('value')} AS y
      FROM events
    ),
    frames AS (
      SELECT user_id, event_id, {frame_moments_sql("x", "y", "w")}
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY x, event_id
                   ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           round({moment_num_sql()} / (100.0 * {moment_det_sql()}), 6) + 0.0
             AS slope
    FROM frames WHERE n = 8 AND {moment_det_sql()} <> 0
    """,
)
def q_win_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling OLS trend: the regression slope of value against time over
    each user's trailing 8 events — the streaming trend-detection
    operator (alert when a metric's local slope flips sign).

    The slope is the closed form over the integer `frame_moments`. x is
    seconds since the fixture epoch (rebasing keeps n·Σx² below 2^63;
    raw epoch-micros squared would overflow), y is cents; the closed
    form is shift-invariant so the rebase does not change the slope.
    One user_id shuffle, all sums share one window frame. Degenerate
    frames (all events in the same second) are excluded rather than
    divided by zero."""
    e = load_table(spark, sf_dir, "events")
    x = (
        (ts_micros("ts") - F.lit(1704067200000000)) / F.lit(1000000)
    ).cast("long")
    y = ex_cents("value")
    base = e.select(
        "user_id", "event_id", x.alias("x"), y.alias("y")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("x", "event_id")
        .rowsBetween(-7, W.currentRow)
    )
    frames = base.select("user_id", "event_id", *frame_moments("x", "y", w))
    det = moment_det()
    return frames.filter((F.col("n") == 8) & (det != 0)).select(
        "user_id",
        "event_id",
        # + 0.0 collapses IEEE -0.0 to 0.0 (semistructured.py convention)
        (F.round(moment_num() / (100.0 * det), 6) + F.lit(0.0)).alias("slope"),
    )


@register(
    "q_win_streak",
    oracle=f"""
    WITH numbered AS (
      SELECT user_id, event_type,
             row_number() OVER ({event_window_sql()}) AS rn,
             row_number() OVER ({event_window_sql("user_id, event_type")})
               AS rn_t
      FROM events
    ),
    islands AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS streak_len
      FROM numbered GROUP BY user_id, event_type, rn - rn_t
    )
    SELECT user_id, event_type AS top_type, streak_len AS longest_streak
    FROM (
      SELECT user_id, event_type, streak_len,
             -- NULLS FIRST on both type keys: a NULL-type island is a
             -- legal streak and Spark's asc default ranks it first at
             -- ties; DuckDB would rank it last
             row_number() OVER (PARTITION BY user_id
                                ORDER BY streak_len DESC,
                                         length(event_type) NULLS FIRST,
                                         event_type NULLS FIRST) AS rk
      FROM islands
    ) WHERE rk = 1
    """,
)
def q_win_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive same-type streak per user (gaps-and-islands):
    the classic 'rn − rn_per_type' island grouping — consecutive rows of
    one type share the difference of the two row_numbers, so islands
    fall out of a groupBy with no self-join or loop. The
    engagement-streak / anomaly-burst primitive.

    Ties between equally-long streaks of different types resolve by a
    total order (len desc, shorter type name, lexical) stated as the
    same rank-window in BOTH engines — DuckDB's max_by has no composite
    key form, and an unordered argmax would be nondeterministic. Two
    window passes and two groupBys, all partitioned on user_id — one
    shuffle."""
    e = load_table(spark, sf_dir, "events")
    wu = event_window()
    wt = event_window("user_id", "event_type")
    numbered = e.select(
        "user_id",
        "event_type",
        (F.row_number().over(wu) - F.row_number().over(wt)).alias("grp"),
    )
    islands = numbered.groupBy("user_id", "event_type", "grp").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    wk = W.partitionBy("user_id").orderBy(
        F.col("streak_len").desc(), F.length("event_type"), "event_type"
    )
    return (
        islands.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("top_type"),
            F.col("streak_len").alias("longest_streak"),
        )
    )


_RSLOPE_WIN = 20


@register(
    "q_win_rolling_slope",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id, value,
             {micros_sql('value')} AS vi,
             CAST(row_number() OVER ({event_window_sql()}) AS BIGINT) AS rn
      FROM events
    ),
    framed AS (
      SELECT user_id, event_id, value, {frame_moments_sql("rn", "vi", "w")}
      FROM seq
      WINDOW w AS (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN {_RSLOPE_WIN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, value,
           CASE WHEN n >= 3
             THEN floor({moment_num_sql()} * 1.0
                        / {moment_det_sql()} / 1e6 * 1e4 + 0.5) / 1e4 + 0.0
           END AS roll_slope
    FROM framed
    """,
)
def q_win_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling regression slope: the least-squares trend of the
    last {20} values against their sequence index, emitted per row — the
    windowed sibling of q_agg_corr's regr_slope and the feature a
    monitoring pipeline thresholds for 'steadily rising' (vs q_ts_cusum's
    step-change view). NULL until the frame has 3 points.

    Exactness discipline: value scaled to integer micro-units and the
    regressor is the integer row index, so the slope is the closed form
    over exact integer `frame_moments`. One shuffle on user_id, running
    frame sums, no per-row recompute of the frame."""
    e = load_table(spark, sf_dir, "events")
    seq = e.select(
        "user_id",
        "event_id",
        "value",
        ex_micros("value").alias("vi"),
        F.row_number().over(event_window()).cast("long").alias("rn"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(-(_RSLOPE_WIN - 1), 0)
    )
    framed = seq.select(
        "user_id", "event_id", "value", *frame_moments("rn", "vi", w)
    )
    num, den = moment_num(), moment_det()
    return framed.select(
        "user_id",
        "event_id",
        "value",
        F.when(
            F.col("n") >= 3,
            # floor-form half-up: Spark round() (decimal HALF_UP) and
            # DuckDB round() (binary) disagree on .xxxx5 boundaries;
            # floor(x*1e4+0.5)/1e4 is identical in both (repo convention)
            F.floor(num * 1.0 / den / 1e6 * 1e4 + F.lit(0.5)) / 1e4 + 0.0,
        ).alias("roll_slope"),
    )


@register(
    "q_win_rolling_median",
    oracle=f"""
    WITH s AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             {micros_sql('value')} AS vi
      FROM events
    ),
    d AS (
      SELECT event_type, day, CAST(sum(vi) AS BIGINT) AS rev_micros
      FROM s GROUP BY 1, 2
    )
    SELECT event_type, day, rev_micros,
           quantile_cont(rev_micros, 0.5) OVER (
             PARTITION BY event_type ORDER BY day NULLS FIRST
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7_micros
    FROM d
    """,
)
def q_win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling MEDIAN of daily revenue per event type — the robust
    trend line a monitoring dashboard draws instead of the mean (one
    spike day cannot drag it; the q_ts_mad robustness argument applied
    to the windowed form). Demonstrates aggregate-as-window-function:
    an exact percentile evaluated over a moving ROWS frame.

    Cross-engine determinism: daily revenue scales to exact micro-unit
    BIGINTs BEFORE the window (`micros`), so the median
    interpolates on integers and lands on an exact .5 grid — no float-
    order drift inside the frame. Spark `percentile` and DuckDB
    `quantile_cont` share the (n-1)·p interpolation rule (the
    q_winsorize pin), both skip NULL frame members, and the window
    ORDER BY pins NULLS FIRST (a NULL ingest day sorts first in both
    engines instead of shifting every frame by one).

    Shape at 100 TB: ONE map-side-combined groupBy onto the (type, day)
    key — the only stage that sees row volume — then the window runs
    over the days-sized aggregate, partitioned by event_type: each
    partition sorts O(days) rows on one reducer, which is the correct
    plan (the q_dq_freshness argument)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        ex_micros("value").alias("vi"),
    )
    d = e.groupBy("event_type", "day").agg(
        F.sum("vi").alias("rev_micros")
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, W.currentRow)
    )
    return d.select(
        "event_type",
        "day",
        "rev_micros",
        F.percentile("rev_micros", F.lit(0.5)).over(w).alias("med7_micros"),
    )
