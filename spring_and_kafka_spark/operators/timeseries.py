"""Time-series operators: gap-filling/resampling, smoothing, robust
outliers, trends and subquery shapes.

Gap-fill is the canonical analytics-engine op the relational core can't
express with a plain groupBy: missing buckets must EXIST with zero counts.
The spine (bucket × dimension grid) is generated, not scanned — O(days ×
types) rows broadcast against the aggregated side, never against raw
events.

The rules the event-sequence and time-series queries share (here, in
`operators/analytics.py`, `operators/windows.py` and
`streaming/batch_equiv.py`) each have ONE Spark kernel with its DuckDB
twin beside it: the per-key event order (`event_window`/
`event_window_sql`), the 30-minute session break and its numbering
(`session_break`/`session_break_sql`, `session_ids`/`session_ids_sql`),
the integer frame moments (`frame_moments`/`frame_moments_sql` with
`moment_num`/`moment_det`), the per-user smoothing recurrence
(`smooth`/`smooth_sql`) and the MAD cut (`mad_cut`/`mad_cut_sql`).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from spring_and_kafka_spark.exec_utils import (
    materialize,
    micros,
    micros_sql,
    ratio6,
    ratio6_sql,
    ts_micros,
)
from spring_and_kafka_spark.registry import register
from spring_and_kafka_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# The per-key event order: (ts, event_id), unique per key, so lag, lead,
# row_number and running frames are deterministic in both engines. The
# SQL twin pins NULLS FIRST, Spark's ascending default.


def event_window(*keys: str) -> WindowSpec:
    """The event order partitioned by `keys` (default user_id)."""
    return W.partitionBy(*(keys or ("user_id",))).orderBy("ts", "event_id")


def event_window_sql(keys: str = "user_id") -> str:
    """DuckDB twin of event_window: the body of its window clause."""
    return f"PARTITION BY {keys} ORDER BY ts NULLS FIRST, event_id NULLS FIRST"


# ---------------------------------------------------------------------------
# The session break: an event opens a session when it has no predecessor
# timestamp in its key's order, or when more than 30 minutes separate it
# from that predecessor. Timestamps compare as exact integer µs.

SESSION_GAP_US = 1_800_000_000


def session_break(w: WindowSpec) -> Column:
    """1 where the event opens a session in the order `w`, else 0."""
    prev = F.lag("ts").over(w)
    gap = ts_micros("ts") - ts_micros(prev)
    return F.when(prev.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)


def session_break_sql(w: str) -> str:
    """DuckDB twin of session_break; `w` is a window name or a
    parenthesized window clause."""
    prev = f"lag(ts) OVER {w}"
    return (
        f"CASE WHEN {prev} IS NULL OR epoch_us(ts) - epoch_us({prev}) "
        f"> {SESSION_GAP_US} THEN 1 ELSE 0 END"
    )


def session_ids(df: DataFrame, w: WindowSpec, *cols: Column | str) -> DataFrame:
    """(cols…, sess_id) rows: sess_id counts the session breaks up to and
    including each event in the order `w`, so it numbers a key's
    sessions 1, 2, … The break flag and the running count share `w`:
    one sort per key."""
    running = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return df.withColumn("_brk", session_break(w)).select(
        *cols, F.sum("_brk").over(running).alias("sess_id")
    )


def session_ids_sql(w: str, cols: str) -> str:
    """DuckDB twin of session_ids over `events`; `w` is the body of the
    window clause, `cols` the select list."""
    return f"""
      SELECT {cols},
             CAST(sum(brk) OVER ({w} ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS sess_id
      FROM (SELECT *, {session_break_sql(f"({w})")} AS brk FROM events)"""


# ---------------------------------------------------------------------------
# The frame moments of two BIGINT columns x, y: n, Σx, Σy, Σxy, Σx² (and
# Σy²), named n, sx, sy, sxy, sxx, syy. Integer sums commute, so both
# engines hold the same integers whatever the aggregation order or the
# sliding-window algorithm; slopes and correlations then divide them
# along identical IEEE paths. The caller bounds the products under 2^63.


def frame_moments(
    x: str, y: str, w: WindowSpec | None = None, n: str = "n", yy: bool = False
) -> list[Column]:
    """The moments as aggregates of a groupBy, or over the frame `w`; the
    count is named `n`, Σy² is included if `yy`."""
    cx, cy = F.col(x), F.col(y)
    aggs = {
        n: F.count(F.lit(1)),
        "sx": F.sum(x),
        "sy": F.sum(y),
        "sxy": F.sum(cx * cy),
        "sxx": F.sum(cx * cx),
    }
    if yy:
        aggs["syy"] = F.sum(cy * cy)
    return [(a if w is None else a.over(w)).alias(k) for k, a in aggs.items()]


def frame_moments_sql(
    x: str, y: str, w: str | None = None, n: str = "n", yy: bool = False
) -> str:
    """DuckDB twin of frame_moments; `w` is a window name or a
    parenthesized window clause."""
    over = "" if w is None else f" OVER {w}"
    aggs = {
        n: "count(*)",
        "sx": f"sum({x})",
        "sy": f"sum({y})",
        "sxy": f"sum({x} * {y})",
        "sxx": f"sum({x} * {x})",
    }
    if yy:
        aggs["syy"] = f"sum({y} * {y})"
    return ", ".join(f"CAST({a}{over} AS BIGINT) AS {k}" for k, a in aggs.items())


def moment_num(n: str = "n") -> Column:
    """n·Σxy − Σx·Σy: the numerator of the closed-form slope and of
    Pearson's r."""
    return F.col(n) * F.col("sxy") - F.col("sx") * F.col("sy")


def moment_num_sql(n: str = "n") -> str:
    """DuckDB twin of moment_num."""
    return f"({n} * sxy - sx * sy)"


def moment_det(v: str = "x", n: str = "n") -> Column:
    """n·Σv² − (Σv)² for v in {x, y}: the slope's determinant, n² times
    the variance of v (0 on a constant frame)."""
    return F.col(n) * F.col(f"s{v}{v}") - F.col(f"s{v}") * F.col(f"s{v}")


def moment_det_sql(v: str = "x", n: str = "n") -> str:
    """DuckDB twin of moment_det."""
    return f"({n} * s{v}{v} - s{v} * s{v})"


# ---------------------------------------------------------------------------
# The per-user smoothing recurrence over the event order: the state
# starts at init(x₁) and steps state = step(x, *state) per event, in
# IEEE doubles; every output is a function of the state, micro-rounded
# in the floor form. Each row depends on the previous OUTPUT, which no
# SQL window frame expresses: Spark runs a sorted numpy loop per user
# (applyInPandas, one shuffle on user_id), DuckDB a recursive CTE whose
# expressions are written in the same IEEE order, so the doubles agree
# bit for bit. A key whose history outgrows a task decomposes by time
# shards: the recurrence is affine in its state, so shard partials fold
# left to right.


def smooth(
    e: DataFrame,
    init: Callable[..., tuple],
    step: Callable[..., tuple],
    out: dict[str, Callable[..., object]],
) -> DataFrame:
    """(user_id, event_id, value, out…) rows of the recurrence over the
    events `e`."""
    import numpy as np
    import pandas as pd

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"], na_position="first")
        xs = pdf["value"].to_numpy(dtype=np.float64)
        st: list[tuple] = []
        for i, x in enumerate(xs):
            st.append(init(x) if i == 0 else step(x, *st[-1]))
        cols = np.array(st, dtype=np.float64).reshape(len(xs), -1).T
        res = {c: pdf[c] for c in ("user_id", "event_id", "value")}
        for name, f in out.items():
            res[name] = np.floor(f(*cols) * 1e6 + 0.5) / 1e6
        return pd.DataFrame(res)

    schema = "user_id LONG, event_id LONG, value DOUBLE, " + ", ".join(
        f"{c} DOUBLE" for c in out
    )
    return (
        e.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandas(kernel, schema)
    )


def smooth_sql(state: dict[str, tuple[str, str]], out: dict[str, str]) -> str:
    """DuckDB twin of smooth over `events`: `state` maps each state
    column to (its first-row SQL over value, its step SQL over s.value
    and the previous row's r.<column>), `out` each output to its SQL
    over the state. The NULL user is one key, as in smooth's groupBy,
    so the recursion steps along it with IS NOT DISTINCT FROM."""
    init = ", ".join(f"{a} AS {c}" for c, (a, _) in state.items())
    step = ", ".join(b for _, b in state.values())
    outs = ", ".join(
        f"floor({x} * 1e6 + 0.5) / 1e6 AS {c}" for c, x in out.items()
    )
    return f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id, value,
             row_number() OVER ({event_window_sql()}) AS rn
      FROM events
    ),
    r AS (
      SELECT user_id, event_id, value, rn, {init}
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.event_id, s.value, s.rn, {step}
      FROM seq s JOIN r
        ON s.user_id IS NOT DISTINCT FROM r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id, event_id, value, {outs}
    FROM r
    """


# ---------------------------------------------------------------------------
# The MAD cut: a value is an outlier when |v − median(v)| > 3·1.4826·MAD,
# the 3σ-equivalent cut on the median absolute deviation. Values are
# exact integers (micros), so both medians interpolate on an exact .5/.25
# grid, the deviations are exact, and the one threshold multiply is the
# same IEEE op in both engines. A NULL value is never an outlier: count
# the flag with count(when(…)) / count(CASE …), which answer 0, not NULL.

MAD_K = 4.4478


def mad_cut(df: DataFrame, key: str, *cols: str) -> DataFrame:
    """`df` plus med_c, dev_c = |c − med_c|, mad_c and the outlier flag
    out_c (NULL for a NULL value) per column c, the stats per `key` (rows with a NULL key drop). The
    two exact per-key percentiles ride back as broadcasts: the fact
    side shuffles on `key` for them and never self-joins."""
    med = df.groupBy(key).agg(
        *(F.percentile(c, F.lit(0.5)).alias(f"med_{c}") for c in cols)
    )
    d = df.join(F.broadcast(med), key).withColumns(
        {f"dev_{c}": F.abs(F.col(c) - F.col(f"med_{c}")) for c in cols}
    )
    mad = d.groupBy(key).agg(
        *(F.percentile(f"dev_{c}", F.lit(0.5)).alias(f"mad_{c}") for c in cols)
    )
    return d.join(F.broadcast(mad), key).withColumns(
        {f"out_{c}": F.col(f"dev_{c}") > F.lit(MAD_K) * F.col(f"mad_{c}") for c in cols}
    )


def mad_cut_sql(src: str, key: str, *cols: str) -> str:
    """DuckDB twin of mad_cut over the CTE `src`: CTEs ending in `mad`."""
    med = ", ".join(f"quantile_cont({c}, 0.5) AS med_{c}" for c in cols)
    dev = ", ".join(f"abs({c} - med_{c}) AS dev_{c}" for c in cols)
    mad = ", ".join(f"quantile_cont(dev_{c}, 0.5) AS mad_{c}" for c in cols)
    out = ", ".join(f"dev_{c} > {MAD_K} * mad_{c} AS out_{c}" for c in cols)
    return f"""_med AS (SELECT {key}, {med} FROM {src} GROUP BY 1),
    _dev AS (SELECT *, {dev} FROM {src} JOIN _med USING ({key})),
    _mad AS (SELECT {key}, {mad} FROM _dev GROUP BY 1),
    mad AS (SELECT *, {out} FROM _dev JOIN _mad USING ({key}))"""


@register(
    "q_gapfill",
    oracle="""
    WITH spine AS (
      SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                    TIMESTAMP '2024-02-04 00:00:00',
                                    INTERVAL 1 DAY)) AS day
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
             count(*) AS cnt, round(sum(value), 2) AS total
      FROM events GROUP BY 1, 2
    )
    SELECT s.day, t.event_type,
           coalesce(d.cnt, 0) AS n,
           coalesce(d.total, 0.0) AS sum_value
    FROM spine s CROSS JOIN types t
    LEFT JOIN daily d ON d.day = s.day AND d.event_type = t.event_type
    """,
)
def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily counts per event_type with missing (day, type) buckets filled
    with zeros over a fixed spine (2024-01-01..2024-02-04 — deliberately
    wider than the data's Jan-01..30 span so empty buckets genuinely occur). Spine generated via sequence()
    (no scan), aggregation first, spine joined broadcast."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("total"))
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01 00:00:00").cast("timestamp"),
                F.lit("2024-02-04 00:00:00").cast("timestamp"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    types = e.select("event_type").distinct()
    grid = F.broadcast(spine.crossJoin(types))
    return grid.join(daily, ["day", "event_type"], "left").select(
        "day",
        "event_type",
        F.coalesce(F.col("cnt"), F.lit(0)).alias("n"),
        F.coalesce(F.col("total"), F.lit(0.0)).alias("sum_value"),
    )


@register(
    "q_fn_decimal",
    oracle="""
    SELECT o_orderstatus,
           CAST(sum(CAST(o_totalprice AS DECIMAL(14, 2))) AS DOUBLE) AS exact_total,
           CAST(sum(CAST(o_totalprice AS DECIMAL(14, 2))) AS VARCHAR) AS exact_str
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_fn_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact money arithmetic via DecimalType: unlike double sums, decimal
    summation is order-independent — the result is bit-identical no matter
    the partitioning (SURVEY.md §1.2 'DecimalType (money, if exactness
    needed)')."""
    o = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(14,2)")
    s = F.sum(dec)
    return o.groupBy("o_orderstatus").agg(
        s.cast("double").alias("exact_total"),
        s.cast("string").alias("exact_str"),
    )


@register(
    "q_subquery_scalar",
    oracle="""
    SELECT o.o_orderkey, round(o.o_totalprice, 2) AS total
    FROM orders o
    WHERE o.o_totalprice > 1.5 * (
      SELECT avg(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey
    )
    """,
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (orders 50% above their customer's
    average) — Catalyst decorrelates it into an aggregate + join
    (SURVEY.md §4: subquery decorrelation comes free)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    return spark.sql(
        """
        SELECT o.o_orderkey, round(o.o_totalprice, 2) AS total
        FROM orders_sq o
        WHERE o.o_totalprice > 1.5 * (
          SELECT avg(o2.o_totalprice) FROM orders_sq o2
          WHERE o2.o_custkey = o.o_custkey
        )
        """
    )


@register(
    "q_subquery_in",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 4800)
    """,
)
def q_subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery — planned as a left-semi join."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_in")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_in")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment FROM customer_in
        WHERE c_custkey IN (SELECT o_custkey FROM orders_in WHERE o_totalprice > 4800)
        """
    )


_EWMA_ALPHA = 0.2


@register(
    "q_ts_ewma",
    oracle=smooth_sql(
        {
            "ewma": (
                "CAST(value AS DOUBLE)",
                f"{_EWMA_ALPHA} * s.value + {1 - _EWMA_ALPHA} * r.ewma",
            )
        },
        {"ewma": "ewma"},
    ),
)
def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential moving average of event value (α=0.2),
    y_i = αx_i + (1-α)y_{i-1}, y_1 = x_1 — the classic sequential-state
    smoothing operator SQL windows cannot express (each row depends on
    the previous OUTPUT, not a frame of inputs). Runs on the `smooth`
    recurrence; per-group state is one float, and shard partials fold
    as (local ewma, (1-α)^len decay factor)."""
    return smooth(
        load_table(spark, sf_dir, "events"),
        lambda x: (x,),
        lambda x, y: (_EWMA_ALPHA * x + (1 - _EWMA_ALPHA) * y,),
        {"ewma": lambda y: y},
    )


_ANOM_WIN = 20
_ANOM_Z = 2.5


@register(
    "q_ts_anomaly",
    oracle=f"""
    WITH scaled AS (
      SELECT user_id, event_id, ts, value,
             {micros_sql('value')} AS vi
      FROM events
    ),
    framed AS (
      SELECT user_id, event_id, value, vi,
             count(*) OVER w AS cnt,
             sum(vi) OVER w AS s1,
             sum(vi * vi) OVER w AS s2
      FROM scaled
      WINDOW w AS ({event_window_sql()}
                   ROWS BETWEEN {_ANOM_WIN - 1} PRECEDING AND CURRENT ROW)
    ),
    stats AS (
      SELECT user_id, event_id, value,
             CAST(vi AS DOUBLE) AS vd,
             CAST(s1 AS DOUBLE) / {_ANOM_WIN} AS mean,
             (CAST(s2 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / {_ANOM_WIN})
               / {_ANOM_WIN - 1} AS var
      FROM framed WHERE cnt = {_ANOM_WIN}
    )
    SELECT user_id, event_id, value,
           floor((vd - mean) / sqrt(var) * 1e4 + 0.5) / 1e4 AS z
    FROM stats
    WHERE var > 0 AND abs((vd - mean) / sqrt(var)) > {_ANOM_Z}
    """,
)
def q_ts_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score anomaly detection: flag events whose value
    sits more than 2.5 sigma from the mean of the user's last 20 events.
    The monitoring primitive for metric streams.

    Cross-engine determinism by construction: the frame aggregates run on
    exact scaled BIGINTs (vi = floor(value*1e6+0.5); sum(vi) and
    sum(vi*vi) stay under 2^63 at the fixture value range, ANSI-safe), so
    both engines hold identical integers no matter what order — or what
    sliding-window algorithm (incremental vs segment tree) — produced
    them; mean/var/z then follow identical IEEE paths. A double-typed
    frame sum would NOT be stable across engines.

    Shape at 100 TB: one shuffle on user_id; the frame is computed in a
    single sorted pass per partition, state is two running integers. The
    full-frame gate (cnt = 20) suppresses warm-up noise."""
    e = load_table(spark, sf_dir, "events")
    vi = micros("value")
    scaled = e.select("user_id", "event_id", "ts", "value", vi.alias("vi"))
    w = event_window().rowsBetween(-(_ANOM_WIN - 1), 0)
    framed = scaled.select(
        "user_id",
        "event_id",
        "value",
        "vi",
        F.count("*").over(w).alias("cnt"),
        F.sum("vi").over(w).alias("s1"),
        F.sum(F.col("vi") * F.col("vi")).over(w).alias("s2"),
    ).filter(F.col("cnt") == _ANOM_WIN)
    vd = F.col("vi").cast("double")
    mean = F.col("s1").cast("double") / _ANOM_WIN
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / _ANOM_WIN
    ) / (_ANOM_WIN - 1)
    # NULL z on a CONSTANT window (var = 0): the var > 0 filter below
    # drops those rows anyway, but under ANSI the projection evaluates
    # before the filter and an unguarded /0 throws (robustness sweep)
    z = F.when(var > 0, (vd - mean) / F.sqrt(var))
    return (
        framed.select("user_id", "event_id", "value", var.alias("var"), z.alias("zr"))
        .filter((F.col("var") > 0) & (F.abs(F.col("zr")) > _ANOM_Z))
        .select(
            "user_id",
            "event_id",
            "value",
            (F.floor(F.col("zr") * 1e4 + F.lit(0.5)) / 1e4).alias("z"),
        )
    )


_BUCKET_US = 6 * 3600 * 1_000_000  # 6-hour resample buckets


@register(
    "q_ts_resample",
    oracle=f"""
    WITH keyed AS (
      SELECT user_id, event_id, value,
             epoch_us(ts) // {_BUCKET_US} AS bucket,
             {micros_sql('value')} AS vi,
             row_number() OVER (
               PARTITION BY user_id, epoch_us(ts) // {_BUCKET_US}
               ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (
               PARTITION BY user_id, epoch_us(ts) // {_BUCKET_US}
               ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT user_id,
           CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           floor(CAST(sum(vi) AS DOUBLE) / count(*) / 1e6 * 1e4 + 0.5) / 1e4
             AS avg_value
    FROM keyed GROUP BY user_id, bucket
    """,
)
def q_ts_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: 6-hour buckets per user with open (first value
    by time), high, low, close (last value), count, and mean — the
    time-series resample that turns raw event streams into fixed-cadence
    features.

    Spark computes open/close with ONE aggregation pass — min/max over a
    (ts, event_id, value) struct compares lexicographically, so no window
    sort and no second shuffle; the oracle states the same semantics via
    row_number. The mean is derived from the exact scaled-integer sum
    (order-free), not a double sum. Bucket = epoch_us div 6h on both
    engines (the µs recipe that survives the nanos fixture).

    Shape at 100 TB: a single map-side-combined groupBy(user_id, bucket);
    struct min/max partials are constant-size. This beats the
    window-function formulation, which would add a per-partition sort and
    carry every row to the reducer."""
    e = load_table(spark, sf_dir, "events")
    vi = micros("value")
    bucket = (ts_micros("ts") / _BUCKET_US).cast("long")
    keyed = e.select(
        "user_id",
        bucket.alias("bucket"),
        "ts",
        "event_id",
        "value",
        vi.alias("vi"),
    )
    first_s = F.min(F.struct("ts", "event_id", "value"))
    last_s = F.max(F.struct("ts", "event_id", "value"))
    return keyed.groupBy("user_id", "bucket").agg(
        F.count("*").cast("long").alias("n"),
        first_s.getField("value").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        last_s.getField("value").alias("close"),
        (
            F.floor(
                F.sum("vi").cast("double")
                / F.count("*")
                / 1e6
                * 1e4
                + F.lit(0.5)
            )
            / 1e4
        ).alias("avg_value"),
    )


@register(
    "q_join_pit",
    oracle=f"""
    WITH tagged AS (
      SELECT event_id, user_id, ts, event_type, value,
             last_value(CASE WHEN event_type = 'purchase' THEN value END
                        IGNORE NULLS)
               OVER ({event_window_sql()}
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_purchase_value,
             last_value(CASE WHEN event_type = 'view' THEN value END
                        IGNORE NULLS)
               OVER ({event_window_sql()}
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_view_value
      FROM events
    )
    SELECT event_id, user_id, ts, last_purchase_value, last_view_value
    FROM tagged WHERE event_type = 'click'
    """,
)
def q_join_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (multi-feature as-of) join: every click enriched
    with the user's latest strictly-prior purchase value AND latest
    strictly-prior view value — the feature-store training-set build,
    where each label row must see only features known before its
    timestamp (no leakage).

    Instead of N separate as-of range joins (one per feature table —
    N shuffles and N state scans), all streams ride ONE user-partitioned
    ordered window: last(ignorenulls) over a strict-past frame per
    feature. One shuffle total regardless of feature count; adding a
    feature adds a column, not a join — the same union-merge trick the
    oracle states with IGNORE NULLS window functions.

    NULL reading (stated identically in both engines, NULLCHECK-green):
    each feature is "the latest prior <type> event WITH a known value" —
    a NULL-valued purchase is skipped in favor of the older known one.
    Unlike q_attribution (where pairing k with a different click's
    timestamp corrupted the lookback — the struct-carry fix), these
    carries are SEPARATE features by design, so per-column independence
    is the semantics, not a bug."""
    e = load_table(spark, sf_dir, "events")
    w = event_window().rowsBetween(W.unboundedPreceding, -1)

    def last_prior(ev_type: str):
        feat = F.when(F.col("event_type") == ev_type, F.col("value"))
        return F.last(feat, ignorenulls=True).over(w)

    return (
        e.select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            last_prior("purchase").alias("last_purchase_value"),
            last_prior("view").alias("last_view_value"),
        )
        .filter(F.col("event_type") == "click")
        .drop("event_type")
    )


@register(
    "q_ts_mad",
    oracle=f"""
    WITH s AS (
      SELECT event_type, {micros_sql('value')} AS vi
      FROM events
    ),
    {mad_cut_sql("s", "event_type", "vi")}
    SELECT event_type, count(*) AS n,
           min(med_vi) AS med_micros,
           min(mad_vi) AS mad_micros,
           count(CASE WHEN out_vi THEN 1 END) AS n_outliers,
           round(count(CASE WHEN out_vi THEN 1 END) * 1.0 / count(*), 6)
             AS outlier_rate
    FROM mad
    GROUP BY 1
    """,
)
def q_ts_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: the `mad_cut` on
    micro-unit values — the monitoring primitive that, unlike
    q_ts_anomaly's z-score, does not let the outliers themselves inflate
    the threshold. At 100 TB the exact percentile's per-group value map
    is the deliberate luxury (the oracle replays it exactly);
    approx_percentile drops into the same slot when 1e-3 quantile error
    is acceptable."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        micros("value").alias("vi"),
    )
    n_out = F.count(F.when(F.col("out_vi"), 1))
    return mad_cut(e, "event_type", "vi").groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min("med_vi").alias("med_micros"),
        F.min("mad_vi").alias("mad_micros"),
        n_out.alias("n_outliers"),
        F.round(n_out / F.count("*"), 6).alias("outlier_rate"),
    )


@register(
    "q_ts_cusum",
    oracle=f"""
    WITH s AS (
      SELECT event_type, event_id, epoch_us(ts) AS us,
             {micros_sql('value')} - 60000000 AS d
      FROM events
    ),
    p AS (
      SELECT event_type, event_id, us,
             sum(d) OVER (PARTITION BY event_type ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING) AS pre
      FROM s
    ),
    m AS (
      SELECT event_type, us, pre,
             min(pre) OVER (PARTITION BY event_type ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING) AS minpre
      FROM p
    ),
    c AS (
      SELECT event_type, us, pre - least(minpre, 0) AS cusum FROM m
    )
    SELECT event_type, count(*) AS n_events,
           CAST(sum(CASE WHEN cusum > 200000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_alarms,
           CAST(max(cusum) AS BIGINT) AS max_cusum_micros,
           CAST(min(CASE WHEN cusum > 200000000 THEN us END) AS BIGINT)
             AS first_alarm_us
    FROM c GROUP BY 1
    """,
)
def q_ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point detection per event type: accumulate
    S_t = max(0, S_{t-1} + (value_t − target)) with target 60 (above the
    ~50 series mean, so S decays between bursts) and alarm when S
    exceeds h = 200 value-units — the classic drift detector for metric
    streams, the third monitoring primitive next to q_ts_anomaly
    (z-score) and q_ts_mad (robust cut).

    The clamp recurrence looks inherently sequential, but the identity
    S_t = P_t − min(0, min_{j≤t} P_j) (P = running sum of deviations)
    turns it into two stacked window prefixes — sum, then running min —
    so it runs as ordinary per-key windows: one shuffle on event_type,
    no recursion, no UDF, and the same two-level decomposition rule
    (DESIGN.md #16) applies if a single key's stream outgrows one
    partition. Deviations scale to exact micro-unit BIGINTs, so every
    prefix is order-independent-exact in both engines."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        ts_micros("ts").alias("us"),
        (micros("value") - 60_000_000).alias("d"),
    )
    wk = (
        W.partitionBy("event_type")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    p = e.withColumn("pre", F.sum("d").over(wk))
    m = p.withColumn("minpre", F.min("pre").over(wk))
    c = m.select(
        "event_type",
        "us",
        (F.col("pre") - F.least(F.col("minpre"), F.lit(0))).alias("cusum"),
    )
    alarm = F.col("cusum") > 200_000_000
    return c.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        # count(when), not sum(cast): an all-NULL-deviation key has NULL
        # cusum on every row, and sum over all-NULL returns NULL while
        # the oracle's CASE..ELSE 0 returns 0 — count skips the NULLs
        # and answers 0 like the oracle (value-identical on any key
        # with at least one non-NULL deviation)
        F.count(F.when(alarm, F.lit(1))).alias("n_alarms"),
        F.max("cusum").alias("max_cusum_micros"),
        F.min(F.when(alarm, F.col("us"))).alias("first_alarm_us"),
    )


@register(
    "q_ts_autocorr",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day, sum(o_totalprice) AS rev
      FROM orders GROUP BY 1
    ),
    lags AS (SELECT unnest(range(1, 8)) AS lag_days)
    SELECT CAST(l.lag_days AS INT) AS lag_days,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(corr(d2.rev, d1.rev), 4) + 0.0 AS acf
    FROM lags l
    JOIN d d1 ON true
    JOIN d d2 ON d2.day = d1.day + CAST(l.lag_days AS INT)
    GROUP BY 1
    """,
    tags=("timeseries",),
)
def q_ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily revenue series at lags 1–7
    days — the periodicity probe (weekly seasonality shows as a lag-7
    spike) run before any forecasting or anomaly threshold is chosen.

    The raw facts aggregate to one row per day first, so the series the
    ACF sees is post-rollup cardinality (days, not orders). Lag pairing
    is a self-equi-join on the shifted date key — NOT a global-order
    window, which would funnel the whole series through one partition;
    missing days simply drop pairs, matching the oracle. corr() is
    scale-invariant, so no money rounding enters until the final 4-dp
    readout."""
    days = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag_days"))
    d1 = days.alias("d1")
    d2 = days.alias("d2")
    paired = (
        d1.crossJoin(F.broadcast(lags))
        .join(
            d2,
            F.col("d2.day")
            == F.expr("date_add(d1.day, lag_days)"),
        )
        .select(
            "lag_days",
            F.col("d1.rev").alias("rev_base"),
            F.col("d2.rev").alias("rev_lead"),
        )
    )
    return paired.groupBy("lag_days").agg(
        F.count("*").alias("n_pairs"),
        # + 0.0: an ACF rounding to zero must not format as -0 in one engine
        (F.round(F.corr("rev_lead", "rev_base"), 4) + 0.0).alias("acf"),
    )


@register(
    "q_ts_seasonality",
    oracle="""
    WITH per_dow AS (
      SELECT isodow(ts) AS dow, count(*) AS n_events,
             sum(value) AS dow_value
      FROM events GROUP BY isodow(ts)
    ),
    tot AS (
      SELECT sum(n_events) AS all_n, sum(dow_value) AS all_value
      FROM per_dow
    )
    SELECT CAST(dow AS INT) AS dow, CAST(n_events AS BIGINT) AS n_events,
           round(dow_value / n_events, 4) AS avg_value,
           round((dow_value / n_events)
                 / (all_value / all_n), 4) AS seasonality_index
    FROM per_dow CROSS JOIN tot
    ORDER BY dow
    """,
)
def q_ts_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile of the events stream: per-ISO-dow
    event count, mean value, and seasonality index (dow mean over global
    mean — the multiplicative factor a forecaster divides out before
    trend fitting). ISO numbering (Mon=1..Sun=7) is used because Spark's
    dayofweek() and DuckDB's dayofweek() disagree on the week start;
    weekday()+1 and isodow() agree everywhere.

    One map-side-combined aggregation to 7 rows; the global mean comes
    from re-aggregating those 7 rows, not a second scan. Scales as a
    single shuffle of 7 groups (with partial aggregation doing virtually
    all the work map-side)."""
    e = load_table(spark, sf_dir, "events")
    per_dow = e.groupBy(
        (F.weekday("ts") + 1).cast("int").alias("dow")
    ).agg(F.count("*").alias("n_events"), F.sum("value").alias("dow_value"))
    tot = per_dow.agg(
        F.sum("n_events").alias("all_n"),
        F.sum("dow_value").alias("all_value"),
    )
    avg_val = F.col("dow_value") / F.col("n_events")
    return (
        per_dow.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "n_events",
            F.round(avg_val, 4).alias("avg_value"),
            # NULL index when the overall mean is 0 (an index against a
            # zero baseline is undefined; ANSI throws on /0, DuckDB NULLs)
            F.when(
                F.col("all_value") != 0,
                F.round(
                    avg_val / (F.col("all_value") / F.col("all_n")), 4
                ),
            ).alias("seasonality_index"),
        )
        .orderBy("dow")
    )


_HOLT_ALPHA = 0.5  # level smoothing
_HOLT_BETA = 0.3  # trend smoothing
_HOLT_LEVEL = f"{_HOLT_ALPHA} * s.value + {1 - _HOLT_ALPHA} * (r.lvl + r.trd)"


@register(
    "q_ts_holt",
    oracle=smooth_sql(
        {
            "lvl": ("CAST(value AS DOUBLE)", _HOLT_LEVEL),
            "trd": (
                "CAST(0 AS DOUBLE)",
                f"{_HOLT_BETA} * (({_HOLT_LEVEL}) - r.lvl)"
                f" + {1 - _HOLT_BETA} * r.trd",
            ),
        },
        {"level": "lvl", "trend": "trd", "forecast": "(lvl + trd)"},
    ),
)
def q_ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Holt double exponential smoothing (level α=0.5, trend
    β=0.3, init l₁=x₁, b₁=0) with the one-step-ahead forecast l+b — the
    trend-aware upgrade of q_ts_ewma, and with q_ts_seasonality's
    day-of-week indices the classic decomposition forecaster
    (deseasonalize → Holt → reseasonalize). Runs on the `smooth`
    recurrence with the 2-vector state (level, trend)."""

    # nested, so the Python workers unpickle it by value
    def step(x: float, l: float, b: float) -> tuple:
        l_new = _HOLT_ALPHA * x + (1 - _HOLT_ALPHA) * (l + b)
        return l_new, _HOLT_BETA * (l_new - l) + (1 - _HOLT_BETA) * b

    return smooth(
        load_table(spark, sf_dir, "events"),
        lambda x: (x, 0.0),
        step,
        {
            "level": lambda l, b: l,
            "trend": lambda l, b: b,
            "forecast": lambda l, b: l + b,
        },
    )


@register(
    "q_ts_theilsen",
    oracle=f"""
    WITH s AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             {micros_sql('value')} AS vi
      FROM events WHERE ts IS NOT NULL
    ),
    d AS (
      SELECT event_type, day, CAST(sum(vi) AS BIGINT) AS rev
      FROM s GROUP BY 1, 2
    ),
    p AS (
      SELECT a.event_type,
             (b.rev - a.rev) * 1.0
               / date_diff('day', a.day, b.day) AS slope
      FROM d a JOIN d b
        ON a.event_type = b.event_type AND a.day < b.day
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(quantile_cont(slope, 0.5), 4) AS slope_micros_per_day
    FROM p GROUP BY 1
    """,
)
def q_ts_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen trend per event type: the MEDIAN of all pairwise
    day-to-day revenue slopes — the robust alternative to
    q_win_trend's OLS slope (up to ~29% contaminated days cannot move
    it; one bad ingest day ruins a least-squares fit). The estimator a
    monitoring pipeline trusts on dirty daily volumes.

    Cross-engine determinism: daily revenue is exact micro-unit
    BIGINTs (`micros`); each pairwise slope is ONE identical IEEE
    division of exact integers in both engines, and the median
    interpolates those identical doubles with the shared (n-1)·p rule
    (q_winsorize pin) — rounded to 4 dp for the boundary discipline.
    NULL-timestamp rows are excluded in both engines (day arithmetic
    needs a day); an all-NULL-value day yields NULL rev, its pair
    slopes are NULL, and quantile_cont/percentile skip NULLs alike
    while count(*) counts the pair rows in both.

    Shape at 100 TB: the pair expansion is over the (type, day)
    AGGREGATE — bounded by days-per-type (time, not data volume), the
    same O(days²) the statistics literature accepts for exact
    Theil–Sen — never over raw events; the fact table contributes one
    map-side-combined groupBy. The per-type day table broadcasts to
    its own self-join."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            micros("value").alias("vi"),
        )
    )
    d = e.groupBy("event_type", "day").agg(F.sum("vi").alias("rev"))
    a = d.alias("a")
    b = d.alias("b")
    p = a.join(
        F.broadcast(b),
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.day") < F.col("b.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.rev") - F.col("a.rev"))
            * 1.0
            / F.datediff(F.col("b.day"), F.col("a.day"))
        ).alias("slope"),
    )
    return p.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.percentile("slope", F.lit(0.5)), 4).alias(
            "slope_micros_per_day"
        ),
    )


@register(
    "q_ts_stl_residual",
    oracle=f"""
    WITH s AS (
      SELECT event_type, isodow(ts) AS dow,
             {micros_sql('value')} AS vi
      FROM events
    ),
    g AS (
      SELECT event_type, dow,
             CASE WHEN count(vi) > 0
                  THEN CAST(sum(vi) // count(vi) AS BIGINT) END AS dmean
      FROM s GROUP BY 1, 2
    ),
    w AS (
      SELECT s.event_type, s.vi, s.vi - g.dmean AS r
      FROM s JOIN g
        ON s.event_type IS NOT DISTINCT FROM g.event_type
       AND s.dow IS NOT DISTINCT FROM g.dow
    ),
    {mad_cut_sql("w", "event_type", "vi", "r")},
    agg AS (
      SELECT event_type, count(*) AS n,
             count(CASE WHEN out_vi THEN 1 END) AS n_out_raw,
             count(CASE WHEN out_r THEN 1 END) AS n_out_adj,
             min(med_r) AS med_res_micros,
             min(mad_r) AS mad_res_micros
      FROM mad
      GROUP BY 1
    )
    SELECT event_type, n, n_out_raw, n_out_adj,
           {ratio6_sql("n_out_raw", "n")} AS outlier_rate_raw,
           {ratio6_sql("n_out_adj", "n")} AS outlier_rate_adj,
           med_res_micros, mad_res_micros
    FROM agg
    """,
)
def q_ts_stl_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-adjusted robust anomaly detection per event type: remove
    the day-of-week component additively (residual = value − its
    (type, dow) mean), then apply the `mad_cut` to the DESEASONALIZED
    residual — the alert a monitoring pipeline actually wants
    (q_ts_mad's raw cut flags every high-traffic Saturday; this one
    flags what is anomalous FOR a Saturday). Composes q_ts_seasonality's
    dow profile with q_ts_mad's robust threshold, and reports the
    raw-cut counts alongside so the two detectors can be compared per
    type in one pass.

    Cross-engine determinism: values scale to exact micro-unit BIGINTs;
    the per-(type, dow) mean uses truncating INTEGER division (Spark
    `div` ≡ DuckDB `//`, both toward zero — verified on negatives), so
    residuals are exact BIGINTs and the cut stays exact. NULL rules: the
    (type, dow) spine join is NULL-SAFE (eqNullSafe / IS NOT DISTINCT
    FROM — a NULL ts yields a NULL dow group that must rejoin its own
    mean, and NULL event_type likewise); an all-NULL group's guarded
    mean keeps residuals NULL, which flag 0 outliers.

    Shape at 100 TB: the seasonal profile is a ≤ types×7-row aggregate
    broadcast back onto the fact table (deseasonalize is a projection,
    not a shuffle — the q_ts_seasonality window-free discipline); after
    that it is q_ts_mad's shape over (vi, r). The fact table shuffles
    only on event_type for the percentile groups and never
    self-joins."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.weekday("ts") + 1).cast("int").alias("dow"),
        micros("value").alias("vi"),
    )
    g = (
        e.groupBy("event_type", "dow")
        .agg(F.sum("vi").alias("svi"), F.count("vi").alias("cvi"))
        .select(
            F.col("event_type").alias("g_type"),
            F.col("dow").alias("g_dow"),
            F.when(F.col("cvi") > 0, F.expr("svi div cvi")).alias("dmean"),
        )
    )
    w = e.join(
        F.broadcast(g),
        e["event_type"].eqNullSafe(F.col("g_type"))
        & e["dow"].eqNullSafe(F.col("g_dow")),
    ).select("event_type", "vi", (F.col("vi") - F.col("dmean")).alias("r"))
    agg = mad_cut(w, "event_type", "vi", "r").groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("out_vi"), 1)).alias("n_out_raw"),
        F.count(F.when(F.col("out_r"), 1)).alias("n_out_adj"),
        F.min("med_r").alias("med_res_micros"),
        F.min("mad_r").alias("mad_res_micros"),
    )
    return agg.select(
        "event_type",
        "n",
        "n_out_raw",
        "n_out_adj",
        ratio6("n_out_raw", "n").alias("outlier_rate_raw"),
        ratio6("n_out_adj", "n").alias("outlier_rate_adj"),
        "med_res_micros",
        "mad_res_micros",
    )


_VX_SQL = moment_det_sql("x", "n_pairs")
_VY_SQL = moment_det_sql("y", "n_pairs")
_XCORR_SQL = ratio6_sql(
    f"CAST({moment_num_sql('n_pairs')} AS DOUBLE)",
    f"(sqrt(CAST({_VX_SQL} AS DOUBLE)) * sqrt(CAST({_VY_SQL} AS DOUBLE)))",
)


@register(
    "q_ts_crosscorr",
    oracle=f"""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(range(-3, 4)) AS lag_days),
    paired AS (
      SELECT CAST(l.lag_days AS INT) AS lag_days, d1.x AS x, d2.y AS y
      FROM lags l
      JOIN d d1 ON true
      JOIN d d2 ON d2.day = d1.day + CAST(l.lag_days AS INT)
    ),
    m AS (
      SELECT lag_days, {frame_moments_sql("x", "y", n="n_pairs", yy=True)}
      FROM paired GROUP BY 1
    )
    SELECT lag_days, n_pairs,
           CASE WHEN {_VX_SQL} > 0 AND {_VY_SQL} > 0
                THEN {_XCORR_SQL}
           END AS xcorr
    FROM m
    """,
    tags=("timeseries",),
)
def q_ts_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation between the daily 'view' and 'purchase' event
    series at lags −3..+3 days — the lead/lag probe behind every
    conversion-latency question (a positive-lag peak means views LEAD
    purchases by that many days; q_ts_autocorr is this operator's
    self-paired special case). Both series come from ONE conditional
    aggregation pass over events (no second scan, no union), so a day
    appears iff it has any event, identically in both engines.

    Cross-engine determinism: daily counts are exact BIGINTs, so the
    per-lag `frame_moments` are exact integers; Pearson r is then formed
    from them with IEEE sqrt/mult/div only (all correctly rounded,
    engine-identical) and rounded by `ratio6`. A constant series
    (variance 0 on either side — weekends with no purchases fixture-
    degenerate) answers NULL through the CASE guard instead of ANSI
    Spark's DIVIDE_BY_ZERO.

    Shape at 100 TB: the fact scan collapses to |days| rows in one
    map-side-combined groupBy; the 7-lag table broadcasts; lag pairing
    is an equi-join on the shifted DATE key (never a global-order
    window funneling the series through one partition); the moment
    reduction is 7 output rows. Scales as one shuffle of day-grain
    data."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    # d feeds BOTH sides of the lag pairing — cut once so the fact
    # table is scanned/aggregated one time, not two (the q_graph_lcc
    # multi-consumer lesson; d is |days| rows, trivially checkpointable)
    d = materialize(d)
    lags = spark.range(-3, 4).select(
        F.col("id").cast("int").alias("lag_days")
    )
    d1 = d.alias("d1")
    d2 = d.alias("d2")
    paired = (
        d1.crossJoin(F.broadcast(lags))
        .join(d2, F.col("d2.day") == F.expr("date_add(d1.day, lag_days)"))
        .select("lag_days", F.col("d1.x").alias("x"), F.col("d2.y").alias("y"))
    )
    m = paired.groupBy("lag_days").agg(
        *frame_moments("x", "y", n="n_pairs", yy=True)
    )
    vx, vy = moment_det("x", "n_pairs"), moment_det("y", "n_pairs")
    return m.select(
        "lag_days",
        "n_pairs",
        F.when(
            (vx > 0) & (vy > 0),
            ratio6(
                moment_num("n_pairs").cast("double"),
                F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double")),
            ),
        ).alias("xcorr"),
    )


@register(
    "q_ts_changepoint",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(coalesce(
               sum({micros_sql('value')}), 0) AS BIGINT)
               AS s
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    ser AS (
      SELECT event_type, day, s,
             row_number() OVER w AS i,
             sum(s) OVER w AS si,
             sum(s) OVER (PARTITION BY event_type) AS stot,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    cand AS (
      SELECT event_type, day, i, n, si, stot,
             (CAST(n * si - i * stot AS DOUBLE) * (n * si - i * stot))
               / (i * (n - i)) AS gain
      FROM ser WHERE i < n
    ),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY gain DESC, day) AS rn
      FROM cand
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days, day AS change_day,
           CAST(i AS BIGINT) AS n_before,
           floor(CAST(si AS DOUBLE) / i + 0.5) / 1e6 AS mean_before,
           floor(CAST(stot - si AS DOUBLE) / (n - i) + 0.5) / 1e6
             AS mean_after
    FROM best WHERE rn = 1
    """,
    tags=("timeseries",),
)
def q_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline single change-point detection per event type (binary
    segmentation's first split): over the daily value series, choose
    the split that maximizes the between-segment sum-of-squares
    reduction — gain(i) = n·(mean_left − mean)²·i·(n−i)/n expressed via
    prefix sums as (n·S_i − i·S)² / (i·(n−i)) — the retrospective twin
    of q_ts_cusum's online detector (CUSUM alarms as data arrives; this
    names the single most likely break day after the fact, the first
    question an on-call asks of a drifted metric). change_day is the
    LAST day of the left segment; series with a single day emit no row
    (no candidate split exists).

    Cross-engine determinism: daily sums are exact micro-unit BIGINTs
    (the micros() contract; all-NULL days coalesce to 0 in both
    engines, NULL-ts rows are excluded at the scan — the q_user_streak
    phantom-island rule); the argmax key (n·S_i − i·S)² / (i·(n−i)) is
    ONE pinned multiply/divide chain over exact integers — IEEE-
    deterministic in both engines — with ties broken on the earliest
    day; segment means round floor-form through a single division.

    Shape at 100 TB: one map-side-combined groupBy to |types|×|days|
    rows, then stacked same-key windows (row_number + prefix sum + two
    partition aggregates share ONE shuffle on event_type — the
    q_ts_cusum two-level decomposition rule applies if a key's series
    outgrows a partition), then a per-key argmax. The candidate scan is
    O(days) per key — never O(days²) — because prefix sums turn every
    segment statistic into two lookups. Integer headroom: the exact
    argmax numerator n·S_i needs |n·S| < 2^63 (ANSI Spark throws on
    overflow), i.e. per-key total |Σvalue| up to ~2.5e9 value-units
    over a 10-year daily grid — a metric hotter than that should scale
    its unit (micros → millis, one constant) or segment the series,
    keeping the exact path.

    Reference parity anchor: no time-series surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part
    of the beyond-the-reference analytics family."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            micros("value").alias("vm"),
        )
    )
    daily = e.groupBy("event_type", "day").agg(
        F.coalesce(F.sum("vm"), F.lit(0)).alias("s")
    )
    wk = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wp = W.partitionBy("event_type")
    ser = daily.select(
        "event_type",
        "day",
        F.row_number().over(W.partitionBy("event_type").orderBy("day"))
        .cast("long")
        .alias("i"),
        F.sum("s").over(wk).alias("si"),
        F.sum("s").over(wp).alias("stot"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    num = F.col("n") * F.col("si") - F.col("i") * F.col("stot")
    cand = ser.filter(F.col("i") < F.col("n")).withColumn(
        "gain",
        (num.cast("double") * num) / (F.col("i") * (F.col("n") - F.col("i"))),
    )
    best = cand.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("event_type").orderBy(F.col("gain").desc(), "day")
        ),
    ).filter(F.col("rn") == 1)
    return best.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("day").alias("change_day"),
        F.col("i").alias("n_before"),
        (
            F.floor(F.col("si").cast("double") / F.col("i") + F.lit(0.5)) / 1e6
        ).alias("mean_before"),
        (
            F.floor(
                (F.col("stot") - F.col("si")).cast("double")
                / (F.col("n") - F.col("i"))
                + F.lit(0.5)
            )
            / 1e6
        ).alias("mean_after"),
    )
