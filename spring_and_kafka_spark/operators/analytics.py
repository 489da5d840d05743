"""Product-analytics composites over the event stream: funnel analysis and
cohort retention — the queries an events pipeline exists to answer
(the reference's Spring XD model: "count, filter, enrich or transform",
reference README.md:329, grown to real analytics).

Both reduce the event table to per-user firsts before any join — the
shuffles carry users, never raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from spring_and_kafka_spark.exec_utils import cents as ex_cents
from spring_and_kafka_spark.exec_utils import materialize, ts_micros
from spring_and_kafka_spark.registry import register
from spring_and_kafka_spark.sources.tables import load_table


def funnel_stage_minima(
    e: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Per-user first-entry times for the signup → click → purchase
    funnel: (s, c, p) frames keyed by user_id with t1/t2/t3, each stage
    admitted only strictly AFTER the previous stage's first event. The
    SINGLE definition of the stage semantics — q_funnel counts these
    frames, q_funnel_latency differences them; sharing it is what keeps
    the two readouts definitionally consistent. Each stage is a per-user
    min (tiny, broadcast) joined to the next stage's events — event rows
    never shuffle twice."""
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(F.broadcast(s), "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return s, c, p



@register(
    "q_funnel",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s ON e.user_id = s.user_id AND e.ts > s.t1
      WHERE e.event_type = 'click' GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
      WHERE e.event_type = 'purchase' GROUP BY 1
    )
    SELECT (SELECT count(*) FROM s) AS n_signup,
           (SELECT count(*) FROM c) AS n_click_after,
           (SELECT count(*) FROM p) AS n_purchase_after
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup → click → purchase: users counted at each
    stage only if the stage event happens strictly AFTER their previous
    stage's first event (stage semantics in funnel_stage_minima)."""
    s, c, p = funnel_stage_minima(load_table(spark, sf_dir, "events"))
    return (
        s.agg(F.count("*").alias("n_signup"))
        .crossJoin(c.agg(F.count("*").alias("n_click_after")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase_after")))
    )


@register(
    "q_ts_simsearch",
    oracle="""
    WITH seqs AS (
      -- list_filter mirrors Spark's collect_list, which SKIPS NULL
      -- values: a window touching a missing reading shrinks below 8 and
      -- is dropped by the len gate. The strip must happen HERE, not in
      -- the WHERE, because DuckDB may evaluate scored's dot products
      -- before the filter and list_inner_product errors on NULLs.
      SELECT user_id, event_id,
             list_filter(
               list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING),
               x -> x IS NOT NULL) AS w
      FROM events
    ),
    scored AS (
      SELECT user_id, event_id,
             list_dot_product(w, w)
             - 2 * list_dot_product(w, [5.0, 10.0, 15.0, 20.0, 15.0, 10.0, 5.0, 0.0])
             + 1100.0 AS d2
      FROM seqs WHERE len(w) = 8
    )
    SELECT user_id, event_id, round(sqrt(d2), 6) AS dist,
           CAST(row_number() OVER (ORDER BY d2, user_id, event_id) AS BIGINT) AS rnk
    FROM scored
    ORDER BY d2, user_id, event_id LIMIT 5
    """,
)
def q_ts_simsearch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series subsequence similarity search (cf. PAPERS.md: "Time
    Series Similarity Search for Streaming Data in Distributed Systems",
    EDBT 2019): find the 5 length-8 windows of each user's value series
    closest (Euclidean) to a query pattern.

    Subsequences come from a ROWS window frame (no self-join); distance
    uses the |a|² − 2a·q + |q|² expansion so the pattern dot products are
    the only per-window arithmetic; top-5 via TakeOrderedAndProject."""
    pattern = [5.0, 10.0, 15.0, 20.0, 15.0, 10.0, 5.0, 0.0]
    qq = sum(x * x for x in pattern)  # 1300.0
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.currentRow, 7)
    )
    seqs = e.select(
        "user_id", "event_id", F.collect_list("value").over(w).alias("w")
    ).filter(F.size("w") == 8)
    lit_pattern = F.array(*[F.lit(x) for x in pattern])
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    d2 = (
        dot(F.col("w"), F.col("w"))
        - 2 * dot(F.col("w"), lit_pattern)
        + F.lit(qq)
    )
    scored = seqs.select("user_id", "event_id", d2.alias("d2"))
    ranked = (
        scored.orderBy("d2", "user_id", "event_id")
        .limit(5)
        .select(
            "user_id",
            "event_id",
            F.round(F.sqrt("d2"), 6).alias("dist"),
            F.row_number()
            .over(W.orderBy("d2", "user_id", "event_id"))
            .cast("long")
            .alias("rnk"),
        )
    )
    return ranked


@register(
    "q_retention",
    oracle="""
    WITH weekly AS (
      SELECT DISTINCT user_id,
             CAST(floor(datediff('day', TIMESTAMP '2024-01-01 00:00:00', ts) / 7)
                  AS INT) AS week
      FROM events
    ),
    cohort AS (SELECT user_id, min(week) AS cohort_week FROM weekly GROUP BY 1)
    SELECT c.cohort_week,
           CAST(w.week - c.cohort_week AS INT) AS week_offset,
           CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_users
    FROM weekly w JOIN cohort c ON w.user_id = c.user_id
    GROUP BY 1, 2
    """,
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-active week, counted in
    every later week they return (the classic retention triangle). The
    cohort table is per-user (small) → broadcast onto weekly activity."""
    e = load_table(spark, sf_dir, "events")
    week = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")) / 7
    ).cast("int")
    weekly = e.select("user_id", week.alias("week")).distinct()
    cohort = weekly.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        weekly.join(F.broadcast(cohort), "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def gap_session_ids(e: DataFrame, gap_us: int = 1_800_000_000) -> DataFrame:
    """The shared 30-minute gap-sessionize recipe: (user_id, event_id,
    us, sess_id) rows where a >gap_us silence opens a new session. One
    shuffle on user_id; the boundary lag and the running session-id sum
    reuse the same (us, event_id) total order, which is unique, so the
    numbering is deterministic. Callers: q_sessionize (per-session
    aggregates) and q_interval_peak (session intervals) — one
    definition, so the gap rule and tie-break cannot drift apart."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = ts_micros("ts")
    prev = F.lag(us).over(w)
    marked = e.select(
        "user_id",
        "event_id",
        us.alias("us"),
        F.when(prev.isNull() | (us - prev > gap_us), 1)
        .otherwise(0)
        .alias("new_sess"),
    )
    w2 = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return marked.select(
        "user_id", "event_id", "us", F.sum("new_sess").over(w2).alias("sess_id")
    )


@register(
    "q_sessionize",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_us
      FROM events
    ),
    marked AS (
      SELECT user_id, event_id, us,
             CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM ordered
    ),
    numbered AS (
      SELECT user_id, event_id,
             sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS sess_id
      FROM marked
    ),
    per_sess AS (
      SELECT user_id, sess_id, count(*) AS n_events
      FROM numbered GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(max(n_events) AS BIGINT) AS max_session_events
    FROM per_sess GROUP BY user_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a user's events belong to one session
    until a >30-minute silence; report per-user session count, event
    count, and largest session.

    Timestamps compare as exact integer microseconds (unix_micros /
    epoch_us) on both engines — no float epoch seconds, no truncation
    ambiguity. One shuffle on user_id; the lag window, the running
    session-id sum, and both aggregations all reuse that partitioning
    (the (user_id, sess_id) groupBy is a prefix-compatible re-agg, and
    partial aggregation keeps the final per-user rollup map-side). At
    100 TB this is the canonical sessionize shape: no self-join, state
    bounded by one user's events per partition, AQE free to coalesce."""
    e = load_table(spark, sf_dir, "events")
    per_sess = (
        gap_session_ids(e)
        .groupBy("user_id", "sess_id")
        .agg(F.count("*").alias("n_events"))
    )
    return per_sess.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("n_events").alias("max_session_events"),
    )


@register(
    "q_scd2",
    oracle="""
    WITH changes AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev_type,
             row_number() OVER w AS rn
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    starts AS (
      SELECT user_id, event_type, ts AS valid_from, event_id
      FROM changes
      WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (
             PARTITION BY user_id ORDER BY valid_from, event_id
           ) AS valid_to,
           CAST(lead(valid_from) OVER (
             PARTITION BY user_id ORDER BY valid_from, event_id
           ) IS NULL AS BOOLEAN) AS is_current
    FROM starts
    """,
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: collapse each user's event_type stream
    into validity intervals [valid_from, valid_to) with an is_current
    flag — the warehouse dimension-versioning operator (MERGE-free: the
    whole history derives from one window pass over the change log).

    Consecutive same-type events collapse into one interval (lag-compare
    keeps only change rows); lead() closes each interval with the next
    change's start. One shuffle on user_id; both window passes and the
    filter reuse that partitioning. At 100 TB this is the standard
    changelog→dimension compaction and stays a single exchange."""
    from spring_and_kafka_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    changes = e.select(
        "user_id", "event_type", "ts", "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    starts = changes.filter(
        F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type"))
    ).select("user_id", "event_type", F.col("ts").alias("valid_from"), "event_id")
    w2 = W.partitionBy("user_id").orderBy("valid_from", "event_id")
    nxt = F.lead("valid_from").over(w2)
    return starts.select(
        "user_id",
        "event_type",
        "valid_from",
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "q_basket_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT p1, p2, CAST(count(*) AS BIGINT) AS n_orders
    FROM pairs GROUP BY p1, p2
    HAVING count(*) >= 2
    ORDER BY n_orders DESC, p1, p2
    LIMIT 20
    """,
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top part pairs ordered together —
    the association-mining primitive behind "frequently bought with".

    Pair expansion happens per order AFTER a distinct, so fan-out is
    bounded by order size k (k·(k-1)/2 pairs per order, k ≤ ~7 here) —
    O(orders·k²) rows total, never a part×part blow-up. One shuffle on
    l_orderkey for the self-join co-location, one on the (p1, p2) pair
    key for the count; the final top-k plans TakeOrderedAndProject (no
    global sort). At 100 TB the same plan holds; a hot mega-order would
    be the one skew risk (cap k or salt the orderkey)."""
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.alias("a")
    b = items.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .orderBy(F.col("n_orders").desc(), "p1", "p2")
        .limit(20)
    )


@register(
    "q_skyline",
    oracle="""
    WITH g AS (  -- one row per distinct price: the best size at that price
      SELECT p_retailprice, max(p_size) AS gmax FROM part GROUP BY 1
    ),
    c AS (       -- best size among STRICTLY cheaper prices
      SELECT p_retailprice, gmax,
             max(gmax) OVER (ORDER BY p_retailprice
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS cheaper_max
      FROM g
    )
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p JOIN c ON p.p_retailprice = c.p_retailprice
    WHERE (c.cheaper_max IS NULL OR c.cheaper_max < p.p_size)
      AND c.gmax <= p.p_size
    ORDER BY p.p_retailprice, p.p_partkey
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) query: parts not dominated on
    (minimize p_retailprice, maximize p_size) — a dominates b when it is
    no worse on both dimensions and strictly better on one.

    Two-phase distributed plan: phase 1 computes LOCAL frontiers inside
    fixed-width price buckets (window partitioned by bucket — fully
    parallel; the global skyline is a subset of the union of local
    skylines because in-bucket domination is global domination); phase 2
    runs the exact frontier pass on the surviving candidates only, whose
    count is ≤ buckets × bucket-frontier size — small enough for the
    single-partition window. The oracle states the same frontier
    directly; the result set is orientation-independent."""
    p = load_table(spark, sf_dir, "part")
    return pareto_frontier(
        p, key="p_partkey", minimize="p_retailprice", maximize="p_size"
    ).orderBy("p_retailprice", "p_partkey")


def pareto_frontier(
    df: DataFrame,
    key: str,
    minimize: str,
    maximize: str,
    bucket_width: float = 100.0,
) -> DataFrame:
    """2-D skyline: rows not dominated on (minimize `minimize`,
    maximize `maximize`); equal-on-both ties are all kept (neither
    dominates). Two-phase: a parallel per-bucket prune, then the exact
    frontier over survivors only — see q_skyline's docstring.

    Both phases compare against the per-value group max rather than a
    rows-frame running max: a rows frame ordered (min asc, max desc)
    would see an equal-(min,max) twin in its preceding frame and
    wrongly drop BOTH copies of a tied frontier point (caught by
    tests/test_invariants.py::test_skyline_keeps_equal_ties)."""
    mn, mx = F.col(minimize), F.col(maximize)
    # phase 1: local frontier per bucket (parallel prune). The bucket is
    # a function of the minimized value, so a whole value group lands in
    # one bucket and the per-value max is exact; the prune drops only
    # rows strictly dominated WITHIN their bucket (a safe subset of
    # global domination).
    bucketed = df.withColumn(
        "bkt", F.floor(mn / F.lit(bucket_width)).cast("long")
    )
    gloc = bucketed.groupBy("bkt", minimize).agg(F.max(mx).alias("lgmax"))
    wloc = (
        W.partitionBy("bkt")
        .orderBy(minimize)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cloc = gloc.withColumn("lcheaper_max", F.max("lgmax").over(wloc))
    local = bucketed.join(cloc, ["bkt", minimize]).filter(
        (F.col("lcheaper_max").isNull() | (F.col("lcheaper_max") < mx))
        & (F.col("lgmax") <= mx)
    )
    # phase 2: exact frontier over the pruned candidates (the cheapest
    # row achieving each running max always survives phase 1, so the
    # survivor-derived running max equals the full-table one)
    g = local.groupBy(minimize).agg(F.max(mx).alias("gmax"))
    wg = W.orderBy(minimize).rowsBetween(W.unboundedPreceding, -1)
    c = g.withColumn("cheaper_max", F.max("gmax").over(wg))
    return (
        local.join(F.broadcast(c), minimize)
        .filter(
            (F.col("cheaper_max").isNull() | (F.col("cheaper_max") < mx))
            & (F.col("gmax") <= mx)
        )
        .select(key, minimize, maximize)
    )


@register(
    "q_rfm",
    oracle="""
    WITH m AS (
      SELECT o_custkey,
             max(o_orderdate) AS recency,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS monetary_cents
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT o_custkey,
             ntile(4) OVER (ORDER BY recency, o_custkey) AS r_score,
             ntile(4) OVER (ORDER BY frequency, o_custkey) AS f_score,
             ntile(4) OVER (ORDER BY monetary_cents, o_custkey) AS m_score,
             monetary_cents
      FROM m
    )
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           -- explicit sum/count + floor-half-up: avg(BIGINT) internals
           -- differ between engines at the last double bit
           floor(CAST(sum(monetary_cents) AS DOUBLE) / count(*) + 0.5)
             / 100.0 AS avg_monetary
    FROM s GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: quartile scores on Recency (latest
    order), Frequency (order count), Monetary (lifetime spend), then
    segment sizes — the marketing-analytics workhorse.

    Monetary is summed in integer cents (per-row half-up at ingest) so
    the quartile ORDERING is exact and engine-independent — a raw
    double sum could reorder two near-tied customers across engines and
    flip an ntile boundary. The per-customer reduce is one shuffle;
    ntile needs a global sort of one row per CUSTOMER (not per order) —
    at 100 TB replace with approx-percentile cut points (the scores
    tolerate estimated quartiles; documented trade)."""
    o = load_table(spark, sf_dir, "orders")
    cents = ex_cents("o_totalprice")
    m = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("recency"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(cents).alias("monetary_cents"),
    )
    s = m.select(
        "o_custkey",
        "monetary_cents",
        F.ntile(4).over(W.orderBy("recency", "o_custkey")).alias("r_score"),
        F.ntile(4).over(W.orderBy("frequency", "o_custkey")).alias("f_score"),
        F.ntile(4).over(W.orderBy("monetary_cents", "o_custkey")).alias("m_score"),
    )
    return (
        s.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (
                F.floor(
                    F.sum("monetary_cents").cast("double")
                    / F.count(F.lit(1))
                    + F.lit(0.5)
                )
                / 100.0
            ).alias("avg_monetary"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "q_merge_upsert",
    oracle="""
    WITH delta AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS delta_cents
      FROM orders GROUP BY 1
    ),
    src AS (     -- updates for existing keys + inserts for new keys
      SELECT o_custkey AS k, delta_cents FROM delta
      UNION ALL
      SELECT o_custkey + (SELECT max(c_custkey) FROM customer),
             delta_cents
      FROM (SELECT * FROM delta
            ORDER BY delta_cents DESC, o_custkey LIMIT 10)
    )
    SELECT coalesce(c.c_custkey, s.k) AS c_custkey,
           CASE WHEN s.k IS NULL THEN 'unchanged'
                WHEN c.c_custkey IS NULL THEN 'inserted'
                ELSE 'updated' END AS status,
           (CASE WHEN c.c_custkey IS NULL THEN 0
                 ELSE CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT)
            END + coalesce(s.delta_cents, 0)) / 100.0 AS new_acctbal
    FROM customer c FULL OUTER JOIN src s ON c.c_custkey = s.k
    ORDER BY c_custkey
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics as a batch operator: apply a changeset (per-
    customer spend deltas = updates; 10 synthetic new keys = inserts)
    onto the customer snapshot — matched rows update, unmatched source
    rows insert, unmatched target rows pass through unchanged. The
    lakehouse upsert primitive, expressed engine-agnostically as one
    full-outer join (Delta/Iceberg MERGE compiles to the same shape).

    Money moves through integer cents (half-up per row) so update
    arithmetic is exact in both engines, and the synthetic insert keys
    offset from max(c_custkey) — a fixed constant would collide with
    real keys at larger scale factors and silently reclassify inserts
    as updates. One shuffle for the delta reduce, one for the
    full-outer join; at 100 TB the join would be bucketed on the merge
    key so repeated MERGEs reuse partitioning."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cents = ex_cents("o_totalprice")
    # two branches (updates + top-10 inserts) read delta — pin it once
    delta = materialize(
        o.groupBy("o_custkey").agg(F.sum(cents).alias("delta_cents"))
    )
    max_key = c.agg(F.max("c_custkey").alias("max_custkey"))
    inserts = (
        delta.orderBy(F.col("delta_cents").desc(), "o_custkey")
        .limit(10)
        .crossJoin(F.broadcast(max_key))
        .select(
            (F.col("o_custkey") + F.col("max_custkey")).alias("k"),
            "delta_cents",
        )
    )
    updates = delta.select(F.col("o_custkey").alias("k"), "delta_cents")
    src = updates.unionByName(inserts)
    joined = c.join(src, c.c_custkey == src.k, "full_outer")
    bal_cents = F.when(
        F.col("c_custkey").isNull(), F.lit(0).cast("long")
    ).otherwise(ex_cents("c_acctbal"))
    return joined.select(
        F.coalesce("c_custkey", "k").alias("c_custkey"),
        F.when(F.col("k").isNull(), "unchanged")
        .when(F.col("c_custkey").isNull(), "inserted")
        .otherwise("updated")
        .alias("status"),
        # no round(): exact-cents / 100.0 is a single IEEE division whose
        # true value sits exactly ON the 2-dp boundary — engine round()
        # there adds only cross-build divergence (the q_compaction_plan
        # lesson), never precision
        (
            (bal_cents + F.coalesce("delta_cents", F.lit(0).cast("long")))
            / 100.0
        ).alias("new_acctbal"),
    ).orderBy("c_custkey")


@register(
    "q_seq_pattern",
    oracle="""
    WITH base AS (
      SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_clicks
      FROM events
    ),
    s AS (
      SELECT user_id, event_id AS signup_event, us AS s_us,
             cum_clicks AS cs
      FROM base WHERE event_type = 'signup'
    ),
    p AS (
      SELECT user_id, event_id AS p_eid, us AS p_us, cum_clicks AS cp
      FROM base WHERE event_type = 'purchase'
    ),
    cand AS (
      SELECT s.user_id, s.signup_event, s.s_us, p.p_eid, p.p_us,
             p.cp - s.cs AS cb,
             row_number() OVER (PARTITION BY s.user_id, s.signup_event
               ORDER BY p.p_us, p.p_eid) AS rn
      FROM s JOIN p ON s.user_id = p.user_id AND p.cp >= s.cs + 2
    )
    SELECT s.user_id, s.signup_event,
           CASE WHEN c.p_us <= s.s_us + 604800000000
                THEN c.p_eid END AS purchase_event,
           CAST(coalesce(CASE WHEN c.p_us <= s.s_us + 604800000000
                              THEN c.cb END, 0) AS BIGINT)
             AS clicks_between,
           coalesce(c.p_us <= s.s_us + 604800000000, false) AS matched
    FROM s LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
      USING (user_id, signup_event)
    """,
)
def q_seq_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence pattern matching (MATCH_RECOGNIZE-lite): for every
    signup, does the pattern `signup → click{2,} → purchase` complete
    within 7 days? Emits the matched purchase (NULL when unmatched) and
    the click count in between — the behavioral-cohort /
    conversion-pattern operator SQL engines expose as MATCH_RECOGNIZE
    and Spark does not have natively.

    The binding purchase is the first one with ≥2 clicks after the
    signup — NOT simply the first following purchase (a user who buys
    once quickly and again after more clicks still completes the
    pattern; anchoring to the first purchase alone would undercount
    conversions, and the running click counter is monotone so the first
    qualifying purchase is the only candidate that can be in-window).
    Shape: one user-partitioned window pass for the click counter, then
    signups join qualifying purchases per user (cp ≥ cs+2 — the time
    ordering is implied by counter monotonicity) and a per-signup
    rank-1 filter picks the earliest. Per-user key join, no cross-user
    blow-up; the oracle states the identical join."""
    e = load_table(spark, sf_dir, "events")
    w_cum = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    base = e.select(
        "user_id",
        "event_id",
        ts_micros("ts").alias("us"),
        "event_type",
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .over(w_cum)
        .alias("cum_clicks"),
    )
    s = base.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_event"),
        F.col("us").alias("s_us"),
        F.col("cum_clicks").alias("cs"),
    )
    p = base.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_eid"),
        F.col("us").alias("p_us"),
        F.col("cum_clicks").alias("cp"),
    )
    cand = (
        s.join(p, ["user_id"])
        .filter(F.col("cp") >= F.col("cs") + 2)
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id", "signup_event").orderBy(
                    "p_us", "p_eid"
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "signup_event",
            "p_eid",
            "p_us",
            (F.col("cp") - F.col("cs")).alias("cb"),
        )
    )
    in_window = F.col("p_us") <= F.col("s_us") + F.lit(604_800_000_000)
    return s.join(cand, ["user_id", "signup_event"], "left").select(
        "user_id",
        "signup_event",
        F.when(in_window, F.col("p_eid")).alias("purchase_event"),
        F.coalesce(F.when(in_window, F.col("cb")), F.lit(0))
        .cast("long")
        .alias("clicks_between"),
        F.coalesce(in_window, F.lit(False)).alias("matched"),
    )


@register(
    "q_interval_peak",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_us
      FROM events
    ),
    numbered AS (
      SELECT user_id, us,
             sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                      THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS sess_id
      FROM ordered
    ),
    sess AS (
      SELECT user_id, sess_id, min(us) AS s, max(us) AS e
      FROM numbered GROUP BY 1, 2
    ),
    bounds AS (
      SELECT s AS us, CAST(1 AS BIGINT) AS delta FROM sess
      UNION ALL
      SELECT e, CAST(-1 AS BIGINT) FROM sess
    ),
    swept AS (
      SELECT us, delta,
             sum(delta) OVER (ORDER BY us, delta DESC
               ROWS UNBOUNDED PRECEDING) AS running
      FROM bounds
    )
    SELECT CAST(max(running) AS BIGINT) AS peak_concurrency,
           CAST(min(CASE WHEN running = (SELECT max(running) FROM swept)
                         THEN us END) AS BIGINT) AS peak_ts_micros,
           (SELECT CAST(count(*) AS BIGINT) FROM sess) AS n_sessions
    FROM swept
    """,
)
def q_interval_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency over session intervals: sessionize (30-min gap,
    the q_sessionize recipe), then sweep +1/−1 session boundaries in
    time order to find the maximum number of simultaneously-open
    sessions and the earliest instant it is reached — the capacity-
    planning question interval data exists to answer. Closed-interval
    semantics: at an equal timestamp, starts count before ends
    (ORDER BY us, delta DESC), so back-to-back sessions overlap.

    The oracle states the spec as ONE global running sum; the Spark plan
    runs the scalable two-level decomposition of the same prefix sum:
    boundaries bucket by hour, each bucket computes its LOCAL running
    sum in parallel, the per-bucket totals (a tiny table) cumulate into
    bucket offsets, and global running = offset + local. Identical
    integers — prefix sums decompose exactly — but no single-partition
    window over the boundary stream. Ties inside a bucket at identical
    (us, delta) permute only among equal prefix values, so max and
    argmin-ts stay deterministic."""
    e = load_table(spark, sf_dir, "events")
    # four downstream branches (two boundary projections, the session
    # count, and the sweep) would each replay the sessionize pipeline —
    # cut the lineage once; sess is interval-cardinality, not events
    sess = materialize(
        gap_session_ids(e)
        .groupBy("user_id", "sess_id")
        .agg(F.min("us").alias("s"), F.max("us").alias("e"))
    )
    n_sessions = sess.agg(F.count("*").alias("n_sessions"))
    return peak_from_intervals(sess).crossJoin(n_sessions).select(
        "peak_concurrency", "peak_ts_micros", "n_sessions"
    )


def peak_from_intervals(sess: DataFrame) -> DataFrame:
    """Two-level +1/−1 boundary sweep over closed intervals (columns
    ``s``, ``e`` in microseconds): one row (peak_concurrency,
    peak_ts_micros). Exposed separately so the prefix-sum decomposition
    is property-testable against brute force on arbitrary interval sets
    (tests/test_property_tabular.py), not just the sessionized fixture."""
    bounds = sess.select(
        F.col("s").alias("us"), F.lit(1).cast("long").alias("delta")
    ).unionAll(
        sess.select(
            F.col("e").alias("us"), F.lit(-1).cast("long").alias("delta")
        )
    )
    wb = (
        W.partitionBy("bucket")
        .orderBy("us", F.col("delta").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = bounds.withColumn(
        "bucket", F.floor(F.col("us") / 3_600_000_000)
    ).withColumn("local_run", F.sum("delta").over(wb))
    totals = local.groupBy("bucket").agg(F.sum("delta").alias("btotal"))
    offsets = totals.select(
        "bucket",
        (
            F.sum("btotal")
            .over(
                W.orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
            )
            - F.col("btotal")
        ).alias("offset"),
    )
    swept = materialize(
        local.join(F.broadcast(offsets), "bucket").select(
            "us", (F.col("offset") + F.col("local_run")).alias("running")
        )
    )  # read twice: global max, then argmin-ts at that max
    peak = swept.agg(F.max("running").alias("peak_concurrency"))
    return (
        swept.join(F.broadcast(peak))
        .filter(F.col("running") == F.col("peak_concurrency"))
        .agg(F.min("us").alias("peak_ts_micros"))
        .crossJoin(peak)
        .select("peak_concurrency", "peak_ts_micros")
    )


@register(
    "q_cohort_revenue",
    oracle="""
    WITH fo AS (
      SELECT o_custkey,
             min(date_trunc('month', o_orderdate)) AS cohort_month
      FROM orders GROUP BY o_custkey
    )
    SELECT fo.cohort_month,
           CAST((year(o.o_orderdate) * 12 + month(o.o_orderdate))
                - (year(fo.cohort_month) * 12 + month(fo.cohort_month))
                AS INT) AS age_months,
           CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
           CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders o JOIN fo ON o.o_custkey = fo.o_custkey
    GROUP BY 1, 2
    """,
    tags=("warehouse",),
)
def q_cohort_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort revenue matrix: customers are grouped by their first-order
    month (the cohort), and revenue plus active-customer counts roll up
    per (cohort month, months-since-first-order) cell — the retention
    economics readout every subscription/commerce warehouse maintains
    (q_retention is the event-side sibling; this is the revenue side).

    Two shuffles on o_custkey: the per-customer min-month aggregate,
    then the fact-side join back (co-partitioned on the same key, so AQE
    plans it shuffle-free after the first exchange) feeding one final
    map-side-combined rollup. Month arithmetic stays in exact integer
    space (year*12+month), never float date diffs; revenue is summed in
    integer cents (floor(x*100+0.5) per row, BIGINT sum — the repo's
    cross-engine money convention, see q_mv_incremental) so Spark/DuckDB
    summation-order and .xx5-rounding drift cannot touch the hash."""
    orders = load_table(spark, sf_dir, "orders")
    fo = orders.groupBy("o_custkey").agg(
        F.min(F.trunc("o_orderdate", "mm")).alias("cohort_month")
    )
    j = orders.join(fo, "o_custkey")
    month_idx = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    cohort_idx = F.year("cohort_month") * 12 + F.month("cohort_month")
    return j.groupBy(
        "cohort_month", (month_idx - cohort_idx).cast("int").alias("age_months")
    ).agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.sum(
            ex_cents("o_totalprice")
        )
        .cast("long")
        .alias("revenue_cents"),
    )


_ATTRIB_WINDOW_US = 7 * 86_400_000_000  # 7-day last-touch lookback


@register(
    "q_attribution",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS us, event_type, value,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
    ),
    tagged AS (
      -- ONE struct carry, not two independent last_value()s: separate
      -- carries can pair a tagged click's k with a LATER untagged
      -- click's timestamp, attributing through an expired lookback
      -- (found by tests/test_property.py::
      -- test_attribution_matches_brute_force, r9). The touchpoint is
      -- the most recent TAGGED click — its k and us travel together.
      SELECT user_id, us, event_type, value,
             struct_extract(last_value(
               CASE WHEN event_type = 'click' AND k IS NOT NULL
                    THEN struct_pack(tus := us, tk := k) END
               IGNORE NULLS) OVER w, 'tk') AS last_click_k,
             struct_extract(last_value(
               CASE WHEN event_type = 'click' AND k IS NOT NULL
                    THEN struct_pack(tus := us, tk := k) END
               IGNORE NULLS) OVER w, 'tus') AS last_click_us
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT coalesce(CASE WHEN us - last_click_us <= 604800000000
                         THEN last_click_k END, -1) AS campaign,
           CAST(count(*) AS BIGINT) AS n_purchases,
           round(sum(value), 2) AS revenue
    FROM tagged WHERE event_type = 'purchase'
    GROUP BY 1
    """,
    tags=("warehouse",),
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase's value is
    credited to the campaign (props.k) of the user's most recent click
    within a 7-day lookback; purchases with no qualifying click land in
    the -1 "unattributed" bucket. Revenue and purchase counts roll up
    per campaign.

    One shuffle on user_id: a running last-non-null window carries the
    latest click's campaign and timestamp forward over each user's
    ordered event stream (no self-join, no per-purchase scan-back), then
    a map-side-combined rollup on the ~100-value campaign key. The
    (us, event_id) window order is unique, so carried values are
    deterministic under equal timestamps."""
    e = load_table(spark, sf_dir, "events")
    us = ts_micros("ts")
    k = F.get_json_object("props", "$.k").cast("long")
    w = (
        W.partitionBy("user_id")
        .orderBy(us, "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # ONE struct carry (non-null iff a TAGGED click exists) — two
    # independent last(ignorenulls) carries can pair one click's k with
    # a later untagged click's timestamp, attributing through an
    # expired lookback (the asof-join struct rule, found here by the
    # property test; value-neutral on fixtures, where every click
    # is tagged)
    touch = F.when(
        (F.col("event_type") == "click") & k.isNotNull(),
        F.struct(us.alias("tus"), k.alias("tk")),
    )
    tagged = e.select(
        us.alias("us"),
        "event_type",
        "value",
        F.last(touch, ignorenulls=True).over(w).alias("__touch"),
    ).select(
        "us",
        "event_type",
        "value",
        F.col("__touch.tk").alias("last_click_k"),
        F.col("__touch.tus").alias("last_click_us"),
    )
    purchases = tagged.filter(F.col("event_type") == "purchase")
    campaign = F.coalesce(
        F.when(
            F.col("us") - F.col("last_click_us") <= _ATTRIB_WINDOW_US,
            F.col("last_click_k"),
        ),
        F.lit(-1).cast("long"),
    )
    return purchases.groupBy(campaign.alias("campaign")).agg(
        F.count("*").alias("n_purchases"),
        F.round(F.sum("value"), 2).alias("revenue"),
    )


@register(
    "q_join_overlap",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_us
      FROM events
    ),
    numbered AS (
      SELECT user_id, event_id, us,
             sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                      THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS sess_id
      FROM ordered
    ),
    sess AS (
      SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
             min(us) AS s, max(us) AS e
      FROM numbered GROUP BY 1, 2
    )
    SELECT a.user_id, a.sess_id,
           CAST(count(DISTINCT b.user_id) AS BIGINT) AS n_overlap_users
    FROM sess a LEFT JOIN sess b
      ON b.user_id <> a.user_id AND a.s <= b.e AND b.s <= a.e
    GROUP BY 1, 2
    """,
    tags=("interval",),
)
def q_join_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: sessionize (30-min gap, the shared
    q_sessionize recipe), then for every session count how many OTHER
    users had a session overlapping it in time (closed intervals) — the
    concurrent-audience readout behind collaborative-session and
    co-presence features.

    The oracle states the spec as a quadratic range join; the Spark plan
    runs the scalable binned decomposition: each interval replicates to
    the hour buckets it spans (``sequence`` + explode), candidates pair
    only within a bucket (equi-join on the bucket key — an ordinary
    shuffle join), the true-overlap predicate filters, and duplicates
    from multi-bucket overlaps collapse in the count-distinct. Pair
    blow-up is bounded by per-bucket concurrency, never n²; a left join
    back to the session table keeps zero-overlap sessions at 0."""
    e = load_table(spark, sf_dir, "events")
    sess = materialize(
        gap_session_ids(e)
        .groupBy("user_id", "sess_id")
        .agg(F.min("us").alias("s"), F.max("us").alias("e"))
    )
    binned = sess.select(
        "user_id",
        "sess_id",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / 3_600_000_000),
                F.floor(F.col("e") / 3_600_000_000),
            )
        ).alias("bucket"),
    )
    a = binned.alias("a")
    b = binned.alias("b")
    cand = (
        a.join(b, "bucket")
        .filter(
            (F.col("a.user_id") != F.col("b.user_id"))
            & (F.col("a.s") <= F.col("b.e"))
            & (F.col("b.s") <= F.col("a.e"))
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.sess_id").alias("sess_id"),
            F.col("b.user_id").alias("other_user"),
        )
    )
    counts = cand.groupBy("user_id", "sess_id").agg(
        F.countDistinct("other_user").alias("n_overlap_users")
    )
    return (
        sess.select("user_id", "sess_id")
        .join(counts, ["user_id", "sess_id"], "left")
        .select(
            "user_id",
            "sess_id",
            F.coalesce(F.col("n_overlap_users"), F.lit(0))
            .cast("long")
            .alias("n_overlap_users"),
        )
    )


# Snapshot-diff (CDC) modulus constants, shared Spark/oracle. A key hit
# by _CDC_DEL is absent from snapshot B; else a _CDC_UPD hit gets a new
# price; _CDC_INS keys contribute one brand-new row each.
_CDC_DEL = 97
_CDC_UPD = 13
_CDC_INS = 101
_CDC_KEY_OFFSET = 100_000_000


@register(
    "q_snapshot_diff",
    oracle=f"""
    WITH snap_b AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % {_CDC_UPD} = 0
                  THEN o_totalprice * 1.1 ELSE o_totalprice END AS price
      FROM orders WHERE o_orderkey % {_CDC_DEL} <> 0
      UNION ALL
      SELECT o_orderkey + {_CDC_KEY_OFFSET}, o_totalprice
      FROM orders WHERE o_orderkey % {_CDC_INS} = 0
    ),
    classified AS (
      SELECT CASE
               WHEN b.o_orderkey IS NULL THEN 'delete'
               WHEN a.o_orderkey IS NULL THEN 'insert'
               WHEN a.o_totalprice <> b.price THEN 'update'
               ELSE 'unchanged'
             END AS change_type,
             COALESCE(CAST(floor(b.price * 100 + 0.5) AS BIGINT), 0)
               - COALESCE(CAST(floor(a.o_totalprice * 100 + 0.5)
                               AS BIGINT), 0) AS delta_cents
      FROM orders a
      FULL OUTER JOIN snap_b b ON a.o_orderkey = b.o_orderkey
    )
    SELECT change_type, CAST(count(*) AS BIGINT) AS n_rows,
           sum(delta_cents) / 100.0 AS price_delta
    FROM classified
    GROUP BY change_type
    ORDER BY change_type
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two table snapshots: full outer join
    of snapshot A (orders) against snapshot B (a deterministically
    mutated next-day image: ~1% of keys deleted, ~8% repriced, ~1% new
    keys inserted) keyed on o_orderkey, each key classified
    insert/update/delete/unchanged, rolled up with net price drift.
    This is the reconciliation step of every incremental-ingest pipeline
    — diff the incoming snapshot, emit a changelog, audit the net.

    Scale shape: ONE key-partitioned full outer join (both sides shuffle
    on the primary key — on a bucketed/partitioned warehouse table the
    shuffle is free) and one tiny aggregation; classification is
    row-local. No broadcast assumption: both snapshots are table-sized."""
    o = load_table(spark, sf_dir, "orders")
    a = o.select("o_orderkey", "o_totalprice")
    snap_b = (
        a.filter(F.col("o_orderkey") % _CDC_DEL != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % _CDC_UPD == 0,
                F.col("o_totalprice") * 1.1,
            )
            .otherwise(F.col("o_totalprice"))
            .alias("price"),
        )
        .unionByName(
            a.filter(F.col("o_orderkey") % _CDC_INS == 0).select(
                (F.col("o_orderkey") + _CDC_KEY_OFFSET).alias("o_orderkey"),
                F.col("o_totalprice").alias("price"),
            )
        )
    )
    aa = a.alias("a")
    bb = snap_b.alias("b")
    classified = aa.join(
        bb, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer"
    ).select(
        F.when(F.col("b.o_orderkey").isNull(), F.lit("delete"))
        .when(F.col("a.o_orderkey").isNull(), F.lit("insert"))
        .when(F.col("a.o_totalprice") != F.col("b.price"), F.lit("update"))
        .otherwise(F.lit("unchanged"))
        .alias("change_type"),
        # per-row integer cents BEFORE the sum: the previous
        # floor(sum(double)·100+0.5) rounded an order-dependent float
        # sum, and at sf0.1 the true net drift sits near a half-cent
        # boundary — Spark's partitioned partial sums and DuckDB's
        # sequential sum landed on different cents. Integer deltas sum
        # exactly in any order; the final /100.0 is the boundary-exact
        # bare-division convention.
        (
            F.coalesce(ex_cents("b.price"), F.lit(0).cast("long"))
            - F.coalesce(
                ex_cents("a.o_totalprice"), F.lit(0).cast("long")
            )
        ).alias("delta_cents"),
    )
    return (
        classified.groupBy("change_type")
        .agg(
            F.count("*").alias("n_rows"),
            (F.sum("delta_cents") / 100.0).alias("price_delta"),
        )
        .orderBy("change_type")
    )


@register(
    "q_funnel_latency",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s ON e.user_id = s.user_id AND e.ts > s.t1
      WHERE e.event_type = 'click' GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
      WHERE e.event_type = 'purchase' GROUP BY 1
    ),
    d AS (
      SELECT 'signup_to_click' AS step,
             epoch_us(c.t2) - epoch_us(s.t1) AS gap_us
      FROM c JOIN s USING (user_id)
      UNION ALL
      SELECT 'click_to_purchase',
             epoch_us(p.t3) - epoch_us(c.t2)
      FROM p JOIN c USING (user_id)
    )
    SELECT step, CAST(count(*) AS BIGINT) AS n_users,
           floor(percentile_cont(0.5) WITHIN GROUP (ORDER BY gap_us)
                 / 1e6 * 100 + 0.5) / 100 AS p50_sec,
           floor(percentile_cont(0.9) WITHIN GROUP (ORDER BY gap_us)
                 / 1e6 * 100 + 0.5) / 100 AS p90_sec
    FROM d GROUP BY step ORDER BY step
    """,
)
def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency readout for q_funnel's signup → click →
    purchase stages: per transition, how long converting users took
    (median and p90 seconds between the stage-entry events). The number
    a growth team reads next to the funnel counts — the same per-user
    stage times as q_funnel, reduced over integer microsecond gaps so
    the percentile interpolation sees identical inputs in both engines.

    Shape: the SAME stage minima as q_funnel (funnel_stage_minima — one
    definition, two readouts, broadcast per-user frames), then one
    percentile aggregation over users-sized gaps. At extreme user
    counts the exact percentile swaps for percentile_approx in the same
    slot. Seconds use floor-form rounding: a percentile of integer
    microseconds can land exactly on a .xx5 boundary, where Spark's
    decimal round and DuckDB's binary round disagree."""
    s, c, p = funnel_stage_minima(load_table(spark, sf_dir, "events"))
    d = (
        c.join(s, "user_id")
        .select(
            F.lit("signup_to_click").alias("step"),
            (ts_micros("t2") - ts_micros("t1")).alias("gap_us"),
        )
        .unionByName(
            p.join(c, "user_id").select(
                F.lit("click_to_purchase").alias("step"),
                (ts_micros("t3") - ts_micros("t2")).alias("gap_us"),
            )
        )
    )
    return (
        d.groupBy("step")
        .agg(
            F.count("*").alias("n_users"),
            (
                F.floor(
                    F.percentile("gap_us", F.lit(0.5)) / 1e6 * 100
                    + F.lit(0.5)
                )
                / 100
            ).alias("p50_sec"),
            (
                F.floor(
                    F.percentile("gap_us", F.lit(0.9)) / 1e6 * 100
                    + F.lit(0.5)
                )
                / 100
            ).alias("p90_sec"),
        )
        .orderBy("step")
    )


@register(
    "q_seq_markov",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id
               ORDER BY ts NULLS FIRST, event_id NULLS FIRST,
                        event_type NULLS FIRST
             ) AS prev_type
      FROM events
    ),
    t AS (
      SELECT prev_type, event_type AS curr_type,
             CAST(count(*) AS BIGINT) AS n
      FROM ordered WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ),
    w AS (
      SELECT prev_type, curr_type, n,
             sum(n) OVER (PARTITION BY prev_type) AS row_total
      FROM t
    )
    SELECT prev_type, curr_type, n,
           floor(n * 1e6 / row_total + 0.5) / 1e6 AS p
    FROM w
    """,
)
def q_seq_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream: for
    each user's time-ordered events, count prev→curr event-type
    transitions and normalize per source state — the user-journey
    readout behind "what do people do after an error?", and the
    empirical transition model a session simulator or next-event
    predictor starts from.

    Cross-engine determinism: the lag ordering key is (ts, event_id,
    event_type), each pinned NULLS FIRST in the oracle (Spark asc
    default ≡ pinned DuckDB — the registry NULL rule). The event_type
    tail-tiebreak makes the ordering total over the
    VALUES lag() reads even when (ts, event_id) duplicates or goes
    both-NULL — two rows tied on the full key are then interchangeable
    for prev_type, so transition counts cannot flip with engine sort
    order. lag() makes a boundary NULL (first event per
    user) indistinguishable from a data NULL (previous event's type
    missing), so WHERE prev_type IS NOT NULL drops BOTH — transitions
    out of a missing state are uncountable in this formulation and are
    dropped identically in both engines (documented trade; transitions
    INTO a missing state keep their row via curr_type NULL, the honest
    count). Probabilities use the floor(x·1e6+0.5)/1e6 form on an
    n/row_total integer ratio (engine round() diverges exactly on
    half-digit boundaries, which small-integer ratios DO hit).

    Shape at 100 TB: one shuffle to (user) for the lag window —
    sessions are user-bounded so the sort is within-key and skew-free —
    then a map-side-combined count to ≤ |types|² rows; the per-source
    normalizer rides as a window sum over that tiny matrix (the
    q_tcloseness single-consumer discipline: no rejoin, no re-plan of
    the fact window). Scans prune to (user_id, ts, event_id,
    event_type)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    ordered = e.select(
        "event_type",
        F.lag("event_type")
        .over(
            W.partitionBy("user_id").orderBy(
                F.col("ts").asc(),
                F.col("event_id").asc(),
                F.col("event_type").asc(),
            )
        )
        .alias("prev_type"),
    )
    t = (
        ordered.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("curr_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = t.select(
        "prev_type",
        "curr_type",
        "n",
        F.sum("n").over(W.partitionBy("prev_type")).alias("row_total"),
    )
    return w.select(
        "prev_type",
        "curr_type",
        "n",
        (
            F.floor(F.col("n") * 1e6 / F.col("row_total") + F.lit(0.5)) / 1e6
        ).alias("p"),
    )


_MARKOV_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min, the q_stream_session gap


@register(
    "q_seq_markov_session",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_type,
             lag(event_type) OVER w AS prev_type,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > {_MARKOV_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY ts NULLS FIRST, event_id NULLS FIRST,
                            event_type NULLS FIRST)
    ),
    t AS (
      SELECT prev_type, event_type AS curr_type,
             CAST(count(*) AS BIGINT) AS n
      FROM ordered WHERE brk = 0 AND prev_type IS NOT NULL
      GROUP BY 1, 2
    ),
    w2 AS (
      SELECT prev_type, curr_type, n,
             sum(n) OVER (PARTITION BY prev_type) AS row_total
      FROM t
    )
    SELECT prev_type, curr_type, n,
           floor(n * 1e6 / row_total + 0.5) / 1e6 AS p
    FROM w2
    """,
)
def q_seq_markov_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SESSION Markov transition matrix — q_seq_markov's twin with
    the q_stream_session boundary: transitions are counted only between
    consecutive events of the same user separated by ≤ 30 minutes, so a
    signup→purchase pair spanning a week of absence no longer counts as
    one "journey step". The lifetime matrix (q_seq_markov) minus this
    one is exactly the cross-session transition mass — the readout a
    journey analyst compares to see which flows are within-visit habits
    vs across-visit returns.

    ONE window pass does both jobs (no second sessionize-then-lag
    shuffle): the user-keyed lag window yields prev_type AND the
    session-break flag (gap > 30 min or no/NULL predecessor timestamp,
    the q_stream_session rule) from the same sort; a transition is kept
    iff the CURRENT row is not a session start. Ordering key is the
    q_seq_markov total key (ts, event_id, event_type), each pinned
    NULLS FIRST. NULL-ts rows sort first per user and each one breaks —
    an event that cannot be placed in time cannot be sessionized, so it
    contributes no transition in EITHER direction (identical CASE in
    both engines); boundary-vs-data NULL prev_type drops per the
    q_seq_markov documented trade. Probabilities via the
    floor(x·1e6+0.5)/1e6 form on the n/row_total integer ratio.

    Shape at 100 TB: identical to q_seq_markov — one shuffle to
    (user_id) for the window (sessions are user-bounded, skew-free),
    one map-side-combined count to ≤ |types|² rows, the per-source
    normalizer as a window sum over that tiny matrix (single-consumer
    discipline). Scans prune to (user_id, ts, event_id, event_type)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc(), F.col("event_type").asc()
    )
    prev_ts = F.lag("ts").over(w)
    ordered = e.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.when(
            prev_ts.isNull()
            | (ts_micros("ts") - ts_micros(prev_ts) > _MARKOV_SESSION_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    t = (
        ordered.filter((F.col("brk") == 0) & F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("curr_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w2 = t.select(
        "prev_type",
        "curr_type",
        "n",
        F.sum("n").over(W.partitionBy("prev_type")).alias("row_total"),
    )
    return w2.select(
        "prev_type",
        "curr_type",
        "n",
        (
            F.floor(F.col("n") * 1e6 / F.col("row_total") + F.lit(0.5)) / 1e6
        ).alias("p"),
    )


@register(
    "q_user_streak",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    islands AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS INT) AS island
      FROM days
    ),
    runs AS (
      SELECT user_id, island, CAST(count(*) AS BIGINT) AS run_len
      FROM islands GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(sum(run_len) AS BIGINT) AS n_active_days,
           CAST(max(run_len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks
    FROM runs GROUP BY 1
    """,
    tags=("analytics",),
)
def q_user_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user — the classic
    gaps-and-islands pattern (active days → islands keyed by
    day − row_number → run lengths), the engagement metric every DAU
    dashboard ships and the one window shape the §2.5 family did not
    yet cover (q_sessionize islands by TIME GAP within a day; this
    islands by CALENDAR DAY across the whole history).

    Cross-engine: the island key is a DATE minus an integer row_number
    — exact date arithmetic in both engines; row_number is
    deterministic because (user_id, day) is DISTINCT before ranking,
    so the ORDER BY day total-orders each partition. Every output is
    an exact BIGINT count; no floats exist anywhere in the operator.
    NULL user_ids (anonymous events) and NULL timestamps (unplaceable
    events) are dropped at the scan in both engines — a streak is
    per-identity per-day by definition, and a NULL ts would otherwise
    form a phantom single-day island inflating n_active_days/n_streaks
    by one.

    Shape at 100 TB: the fact scan pre-aggregates to (user, day)
    distinct grain map-side, then ONE user-keyed shuffle serves the
    ranking window AND both groupBys (same key — no re-partition
    between them; Catalyst reuses the exchange). Run/streak tables are
    strictly smaller than the day grain. The window never sees more
    rows per partition than a user has active days, so no skew beyond
    the busiest user.

    Reference parity anchor: no analytics surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part of
    the beyond-the-reference analytics family."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    days = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("day"))
    islands = days.select(
        "user_id",
        "day",
        F.date_sub(F.col("day"), rn.cast("int")).alias("island"),
    )
    runs = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return runs.groupBy("user_id").agg(
        F.sum("run_len").alias("n_active_days"),
        F.max("run_len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )
