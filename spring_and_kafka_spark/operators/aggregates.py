"""Aggregations (SURVEY.md §2.4).

Reference anchor: Spring XD "count" (reference README.md:329) — the only
aggregation the reference's model names. Everything here is hash
aggregation with map-side partial aggregates (Spark plans
HashAggregate(partial) → Exchange → HashAggregate(final) automatically),
so at 100 TB only one row per group-per-partition crosses the shuffle.

Hash-match discipline: money sums rounded to 2, averages to 4, stats to 4;
DuckDB SUM(int)→HUGEINT and count(DISTINCT)→BIGINT divergences are
normalized with explicit casts on the oracle side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from spring_and_kafka_spark.exec_utils import cents as ex_cents
from spring_and_kafka_spark.exec_utils import cents_sql
from spring_and_kafka_spark.registry import register
from spring_and_kafka_spark.sources.tables import load_table

# q_agg_approx and q_agg_collect register first in this module: the driver
# verifies a fixed-size prefix of the registry, and both needed reshaping
# (within-tolerance boolean / serialized set) — keeping them
# at the head guarantees their fixes land in the verification window.


@register(
    "q_agg_approx",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           count(*) AS n,
           true AS within_tol
    FROM events GROUP BY event_type
    """,
    tags=("approx",),
)
def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate count-distinct (HLL++) — the 100 TB path for cardinality
    estimation (no exact-distinct shuffle; a fixed-size sketch per group
    crosses the wire instead of every distinct value).

    Hash-match shape: the raw HLL estimate is engine-specific, so the query
    emits the deterministic claim instead — ``within_tol`` is true iff the
    estimate lands within ±5% of the exact count (rsd=0.02, so 5% is a
    comfortable margin and the check is stable for a fixed input). The
    oracle asserts the same claim as a constant, making the sketch's
    accuracy itself the thing the driver hash-verifies."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
            F.count("*").alias("n"),
        )
        .select(
            "event_type",
            "exact_users",
            "n",
            (
                (F.col("approx_users") >= F.col("exact_users") * 0.95)
                & (F.col("approx_users") <= F.col("exact_users") * 1.05)
            ).alias("within_tol"),
        )
    )


@register(
    "q_agg_collect",
    oracle="""
    SELECT l_returnflag,
           array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
           CAST(count(DISTINCT l_linestatus) AS BIGINT) AS n_statuses
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set aggregation. The distinct set is sorted then serialized to one
    CSV string: identical multiset semantics, but scalar-typed output so
    every downstream consumer (including the driver's pandas-based value
    hasher, which cannot factorize list cells) can process the column."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("l_linestatus"))).alias(
            "statuses"
        ),
        F.countDistinct("l_linestatus").alias("n_statuses"),
    )


# Registered third in this module (definition order = registration order)
# so it sits inside the hash-verified 50-entry prefix (registry
# _WINDOW_PREFIX): its struct-key max_by and row_number oracle are
# checked there.
@register(
    "q_agg_argmax",
    oracle="""
    SELECT o_custkey, o_orderkey AS best_order,
           round(o_totalprice, 2) AS best_total
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey DESC
               ) AS rn
        FROM orders
    ) WHERE rn = 1
    """,
)
def q_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax aggregation (max_by): each customer's highest-value order.

    The ordering key is a (price, key) struct — exact lexicographic
    comparison at any scale. (An arithmetic fold like price*1e6+key is
    order-preserving only while keys stay below the price granularity;
    beyond ~10k orderkeys a big key could outvote a higher price.) DuckDB's
    arg_max has no composite-key overload, so the oracle states the same
    semantics as a row_number window over (price DESC, key DESC)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.max_by(
            "o_orderkey", F.struct("o_totalprice", "o_orderkey")
        ).alias("best_order"),
        F.round(F.max("o_totalprice"), 2).alias("best_total"),
    )


@register(
    "q_agg_global",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(count(l_quantity) AS BIGINT) AS n_qty,
           round(sum(l_extendedprice), 2) AS sum_price,
           round(avg(l_discount), 6) AS avg_disc,
           round(min(l_quantity), 2) AS min_qty,
           round(max(l_quantity), 2) AS max_qty
    FROM lineitem
    """,
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped aggregate: count/sum/avg/min/max in one pass."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.count("l_quantity").alias("n_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
    )


@register(
    "q_agg_group",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — the flagship query (entry())."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q_agg_distinct",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — Spark expands to a two-phase aggregate."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.count("*").alias("n_orders"),
    )


@register(
    "q_agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qp
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/corr/covar."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qp"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("cov_qp"),
    )


@register(
    "q_agg_percentile",
    oracle="""
    SELECT l_linestatus,
           round(median(l_quantity), 4) AS med_qty,
           round(percentile_cont(0.9) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p90_price
    FROM lineitem GROUP BY l_linestatus
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median / continuous percentile. (At 100 TB prefer
    percentile_approx — exact percentiles need a per-group sort; declared
    query uses exact to hash-match the oracle.)"""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.median("l_quantity"), 4).alias("med_qty"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90_price"),
    )


@register(
    "q_agg_bool",
    oracle="""
    SELECT l_returnflag,
           bool_and(l_quantity > 0) AS all_positive,
           bool_or(l_discount > 0.09) AS any_big_discount,
           bool_and(l_linestatus = 'F') AS all_f
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates: bool_and / bool_or (every/any)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_big_discount"),
        F.bool_and(F.col("l_linestatus") == "F").alias("all_f"),
    )


@register(
    "q_agg_having",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY o_custkey HAVING count(*) > 12
    """,
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .filter(F.col("n_orders") > 12)
    )


@register(
    "q_rollup",
    oracle="""
    SELECT r_name, n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals (region → nation → grand total). Dimension
    joins are broadcast (5/25-row tables) — no shuffle for the join."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_cust"),
        F.round(F.sum("c_acctbal"), 2).alias("bal"),
    )


@register(
    "q_rollup_grouping",
    oracle="""
    SELECT r_name, n_name,
           CAST(grouping(r_name) AS INT) AS g_region,
           CAST(grouping(n_name) AS INT) AS g_nation,
           count(*) AS n_cust
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q_rollup_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup with GROUPING() indicators — the only sound way to tell a
    subtotal row's null from a genuine null grouping value (a consumer
    filtering `n_name IS NULL` would conflate them)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.grouping("r_name").cast("int").alias("g_region"),
        F.grouping("n_name").cast("int").alias("g_nation"),
        F.count("*").alias("n_cust"),
    )


@register(
    "q_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping combinations over two dimensions."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "q_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via the SQL entry point (SURVEY.md §3.4)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "q_pivot",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           round(sum(CASE WHEN event_type = 'click'    THEN value END), 2) AS click,
           round(sum(CASE WHEN event_type = 'error'    THEN value END), 2) AS error,
           round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
           round(sum(CASE WHEN event_type = 'signup'   THEN value END), 2) AS signup,
           round(sum(CASE WHEN event_type = 'view'     THEN value END), 2) AS view
    FROM events GROUP BY 1
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type → columns. Explicit value list avoids the extra
    distinct-values job (mandatory at scale — never let pivot scan twice)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.round(F.sum("value"), 2))
    )


@register(
    "q_agg_mode",
    oracle="""
    WITH c AS (
      SELECT event_type, user_id, count(*) AS cnt
      FROM events GROUP BY event_type, user_id
    ),
    r AS (
      SELECT event_type, user_id, cnt,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cnt DESC, user_id DESC) AS rn
      FROM c
    )
    SELECT event_type, user_id AS mode_user, cnt AS n_events
    FROM r WHERE rn = 1
    """,
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode: the most active user per event type, ties
    broken toward the larger user_id (a raw mode() is nondeterministic
    under ties, so no engine pair could hash-agree on it). Spark takes
    max over a (count, user_id) struct — two map-side-combined
    aggregations, no window sort; the oracle states the tie-break with
    row_number.

    Shape at 100 TB: groupBy(event_type, user_id) then groupBy(event_type)
    — both partial-aggregated, the second over one row per (type, user)."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("event_type", "user_id").agg(F.count("*").alias("cnt"))
    best = F.max(F.struct("cnt", "user_id"))
    return c.groupBy("event_type").agg(
        best.getField("user_id").alias("mode_user"),
        best.getField("cnt").alias("n_events"),
    )


@register(
    "q_agg_corr",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_extendedprice, l_quantity), 4) + 0.0 AS price_qty_corr,
           round(covar_samp(l_extendedprice, l_quantity), 4) + 0.0 AS price_qty_covar,
           round(covar_pop(l_extendedprice, l_quantity), 4) + 0.0 AS price_qty_covar_pop,
           round(regr_slope(l_extendedprice, l_quantity), 4) + 0.0 AS price_per_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per group: Pearson correlation, sample and
    population covariance, and the OLS slope of price on quantity — the
    regression-in-SQL surface (F.regr_slope, the same covar_pop /
    var_pop definition DuckDB uses).

    All four are single-pass algebraic aggregates (sum/sum-sq/cross-sum
    moments) with map-side partial combine — one shuffle of 3 groups ×
    5 moments regardless of row count; the canonical 100 TB shape."""
    li = load_table(spark, sf_dir, "lineitem")
    slope = F.regr_slope(F.col("l_extendedprice"), F.col("l_quantity"))
    return (
        li.groupBy("l_returnflag")
        .agg(
            # + 0.0 collapses IEEE -0.0 (DuckDB round keeps the sign on
            # tiny negatives; Spark drops it — semistructured.py convention)
            (F.round(F.corr("l_extendedprice", "l_quantity"), 4) + 0.0).alias(
                "price_qty_corr"
            ),
            (F.round(F.covar_samp("l_extendedprice", "l_quantity"), 4) + 0.0)
            .alias("price_qty_covar"),
            (F.round(F.covar_pop("l_extendedprice", "l_quantity"), 4) + 0.0)
            .alias("price_qty_covar_pop"),
            (F.round(slope, 4) + 0.0).alias("price_per_qty"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_hist_equiwidth",
    oracle="""
    WITH b AS (
      -- NULL price -> NULL bucket. least() SKIPS NULL args in both
      -- engines, so an unguarded least(floor(NULL/50000), 11) lands
      -- every missing value in the TOP bucket (misclassifying
      -- missing data as the largest-value bucket)
      SELECT CASE WHEN o_totalprice IS NULL THEN NULL
                  ELSE CAST(least(floor(o_totalprice / 50000), 11)
                            AS BIGINT) END AS bucket
      FROM orders
    ),
    h AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY bucket
    )
    SELECT bucket,
           bucket * 50000 AS lo,
           CASE WHEN bucket = 11 THEN NULL
                ELSE (bucket + 1) * 50000 END AS hi,
           n,
           round(n / CAST(sum(n) OVER () AS DOUBLE), 4) AS share
    -- NULLS FIRST pins DuckDB's (NULLS LAST) default to Spark's
    -- orderBy default, per the registry's cross-engine NULL rule —
    -- order-insensitive compares never see the difference, but the
    -- NULL bucket must not float to opposite ends of the result
    FROM h ORDER BY bucket NULLS FIRST
    """,
)
def q_hist_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order value: fixed $50k buckets with an
    open-ended overflow bucket (hi = NULL — every row satisfies its own
    stated bounds), counts and shares — the profiling / data-quality
    primitive (bounds derive from the bucket index, so no second pass
    for min/max and the bucket count is fixed up front).

    Bucketing is a map-side expression; the groupBy reduces to ≤13 rows
    before the window computes shares, so the unpartitioned window sees
    a dozen rows, not the table. Scan → 13-row shuffle at any scale.

    NULL prices form their OWN bucket (NULL id, NULL bounds) instead of
    polluting a value bucket: both engines' least() skips NULL args, so
    the unguarded form silently filed every missing value under the top
    bucket — found by tests/test_property_tabular.py on random inputs, the
    exact misclassification a data-quality histogram exists to expose
    (and reachable at scale: the ingest contract normalizes NaN to
    NULL)."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.when(
        F.col("o_totalprice").isNotNull(),
        F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(11)).cast(
            "long"
        ),
    )
    h = o.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    total = F.sum("n").over(W.partitionBy())
    return h.select(
        "bucket",
        (F.col("bucket") * 50000).alias("lo"),
        # the cap bucket is open-ended: a NULL hi, not a bound the
        # overflow rows would violate
        F.when(F.col("bucket") < 11, (F.col("bucket") + 1) * 50000).alias(
            "hi"
        ),
        "n",
        F.round(F.col("n") / total.cast("double"), 4).alias("share"),
    ).orderBy("bucket")


@register(
    "q_agg_weighted",
    oracle=f"""
    WITH j AS (
      SELECT p.p_brand,
             {cents_sql('l.l_extendedprice')}
               * CAST(floor(l.l_quantity + 0.5) AS BIGINT) AS wprice_cents,
             CAST(floor(l.l_quantity + 0.5) AS BIGINT) AS qty
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    )
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(qty) AS BIGINT) AS total_qty,
           floor(CAST(sum(wprice_cents) AS DOUBLE) / sum(qty) + 0.5) / 100.0
             AS wavg_price
    FROM j GROUP BY p_brand ORDER BY p_brand
    """,
)
def q_agg_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price per brand — the weighted-mean
    aggregate SQL lacks as a built-in (sum(w·x)/sum(w) composed from two
    algebraic sums, never a two-pass or a UDAF).

    The weighted numerator accumulates in integer cents×quantity, so the
    sum is exact and engine-order-independent (a double product sum
    would drift in the last bit across partition orders); one final
    IEEE division + half-up keeps the hash stable. Dimension broadcast,
    map-side partial aggregation, one 25-row shuffle. At petabyte row
    counts the BIGINT numerator would near 2^63 — the same sum over
    DECIMAL(38,2) is the headroom upgrade, same plan."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cents = ex_cents("l_extendedprice")
    # floor(q+0.5), not cast: Spark cast(double->long) truncates while
    # DuckDB CAST rounds (registry.py conventions) — half-up on BOTH
    # sides keeps the hash stable if quantities ever go non-integral
    qty = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "p_brand",
        (cents * qty).alias("wprice_cents"),
        qty.alias("qty"),
    )
    return (
        j.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("qty").alias("total_qty"),
            # NULL weighted average for a zero-weight group: ANSI Spark
            # throws on /0 where DuckDB yields NULL
            F.when(
                F.sum("qty") != 0,
                F.floor(
                    F.sum("wprice_cents").cast("double") / F.sum("qty")
                    + F.lit(0.5)
                )
                / 100.0,
            ).alias("wavg_price"),
        )
        .orderBy("p_brand")
    )


@register(
    "q_agg_string",
    oracle="""
    SELECT c.c_mktsegment,
           array_to_string(list_sort(list(DISTINCT n.n_name)), ',') AS nations,
           CAST(count(DISTINCT n.n_name) AS BIGINT) AS n_nations,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
)
def q_agg_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String aggregation (LISTAGG / string_agg surface): the sorted
    distinct nation roster per market segment as one delimited string —
    the report-building aggregate. Deterministic by construction:
    collect_set → array_sort → concat_ws fixes the element order that
    bare listagg leaves unspecified (same reason dedup uses rank windows
    over dropDuplicates).

    collect_set is fine HERE because the per-group distinct-value count
    is bounded by |nation| (25); an unbounded-cardinality string agg at
    100 TB would instead cap or top-k the set before concatenation."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_mktsegment")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("n_name"))).alias(
                "nations"
            ),
            F.countDistinct("n_name").alias("n_nations"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "q_unpivot",
    oracle="""
    WITH wide AS (
      SELECT l_returnflag,
             CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_qty,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
    UNION ALL
    SELECT l_returnflag, 'n_lines', n_lines FROM wide
    UNION ALL
    SELECT l_returnflag, 'n_orders', n_orders FROM wide
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the wide per-flag metric table turned into long
    (flag, metric, value) rows — the inverse of q_pivot and the shape
    BI/metric stores ingest. Uses the native DataFrame unpivot (Spark's
    internal Expand node: each input row fans to k output rows in the
    SAME task — no shuffle, no join, exactly how the oracle's UNION ALL
    arms read but in one pass over a 3-row aggregate)."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")).alias(
            "sum_qty"
        ),
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "n_lines", "n_orders"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "q_share_of_total",
    oracle=f"""
    WITH rev AS (
      SELECT n.n_regionkey, r.r_name, n.n_name,
             sum({cents_sql('o.o_totalprice')})
               AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2, 3
    )
    SELECT r_name, n_name,
           CAST(cents AS DOUBLE) / 100 AS revenue,
           round(cents * 1.0 / sum(cents) OVER (PARTITION BY n_regionkey),
                 6) AS share_of_region,
           round(cents * 1.0 / sum(cents) OVER (), 6) AS share_of_total,
           CAST(row_number() OVER (PARTITION BY n_regionkey
             ORDER BY cents DESC, n_name) AS BIGINT) AS rank_in_region
    FROM rev
    """,
)
def q_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contribution analysis (percent-of-parent): each nation's order
    revenue as a share of its region and of the grand total, ranked
    within region — the drill-down readout every revenue dashboard
    renders next to a rollup.

    Revenue sums as exact integer cents (a double sum would be
    partial-aggregation-order-dependent and could never hash-match);
    the percent-of-parent windows run over the NATION-level aggregate
    (25 rows), so the single-partition total window costs nothing —
    the fact table pays one groupBy shuffle, the two dimension hops are
    broadcasts."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    cents = ex_cents("o_totalprice")
    rev = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_regionkey", "r_name", "n_name")
        .agg(F.sum(cents).alias("cents"))
    )
    wr = W.partitionBy("n_regionkey")
    return rev.select(
        "r_name",
        "n_name",
        (F.col("cents").cast("double") / 100).alias("revenue"),
        # NULL when the region/total revenue is 0 (share of nothing is
        # undefined; ANSI Spark throws on /0 where DuckDB yields NULL)
        F.when(
            F.sum("cents").over(wr) != 0,
            F.round(F.col("cents") / F.sum("cents").over(wr), 6),
        ).alias("share_of_region"),
        F.when(
            F.sum("cents").over(W.partitionBy()) != 0,
            F.round(
                F.col("cents") / F.sum("cents").over(W.partitionBy()), 6
            ),
        ).alias("share_of_total"),
        F.row_number()
        .over(wr.orderBy(F.col("cents").desc(), "n_name"))
        .cast("long")
        .alias("rank_in_region"),
    )


@register(
    "q_agg_ols2",
    oracle=f"""
    WITH z AS (
      SELECT CAST(l_quantity AS BIGINT) AS x1,
             {cents_sql('l_discount')} AS x2,
             {cents_sql('l_extendedprice')} AS y
      FROM lineitem
    ),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x1) AS DOUBLE) AS sx1,
             CAST(sum(x2) AS DOUBLE) AS sx2,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x1 * x1) AS DOUBLE) AS sx11,
             CAST(sum(x2 * x2) AS DOUBLE) AS sx22,
             CAST(sum(x1 * x2) AS DOUBLE) AS sx12,
             CAST(sum(x1 * y) AS DOUBLE) AS sx1y,
             CAST(sum(x2 * y) AS DOUBLE) AS sx2y
      FROM z
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           round((
             (sx1y * 1.0 - sx1 * sy / n) * (sx22 - sx2 * sx2 / n)
             - (sx2y - sx2 * sy / n) * (sx12 - sx1 * sx2 / n)
           ) / (
             (sx11 - sx1 * sx1 / n) * (sx22 - sx2 * sx2 / n)
             - (sx12 - sx1 * sx2 / n) * (sx12 - sx1 * sx2 / n)
           ) / 100, 4) AS beta_qty,
           round((
             (sx2y * 1.0 - sx2 * sy / n) * (sx11 - sx1 * sx1 / n)
             - (sx1y - sx1 * sy / n) * (sx12 - sx1 * sx2 / n)
           ) / (
             (sx11 - sx1 * sx1 / n) * (sx22 - sx2 * sx2 / n)
             - (sx12 - sx1 * sx2 / n) * (sx12 - sx1 * sx2 / n)
           ) / 100, 4) AS beta_disc_pct
    FROM s
    """,
)
def q_agg_ols2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature OLS (extendedprice ~ quantity + discount) solved in
    closed form from the normal equations — the multi-regressor upgrade
    of q_agg_corr's regr_slope, fitted the way a 100 TB engine must: ONE
    aggregation pass collecting the 9 sufficient-statistic sums, then
    constant-time 2×2 centered-Cramer algebra on the driver-sized row.

    Exactness discipline (DESIGN.md #13): inputs are scaled to integers
    (quantity, discount percent, price cents) so all nine sums are EXACT
    BIGINTs — summation order cannot perturb them — and only then cast
    to double for the division algebra, whose expression tree is written
    identically in both engines. Largest product: qty(≤50) × cents(≈1e7)
    summed over 6e5 rows ≈ 3e14, far under the 2^63 ANSI-overflow line;
    y² is deliberately NOT summed (it would overflow at sf0.1), which is
    why the readout is the betas, not R²."""
    li = load_table(spark, sf_dir, "lineitem")
    x1 = F.col("l_quantity").cast("long")
    x2 = ex_cents("l_discount")
    y = ex_cents("l_extendedprice")
    z = li.select(x1.alias("x1"), x2.alias("x2"), y.alias("y"))
    s = z.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x1").cast("double").alias("sx1"),
        F.sum("x2").cast("double").alias("sx2"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("sx11"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("sx22"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("sx12"),
        F.sum(F.col("x1") * F.col("y")).cast("double").alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).cast("double").alias("sx2y"),
    )
    c11 = F.col("sx11") - F.col("sx1") * F.col("sx1") / F.col("n")
    c22 = F.col("sx22") - F.col("sx2") * F.col("sx2") / F.col("n")
    c12 = F.col("sx12") - F.col("sx1") * F.col("sx2") / F.col("n")
    c1y = F.col("sx1y") * 1.0 - F.col("sx1") * F.col("sy") / F.col("n")
    c2y = F.col("sx2y") * 1.0 - F.col("sx2") * F.col("sy") / F.col("n")
    det = c11 * c22 - c12 * c12
    # NULL on a singular normal matrix (collinear/constant regressors):
    # ANSI Spark throws on /0 where DuckDB yields NULL — the guard makes
    # the degenerate answer NULL in BOTH engines (robustness sweep)
    return s.select(
        F.col("n").cast("long").alias("n_rows"),
        F.when(
            det != 0, F.round((c1y * c22 - c2y * c12) / det / 100, 4)
        ).alias("beta_qty"),
        F.when(
            det != 0, F.round((c2y * c11 - c1y * c12) / det / 100, 4)
        ).alias("beta_disc_pct"),
    )


@register(
    "q_agg_moments",
    oracle="""
    WITH z AS (
      SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem
    ),
    s AS (
      SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(q) AS DOUBLE) AS s1,
             CAST(sum(q * q) AS DOUBLE) AS s2,
             CAST(sum(q * q * q) AS DOUBLE) AS s3,
             CAST(sum(q * q * q * q) AS DOUBLE) AS s4
      FROM z GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           round(s1 / n, 4) AS mean_qty,
           round((s2 / n - (s1 / n) * (s1 / n)), 4) AS var_pop,
           round(
             (s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
             / pow(s2 / n - (s1 / n) * (s1 / n), 1.5), 4) + 0.0 AS skewness_pop,
           round(
             (s4 / n - 4 * (s1 / n) * (s3 / n)
              + 6 * (s1 / n) * (s1 / n) * (s2 / n)
              - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
             / pow(s2 / n - (s1 / n) * (s1 / n), 2) - 3, 4) + 0.0
             AS kurtosis_excess
    FROM s
    ORDER BY l_returnflag
    """,
)
def q_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment distribution profile per returnflag: population
    variance, skewness and excess kurtosis of order quantity. The
    built-in skewness()/kurtosis() aggregates differ between engines in
    bias correction, so the engine computes them FROM RAW MOMENTS: one
    aggregation pass collects Σq..Σq⁴ as EXACT BIGINTs (q ≤ 50, so even
    Σq⁴ ≈ 6.25e6 per row stays far under 2^63 at any fixture SF), and
    the standardized-moment algebra runs on the per-group row with an
    expression tree written identically in both engines — the same
    sufficient-statistic discipline as q_agg_ols2, and the shape that
    makes the stat mergeable across shards (raw moment sums add)."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    z = li.select("l_returnflag", q.alias("q"))
    s = z.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("q").cast("double").alias("s1"),
        F.sum(F.col("q") * F.col("q")).cast("double").alias("s2"),
        F.sum(F.col("q") * F.col("q") * F.col("q")).cast("double").alias("s3"),
        F.sum(F.col("q") * F.col("q") * F.col("q") * F.col("q"))
        .cast("double")
        .alias("s4"),
    )
    m = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n")
    m3 = F.col("s3") / F.col("n")
    m4 = F.col("s4") / F.col("n")
    var = m2 - m * m
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        F.round(m, 4).alias("mean_qty"),
        F.round(var, 4).alias("var_pop"),
        # + 0.0 collapses IEEE -0.0 (session-wide convention): a moment
        # rounding to zero must format identically in both engines.
        # NULL on a constant group (var = 0): shape moments are
        # undefined, and ANSI Spark throws on /0 where DuckDB NULLs.
        # var != 0 (not > 0): a float-noise NEGATIVE var must keep the
        # NaN both engines produce via pow(neg, 1.5), not become NULL
        # in one of them
        F.when(
            var != 0,
            F.round((m3 - 3 * m * m2 + 2 * m * m * m) / F.pow(var, 1.5), 4)
            + 0.0,
        ).alias("skewness_pop"),
        F.when(
            var != 0,
            F.round(
                (m4 - 4 * m * m3 + 6 * m * m * m2 - 3 * m * m * m * m)
                / F.pow(var, 2)
                - 3,
                4,
            )
            + 0.0,
        ).alias("kurtosis_excess"),
    ).orderBy("l_returnflag")


@register(
    "q_hist_equidepth",
    oracle=f"""
    WITH s AS (
      -- boundaries interpolate over EXACT INTEGER CENTS (the repo's one
      -- currency rule): Spark's Percentile computes lo + (hi-lo)*f,
      -- DuckDB's quantile_cont lo*(1-f) + hi*f — on raw doubles the two
      -- roundings can disagree (two subnormal ties can put the p=0.5
      -- boundary at 0.0 in one engine and 5e-324 in the other,
      -- flipping a bucket id); on integers with dyadic f = k/8
      -- both products are exact dyadics, so both formulas yield the
      -- identical true rational and the divergence is structurally gone
      SELECT o_totalprice,
             {cents_sql('o_totalprice')} AS c
      FROM orders
    ),
    q AS (
      SELECT quantile_cont(c, 0.125) AS b1,
             quantile_cont(c, 0.25)  AS b2,
             quantile_cont(c, 0.375) AS b3,
             quantile_cont(c, 0.5)   AS b4,
             quantile_cont(c, 0.625) AS b5,
             quantile_cont(c, 0.75)  AS b6,
             quantile_cont(c, 0.875) AS b7
      FROM s
    ),
    b AS (
      -- NULL price -> NULL bucket (its own row, the q_hist_equiwidth
      -- lesson); boundary-tied rows stay in the LOWER bucket (c > b is
      -- false on equality in both engines)
      SELECT CASE WHEN c IS NULL THEN NULL
                  ELSE 1 + CAST(c > q.b1 AS INT)
                         + CAST(c > q.b2 AS INT)
                         + CAST(c > q.b3 AS INT)
                         + CAST(c > q.b4 AS INT)
                         + CAST(c > q.b5 AS INT)
                         + CAST(c > q.b6 AS INT)
                         + CAST(c > q.b7 AS INT) END AS bucket,
             o_totalprice AS v
      FROM s, q
    ),
    h AS (
      -- money bounds via the repo's ONE currency rounding rule
      -- (exec_utils.cents): floor(x*100+0.5)/100.0 — bit-identical in
      -- both engines, where round() diverges at half-cent boundaries
      -- (DuckDB round(-2.125, 2) = -2.13 vs the cents rule's -2.12)
      SELECT bucket, CAST(count(*) AS BIGINT) AS n,
             floor(min(v) * 100 + 0.5) / 100.0 AS lo,
             floor(max(v) * 100 + 0.5) / 100.0 AS hi
      FROM b GROUP BY bucket
    )
    SELECT bucket, n, lo, hi,
           round(n / CAST(sum(n) OVER () AS DOUBLE), 4) AS share
    FROM h ORDER BY bucket NULLS FIRST
    """,
)
def q_hist_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equi-height) histogram of order value: 8 buckets cut
    at the exact octile boundaries, with per-bucket counts, observed
    [lo, hi] and share — the optimizer-statistics / drift-baseline
    complement to q_hist_equiwidth's fixed-width form (equal POPULATION
    per bucket, data-driven bounds, robust to skew no fixed grid
    survives).

    Shape at 100 TB: one exact-percentile aggregate produces a 1-row,
    7-column boundary table (crossJoin-broadcast back — the q_winsorize
    band pattern); bucket assignment is then a map-side expression and
    the groupBy reduces to ≤9 rows before the share window. Exact
    percentile needs the per-column sort; at the top scale swap
    approx_percentile in — the bucketing expression is unchanged.

    Cross-engine: both engines interpolate quantiles with the same
    (n-1)*p POSITION rule but DIFFERENT arithmetic — Spark's Percentile
    evaluates lo + (hi - lo)·f, DuckDB's quantile_cont lo·(1-f) + hi·f,
    and on raw doubles the two roundings can disagree (a
    hypothesis find: two subnormal ties rounded the lerp's p=0.5
    boundary half-to-even to 0.0 while Spark's (hi-lo)·f term was
    exactly 0, flipping a bucket id). Boundaries therefore interpolate
    over EXACT INTEGER CENTS (exec_utils.cents — the money rule every
    other operator already applies): with integer lo/hi and dyadic
    f = k/8 both formulas produce the identical true rational, so the
    divergence is structurally impossible, not just unobserved.
    Boundary-TIED rows stay in the lower bucket by `c > b` being false
    on equality in both; NULL prices form their own bucket (NULL id)
    rather than polluting a value bucket, and percentile skips them in
    both engines; counts are exactly n/8 only when no boundary ties
    exist — ties keep their duplicates together, the honest equi-depth
    semantics. Cutting at cent resolution is the money domain's native
    grain (sub-cent distinctions between order totals do not exist
    upstream)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_totalprice", ex_cents("o_totalprice").alias("c")
    )
    # ONE array-percentile aggregate: all 7 octiles from a single sorted
    # pass (seven scalar F.percentile calls plan seven independent
    # sort-aggregates — 4.6x slower at sf0.1)
    qs = o.agg(
        F.percentile(
            "c",
            F.array([F.lit((i + 1) / 8.0) for i in range(7)]),
        ).alias("_bs")
    ).select(*[F.col("_bs")[i].alias(f"b{i + 1}") for i in range(7)])
    c = F.col("c")
    bucket = F.when(
        c.isNotNull(),
        sum(
            [(c > F.col(f"b{i + 1}")).cast("int") for i in range(7)],
            F.lit(1),
        ),
    )
    h = (
        o.crossJoin(F.broadcast(qs))
        .select(bucket.alias("bucket"), F.col("o_totalprice").alias("v"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (ex_cents(F.min("v")) / 100.0).alias("lo"),
            (ex_cents(F.max("v")) / 100.0).alias("hi"),
        )
    )
    total = F.sum("n").over(W.partitionBy())
    return h.select(
        "bucket",
        "n",
        "lo",
        "hi",
        F.round(F.col("n") / total.cast("double"), 4).alias("share"),
    ).orderBy("bucket")
