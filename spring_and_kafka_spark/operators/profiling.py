"""Data-quality / governance profiling operators — the audit pass every
training-data warehouse runs before a corpus ships: column profiles,
key-skew diagnostics, k-anonymity checks, and experiment readouts
(the reference's "count, filter, enrich or transform" event model,
reference README.md:329, grown to the curation-governance surface).

All four reduce to one or two hash aggregations over the fact table —
the profile rows that come back are tiny (one per column / key / arm),
so at 100 TB each query is a single map-side-combined shuffle whose
reduce side holds group cardinality, never input rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from spring_and_kafka_spark.exec_utils import cents as ex_cents
from spring_and_kafka_spark.exec_utils import ratio6, ts_micros
from spring_and_kafka_spark.registry import register
from spring_and_kafka_spark.sources.tables import load_table


@register(
    "q_profile",
    oracle="""
    SELECT 'event_id' AS col_name, count(*) AS n_rows,
           count(*) - count(event_id) AS n_nulls,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
           CAST(min(event_id) AS DOUBLE) AS min_num,
           CAST(max(event_id) AS DOUBLE) AS max_num
    FROM events
    UNION ALL
    SELECT 'ts', count(*), count(*) - count(ts),
           CAST(count(DISTINCT ts) AS BIGINT),
           CAST(epoch_us(min(ts)) AS DOUBLE), CAST(epoch_us(max(ts)) AS DOUBLE)
    FROM events
    UNION ALL
    SELECT 'user_id', count(*), count(*) - count(user_id),
           CAST(count(DISTINCT user_id) AS BIGINT),
           CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE)
    FROM events
    UNION ALL
    SELECT 'event_type', count(*), count(*) - count(event_type),
           CAST(count(DISTINCT event_type) AS BIGINT), NULL, NULL
    FROM events
    UNION ALL
    SELECT 'value', count(*), count(*) - count(value),
           CAST(count(DISTINCT value) AS BIGINT),
           floor(min(value) * 1e6 + 0.5) / 1e6,
           floor(max(value) * 1e6 + 0.5) / 1e6
    FROM events
    UNION ALL
    SELECT 'props', count(*), count(*) - count(props),
           CAST(count(DISTINCT props) AS BIGINT), NULL, NULL
    FROM events
    """,
)
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profile of the events table: row count, null count,
    exact distinct count, numeric min/max (timestamps as epoch
    microseconds) — one output row per column, the schema-drift /
    data-quality readout a warehouse materializes per partition-day.

    One aggregation pass over the input: every per-column statistic is an
    expression in a single ``agg`` (Catalyst plans the multi-distinct via
    one Expand node), then the single result row is exploded into the
    per-column shape — no per-column rescans, unlike the naive UNION-ALL
    the DuckDB oracle runs. At 100 TB the exact count(DISTINCT) pass is
    the deliberate luxury here (the oracle must replay it bit-for-bit);
    the production knob is swapping approx_count_distinct into the same
    expression slot (the HLL path q_agg_hll_rollup already exercises)."""
    e = load_table(spark, sf_dir, "events")

    def stats(col: str, minmax: F.Column | None) -> F.Column:
        return F.struct(
            F.lit(col).alias("col_name"),
            F.count("*").alias("n_rows"),
            (F.count("*") - F.count(col)).alias("n_nulls"),
            F.countDistinct(col).alias("n_distinct"),
            (F.min(minmax) if minmax is not None else F.lit(None)).cast(
                "double"
            ).alias("min_num"),
            (F.max(minmax) if minmax is not None else F.lit(None)).cast(
                "double"
            ).alias("max_num"),
        )

    one = e.agg(
        stats("event_id", F.col("event_id")).alias("s1"),
        stats("ts", ts_micros("ts")).alias("s2"),
        stats("user_id", F.col("user_id")).alias("s3"),
        stats("event_type", None).alias("s4"),
        F.struct(
            F.lit("value").alias("col_name"),
            F.count("*").alias("n_rows"),
            (F.count("*") - F.count("value")).alias("n_nulls"),
            F.countDistinct("value").alias("n_distinct"),
            (F.floor(F.min("value") * 1e6 + 0.5) / 1e6).alias("min_num"),
            (F.floor(F.max("value") * 1e6 + 0.5) / 1e6).alias("max_num"),
        ).alias("s5"),
        stats("props", None).alias("s6"),
    )
    return one.select(
        F.explode(F.array("s1", "s2", "s3", "s4", "s5", "s6")).alias("p")
    ).select("p.*")


_KANON_K = 5


@register(
    "q_kanon",
    oracle=f"""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS acct_band,
             count(*) AS n
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT CAST({_KANON_K} AS BIGINT) AS k,
           count(*) AS n_groups,
           CAST(sum(CASE WHEN n < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_small_groups,
           CAST(sum(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk,
           round(sum(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END)
                 * 1.0 / sum(n), 6) AS frac_at_risk
    FROM g
    """,
)
def q_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (nation, market segment,
    account-balance band): how many identity groups have fewer than k=5
    members, and what fraction of rows sit in such re-identifiable
    groups — the privacy gate a person-derived training corpus must pass
    before release.

    Two chained aggregations, both map-side combinable: groupBy the
    quasi-identifier tuple (the only shuffle that sees data volume), then
    a global reduce over group sizes. Group cardinality, not row count,
    bounds the second stage — the 100 TB cost is one shuffle."""
    c = load_table(spark, sf_dir, "customer")
    g = (
        c.withColumn(
            "acct_band", F.floor(F.col("c_acctbal") / 1000).cast("long")
        )
        .groupBy("c_nationkey", "c_mktsegment", "acct_band")
        .agg(F.count("*").alias("n"))
    )
    small = F.col("n") < _KANON_K
    return g.agg(
        F.lit(_KANON_K).cast("long").alias("k"),
        F.count("*").alias("n_groups"),
        F.sum(small.cast("long")).alias("n_small_groups"),
        F.sum(F.when(small, F.col("n")).otherwise(0)).alias("n_rows_at_risk"),
        F.round(
            F.sum(F.when(small, F.col("n")).otherwise(0)) / F.sum("n"), 6
        ).alias("frac_at_risk"),
    )


@register(
    "q_heavy_hitters",
    oracle="""
    WITH k AS (
      SELECT l_partkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1
    ),
    r AS (
      SELECT key, cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, key) AS BIGINT)
               AS rnk,
             sum(cnt) OVER () AS total,
             sum(cnt) OVER (ORDER BY cnt DESC, key
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM k
    )
    SELECT rnk, key, CAST(cnt AS BIGINT) AS cnt,
           round(cnt * 1.0 / total, 6) AS share,
           round(cum * 1.0 / total, 6) AS cum_share
    FROM r WHERE rnk <= 20
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: the 20 heaviest l_partkey values with
    their absolute counts, share of all rows, and the cumulative share
    curve — the readout that decides whether a join needs the salted
    path (operators/skew.py) before it runs.

    groupBy(key) is the only shuffle that sees input rows; the windows
    (rank, running share) run over the key-cardinality aggregate, and the
    single-partition window is over key groups, not rows — at 100 TB with
    a few million distinct keys that is still one executor's work, and
    the exact answer is the point of a diagnostic. Ties break by key so
    the top-20 is deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    k = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count("*").alias("cnt")
    )
    order = W.orderBy(F.col("cnt").desc(), "key")
    r = k.select(
        F.row_number().over(order).alias("rnk"),
        "key",
        "cnt",
        F.sum("cnt").over(W.partitionBy()).alias("total"),
        F.sum("cnt").over(order.rowsBetween(W.unboundedPreceding, 0)).alias(
            "cum"
        ),
    )
    return r.filter(F.col("rnk") <= 20).select(
        "rnk",
        "key",
        "cnt",
        F.round(F.col("cnt") / F.col("total"), 6).alias("share"),
        F.round(F.col("cum") / F.col("total"), 6).alias("cum_share"),
    )


@register(
    "q_ab_test",
    oracle="""
    WITH u AS (
      SELECT user_id, user_id % 2 AS arm,
             CASE WHEN sum(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) >= 14
                  THEN 1 ELSE 0 END AS conv
      FROM events GROUP BY 1, 2
    ),
    a AS (
      SELECT arm, count(*) AS n, sum(conv) AS c FROM u GROUP BY 1
    ),
    wide AS (
      SELECT
        CAST(max(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n_a,
        CAST(max(CASE WHEN arm = 0 THEN c END) AS BIGINT) AS conv_a,
        CAST(max(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n_b,
        CAST(max(CASE WHEN arm = 1 THEN c END) AS BIGINT) AS conv_b
      FROM a
    )
    SELECT n_a, conv_a, n_b, conv_b,
           round(conv_b * 1.0 / n_b - conv_a * 1.0 / n_a, 6) AS lift,
           round((conv_b * 1.0 / n_b - conv_a * 1.0 / n_a)
                 / sqrt((conv_a + conv_b) * 1.0 / (n_a + n_b)
                        * (1 - (conv_a + conv_b) * 1.0 / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 4) AS z
    FROM wide
    """,
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion experiment readout: users split into arms by a
    deterministic key rule (user_id % 2 — production would hash with an
    experiment salt, cf. q_sample_hash's digest discipline), conversion =
    "14 or more purchase events" (every fixture user has ≥1 purchase, so
    a has-any metric would be degenerate at rate 1.0), output = per-arm
    counts, lift, and the pooled two-proportion z statistic.

    The event table reduces to per-user bits in one groupBy (map-side
    combined), then two tiny reduces; every z-statistic input is an exact
    integer, so both engines run the identical IEEE expression tree and
    the 4-decimal rounding is stable (the centroid lesson:
    never hash-compare an order-dependent float sum)."""
    e = load_table(spark, sf_dir, "events")
    u = (
        e.withColumn("arm", F.col("user_id") % 2)
        .groupBy("user_id", "arm")
        .agg(
            # count(when), not sum(cast): a user whose every event_type
            # is NULL sums to NULL (NULL conv poisons the arm totals the
            # oracle's CASE..ELSE 0 keeps at 0); count skips the NULLs
            # and answers 0 — identical whenever one type is non-NULL
            (
                F.count(F.when(F.col("event_type") == "purchase", 1)) >= 14
            ).cast("int").alias("conv")
        )
    )
    a = u.groupBy("arm").agg(
        F.count("*").alias("n"), F.sum("conv").alias("c")
    )
    wide = a.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 0, F.col("c"))).alias("conv_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 1, F.col("c"))).alias("conv_b"),
    )
    rate_a = F.col("conv_a") / F.col("n_a")
    rate_b = F.col("conv_b") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")) / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        pool * (F.lit(1) - pool) * (1 / F.col("n_a") + 1 / F.col("n_b"))
    )
    return wide.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(rate_b - rate_a, 6).alias("lift"),
        # NULL z when the pooled rate is 0 or 1 (se = 0: no conversions
        # at all, or nothing but conversions — the test is undefined;
        # ANSI Spark throws on /0 where DuckDB yields NULL)
        F.when(se != 0, F.round((rate_b - rate_a) / se, 4)).alias("z"),
    )


@register(
    "q_dist_shift",
    oracle="""
    WITH bounds AS (
      SELECT epoch_us(min(ts)) AS lo,
             (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid
      FROM events
    ),
    tagged AS (
      SELECT CASE WHEN epoch_us(ts) < mid THEN 'early' ELSE 'late' END
               AS period,
             event_type
      FROM events CROSS JOIN bounds
    ),
    -- count(*) over SELECT DISTINCT, not count(DISTINCT ...): a NULL
    -- event_type is a real category (both engines give it a group in c,
    -- and the Spark side counts groups), but count(DISTINCT) would skip
    -- it and shrink the Laplace denominator by one (NULLCHECK r9)
    k AS (SELECT count(*) AS n_types
          FROM (SELECT DISTINCT event_type FROM tagged)),
    c AS (
      SELECT event_type,
             sum(CASE WHEN period = 'early' THEN 1 ELSE 0 END) AS n_a,
             sum(CASE WHEN period = 'late' THEN 1 ELSE 0 END) AS n_b
      FROM tagged GROUP BY event_type
    ),
    tot AS (SELECT sum(n_a) AS na, sum(n_b) AS nb FROM c),
    p AS (
      SELECT event_type,
             (n_a + 1) * 1.0 / (na + n_types) AS pa,
             (n_b + 1) * 1.0 / (nb + n_types) AS pb
      FROM c CROSS JOIN tot CROSS JOIN k
    )
    SELECT event_type,
           round(pa, 6) AS p_early,
           round(pb, 6) AS p_late,
           round(pb * log2(pb / pa), 6) + 0.0 AS kl_term,
           round(0.5 * pa * log2(pa / ((pa + pb) / 2))
                 + 0.5 * pb * log2(pb / ((pa + pb) / 2)), 6) + 0.0
             AS js_term
    FROM p
    ORDER BY event_type
    """,
)
def q_dist_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: the event-type distribution of the
    stream's early half vs its late half (split at the midpoint of the
    observed time range), Laplace-smoothed, with each type's
    contribution to KL(late ‖ early) and to the Jensen-Shannon
    divergence — the per-ingest drift check a training-data pipeline
    alerts on before a shifted batch contaminates a corpus mix. Laplace
    (+1 over N+K) keeps the divergences finite when a type appears in
    only one period, which is exactly the interesting case.

    One scan with two tiny broadcast scalars (time bounds, type count),
    one group-cardinality aggregation, row-local log algebra. Sums of
    kl_term / js_term over the (tiny) result are the headline KL and
    JSD; per-type terms are emitted because the alert needs to say
    WHICH type drifted, not just that something did."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        ((ts_micros(F.min("ts")) + ts_micros(F.max("ts"))) / 2)
        .cast("long")
        .alias("mid")
    )
    tagged = e.crossJoin(F.broadcast(bounds)).select(
        F.when(ts_micros("ts") < F.col("mid"), F.lit("early"))
        .otherwise(F.lit("late"))
        .alias("period"),
        "event_type",
    )
    c = tagged.groupBy("event_type").agg(
        F.sum(F.when(F.col("period") == "early", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("period") == "late", 1).otherwise(0)).alias("n_b"),
    )
    tot = c.agg(
        F.sum("n_a").alias("na"),
        F.sum("n_b").alias("nb"),
        F.count("*").alias("n_types"),
    )
    p = c.crossJoin(F.broadcast(tot)).select(
        "event_type",
        ((F.col("n_a") + 1) * 1.0 / (F.col("na") + F.col("n_types"))).alias(
            "pa"
        ),
        ((F.col("n_b") + 1) * 1.0 / (F.col("nb") + F.col("n_types"))).alias(
            "pb"
        ),
    )
    m = (F.col("pa") + F.col("pb")) / 2
    return p.select(
        "event_type",
        F.round("pa", 6).alias("p_early"),
        F.round("pb", 6).alias("p_late"),
        # + 0.0 collapses IEEE -0.0 (session-wide convention)
        (F.round(F.col("pb") * F.log2(F.col("pb") / F.col("pa")), 6) + 0.0)
        .alias("kl_term"),
        (
            F.round(
                0.5 * F.col("pa") * F.log2(F.col("pa") / m)
                + 0.5 * F.col("pb") * F.log2(F.col("pb") / m),
                6,
            )
            + 0.0
        ).alias("js_term"),
    ).orderBy("event_type")


@register(
    "q_agg_gini",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT cents,
             CAST(row_number() OVER (ORDER BY cents, o_custkey) AS BIGINT)
               AS i
      FROM rev
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS tot,
             sum(CAST(i AS HUGEINT) * cents) AS wsum
      FROM ranked
    )
    SELECT n AS n_customers,
           tot / 100.0 AS total_revenue,
           CASE WHEN tot = 0 THEN NULL
                ELSE 2.0 * CAST(wsum AS DOUBLE) / (n * 1.0 * tot)
                     - (n + 1.0) / n END AS gini
    FROM s
    """,
)
def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across customers — the
    inequality gauge that pairs with q_skew_report: a Gini near 0 says
    revenue (like TPC-H's synthetic keys) is spread evenly and plain
    partitioning is safe; a high Gini at 100 TB says a handful of
    accounts dominate and the fact table needs the salt/cap treatment.

    Exactness: per-customer revenue in integer cents, rank from a
    deterministic (cents, custkey) order, and the weighted sum Σ(i·yᵢ)
    accumulated in DECIMAL(38)/HUGEINT — it grows as n²·avg_cents/2 and
    would cross int64 around 1.5M customers, so 128-bit accumulation is
    what keeps the claim exact at ANY scale (the scale-latent-overflow
    class an earlier review batch fixed elsewhere). Only the final
    normalized formula runs in doubles, converted from the identical
    exact integer in both engines. The global sort is over the
    CUSTOMER-level aggregate (group cardinality, not fact rows); at
    extreme customer counts the rank decomposes two-level per
    DESIGN.md #16."""
    o = load_table(spark, sf_dir, "orders")
    cents = ex_cents("o_totalprice")
    rev = o.groupBy("o_custkey").agg(F.sum(cents).alias("cents"))
    ranked = rev.select(
        "cents",
        F.row_number()
        .over(W.orderBy("cents", "o_custkey"))
        .cast("long")
        .alias("i"),
    )
    s = ranked.agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("tot"),
        F.sum(
            F.col("i").cast("decimal(38,0)") * F.col("cents")
        ).alias("wsum"),
    )
    return s.select(
        F.col("n").alias("n_customers"),
        # no round(): tot/100.0 is ONE IEEE division on an exact integer
        # (bit-identical across engines) whose true value sits exactly ON
        # the 2-dp boundary — wrapping it in engine round() adds only the
        # cross-build divergence that once broke q_compaction_plan's
        # oracle hash, never precision
        (F.col("tot") / 100.0).alias("total_revenue"),
        # unrounded: an order-matched chain of single IEEE ops on the
        # identical exact integers (n, tot, wsum) is bit-identical
        # across engines; engine round() would add only cross-build
        # boundary risk (registry.py conventions). NULL when total
        # revenue is 0 — concentration of nothing is undefined, and
        # ANSI mode would otherwise throw DIVIDE_BY_ZERO.
        F.when(
            F.col("tot") != 0,
            2.0 * F.col("wsum").cast("double")
            / (F.col("n") * 1.0 * F.col("tot"))
            - (F.col("n") + 1.0) / F.col("n"),
        ).alias("gini"),
    )


@register(
    "q_pareto_abc",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT o_custkey, cents,
             sum(cents) OVER (ORDER BY cents DESC, o_custkey) AS cum,
             sum(cents) OVER () AS tot
      FROM rev
    ),
    classed AS (
      SELECT CASE WHEN cum * 10 <= tot * 5 THEN 'A'
                  WHEN cum * 10 <= tot * 8 THEN 'B'
                  ELSE 'C' END AS abc_class,
             cents
      FROM ranked
    )
    SELECT abc_class,
           CAST(count(*) AS BIGINT) AS n_customers,
           sum(cents) / 100.0 AS revenue,
           CASE WHEN max(tot) = 0 THEN NULL
                ELSE sum(cents) * 1.0 / max(tot) END AS revenue_share
    FROM classed CROSS JOIN (SELECT sum(cents) AS tot FROM rev) t
    GROUP BY abc_class
    ORDER BY abc_class
    """,
)
def q_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of customers by revenue: class A =
    customers covering the first 50% of cumulative revenue (largest
    first), B = the next 30%, C = the tail — the segmentation that
    decides which accounts get dedicated treatment, and numerically the
    piecewise view of q_agg_gini's single number. Class boundaries are
    evaluated as integer cross-products (cum·10 ≤ tot·5) so no floating
    division ever decides a boundary row.

    The running sum is over the CUSTOMER-level aggregate (group
    cardinality, not fact rows), ordered deterministically by (revenue
    desc, custkey); at extreme customer counts the cumulative sum
    decomposes two-level per DESIGN.md #16."""
    o = load_table(spark, sf_dir, "orders")
    cents = ex_cents("o_totalprice")
    rev = o.groupBy("o_custkey").agg(F.sum(cents).alias("cents"))
    w = W.orderBy(F.col("cents").desc(), "o_custkey").rowsBetween(
        W.unboundedPreceding, 0
    )
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ranked = rev.select(
        "cents",
        F.sum("cents").over(w).alias("cum"),
        F.sum("cents").over(wall).alias("tot"),
    )
    classed = ranked.select(
        F.when(F.col("cum") * 10 <= F.col("tot") * 5, F.lit("A"))
        .when(F.col("cum") * 10 <= F.col("tot") * 8, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
        "cents",
        "tot",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count("*").alias("n_customers"),
            # unrounded by design: exact-cents / 100.0 is boundary-exact,
            # see q_agg_gini's total_revenue note
            (F.sum("cents") / 100.0).alias("revenue"),
            # unrounded: single IEEE division of exact integer sums —
            # bit-identical across engines (see gini's note above).
            # NULL when total revenue is 0: share is undefined and ANSI
            # mode would otherwise throw DIVIDE_BY_ZERO (hypothesis
            # found the all-zero-revenue corpus)
            F.when(
                F.max("tot") != 0,
                F.sum("cents") * 1.0 / F.max("tot"),
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


_LDIV_L = 3


@register(
    "q_ldiversity",
    oracle=f"""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS l_div
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    )
    SELECT CAST({_LDIV_L} AS BIGINT) AS l,
           count(*) AS n_groups,
           CAST(sum(CASE WHEN l_div < {_LDIV_L} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low_groups,
           CAST(sum(CASE WHEN l_div < {_LDIV_L} THEN n ELSE 0 END)
                AS BIGINT) AS n_rows_at_risk,
           round(sum(CASE WHEN l_div < {_LDIV_L} THEN n ELSE 0 END)
                 * 1.0 / sum(n), 6) AS frac_at_risk,
           CAST(min(l_div) AS BIGINT) AS min_l
    FROM g
    """,
    tags=("governance",),
)
def q_ldiversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the attribute-disclosure complement to
    q_kanon's k-anonymity: a quasi-identifier group can be large enough
    to pass k-anonymity yet reveal its sensitive attribute if every
    member SHARES it. Per (nation, market-segment) group over orders,
    count distinct order priorities (the sensitive attribute); groups
    with fewer than l={_LDIV_L} distinct values leak, and the audit
    reports how many groups and rows sit in that state plus the global
    minimum diversity.

    Shape at 100 TB: one shuffle joins orders to customer on the
    customer key (both sides scale — a plain equi-join, co-partitioned
    by Spark on the key); count(DISTINCT) over the grouped spine
    expands to the standard two-level aggregate with map-side partials;
    the final audit is a global reduce over group-cardinality rows.

    Cross-engine: count(DISTINCT x) skips NULLs in BOTH engines
    (registry NULL rule) — a group whose priorities are all NULL has
    l_div = 0 and counts as leaking, which is the right answer for an
    all-missing sensitive column."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("o_orderpriority").alias("l_div"),
        )
    )
    low = F.col("l_div") < _LDIV_L
    return g.agg(
        F.lit(_LDIV_L).cast("long").alias("l"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(low.cast("long")).alias("n_low_groups"),
        F.sum(F.when(low, F.col("n")).otherwise(0)).alias("n_rows_at_risk"),
        F.round(
            F.sum(F.when(low, F.col("n")).otherwise(0)) / F.sum("n"), 6
        ).alias("frac_at_risk"),
        F.min("l_div").alias("min_l"),
    )


_TCLOSE_T = 0.2  # TVD threshold: groups farther than this from the
# global sensitive-attribute distribution breach t-closeness


@register(
    "q_tcloseness",
    oracle=f"""
    WITH cell AS (
      SELECT c_nationkey, c_mktsegment, o_orderpriority,
             CAST(count(*) AS BIGINT) AS cnt
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2, 3
    ),
    w AS (
      SELECT c_nationkey, c_mktsegment, cnt,
             sum(cnt) OVER (PARTITION BY c_nationkey, c_mktsegment) AS ng,
             sum(cnt) OVER (PARTITION BY o_orderpriority) AS cs,
             sum(cnt) OVER () AS n
      FROM cell
    ),
    per_group AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(max(ng) AS BIGINT) AS ng,
             CAST(max(n) AS BIGINT) AS n,
             CAST(sum(abs(cnt * n - cs * ng)) AS BIGINT) AS sum_abs,
             CAST(sum(cs) AS BIGINT) AS covered
      FROM w GROUP BY 1, 2
    )
    SELECT c_nationkey, c_mktsegment, ng AS n,
           floor((sum_abs + ng * (n - covered))
                 * 1e6 / (2.0 * ng * n) + 0.5) / 1e6 AS tvd,
           (sum_abs + ng * (n - covered))
             > {_TCLOSE_T} * 2.0 * ng * n AS breach
    FROM per_group
    """,
    tags=("governance",),
)
def q_tcloseness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third leg of the privacy triple after
    q_kanon (group too small) and q_ldiversity (group too uniform): a
    quasi-identifier group breaches even WITH diverse values when its
    sensitive-attribute DISTRIBUTION sits far from the global one
    (skewness attack: "people in this group are 5× likelier to be
    URGENT"). Per (nation, market-segment) group over orders, the
    total-variation distance between the group's order-priority
    distribution and the corpus-wide one, flagged against
    t={_TCLOSE_T}.

    Exactness: TVD = ½·Σ_s |P(s)−Q(s)| is rescaled onto the common
    integer denominator n_g·n — each term becomes the exact BIGINT
    |cnt_gs·n − cnt_s·n_g|, so the per-group SUM is order-free integer
    arithmetic (a float Σ over categories would add in engine-specific
    order); categories absent from a group contribute cnt_s·n_g, folded
    in closed form as n_g·(n − covered). The single division happens
    once at the end, scores round via floor(x·1e6+0.5)/1e6, and the
    breach flag compares INTEGERS (scaled threshold, one IEEE multiply)
    — never the rounded float. Overflow: cnt·n < n² must stay under
    2^63, true through ~3·10⁹ rows; beyond that, pre-divide the global
    counts by a fixed power of ten (documented rescale, same flag
    semantics to 1e-6).

    Shape at 100 TB: ONE shuffle of the join output to (nation,
    segment, priority) cells — the only fact-sized movement — then the
    group size, category marginal, and grand total ride as three
    window sums over that single tiny pass (cell is bounded by
    |QI groups|×|categories|), so cell has exactly ONE consumer and
    the fact join is planned once. The join-back formulation
    re-planned the fact join per re-aggregating branch (20 parquet
    scans in the static plan, caught by the plan audit); the
    window formulation is one scan, one fact shuffle, and window
    shuffles of a few hundred rows. NULL priorities form their own
    category in BOTH engines (groupBy keeps NULL groups; window
    PARTITION BY groups NULL keys together, which is the null-safe
    rejoin the join form would have needed eqNullSafe for), so an
    all-missing sensitive column audits as distance-0 against itself
    rather than vanishing."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    cell = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # group size, category marginal, and grand total as WINDOW sums over
    # the one cell pass — cell has exactly one consumer, so Spark plans
    # the fact join ONCE (the join-back formulation re-planned it per
    # branch: 20 parquet scans in the static plan, caught by the
    # plan audit). The windows shuffle only the tiny cell table; window
    # PARTITION BY groups NULL keys together in both engines, which is
    # precisely the null-safe rejoin the join form needed eqNullSafe for
    w = cell.select(
        "c_nationkey",
        "c_mktsegment",
        "cnt",
        F.sum("cnt")
        .over(W.partitionBy("c_nationkey", "c_mktsegment"))
        .alias("ng"),
        F.sum("cnt").over(W.partitionBy("o_orderpriority")).alias("cs"),
        F.sum("cnt").over(W.partitionBy()).alias("n"),
    )
    per_group = w.groupBy("c_nationkey", "c_mktsegment").agg(
        F.max("ng").cast("long").alias("ng"),
        F.max("n").cast("long").alias("n"),
        F.sum(F.abs(F.col("cnt") * F.col("n") - F.col("cs") * F.col("ng")))
        .cast("long")
        .alias("sum_abs"),
        F.sum("cs").cast("long").alias("covered"),
    )
    scaled = F.col("sum_abs") + F.col("ng") * (F.col("n") - F.col("covered"))
    return per_group.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("ng").alias("n"),
        ratio6(scaled, 2.0 * F.col("ng") * F.col("n")).alias("tvd"),
        (scaled > F.lit(_TCLOSE_T) * 2.0 * F.col("ng") * F.col("n")).alias(
            "breach"
        ),
    )
