"""Joins (SURVEY.md §2.3).

Reference anchor: Spring XD "enrich" (reference README.md:329) — enrichment
in a message pipeline is a stream-table join; here it is the full join
matrix on DataFrames. Scale notes per operator:

- equi joins shuffle both sides on the key → sort-merge / shuffled-hash
  chosen by Catalyst + AQE (skew-join splitting handles hot keys)
- dimension tables (region/nation/part/supplier) are broadcast explicitly —
  at 100 TB the fact side never shuffles for these
- theta/range joins use BroadcastNestedLoopJoin and are only sane when one
  side is small; the range join here reduces via aggregation immediately
- the as-of join avoids the classic join+filter blow-up entirely: a single
  union + window pass (one shuffle on the key, state O(1) per row)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from spring_and_kafka_spark.registry import register
from spring_and_kafka_spark.sources.tables import load_table


@register(
    "q_join_inner",
    oracle="""
    SELECT o_orderkey, c_name, round(o_totalprice, 2) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice > 4000
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join orders⋈customer; Catalyst picks the physical join
    (broadcast here since customer is small; sort-merge on a cluster when
    both sides are large)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 4000)
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "c_name", F.round("o_totalprice", 2).alias("total")
    )


@register(
    "q_join_broadcast",
    oracle="""
    SELECT l_orderkey, l_linenumber, p_brand, p_type
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size > 40
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast-hash join: the part dimension ships to every
    executor; the 100 TB lineitem side streams through with NO shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") > 40)
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_orderkey", "l_linenumber", "p_brand", "p_type"
    )


@register(
    "q_join_left",
    oracle="""
    SELECT c_custkey, o_orderkey, round(o_totalprice, 2) AS total
    FROM customer
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 4500) o
      ON c_custkey = o_custkey
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join — customers preserved with nulls when no big order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 4500)
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("total")
    )


@register(
    "q_join_right",
    oracle="""
    SELECT c_custkey, o_orderkey, round(o_totalprice, 2) AS total
    FROM (SELECT * FROM orders WHERE o_totalprice > 4500) o
    RIGHT JOIN customer ON c_custkey = o_custkey
    """,
)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join — the mirror of q_join_left (customers preserved
    from the right side)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 4500)
    return o.join(c, o.o_custkey == c.c_custkey, "right").select(
        "c_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("total")
    )


@register(
    "q_join_full",
    oracle="""
    SELECT f.k AS f_key, p.k AS p_key
    FROM (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'F') f
    FULL JOIN (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'P') p
      ON f.k = p.k
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join between two derived key sets."""
    o = load_table(spark, sf_dir, "orders")
    f = (
        o.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    p = (
        o.filter(F.col("o_orderstatus") == "P")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    return f.join(p, f.k == p.k, "full").select(
        f.k.alias("f_key"), p.k.alias("p_key")
    )


@register(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 4500)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): emits each customer at most once; only the
    key column of the right side crosses the shuffle."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 4500)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 4500)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 4500)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "q_join_cross",
    oracle="""
    SELECT a.r_name AS from_region, b.r_name AS to_region
    FROM region a CROSS JOIN region b
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product (tiny×tiny only — a cross join of two
    large inputs is never the right plan; use a key or a broadcast)."""
    r = load_table(spark, sf_dir, "region")
    a = r.alias("a")
    b = r.alias("b")
    return a.crossJoin(b).select(
        F.col("a.r_name").alias("from_region"),
        F.col("b.r_name").alias("to_region"),
    )


@register(
    "q_join_theta",
    oracle="""
    SELECT a.s_suppkey AS s1, b.s_suppkey AS s2,
           round(a.s_acctbal - b.s_acctbal, 2) AS bal_gap
    FROM supplier a JOIN supplier b
      ON a.s_suppkey < b.s_suppkey AND a.s_acctbal > b.s_acctbal + 4000
    """,
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta) join → BroadcastNestedLoopJoin. Deliberately on the
    tiny supplier dim; at scale a theta join needs one broadcastable side."""
    s = load_table(spark, sf_dir, "supplier")
    a = s.alias("a")
    b = s.alias("b")
    cond = (F.col("a.s_suppkey") < F.col("b.s_suppkey")) & (
        F.col("a.s_acctbal") > F.col("b.s_acctbal") + 4000
    )
    return a.join(b, cond).select(
        F.col("a.s_suppkey").alias("s1"),
        F.col("b.s_suppkey").alias("s2"),
        F.round(F.col("a.s_acctbal") - F.col("b.s_acctbal"), 2).alias("bal_gap"),
    )


@register(
    "q_join_range",
    oracle="""
    WITH iv AS (
      SELECT r_regionkey AS bucket,
             TIMESTAMP '2024-01-01 00:00:00' + r_regionkey * INTERVAL 6 DAY AS lo,
             TIMESTAMP '2024-01-01 00:00:00' + (r_regionkey + 1) * INTERVAL 6 DAY AS hi
      FROM region
    )
    SELECT bucket, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events JOIN iv ON ts >= lo AND ts < hi
    GROUP BY bucket
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join: events against a small derived interval table
    (broadcast), aggregated immediately so the nested-loop output never
    materializes wide."""
    e = load_table(spark, sf_dir, "events")
    r = load_table(spark, sf_dir, "region")
    iv = r.select(
        F.col("r_regionkey").alias("bucket"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.expr("make_interval(0, 0, 0, r_regionkey * 6, 0, 0, 0)")
        ).alias("lo"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.expr("make_interval(0, 0, 0, (r_regionkey + 1) * 6, 0, 0, 0)")
        ).alias("hi"),
    )
    return (
        e.join(F.broadcast(iv), (e.ts >= iv.lo) & (e.ts < iv.hi))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@register(
    "q_join_multi",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q_join_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 5-table star join: one fact shuffle for
    lineitem⋈orders; customer/nation/region broadcast down the chain so the
    region filter prunes before the fact join."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_in_region = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust_in_region), o.o_custkey == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
) -> DataFrame:
    """Scalable as-of join: for each left row, the latest right row with
    right_ts <= left_ts on the same key.

    Instead of join-then-rank (which materializes every (left, right-earlier)
    pair — quadratic on hot keys), union both sides and run ONE window pass:
    sort by (ts, side) within key, carry right values forward with
    last(ignorenulls). One shuffle, O(1) state per row — survives 100 TB.
    Right rows sort before left rows at equal ts → inclusive (>=) semantics,
    matching DuckDB ASOF JOIN.
    """
    lcols = [c for c in left.columns]
    l = left.select(
        F.col(on).alias("__key"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.col(c).alias(f"__l_{c}") for c in lcols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in right_cols],
    )
    r = right.select(
        F.col(on).alias("__key"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}") for c in lcols],
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
    )
    # Collapse the right side to ONE row per (key, ts) before the union:
    # the per-column last(ignorenulls) fills are otherwise free to draw
    # different duplicate rows for different columns, and which duplicate
    # wins would vary run-to-run. Ordering by the value columns themselves
    # keeps the survivor deterministic for any input.
    dedup_w = W.partitionBy("__key", "__ts").orderBy(
        *[F.col(f"__r_{c}").desc_nulls_last() for c in right_cols]
    )
    r = (
        r.withColumn("__rn", F.row_number().over(dedup_w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    u = l.unionByName(r)
    w = (
        W.partitionBy("__key")
        .orderBy("__ts", "__side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # Carry the right ROW as one struct, not per-column values: the
    # struct is non-null exactly when a right row exists, so a right row
    # whose VALUE column is NULL still wins as the latest match (a
    # per-column last(ignorenulls) would skip it and resurrect an older
    # row — a NULLCHECK finding). ignorenulls then only skips
    # left-side rows, which is the intent.
    row_struct = F.when(
        F.col("__side") == 0,
        F.struct(*[F.col(f"__r_{c}") for c in right_cols]),
    )
    filled = u.select(
        "*",
        F.last(row_struct, ignorenulls=True).over(w).alias("__f"),
    )
    return filled.filter(F.col("__side") == 1).select(
        *[F.col(f"__l_{c}").alias(c) for c in lcols],
        *[F.col(f"__f.__r_{c}").alias(c) for c in right_cols],
    )


@register(
    "q_join_asof",
    oracle="""
    SELECT p.event_id, p.user_id, c.ts AS click_ts, c.value AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (
      -- one click per (user, ts): DuckDB's ASOF picks an unspecified row
      -- among ties, so pin the same max-value survivor asof_join keeps
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY value DESC) AS rn
        FROM events WHERE event_type = 'click'
      ) WHERE rn = 1
    ) c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase paired with the user's latest prior click
    (oracled against DuckDB's native ASOF LEFT JOIN; the oracle pre-picks
    the max-value click per (user, ts) to mirror asof_join's deterministic
    duplicate-timestamp rule — native ASOF leaves ties unspecified)."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", "ts", F.col("ts").alias("click_ts"), F.col("value").alias("click_value"))
    )
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["click_ts", "click_value"],
    )
    return joined.select("event_id", "user_id", "click_ts", "click_value")


_BLOOM_M = 32768  # bits (2^15)
_BLOOM_K = 3  # hash functions


@register(
    "q_join_bloom",
    oracle=f"""
    WITH build AS (
      SELECT o_orderkey AS key FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ),
    bloom_bits AS (
      SELECT DISTINCT bit FROM build, (VALUES (0), (1), (2)) AS h(j),
      LATERAL (SELECT CAST('0x' || substr(
                 md5(CAST(key AS VARCHAR) || '#' || j), 1, 8)
               AS BIGINT) % {_BLOOM_M} AS bit)
    ),
    probe_keys AS (
      SELECT l_orderkey AS key, count(*) AS n_rows
      FROM lineitem GROUP BY 1
    ),
    probe_bits AS (
      SELECT key, j, CAST('0x' || substr(
               md5(CAST(key AS VARCHAR) || '#' || j), 1, 8)
             AS BIGINT) % {_BLOOM_M} AS bit
      FROM probe_keys, (VALUES (0), (1), (2)) AS h(j)
    ),
    hits AS (
      SELECT pb.key, count(*) AS n_hit
      FROM probe_bits pb JOIN bloom_bits bb USING (bit)
      GROUP BY 1
    ),
    flagged AS (
      SELECT pk.key, pk.n_rows,
             coalesce(h.n_hit, 0) = {_BLOOM_K} AS cand,
             EXISTS (SELECT 1 FROM build b WHERE b.key = pk.key) AS act
      FROM probe_keys pk LEFT JOIN hits h USING (key)
    )
    SELECT CAST(sum(n_rows) AS BIGINT) AS n_probe_rows,
           CAST(sum(CASE WHEN cand THEN n_rows ELSE 0 END) AS BIGINT)
             AS n_candidate_rows,
           CAST(sum(CASE WHEN act THEN n_rows ELSE 0 END) AS BIGINT)
             AS n_actual_rows,
           CAST(sum(CASE WHEN cand AND NOT act THEN n_rows ELSE 0 END)
                AS BIGINT) AS n_false_pos_rows,
           round(sum(CASE WHEN cand AND NOT act THEN n_rows ELSE 0 END)
                 * 1.0
                 / sum(CASE WHEN NOT act THEN n_rows ELSE 0 END), 6)
             AS fp_row_rate
    FROM flagged
    """,
)
def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pre-filter, made explicit and verifiable: build
    a 3-hash / 32768-bit bloom over the selective build side
    (urgent orders), probe every lineitem order key, and account exactly
    for what the filter admits — probe rows, candidate rows, true rows,
    false positives, and the false-positive row rate. Spark injects this
    pattern automatically (spark.sql.optimizer.runtime.bloomFilter.*);
    this operator pins the mechanics with a deterministic md5-derived
    bit schedule so BOTH engines build bit-identical filters and even
    the false positives hash-match.

    The 100 TB shape this stands for: the bit set (≤ m booleans) is
    broadcast-sized no matter how large the build side grows, and the
    probe side tests membership BEFORE its wide shuffle — candidate
    rows, not all rows, pay the join exchange. Here the probe reduces
    to per-key counts first (one map-side-combined groupBy), so the
    bloom probes key cardinality, not row count."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    build = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("key")
    )

    def bits_of(df: DataFrame) -> DataFrame:
        cols = [
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "#", F.col("key").cast("string"), F.lit(j)
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % _BLOOM_M
            ).alias(f"b{j}")
            for j in range(_BLOOM_K)
        ]
        return df.select("key", *cols)

    bloom_bits = (
        bits_of(build)
        .select(
            F.explode(
                F.array(*[f"b{j}" for j in range(_BLOOM_K)])
            ).alias("bit")
        )
        .distinct()
    )
    probe_keys = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count("*").alias("n_rows")
    )
    probe_bits = bits_of(probe_keys).select(
        "key",
        F.explode(
            F.array(*[f"b{j}" for j in range(_BLOOM_K)])
        ).alias("bit"),
    )
    hits = (
        probe_bits.join(F.broadcast(bloom_bits), "bit")
        .groupBy("key")
        .agg(F.count("*").alias("n_hit"))
    )
    # hits and build grow with the build side — only bloom_bits (≤ m
    # rows) is force-broadcast; these key-cardinality joins are left to
    # Catalyst/AQE, which broadcasts them at fixture scale and shuffles
    # them when the build side outgrows the threshold
    flagged = (
        probe_keys.join(hits, "key", "left")
        .join(build.withColumn("act", F.lit(True)), "key", "left")
        .select(
            "n_rows",
            (F.coalesce("n_hit", F.lit(0)) == _BLOOM_K).alias("cand"),
            F.coalesce("act", F.lit(False)).alias("act"),
        )
    )
    n = lambda c: F.sum(F.when(c, F.col("n_rows")).otherwise(0))  # noqa: E731
    return flagged.agg(
        F.sum("n_rows").alias("n_probe_rows"),
        n(F.col("cand")).alias("n_candidate_rows"),
        n(F.col("act")).alias("n_actual_rows"),
        n(F.col("cand") & ~F.col("act")).alias("n_false_pos_rows"),
        # NULL FPR when there are no true negatives to false-positive on
        # (probe ⊆ build): ANSI Spark throws on /0 where DuckDB NULLs
        F.when(
            n(~F.col("act")) != 0,
            F.round(n(F.col("cand") & ~F.col("act")) / n(~F.col("act")), 6),
        ).alias("fp_row_rate"),
    )
