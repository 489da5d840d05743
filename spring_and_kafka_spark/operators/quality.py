"""Data-quality and data-mastering operators — the governance batch a
training-data warehouse runs before (and while) a corpus ships:
declarative expectation checks, Benford first-digit screening, robust
winsorized/trimmed aggregates, blocked entity resolution, and PII
scanning over fabricated contact blobs (the reference's "count, filter,
enrich or transform" event model, reference README.md:329, grown to the
audit surface of a curation pipeline).

Scale notes (100 TB): every operator here is either a single
map-side-combined aggregation (checks, Benford, PII) or a blocked
self-join whose block key bounds the pair blow-up (entity resolution:
pairs are generated per (nation, name-prefix) block, never all-pairs —
the same candidate-generation discipline as the MinHash-LSH dedup
family in llm/dedup.py). The winsorize pass is two shuffles: one
percentile aggregation producing one tiny row per group, broadcast back
over the fact scan.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from spring_and_kafka_spark.exec_utils import cents as ex_cents
from spring_and_kafka_spark.exec_utils import cents_sql
from spring_and_kafka_spark.registry import register
from spring_and_kafka_spark.sources.tables import load_table


@register(
    "q_dq_checks",
    oracle="""
    WITH raw AS (
      SELECT 'customer_acctbal_not_null' AS check_name,
             CAST(count(*) AS BIGINT) AS n_checked,
             CAST(count(*) - count(c_acctbal) AS BIGINT) AS n_violations
      FROM customer
      UNION ALL
      SELECT 'lineitem_discount_range', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem_fk_orders',
             CAST((SELECT count(*) FROM lineitem) AS BIGINT),
             CAST((SELECT count(*) FROM lineitem l
                   WHERE NOT EXISTS (SELECT 1 FROM orders o
                                     WHERE o.o_orderkey = l.l_orderkey))
                  AS BIGINT)
      UNION ALL
      SELECT 'orders_fk_customer',
             CAST((SELECT count(*) FROM orders) AS BIGINT),
             CAST((SELECT count(*) FROM orders o
                   WHERE NOT EXISTS (SELECT 1 FROM customer c
                                     WHERE c.c_custkey = o.o_custkey))
                  AS BIGINT)
      UNION ALL
      SELECT 'orders_pk_unique', CAST(count(*) AS BIGINT),
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'orders_totalprice_positive', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM orders
    )
    SELECT check_name, n_checked, n_violations,
           CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT)
             AS passed
    FROM raw
    """,
    tags=("governance",),
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation suite (Deequ/Great-Expectations shape):
    null checks, value-range checks, primary-key uniqueness, and
    referential-integrity orphan counts, one result row per check with
    a checked/violated count and a pass flag.

    Each check is an independent aggregate subplan unioned into one tiny
    result: the scalar checks are single map-side-combined passes over
    their table; the FK checks are left-anti joins (shuffle hash on the
    key — NOT broadcast, because at 100 TB the parent table is itself a
    fact table). Catalyst runs the six subplans as parallel stages; the
    union is six 1-row partitions."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def one(name: str, checked: DataFrame) -> DataFrame:
        return checked.select(
            F.lit(name).alias("check_name"), "n_checked", "n_violations"
        )

    nulls = one(
        "customer_acctbal_not_null",
        cust.agg(
            F.count("*").alias("n_checked"),
            (F.count("*") - F.count("c_acctbal")).alias("n_violations"),
        ),
    )
    disc = one(
        "lineitem_discount_range",
        li.agg(
            F.count("*").alias("n_checked"),
            F.sum(
                F.when(
                    (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
                ).otherwise(0)
            ).alias("n_violations"),
        ),
    )
    li_orphans = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count("*").alias("n_violations"))
        .crossJoin(li.agg(F.count("*").alias("n_checked")))
    )
    fk_li = one("lineitem_fk_orders", li_orphans)
    o_orphans = (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti")
        .agg(F.count("*").alias("n_violations"))
        .crossJoin(orders.agg(F.count("*").alias("n_checked")))
    )
    fk_o = one("orders_fk_customer", o_orphans)
    pk = one(
        "orders_pk_unique",
        orders.agg(
            F.count("*").alias("n_checked"),
            (F.count("*") - F.countDistinct("o_orderkey")).alias(
                "n_violations"
            ),
        ),
    )
    pos = one(
        "orders_totalprice_positive",
        orders.agg(
            F.count("*").alias("n_checked"),
            F.sum(
                F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)
            ).alias("n_violations"),
        ),
    )
    out = reduce(
        DataFrame.unionByName, [nulls, disc, fk_li, fk_o, pk, pos]
    )
    return out.select(
        "check_name",
        "n_checked",
        "n_violations",
        F.when(F.col("n_violations") == 0, 1)
        .otherwise(0)
        .cast("int")
        .alias("passed"),
    )


@register(
    "q_benford",
    oracle="""
    WITH d AS (
      SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                    1, 1) AS ds
      FROM orders WHERE o_totalprice >= 1
    ),
    counts AS (SELECT ds, count(*) AS n FROM d GROUP BY ds),
    tot AS (SELECT sum(n) AS n_tot FROM counts)
    SELECT CAST(ds AS INT) AS digit,
           CAST(n AS BIGINT) AS n,
           round(n * 1.0 / n_tot, 4) AS frac,
           round(log10(1.0 + 1.0 / CAST(ds AS DOUBLE)), 4) AS benford,
           round(abs(n * 1.0 / n_tot
                     - log10(1.0 + 1.0 / CAST(ds AS DOUBLE))), 4)
             AS abs_dev
    FROM counts CROSS JOIN tot
    """,
    tags=("governance",),
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit screen over order totals —
    the classic fraud / synthetic-data tell. One output row per digit
    with the observed fraction, the Benford expectation log10(1+1/d),
    and the absolute deviation.

    The first digit comes from the integer part formatted as a string
    (floor → BIGINT → VARCHAR → substr) — exact in both engines, unlike
    floor(x/10^floor(log10 x)) whose log10 can land one ulp below an
    integer and misclassify exact powers of ten. One map-side-combined
    groupBy on a 9-value key; the total joins back as a broadcast
    1-row aggregate."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        ).alias("ds")
    )
    counts = d.groupBy("ds").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("n_tot"))
    dig = F.col("ds").cast("int")
    frac_raw = F.col("n") * F.lit(1.0) / F.col("n_tot")
    benford_raw = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("ds").cast("double"))
    return counts.crossJoin(F.broadcast(tot)).select(
        dig.alias("digit"),
        F.col("n").cast("long").alias("n"),
        F.round(frac_raw, 4).alias("frac"),
        F.round(benford_raw, 4).alias("benford"),
        F.round(F.abs(frac_raw - benford_raw), 4).alias("abs_dev"),
    )


@register(
    "q_winsorize",
    oracle=f"""
    WITH s AS (
      SELECT c_mktsegment, c_acctbal,
             {cents_sql('c_acctbal')} AS bc
      FROM customer
    ),
    -- band edges by EXACT INTEGER RANK DECOMPOSITION: rank
    -- r = (n-1)*5/100 splits into integer
    -- part idx = (n-1)*5 // 100 and fractional NUMERATOR rem =
    -- (n-1)*5 - idx*100 (an integer in 0..99); the interpolant in
    -- percent-units is the exact integer x = lo*(100-rem) + hi*rem, so
    -- p05c = floor((x+50)/100.0) runs NO lossy float arithmetic at all
    -- (every quotient near an integer boundary is exactly
    -- representable), where quantile_cont/Percentile interpolate
    -- DOUBLES with engine-specific association (Spark lo + (hi-lo)*f
    -- vs DuckDB lo*(1-f) + hi*f) and could still flip a band edge by
    -- one cent on interpolants within 1 ulp of a half-cent
    r AS (
      SELECT c_mktsegment, bc,
             row_number() OVER (PARTITION BY c_mktsegment ORDER BY bc)
               AS rn,
             count(*) OVER (PARTITION BY c_mktsegment) AS cnt
      FROM s WHERE bc IS NOT NULL
    ),
    e AS (
      SELECT c_mktsegment,
             max(CASE WHEN rn = CAST(floor((cnt-1)*5/100.0) AS BIGINT)
                               + 1 THEN bc END) AS lo05,
             max(CASE WHEN rn = CAST(floor((cnt-1)*5/100.0) AS BIGINT)
                               + 2 THEN bc END) AS hi05,
             max((cnt-1)*5
                 - CAST(floor((cnt-1)*5/100.0) AS BIGINT) * 100)
               AS rem05,
             max(CASE WHEN rn = CAST(floor((cnt-1)*95/100.0) AS BIGINT)
                               + 1 THEN bc END) AS lo95,
             max(CASE WHEN rn = CAST(floor((cnt-1)*95/100.0) AS BIGINT)
                               + 2 THEN bc END) AS hi95,
             max((cnt-1)*95
                 - CAST(floor((cnt-1)*95/100.0) AS BIGINT) * 100)
               AS rem95
      FROM r GROUP BY c_mktsegment
    ),
    q AS (
      SELECT c_mktsegment,
             CAST(floor((lo05 * (100 - rem05)
                         + coalesce(hi05, lo05) * rem05 + 50) / 100.0)
                  AS BIGINT) AS p05c,
             CAST(floor((lo95 * (100 - rem95)
                         + coalesce(hi95, lo95) * rem95 + 50) / 100.0)
                  AS BIGINT) AS p95c
      FROM e
    )
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           any_value(q.p05c) / 100.0 AS p05,
           any_value(q.p95c) / 100.0 AS p95,
           -- means over exact integer cents: one IEEE division of
           -- exact BIGINTs then the cents floor — bit-identical, where
           -- round(avg(double), 2) was order-dependent AND diverged at
           -- manufactured half-cent boundaries
           CASE WHEN count(c.bc) > 0 THEN
             floor(CAST(sum(c.bc) AS DOUBLE) / count(c.bc) + 0.5) / 100.0
           END AS mean_raw,
           CASE WHEN count(c.bc) > 0 THEN
             floor(CAST(sum(CASE WHEN c.bc < q.p05c THEN q.p05c
                                 WHEN c.bc > q.p95c THEN q.p95c
                                 ELSE c.bc END) AS DOUBLE)
                   / count(c.bc) + 0.5) / 100.0
           END AS mean_winsor,
           CASE WHEN count(CASE WHEN c.bc BETWEEN q.p05c AND q.p95c
                                THEN 1 END) > 0 THEN
             floor(CAST(sum(CASE WHEN c.bc BETWEEN q.p05c AND q.p95c
                                 THEN c.bc END) AS DOUBLE)
                   / count(CASE WHEN c.bc BETWEEN q.p05c AND q.p95c
                                THEN 1 END) + 0.5) / 100.0
           END AS mean_trim,
           CAST(sum(CASE WHEN c.bc < q.p05c OR c.bc > q.p95c
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM s c LEFT JOIN q
      ON c.c_mktsegment IS NOT DISTINCT FROM q.c_mktsegment
    GROUP BY c.c_mktsegment
    """,
    tags=("governance",),
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group aggregates: winsorized mean (clamp to the
    [p05, p95] band) and trimmed mean (drop outside the band) of
    customer balances per market segment — the outlier-resistant
    pre-normalization step for any learned quality score.

    Two shuffles: a rank window producing one tiny band-edge row per
    segment, broadcast back over a second scan that clamps and
    re-aggregates. Band edges are computed by EXACT INTEGER RANK
    DECOMPOSITION over integer cents: the percentile rank (n-1)·5/100
    splits into an integer index and an integer fractional NUMERATOR
    rem ∈ 0..99, the lo/hi order statistics are picked by row_number,
    and the interpolant lo·(100−rem) + hi·rem is an exact BIGINT in
    percent-units — NO engine percentile function and no lossy float
    arithmetic anywhere (the only divisions are /100.0 of integers,
    whose floor is provably exact: a quotient at an integer boundary is
    exactly representable). Feeding cents to quantile_cont/
    Percentile would not do: their double interpolation (Spark lo + (hi−lo)·f vs
    DuckDB lo·(1−f) + hi·f) could disagree on interpolants within 1 ulp
    of a half-cent; this removes the hazard structurally, the way
    dyadic k/8 did for q_hist_equidepth. Clipping then compares integer
    cents against integer cents, the clamp/display value is the exact
    cent edge, and all three means are ONE IEEE division of exact
    BIGINT cent sums followed by the cents floor: fully order-free.
    The rank window sorts each segment once — the same per-group
    materialization Percentile's buffering already paid, now explicit
    and spillable; NULL market segments keep their own band via the
    null-safe broadcast join (registry NULL rule), and a segment whose
    balances are all NULL keeps its rows through the LEFT join with a
    NULL band, exactly as an inner join on a NULL percentile would."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_acctbal",
        ex_cents("c_acctbal").alias("bc"),
    )
    wp = Window.partitionBy("c_mktsegment")
    rk = cust.filter(F.col("bc").isNotNull()).select(
        "c_mktsegment",
        "bc",
        F.row_number().over(wp.orderBy("bc")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("cnt"),
    )

    def _edge_cols(pct: int) -> list:
        num = (F.col("cnt") - 1) * pct
        idx = F.floor(num / F.lit(100.0)).cast("long")
        return [
            F.max(F.when(F.col("rn") == idx + 1, F.col("bc"))).alias(
                f"lo{pct:02d}"
            ),
            F.max(F.when(F.col("rn") == idx + 2, F.col("bc"))).alias(
                f"hi{pct:02d}"
            ),
            F.max(num - idx * 100).alias(f"rem{pct:02d}"),
        ]

    def _interp(pct: int):
        lo, hi, rem = (
            F.col(f"lo{pct:02d}"),
            F.col(f"hi{pct:02d}"),
            F.col(f"rem{pct:02d}"),
        )
        x = lo * (100 - rem) + F.coalesce(hi, lo) * rem + 50
        return F.floor(x / F.lit(100.0)).cast("long").alias(f"p{pct:02d}c")

    q = (
        rk.groupBy("c_mktsegment")
        .agg(*_edge_cols(5), *_edge_cols(95))
        .select("c_mktsegment", _interp(5), _interp(95))
        .withColumnRenamed("c_mktsegment", "_seg")
    )
    j = cust.join(
        F.broadcast(q), cust.c_mktsegment.eqNullSafe(q["_seg"]), "left"
    ).drop("_seg")
    bc = F.col("bc")
    clamped_c = (
        F.when(bc < F.col("p05c"), F.col("p05c"))
        .when(bc > F.col("p95c"), F.col("p95c"))
        .otherwise(bc)
    )
    inside = bc.between(F.col("p05c"), F.col("p95c"))

    def cents_mean(sum_col, n_col):
        return F.when(
            n_col > 0,
            F.floor(sum_col.cast("double") / n_col + F.lit(0.5)) / 100.0,
        )

    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        (F.first("p05c") / 100.0).alias("p05"),
        (F.first("p95c") / 100.0).alias("p95"),
        cents_mean(F.sum(bc), F.count(bc)).alias("mean_raw"),
        cents_mean(F.sum(clamped_c), F.count(bc)).alias("mean_winsor"),
        cents_mean(
            F.sum(F.when(inside, bc)), F.count(F.when(inside, 1))
        ).alias("mean_trim"),
        # a NULL balance is MISSING, not clipped: when(inside,
        # 0).otherwise(1) would fall through NULL between() into the
        # otherwise branch and count it (NULLCHECK); the positive
        # test mirrors the oracle's CASE, whose NULL comparison lands
        # in ELSE 0
        F.sum(
            F.when((bc < F.col("p05c")) | (bc > F.col("p95c")), 1).otherwise(0)
        ).alias("n_clipped"),
    )


@register(
    "q_er_blocking",
    oracle="""
    WITH b AS (
      SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
             substr(c_name, 10, 8) AS blk
      FROM customer
    )
    SELECT a.c_custkey AS custkey_a, b2.c_custkey AS custkey_b,
           a.c_name AS name_a, b2.c_name AS name_b,
           CAST(a.c_nationkey AS INT) AS nationkey,
           CAST(levenshtein(a.c_name, b2.c_name) AS INT) AS dist,
           CAST(CASE WHEN a.c_mktsegment = b2.c_mktsegment
                     THEN 1 ELSE 0 END AS INT) AS same_segment
    FROM b a JOIN b b2
      ON a.blk = b2.blk AND a.c_nationkey = b2.c_nationkey
     AND a.c_custkey < b2.c_custkey
    WHERE levenshtein(a.c_name, b2.c_name) <= 1
    """,
    tags=("governance", "dedup"),
)
def q_er_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked entity resolution (record linkage) over customer records:
    candidate pairs are generated only within a (nation, name-prefix)
    block, then verified with edit distance ≤ 1 — the structured-record
    sibling of the MinHash-LSH candidate→verify discipline in
    llm/dedup.py.

    The block key is an equi-join column, so Spark plans an ordinary
    shuffle hash join whose pair blow-up is bounded by block size
    (≤10 consecutive key names × the nation fan-out), never all-pairs:
    at 100 TB the cost is one shuffle of the slim (key, name, block)
    projection. The levenshtein verify runs JVM-side (codegen built-in)
    on candidates only."""
    b = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.substring("c_name", 10, 8).alias("blk"),
    )
    a = b.alias("a")
    c = b.alias("c")
    pairs = a.join(
        c,
        (F.col("a.blk") == F.col("c.blk"))
        & (F.col("a.c_nationkey") == F.col("c.c_nationkey"))
        & (F.col("a.c_custkey") < F.col("c.c_custkey")),
    )
    dist = F.levenshtein(F.col("a.c_name"), F.col("c.c_name"))
    return pairs.filter(dist <= 1).select(
        F.col("a.c_custkey").alias("custkey_a"),
        F.col("c.c_custkey").alias("custkey_b"),
        F.col("a.c_name").alias("name_a"),
        F.col("c.c_name").alias("name_b"),
        F.col("a.c_nationkey").cast("int").alias("nationkey"),
        dist.cast("int").alias("dist"),
        F.when(F.col("a.c_mktsegment") == F.col("c.c_mktsegment"), 1)
        .otherwise(0)
        .cast("int")
        .alias("same_segment"),
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+1-555-[0-9]{4}"


@register(
    "q_pii_scan",
    oracle="""
    WITH contact AS (
      SELECT c_mktsegment,
             'record for ' || c_name ||
             CASE WHEN c_custkey % 3 = 0
                  THEN ' email user' || CAST(c_custkey AS VARCHAR) || '@'
                       || lower(c_mktsegment) || '.example.com'
                  ELSE '' END ||
             CASE WHEN c_custkey % 5 < 2
                  THEN ' phone +1-555-'
                       || substr(CAST(10000 + c_custkey % 10000 AS VARCHAR),
                                 2, 4)
                  ELSE '' END || ' end' AS blob
      FROM customer
    ),
    per_row AS (
      SELECT c_mktsegment,
             len(regexp_extract_all(blob,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
               AS n_email_row,
             len(regexp_extract_all(blob, '\\+1-555-[0-9]{4}'))
               AS n_phone_row
      FROM contact
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_records,
           CAST(sum(n_email_row) AS BIGINT) AS n_email,
           CAST(sum(n_phone_row) AS BIGINT) AS n_phone,
           CAST(sum(CASE WHEN n_email_row + n_phone_row > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           round(sum(CASE WHEN n_email_row + n_phone_row > 0
                          THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
             AS flagged_rate
    FROM per_row
    GROUP BY c_mktsegment
    """,
    tags=("governance", "text"),
)
def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scanning: regex-count emails and phone numbers per record and
    roll up hit counts and a flagged-record rate per segment — the scan
    a corpus runs before release (q_text_redact is the removal side;
    this is the audit side).

    The contact blob is fabricated deterministically from fixture
    columns (the q_fn_url precedent — the synthetic corpus has no real
    PII to find) with modular conditions so hit rates vary by row. Both
    regexes are ASCII-only and portable between Java regex (Spark
    codegen `regexp_count`) and RE2 (DuckDB). One projection + one
    map-side-combined groupBy — at 100 TB this is a pure scan pass."""
    cust = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    blob = F.concat(
        F.lit("record for "),
        F.col("c_name"),
        F.when(
            key % 3 == 0,
            F.concat(
                F.lit(" email user"),
                key.cast("string"),
                F.lit("@"),
                F.lower("c_mktsegment"),
                F.lit(".example.com"),
            ),
        ).otherwise(""),
        F.when(
            key % 5 < 2,
            F.concat(
                F.lit(" phone +1-555-"),
                F.substring((key % 10000 + 10000).cast("string"), 2, 4),
            ),
        ).otherwise(""),
        F.lit(" end"),
    )
    per_row = cust.select(
        "c_mktsegment",
        F.regexp_count(blob, F.lit(_EMAIL_RE)).alias("n_email_row"),
        F.regexp_count(blob, F.lit(_PHONE_RE)).alias("n_phone_row"),
    )
    flagged = F.when(
        F.col("n_email_row") + F.col("n_phone_row") > 0, 1
    ).otherwise(0)
    return per_row.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_records"),
        F.sum("n_email_row").cast("long").alias("n_email"),
        F.sum("n_phone_row").cast("long").alias("n_phone"),
        F.sum(flagged).alias("n_flagged"),
        F.round(F.sum(flagged) * F.lit(1.0) / F.count("*"), 4).alias(
            "flagged_rate"
        ),
    )


@register(
    "q_dq_freshness",
    oracle="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             count(*) AS n_rows,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             1.0 - count(value) * 1.0 / count(*) AS null_value_rate
      FROM events GROUP BY 1
    )
    SELECT day, CAST(n_rows AS BIGINT) AS n_rows, n_users,
           null_value_rate,
           n_rows * 1.0 / lag(n_rows) OVER (ORDER BY day NULLS FIRST)
             AS dod_ratio
    FROM d
    """,
    tags=("governance",),
)
def q_dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest freshness/completeness audit: per event day, row volume,
    distinct users, the null rate of the value column, and the
    day-over-day volume ratio — the partition-health dashboard a 100 TB
    ingest runs after every load (a dod_ratio collapsing toward 0 is a
    stuck upstream; a null-rate step is a schema drift; both fire
    before any downstream query sees the partition).

    freshness_readout over the events, the readout its streaming twin
    (streaming/freshness.py) runs over its partials: one
    map-side-combined groupBy on the day key (the natural ingest
    partition — at scale this aggregate reads per-partition footer
    stats, not the fact rows, if the table is date-partitioned), then a
    lag window over the day-count table, which is days-sized, not
    rows-sized: the window sort is O(days) on one reducer and that is
    the correct plan. events.ts is TIMESTAMP(NANOS) parquet — Spark
    reads NTZ, DuckDB naive timestamp; CAST→date agrees on both.

    The lag window pins NULLS FIRST explicitly in BOTH engines:
    engine defaults differ (Spark ASC = nulls first, DuckDB =
    nulls last), so a NULL ts day — absent in fixtures but legal —
    would silently shift every lag neighbor.

    Both rate columns are UNROUNDED by design: each is an order-matched
    chain of single IEEE ops on exact integer counts (divide, subtract)
    — bit-identical across engines — and daily row counts routinely
    divide 10^4/10^6 (a 500-row day puts every value exactly ON the
    rounding grid), so wrapping them in engine round() adds only the
    cross-build boundary divergence that once broke q_compaction_plan's
    oracle hash, never precision."""
    e = load_table(spark, sf_dir, "events")
    # each event goes to the readout as its own one-row partial:
    # freshness_fold's (day, user_id) pre-aggregation adds a hash pass
    # to the plan Spark already builds for the count-distinct, and
    # measured ~20% slower at sf0.1 (noop save, 4-vCPU VM)
    return freshness_readout(
        e.select(
            F.to_date("ts").alias("day"),
            "user_id",
            F.lit(1).alias("n_rows"),
            F.col("value").isNull().cast("long").alias("n_null_value"),
        )
    )


def freshness_fold(events: DataFrame) -> DataFrame:
    """(day, user_id, n_rows, n_null_value): q_dq_freshness's partial,
    one row per (day, user_id) with its row and NULL-value counts — the
    one table each micro-batch of its streaming twin
    (streaming/freshness.py) folds to. Row and NULL counts
    are counters keyed by a prefix of the presence key, so they ride on
    the presence rows; distinct users are not a counter and derive on
    read from the presence keys."""
    return events.groupBy(F.to_date("ts").alias("day"), "user_id").agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count("value")).alias("n_null_value"),
    )


def freshness_readout(day_users: DataFrame) -> DataFrame:
    """q_dq_freshness's answer from any union of freshness_fold
    partials: per day the summed counters and the count-distinct of the
    presence keys (which skips a NULL user_id, whose rows still count),
    then the derived columns, never merged — ratios don't merge, their
    numerators and denominators do. The null rate is the exact
    1.0 - count(value)/count(*) chain, count(value) = n_rows - n_null
    as exact integers (n_null/n_rows could differ in the last bit). A
    NULL day (NULL ts) is its own group."""
    d = day_users.groupBy("day").agg(
        F.sum("n_rows").alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("n_null_value").alias("n_null"),
    )
    w = Window.orderBy(F.col("day").asc_nulls_first())
    non_null = F.col("n_rows") - F.col("n_null")
    return d.select(
        "day",
        "n_rows",
        "n_users",
        (F.lit(1.0) - non_null * 1.0 / F.col("n_rows")).alias(
            "null_value_rate"
        ),
        (F.col("n_rows") * 1.0 / F.lag("n_rows").over(w)).alias("dod_ratio"),
    )


@register(
    "q_er_score",
    oracle=f"""
    WITH b AS (
      SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
             {cents_sql('c_acctbal')} AS bal_cents,
             substr(c_name, 10, 8) AS blk
      FROM customer
    ),
    cand AS (
      SELECT a.c_custkey AS custkey_a, b2.c_custkey AS custkey_b,
             CAST(levenshtein(a.c_name, b2.c_name) AS INT) AS lev,
             CAST(greatest(length(a.c_name), length(b2.c_name)) AS INT)
               AS maxlen,
             a.c_mktsegment IS NOT DISTINCT FROM b2.c_mktsegment
               AS same_segment,
             abs(a.bal_cents - b2.bal_cents) AS bal_diff_cents
      FROM b a JOIN b b2
        ON a.blk = b2.blk AND a.c_nationkey = b2.c_nationkey
       AND a.c_custkey < b2.c_custkey
      WHERE levenshtein(a.c_name, b2.c_name) <= 3
    )
    SELECT custkey_a, custkey_b, lev,
           CASE WHEN maxlen > 0
                THEN floor((maxlen - lev) * 1e6 / maxlen + 0.5) / 1e6
           END AS name_sim,
           same_segment, bal_diff_cents,
           CASE WHEN lev <= 1 AND same_segment
                     AND bal_diff_cents <= 50000 THEN 'strong'
                WHEN lev <= 2 AND (same_segment
                     OR bal_diff_cents <= 50000) THEN 'possible'
                ELSE 'weak' END AS tier
    FROM cand
    """,
    tags=("governance", "dedup"),
)
def q_er_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution match scoring — the stage after q_er_blocking:
    that operator finds near-exact name twins (edit distance ≤ 1); this
    one scores the WIDER candidate set (edit distance ≤ 3 within the
    same block) with the composite evidence an ER adjudicator uses —
    normalized name similarity, segment agreement, account-balance
    proximity — and classifies each pair into strong / possible / weak
    tiers. The tier table is what feeds a manual-review queue or a
    downstream clustering threshold.

    Cross-engine determinism: levenshtein agrees between the JVM and
    DuckDB (pinned since q_er_blocking); name_sim is the floor-form of
    the exact integer ratio (maxlen − lev)/maxlen; balance proximity
    compares exact integer cents; segment agreement is NULL-SAFE
    equality (IS NOT DISTINCT FROM / eqNullSafe — a NULL segment must
    read "unknown equals unknown", not poison the tier CASE) and the
    tier CASE therefore branches on non-NULL booleans except
    bal_diff_cents, whose NULL (missing balance) falls through a WHEN
    identically in both engines (NULL condition = not matched).

    Shape at 100 TB: candidate generation is the blocked self-join
    (block key + nation equi-join, never all-pairs — the q_er_blocking
    shape), with the ≤3 edit-distance band evaluated only inside
    blocks; scoring is a pure projection on the candidate rows. One
    shuffle on the block key; the customer scan prunes to the 5 needed
    columns."""
    b = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        ex_cents("c_acctbal").alias("bal_cents"),
        F.substring("c_name", 10, 8).alias("blk"),
    )
    a = b.alias("a")
    b2 = b.alias("b2")
    lev = F.levenshtein(F.col("a.c_name"), F.col("b2.c_name"))
    cand = (
        a.join(
            b2,
            (F.col("a.blk") == F.col("b2.blk"))
            & (F.col("a.c_nationkey") == F.col("b2.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b2.c_custkey")),
        )
        .filter(lev <= 3)
        .select(
            F.col("a.c_custkey").alias("custkey_a"),
            F.col("b2.c_custkey").alias("custkey_b"),
            lev.cast("int").alias("lev"),
            F.greatest(
                F.length("a.c_name"), F.length("b2.c_name")
            )
            .cast("int")
            .alias("maxlen"),
            F.col("a.c_mktsegment")
            .eqNullSafe(F.col("b2.c_mktsegment"))
            .alias("same_segment"),
            F.abs(F.col("a.bal_cents") - F.col("b2.bal_cents")).alias(
                "bal_diff_cents"
            ),
        )
    )
    return cand.select(
        "custkey_a",
        "custkey_b",
        "lev",
        F.when(
            F.col("maxlen") > 0,
            F.floor(
                (F.col("maxlen") - F.col("lev")) * 1e6 / F.col("maxlen")
                + F.lit(0.5)
            )
            / 1e6,
        ).alias("name_sim"),
        "same_segment",
        "bal_diff_cents",
        F.when(
            (F.col("lev") <= 1)
            & F.col("same_segment")
            & (F.col("bal_diff_cents") <= 50000),
            F.lit("strong"),
        )
        .when(
            (F.col("lev") <= 2)
            & (F.col("same_segment") | (F.col("bal_diff_cents") <= 50000)),
            F.lit("possible"),
        )
        .otherwise(F.lit("weak"))
        .alias("tier"),
    )
