"""Projections, filters, predicates (SURVEY.md §2.2) and sorts/limits/set
ops (§2.6).

Reference anchor: the Spring XD processing model — "count, filter, enrich
or transform" (reference README.md:329). The reference implements none of
these relationally; here they are declarative DataFrame ops so Catalyst
pushes filters/projections into the Parquet scan (PushedFilters/ReadSchema
visible in .explain("formatted")) — at 100 TB the scan reads only the
needed columns/row groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from spring_and_kafka_spark.exec_utils import cents
from spring_and_kafka_spark.registry import register
from spring_and_kafka_spark.sources.tables import load_table


@register(
    "q_scan",
    oracle="SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part",
)
def q_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table Parquet scan with explicit projection (column pruning)."""
    return load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"
    )


@register(
    "q_project",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100 AS net_price,
           floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) / 100 AS charged
    FROM lineitem
    """,
)
def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection with computed columns + aliases; only 5 of 11 lineitem
    columns survive to the scan (ReadSchema pruning).

    Cent rounding is floor(x*100+0.5)/100 rather than round(x,2): Spark's
    round() interprets the double's decimal rendering (HALF_UP) while
    DuckDB rounds the binary value — the floor form is pure IEEE arithmetic,
    bit-identical across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (cents(net) / 100).alias("net_price"),
        (cents(net * (1 + F.col("l_tax"))) / 100).alias("charged"),
    )


@register(
    "q_filter_cmp",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_quantity > 45 AND l_discount <= 0.08
    """,
)
def q_filter_cmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comparison predicates — pushed to the Parquet reader as row-group
    min/max pruning at scale."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") > 45) & (F.col("l_discount") <= 0.08)).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@register(
    "q_filter_bool",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus
    FROM lineitem
    WHERE (l_returnflag = 'A' AND l_discount > 0.05)
       OR (NOT (l_linestatus = 'F') AND l_tax < 0.02)
    """,
)
def q_filter_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND / OR / NOT composition."""
    li = load_table(spark, sf_dir, "lineitem")
    pred = ((F.col("l_returnflag") == "A") & (F.col("l_discount") > 0.05)) | (
        ~(F.col("l_linestatus") == "F") & (F.col("l_tax") < 0.02)
    )
    return li.filter(pred).select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"
    )


@register(
    "q_filter_in",
    oracle="""
    SELECT o_orderkey, o_orderpriority FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_orderstatus NOT IN ('P')
    """,
)
def q_filter_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list / NOT IN membership predicates."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & ~F.col("o_orderstatus").isin("P")
    ).select("o_orderkey", "o_orderpriority")


@register(
    "q_filter_between",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS total
    FROM orders WHERE o_totalprice BETWEEN 1000 AND 2000
    """,
)
def q_filter_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range predicate (BETWEEN is inclusive on both ends)."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_totalprice").between(1000, 2000)).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("total")
    )


@register(
    "q_filter_like",
    oracle=r"""
    SELECT p_partkey, p_name, p_type FROM part
    WHERE p_name LIKE '%gear%' OR p_type LIKE 'ECO%'
    """,
)
def q_filter_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE patterns (prefix pattern still prunes via dictionary filters)."""
    p = load_table(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").like("%gear%") | F.col("p_type").like("ECO%")
    ).select("p_partkey", "p_name", "p_type")


@register(
    "q_filter_null",
    oracle="""
    WITH t AS (
      SELECT o_orderkey, nullif(o_orderstatus, 'P') AS st FROM orders
    )
    SELECT o_orderkey, st, (st IS NOT DISTINCT FROM 'F') AS is_f
    FROM t WHERE st IS NULL OR st = 'F'
    """,
)
def q_filter_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS [NOT] NULL + null-safe equality (eqNullSafe ≡ IS NOT DISTINCT FROM).

    Fixtures are null-free, so nulls are manufactured with nullif."""
    o = load_table(spark, sf_dir, "orders")
    t = o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "P", None)
        .otherwise(F.col("o_orderstatus"))
        .alias("st"),
    )
    return t.filter(F.col("st").isNull() | (F.col("st") == "F")).select(
        "o_orderkey", "st", F.col("st").eqNullSafe("F").alias("is_f")
    )


@register(
    "q_case_when",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 3000 THEN 'big'
                WHEN o_totalprice > 1500 THEN 'mid'
                ELSE 'small' END AS bucket
    FROM orders
    """,
)
def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional projection (when/otherwise chain)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 3000, "big")
        .when(F.col("o_totalprice") > 1500, "mid")
        .otherwise("small")
        .alias("bucket"),
    )


@register(
    "q_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate elimination — partial hash-aggregate before the shuffle, so
    at 100 TB only distinct keys cross the wire."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus"
    ).distinct()


# ---------------------------------------------------------------- §2.6 sorts / limits / set ops


@register(
    "q_sort",
    oracle="""
    WITH t AS (
      SELECT s_suppkey, round(s_acctbal, 2) AS bal,
             CASE WHEN s_suppkey % 7 = 0 THEN NULL
                  ELSE round(s_acctbal, 2) END AS bal_null
      FROM supplier
    )
    SELECT s_suppkey, bal, bal_null,
           CAST(row_number() OVER (ORDER BY bal DESC, s_suppkey) AS BIGINT) AS pos,
           CAST(row_number() OVER (ORDER BY bal_null DESC NULLS LAST, s_suppkey)
                AS BIGINT) AS pos_nulls_last
    FROM t
    """,
)
def q_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort incl. explicit null ordering. The oracle hash is
    order-insensitive, so sorts are witnessed by explicit rank columns
    (unique tie-break key). Null placement is ALWAYS explicit — Spark
    defaults nulls-first ascending, DuckDB nulls-last; relying on either
    default diverges."""
    s = load_table(spark, sf_dir, "supplier")
    bal = F.round("s_acctbal", 2)
    t = s.select(
        "s_suppkey",
        bal.alias("bal"),
        F.when(F.col("s_suppkey") % 7 == 0, None).otherwise(bal).alias("bal_null"),
    )
    w = W.orderBy(F.col("bal").desc(), F.col("s_suppkey"))
    wn = W.orderBy(F.col("bal_null").desc_nulls_last(), F.col("s_suppkey"))
    return t.select(
        "s_suppkey",
        "bal",
        "bal_null",
        F.row_number().over(w).cast("long").alias("pos"),
        F.row_number().over(wn).cast("long").alias("pos_nulls_last"),
    )


@register(
    "q_limit",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS total
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: Spark plans TakeOrderedAndProject (per-partition heap + merge),
    no global sort — the right plan at any scale."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
    )


@register(
    "q_union",
    oracle="""
    SELECT o_custkey AS k, 'o' AS src FROM orders WHERE o_totalprice > 4500
    UNION ALL
    SELECT c_custkey AS k, 'c' AS src FROM customer WHERE c_acctbal > 9000
    """,
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL via unionByName (no shuffle — pure concatenation)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    left = o.filter(F.col("o_totalprice") > 4500).select(
        F.col("o_custkey").alias("k"), F.lit("o").alias("src")
    )
    right = c.filter(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").alias("k"), F.lit("c").alias("src")
    )
    return left.unionByName(right)


@register(
    "q_intersect",
    oracle="""
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
    """,
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics) — customers with both F and O orders."""
    o = load_table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k"))
    op = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k"))
    return f.intersect(op)


@register(
    "q_except",
    oracle="""
    SELECT c_custkey AS k FROM customer
    EXCEPT
    SELECT o_custkey AS k FROM orders
    """,
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — customers who never ordered."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    return c.subtract(o)


@register(
    "q_generate",
    oracle="""
    SELECT CAST(i AS BIGINT) AS seq, '#' || CAST(i AS VARCHAR) AS msg
    FROM range(1000) t(i)
    """,
)
def q_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's demo source: 1,000 messages "#0"…"#999" keyed by
    sequence number (reference: src/main/java/jc/DemoApplication.java:94-101).
    Batch analog of the producer flow; streaming analog is format('rate')."""
    return spark.range(1000).select(
        F.col("id").alias("seq"),
        F.concat(F.lit("#"), F.col("id").cast("string")).alias("msg"),
    )
