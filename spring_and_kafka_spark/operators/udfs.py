"""UDF / UDAF / UDTF surface (SURVEY.md §2.9).

Reference anchor: the serde/handle lambdas are user code plugged into the
flow (reference: src/main/java/jc/DemoApplication.java:115,148,154-157) —
generalized here to Spark's five Python-extension points (scalar UDF,
pandas_udf, grouped-agg, grouped-map, @udtf). Hierarchy of preference
at scale:

1. built-in expressions (everything else in this engine)
2. pandas_udf / applyInPandas — Arrow-batched, vectorized (these)
3. row-at-a-time Python UDF / UDTF — demonstrated once each, never in
   a hot path

Each query computes something exactly reproducible in SQL, so even the
UDF paths get full DuckDB hash-match oracles (not just rows-only).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from spring_and_kafka_spark.registry import register
from spring_and_kafka_spark.sources.tables import load_table


@register(
    "q_udf_scalar",
    oracle="""
    SELECT c_custkey, upper(c_name) || '!' AS shouted
    FROM customer WHERE c_custkey < 100
    """,
)
def q_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (the discouraged path — each row crosses
    the JVM↔Python pickle boundary; kept small deliberately).

    The None guard is part of the lesson: built-in expressions
    NULL-propagate for free, but a Python UDF receives a raw None and
    must answer NULL itself (matching SQL's upper(NULL) || '!' -> NULL)
    or die on the first NULL-bearing partition (NULLCHECK)."""
    shout = F.udf(
        lambda s: None if s is None else s.upper() + "!", T.StringType()
    )
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    return c.select("c_custkey", shout("c_name").alias("shouted"))


@register(
    "q_udf_pandas",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100 AS net
    FROM lineitem WHERE l_orderkey <= 2000
    """,
)
def q_udf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar pandas_udf (Series→Series over Arrow batches) —
    ~10-100× the row-at-a-time path. Cent rounding via the floor form
    (pandas .round is half-to-even — not cross-engine stable)."""

    @pandas_udf("double")
    def net_price(price: pd.Series, discount: pd.Series) -> pd.Series:
        import numpy as np

        return np.floor(price * (1.0 - discount) * 100 + 0.5) / 100

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net_price("l_extendedprice", "l_discount").alias("net"),
    )


@register(
    "q_udf_grouped_agg",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS wavg_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas_udf (UDAF): quantity-weighted mean price."""

    @pandas_udf("double")
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(wavg("l_extendedprice", "l_quantity"), 4).alias("wavg_price")
    )


@register(
    "q_udf_grouped_map",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           floor((o_totalprice - avg(o_totalprice) OVER (PARTITION BY o_orderstatus))
                 / stddev_samp(o_totalprice) OVER (PARTITION BY o_orderstatus)
                 * 10000 + 0.5) / 10000 AS z
    FROM orders
    """,
)
def q_udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (UDTF-like): per-group z-score — each
    status group arrives as one pandas frame (group must fit an executor;
    for unbounded groups use window functions instead). Rounding uses the
    floor form in both engines (pandas .round is half-to-even, DuckDB
    round is binary-float — neither matches the other on .00005
    boundaries)."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        mu = pdf["o_totalprice"].mean()
        sd = pdf["o_totalprice"].std(ddof=1)
        z = (pdf["o_totalprice"] - mu) / sd
        return pd.DataFrame(
            {
                "o_orderkey": pdf["o_orderkey"],
                "o_orderstatus": pdf["o_orderstatus"],
                "z": np.floor(z * 10000 + 0.5) / 10000,
            }
        )

    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").applyInPandas(
        zscore, "o_orderkey BIGINT, o_orderstatus STRING, z DOUBLE"
    )


@register(
    "q_udf_udtf",
    oracle="""
    WITH w AS (
      SELECT p_partkey, string_split(p_name, ' ') AS words
      FROM part WHERE p_partkey < 500
    )
    SELECT p_partkey, CAST(pos AS INT) AS pos, words[pos] AS word
    FROM w, LATERAL unnest(generate_series(1, len(words))) AS t(pos)
    """,
)
def q_udf_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native Python UDTF (@udtf, Spark ≥3.4) — the fourth and last
    §2.9 extension surface: a table function invoked per input row via
    SQL LATERAL, yielding one row per word of the part name with its
    1-based position. Where applyInPandas is per-GROUP (q_udf_grouped
    _map), a UDTF is per-ROW fan-out with user-defined arity — the
    registration form SURVEY §2.9 names (the capability itself is also
    expressible as posexplode(split(...)), which is what a hot path
    should use; this query exists to pin the @udtf surface and its
    NULL/empty-string contract).

    NULL contract (the q_udf_scalar lesson, extended to table
    functions): eval() receives a raw Python None and must answer by
    yielding NOTHING — matching the oracle, where string_split(NULL)
    is NULL and unnesting a NULL series yields zero rows. An empty
    string splits to one empty-string word in BOTH Python and DuckDB.

    Scale shape: the UDTF runs row-at-a-time over the Python boundary —
    acceptable here because the input is filtered to <500 rows at the
    scan (pushed filter) and each row fans out to ≤5 words; the
    docstring hierarchy at the module head still holds (built-in
    posexplode beats this by the usual 10-100× and is what every other
    operator uses)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, word string")
    class SplitWords:
        def eval(self, name):
            if name is None:
                return
            for i, w in enumerate(name.split(" "), 1):
                yield (i, w)

    spark.udtf.register("split_words_13", SplitWords)
    load_table(spark, sf_dir, "part").filter(
        F.col("p_partkey") < 500
    ).createOrReplaceTempView("part_udtf13")
    return spark.sql(
        """
        SELECT p.p_partkey, s.pos, s.word
        FROM part_udtf13 p, LATERAL split_words_13(p.p_name) s
        """
    )
