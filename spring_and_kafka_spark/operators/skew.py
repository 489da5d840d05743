"""Skew mitigation for large joins (SURVEY.md §4 scale rules).

Two layers of defense at 100 TB:

1. AQE skew-join splitting (on by default in session.py) — handles skew
   Spark can see at runtime.
2. Explicit key salting (this module) — for joins AQE can't fix, e.g. a
   shuffled join where one hot key dwarfs a partition, or aggregations
   with a dominant group. The fact side sprays each hot row to one of
   `salt_buckets` sub-keys; the dim side replicates each row to all
   sub-keys; results are exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spring_and_kafka_spark.exec_utils import cents
from spring_and_kafka_spark.registry import register


def _content_salt(df: DataFrame, salt_buckets: int, salt_on: Column | None) -> Column:
    """Deterministic salt in [0, salt_buckets).

    Derived from ``salt_on`` when the caller supplies a distinguishing
    column (a unique id, an event timestamp — anything that varies WITHIN
    a hot key), else from a content hash of all hashable columns. The
    content fallback degrades when a hot key's rows are byte-identical:
    they all map to one salt and the spread silently collapses back to a
    hot-key join — which is why callers with any unique-ish column should
    pass it, and why salted_join exposes ``stats`` to detect exactly this
    (ADVICE r2 #5)."""
    if salt_on is not None:
        return (F.abs(F.xxhash64(salt_on)) % salt_buckets).cast("int")
    from pyspark.sql import types as T

    hashable = [
        f.name for f in df.schema.fields if not isinstance(f.dataType, T.MapType)
    ]
    if not hashable:
        raise ValueError("salting needs at least one non-map column")
    return (
        F.abs(F.xxhash64(*[F.col(c) for c in hashable])) % salt_buckets
    ).cast("int")


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    salt_buckets: int = 16,
    how: str = "inner",
    salt_on: Column | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Equi-join with salted keys: fact rows get a deterministic salt in
    [0, salt_buckets); dim rows are replicated across every salt value, so
    a hot join key spreads over `salt_buckets` shuffle partitions instead
    of hammering one task.

    Replication cost is |dim| × salt_buckets — use for fact⋈dim shapes
    where dim is small-ish but too big (or too skew-sensitive) to
    broadcast. Results are identical to a plain inner/left join.

    Only inner and left joins are supported: under right/full outer an
    unmatched dim row would surface once per salt replica (salt_buckets
    duplicates), which no post-filter can repair without a second pass.

    The salt is derived from the fact row's own content (or the
    caller-supplied ``salt_on`` column — prefer that whenever any column
    varies within the hot key), never from monotonically_increasing_id():
    a positional salt changes on task retry/stage recomputation, which can
    drop or duplicate rows mid-shuffle — the classic nondeterministic-
    repartition hazard. Content-hashing keeps retries bit-identical; rows
    identical in every column get the same salt, which only narrows
    spreading for exact duplicate rows.

    Pass ``stats`` (a dict) to measure whether the spread actually
    happened: it is filled with ``hottest_key_rows`` (row count of the
    largest fact key) and ``hottest_key_salts`` (how many distinct salts
    that key landed on). hottest_key_rows ≫ hottest_key_salts·(rows/task
    budget) — or salts stuck at 1 — means the salt column is degenerate
    for the hot key and a better ``salt_on`` is needed. Costs one extra
    aggregation job over the fact side; leave None in production paths."""
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports inner/left joins only, got how={how!r}"
        )
    # exact duplicate rows still collapse onto one salt under the content
    # fallback — if the hot key's rows are all identical the join is also
    # trivially reducible upstream (aggregate the duplicates first), which
    # is the right fix there
    salted_fact = fact.withColumn(
        "__salt", _content_salt(fact, salt_buckets, salt_on)
    )
    if stats is not None:
        hot = (
            salted_fact.groupBy(fact_key)
            .agg(
                F.count("*").alias("n_rows"),
                F.countDistinct("__salt").alias("n_salts"),
            )
            .orderBy(F.desc("n_rows"), fact_key)
            .limit(1)
            .collect()
        )
        stats["hottest_key_rows"] = int(hot[0]["n_rows"]) if hot else 0
        stats["hottest_key_salts"] = int(hot[0]["n_salts"]) if hot else 0
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))).alias("__salt")
    salted_dim = dim.select("*", salts)
    joined = salted_fact.join(
        salted_dim,
        (salted_fact[fact_key] == salted_dim[dim_key])
        & (salted_fact["__salt"] == salted_dim["__salt"]),
        how,
    )
    return joined.drop("__salt")


def salted_group_count(
    df: DataFrame, key: str, salt_buckets: int = 16, salt_on: Column | None = None
) -> DataFrame:
    """Two-phase aggregation for a skewed group key: count per
    (key, salt) first — spreading the hot key across partitions — then
    re-aggregate per key. (Spark's partial aggregation already does this
    for algebraic aggregates; the explicit form matters for aggregates
    without map-side partials, e.g. exact collect/distinct shapes.)
    ``salt_on``: same contract as salted_join — pass any column that
    varies within the hot key to keep the spread effective when rows are
    otherwise byte-identical."""
    salted = df.withColumn("__salt", _content_salt(df, salt_buckets, salt_on))
    partial = salted.groupBy(key, "__salt").agg(F.count("*").alias("__c"))
    return partial.groupBy(key).agg(F.sum("__c").alias("n"))


@register(
    "q_join_salted",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           floor(sum(o_totalprice) * 100 + 0.5) / 100 AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join, driver-verified: salted_join must produce
    EXACTLY the plain join's result — the oracle is the unsalted SQL join,
    so the salt/replicate/strip machinery is hash-checked end-to-end on
    real fixture data, not just unit-tested.

    o_orderkey is the salt_on column (unique per fact row → maximal
    spread even for byte-identical payloads). At 100 TB this is the shape
    for a hot-key fact-to-dim join AQE's skew handling can't fix (e.g. a
    single key above the partition-size ceiling): dim replicated
    salt_buckets×, fact spread across (key, salt) sub-partitions, one
    shuffle each side, result identical to the plain join by
    construction."""
    from spring_and_kafka_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = salted_join(
        orders,
        customer,
        "o_custkey",
        "c_custkey",
        salt_buckets=8,
        salt_on=F.col("o_orderkey"),
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        (cents(F.sum("o_totalprice")) / 100).alias("revenue"),
    )


@register(
    "q_skew_report",
    oracle="""
    WITH sizes AS (
      SELECT l_partkey, count(*) AS sz FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT sum(sz) AS n_rows FROM sizes)
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(sz) AS BIGINT) AS max_size,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY sz), 4)
             AS p50_size,
           round(percentile_cont(0.99) WITHIN GROUP (ORDER BY sz), 4)
             AS p99_size,
           round(max(sz) * 1.0
                 / percentile_cont(0.5) WITHIN GROUP (ORDER BY sz), 4)
             AS skew_ratio,
           round(max(sz) * 1.0 / any_value(n_rows), 6) AS top1_share
    FROM sizes CROSS JOIN tot
    """,
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics for lineitem.l_partkey — the readout
    that decides whether a join needs salting (salted_join above), AQE
    skew splitting, or nothing: key cardinality, max/median/p99 group
    size, max-to-median skew ratio, and the heaviest key's share of all
    rows. A skew_ratio near 1 (the fixture's uniform TPC-H keys) says
    plain hash join; a ratio over ~20 at 100 TB says the biggest key
    exceeds its partition budget and needs the salt path.

    Two aggregations: rows → per-key sizes (map-side combined), sizes →
    one stats row. The exact percentiles sort only the per-KEY size
    table (one row per distinct key, not per input row); at extreme key
    cardinality swap percentile_approx into the same slot."""
    from spring_and_kafka_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    sizes = li.groupBy("l_partkey").agg(F.count("*").alias("sz"))
    p50 = F.percentile("sz", F.lit(0.5))
    return sizes.agg(
        F.count("*").alias("n_keys"),
        F.max("sz").alias("max_size"),
        F.round(p50, 4).alias("p50_size"),
        F.round(F.percentile("sz", F.lit(0.99)), 4).alias("p99_size"),
        F.round(F.max("sz") * 1.0 / p50, 4).alias("skew_ratio"),
        F.round(F.max("sz") * 1.0 / F.sum("sz"), 6).alias("top1_share"),
    )
