"""Mergeable-sketch aggregation (Datasketches HLL) — the re-aggregable
distinct-count pattern hypertable rollups need at 100 TB.

Exact COUNT(DISTINCT) does not re-aggregate: a daily distinct cannot be
computed from hourly distinct COUNTS, only from the raw rows (or from
mergeable sketches). Spark 4 ships Apache Datasketches HLL natively
(hll_sketch_agg / hll_union_agg / hll_sketch_estimate), so the hourly
materialization can carry a ~1 KB binary sketch per group and every
coarser rollup is a cheap union over sketches — raw events are scanned
exactly once, the continuous-aggregate discipline of
streaming/batch_equiv.py::q_rollup_hier extended to distinct counts.

Imported last in registry._load_all_modules — registers AFTER the
driver's frozen 50-slot verification window prefix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from spring_and_kafka_spark.exec_utils import cents
from spring_and_kafka_spark.registry import register
from spring_and_kafka_spark.sources.tables import load_table


@register(
    "q_agg_hll_rollup",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           true AS within_tol
    FROM events GROUP BY 1, 2
    """,
)
def q_agg_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct users per event_type, computed the scalable way:
    hourly HLL sketches (one scan of raw events) unioned up to days —
    then CLAIMED against the exact count: within_tol ⇔ the sketch
    estimate lands within ±5% of exact.

    The claim column follows the q_agg_approx discipline (sketch bytes
    are engine-specific, so the estimate itself can't hash-match; the
    boolean claim + exact count can, and the oracle's constant true is
    pinned at every driver SF in tests/test_rows_only_rigor.py).
    Datasketches HLL at the default lgConfigK=12 has ~1.6% relative
    standard error — ±5% is a >3σ margin. The exact branch exists only
    to state the claim; a production rollup keeps the sketch column and
    never recomputes exact."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    daily_est = hourly.groupBy(
        F.date_trunc("day", "h").alias("day"), "event_type"
    ).agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_est"))
    daily_exact = e.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.countDistinct("user_id").alias("n_exact"))
    # eqNullSafe on the type key: a NULL event_type is a real rollup
    # group (both aggregates produce it; the oracle's single GROUP BY
    # keeps it) — a plain equi-join would silently drop those days
    # (NULLCHECK: 150 vs 180 rows)
    ex, est = daily_exact.alias("ex"), daily_est.alias("est")
    return ex.join(
        est,
        (F.col("ex.day") == F.col("est.day"))
        & F.col("ex.event_type").eqNullSafe(F.col("est.event_type")),
    ).select(
        F.col("ex.day").alias("day"),
        F.col("ex.event_type").alias("event_type"),
        "n_exact",
        (
            F.abs(F.col("n_est") - F.col("n_exact"))
            <= F.col("n_exact") * 0.05
        ).alias("within_tol"),
    )


_CM_DEPTH = 4
_CM_WIDTH = 256  # one md5 hex-digit pair per row → buckets 0..255


@register(
    "q_agg_countmin",
    oracle=f"""
    WITH bi AS (
      SELECT doc_id, ts[i + 1] || ' ' || ts[i + 2] AS bigram
      FROM (
        SELECT doc_id, string_split(text, ' ') AS ts,
               unnest(range(greatest(len(string_split(text, ' ')) - 1, 0)))
                 AS i
        FROM documents
      )
    ),
    counts AS (SELECT bigram, count(*) AS n FROM bi GROUP BY bigram),
    keyed AS (
      SELECT bigram, n,
             {", ".join(
                 f"CAST('0x' || substr(md5(bigram), {2 * d + 1}, 2) AS INTEGER)"
                 f" AS b{d}"
                 for d in range(_CM_DEPTH)
             )}
      FROM counts
    ),
    est AS (
      SELECT bigram, n,
             least({", ".join(
                 f"sum(n) OVER (PARTITION BY b{d})" for d in range(_CM_DEPTH)
             )}) AS cm_est
      FROM keyed
    ),
    ranked AS (
      SELECT bigram, n, CAST(cm_est AS BIGINT) AS cm_est,
             row_number() OVER (ORDER BY n DESC, bigram) AS rn
      FROM est
    )
    SELECT bigram, n, cm_est, cm_est >= n AS no_undercount
    FROM ranked WHERE rn <= 20
    """,
)
def q_agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters: top-20 corpus bigrams by true frequency,
    each with its Count-Min estimate (depth 4 × width 256) and the
    sketch's one-sided guarantee (estimates never undercount). The
    streaming-friendly frequency sketch: counters are pure sums, so
    partial sketches from any partitioning merge by addition.

    Fully hash-oracled — unlike typical CM implementations there is no
    RNG: row d's hash is md5 hex-digit pair d of the key (the
    q_dedup_simhash recipe), so Spark and DuckDB build bit-identical
    counter arrays and the ESTIMATE ITSELF is verified, not just claimed.

    Shape at 100 TB: bigram counts are one map-side-combined groupBy; the
    4 counter rows are window sums over the COUNTS table (vocabulary-
    sized, not corpus-sized). A true streaming deployment keeps the 4×256
    integer grid as an accumulator instead — this query demonstrates the
    estimate/guarantee semantics on the same arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    ts = F.split("text", " ")
    # guard: sequence(0, -1) would count DOWN for 1-token docs
    bigram_arr = F.when(
        F.size(ts) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(ts) - 2),
            lambda i: F.concat_ws(" ", F.slice(ts, i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi = d.select(F.explode(bigram_arr).alias("bigram"))
    counts = bi.groupBy("bigram").agg(F.count("*").alias("n"))
    keyed = counts.select(
        "bigram",
        "n",
        *[
            F.conv(F.substring(F.md5("bigram"), 2 * dd + 1, 2), 16, 10)
            .cast("int")
            .alias(f"b{dd}")
            for dd in range(_CM_DEPTH)
        ],
    )
    est = keyed.select(
        "bigram",
        "n",
        F.least(
            *[
                F.sum("n").over(W.partitionBy(f"b{dd}"))
                for dd in range(_CM_DEPTH)
            ]
        ).alias("cm_est"),
    )
    ranked = est.select(
        "bigram",
        "n",
        F.col("cm_est").cast("long").alias("cm_est"),
        F.row_number()
        .over(W.partitionBy().orderBy(F.col("n").desc(), "bigram"))
        .alias("rn"),
    )
    return ranked.filter(F.col("rn") <= 20).select(
        "bigram", "n", "cm_est", (F.col("cm_est") >= F.col("n")).alias("no_undercount")
    )


def to_cents(df: DataFrame) -> DataFrame:
    """Project ``l_extendedprice`` to the exact integer ``cents`` column
    every sketch site shares — ONE definition of the rounding rule, so
    the stream≡batch equality (streaming/sketch.py) can't drift when the
    rule changes."""
    return df.select(cents("l_extendedprice").alias("cents"))


def with_bucket_cols(df: DataFrame) -> DataFrame:
    """Add the decimal-histogram bucket key (digits, first2) derived from
    an exact integer ``cents`` column — pure string/integer arithmetic,
    so any engine derives identical buckets."""
    return (
        df.withColumn("s", F.col("cents").cast("string"))
        .withColumn("digits", F.length("s").cast("long"))
        .withColumn("first2", F.substring("s", 1, 2).cast("long"))
        .drop("s")
    )


def decimal_histogram(cents: DataFrame) -> DataFrame:
    """(digits, first2, bcnt) bucket counts from raw ``cents`` rows — the
    mergeable sketch itself. Partial histograms from ANY partitioning of
    the rows (hourly files, stream micro-batches, per-executor splits)
    merge by summing bcnt per bucket; tests/test_streaming_advanced.py
    proves stream-merged == one-shot."""
    return with_bucket_cols(cents).groupBy("digits", "first2").agg(
        F.count("*").alias("bcnt")
    )


def select_quantile_buckets(
    spark: SparkSession,
    b: DataFrame,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Resolve quantiles against a (digits, first2, bcnt) histogram:
    for each q, the bucket holding the r = ceil(q·n)-th smallest value,
    its midpoint estimate ``approx_cents``, and the rank bookkeeping
    (``below``, ``r``) a within-bucket exact descent needs. The windows
    run over the tiny bucket table, never the data."""
    bw = b.select(
        "digits",
        "first2",
        "bcnt",
        F.sum("bcnt")
        .over(
            W.orderBy("digits", "first2").rowsBetween(
                W.unboundedPreceding, 0
            )
        )
        .alias("cum"),
        F.sum("bcnt").over(W.partitionBy()).alias("total"),
    )
    q = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in qs])).alias("q")
    )
    r = F.ceil(F.col("q") * F.col("total")).cast("long")
    return (
        F.broadcast(q)
        .crossJoin(bw)
        .withColumn("r", r)
        .filter(
            (F.col("r") > F.col("cum") - F.col("bcnt"))
            & (F.col("r") <= F.col("cum"))
        )
        .select(
            "q",
            "digits",
            "first2",
            (
                (F.col("first2") + 0.5)
                * F.pow(F.lit(10.0), F.col("digits") - 2)
            ).alias("approx_cents"),
            (F.col("cum") - F.col("bcnt")).alias("below"),
            "r",
        )
    )


@register(
    "q_agg_quantile_sketch",
    oracle="""
    WITH c AS (
      -- quantiles skip NULL measures (standard percentile semantics):
      -- an unfiltered NULL would mint a NULL bucket whose position in
      -- the rank windows differs between engine NULL orderings
      SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ),
    cg AS (
      SELECT cents,
             CAST(length(CAST(cents AS VARCHAR)) AS BIGINT) AS digits,
             CAST(substr(CAST(cents AS VARCHAR), 1, 2) AS BIGINT)
               AS first2,
             count(*) AS cnt
      FROM c GROUP BY 1
    ),
    b AS (
      SELECT digits, first2, sum(cnt) AS bcnt FROM cg GROUP BY 1, 2
    ),
    bw AS (
      SELECT digits, first2, bcnt,
             sum(bcnt) OVER (ORDER BY digits, first2
               ROWS UNBOUNDED PRECEDING) AS cum,
             sum(bcnt) OVER () AS total
      FROM b
    ),
    q AS (SELECT unnest(CAST([0.5, 0.9, 0.99] AS DOUBLE[])) AS q),
    sel AS (
      SELECT q.q, bw.digits, bw.first2,
             (bw.first2 + 0.5) * power(10, bw.digits - 2)
               AS approx_cents,
             bw.cum - bw.bcnt AS below,
             CAST(ceil(q.q * bw.total) AS BIGINT) AS r
      FROM q JOIN bw
        ON CAST(ceil(q.q * bw.total) AS BIGINT) > bw.cum - bw.bcnt
       AND CAST(ceil(q.q * bw.total) AS BIGINT) <= bw.cum
    ),
    cw AS (
      SELECT cents, digits, first2, cnt,
             sum(cnt) OVER (PARTITION BY digits, first2
               ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cumb
      FROM cg
    ),
    ex AS (
      SELECT sel.q, sel.approx_cents, cw.cents AS exact_cents
      FROM sel JOIN cw
        ON sel.digits = cw.digits AND sel.first2 = cw.first2
       AND sel.r - sel.below > cw.cumb - cw.cnt
       AND sel.r - sel.below <= cw.cumb
    )
    SELECT q, approx_cents / 100 AS approx_price,
           exact_cents / 100 AS exact_price,
           round(abs(approx_cents - exact_cents) * 1.0 / exact_cents, 4)
             AS rel_err
    FROM ex
    """,
)
def q_agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable decimal-histogram quantile sketch vs exact rank answer:
    l_extendedprice buckets by (number of digits, two leading digits)
    of its integer cents — 90 buckets per decade, ≤ ~±5% relative error
    (bucket midpoint vs true rank value), built in
    ONE map-side-combinable pass (the sketch a 100 TB hourly rollup
    would materialize and re-merge, cf. q_agg_hll_rollup for distinct
    counts). Rank semantics: the r = ceil(q·n)-th smallest value.

    The exact side never global-sorts: a two-level rank lookup descends
    from the bucket cumulative counts (first window, ~40 rows) into a
    per-bucket cumulative over distinct cents values (second window,
    PARTITIONED by bucket — parallel, each partition ≤ one decade of
    price points). Buckets are pure integer/string arithmetic on exact
    cents, so both engines agree bit-for-bit; power(10, d-1) and the
    ±0.5 midpoints are exact doubles."""
    # quantiles skip NULL measures (mirrors the oracle's IS NOT NULL):
    # a NULL cents bucket's window position differs between engine NULL
    # orderings and would shift every cumulative rank (NULLCHECK)
    li = to_cents(load_table(spark, sf_dir, "lineitem")).filter(
        F.col("cents").isNotNull()
    )
    cg = with_bucket_cols(
        li.groupBy("cents").agg(F.count("*").alias("cnt"))
    )
    b = cg.groupBy("digits", "first2").agg(F.sum("cnt").alias("bcnt"))
    sel = select_quantile_buckets(spark, b)
    cw = cg.withColumn(
        "cumb",
        F.sum("cnt").over(
            W.partitionBy("digits", "first2")
            .orderBy("cents")
            .rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    s, c = sel.alias("s"), cw.alias("c")
    rin = F.col("s.r") - F.col("s.below")  # rank within the bucket
    ex = F.broadcast(s).join(
        c,
        (F.col("s.digits") == F.col("c.digits"))
        & (F.col("s.first2") == F.col("c.first2"))
        & (rin > F.col("c.cumb") - F.col("c.cnt"))
        & (rin <= F.col("c.cumb")),
    )
    return ex.select(
        F.col("s.q").alias("q"),
        (F.col("s.approx_cents") / 100).alias("approx_price"),
        (F.col("c.cents") / 100).alias("exact_price"),
        # NULL relative error against an exact value of 0 (free items):
        # ANSI Spark throws on /0 where DuckDB yields NULL
        F.when(
            F.col("c.cents") != 0,
            F.round(
                F.abs(F.col("s.approx_cents") - F.col("c.cents"))
                / F.col("c.cents"),
                4,
            ),
        ).alias("rel_err"),
    )
