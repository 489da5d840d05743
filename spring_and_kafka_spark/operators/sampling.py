"""Sampling operators — the training-data subsampling surface.

Three flavors, by reproducibility class:

- hash-ordered sampling (q_sample_hash): order by a standardized digest of
  the key → identical sample in ANY engine, full SQL oracle. The right
  default for reproducible dataset curation.
- seeded Bernoulli sampling (q_sample_seeded): Spark-deterministic (same
  seed → same rows) but engine-specific RNG → verified through a
  4σ-concentration claim with a SQL oracle (see its docstring).
- stratified sampling (sampleBy): per-stratum fractions, seeded.

At 100 TB the hash-ordered variant's global sort is replaced by a
threshold filter (keep rows whose hash < p·2^64 — no sort at all), which
is how q_sample_hash_threshold works.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from spring_and_kafka_spark.registry import register
from spring_and_kafka_spark.sources.tables import load_table


@register(
    "q_sample_hash",
    oracle="""
    SELECT doc_id, lang FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
    LIMIT 100
    """,
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible pseudo-random sample of exactly 100 docs: order by the
    md5 of the key (uniform, engine-independent), take the first 100 —
    TakeOrderedAndProject, no full sort."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .limit(100)
        .select("doc_id", "lang")
    )


@register(
    "q_sample_hash_threshold",
    oracle="""
    SELECT count(*) AS n_sampled,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '29'
    """,
)
def q_sample_hash_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path: ~16% Bernoulli sample with NO sort — keep rows whose
    key-digest prefix falls under a threshold ('29' hex ≈ 41/256). Pure
    filter → pushes down, embarrassingly parallel, same rows everywhere."""
    d = load_table(spark, sf_dir, "documents")
    keep = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "29"
    return d.filter(keep).agg(
        F.count("*").alias("n_sampled"),
        F.countDistinct("lang").alias("n_langs"),
    )


@register(
    "q_sample_seeded",
    oracle="""
    SELECT lang, count(*) AS n_docs, true AS within_ci
    FROM documents GROUP BY lang
    """,
)
def q_sample_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sample (df.sample) + seeded stratified sample
    (df.sampleBy with per-lang fractions), reduced to an oracled CLAIM.

    Spark's seeded RNG is engine-specific, so the sampled rows themselves
    can never hash-match a DuckDB oracle (a rows-only query can never
    pass the hash check).
    The q_agg_approx treatment instead: emit, per language, the
    SQL-derivable stratum size and a boolean asserting the seeded sample
    behaved like the Bernoulli process it claims to be —
    |n_sampled − n·p| ≤ 4σ + 1 with p = 0.2 (plain) + p_lang (strata),
    σ² = n·(0.2·0.8 + p_lang·(1−p_lang)). The sampled count only enters
    through the boolean. A correct sampler fails a 4σ bound with
    P ≈ 6e-5 per stratum; the bound is seed-realization-robust (it holds
    for any partitioning of the scan, which shifts Spark's per-partition
    RNG streams), and it is asserted against the committed fixtures at
    every SF in tests — the constant-true oracle is an empirical fixture
    property, same discipline as q_dedup_near's est_ok."""
    d = load_table(spark, sf_dir, "documents")
    plain = d.sample(fraction=0.2, seed=42).select("doc_id", "lang")
    strata = d.sampleBy(
        "lang", {"en": 0.1, "fr": 0.5, "es": 0.5, "de": 0.5, "zh": 0.5}, seed=42
    ).select("doc_id", "lang")
    sampled = (
        plain.unionByName(strata)
        .groupBy("lang")
        .agg(F.count("*").alias("n_rows"))
    )
    totals = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    # a NULL-lang stratum has no sampleBy fraction (sampleBy skips keys
    # absent from its dict), so only the plain 0.2 Bernoulli applies to
    # it — and the stratum joins null-safely or its sampled count would
    # silently read as 0 and fail the claim (NULLCHECK)
    p_lang = (
        F.when(F.col("t.lang").isNull(), 0.0)
        .when(F.col("t.lang") == "en", 0.1)
        .otherwise(0.5)
    )
    expected = F.col("n_docs") * (0.2 + p_lang)
    sigma = F.sqrt(
        F.col("n_docs") * (0.2 * 0.8 + p_lang * (1.0 - p_lang))
    )
    t, s = totals.alias("t"), sampled.alias("s")
    return (
        t.join(s, F.col("t.lang").eqNullSafe(F.col("s.lang")), "left")
        .withColumn("n_rows", F.coalesce(F.col("s.n_rows"), F.lit(0)))
        .select(
            F.col("t.lang").alias("lang"),
            "n_docs",
            (F.abs(F.col("n_rows") - expected) <= 4 * sigma + 1).alias(
                "within_ci"
            ),
        )
    )


_BALANCE_CAP = 60  # per-stratum ceiling


@register(
    "q_sample_balanced",
    oracle=f"""
    WITH ranked AS (
      SELECT lang, doc_id,
             CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS BIGINT) AS rnk
      FROM documents
    )
    SELECT lang, doc_id, rnk FROM ranked WHERE rnk <= {_BALANCE_CAP}
    """,
)
def q_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced sample: at most 60 documents per language, chosen
    by per-stratum digest order — the head-language downsampling step a
    multilingual training mix needs (cap the 'en' firehose, keep every
    low-resource doc). Same digest discipline as q_sample_hash, so the
    kept set is identical in any engine and stable under reruns.

    Shape: one shuffle partitioned by stratum; Spark pushes the rank
    filter into the window sort (WindowGroupLimit — each partition keeps
    a 60-row heap, never sorts its stratum). With few giant strata the
    partition count equals the stratum count; the 100 TB refinement is a
    digest-threshold prefilter per stratum (keep digest < cut with cut
    chosen from per-stratum counts so ≥cap rows survive, the
    q_sample_hash_threshold trick) before the exact rank — the top-cap
    digests all survive any such prefilter, so the result is unchanged."""
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select(
            "lang",
            "doc_id",
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= _BALANCE_CAP)
    )


# KS critical-value constant at alpha = 0.05: c(α)² with c = 1.358
# (Smirnov's asymptotic two-sample form: reject when
# D > c·sqrt((n1+n2)/(n1·n2)) — squared here so the flag compares
# products, never a libm sqrt).
_KS_C2 = 1.844164


@register(
    "q_sample_ks_check",
    oracle=f"""
    WITH v AS (
      SELECT n_chars,
             count(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                             < '29' THEN 1 END) AS cs,
             count(CASE WHEN NOT (substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                                  < '29') THEN 1 END) AS cp
      FROM documents WHERE n_chars IS NOT NULL
      GROUP BY n_chars
    ),
    c AS (
      SELECT sum(cs) OVER w AS c1, sum(cp) OVER w AS c2,
             sum(cs) OVER () AS n1, sum(cp) OVER () AS n2
      FROM v
      WINDOW w AS (ORDER BY n_chars
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(max(n1) AS BIGINT) AS n_sample,
           CAST(max(n2) AS BIGINT) AS n_rest,
           CAST(max(abs(c1 * n2 - c2 * n1)) AS BIGINT) AS ks_num,
           CASE WHEN max(n1) > 0 AND max(n2) > 0 THEN
             floor(CAST(max(abs(c1 * n2 - c2 * n1)) AS DOUBLE) * 1e6
                   / (max(n1) * max(n2)) + 0.5) / 1e6
           END AS ks_d,
           (CAST(max(abs(c1 * n2 - c2 * n1)) AS DOUBLE)
              * max(abs(c1 * n2 - c2 * n1)))
             > ({_KS_C2} * (max(n1) + max(n2)) * max(n1) * max(n2))
             AS reject
    FROM c
    """,
    tags=("sampling", "eval"),
)
def q_sample_ks_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov audit of the hash-threshold sample
    (q_sample_hash_threshold's ~16% md5-prefix Bernoulli) against its
    COMPLEMENT (population minus sample) on the n_chars distribution —
    the QA gate a sampling pipeline runs before trusting estimates
    computed on the sample: a biased hash (or a key correlated with
    the audited column) shows up as a large sup-distance D, and the
    alpha = 0.05 Smirnov flag says whether the discrepancy exceeds
    sampling noise. The comparison is sample-vs-complement, not
    sample-vs-population, because the two-sample critical constant
    assumes INDEPENDENT samples: a sample nested inside its superset
    shares its own rows with the comparison side, deflating D and
    making the flag silently conservative. Disjoint
    halves restore the calibrated test; a NULL doc_id row hashes to
    NULL and belongs to NEITHER side in both engines. Completes the
    sampling family: the generators (hash / threshold / stratified /
    temperature) produce subsets, this op certifies one.

    Cross-engine determinism: the ECDF comparison runs entirely on
    exact integers — per-value sample/complement counts, cumulative
    sums, and the cross-multiplied sup |c1·n2 − c2·n1| (never a
    per-row division); the single division producing D is floor-form;
    the rejection flag compares SQUARED products against c²·(n1+n2)·
    n1·n2 (pinned literal {_KS_C2}), so no sqrt runs in either
    engine. NULL n_chars rows are excluded at the scan in both.

    Shape at 100 TB: one map-side-combined groupBy collapses the scan
    to |distinct values| rows (the audited column's domain, not the
    corpus); the cumulative window runs over that bounded value table
    (two-level decomposition per DESIGN.md item 16 if a domain is
    genuinely huge — bucket the value first, which is also
    statistically the right KS binning); output is ONE row. Integer
    headroom: the exact cross-multiplication c1·n2 needs n1·n2 < 2^63
    (ANSI Spark throws on overflow rather than wrapping), i.e. joint
    row counts up to ~3e9×3e9. Past that, run the audit on a
    hash-capped population sample (the md5-threshold generator itself
    — a KS statistic on a 10M-row sample already resolves far smaller
    discrepancies than any filter decision needs), keeping the
    integer-exact path instead of degrading to per-row ECDF
    divisions.

    Reference parity anchor: no sampling/QA surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part
    of the beyond-the-reference training-data-pipeline family."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    in_s = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "29"
    v = d.groupBy("n_chars").agg(
        F.count(F.when(in_s, 1)).alias("cs"),
        F.count(F.when(~in_s, 1)).alias("cp"),
    )
    wc = W.orderBy("n_chars").rowsBetween(W.unboundedPreceding, W.currentRow)
    wa = W.partitionBy()
    c = v.select(
        F.sum("cs").over(wc).alias("c1"),
        F.sum("cp").over(wc).alias("c2"),
        F.sum("cs").over(wa).alias("n1"),
        F.sum("cp").over(wa).alias("n2"),
    )
    diff = F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
    agg = c.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max(diff).alias("ks_num"),
    )
    return agg.select(
        F.col("n1").alias("n_sample"),
        F.col("n2").alias("n_rest"),
        "ks_num",
        F.when(
            (F.col("n1") > 0) & (F.col("n2") > 0),
            F.floor(
                F.col("ks_num").cast("double")
                * 1e6
                / (F.col("n1") * F.col("n2"))
                + F.lit(0.5)
            )
            / 1e6,
        ).alias("ks_d"),
        (
            (F.col("ks_num").cast("double") * F.col("ks_num"))
            > (
                F.lit(_KS_C2)
                * (F.col("n1") + F.col("n2"))
                * F.col("n1")
                * F.col("n2")
            )
        ).alias("reject"),
    )
