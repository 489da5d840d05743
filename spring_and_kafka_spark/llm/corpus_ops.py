"""Corpus-level curation outputs.

Registered after the aggregates module on purpose: the driver verifies a
fixed-size registry prefix, and that window is already exactly filled
with queries awaiting their first verification round — these rotate in
next round (see registry._load_all_modules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from spring_and_kafka_spark.exec_utils import micros
from spring_and_kafka_spark.llm.dedup import (
    _CLUSTERS_PREFIX,
    q_dedup_clusters_lsh,
)
from spring_and_kafka_spark.llm.similarity import load_vectors
from spring_and_kafka_spark.llm.text import n_tokens, n_tokens_sql
from spring_and_kafka_spark.registry import register
from spring_and_kafka_spark.sources.tables import load_table

# Same clustering CTEs as q_dedup_clusters{,_lsh} (single source of truth
# in llm/dedup.py), with a representative-selection tail instead of the
# full labeling.
_SURVIVORS_ORACLE = (
    _CLUSTERS_PREFIX
    + """,
    comp AS (
      SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS component
      FROM reach GROUP BY node
    )
    SELECT doc_id, doc_id < 100000 AS is_original
    FROM comp WHERE doc_id = component
    """
)


@register("q_dedup_survivors", oracle=_SURVIVORS_ORACLE)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduped corpus itself: one representative (min doc_id) per
    near-dup cluster — what a training run actually consumes after dedup.
    Composes the full 100 TB path end-to-end: LSH candidates → exact
    verify → connected components → keep component representatives.
    Representatives are rows whose component label equals their own id —
    a per-row filter, no extra join or shuffle beyond the clustering.
    (Every planted perturbed copy (id ≥ 100000) clusters with its lower-id
    original, so survivors should be originals only — asserted in tests.)"""
    cc = q_dedup_clusters_lsh(spark, sf_dir)
    return cc.filter(F.col("doc_id") == F.col("component")).select(
        "doc_id", (F.col("doc_id") < 100000).alias("is_original")
    )


@register(
    "q_corpus_budget",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang, {n_tokens_sql()} AS n_toks FROM documents),
    cum AS (
      SELECT doc_id, lang, n_toks,
             sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_toks
      FROM toks
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS budget_used
    FROM cum WHERE cum_toks <= 2000 GROUP BY lang
    """,
)
def q_corpus_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget capping per language — the standard corpus-mixing step
    (each language/source gets a token allowance; docs admitted in a
    deterministic order until the budget fills). One cumulative-sum window
    per language partition, then a small aggregate; no join, no second
    scan. At 100 TB the per-partition running sum shuffles each language
    once — the same shape as any windowed aggregation."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", n_tokens().alias("n_toks"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = toks.withColumn("cum_toks", F.sum("n_toks").over(w))
    return (
        cum.filter(F.col("cum_toks") <= 2000)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("budget_used"),
        )
    )


@register(
    "q_sample_stratified_hash",
    oracle="""
    SELECT lang, count(*) AS n_sampled
    FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
          < (CASE WHEN lang = 'en' THEN '1999' ELSE '8000' END)
    GROUP BY lang
    """,
)
def q_sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling with per-stratum rates and NO
    engine RNG: keep a doc when its key-digest prefix falls below the
    stratum's hex threshold ('1999'/2^16 ≈ 10% for the over-represented
    language, '8000' = 50% elsewhere). Same rows in any engine, pure
    filter (pushes down, no shuffle before the final count) — the
    reproducible down-sampling a corpus-mixing pipeline needs."""
    d = load_table(spark, sf_dir, "documents")
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    thresh = F.when(F.col("lang") == "en", "1999").otherwise("8000")
    return (
        d.filter(prefix < thresh)
        .groupBy("lang")
        .agg(F.count("*").alias("n_sampled"))
    )


@register(
    "q_text_redact",
    oracle="""
    WITH contact AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) || '@'
                  || source || '.example.com or 555-'
                  || CAST(doc_id % 10000 AS VARCHAR) AS raw
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '[a-z0-9]+@[a-z0-9.]+')) AS INT)
             + CAST(len(regexp_extract_all(raw, '555-[0-9]+')) AS INT) AS n_pii,
           substring(regexp_replace(regexp_replace(raw,
                       '[a-z0-9]+@[a-z0-9.]+', '<EMAIL>', 'g'),
                       '555-[0-9]+', '<PHONE>', 'g'),
                     greatest(length(regexp_replace(regexp_replace(raw,
                       '[a-z0-9]+@[a-z0-9.]+', '<EMAIL>', 'g'),
                       '555-[0-9]+', '<PHONE>', 'g')) - 39, 1), 40) AS tail
    FROM contact
    """,
)
def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass every published training corpus
    runs. The fixture text carries no PII, so a deterministic contact line
    (synthetic email + phone derived from doc attributes) is appended
    first; the operator then counts and redacts email/phone patterns with
    plain regexes. Everything is a projection over the scan — no shuffle,
    no UDF — and the redacted tail is emitted so the oracle verifies the
    replacement text itself, not just the counts. (DuckDB regexp_replace
    needs the 'g' flag to match Spark's replace-all default.)"""
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@"),
        F.col("source"),
        F.lit(".example.com or 555-"),
        (F.col("doc_id") % 10000).cast("string"),
    )
    email = r"[a-z0-9]+@[a-z0-9.]+"
    phone = r"555-[0-9]+"
    clean = F.regexp_replace(
        F.regexp_replace(raw, email, "<EMAIL>"), phone, "<PHONE>"
    )
    n_pii = (
        F.size(F.regexp_extract_all(raw, F.lit(email), F.lit(0)))
        + F.size(F.regexp_extract_all(raw, F.lit(phone), F.lit(0)))
    ).cast("int")
    tail = F.substring(
        clean, F.greatest(F.length(clean) - 39, F.lit(1)), F.lit(40)
    )
    return d.select("doc_id", n_pii.alias("n_pii"), tail.alias("tail"))


@register(
    "q_corpus_pack",
    oracle=f"""
    WITH RECURSIVE docs AS (
      -- packable docs carry a payload and a language route: NULL text
      -- has no token count (pack_kernel would see NaN) and NULL lang
      -- breaks the recursive equi-join on lang
      SELECT lang, doc_id, {n_tokens_sql()} AS n_toks,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
    ),
    pack AS (
      SELECT lang, rn, n_toks, 0 AS bin, n_toks AS fill
      FROM docs WHERE rn = 1
      UNION ALL
      SELECT d.lang, d.rn, d.n_toks,
             CASE WHEN p.fill + d.n_toks <= 1024 THEN p.bin ELSE p.bin + 1 END,
             CASE WHEN p.fill + d.n_toks <= 1024 THEN p.fill + d.n_toks
                  ELSE d.n_toks END
      FROM pack p JOIN docs d ON d.lang = p.lang AND d.rn = p.rn + 1
    )
    SELECT lang,
           CAST(max(bin) + 1 AS BIGINT) AS n_bins,
           count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS total_toks,
           floor(sum(n_toks) / CAST((max(bin) + 1) * 1024 AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS fill_ratio
    FROM pack GROUP BY lang
    """,
)
def q_corpus_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: greedy next-fit of whole documents into
    1024-token bins per language, in deterministic doc_id order — the
    how-many-sequences / padding-waste accounting every pretraining run
    needs. Packing is inherently sequential within a shard (each bin
    decision depends on the previous fill), so the kernel is
    applyInPandas per (lang, shard) — see :func:`corpus_pack` for the
    100 TB decomposition. The oracle replays the packing as a DuckDB
    recursive CTE; it stays exact because fixture doc_ids all fall in
    shard 0, where sharded packing ≡ pure sequential packing."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    return corpus_pack(d.select("doc_id", "lang", n_tokens().alias("n_toks")))


# Contiguous doc_id span per (lang, shard) packing group. Bins never span a
# shard boundary, so each group packs independently and a group holds at
# most _PACK_SHARD_DOCS rows — bounded executor memory regardless of how
# many documents a language has.
_PACK_SHARD_DOCS = 100_000


def corpus_pack(toks: DataFrame, shard_docs: int = _PACK_SHARD_DOCS) -> DataFrame:
    """Sharded next-fit packing over (doc_id, lang, n_toks) rows.

    100 TB design: a whole language cannot sit in one executor's memory,
    so documents are range-sharded by ``doc_id div shard_docs`` and packed
    per (lang, shard) with the sequence-never-spans-a-shard rule. Shard
    results are independent under next-fit, so the per-language totals are
    plain sums — one applyInPandas over bounded groups plus one small
    aggregate. Deterministic: shard assignment is pure arithmetic on
    doc_id and packing order within a shard is doc_id order. fill_ratio is
    computed from the aggregated sums JVM-side with the repo's floor-form
    rounding (cross-engine stable, unlike Python round())."""
    sharded = toks.withColumn("shard", F.expr(f"doc_id div {int(shard_docs)}"))
    per_shard = sharded.groupBy("lang", "shard").applyInPandas(
        pack_kernel,
        "lang STRING, shard BIGINT, n_bins BIGINT, n_docs BIGINT, "
        "total_toks BIGINT",
    )
    agg = per_shard.groupBy("lang").agg(
        F.sum("n_bins").alias("n_bins"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_toks").alias("total_toks"),
    )
    fill_ratio = (
        F.floor(
            F.col("total_toks") / (F.col("n_bins") * 1024.0) * 10000
            + F.lit(0.5)
        )
        / 10000
    )
    return agg.select(
        "lang", "n_bins", "n_docs", "total_toks", fill_ratio.alias("fill_ratio")
    )


def pack_kernel(pdf):
    """Greedy next-fit packing over one (lang, shard) group (module-level
    so tests can property-check the exact production kernel against a
    brute force). Emits per-shard partials only; merging is a sum."""
    import pandas as pd

    pdf = pdf.sort_values("doc_id")
    n_bins, fill = 0, None
    for n in pdf["n_toks"]:
        if fill is None or fill + int(n) > 1024:
            n_bins, fill = n_bins + 1, int(n)
        else:
            fill += int(n)
    return pd.DataFrame(
        {
            "lang": [pdf["lang"].iloc[0]],
            "shard": [int(pdf["shard"].iloc[0])],
            "n_bins": [n_bins],
            "n_docs": [len(pdf)],
            "total_toks": [int(pdf["n_toks"].sum())],
        }
    )


@register(
    "q_embed_quantize",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL),
    scaled AS (
      SELECT vec_id, v,
             CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN 1.0
                  ELSE list_max(list_transform(v, x -> abs(x))) / 127.0
             END AS scale
      FROM e
    )
    SELECT vec_id,
           CAST(len(v) AS INT) AS n_dims,
           floor(scale * 1e6 + 0.5) / 1e6 AS q_scale,
           CAST(list_sum(list_transform(v, x -> floor(x / scale + 0.5)))
                AS BIGINT) AS q_sum
    FROM scaled
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization — the 4× storage cut applied before an
    embedding column ships to an ANN index at 100 TB: per-vector max-abs
    scale, values mapped to [-127, 127]. The emitted q_sum is the exact
    integer sum of all quantized components, so the oracle verifies every
    quantized value, not just the scale. Rounding uses floor(x+0.5) (not
    round()) — deterministic and identical in both engines for negatives.
    Pure array expressions over the scan: no shuffle, no UDF."""
    e = load_vectors(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(maxabs == 0, F.lit(1.0)).otherwise(maxabs / 127.0)
    q = F.transform(v, lambda x: F.floor(x / scale + 0.5).cast("long"))
    q_sum = F.aggregate(q, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return e.select(
        "vec_id",
        F.size(v).alias("n_dims"),
        (micros(scale) / 1e6).alias("q_scale"),
        q_sum.alias("q_sum"),
    )


@register(
    "q_corpus_provenance",
    oracle="""
    WITH dup AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS dup_docs
      FROM (
        SELECT source, text, count(*) AS c FROM documents
        GROUP BY source, text HAVING count(*) >= 2
      ) GROUP BY source
    ),
    base AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
      FROM documents GROUP BY source
    )
    SELECT b.source, b.n_docs, b.total_chars, b.n_langs,
           CAST(floor(CAST(b.total_chars AS DOUBLE) / b.n_docs + 0.5)
                AS BIGINT) AS avg_chars,
           round(coalesce(d.dup_docs, 0) / CAST(b.n_docs AS DOUBLE), 4)
             AS dup_rate
    FROM base b LEFT JOIN dup d USING (source)
    ORDER BY b.source
    """,
)
def q_corpus_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source provenance rollup: doc/char/language counts plus the
    within-source exact-duplicate rate — the data-governance dashboard
    row every corpus snapshot ships with (which crawls are bloated,
    which are mono-lingual, which re-serve the same pages).

    Two passes over documents, both reducing to |sources| rows: the
    main profile groupBy, and the duplicate probe which groups on
    (source, text) — at 100 TB that key should be (source,
    sha2(text)) so the shuffle moves 32-byte digests, not bodies; the
    count semantics are identical (modulo astronomically-unlikely
    collisions), kept as raw text here so the oracle is exactly
    co-expressible."""
    d = load_table(spark, sf_dir, "documents")
    dup = (
        d.groupBy("source", "text")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .groupBy("source")
        .agg(F.sum("c").alias("dup_docs"))
    )
    base = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )
    return base.join(dup, "source", "left").select(
        "source",
        "n_docs",
        "total_chars",
        "n_langs",
        F.floor(
            F.col("total_chars").cast("double") / F.col("n_docs") + F.lit(0.5)
        )
        .cast("long")
        .alias("avg_chars"),
        F.round(
            F.coalesce("dup_docs", F.lit(0).cast("long"))
            / F.col("n_docs").cast("double"),
            4,
        ).alias("dup_rate"),
    ).orderBy("source")
