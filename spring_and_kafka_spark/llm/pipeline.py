"""End-to-end training-data curation pipeline (SURVEY.md §2.10 composed):
the flagship composition showing the LLM-data operators working together —
quality filtering → near-duplicate removal → per-language corpus budget.

The dedup stage runs the 100 TB path: MinHash-LSH candidate generation
(shuffle O(docs × bands)) followed by exact-Jaccard verification on the
candidate pairs only — never an all-pairs shingle self-join. The DuckDB
oracle states the SEMANTICS (exact Jaccard ≥ threshold over all pairs);
the two agree because the banding is tuned so candidate recall is 1.0 at
the fixture similarity profile (min true-pair Jaccard 0.7; 16 bands × 2
rows miss a J=0.7 pair with p≈2e-5), and tests/test_pipeline.py asserts
LSH-candidates ⊇ exact-pairs at multiple scale factors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spring_and_kafka_spark.exec_utils import materialize, micros
from spring_and_kafka_spark.llm.dedup import (
    _OV_SQL,
    _PLANTED_CORPUS_SQL,
    lsh_verified_pairs,
    planted_corpus,
    shingle_ctes_sql,
)
from spring_and_kafka_spark.registry import register
from spring_and_kafka_spark.sources.tables import load_table

# 16 bands × 2 rows: high-recall banding for the verify-after design —
# false positives cost one cheap exact check, false negatives cost
# correctness, so trade candidate volume for recall.
_PIPE_BANDS = 16
_PIPE_ROWS_PER_BAND = 2
_PIPE_JACCARD = 0.6


@register(
    "q_pipeline_curate",
    oracle=f"""
    WITH {_PLANTED_CORPUS_SQL},
    quality AS (
      SELECT doc_id, text,
             len(string_split(text, ' ')) AS n_toks,
             len(list_filter(string_split(text, ' '), t -> t IN ('a', 'the')))
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio
      FROM corpus
    ),
    kept AS (
      SELECT doc_id, text, n_toks FROM quality
      WHERE n_toks >= 30 AND stop_ratio <= 0.2
    ),
    {shingle_ctes_sql("kept")},
    {_OV_SQL},
    dup AS (
      SELECT a_id, b_id FROM ov WHERE c / (na + nb - c) >= {_PIPE_JACCARD}
    ),
    survivors AS (
      SELECT k.doc_id, k.n_toks FROM kept k
      WHERE k.doc_id NOT IN (SELECT b_id FROM dup)
    ),
    tagged AS (
      SELECT s.doc_id, s.n_toks,
             d.lang
      FROM survivors s
      JOIN documents d ON d.doc_id = s.doc_id % 100000
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           round(avg(n_toks), 4) AS avg_tokens
    FROM tagged GROUP BY lang
    """,
)
def q_pipeline_curate(
    spark: SparkSession,
    sf_dir: str,
    bucket_cap: int = 500,
    lsh_stats: dict | None = None,
) -> DataFrame:
    """Curate a corpus end-to-end: (1) quality-filter (≥30 tokens, stopword
    ratio ≤0.2), (2) remove near-duplicates (3-gram Jaccard ≥0.6, keep the
    lower doc_id — drops the planted perturbed copies), (3) report the
    surviving token budget per language.

    ``bucket_cap``/``lsh_stats`` expose the dedup stage's frequent-bucket
    guard at the pipeline entry point: the cap
    trades candidate-generation cost for recall once buckets saturate
    (inert on every fixture SF — asserted via lsh_stats in tests; ~35%
    planted-pair loss only on the adversarial small-vocab smoke corpus,
    SCALE_SMOKE.md). Callers tuning a real corpus pass lsh_stats={} and
    alert on hot_buckets > 0 rather than discovering recall loss later.

    Stage shapes at 100 TB: quality is a scan-only projection; dedup is
    MinHash-LSH candidate generation (shuffle O(docs × bands)) + exact
    Jaccard verify on candidates only (module doc explains why this still
    hash-matches the oracle's all-pairs formulation); the final stats are
    one small groupBy. The dedup removal is an anti-join on the higher-id
    side of each verified duplicate pair."""
    corpus = planted_corpus(spark, sf_dir)
    toks = F.split("text", " ")
    quality = corpus.select(
        "doc_id",
        "text",
        F.size(toks).alias("n_toks"),
        (
            F.size(F.filter(toks, lambda t: t.isin("a", "the")))
            / F.size(toks).cast("double")
        ).alias("stop_ratio"),
    )
    kept = quality.filter(
        (F.col("n_toks") >= 30) & (F.col("stop_ratio") <= 0.2)
    ).select("doc_id", "text", "n_toks")

    # dedup: LSH candidates + exact verify on candidates (the 100 TB
    # path, shared with q_dedup_clusters_lsh); remove the higher-id side
    # of each verified pair
    pairs = lsh_verified_pairs(
        kept.select("doc_id", "text"),
        n=3,
        threshold=_PIPE_JACCARD,
        bands=_PIPE_BANDS,
        rows_per_band=_PIPE_ROWS_PER_BAND,
        bucket_cap=bucket_cap,
        stats=lsh_stats,
    )
    # (the q_pipeline_curate plan audit): the
    # victims list is MATERIALIZED before the anti-join. `kept` is a
    # projection of the planted-corpus UNION, and Spark pushes the
    # LeftAnti join into the union — so an unmaterialized dup_victims
    # had its entire subtree (LSH candidates + verify + distinct)
    # planned once per union side, and the anti-join ran as a
    # SortMergeJoin that exchanged+sorted the corpus on BOTH sides
    # (plans/r18/q_pipeline_curate_before.txt). The cut computes the
    # duplication-sized victim list exactly once, and its exact
    # (tiny) size lets AQE pick the broadcast anti-join, removing the
    # corpus exchange outright at any scale where the duplicate list
    # fits a broadcast; past that it degrades to the same SMJ, now fed
    # by a checkpoint-sized scan instead of the recomputed pipeline.
    dup_victims = materialize(
        pairs.select(F.col("b_id").alias("doc_id")).distinct()
    )
    survivors = kept.join(dup_victims, "doc_id", "left_anti")

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    tagged = survivors.withColumn("orig_id", F.col("doc_id") % 100000).join(
        F.broadcast(docs.withColumnRenamed("doc_id", "orig_id")), "orig_id"
    )
    return tagged.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("total_tokens"),
        F.round(F.avg("n_toks"), 4).alias("avg_tokens"),
    )


# Target mixture for training-corpus assembly: (lang, weight). Literal on
# both engines; weights sum to 1.
_MIX_WEIGHTS = (("en", 0.5), ("fr", 0.15), ("es", 0.15), ("de", 0.1), ("zh", 0.1))


@register(
    "q_corpus_mix",
    oracle=f"""
    WITH avail AS (
      SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_toks
      FROM documents GROUP BY lang
    ),
    w(lang, weight) AS (
      VALUES {", ".join(f"('{l}', CAST({w} AS DOUBLE))" for l, w in _MIX_WEIGHTS)}
    ),
    total AS (SELECT sum(n_toks) AS t FROM avail)
    SELECT a.lang, a.n_toks, w.weight,
           CAST(floor(total.t * w.weight) AS BIGINT) AS target_toks,
           floor(floor(total.t * w.weight) * 1.0 / a.n_toks * 10000 + 0.5)
             / 10000 AS epochs
    FROM avail a JOIN w ON a.lang = w.lang CROSS JOIN total
    """,
)
def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture accounting: given target language weights and the
    tokens actually available per language, how many tokens each language
    contributes to a corpus-sized budget and how many passes (epochs) over
    that language's data it takes — >1 means upsampling/repeats, <1 means
    subsampling. The budget is the corpus's own total token count, so the
    query is self-contained on the fixtures.

    Shape at 100 TB: one groupBy(lang) over the corpus (map-side combined,
    ~5 result rows), a scalar total, and a broadcast join against the
    literal weight table — the corpus is scanned once, everything after is
    driver-trivial. All ratios floor-form rounded (cross-engine stable)."""
    d = load_table(spark, sf_dir, "documents")
    avail = d.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).alias("n_toks")
    )
    w = d.sparkSession.createDataFrame(
        list(_MIX_WEIGHTS), "lang STRING, weight DOUBLE"
    )
    total = avail.agg(F.sum("n_toks").alias("t"))
    target = F.floor(F.col("t") * F.col("weight")).cast("long")
    out = (
        avail.join(F.broadcast(w), "lang")
        .crossJoin(F.broadcast(total))
        .withColumn("target_toks", target)
    )
    epochs = (
        F.floor(F.col("target_toks") / F.col("n_toks") * 10000 + F.lit(0.5))
        / 10000
    )
    return out.select(
        "lang", "n_toks", "weight", "target_toks", epochs.alias("epochs")
    )


@register(
    "q_corpus_split",
    oracle="""
    WITH tagged AS (
      SELECT lang,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
                    THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                    THEN 'val'
                  ELSE 'test' END AS split,
             len(string_split(text, ' ')) AS n_toks
      FROM documents
    )
    SELECT lang, split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_toks
    FROM tagged GROUP BY 1, 2
    """,
)
def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (~80/10/10) from the md5 digest
    of the document key — the same doc lands in the same split in any
    engine, any run, any cluster size, with no shuffle and no RNG state
    (the q_sample_hash_threshold recipe extended to disjoint buckets:
    hex prefixes < 'cd' (205/256), < 'e6' (230/256), rest).

    Shape at 100 TB: the split tag is a pure projection that pushes down
    with the scan; the per-(lang, split) accounting is one map-side-
    combined groupBy with ~15 result rows. Assigning the split at read
    time — rather than materializing three copies — is the curation-
    pipeline default; writers that need physical separation partition by
    the tag column (sources/files.py)."""
    d = load_table(spark, sf_dir, "documents")
    pfx = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(pfx < "cd", "train").when(pfx < "e6", "val").otherwise("test")
    )
    return (
        d.select(
            "lang",
            split.alias("split"),
            F.size(F.split("text", " ")).alias("n_toks"),
        )
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_toks").alias("n_toks"))
    )


# 24-bit uniform from the md5 of the doc key: u = int(hex[0:6], 16) in
# [0, 2^24). md5 is byte-identical in both engines; Spark parses the hex
# via conv(…, 16, 10), DuckDB via CAST('0x'||… AS INTEGER) — both exact
# integer paths, no float in the uniform itself.
_U24 = 16_777_216


@register(
    "q_sample_temperature",
    oracle=f"""
    WITH counts AS (
      SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ),
    rates AS (
      SELECT lang, n,
             sqrt((SELECT min(n) FROM counts) / CAST(n AS DOUBLE)) AS accept
      FROM counts
    ),
    tagged AS (
      SELECT d.lang, d.doc_id, r.n, r.accept,
             CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)
                  AS INTEGER) AS u
      FROM documents d JOIN rates r ON d.lang = r.lang
    )
    SELECT lang,
           CAST(max(n) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN u < floor(accept * {_U24}) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           floor(max(accept) * 1e6 + 0.5) / 1e6 AS accept_rate,
           CAST(sum(CASE WHEN u < floor(accept * {_U24}) THEN doc_id
                    ELSE 0 END) AS BIGINT) AS kept_checksum
    FROM tagged GROUP BY lang
    """,
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature resampling across languages (alpha = 0.5): accept each
    doc of language l with rate sqrt(n_min / n_l), so rare languages keep
    everything and dominant ones are downsampled toward the flattened
    p_l^alpha mixture — the multilingual-pretraining rebalance.

    Determinism: the accept rate is derived ONLY from exact integer
    counts (min / division / sqrt are all correctly-rounded IEEE ops, so
    both engines compute the identical double — no float-sum ordering
    anywhere), and the per-doc coin is a 24-bit integer from md5. The
    per-lang claim columns (counts + doc_id checksum) are exact BIGINTs.

    Shape at 100 TB: one map-side-combined groupBy(lang) for counts (~5
    rows), a broadcast join of the rate table back onto the scan, a
    pushed-down filter, and one final tiny aggregation. The corpus is
    read once; the accept decision is a projection, so the sample never
    materializes unless a writer asks for it."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n"))
    nmin = counts.agg(F.min("n").alias("nmin"))
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        "lang", "n", F.sqrt(F.col("nmin") / F.col("n")).alias("accept")
    )
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
    ).cast("long")
    tagged = d.join(F.broadcast(rates), "lang").select(
        "lang", "doc_id", "n", "accept", u.alias("u")
    )
    kept = F.col("u") < F.floor(F.col("accept") * _U24)
    return tagged.groupBy("lang").agg(
        F.max("n").cast("long").alias("n_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
        (micros(F.max("accept")) / 1e6).alias("accept_rate"),
        F.sum(F.when(kept, F.col("doc_id")).otherwise(0))
        .cast("long")
        .alias("kept_checksum"),
    )


@register(
    "q_decontaminate",
    oracle="""
    WITH tagged AS (
      -- NULL-payload contract (the q_text_contamination lesson): only
      -- docs with payloads enter the scrub on either engine
      SELECT doc_id, lang, text,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS pfx
      FROM documents WHERE text IS NOT NULL
    ),
    grams AS (
      SELECT doc_id, lang, pfx, unnest(list_distinct(list_transform(
               range(greatest(len(string_split(text, ' ')) - 3, 1)),
               i -> array_to_string(string_split(text, ' ')[i + 1 : i + 4], ' ')
             ))) AS shingle
      FROM tagged
    ),
    bench AS (
      SELECT DISTINCT shingle FROM grams WHERE pfx >= 'e6'
    ),
    flagged AS (
      SELECT g.doc_id, g.lang,
             max(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS hit
      FROM grams g LEFT JOIN bench b ON g.shingle = b.shingle
      WHERE g.pfx < 'cd'
      GROUP BY g.doc_id, g.lang
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_train,
           CAST(sum(hit) AS BIGINT) AS n_contaminated,
           CAST(sum(1 - hit) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN hit = 0 THEN doc_id ELSE 0 END) AS BIGINT)
             AS kept_checksum
    FROM flagged GROUP BY lang
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination over the q_corpus_split partitions: drop
    every train-split document that shares a 4-gram with any test-split
    document (the scrub that keeps held-out benchmarks honest). Emits
    per-language train size, contaminated count, survivor count, and an
    exact doc_id checksum of the survivors.

    Shape at 100 TB: the test split is ~10% and its DISTINCT 4-gram set
    is the only thing that crosses the cluster — broadcast to every
    executor; the train side streams through one broadcast hash join (no
    corpus shuffle), then aggregates by (doc_id) and (lang), both
    map-side combined. If the test-gram set ever outgrows broadcast,
    the same plan degrades gracefully to a shuffled semi-join on the
    gram key — the code path is identical DataFrame ops either way."""
    # NULL-payload contract (the q_text_contamination lesson): Spark's
    # concat_ws would mint ''-shingles from NULL text and cross-match
    # every missing-payload doc; the scrub admits docs with payloads
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    pfx = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    ts = F.split("text", " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(ts) - 4, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(ts, i + 1, 4)),
    )
    sh = d.select(
        "doc_id",
        "lang",
        pfx.alias("pfx"),
        F.explode(F.array_distinct(grams)).alias("shingle"),
    )
    bench = sh.filter(F.col("pfx") >= "e6").select("shingle").distinct()
    flagged = (
        sh.filter(F.col("pfx") < "cd")
        .join(
            F.broadcast(bench.withColumn("hit", F.lit(1))),
            "shingle",
            "left",
        )
        .groupBy("doc_id", "lang")
        .agg(F.max(F.coalesce("hit", F.lit(0))).alias("hit"))
    )
    return flagged.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_train"),
        F.sum("hit").cast("long").alias("n_contaminated"),
        F.sum(1 - F.col("hit")).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("hit") == 0, F.col("doc_id")).otherwise(0))
        .cast("long")
        .alias("kept_checksum"),
    )


@register(
    "q_corpus_repeat",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    avail AS (
      SELECT lang, CAST(sum(n_tok) AS BIGINT) AS n_toks FROM toks GROUP BY lang
    ),
    w(lang, weight) AS (
      VALUES {", ".join(f"('{l}', CAST({w} AS DOUBLE))" for l, w in _MIX_WEIGHTS)}
    ),
    total AS (SELECT sum(n_toks) AS t FROM avail),
    plan AS (
      SELECT a.lang,
             CAST(floor(total.t * w.weight) AS BIGINT) AS target_toks,
             CAST(floor(total.t * w.weight) AS DOUBLE)
               / CAST(a.n_toks AS DOUBLE) AS epochs
      FROM avail a JOIN w ON a.lang = w.lang CROSS JOIN total
    ),
    percopy AS (
      SELECT t.doc_id, t.lang, t.n_tok,
             CAST(floor(p.epochs) AS BIGINT)
             + CASE WHEN CAST('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 7, 6)
                         AS INTEGER)
                    < floor((p.epochs - floor(p.epochs)) * {_U24})
                    THEN 1 ELSE 0 END AS copies
      FROM toks t JOIN plan p ON t.lang = p.lang
    )
    SELECT lang,
           CAST(sum(CASE WHEN copies >= 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_emitted,
           CAST(sum(copies) AS BIGINT) AS n_rows_out,
           CAST(sum(copies * n_tok) AS BIGINT) AS n_toks_out,
           CAST(sum(copies * doc_id) AS BIGINT) AS out_checksum
    FROM percopy GROUP BY lang
    HAVING sum(copies) > 0
    """,
)
def q_corpus_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the q_corpus_mix plan: repeat each document
    floor(epochs) times plus one more with probability frac(epochs) via a
    deterministic md5 coin (digit window 7-12 — independent of the
    split/temperature coins at 1-6), so the emitted corpus hits each
    language's token target in expectation with zero RNG state. Epochs <1
    become hash-thresholded subsampling through the same formula.

    The operator genuinely explodes the repeat sequence (the plan carries
    the fan-out), then folds to per-language accounting claims — row,
    token, and doc_id·copies checksums, all exact BIGINTs.

    Shape at 100 TB: the plan table is ~5 rows (broadcast); repetition is
    a projection + explode with no shuffle — upsampled epochs interleave
    naturally across partitions; the only shuffle is the final tiny
    accounting groupBy (a real deployment writes the exploded stream
    straight to the sink, so even that disappears)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tok")
    )
    avail = toks.groupBy("lang").agg(F.sum("n_tok").alias("n_toks"))
    w = d.sparkSession.createDataFrame(
        list(_MIX_WEIGHTS), "lang STRING, weight DOUBLE"
    )
    total = avail.agg(F.sum("n_toks").alias("t"))
    plan = (
        avail.join(F.broadcast(w), "lang")
        .crossJoin(F.broadcast(total))
        .select(
            "lang",
            F.floor(F.col("t") * F.col("weight"))
            .cast("long")
            .alias("target_toks"),
            (
                F.floor(F.col("t") * F.col("weight")).cast("double")
                / F.col("n_toks").cast("double")
            ).alias("epochs"),
        )
    )
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 7, 6), 16, 10
    ).cast("long")
    base = F.floor("epochs").cast("long")
    extra = (
        u < F.floor((F.col("epochs") - F.floor("epochs")) * _U24)
    ).cast("long")
    percopy = toks.join(F.broadcast(plan), "lang").select(
        "doc_id", "lang", "n_tok", (base + extra).alias("copies")
    )
    exploded = percopy.select(
        "doc_id",
        "lang",
        "n_tok",
        F.explode(
            F.when(
                F.col("copies") >= 1,
                F.sequence(F.lit(1), F.col("copies")),
            ).otherwise(F.array().cast("array<long>"))
        ).alias("copy_idx"),
    )
    return exploded.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs_emitted"),
        F.count("*").cast("long").alias("n_rows_out"),
        F.sum("n_tok").cast("long").alias("n_toks_out"),
        F.sum("doc_id").cast("long").alias("out_checksum"),
    )
