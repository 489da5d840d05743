"""Text-analysis operators for training-data pipelines (SURVEY.md §2.10):
tokenization, TF-IDF, lexicon sentiment, corpus stats, quality scoring,
language ID, document fingerprinting.

All token work is split/explode/groupBy — pure built-ins, partitioned by
doc or token key, map-side combined. The sentiment/langid lexicons are tiny
literal tables broadcast to executors (never a shuffle of the corpus side).

Three rules decide what a text query sees, and both engines must apply
them identically: how text splits into tokens, how tokens slide into
n-grams, and how tokens tumble into segments. Each rule has ONE Spark
kernel with its DuckDB twin beside it (`tok_array`/`tok_array_sql`,
`grams`/`grams_sql`, `segments`/`segments_sql`, and the token streams
built on them); every query of the text family, the dedup family and
the streaming maintainers composes the pair, so an edge-case fix (NULL
text, '', a doc shorter than the window) is one edit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from spring_and_kafka_spark.exec_utils import materialize, ratio6, ratio6_sql
from spring_and_kafka_spark.registry import register
from spring_and_kafka_spark.sources.tables import load_table

# Lexicons: literal token lists from the fixture vocabulary (synthetic
# 31-token corpus) — identical literals in the DuckDB oracles.
POSITIVE = ("fast", "small", "value", "key", "spark")
NEGATIVE = ("slow", "big", "dup")
STOPWORDS = ("a", "the")


# ---------------------------------------------------------------------------
# Rule 1, the tokenizer: split on every single space. Empty tokens stay
# ('a  b' → a, '', b; '' → ['']) and NULL text stays NULL — callers that
# want neither filter for it themselves.


def tok_array(lower: bool = False) -> Column:
    """The token array of the `text` column (lower-cased first if
    `lower`)."""
    return F.split(F.lower("text") if lower else F.col("text"), " ")


def tok_array_sql(lower: bool = False) -> str:
    """DuckDB twin of tok_array."""
    return f"string_split({'lower(text)' if lower else 'text'}, ' ')"


def n_tokens() -> Column:
    """Token count of the `text` column (NULL for NULL text)."""
    return F.size(tok_array())


def n_tokens_sql() -> str:
    """DuckDB twin of n_tokens."""
    return f"len({tok_array_sql()})"


def vocab_array() -> Column:
    """The vocabulary normalization: lower-cased tokens with the empty
    tokens of doubled or trailing spaces dropped."""
    return F.filter(tok_array(lower=True), lambda x: x != "")


def vocab_array_sql() -> str:
    """DuckDB twin of vocab_array."""
    return f"list_filter({tok_array_sql(lower=True)}, x -> x <> '')"


def tokens(df: DataFrame, *keys: str) -> DataFrame:
    """(keys…, tok) token stream; keys default to doc_id."""
    return df.select(*(keys or ("doc_id",)), F.explode(tok_array()).alias("tok"))


def tokens_sql(keys: str = "doc_id") -> str:
    """DuckDB twin of tokens over `documents`."""
    return f"SELECT {keys}, unnest({tok_array_sql()}) AS tok FROM documents"


def vocab_tokens(df: DataFrame, *keys: str) -> DataFrame:
    """(keys…, tok) stream of vocab_array tokens — the shared stream of
    the vocabulary-level stats (zipf, OOV, hapax, entropy, JS shift)."""
    return df.select(
        *(keys or ("doc_id",)), F.explode(vocab_array()).alias("tok")
    )


def vocab_tokens_sql(keys: str = "doc_id") -> str:
    """DuckDB twin of vocab_tokens over `documents`."""
    return f"SELECT {keys}, unnest({vocab_array_sql()}) AS tok FROM documents"


def posexplode_sql(arr: str, val: str, pos: str) -> str:
    """DuckDB twin of F.posexplode(arr).alias(pos, val): 0-based
    positions zipped with the elements."""
    return f"unnest({arr}) AS {val}, generate_subscripts({arr}, 1) - 1 AS {pos}"


# ---------------------------------------------------------------------------
# Rule 2, the sliding n-gram window: gram i joins tokens i..i+n-1 with one
# space. A doc shorter than n tokens has two edge rules, both in use:
# whole=True yields its whole text as the one gram (shingles, anchors,
# contamination), whole=False yields no gram (bigram models, sketches).
# NULL text has no gram under either rule.


def _joined(ts: Column, starts: Column, width: int) -> Column:
    """For each start i, tokens i..i+width-1 of `ts` joined by spaces."""
    return F.transform(starts, lambda i: F.concat_ws(" ", F.slice(ts, i + 1, width)))


def _joined_sql(ts: str, starts: str, width: int) -> str:
    """DuckDB twin of _joined."""
    return (
        f"list_transform({starts}, "
        f"i -> array_to_string({ts}[i + 1 : i + {width}], ' '))"
    )


def grams(ts: Column, n: int, whole: bool) -> Column:
    """The n-gram array of token array `ts` under the chosen edge rule."""
    size = F.size(ts)
    if not whole:
        # guarded: sequence(0, -1) would count DOWN for a 1-token doc
        starts = F.when(size >= n, F.sequence(F.lit(0), size - n)).otherwise(
            F.array().cast("array<int>")
        )
        return _joined(ts, starts, n)
    # guarded: greatest() skips a NULL size, so NULL text would mint a
    # '' gram here (and a NULL one in DuckDB)
    starts = F.sequence(F.lit(0), F.greatest(size - n, F.lit(0)))
    return F.when(ts.isNotNull(), _joined(ts, starts, n))


def grams_sql(ts: str, n: int, whole: bool) -> str:
    """DuckDB twin of grams over the list expression `ts`."""
    starts = f"range(greatest(len({ts}) - {n - 1}, {int(whole)}))"
    out = _joined_sql(ts, starts, n)
    return f"CASE WHEN {ts} IS NOT NULL THEN {out} END" if whole else out


def shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct pairs: the whole-rule n-grams of every
    doc with text.

    Null/empty text is excluded up front: an empty doc's whole-doc gram
    is '' — an artificial hot shingle that would equi-join every empty
    doc against every other (quadratic on exactly the rows that carry
    no content)."""
    clean = df.filter(F.col("text").isNotNull() & (F.length("text") > 0))
    sh = F.array_distinct(grams(tok_array(), n, whole=True))
    return clean.select("doc_id", F.explode(sh).alias("shingle"))


def shingles_sql(src: str, n: int = 3) -> str:
    """DuckDB twin of shingles over table `src`."""
    return f"""SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, unnest({grams_sql(tok_array_sql(), n, True)}) AS shingle
        FROM {src} WHERE text IS NOT NULL AND text <> ''
      )"""


# ---------------------------------------------------------------------------
# Rule 3, the tumbling segment window: segments start at 0, step, 2·step…
# below the token count, each `width` tokens long (clipped at the end). A
# doc of at most one token — and NULL text — still gets the start 0.


def seg_starts(ts: Column, step: int) -> Column:
    """Start offsets of the tumbling window over token array `ts`."""
    return F.sequence(F.lit(0), F.greatest(F.size(ts) - 1, F.lit(0)), F.lit(step))


def seg_starts_sql(ts: str, step: int) -> str:
    """DuckDB twin of seg_starts."""
    return f"generate_series(0, greatest(len({ts}) - 1, 0), {step})"


def segments(ts: Column, width: int) -> Column:
    """The tumbling `width`-token segments of `ts`, as strings; NULL
    text has none (the grams guard)."""
    return F.when(ts.isNotNull(), _joined(ts, seg_starts(ts, width), width))


def segments_sql(ts: str, width: int) -> str:
    """DuckDB twin of segments."""
    out = _joined_sql(ts, seg_starts_sql(ts, width), width)
    return f"CASE WHEN {ts} IS NOT NULL THEN {out} END"


@register(
    "q_text_tokens",
    oracle=f"""
    SELECT tok, count(*) AS n, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
    FROM ({tokens_sql()})
    GROUP BY tok
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency + document frequency over the corpus."""
    d = load_table(spark, sf_dir, "documents")
    return tokens(d).groupBy("tok").agg(
        F.count("*").alias("n"), F.countDistinct("doc_id").alias("df")
    )


@register(
    "q_text_tfidf",
    oracle=f"""
    WITH toks AS ({tokens_sql()}),
    tf AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1)
    SELECT tf.doc_id, tf.tok,
           round(tf.cnt * ln((SELECT CAST(count(*) AS DOUBLE) FROM documents)
                             / dfreq.df), 6) AS tfidf
    FROM tf JOIN dfreq ON tf.tok = dfreq.tok
    WHERE tf.doc_id < 50
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (doc, term): tf × ln(N/df). The df table is tiny
    (vocabulary-sized) → broadcast back onto the tf side. Corpus size N is
    a 1-row aggregate cross-joined in (broadcast), keeping the whole query
    ONE Spark job — a driver-side d.count() would scan the table in a
    separate job before the real one starts.

    df derives FROM the tf aggregate (tf rows are already distinct
    (doc, term), so counting them per term IS count-distinct-docs) —
    this drops the countDistinct Expand that doubled the df-side shuffle
    rows. The two tf subplans still scan separately, and that is the
    plan you want: the probe side's doc_id < 50 filter pushes through
    the per-doc aggregate to its scan (50 docs exploded), so only the
    df side pays the full-corpus explode."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(d)
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_df = d.agg(F.count("*").cast("double").alias("__n"))
    return (
        tf.join(F.broadcast(df), "tok")
        .filter(F.col("doc_id") < 50)
        .crossJoin(F.broadcast(n_df))
        .select(
            "doc_id",
            "tok",
            F.round(F.col("tf") * F.log(F.col("__n") / F.col("df")), 6).alias(
                "tfidf"
            ),
        )
    )


@register(
    "q_text_sentiment",
    oracle=f"""
    WITH toks AS ({tokens_sql()})
    SELECT doc_id,
           round(sum(CASE WHEN tok IN ('fast', 'small', 'value', 'key', 'spark') THEN 1
                          WHEN tok IN ('slow', 'big', 'dup') THEN -1
                          ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS sentiment
    FROM toks GROUP BY doc_id
    """,
)
def q_text_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment: mean polarity of matched tokens per doc
    (lexicon = literal broadcast list; no join shuffle)."""
    d = load_table(spark, sf_dir, "documents")
    polarity = (
        F.when(F.col("tok").isin(*POSITIVE), 1)
        .when(F.col("tok").isin(*NEGATIVE), -1)
        .otherwise(0)
    )
    return (
        tokens(d)
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(polarity) / F.count("*").cast("double"), 6
            ).alias("sentiment")
        )
    )


@register(
    "q_lang_stats",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(avg(n_chars), 4) AS avg_chars,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang, source
    """,
)
def q_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language/source corpus statistics."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "q_text_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {tok_array_sql()} AS toks, n_chars FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_toks,
           CAST(len(list_distinct(toks)) AS INT) AS n_uniq,
           round(len(list_filter(toks, t -> t IN ('a', 'the')))
                 / CAST(len(toks) AS DOUBLE), 6) AS stop_ratio,
           round(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 6) AS uniq_ratio,
           round(CAST(n_chars AS DOUBLE) / len(toks), 4) AS chars_per_tok
    FROM t
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features per doc: token count, distinct ratio,
    stopword ratio, chars/token — standard pre-training corpus filters,
    all array built-ins (no explode, no shuffle)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tok_array()
    n_toks = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return d.select(
        "doc_id",
        n_toks.alias("n_toks"),
        n_uniq.alias("n_uniq"),
        F.round(n_stop / n_toks.cast("double"), 6).alias("stop_ratio"),
        F.round(n_uniq / n_toks.cast("double"), 6).alias("uniq_ratio"),
        F.round(F.col("n_chars").cast("double") / n_toks, 4).alias("chars_per_tok"),
    )


def quality_gate(df: DataFrame, *cols: str) -> DataFrame:
    """(cols…, n_toks, stop_ratio) of the docs that pass the curation
    quality gate (>= 30 tokens, stopword ratio <= 0.2) — one definition
    for the batch pipeline (q_pipeline_curate) and the ingest stream
    (streaming/curation.py), so batch ≡ stream holds by construction."""
    toks = tok_array()
    n = F.size(toks)
    stops = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return df.select(
        *cols, n.alias("n_toks"), (stops / n.cast("double")).alias("stop_ratio")
    ).filter((F.col("n_toks") >= 30) & (F.col("stop_ratio") <= 0.2))


# DuckDB twin of langid_predictions: `pred` holds each doc's winning
# (p_lang, hits) joined with its labeled lang.
_LANGID_SQL = f"""
    WITH toks AS ({tokens_sql(keys="doc_id, lang")}),
    freq AS (
      -- profiles come from LABELED docs only: an unlabeled (NULL-lang)
      -- doc must not mint a NULL-language profile (whose tie-break
      -- position would also differ between engine NULL orderings)
      SELECT lang, tok, count(*) AS n,
             row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tok) AS rn
      FROM toks WHERE lang IS NOT NULL GROUP BY lang, tok
    ),
    profile AS (SELECT lang AS p_lang, tok FROM freq WHERE rn <= 8),
    overlap AS (
      SELECT t.doc_id, p.p_lang, count(DISTINCT t.tok) AS hits
      FROM (SELECT DISTINCT doc_id, tok FROM toks) t
      JOIN profile p USING (tok)
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT doc_id, p_lang, hits,
             row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, p_lang) AS rn
      FROM overlap
    ),
    pred AS (
      SELECT r.doc_id, r.p_lang, r.hits, d.lang FROM ranked r
      JOIN documents d ON r.doc_id = d.doc_id WHERE r.rn = 1
    )"""


@register(
    "q_text_langid",
    oracle=_LANGID_SQL
    + """
    SELECT doc_id, p_lang AS pred_lang, CAST(hits AS BIGINT) AS hits,
           (p_lang = lang) AS correct
    FROM pred
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: per-language top-8 token profile (built from
    the corpus), docs classified by max distinct-token overlap (ties →
    lexicographic lang). The profile is vocabulary-sized → broadcast."""
    best = langid_predictions(spark, sf_dir)
    return best.select(
        "doc_id",
        F.col("p_lang").alias("pred_lang"),
        F.col("hits").cast("long").alias("hits"),
        (F.col("p_lang") == F.col("lang")).alias("correct"),
    )


def langid_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, p_lang, hits, lang): the langid classifier's winning
    prediction per doc joined with the labeled lang — shared by
    q_text_langid (per-doc readout) and q_langid_confusion (the
    aggregated label-agreement matrix)."""
    d = load_table(spark, sf_dir, "documents")
    # toks feeds BOTH the profile build and the per-doc overlap — without
    # materializing, the scan + explode runs twice (it was 14 exchanges)
    toks = materialize(tokens(d, "doc_id", "lang"))
    # profiles from LABELED docs only (mirrors the oracle's WHERE lang
    # IS NOT NULL): unlabeled docs are classified but never train
    freq = (
        toks.filter(F.col("lang").isNotNull())
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("n"))
    )
    w = W.partitionBy("lang").orderBy(F.col("n").desc(), "tok")
    profile = (
        freq.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 8)
        .select(F.col("lang").alias("p_lang"), "tok")
    )
    doc_toks = toks.select("doc_id", "tok").distinct()
    overlap = (
        doc_toks.join(F.broadcast(profile), "tok")
        .groupBy("doc_id", "p_lang")
        .agg(F.countDistinct("tok").alias("hits"))
    )
    w2 = W.partitionBy("doc_id").orderBy(F.col("hits").desc(), "p_lang")
    best = overlap.withColumn("rn", F.row_number().over(w2)).filter(F.col("rn") == 1)
    return best.join(d.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "p_lang", "hits", "lang"
    )


@register(
    "q_text_bigram_ppl",
    oracle=f"""
    WITH bigrams AS (
      SELECT doc_id, unnest({grams_sql(tok_array_sql(), 2, False)}) AS big
      FROM documents
    ),
    cb AS (SELECT big, count(*) AS n FROM bigrams GROUP BY 1),
    cf AS (SELECT string_split(big, ' ')[1] AS first_tok, count(*) AS n
           FROM bigrams GROUP BY 1)
    SELECT b.doc_id,
           round(avg(ln(CAST(cb.n AS DOUBLE) / cf.n)), 6) AS avg_logprob,
           count(*) AS n_bigrams
    FROM bigrams b
    JOIN cb ON b.big = cb.big
    JOIN cf ON string_split(b.big, ' ')[1] = cf.first_tok
    GROUP BY b.doc_id
    """,
)
def q_text_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained bigram language-model score per doc: mean
    ln P(tok_i | tok_{i-1}) with MLE probabilities from the corpus itself
    (count(bigram)/count(first-token-as-bigram-start)). The quality-scoring
    signal a pre-training pipeline uses to rank documents by fluency.
    Model tables are vocabulary²-bounded → broadcast joins."""
    d = load_table(spark, sf_dir, "documents")
    bigrams = d.select(
        "doc_id", F.explode(grams(tok_array(), 2, whole=False)).alias("big")
    )
    cb = bigrams.groupBy("big").agg(F.count("*").alias("cbn"))
    first = F.split("big", " ")[0]
    cf = bigrams.groupBy(first.alias("first_tok")).agg(F.count("*").alias("cfn"))
    scored = (
        bigrams.join(F.broadcast(cb), "big")
        .join(F.broadcast(cf), first == F.col("first_tok"))
    )
    return scored.groupBy("doc_id").agg(
        F.round(
            F.avg(F.log(F.col("cbn").cast("double") / F.col("cfn"))), 6
        ).alias("avg_logprob"),
        F.count("*").alias("n_bigrams"),
    )


@register(
    "q_text_tokens_bpe",
    oracle=f"""
    SELECT doc_id,
           CAST({n_tokens_sql()} AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]{{1,3}}')) AS INT) AS sub_tokens,
           round(CAST(len(regexp_extract_all(text, '[a-z]{{1,3}}')) AS DOUBLE)
                 / {n_tokens_sql()}, 4) AS subs_per_word
    FROM documents
    """,
)
def q_text_tokens_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace words and a BPE-ish greedy
    subword regex (≤3-letter chunks) — the cheap stand-in for a real
    tokenizer when budgeting token counts over a corpus. Pure regex both
    engines (greedy semantics agree)."""
    d = load_table(spark, sf_dir, "documents")
    ws = n_tokens()
    subs = F.size(F.regexp_extract_all("text", F.lit("[a-z]{1,3}"), F.lit(0)))
    return d.select(
        "doc_id",
        ws.alias("ws_tokens"),
        subs.alias("sub_tokens"),
        F.round(subs.cast("double") / ws, 4).alias("subs_per_word"),
    )


@register(
    "q_text_contamination",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, unnest({grams_sql(tok_array_sql(), 4, True)}) AS shingle
        FROM documents WHERE text IS NOT NULL
      )
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 5)
    SELECT d.doc_id, count(*) AS n_hits
    FROM sh d JOIN bench b ON d.shingle = b.shingle
    WHERE d.doc_id >= 5
    GROUP BY d.doc_id
    """,
)
def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: which training docs contain
    4-gram sequences from a held-out "benchmark" set (here: docs 0-4 play
    the benchmark)? The standard train/test-overlap scrub before
    pre-training. The benchmark shingle set is tiny → broadcast; the
    corpus side streams through with one hash join, no shuffle of the
    corpus beyond the per-doc count."""
    # NULL-payload contract: only docs with text enter, in both
    # engines (a NULL text has no gram, so it could never match)
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    sh4 = F.array_distinct(grams(tok_array(), 4, whole=True))
    sh = d.select("doc_id", F.explode(sh4).alias("shingle"))
    bench = (
        sh.filter(F.col("doc_id") < 5).select("shingle").distinct()
    )
    corpus = sh.filter(F.col("doc_id") >= 5)
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


@register(
    "q_text_repetition",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {tok_array_sql()} AS ts
      FROM documents WHERE text IS NOT NULL
    ),
    g AS (SELECT doc_id, ts, {grams_sql("ts", 2, False)} AS bigs FROM t)
    SELECT doc_id,
           round(1.0 - len(list_distinct(ts)) / CAST(greatest(len(ts), 1) AS DOUBLE), 4)
             AS dup_token_ratio,
           round(1.0 - len(list_distinct(bigs)) / CAST(greatest(len(bigs), 1) AS DOUBLE), 4)
             AS dup_bigram_ratio,
           (1.0 - len(list_distinct(bigs)) / CAST(greatest(len(bigs), 1) AS DOUBLE)) > 0.5
             AS is_repetitive
    FROM g
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-ratio quality signal (the classic pre-training filter:
    boilerplate and spam repeat themselves): fraction of duplicate tokens
    and duplicate bigrams per doc, plus a threshold flag. Computed entirely
    with array expressions on the token array — no explode, no shuffle;
    the whole query is a projection over the scan. NULL text filters at
    the scan in both engines (payload rule): it has no tokens to
    repeat."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    ts = tok_array()
    bigs = grams(ts, 2, whole=False)
    dup_tok = 1.0 - F.size(F.array_distinct(ts)) / F.greatest(
        F.size(ts), F.lit(1)
    ).cast("double")
    dup_big = 1.0 - F.size(F.array_distinct(bigs)) / F.greatest(
        F.size(bigs), F.lit(1)
    ).cast("double")
    return d.select(
        "doc_id",
        F.round(dup_tok, 4).alias("dup_token_ratio"),
        F.round(dup_big, 4).alias("dup_bigram_ratio"),
        (dup_big > 0.5).alias("is_repetitive"),
    )


@register(
    "q_text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           -- NULL text has no fingerprint: without the CASE, DuckDB's
           -- list_prepend(0, NULL) yields [0] and reduces to 0 while
           -- Spark's aggregate(NULL, ...) NULL-propagates
           CASE WHEN text IS NULL THEN NULL ELSE
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform({tok_array_sql()},
                                t -> CAST(ascii(t) * 31 + length(t) AS BIGINT))),
               (acc, x) -> (acc * 1000003 + x) % 2147483647
             )
           END AS fingerprint
    FROM documents
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint over the token stream:
    h ← (h·1000003 + ascii(tok[0])·31 + len(tok)) mod 2^31-1. Same exact
    integer arithmetic both engines (values bounded « 2^63 → ANSI-safe)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint_expr().alias("fingerprint"))


def fingerprint_expr():
    """The rolling-hash fingerprint as a reusable Column (shared by
    q_text_fingerprint and the streaming ingest dedup)."""
    tok_codes = F.transform(
        tok_array(),
        lambda t: (F.ascii(t) * 31 + F.length(t)).cast("long"),
    )
    return F.aggregate(
        tok_codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 1000003 + x) % 2147483647,
    )


@register(
    "q_text_dup_fraction",
    oracle=f"""
    WITH sh AS ({shingles_sql("documents")}),
    df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           floor(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END)
                 * 1.0 / count(*) * 10000 + 0.5) / 10000 AS dup_frac
    FROM sh JOIN df USING (shingle)
    GROUP BY sh.doc_id
    """,
)
def q_text_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-text fraction: the share of a doc's distinct
    3-gram shingles that occur in at least one OTHER document — the
    Gopher/RefinedWeb-style corpus-overlap quality signal (docs made of
    boilerplate score near 1, unique prose near 0).

    Shape at 100 TB: shingle explode → one groupBy(shingle) for document
    frequency (map-side combined; the df table is shuffled once on the
    shingle key, where the explode already hash-partitions) → join back →
    per-doc aggregate. No self-join, no pair enumeration — cost is
    O(total shingles), unlike the dedup family's candidate generation.
    Shingles stay strings here (not s64-hashed) so the DuckDB oracle
    replays the grouping exactly; the hot path q_dedup_* family is where
    the fixed-width optimization pays."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = shingles(d, 3)
    df = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    dup_frac = F.floor(
        F.sum((F.col("df") >= 2).cast("int"))
        / F.count("*")
        * 10000
        + F.lit(0.5)
    ) / 10000
    return (
        sh.join(df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            dup_frac.alias("dup_frac"),
        )
    )


_CHUNK = 32
_STRIDE = 24


@register(
    "q_text_chunk",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {tok_array_sql()} AS ts, {n_tokens_sql()} AS n
      FROM documents WHERE text IS NOT NULL
    ),
    s AS (
      SELECT doc_id, ts, n, unnest({seg_starts_sql("ts", _STRIDE)}) AS start_tok
      FROM t
    )
    SELECT doc_id,
           CAST(start_tok // {_STRIDE} AS INTEGER) AS chunk_idx,
           CAST(start_tok AS INTEGER) AS start_tok,
           CAST(least({_CHUNK}, n - start_tok) AS INTEGER) AS n_toks,
           ts[start_tok + 1] AS first_tok,
           ts[start_tok + least({_CHUNK}, n - start_tok)] AS last_tok
    FROM s
    """,
)
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking for context-length-bounded training: split
    each document into 32-token chunks on a 24-token stride (8-token
    overlap), the standard pack-into-context preprocessing step. Emits
    per chunk its index, start offset, length, and first/last token —
    scalar claim columns that pin the exact chunk boundaries without
    shipping token arrays through the driver's hasher.

    Shape at 100 TB: pure narrow work — tokenize, generate the start
    offsets, explode — no shuffle, no UDF; the explode fan-out is
    len/stride per doc and stays inside whole-stage codegen. Writers
    partition the chunk stream straight to parquet. NULL text filters
    at the scan in both engines (payload rule): it has no chunk."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    ts = tok_array()
    s = d.select(
        "doc_id",
        ts.alias("ts"),
        F.size(ts).alias("n"),
        F.explode(seg_starts(ts, _STRIDE)).alias("start_tok"),
    )
    n_toks = F.least(F.lit(_CHUNK), F.col("n") - F.col("start_tok"))
    return s.select(
        "doc_id",
        (F.col("start_tok") / _STRIDE).cast("int").alias("chunk_idx"),
        F.col("start_tok").cast("int").alias("start_tok"),
        n_toks.cast("int").alias("n_toks"),
        F.element_at("ts", F.col("start_tok") + 1).alias("first_tok"),
        F.element_at("ts", F.col("start_tok") + n_toks).alias("last_tok"),
    )


_BM25_TERMS = ("spark", "merge", "sort")
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "q_text_bm25",
    oracle=f"""
    WITH toks AS ({tokens_sql()}),
    dl AS (
      SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl
    ),
    tf AS (
      SELECT doc_id, tok AS term, CAST(count(*) AS DOUBLE) AS tf
      FROM toks WHERE tok IN ('spark', 'merge', 'sort')
      GROUP BY doc_id, tok
    ),
    df AS (
      SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
    )
    SELECT tf.doc_id, tf.term,
           round(
             ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * ({_BM25_K1} + 1))
             / (tf.tf + {_BM25_K1}
                * (1 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl)),
             4) AS bm25
    FROM tf
    JOIN df ON tf.term = df.term
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    """,
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) relevance of every document against a fixed
    keyword set — the lexical-retrieval scorer a RAG/data-curation stack
    runs next to embedding search.

    One explode produces the token stream; doc lengths, per-term tf, and
    corpus df/avgdl are all groupBys over it with map-side partials. The
    corpus-level scalars (N, avgdl) and the tiny per-term df table ride
    broadcast joins, so the only shuffle is the (doc, term) tf groupBy.
    The scoring formula is built from the same integer counts in both
    engines with identical association order, so the doubles agree
    bit-for-bit before rounding. At 100 TB the shape is unchanged — the
    term filter prunes the exploded stream before its shuffle, and a
    real inverted-index build is this same query grouped by term."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens(d)
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("double").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toks.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", F.col("tok").alias("term"))
        .agg(F.count("*").cast("double").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(1 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    score = idf * (F.col("tf") * (_BM25_K1 + 1)) / (
        F.col("tf")
        + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(df), "term")
        .join(F.broadcast(dl), "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", F.round(score, 4).alias("bm25"))
    )


@register(
    "q_text_zipf",
    oracle=f"""
    WITH tf AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS freq
      FROM ({vocab_tokens_sql()}) GROUP BY tok
    ),
    ranked AS (
      SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, tok) AS DOUBLE))
               AS lr,
             ln(CAST(freq AS DOUBLE)) AS lf
      FROM tf
    )
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           round(regr_slope(lf, lr), 4) + 0.0 AS zipf_slope,
           round(corr(lf, lr) * corr(lf, lr), 4) + 0.0 AS zipf_r2
    FROM ranked
    """,
)
def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus vocabulary: log-log OLS slope of term
    frequency against frequency rank (natural text ≈ −1; a synthetic or
    templated corpus shows up immediately in the slope/R²) — a cheap
    corpus-health check before training.

    Term counting is explode + one groupBy (map-side combined); the
    rank window and the regression run over one row per VOCABULARY term,
    which is dwarfed by the corpus (even web-scale vocab is ~10⁸ rows ≈
    one executor). F.regr_slope / F.regr_r2 are the same covar_pop /
    var_pop definitions DuckDB uses."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        vocab_tokens(d)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = tf.select(
        F.log(
            F.row_number()
            .over(W.orderBy(F.col("freq").desc(), "tok"))
            .cast("double")
        ).alias("lr"),
        F.log(F.col("freq").cast("double")).alias("lf"),
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        # + 0.0 collapses IEEE -0.0 (semistructured.py convention)
        (F.round(F.regr_slope(F.col("lf"), F.col("lr")), 4) + 0.0).alias(
            "zipf_slope"
        ),
        (F.round(F.regr_r2(F.col("lf"), F.col("lr")), 4) + 0.0).alias(
            "zipf_r2"
        ),
    )


@register(
    "q_text_vocab_coverage",
    oracle=f"""
    WITH t AS ({vocab_tokens_sql()}),
    v AS (
      SELECT tok FROM (
        SELECT tok, count(*) AS c FROM t GROUP BY tok
        ORDER BY c DESC, tok LIMIT 20
      )
    ),
    p AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(count(v.tok) AS BIGINT) AS n_iv
      FROM t LEFT JOIN v ON t.tok = v.tok
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_tokens, 0) AS n_tokens,
           round((p.n_tokens - p.n_iv) / CAST(p.n_tokens AS DOUBLE), 4)
             AS oov_rate
    FROM documents d LEFT JOIN p USING (doc_id)
    """,
)
def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own top-20
    token vocabulary — the tokenizer-fit / domain-shift screen run before
    training (a doc whose tokens mostly miss the vocabulary inflates
    sequence length and degrades the token budget).

    The vocabulary is a 20-row broadcast (top-k by frequency with a
    total tie order), so the per-occurrence membership test is a
    broadcast-hash join — no shuffle touches the exploded token stream
    except the per-doc reduce. Docs with no tokens surface with
    n_tokens=0 and NULL rate via the outer join, not silently dropped."""
    d = load_table(spark, sf_dir, "documents")
    toks = vocab_tokens(d)
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(20)
        .select("tok", F.lit(True).alias("iv"))
    )
    per_doc = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count("iv").alias("n_iv"),
        )
    )
    return d.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
        F.round(
            (F.col("n_tokens") - F.col("n_iv"))
            / F.col("n_tokens").cast("double"),
            4,
        ).alias("oov_rate"),
    )


_POSTING_CAP = 5  # impact-ordered posting prefix kept per term
_II_MIN_DF = 50  # index only terms appearing in ≥50 docs (head vocab)


@register(
    "q_text_inverted_index",
    oracle=f"""
    WITH td AS (
      SELECT tok AS term, doc_id, count(*) AS tf
      FROM ({vocab_tokens_sql()}) GROUP BY 1, 2
    ),
    w AS (
      SELECT term, doc_id, tf,
             count(*) OVER (PARTITION BY term) AS df,
             sum(tf) OVER (PARTITION BY term) AS tf_total,
             row_number() OVER (PARTITION BY term
               ORDER BY tf DESC, doc_id) AS rn
      FROM td
    )
    SELECT term, CAST(df AS BIGINT) AS df,
           CAST(tf_total AS BIGINT) AS tf_total,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rn) AS top_docs
    FROM w
    WHERE df >= {_II_MIN_DF} AND rn <= {_POSTING_CAP}
    GROUP BY term, df, tf_total
    """,
)
def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction for the head vocabulary: per term its
    document frequency, total term frequency, and an impact-ordered
    posting prefix (top-5 docs by tf, ties by doc_id) — the retrieval
    artifact BM25 (q_text_bm25) would serve from at query time.

    The posting CAP is the skew guard: a stopword's full posting list is
    O(corpus) and would concentrate on one reducer; capping to the
    highest-impact prefix (how impact-ordered indexes bound early
    termination) keeps every term's output row bounded. Shape: one
    groupBy(term, doc) for tf, then window + final groupBy all on the
    SAME term key — the explode's hash partitioning is reused, no second
    wide shuffle. collect_list order is made deterministic by sorting
    the (rank, doc) structs, never by relying on arrival order. The
    posting prefix is serialized to one CSV string (the q_agg_collect
    precedent, operators/aggregates.py): identical semantics, but
    scalar-typed output so the driver's pandas-based value hasher —
    which cannot factorize list cells — can process the column."""
    d = load_table(spark, sf_dir, "documents")
    td = vocab_tokens(d).groupBy(
        F.col("tok").alias("term"), "doc_id"
    ).agg(F.count("*").alias("tf"))
    wt = W.partitionBy("term")
    w = td.select(
        "term",
        "doc_id",
        "tf",
        F.count("*").over(wt).alias("df"),
        F.sum("tf").over(wt).alias("tf_total"),
        F.row_number()
        .over(wt.orderBy(F.col("tf").desc(), "doc_id"))
        .alias("rn"),
    )
    return (
        w.filter(
            (F.col("df") >= _II_MIN_DF) & (F.col("rn") <= _POSTING_CAP)
        )
        .groupBy("term", "df", "tf_total")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("rn", "doc_id"))),
                    lambda x: x["doc_id"].cast("string"),
                ),
                ",",
            ).alias("top_docs")
        )
    )


@register(
    "q_text_keyphrase",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {posexplode_sql(tok_array_sql(lower=True), "tok", "pos")}
      FROM documents
    ),
    big AS (
      SELECT tok AS w1,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM tok
    ),
    bc AS (
      SELECT w1, w2, count(*) AS n_xy FROM big
      WHERE w2 IS NOT NULL GROUP BY 1, 2
    ),
    uc AS (SELECT tok AS w, count(*) AS n FROM tok GROUP BY tok),
    tot AS (SELECT count(*) AS n_tok FROM tok)
    SELECT w1, w2, CAST(n_xy AS BIGINT) AS n_xy,
           round(n_xy * log2(n_xy * 1.0 * n_tok / (u1.n * u2.n)), 4) + 0.0
             AS score
    FROM bc
    JOIN uc u1 ON bc.w1 = u1.w
    JOIN uc u2 ON bc.w2 = u2.w
    CROSS JOIN tot
    WHERE n_xy >= 5
    ORDER BY round(n_xy * log2(n_xy * 1.0 * n_tok / (u1.n * u2.n)), 4)
             DESC, n_xy DESC, w1, w2
    LIMIT 20
    """,
    tags=("text",),
)
def q_text_keyphrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation / keyphrase extraction: the top-20 adjacent bigrams
    ranked by mutual-information contribution n_xy · PMI(w1,w2) — high
    when a pair co-occurs far above chance AND often enough to matter
    (raw PMI alone surfaces one-off rare pairs; the n_xy weight is the
    standard fix).

    Bigrams come from a per-document lead window over token positions
    (one shuffle on doc_id, bounded by document length), unigram and
    bigram counts are map-side-combined groupBys, and the corpus total
    joins back as a broadcast scalar — the same explode→count→broadcast
    shape as q_text_bm25. The top-20 boundary is decided on the 4-dp
    ROUNDED score (then n_xy, then the bigram text): JVM and DuckDB libm
    may disagree by 1 ulp on log2, so ranking on the raw double is a
    latent cross-engine reorder at the LIMIT edge — rounding first makes
    near-equal scores exactly equal and the integer/text tiebreaks
    deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(tok_array(lower=True)).alias("pos", "tok"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    big = tok.select(
        F.col("tok").alias("w1"), F.lead("tok").over(w).alias("w2")
    ).filter(F.col("w2").isNotNull())
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_xy"))
    uc = tok.groupBy(F.col("tok").alias("w")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = tok.agg(F.count(F.lit(1)).alias("n_tok"))
    u1 = uc.select(F.col("w").alias("w1"), F.col("n").alias("n1"))
    u2 = uc.select(F.col("w").alias("w2"), F.col("n").alias("n2"))
    scored = (
        bc.filter(F.col("n_xy") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("n_xy").cast("long").alias("n_xy"),
            (
                F.col("n_xy")
                * F.log2(
                    F.col("n_xy")
                    * F.lit(1.0)
                    * F.col("n_tok")
                    / (F.col("n1") * F.col("n2"))
                )
            ).alias("raw_score"),
        )
    )
    return (
        scored.orderBy(
            F.round("raw_score", 4).desc(), F.col("n_xy").desc(), "w1", "w2"
        )
        .limit(20)
        .select(
            "w1",
            "w2",
            "n_xy",
            (F.round("raw_score", 4) + 0.0).alias("score"),
        )
    )


@register(
    "q_text_hapax",
    oracle=f"""
    WITH tok AS ({vocab_tokens_sql()}),
    freq AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok)
    SELECT CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dis_legomena,
           round(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
             AS hapax_ratio,
           round(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1.0 / sum(n), 6)
             AS good_turing_p0
    FROM freq
    """,
)
def q_text_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-health readout: hapax legomena (once-seen types), dis
    legomena (twice-seen), the hapax share of the vocabulary, and the
    Good-Turing unseen-mass estimate N₁/N — the number a corpus curator
    watches while scaling data (a healthy natural corpus keeps the hapax
    ratio roughly stable; a collapsing one signals dedup failure or
    synthetic repetition, complementing q_text_zipf's slope view).

    Two map-side-combined aggregations over the token stream (types,
    then one summary row) — no joins, no windows; the type table is the
    only shuffle and is vocabulary-sized, not corpus-sized."""
    d = load_table(spark, sf_dir, "documents")
    freq = vocab_tokens(d).groupBy("tok").agg(F.count("*").alias("n"))
    one = F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
    two = F.sum(F.when(F.col("n") == 2, 1).otherwise(0))
    return freq.agg(
        F.count("*").alias("vocab_size"),
        one.cast("long").alias("n_hapax"),
        two.cast("long").alias("n_dis_legomena"),
        F.round(one * 1.0 / F.count("*"), 4).alias("hapax_ratio"),
        F.round(one * 1.0 / F.sum("n"), 6).alias("good_turing_p0"),
    )


def token_counts(df: DataFrame) -> DataFrame:
    """(source, tok, c): vocab-token counts per source — the sufficient
    statistic of q_text_entropy and q_text_js_shift, and the state their
    streaming twin (streaming/drift.py) maintains."""
    return (
        vocab_tokens(df, "source")
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )


# DuckDB twin of token_counts over `documents`, as the CTE `tc`.
_TOKEN_COUNTS_SQL = f"""tc AS (
      SELECT source, tok, count(*) AS c
      FROM ({vocab_tokens_sql(keys="source")}) GROUP BY 1, 2
    )"""


@register(
    "q_text_entropy",
    oracle=f"""
    WITH {_TOKEN_COUNTS_SQL},
    tot AS (
      SELECT source, sum(c) AS n, count(*) AS vocab FROM tc GROUP BY 1
    )
    SELECT tc.source,
           CAST(tot.n AS BIGINT) AS n_tokens,
           CAST(tot.vocab AS BIGINT) AS vocab_size,
           round(-sum((c * 1.0 / tot.n) * log2(c * 1.0 / tot.n)), 4) + 0.0
             AS entropy_bits,
           CASE WHEN tot.vocab > 1 THEN
             round(-sum((c * 1.0 / tot.n) * log2(c * 1.0 / tot.n))
                   / log2(tot.vocab * 1.0), 4) + 0.0
           END AS norm_entropy
    -- null-safe join: the Spark side derives totals from a WINDOW, which
    -- keeps a NULL-source group; an equi-join here would drop it
    FROM tc JOIN tot ON tc.source IS NOT DISTINCT FROM tot.source
    GROUP BY tc.source, tot.n, tot.vocab
    """,
    tags=("text",),
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram Shannon entropy H = -Σ p·log₂p plus its
    normalized form H / log₂|V| — the information-density quality signal
    a curator reads next to q_text_zipf's slope and q_text_hapax's tail:
    low entropy flags templated/repetitive sources (boilerplate, spam
    farms), near-1 normalized entropy flags near-uniform token soup
    (random or shuffled text). Both extremes are down-weighted when
    mixing a training corpus.

    Shape: ONE corpus scan — a map-side-combined (source, token) count,
    then the per-source totals come from an unordered window over that
    vocabulary-sized type table (a totals-groupBy-plus-join-back would
    re-derive the counts from a second corpus scan+explode; the window
    reshuffles only types). The entropy sum likewise runs over types,
    not the token stream, so every post-count stage is vocabulary-sized
    at any corpus scale; rounding to 4 dp absorbs summation-order double
    drift between the engines (the repo's ratio convention, registry.py
    header)."""
    tc = token_counts(load_table(spark, sf_dir, "documents"))
    w = W.partitionBy("source")
    j = tc.select(
        "source",
        "c",
        F.sum("c").over(w).alias("n"),
        F.count("*").over(w).alias("vocab"),
    )
    p = F.col("c") * 1.0 / F.col("n")
    # the entropy sum is aggregated ONCE (Catalyst does not CSE
    # aggregate functions — two agg expressions would pay the per-row
    # log2 twice); both rounded columns derive from it in a post-select.
    # norm_entropy is guarded for the single-type vocabulary: log2(1)=0
    # and 0/0 is NULL in Spark but NaN in DuckDB — the CASE makes both
    # engines emit NULL for that (real — fully templated source) shape.
    g = j.groupBy("source", "n", "vocab").agg(
        (-F.sum(p * F.log2(p))).alias("h")
    )
    return g.select(
        "source",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("vocab").cast("long").alias("vocab_size"),
        # + 0.0 collapses IEEE -0.0 (a single-type source's entropy is
        # -sum(0) = -0.0) — semistructured.py convention
        (F.round("h", 4) + 0.0).alias("entropy_bits"),
        (
            F.round(
                F.when(
                    F.col("vocab") > 1,
                    F.col("h") / F.log2(F.col("vocab") * 1.0),
                ),
                4,
            )
            + 0.0
        ).alias("norm_entropy"),
    )


@register(
    "q_langid_confusion",
    oracle=_LANGID_SQL
    + """
    SELECT lang, p_lang AS pred_lang, CAST(count(*) AS BIGINT) AS n,
           -- bare IEEE division: one op over exact integers is
           -- bit-identical cross-engine, so no round()
           count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY lang) AS frac
    FROM pred GROUP BY lang, p_lang
    """,
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-agreement (confusion) matrix for the cheap langid
    classifier against the trusted `lang` column: per (true lang,
    predicted lang) the doc count and its share of that true-lang row —
    the validation readout a pipeline checks BEFORE trusting a heuristic
    classifier to route 100 TB of unlabeled text (the reference has no
    analog; closest is the payload type-routing of
    src/main/java/jc/DemoApplication.java:148-158, which trusts its
    classifier blindly).

    Reuses langid_predictions (one classifier, two readouts — the
    confusion matrix is exactly q_text_langid's stream aggregated), so
    the heavy work stays the classifier's own: one corpus scan, a
    broadcast profile, a doc-keyed window. The confusion rollup adds one
    map-side-combined groupBy on a (langs × langs)-sized key plus a
    window over that tiny aggregate. NULL true-lang docs are classified
    but never train; they surface as a NULL-lang confusion row. The
    share is a bare IEEE division of exact longs (no rounding needed
    cross-engine)."""
    pred = langid_predictions(spark, sf_dir)
    g = pred.groupBy("lang", F.col("p_lang").alias("pred_lang")).agg(
        F.count("*").alias("n")
    )
    w = W.partitionBy("lang")
    return g.select(
        "lang",
        "pred_lang",
        "n",
        (F.col("n") * 1.0 / F.sum("n").over(w)).alias("frac"),
    )


@register(
    "q_text_length_filter",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, n_chars FROM documents WHERE n_chars IS NOT NULL
    ),
    r AS (
      SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM d
    ),
    q AS (
      SELECT lang, max(n) AS n_docs,
             max(CASE WHEN rn = (n * 5 + 99) // 100 THEN n_chars END) AS p05,
             max(CASE WHEN rn = (n * 95 + 99) // 100 THEN n_chars END) AS p95
      FROM r GROUP BY lang
    )
    SELECT q.lang, CAST(q.n_docs AS BIGINT) AS n_docs,
           CAST(q.p05 AS BIGINT) AS p05_chars,
           CAST(q.p95 AS BIGINT) AS p95_chars,
           CAST(sum(CASE WHEN d.n_chars < q.p05 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below,
           CAST(sum(CASE WHEN d.n_chars > q.p95 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above
    FROM d JOIN q ON d.lang IS NOT DISTINCT FROM q.lang
    GROUP BY q.lang, q.n_docs, q.p05, q.p95
    """,
)
def q_text_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language EXACT p05/p95 document-length bounds plus the count
    of outlier docs outside them — the CCNet-style length filter whose
    thresholds must be per-language (Chinese chars ≠ English chars).
    Quantiles are exact rank selection (k = ceil(q·n) via integer
    arithmetic, ties broken by doc_id), not approx_percentile: a FILTER
    boundary that moves between runs or engines is a reproducibility
    bug, and both engines replay the identical rank.

    Shape at 100 TB: one shuffle on lang for the rank window (the
    per-lang sort is the honest cost of an exact quantile; at extreme
    per-lang cardinality this decomposes two-level per DESIGN.md #16),
    then the lang-cardinality quantile table broadcasts back for the
    outlier count — the fact table is scanned, never re-sorted, for
    pass 2. NULL n_chars rows are excluded up front (no length signal);
    NULL lang is a real group (the unlabeled bucket), kept via the
    null-safe join both engines state explicitly."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars").isNotNull())
        .select("doc_id", "lang", "n_chars")
    )
    wl = W.partitionBy("lang")
    r = d.select(
        "lang",
        "n_chars",
        F.row_number()
        .over(wl.orderBy("n_chars", "doc_id"))
        .alias("rn"),
        F.count("*").over(wl).alias("n"),
    )
    q = r.groupBy("lang").agg(
        F.max("n").alias("n_docs"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(n * 5 + 99) div 100"), F.col("n_chars")
            )
        ).alias("p05"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(n * 95 + 99) div 100"),
                F.col("n_chars"),
            )
        ).alias("p95"),
    )
    j = (
        d.alias("d")
        .join(
            F.broadcast(q).alias("q"),
            F.col("d.lang").eqNullSafe(F.col("q.lang")),
        )
        .select(
            F.col("q.lang").alias("lang"),
            "n_docs",
            "p05",
            "p95",
            "n_chars",
        )
    )
    return j.groupBy("lang", "n_docs", "p05", "p95").agg(
        F.sum((F.col("n_chars") < F.col("p05")).cast("long")).alias("n_below"),
        F.sum((F.col("n_chars") > F.col("p95")).cast("long")).alias("n_above"),
    ).select(
        "lang",
        "n_docs",
        F.col("p05").alias("p05_chars"),
        F.col("p95").alias("p95_chars"),
        "n_below",
        "n_above",
    )


@register(
    "q_text_js_shift",
    oracle=f"""
    WITH {_TOKEN_COUNTS_SQL},
    -- corpus totals via STACKED WINDOWS over the one count table (no
    -- groupBy+join-back: that would re-derive the whole scan+explode
    -- on the corpus side; the window form is one corpus pass at any
    -- scale)
    j AS (
      SELECT source, ns,
             c * 1.0 / ns AS p,
             ctok * 1.0 / ntot AS q
      FROM (
        SELECT source, c,
               sum(c) OVER (PARTITION BY source) AS ns,
               sum(c) OVER (PARTITION BY tok) AS ctok,
               sum(c) OVER () AS ntot
        FROM tc
      )
    )
    SELECT source,
           CAST(max(ns) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab_size,
           round(0.5 * sum(p * log2(p / ((p + q) / 2))
                           + q * log2(q / ((p + q) / 2)))
                 + 0.5 * (1 - sum(q)), 4) + 0.0 AS js_bits
    FROM j GROUP BY source
    """,
)
def q_text_js_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Jensen-Shannon divergence (bits) between the source's
    unigram distribution P and the whole-corpus distribution Q — the
    text counterpart of q_dist_shift's numeric PSI: the training-mix
    drift monitor that flags a source whose vocabulary usage has moved
    away from the corpus it is being mixed into (0 = identical mix,
    1 = disjoint vocabularies).

    The JS sum is restricted to the source's OWN vocabulary by algebra,
    not approximation: for tokens absent from the source, P=0 and
    M=Q/2, so their total contribution is 0.5·Σ Q·log2(2) =
    0.5·(1 − Σ_{t∈Vs} Q(t)) — a closed form over the source's rows.
    Shape at 100 TB: the (source, token) count is one map-side-combined
    groupBy; corpus counts are a second groupBy over the TYPE table
    (vocabulary-sized, not token-stream-sized) joined back on the token
    key, so the JS aggregate never touches |sources| × |vocab| rows —
    only Σ_s |Vs|. Rounded to 4 dp per the entropy-family convention
    (absorbs summation-order double drift), +0.0 collapses the
    single-source corpus's -0.0."""
    return js_from_counts(token_counts(load_table(spark, sf_dir, "documents")))


def js_from_counts(tc: DataFrame) -> DataFrame:
    """Per-source JS divergence from a (source, tok, c) count table —
    the count table is the SUFFICIENT STATISTIC for the metric, which is
    what makes the streaming twin (streaming/drift.py) possible: state
    maintains counts (associative, mergeable, exactly-once by
    partition overwrite), and this nonlinear readout runs at read time
    over the maintained counts. Shared verbatim by q_text_js_shift so
    stream ≡ batch is an identity on the readout, not a re-derivation.

    Per-source, per-token and corpus totals all come from STACKED
    WINDOWS over the ONE count table — a groupBy(tok)+join-back for the
    corpus side would make tc feed two consumers, and Catalyst cannot
    reuse the exchange (the corpus side stacks a second aggregation on
    it), so the batch query would scan+explode the corpus TWICE. The
    window form is one corpus pass at any scale. Cost of the
    unpartitioned total window, stated precisely: the
    single-partition sort sees the whole (source, tok) COUNT table —
    Σ_s |V_s| rows, i.e. up to (#sources × vocab), not just one
    vocabulary — fine while the source dimension is a handful of
    labels (the fixture and the training-mix use case: sources are
    corpus buckets, not documents). If source cardinality ever grows
    with the data, switch ntot to a broadcast scalar agg and ctok to
    the tok-partitioned window's own sum — both already tok-local —
    so nothing unpartitioned remains. Measured at sf0.1 the window
    form is ~0.6x the double-scan (within-JVM A/B)."""
    j = tc.select(
        "source",
        "c",
        F.sum("c").over(W.partitionBy("source")).alias("ns"),
        F.sum("c").over(W.partitionBy("tok")).alias("ctok"),
        F.sum("c").over(W.partitionBy()).alias("ntot"),
    )
    p = F.col("c") * 1.0 / F.col("ns")
    q = F.col("ctok") * 1.0 / F.col("ntot")
    m = (p + q) / 2
    j = j.select(
        "source", "ns", (p * F.log2(p / m) + q * F.log2(q / m)).alias("pq"),
        q.alias("qv")
    )
    g = j.groupBy("source").agg(
        F.max("ns").alias("n_tokens"),
        F.count("*").alias("vocab_size"),
        (
            0.5 * F.sum("pq") + 0.5 * (1 - F.sum("qv"))
        ).alias("js_raw"),
    )
    return g.select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "vocab_size",
        (F.round("js_raw", 4) + 0.0).alias("js_bits"),
    )


# Unicode-block classes for the script-mix audit. Regex-level escapes
# (\x{...}, \t) are written so BOTH engines' regex libraries (Java
# util.regex, RE2) see the identical pattern; \s is deliberately NOT
# used (Java's includes \x0B, RE2's does not — the class is spelled
# out). Counts are len(text) - len(text with the class removed): one
# codepoint per match in both engines (Spark length() and DuckDB
# length() both count codepoints).
_SCRIPT_CLASSES = {
    "latin_n": "[A-Za-z]",
    "digit_n": "[0-9]",
    "space_n": "[ \\t\\n\\r]",
    "cyr_n": "[\\x{0400}-\\x{04FF}]",
    "cjk_n": "[\\x{4E00}-\\x{9FFF}]",
    "mojibake_n": "[\\x{FFFD}]",
}


def _script_count_sql(cls: str) -> str:
    return f"length(text) - length(regexp_replace(text, '{cls}', '', 'g'))"


@register(
    "q_text_script_mix",
    oracle=f"""
    WITH c AS (
      SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_cp,
             {", ".join(
                 f"CAST({_script_count_sql(cls)} AS BIGINT) AS {name}"
                 for name, cls in _SCRIPT_CLASSES.items()
             )}
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, lang, n_cp, latin_n, digit_n, space_n, cyr_n, cjk_n,
           mojibake_n,
           n_cp - latin_n - digit_n - space_n - cyr_n - cjk_n AS other_n,
           CASE WHEN latin_n >= cyr_n AND latin_n >= cjk_n AND latin_n > 0
                  THEN 'latin'
                WHEN cyr_n >= cjk_n AND cyr_n > 0 THEN 'cyrillic'
                WHEN cjk_n > 0 THEN 'cjk'
                ELSE 'none' END AS dominant_script,
           (CASE WHEN latin_n > 0 THEN 1 ELSE 0 END
            + CASE WHEN cyr_n > 0 THEN 1 ELSE 0 END
            + CASE WHEN cjk_n > 0 THEN 1 ELSE 0 END) >= 2 AS is_mixed
    FROM c
    """,
)
def q_text_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-script / confusable-text audit: per-document Unicode-block
    histogram (Latin / Cyrillic / CJK / digit / whitespace / other
    codepoint counts), dominant script, a mixed-script flag (≥2 letter
    scripts present — the Cyrillic-о-in-Latin-words spam shape), and a
    mojibake counter (U+FFFD replacement chars — the encoding-damage
    canary). Run BEFORE langid and dedup: mixed-script spam poisons
    n-gram language ID, and mojibake shreds shingle fingerprints.

    Cross-engine determinism: counts are exact integers via the
    len-minus-len-after-removal identity, every character class is
    spelled out at the regex level so Java regex and RE2 parse the
    same set (no \\s — the engines disagree on \\x0B), and dominant/
    mixed are integer CASE logic with a fixed latin>cyrillic>cjk tie
    order. The sf fixtures are pure ASCII, so the Unicode legs are
    exercised by tests/test_unicode.py's synthetic mixed-script
    battery rather than the driver fixture (counts there pin real
    Cyrillic/CJK/mojibake inputs in both engines).

    Shape at 100 TB: a pure per-row projection — ZERO shuffles, scans
    prune to (doc_id, lang, text), and every class count is one
    JVM-side regexp pass over the document (6 passes/doc; chars/doc is
    bounded, so this is scan-bandwidth-bound exactly like the quality
    scorer). NULL text filters at the scan in both engines (payload
    NULL rule)."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    cnt = {
        name: (
            F.length("text")
            - F.length(F.regexp_replace("text", cls, ""))
        ).cast("long")
        for name, cls in _SCRIPT_CLASSES.items()
    }
    c = d.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_cp"),
        *[expr.alias(name) for name, expr in cnt.items()],
    )
    present = (
        F.when(F.col("latin_n") > 0, 1).otherwise(0)
        + F.when(F.col("cyr_n") > 0, 1).otherwise(0)
        + F.when(F.col("cjk_n") > 0, 1).otherwise(0)
    )
    return c.select(
        "doc_id",
        "lang",
        "n_cp",
        "latin_n",
        "digit_n",
        "space_n",
        "cyr_n",
        "cjk_n",
        "mojibake_n",
        (
            F.col("n_cp")
            - F.col("latin_n")
            - F.col("digit_n")
            - F.col("space_n")
            - F.col("cyr_n")
            - F.col("cjk_n")
        ).alias("other_n"),
        F.when(
            (F.col("latin_n") >= F.col("cyr_n"))
            & (F.col("latin_n") >= F.col("cjk_n"))
            & (F.col("latin_n") > 0),
            F.lit("latin"),
        )
        .when(
            (F.col("cyr_n") >= F.col("cjk_n")) & (F.col("cyr_n") > 0),
            F.lit("cyrillic"),
        )
        .when(F.col("cjk_n") > 0, F.lit("cjk"))
        .otherwise(F.lit("none"))
        .alias("dominant_script"),
        (present >= 2).alias("is_mixed"),
    )


@register(
    "q_hist_log2",
    oracle=f"""
    WITH b AS (
      SELECT CASE WHEN n_chars > 0
                  THEN CAST(length(printf('%b', n_chars)) - 1 AS BIGINT)
             END AS bucket
      FROM documents
    ),
    h AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs
      FROM b GROUP BY bucket
    ),
    w AS (
      SELECT bucket, n_docs, sum(n_docs) OVER () AS total FROM h
    )
    SELECT bucket,
           CASE WHEN bucket IS NOT NULL
                THEN (CAST(1 AS BIGINT) << bucket) END AS lo,
           CASE WHEN bucket IS NOT NULL
                THEN (CAST(1 AS BIGINT) << (bucket + 1)) - 1 END AS hi,
           n_docs,
           {ratio6_sql("n_docs", "total")} AS share
    FROM w
    """,
)
def q_hist_log2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two histogram of document lengths: bucket k holds docs
    with 2^k ≤ n_chars < 2^(k+1) — the long-tail readout every corpus
    report leads with (doc lengths are heavy-tailed, so linear buckets
    like q_hist_equiwidth's flatten the tail into one bar; exponential
    buckets resolve it). Non-positive or NULL lengths land in a NULL
    bucket row rather than vanishing (the q_hist_equiwidth NULL-bucket
    lesson).

    Cross-engine determinism: floor(log2(n)) is computed WITHOUT libm —
    Spark counts the bits of bin(n), DuckDB of printf('%b', n); both
    are exact integer bit-lengths, where a float log2 is 1-ulp
    hazardous exactly AT the powers of two that define every bucket
    edge. Bounds come from INTEGER shifts in BOTH engines (Spark
    shiftleft, DuckDB BIGINT << — a double 2**(b+1) is inexact past
    2^53), the share from the
    floor(x·1e6+0.5)/1e6 form on the integer ratio.

    Shape at 100 TB: one map-side-combined aggregation to ≤ ~40 bucket
    rows (pure projection before it — scans prune to n_chars alone),
    then the total rides as a window sum over those rows (single
    consumer, no rejoin). Nothing else moves."""
    d = load_table(spark, sf_dir, "documents").select(
        F.when(
            F.col("n_chars") > 0,
            (F.length(F.bin(F.col("n_chars"))) - 1).cast("long"),
        ).alias("bucket")
    )
    h = d.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_docs"))
    w = h.select(
        "bucket", "n_docs", F.sum("n_docs").over(W.partitionBy()).alias("total")
    )
    return w.select(
        "bucket",
        F.expr(
            "CASE WHEN bucket IS NOT NULL"
            " THEN shiftleft(1L, cast(bucket AS INT)) END"
        ).alias("lo"),
        F.expr(
            "CASE WHEN bucket IS NOT NULL"
            " THEN shiftleft(1L, cast(bucket AS INT) + 1) - 1L END"
        ).alias("hi"),
        "n_docs",
        ratio6("n_docs", "total").alias("share"),
    )


@register(
    "q_text_diversity",
    oracle=f"""
    WITH toks AS (
      SELECT source, {vocab_array_sql()} AS t
      FROM documents WHERE text IS NOT NULL
    ),
    uni AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      FROM toks, unnest(t) AS u(tok) GROUP BY 1, 2
    ),
    u AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n_toks,
             CAST(count(*) AS BIGINT) AS n_uniq_toks
      FROM uni GROUP BY 1
    ),
    bi AS (
      SELECT source, bg, CAST(count(*) AS BIGINT) AS c FROM (
        SELECT source, unnest({grams_sql("t", 2, False)}) AS bg FROM toks
      ) GROUP BY 1, 2
    ),
    b AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n_bigrams,
             CAST(count(*) AS BIGINT) AS n_uniq_bigrams
      FROM bi GROUP BY 1
    )
    SELECT u.source, u.n_toks, u.n_uniq_toks,
           CASE WHEN u.n_toks > 0
                THEN {ratio6_sql("u.n_uniq_toks", "u.n_toks")}
           END AS distinct_1,
           coalesce(b.n_bigrams, 0) AS n_bigrams,
           coalesce(b.n_uniq_bigrams, 0) AS n_uniq_bigrams,
           CASE WHEN coalesce(b.n_bigrams, 0) > 0
                THEN {ratio6_sql("b.n_uniq_bigrams", "b.n_bigrams")}
           END AS distinct_2
    FROM u LEFT JOIN b ON b.source IS NOT DISTINCT FROM u.source
    """,
)
def q_text_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per source: distinct-1 and distinct-2 ratios
    (unique unigrams/bigrams over total — the "distinct-n" metric from
    the NLG diversity literature) — the templated-content detector a
    corpus mix runs next to q_text_zipf: a crawl that re-serves boiler-
    plate shows a normal Zipf slope per doc but a collapsing bigram
    ratio at the source grain, which is exactly where dedup budgets
    (q_corpus_budget) should then be spent.

    Tokens are vocab_array's (lower-cased, empty tokens removed BEFORE
    bigram pairing, so 'a  b' pairs (a,b) in both engines); bigrams
    are grams(t, 2, whole=False), so a <2-token doc contributes none.
    All counts are exact BIGINTs from groupBy; ratios use the
    floor(x·1e6+0.5)/1e6 form with a zero-denominator guard on the
    bigram ratio (a source with tokens but no ≥2-token doc has
    n_bigrams = 0). A source with ZERO tokens emits no row at all —
    exploding its empty token arrays yields nothing in either engine —
    and a NULL source is a legitimate group, rejoined null-safely.

    Shape at 100 TB: two explode→(source, gram) pre-aggregated
    groupBys (map-side combine collapses repeats before the shuffle —
    the shuffle moves DISTINCT grams per source, not token instances),
    each reduced again to |sources| rows, then one tiny join. At web
    scale the gram key should be a 64-bit hash (xxhash64) so the
    shuffle moves 8-byte keys; kept as raw strings here so the oracle
    is exactly co-expressible (the q_corpus_provenance trade).

    Reference parity anchor: no text surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part of
    the beyond-the-reference LLM-data family."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = d.select("source", vocab_array().alias("t"))
    uni = (
        toks.select("source", F.explode("t").alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    u = uni.groupBy("source").agg(
        F.sum("c").alias("n_toks"), F.count(F.lit(1)).alias("n_uniq_toks")
    )
    bi = (
        toks.select("source", F.explode(grams(F.col("t"), 2, False)).alias("bg"))
        .groupBy("source", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    b = bi.groupBy("source").agg(
        F.sum("c").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_uniq_bigrams"),
    )
    n_bi = F.coalesce("n_bigrams", F.lit(0))
    n_ubi = F.coalesce("n_uniq_bigrams", F.lit(0))
    # the NULL-source group (untagged docs) is a legitimate grain in
    # both gram tables — the rejoin must be NULL-SAFE or its bigram
    # stats silently vanish to 0 in both engines;
    # the b side's key is renamed first so the surviving `source`
    # column unambiguously resolves to u's
    b = b.withColumnRenamed("source", "b_source")
    return u.join(
        b, F.col("source").eqNullSafe(F.col("b_source")), "left"
    ).drop("b_source").select(
        "source",
        "n_toks",
        "n_uniq_toks",
        F.when(F.col("n_toks") > 0, ratio6("n_uniq_toks", "n_toks")).alias(
            "distinct_1"
        ),
        n_bi.alias("n_bigrams"),
        n_ubi.alias("n_uniq_bigrams"),
        F.when(n_bi > 0, ratio6(n_ubi, n_bi)).alias("distinct_2"),
    )


_BP_SEG = 8  # tumbling segment width (words) for boilerplate detection
_BP_MIN_SRC = 3  # a segment in >= 3 distinct sources is a template
_BP_NULL_SRC = "\x01"  # NULL-source sentinel for the distinct tally


def boilerplate_segments(d: DataFrame) -> DataFrame:
    """(doc_id, source, seg_idx, seg): tumbling _BP_SEG-word segments of
    every non-empty document — the ONE segment definition shared by the
    batch detector (q_text_boilerplate), the streaming template
    maintainer (streaming/templates.py) and the span-excision readout
    (llm/dedup.py::q_dedup_substring), so stream ≡ batch ≡ excision
    holds by construction. seg_idx is the 0-based tumbling position —
    the posexplode of the same sequence the segments are built from, so
    adding it costs nothing and consumers that only need (doc_id,
    source, seg) simply never select it."""
    clean = d.filter(F.col("text").isNotNull() & (F.col("text") != ""))
    segs = segments(tok_array(), _BP_SEG)
    return clean.select(
        "doc_id", "source", F.posexplode(segs).alias("seg_idx", "seg")
    )


def boilerplate_segments_sql(src: str = "documents") -> str:
    """DuckDB twin of boilerplate_segments over table `src`."""
    segs = segments_sql(tok_array_sql(), _BP_SEG)
    return f"""SELECT doc_id, source, {posexplode_sql(segs, "seg", "seg_idx")}
      FROM {src} WHERE text IS NOT NULL AND text <> ''"""


@register(
    "q_text_boilerplate",
    oracle=f"""
    WITH seg AS ({boilerplate_segments_sql()}),
    flag AS (
      SELECT seg,
             count(DISTINCT coalesce(source, chr(1))) >= {_BP_MIN_SRC}
               AS boiler
      FROM seg GROUP BY seg
    )
    SELECT s.source,
           CAST(count(DISTINCT s.doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(count(CASE WHEN f.boiler THEN 1 END) AS BIGINT) AS n_boiler,
           {ratio6_sql("count(CASE WHEN f.boiler THEN 1 END)", "count(*)")}
             AS boiler_rate
    FROM seg s JOIN flag f USING (seg)
    GROUP BY s.source
    """,
    tags=("text", "quality"),
)
def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source template (boilerplate) detection, the C4/CCNet line-
    dedup step adapted to a corpus without line structure: split each
    doc into tumbling {_BP_SEG}-word segments and mark a segment as
    boilerplate when it appears in >= {_BP_MIN_SRC} DISTINCT sources —
    the signature of crawler-injected chrome (nav bars, cookie banners,
    license footers) as opposed to within-source repetition, which
    q_text_dup_fraction already measures at the doc grain. Emits the
    per-source boilerplate segment rate: the readout that decides which
    sources need segment-level cleaning before the token budget
    (q_corpus_budget) is spent on them.

    Cross-engine: segments are the shared tumbling window (segments /
    segments_sql, the q_text_chunk window); the distinct-source count
    coalesces NULL source to a CHR(1) sentinel because COUNT(DISTINCT)
    skips NULLs in both engines but untagged docs still carry template
    text; counts are exact BIGINTs
    and the rate is floor-form (denominator >= 1 by construction —
    every surviving doc emits at least one segment).

    Shape at 100 TB: explode is O(tokens/{_BP_SEG}); one map-side-
    combined groupBy(seg) builds the template table; the flag rejoin is
    a bucketed equi-join on the segment key whose fan-out is exactly 1
    row per segment (the df table is pre-aggregated — no pair
    enumeration anywhere); the per-source rollup and the per-source
    distinct-document count are |sources| rows each, joined null-safe
    on source by boilerplate_readout, the readout the streaming twin
    (streaming/templates.py) runs over its partials. At web
    scale the segment key becomes xxhash64(seg) so the shuffle moves
    8-byte keys (the q_text_diversity trade, kept as strings for exact
    oracle co-expression).

    Reference parity anchor: no text surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part
    of the beyond-the-reference LLM-data family."""
    # the segment stream feeds both readout inputs — materialize so the
    # scan+explode runs once, not per consumer. Segments are nearly all
    # distinct per source, so each segment row goes to the readout as
    # its own partial (n = 1, doc presence as is): the streaming folds'
    # pre-aggregation only adds shuffles here (measured ~25% slower at
    # sf0.1, noop save, 4-vCPU VM).
    seg = materialize(
        boilerplate_segments(load_table(spark, sf_dir, "documents"))
    )
    return boilerplate_readout(
        seg.select("source", "seg", F.lit(1).alias("n")), seg
    )


def boilerplate_counts(seg: DataFrame) -> DataFrame:
    """(source, seg, n): q_text_boilerplate's segment-instance partial
    over boilerplate_segments rows. The counts merge by sum, and the key
    set doubles as the distinct (seg, source) presence the template
    flag derives from (a distinct count is not a foldable counter)."""
    return seg.groupBy("source", "seg").agg(F.count(F.lit(1)).alias("n"))


def boilerplate_docs(seg: DataFrame) -> DataFrame:
    """(source, doc_id): q_text_boilerplate's distinct document
    presence partial, for the n_docs readout."""
    return seg.select("source", "doc_id").distinct()


def boilerplate_readout(counts: DataFrame, docs: DataFrame) -> DataFrame:
    """q_text_boilerplate's per-source report from any union of
    boilerplate_counts / boilerplate_docs partials, in the batch query
    and its streaming twin (streaming/templates.py).

    The presence columns are projected BEFORE any distinct: reading
    partitioned partials appends the batch_id partition column, which
    must not key a merge, or a pair re-seen in a later batch would
    count twice. count_distinct dedups the presence keys and, on
    doc_id, skips NULLs (untagged rows contribute segments but not to
    n_docs). Instance counts merge by sum, straight from the partial
    rows into the per-source totals: a per-(source, seg) regroup first
    would add an aggregation and change no sum."""
    flag = counts.groupBy("seg").agg(
        (
            F.count_distinct(F.coalesce("source", F.lit(_BP_NULL_SRC)))
            >= _BP_MIN_SRC
        ).alias("boiler")
    )
    n_docs = (
        docs.select("source", "doc_id")
        .groupBy("source")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
    )
    per_src = (
        counts.join(flag, "seg")
        .groupBy("source")
        .agg(
            F.sum("n").alias("n_segments"),
            F.sum(F.when(F.col("boiler"), F.col("n")).otherwise(0)).alias(
                "n_boiler"
            ),
        )
    )
    return (
        per_src.join(n_docs, per_src["source"].eqNullSafe(n_docs["source"]))
        .drop(n_docs["source"])
        .select(
            "source",
            "n_docs",
            "n_segments",
            "n_boiler",
            ratio6("n_boiler", "n_segments").alias("boiler_rate"),
        )
    )


# Gopher-style rule bounds, adapted to the fixture corpus's scale (the
# published bounds — 50..100k words etc. — assume web documents; the
# RATIOS and the battery structure are what transfer).
_GOPHER_MIN_TOKS = 20
_GOPHER_MAX_TOKS = 1000
_GOPHER_MIN_WLEN = 2  # mean word length lower bound (chars)
_GOPHER_MAX_WLEN = 8  # ... and upper bound
_GOPHER_MIN_STOP = 2  # >= 2 stopword hits
_GOPHER_REP_DEN = 5  # no token may exceed 1/5 of the doc
_GOPHER_UNIQ_NUM = 3  # unique-token ratio >= 3/10
_GOPHER_UNIQ_DEN = 10


@register(
    "q_quality_gopher",
    oracle=f"""
    WITH d AS (
      SELECT lang, text, {tok_array_sql()} AS ts, {n_tokens_sql()} AS n
      FROM documents WHERE text IS NOT NULL AND text <> ''
    ),
    rules AS (
      SELECT lang,
             (n >= {_GOPHER_MIN_TOKS} AND n <= {_GOPHER_MAX_TOKS}) AS r_len,
             (length(text) - (n - 1) >= {_GOPHER_MIN_WLEN} * n AND
              length(text) - (n - 1) <= {_GOPHER_MAX_WLEN} * n) AS r_wlen,
             (len(list_filter(ts, x -> x = 'a' OR x = 'the'))
                >= {_GOPHER_MIN_STOP}) AS r_stop,
             (list_max(list_transform(list_distinct(ts),
                 t -> len(list_filter(ts, x -> x = t))))
                * {_GOPHER_REP_DEN} <= n) AS r_rep,
             (len(list_distinct(ts)) * {_GOPHER_UNIQ_DEN}
                >= n * {_GOPHER_UNIQ_NUM}) AS r_uniq
      FROM d
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(CASE WHEN r_len THEN 1 END) AS BIGINT) AS pass_len,
           CAST(count(CASE WHEN r_wlen THEN 1 END) AS BIGINT) AS pass_wlen,
           CAST(count(CASE WHEN r_stop THEN 1 END) AS BIGINT) AS pass_stop,
           CAST(count(CASE WHEN r_rep THEN 1 END) AS BIGINT) AS pass_rep,
           CAST(count(CASE WHEN r_uniq THEN 1 END) AS BIGINT) AS pass_uniq,
           CAST(count(CASE WHEN r_len AND r_wlen AND r_stop AND r_rep
                           AND r_uniq THEN 1 END) AS BIGINT) AS n_clean,
           {ratio6_sql("count(CASE WHEN r_len AND r_wlen AND r_stop AND r_rep"
                       " AND r_uniq THEN 1 END)", "count(*)")} AS clean_rate
    FROM rules GROUP BY lang
    """,
    tags=("text", "quality"),
)
def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style heuristic quality battery (Rae et al. 2021, the
    pre-training filter standard): per document, five pass/fail rules —
    token count in [{_GOPHER_MIN_TOKS}, {_GOPHER_MAX_TOKS}], mean word
    length in [{_GOPHER_MIN_WLEN}, {_GOPHER_MAX_WLEN}] chars, >=
    {_GOPHER_MIN_STOP} stopword hits, no single token above 1/
    {_GOPHER_REP_DEN} of the doc, unique-token ratio >=
    {_GOPHER_UNIQ_NUM}/{_GOPHER_UNIQ_DEN} — rolled up per language into
    per-rule pass counts and the all-rules clean rate. This is the
    DECISION battery on top of q_text_quality's raw features: the
    per-rule counts show WHICH filter bites per language (the
    calibration a multilingual corpus needs — fixed English bounds
    over-reject agglutinative languages on word length, and this
    readout is how that shows up).

    Cross-engine determinism: every rule is integer arithmetic — mean
    word length compares via cross-multiplication (chars-in-words =
    length(text) - (n-1) separators, so no division), repetition and
    uniqueness likewise; the only division is the final floor-form
    rate. The per-doc max token frequency runs as a nested array
    transform over DISTINCT tokens (O(len·distinct) per doc, JVM-side,
    mirrored by DuckDB's list_transform/list_filter) — no explode, no
    shuffle for any rule.

    Shape at 100 TB: one narrow projection computing all five rules
    inside whole-stage codegen, then ONE map-side-combined groupBy to
    |languages| rows. Nothing else moves — the battery adds zero
    shuffles to a corpus scan.

    Reference parity anchor: no text surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part
    of the beyond-the-reference LLM-data family."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.col("text") != "")
    )
    ts = tok_array()
    n = F.size(ts)
    chars_w = F.length("text") - (n - 1)
    r_len = (n >= _GOPHER_MIN_TOKS) & (n <= _GOPHER_MAX_TOKS)
    r_wlen = (chars_w >= _GOPHER_MIN_WLEN * n) & (
        chars_w <= _GOPHER_MAX_WLEN * n
    )
    r_stop = (
        F.size(F.filter(ts, lambda x: x.isin(*STOPWORDS))) >= _GOPHER_MIN_STOP
    )
    max_tf = F.array_max(
        F.transform(
            F.array_distinct(ts),
            lambda t: F.size(F.filter(ts, lambda x: x == t)),
        )
    )
    r_rep = max_tf * _GOPHER_REP_DEN <= n
    r_uniq = F.size(F.array_distinct(ts)) * _GOPHER_UNIQ_DEN >= n * _GOPHER_UNIQ_NUM
    rules = d.select(
        "lang",
        r_len.alias("r_len"),
        r_wlen.alias("r_wlen"),
        r_stop.alias("r_stop"),
        r_rep.alias("r_rep"),
        r_uniq.alias("r_uniq"),
    )
    clean = (
        F.col("r_len")
        & F.col("r_wlen")
        & F.col("r_stop")
        & F.col("r_rep")
        & F.col("r_uniq")
    )
    return rules.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("r_len"), 1)).alias("pass_len"),
        F.count(F.when(F.col("r_wlen"), 1)).alias("pass_wlen"),
        F.count(F.when(F.col("r_stop"), 1)).alias("pass_stop"),
        F.count(F.when(F.col("r_rep"), 1)).alias("pass_rep"),
        F.count(F.when(F.col("r_uniq"), 1)).alias("pass_uniq"),
        F.count(F.when(clean, 1)).alias("n_clean"),
        ratio6(F.count(F.when(clean, 1)), F.count(F.lit(1))).alias("clean_rate"),
    )


_PMI_MIN_C12 = 5  # minimum bigram support (kills noise-pair PMI spikes)
_PMI_K = 20  # collocations returned


@register(
    "q_text_pmi",
    oracle=f"""
    WITH toks AS (
      SELECT {vocab_array_sql()} AS t FROM documents WHERE text IS NOT NULL
    ),
    uni AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM uni),
    bi AS (
      SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
             CAST(count(*) AS BIGINT) AS c12
      FROM (SELECT unnest({grams_sql("t", 2, False)}) AS bg FROM toks)
      GROUP BY 1, 2
    ),
    btot AS (SELECT CAST(sum(c12) AS BIGINT) AS n_big FROM bi),
    sel AS (
      SELECT b.w1, b.w2, b.c12, u1.c AS c1, u2.c AS c2,
             (CAST(b.c12 AS DOUBLE) * t.n_tok * t.n_tok)
               / (CAST(u1.c AS DOUBLE) * u2.c * bt.n_big) AS lift
      FROM bi b
      JOIN uni u1 ON u1.tok = b.w1
      JOIN uni u2 ON u2.tok = b.w2
      CROSS JOIN tot t CROSS JOIN btot bt
      WHERE b.c12 >= {_PMI_MIN_C12}
    )
    SELECT w1, w2, c12, c1, c2, round(log2(lift), 4) + 0.0 AS pmi
    FROM sel
    ORDER BY lift DESC, w1, w2
    LIMIT {_PMI_K}
    """,
    tags=("text",),
)
def q_text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by pointwise mutual information over
    adjacent bigrams: PMI(w1,w2) = log2(p(w1,w2) / (p(w1)·p(w2))),
    support-filtered at c12 >= {_PMI_MIN_C12} (the classic
    Church-Hanks measure; low-support pairs have unboundedly noisy
    PMI, which is why the support floor is part of the definition in
    practice). Top-{_PMI_K} by lift — the phrase-mining pass a
    tokenizer-training or stopword-curation pipeline runs over a new
    corpus, and the third corpus-statistics lens next to q_text_zipf
    (unigram shape) and q_text_bigram_ppl (sequence predictability).

    Cross-engine determinism (the registry top-k rule): the ORDER BY
    key is the lift RATIO — built from exact BIGINT counts with one
    pinned multiply/divide chain, bit-identical across engines — never
    the log2 of it (libm, 1-ulp divergent); log2 only styles the
    already-ranked rows, rounded to 4 dp (+0.0 normalizes -0.0). Ties
    at the LIMIT edge break on (w1, w2). Tokens are vocab_array's and
    bigrams grams(t, 2, whole=False); a bigram travels as its 'w1 w2'
    string and splits back into (w1, w2) — tokens are space-free by
    construction.

    Shape at 100 TB: two map-side-combined groupBys (unigrams O(vocab),
    bigrams O(vocab²)-bounded but support-filtered), two equi-joins of
    the bigram table against the vocab-sized unigram table, two
    broadcast 1-row scalar join-backs for the totals, and a global
    top-{_PMI_K} heap (TakeOrderedAndProject). Shuffle keys are grams —
    at web scale they become xxhash64 values with the string carried
    alongside (the q_text_diversity trade).

    Reference parity anchor: no text surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part
    of the beyond-the-reference LLM-data family."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = d.select(vocab_array().alias("t"))
    # the vocab-sized unigram table feeds THREE consumers (the total
    # and both join sides) and the bigram table two (total + report) —
    # materialize each so the corpus explode runs once per gram order
    uni = materialize(
        toks.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uni.agg(F.sum("c").alias("n_tok"))
    bi = materialize(
        toks.select(F.explode(grams(F.col("t"), 2, False)).alias("bg"))
        # a bigram splits back into its two tokens (tokens hold no space)
        .select(F.split("bg", " ").alias("p"))
        .select(F.col("p")[0].alias("w1"), F.col("p")[1].alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    # n_big is the UNFILTERED bigram total — p(w1,w2) is a probability
    # over all bigram events; the support floor only gates which pairs
    # are reported, not the event space
    btot = bi.agg(F.sum("c12").alias("n_big"))
    bi = bi.filter(F.col("c12") >= _PMI_MIN_C12)
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    lift = (
        F.col("c12").cast("double") * F.col("n_tok") * F.col("n_tok")
    ) / (F.col("c1").cast("double") * F.col("c2") * F.col("n_big"))
    return (
        bi.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .withColumn("lift", lift)
        .orderBy(F.col("lift").desc(), "w1", "w2")
        .limit(_PMI_K)
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            "c2",
            (F.round(F.log2("lift"), 4) + F.lit(0.0)).alias("pmi"),
        )
    )
