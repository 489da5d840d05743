"""Deduplication operators (SURVEY.md §2.10, north-star mandate).

Five strategies, each the right tool at a different scale/precision point:

1. exact      — hash group-by on content/key: one shuffle, exact.
2. n-gram Jaccard — exact set-overlap on shingles: precise but the
   shingle self-join explodes on hot shingles; small-corpus tool, and the
   ground truth the sketch methods approximate.
3. MinHash+LSH — shingles → k minhashes → bands → bucket join: candidate
   pairs only, linear shuffle volume. The 100 TB path.
4. SimHash    — 64-bit fingerprint, Hamming-band join: cheapest sketch.
5. Embedding cosine — semantic near-dup over `embeddings`.

The fixture corpus has no planted near-dups, so queries that must
demonstrate recall union `documents` with deterministically perturbed
copies (doc_id + 100000, last token dropped) — planted pairs the operator
must find.

No Python UDFs anywhere: hashing uses xxhash64/hash built-ins; everything
stays in codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from spring_and_kafka_spark.exec_utils import (
    array_pairs,
    fixpoint,
    materialize,
    message_edges,
    min_step,
    ratio6,
    ratio6_sql,
    spread,
)
from spring_and_kafka_spark.llm.text import (
    boilerplate_segments,
    boilerplate_segments_sql,
    grams,
    grams_sql,
    n_tokens_sql,
    posexplode_sql,
    shingles,
    shingles_sql,
    tok_array,
    tok_array_sql,
)
from spring_and_kafka_spark.registry import register
from spring_and_kafka_spark.sources.tables import load_table

# Deterministic MinHash parameters (fixed seeds — SURVEY.md §7 hard parts).
_MINHASH_PERMS = 32
_SIMHASH_BUCKET_CAP = 64  # LSH frequent-bucket guard (see q_dedup_simhash)

# Exact-path guard: shingles appearing in more docs than this are excluded
# from pair-generation self-joins (one shingle shared by d docs emits d²
# join rows, and such shingles are non-discriminative anyway). Far above
# any fixture doc-frequency (max 50 at sf0.1) so it never fires at test
# scale; at 100 TB it is what keeps the exact tool from going quadratic on
# a stopword shingle. Interpolated into every oracle that self-joins
# shingles (single source of truth — see shingle_ctes_sql) — a capped
# shingle can only lower a pair's common count, so the reported Jaccard is
# a lower bound when the cap fires.
_SHINGLE_DF_CAP = 5000
_NGRAM_JACCARD = 0.6

# ---------------------------------------------------------------------------
# Shared DuckDB SQL fragments. The cap/threshold constants and the
# degenerate-text guard are load-bearing for Spark↔oracle hash equality, so
# every oracle that shingles text composes these fragments instead of
# hand-copying them.

def _planted_corpus_sql(where: str = "") -> str:
    """DuckDB twin of planted() over `documents` filtered by `where`."""
    return f"""corpus AS (
      SELECT doc_id, text FROM documents {where}
      UNION ALL
      SELECT doc_id + 100000, regexp_replace(text, '\\s+\\S+$', '')
      FROM documents {where}
    )"""


_PLANTED_CORPUS_SQL = _planted_corpus_sql()


def shingle_ctes_sql(src: str = "corpus") -> str:
    """CTEs mirroring shingles() + sizes + the df-cap filter over `src`."""
    return f"""sh AS ({shingles_sql(src)}),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    shj AS (
      SELECT doc_id, shingle FROM sh
      WHERE shingle NOT IN (
        SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > {_SHINGLE_DF_CAP}
      )
    )"""


# The `ov` CTE: DuckDB twin of shingle_overlap(), composed after
# shingle_ctes_sql(). Every oracle that scores a < b shingle overlap
# reads it.
_OV_SQL = """ov AS (
      SELECT c.a_id, c.b_id, c.c, sa.n AS na, sb.n AS nb
      FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
        FROM shj a JOIN shj b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) c
      JOIN sizes sa ON sa.doc_id = c.a_id
      JOIN sizes sb ON sb.doc_id = c.b_id
    )"""


# The exact-pair tail shared verbatim by q_dedup_ngram and q_dedup_near
# (near adds only the constant est_ok column via `extra_cols`).
def pairs_select_sql(extra_cols: str = "") -> str:
    return f"""{_OV_SQL}
    SELECT a_id, b_id, round(c / (na + nb - c), 4) AS jaccard{extra_cols}
    FROM ov
    WHERE c / (na + nb - c) >= {_NGRAM_JACCARD}"""


_EDGES_SQL = f"""{_OV_SQL},
    edges AS (
      SELECT a_id, b_id FROM ov WHERE c / (na + nb - c) >= {_NGRAM_JACCARD}
    )"""


def perturbed(d: DataFrame) -> DataFrame:
    """The planted near-dup copies of (doc_id, text) rows: last token
    dropped, doc_id + 100000."""
    return d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace("text", r"\s+\S+$", "").alias("text"),
    )


def planted(d: DataFrame) -> DataFrame:
    """(doc_id, text) rows ∪ their perturbed copies."""
    d = d.select("doc_id", "text")
    return d.unionByName(perturbed(d))


def planted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ perturbed copies (drop last token, doc_id+100000)."""
    return planted(load_table(spark, sf_dir, "documents"))


def hot_keys(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """(keys…, n): the key values of `df` holding more than `cap` rows —
    the dedup family's one hot-key guard (a key shared by d rows emits
    d² pair rows and carries no signal). Callers anti-join it away or
    left-join it back as a flag. It carries no broadcast hint: the hot
    set is tiny on real data, but AQE and static planning decide."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > cap)
    )


def shingle_overlap(corpus: DataFrame, n: int, df_cap: int) -> DataFrame:
    """(a_id, b_id, c, na, nb) with a_id < b_id: for each doc pair that
    shares a shingle of doc-frequency ≤ df_cap, the shared-shingle count
    c and both FULL shingle-set sizes — the family's one overlap kernel
    (Jaccard pairs, containment and the threshold curve score it;
    _OV_SQL is its DuckDB twin). A fired cap lowers c, never a size, so
    a score built on it is a lower bound, never an invented pair.

    Shingles hash to 64-bit s64 before the materialize, so the persisted
    table, the df groupBy and the self-join move 16-byte rows, not text.
    xxhash64 collisions (P ≈ (#distinct shingles)²/2⁶⁵, ~1e-10 at sf0.1)
    are the only delta from the string form the oracles state."""
    # materialized: the shingle table feeds sizes, the df guard and both
    # join sides
    sh = materialize(
        shingles(spread(corpus), n).select(
            "doc_id", F.xxhash64("shingle").alias("s64")
        )
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    shj = sh.join(hot_keys(sh, ["s64"], df_cap), "s64", "left_anti")
    a = shj.alias("a")
    b = shj.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.s64") == F.col("b.s64"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb"))
    return (
        common.join(sa, "a_id")
        .join(sb, "b_id")
        .select("a_id", "b_id", "c", "na", "nb")
    )


@register(
    "q_dedup_exact",
    oracle="""
    SELECT user_id, event_type, event_id AS first_event
    FROM (
      SELECT user_id, event_type, event_id,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, keep-earliest semantics. dropDuplicates() is
    nondeterministic about WHICH row survives, so the engine's dedup is a
    rank-window (deterministic, same shuffle cost)."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", F.col("event_id").alias("first_event"))
    )


@register(
    "q_dedup_ngram",
    oracle=f"""
    WITH {_PLANTED_CORPUS_SQL},
    {shingle_ctes_sql()},
    {pairs_select_sql()}
    """,
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.6) on the planted
    corpus. This is the exact ground truth MinHash approximates; the
    shingle equi-join is fine at fixture scale but hot shingles make it
    quadratic — at 100 TB use q_dedup_near (LSH). The _SHINGLE_DF_CAP
    guard (mirrored in the oracle's shj CTE) bounds the join's worst case
    even here."""
    corpus = planted_corpus(spark, sf_dir)
    return ngram_jaccard_pairs(corpus, n=3, threshold=_NGRAM_JACCARD)


def ngram_jaccard_pairs(
    corpus: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    df_cap: int = _SHINGLE_DF_CAP,
) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ threshold: (a_id, b_id, jaccard).

    Pair generation self-joins shingles whose doc-frequency is ≤ df_cap
    (hot shingles would emit df² join rows and carry no signal); Jaccard
    denominators use the FULL shingle sets, so a fired cap can only
    under-report similarity, never invent a pair."""
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        shingle_overlap(corpus, n, df_cap)
        .filter(jac >= threshold)
        .select("a_id", "b_id", F.round(jac, 4).alias("jaccard"))
    )


def minhash_signatures(sh: DataFrame, num_perms: int = _MINHASH_PERMS) -> DataFrame:
    """(doc_id, mh ARRAY<LONG>): the k-permutation minhash signature.

    Permutation i is an independently seeded hash: h_i(s) =
    xxhash64(i, s). Seeding per permutation is essential — an affine
    rehash of ONE base hash ((a_i·h+b_i) mod p with a_i·h below p) is
    monotonic in h, so all k "permutations" would pick the same
    min-shingle and the signature would degenerate to agreement
    all-or-nothing (a real bug caught by measuring per-pair agreement:
    J≈0.99 pairs showed 0/32 agreeing positions).

    Shape matters at scale: ONE groupBy with k min-aggregates (wide form),
    not an explode to k rows per shingle — the map-side partial min reduces
    each doc to a single k-column row before the shuffle, so shuffle volume
    is O(docs), independent of shingle count."""
    base = sh.select("doc_id", "shingle")
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"mh{i}")
        for i in range(num_perms)
    ]
    wide = base.groupBy("doc_id").agg(*aggs)
    return wide.select(
        "doc_id", F.array(*[f"mh{i}" for i in range(num_perms)]).alias("mh")
    )


def _band_structs(bands: int, rows_per_band: int):
    """ARRAY<STRUCT<band INT, bucket BIGINT>> banding expression over the
    ``mh`` signature column — the ONE definition of how a band's bucket
    id derives from the signature slice (xxhash64 over the comma-joined
    minhashes). Shared by the symmetric (lsh_candidate_pairs) and
    asymmetric/incremental (_band_bucket_rows) candidate generators so
    the two paths' bucketing cannot drift apart (the exec_utils.cents
    anti-drift rule; pinned by
    tests/test_kernels.py::test_band_structs_symmetric_incremental_agree)."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.col("mh")[i * rows_per_band + r]
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("bucket"),
            )
            for i in range(bands)
        ]
    )


def _band_bucket_rows(
    sig: DataFrame,
    bands: int,
    rows_per_band: int,
    bucket_cap: int = 500,
    stats: dict | None = None,
) -> DataFrame:
    """Materialized cap-filtered LSH bucket memberships (doc_id, band,
    bucket) from a (doc_id, mh) signature frame — the shared half of
    symmetric (lsh_candidate_pairs) and asymmetric
    (incremental_near_matches) candidate generation. See
    lsh_candidate_pairs for the banding and bucket_cap semantics."""
    band_structs = _band_structs(bands, rows_per_band)
    # materialize bucket memberships: candidate generation joins this
    # table against itself (or its old/new halves), and without the cut
    # the whole signature subtree (corpus scan → shingles → wide
    # min-agg) would execute once per join side
    buckets = materialize(
        sig.select("doc_id", F.explode(band_structs).alias("bb")).select(
            "doc_id",
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )
    )
    hot = hot_keys(buckets, ["band", "bucket"], bucket_cap)
    if stats is not None:
        h = hot.agg(F.count(F.lit(1)).alias("k"), F.sum("n").alias("d")).first()
        stats["hot_buckets"] = int(h["k"] or 0)
        stats["docs_in_hot_buckets"] = int(h["d"] or 0)
    return buckets.join(hot, ["band", "bucket"], "left_anti")


def lsh_candidate_pairs(
    sig: DataFrame,
    bands: int,
    rows_per_band: int,
    bucket_cap: int = 500,
    stats: dict | None = None,
) -> DataFrame:
    """(a_id, b_id) doc pairs sharing at least one LSH band bucket.

    Each signature is sliced into `bands` bands of `rows_per_band`
    minhashes; a band's bucket id is the hash of its slice; docs meet when
    any band bucket matches. Shuffle volume is O(docs × bands) — never
    O(docs²) — and the equi-join on (band, bucket) is the bucketed shape
    the 100 TB path requires.

    bucket_cap is the standard frequent-bucket guard: a bucket holding
    > cap docs contributes bucket² candidate pairs while carrying almost
    no signal (it means the band hash stopped discriminating). Capped
    buckets are dropped; a true pair is lost only if EVERY band it agrees
    on is hot — a J≥0.6 pair agrees on several bands, so the loss
    probability is the product over those. The default (500) is ~20×
    above the largest observed fixture bucket (27 at sf0.1; 6 at sf0.01),
    so the guard is inert — and hash-oracle-safe — at test scale; on the
    4× amplified small-vocabulary smoke corpus, buckets reach ~3,900 docs
    (Σ bucket² ≈ 3.5e8) and the cap is what keeps candidate generation
    linear-ish instead of quadratic. Real heavy-tailed text has a vastly
    larger shingle universe, but a 100 TB engine cannot assume that.

    Pass ``stats`` (a dict) to get cap observability: it is filled with
    ``hot_buckets`` (band-buckets dropped by the cap) and
    ``docs_in_hot_buckets`` (Σ bucket sizes over those). Oracle-verified
    callers use this to assert the cap was inert (hot_buckets == 0) on
    the data they ran — without it, drift into the saturated regime would
    surface only as an opaque hash mismatch.

    Shape: ONE groupBy(band, bucket) collects each
    bucket's sorted doc list and the a < b pairs expand INSIDE the
    array — replacing the materialize + count-groupBy + broadcast +
    bucket self-join of the previous form (A/B at sf0.1: warm 1.11 s vs
    1.16-1.38 s, identical 13,783 pairs, and one fewer eager job). The
    cap bound carries over: pair expansion only runs on buckets with
    2 ≤ size ≤ bucket_cap, so no task ever expands more than cap²/2
    pairs; an over-cap bucket's list is collected then dropped. Memory
    bound of that collect: a collect_list buffer is
    RESIDENT in the aggregating task — it does not stream like join
    shuffle rows — so in the saturated regime the cap guards against,
    one task holds an O(bucket-size) long array per hot bucket it
    aggregates before the size filter drops it. That is 8 bytes × the
    hot bucket's membership — e.g. the adversarial 4× smoke corpus's
    ~3,900-doc buckets cost ~31 KB each, and even a pathological
    million-doc bucket is 8 MB against a task's execution-memory share —
    bounded by the corpus's worst single-band collision count, never by
    pair fan-out (which the filter prevents). A pre-filtering count
    groupBy + anti-join would cap the buffer at bucket_cap longs but
    re-introduces the second aggregation pass over the full membership
    stream this shape removes; at these bounds the resident buffer
    is the cheaper side of the trade."""
    band_structs = _band_structs(bands, rows_per_band)
    buckets = sig.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    grp = buckets.groupBy("band", "bucket").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ds")
    )
    if stats is not None:
        # observability consumers get the grouped frame materialized so
        # the hot-bucket readout doesn't recompute the signature subtree
        grp = materialize(grp)
        hot = (
            grp.filter(F.size("ds") > bucket_cap)
            .agg(F.count(F.lit(1)).alias("k"), F.sum(F.size("ds")).alias("d"))
            .first()
        )
        stats["hot_buckets"] = int(hot["k"] or 0)
        stats["docs_in_hot_buckets"] = int(hot["d"] or 0)
    ds = F.col("ds")
    return (
        grp.filter((F.size(ds) >= 2) & (F.size(ds) <= bucket_cap))
        .select(F.explode(array_pairs(ds, "a_id", "b_id")).alias("p"))
        .select("p.a_id", "p.b_id")
        .distinct()
    )


def _doc_features(corpus: DataFrame, n: int, df_cap: int) -> DataFrame:
    """Materialized per-doc LSH features (doc_id, mh ARRAY<LONG>,
    n BIGINT, hs ARRAY<LONG>): the 32-permutation minhash signature over
    the full shingle set, the exact full-set size, and the df-capped
    shingle-hash array for exact-Jaccard verification. ONE wide groupBy
    builds all three (see lsh_verified_pairs' docstring for why), and
    the materialize is load-bearing: the frame feeds candidate
    generation AND both verify-join sides, so without the cut the
    shingle pipeline would execute once per consumer. Shared by the
    symmetric (lsh_verified_pairs) and asymmetric
    (incremental_near_matches) detectors so their documented-identical
    semantics cannot drift apart."""
    # the hot flag comes from a partially combined count (hot_keys), not
    # a window over s64: a window would send every row of a hot shingle
    # to one task. The explode keeps a doc's shingles in one partition,
    # so the wide agg still collapses each doc map-side.
    sh = shingles(spread(corpus), n).select(
        "doc_id", F.xxhash64("shingle").alias("s64")
    )
    hot = hot_keys(sh, ["s64"], df_cap).select("s64", F.lit(True).alias("_hot"))
    shx = sh.join(hot, "s64", "left")
    docfeat = shx.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("s64"))).alias(f"mh{i}")
            for i in range(_MINHASH_PERMS)
        ],
        F.count("*").alias("n"),
        F.sort_array(
            F.collect_set(F.when(F.col("_hot").isNull(), F.col("s64")))
        ).alias("hs"),
    )
    return materialize(
        docfeat.select(
            "doc_id",
            F.array(*[f"mh{i}" for i in range(_MINHASH_PERMS)]).alias("mh"),
            "n",
            "hs",
        )
    )


def _verified_pairs(
    docfeat: DataFrame,
    cand: DataFrame,
    a: str,
    b: str,
    threshold: float,
    *keep: str,
) -> DataFrame:
    """(a, b, j, keep_a…, keep_b…): the candidate pairs (a, b) whose
    exact Jaccard j = |hs_a ∩ hs_b| / (n_a + n_b − |hs_a ∩ hs_b|) over
    _doc_features rows reaches `threshold` — the one verify join of the
    symmetric (lsh_verified_pairs) and the incremental
    (incremental_near_matches) detectors. `keep` names more feature
    columns to carry per side, suffixed _a/_b."""

    def side(id_col: str, sfx: str) -> DataFrame:
        cols = ("hs", "n", *keep)
        return docfeat.select(
            F.col("doc_id").alias(id_col), *[F.col(c).alias(c + sfx) for c in cols]
        )

    c = F.size(F.array_intersect("hs_a", "hs_b"))
    jac = c / (F.col("n_a") + F.col("n_b") - c)
    return (
        cand.join(side(a, "_a"), a)
        .join(side(b, "_b"), b)
        .filter(jac >= threshold)
        .select(a, b, jac.alias("j"), *[k + x for k in keep for x in ("_a", "_b")])
    )


def lsh_verified_pairs(
    corpus: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    bands: int = 16,
    rows_per_band: int = 2,
    df_cap: int = _SHINGLE_DF_CAP,
    with_estimate: bool = False,
    bucket_cap: int = 500,
    stats: dict | None = None,
) -> DataFrame:
    """The 100 TB near-dup pair detector: MinHash-LSH candidate generation
    followed by exact-Jaccard verification on candidates only. Returns
    (a_id, b_id, jaccard) for pairs with verified Jaccard ≥ threshold.

    Semantics are IDENTICAL to ngram_jaccard_pairs (exact Jaccard, with
    the same df-cap convention: capped intersection counts over full-set
    denominators) whenever banding recall covers every ≥-threshold pair —
    the default 16 bands × 2 rows misses a J=0.7 pair with p≈2e-5 and is
    recall-1.0 on all fixture scale factors (asserted in tests). Cost is
    O(docs × bands) shuffle + one cheap array-intersect per candidate,
    never an all-pairs join.

    ONE wide groupBy builds everything per doc — the 32-permutation
    signature over the full shingle set, the exact full-set size, and the
    df-capped shingle-hash array for verification (collect_set skips the
    NULLs the when() assigns to hot shingles) — instead of three separate
    shuffles over the corpus-sized shingle table.

    Shingle strings are hashed to 64-bit ``s64`` immediately after the
    explode, so everything downstream — the materialized shingle table,
    the hot-shingle groupBy, the 32 permutation hashes (xxhash64 over an
    8-byte long instead of a variable-length string, ×32 per row), and
    the verification sets — moves fixed-width longs, not text. Hash
    collisions between distinct shingles are the only semantic delta vs
    string identity (P ≈ (#distinct shingles)²/2⁶⁵; ~1e-10 at sf0.1) and
    would only perturb one candidate's Jaccard by one count; the string
    formulation stays the oracle's ground truth.

    ``bucket_cap``/``stats`` pass through to lsh_candidate_pairs — see
    its docstring; oracle-backed callers assert stats['hot_buckets'] == 0
    so a fired cap is an explicit signal, not a silent recall loss."""
    docfeat = _doc_features(corpus, n, df_cap)
    candidates = lsh_candidate_pairs(
        docfeat.select("doc_id", "mh"),
        bands,
        rows_per_band,
        bucket_cap=bucket_cap,
        stats=stats,
    )
    keep = ("mh",) if with_estimate else ()
    pairs = _verified_pairs(docfeat, candidates, "a_id", "b_id", threshold, *keep)
    out_cols = ["a_id", "b_id", F.round("j", 4).alias("jaccard")]
    if with_estimate:
        est = F.size(
            F.filter(F.zip_with("mh_a", "mh_b", lambda x, y: x == y), lambda t: t)
        ) / float(_MINHASH_PERMS)
        out_cols.append(F.round(est, 4).alias("est_jaccard"))
    return pairs.select(*out_cols)


@register(
    "q_dedup_near",
    oracle=f"""
    WITH {_PLANTED_CORPUS_SQL},
    {shingle_ctes_sql()},
    {pairs_select_sql(extra_cols=", true AS est_ok")}
    """,
    tags=("lsh",),
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs — the 100 TB dedup path.

    shingle → 32 seeded minhashes → 16 bands of 2 → join docs sharing a
    band bucket → exact-Jaccard verify on candidates (array intersect) →
    emit the pair, its exact Jaccard, and ``est_ok``: whether the minhash
    agreement rate (the sketch's similarity ESTIMATE) lands within ±0.25
    of the exact value. Shuffle volume is O(docs × bands), never O(docs²).

    The oracle is the exact pair set plus a constant-true est_ok — valid
    because (a) 16×2 banding recall over ≥0.6 pairs is 1.0 on every
    fixture SF (asserted in tests, hash-checked by the driver), and
    (b) the worst observed |est − exact| on fixture pairs is 0.16 with
    32 permutations (σ ≈ 0.09), so the ±0.25 claim holds with ~3
    agreement-steps of margin. The estimate itself thereby becomes part
    of the hash-verified surface instead of a rows-only count."""
    corpus = planted_corpus(spark, sf_dir)
    pairs = lsh_verified_pairs(
        corpus, n=3, threshold=_NGRAM_JACCARD, with_estimate=True
    )
    return pairs.select(
        "a_id",
        "b_id",
        "jaccard",
        (F.abs(F.col("est_jaccard") - F.col("jaccard")) <= 0.25).alias("est_ok"),
    )


# The 32 per-bit sign contributions of a shingle's hash, derived from the
# first 8 hex chars of md5(shingle): bit i = bit (i mod 4) of hex digit
# (i div 4). md5 is byte-identical in Spark and DuckDB and digit→int via
# position-in-'0123456789abcdef' uses only 1-based instr/strpos and integer
# div/mod — every step replays exactly in both engines, which is what turns
# the simhash from a rows-only check into a full hash oracle (xxhash64 has
# no DuckDB counterpart).
_HEX = "0123456789abcdef"


def _simhash_bit_spark(i: int) -> str:
    return (
        f"(((instr('{_HEX}', substring(m, {i // 4 + 1}, 1)) - 1)"
        f" div {2 ** (i % 4)}) % 2)"
    )


def _simhash_bit_duck(i: int) -> str:
    return (
        f"(((strpos('{_HEX}', substring(m, {i // 4 + 1}, 1)) - 1)"
        f" // {2 ** (i % 4)}) % 2)"
    )


_SIMHASH_ORACLE = f"""
    WITH {_PLANTED_CORPUS_SQL},
    {shingle_ctes_sql()},
    hx AS (SELECT doc_id, md5(shingle) AS m FROM sh),
    s AS (
      SELECT doc_id,
             {", ".join(
                 f"sum(CASE WHEN {_simhash_bit_duck(i)} = 1 THEN 1 ELSE -1 END)"
                 f" AS s{i}"
                 for i in range(32)
             )}
      FROM hx GROUP BY doc_id
    ),
    fp AS (
      SELECT doc_id,
             {" + ".join(
                 f"(CASE WHEN s{i} > 0 THEN {2 ** i} ELSE 0 END)"
                 for i in range(32)
             )} AS fp
      FROM s
    ),
    bb AS (
      SELECT doc_id, fp, band, (fp >> (8 * band)) & 255 AS bucket
      FROM (SELECT doc_id, fp, unnest([0, 1, 2, 3]) AS band FROM fp)
    ),
    cool AS (
      SELECT band, bucket FROM bb
      GROUP BY band, bucket HAVING count(*) <= {_SIMHASH_BUCKET_CAP}
    ),
    bbc AS (
      SELECT bb.doc_id, bb.fp, bb.band, bb.bucket
      FROM bb JOIN cool USING (band, bucket)
    )
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
    FROM bbc a
    JOIN bbc b ON a.band = b.band AND a.bucket = b.bucket
              AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fp, b.fp)) <= 3
    """


@register("q_dedup_simhash", oracle=_SIMHASH_ORACLE)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 32-bit fingerprint = sign-aggregate of per-shingle
    hash bits; candidates from 4 bands of 8 bits (pigeonhole: Hamming ≤ 3
    pairs share at least one of 4 chunks — guaranteed recall), verified by
    exact Hamming ≤ 3 (bit_count on XOR).

    Hot-bucket capping: band-buckets holding > _SIMHASH_BUCKET_CAP docs are
    non-discriminative (the tiny fixture vocabulary concentrates
    fingerprints) and would make the candidate self-join quadratic — they
    are dropped, the standard LSH frequent-bucket guard. A pair is missed
    only if ALL FOUR of its chunks land in hot buckets.

    Fully hash-oracled: the per-shingle
    hash is md5-hex-digit arithmetic — see _simhash_bit_spark/_duck —
    instead of xxhash64, so DuckDB replays fingerprinting, banding,
    capping, and Hamming verification bit-for-bit."""
    import functools
    import operator

    corpus = planted_corpus(spark, sf_dir)
    sh = shingles(spread(corpus), 3)
    # wide form: one groupBy with 32 sum-aggregates (sign contribution per
    # bit) instead of a 32× explode — map-side partial sums keep shuffle
    # volume at O(docs), independent of shingle count
    base = sh.select("doc_id", F.md5("shingle").alias("m"))
    bit_aggs = [
        F.sum(
            F.when(F.expr(_simhash_bit_spark(i)) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(32)
    ]
    wide = base.groupBy("doc_id").agg(*bit_aggs)
    fp_expr = functools.reduce(
        operator.add,
        [(F.col(f"s{i}") > 0).cast("long") * (1 << i) for i in range(32)],
    )
    fp = wide.select("doc_id", fp_expr.alias("fp"))
    chunks = F.array(
        *[
            F.struct(
                F.lit(k).alias("band"),
                F.shiftright("fp", 8 * k).bitwiseAND(F.lit(255)).alias("bucket"),
            )
            for k in range(4)
        ]
    )
    # materialized: feeds the cap census AND both sides of the candidate
    # self-join — without the cut the 32-agg fingerprint subtree would
    # execute three times
    bb = materialize(
        fp.select("doc_id", "fp", F.explode(chunks).alias("c")).select(
            "doc_id",
            "fp",
            F.col("c.band").alias("band"),
            F.col("c.bucket").alias("bucket"),
        )
    )
    hot = hot_keys(bb, ["band", "bucket"], _SIMHASH_BUCKET_CAP)
    bb = bb.join(hot, ["band", "bucket"], "left_anti")
    a = bb.alias("a")
    b = bb.alias("b")
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("a_id"),
        F.col("b.doc_id").alias("b_id"),
        F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))).alias("hamming"),
    )
    return cand.filter(F.col("hamming") <= 3).distinct()


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Min-label propagation connected components.

    nodes: (node BIGINT); edges: (a, b) undirected pairs. Returns
    (node, component) where component = min node id reachable.

    PRECONDITION: ``nodes`` must cover every edge endpoint (nodes ⊇
    {a} ∪ {b}). A round emits a label row for every node that RECEIVES
    a message, so an endpoint missing from ``nodes`` would still appear
    in the output. Every caller passes the full corpus, which contains
    all pair endpoints; a caller with stray edges must semi-join them
    against ``nodes`` first.

    Contract: the shared fixpoint kernel (exec_utils.fixpoint with
    min_step) runs blocks of 3 rounds, at most ``max_iter`` rounds
    rounded up to whole blocks; dedup clusters are near-cliques
    (diameter ≤ 2), so one block converges. A loop that does not
    converge raises instead of returning labels mid-propagation. The
    join is null-safe, so all NULL nodes collapse to ONE (NULL, NULL)
    row — the oracle's GROUP BY node over the reach seeds."""
    msgs = message_edges(
        edges.select(F.col("a").alias("u"), F.col("b").alias("v")), nodes
    )
    labels = msgs.filter(F.col("w") == 0).select(
        F.col("src").alias("node"), F.col("src").alias("component")
    )
    step = min_step("component", F.col("component"))
    labels, converged = fixpoint(
        msgs, labels, step, max(1, (max_iter + 2) // 3), 3
    )
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} "
            f"propagation rounds; raise max_iter for graphs of this diameter"
        )
    return labels


# Shared by q_dedup_clusters (exact pair detection), q_dedup_clusters_lsh
# (LSH-candidates + exact verify) and q_dedup_survivors: all compute the
# same clustering because the LSH banding is recall-1.0 over ≥0.6 pairs at
# fixture scale (tests assert candidates ⊇ exact pairs at sf0.001 AND the
# driver's sf0.01). Note: reach seeds from the UNFILTERED corpus — docs
# with null/empty text are singleton components on both engines (Spark's
# nodes frame is also unfiltered; only shingling excludes them).
_CLUSTERS_PREFIX = f"""
    WITH RECURSIVE {_PLANTED_CORPUS_SQL},
    {shingle_ctes_sql()},
    {_EDGES_SQL},
    sym AS (
      SELECT a_id AS src, b_id AS dst FROM edges
      UNION ALL
      SELECT b_id, a_id FROM edges
    ),
    reach AS (
      SELECT doc_id AS node, doc_id AS label FROM corpus
      UNION
      SELECT s.dst, r.label
      FROM reach r JOIN sym s ON s.src = r.node
      WHERE r.label < s.dst
    )"""

_CLUSTERS_ORACLE = (
    _CLUSTERS_PREFIX
    + """
    SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS component
    FROM reach GROUP BY node
    """
)


@register("q_dedup_clusters", oracle=_CLUSTERS_ORACLE)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: near-dup pairs (exact 3-gram Jaccard ≥0.6 on the
    planted corpus) folded into connected components — the canonical
    keep-one-per-cluster step after pair detection. Component id = min
    doc_id (each planted copy clusters with its original). Oracle:
    recursive-CTE reachability in DuckDB; Spark: iterative min-label
    propagation (rounds = cluster diameter). Pair detection here is the
    exact ground-truth tool; q_dedup_clusters_lsh is the same clustering
    on the 100 TB candidate path."""
    corpus = planted_corpus(spark, sf_dir)
    pairs = q_dedup_ngram(spark, sf_dir).select(
        F.col("a_id").alias("a"), F.col("b_id").alias("b")
    )
    nodes = corpus.select(F.col("doc_id").alias("node"))
    cc = connected_components(nodes, pairs)
    return cc.select(F.col("node").alias("doc_id"), F.col("component"))


@register("q_dedup_clusters_lsh", oracle=_CLUSTERS_ORACLE, tags=("lsh",))
def q_dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path dedup clustering: pair detection via MinHash-LSH
    candidates + exact-Jaccard verify (lsh_verified_pairs — shuffle
    O(docs × bands), no all-pairs join), then the same min-label
    connected components. Produces the identical clustering to
    q_dedup_clusters (same oracle) while replacing the one quadratic
    stage with the bucketed path — this is the composition a 100 TB
    corpus dedup actually runs end-to-end."""
    corpus = planted_corpus(spark, sf_dir)
    pairs = lsh_verified_pairs(corpus, n=3, threshold=0.6).select(
        F.col("a_id").alias("a"), F.col("b_id").alias("b")
    )
    nodes = corpus.select(F.col("doc_id").alias("node"))
    cc = connected_components(nodes, pairs)
    return cc.select(F.col("node").alias("doc_id"), F.col("component"))


@register(
    "q_dedup_embed",
    oracle="""
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL
      UNION ALL
      SELECT vec_id + 100000,
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.001)
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    norms AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM corpus
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos_sim
    FROM norms a JOIN norms b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.95
    """,
)
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup (threshold 0.95) on embeddings ∪ scaled
    copies (x*1.001 → cos≈1, guaranteed positives; max non-planted pair in
    the fixtures is 0.51, so the threshold has wide margin both sides).

    Execution is a block-nested-loop with a vectorized GEMM kernel: vectors
    are hash-bucketed into B blocks, each of the B·(B+1)/2 block pairs
    becomes one applyInPandas group whose kernel is a single numpy
    matrix-multiply. Shuffle volume is O(n·B) rows (each vector ships to B
    groups), compute is dense-BLAS — the layout that survives 100 TB,
    versus the O(n²) expression-evaluated theta join it replaces (which
    measured 47 s at sf0.1; this runs ~1 s)."""
    import numpy as np
    import pandas as pd

    from spring_and_kafka_spark.llm.similarity import load_vectors

    e = load_vectors(spark, sf_dir)
    dbl = F.col("embedding").cast("array<double>")
    base = e.select("vec_id", dbl.alias("v"))
    scaled = e.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(dbl, lambda x: x * 1.001).alias("v"),
    )
    corpus = base.unionByName(scaled)

    from spring_and_kafka_spark.llm.similarity import (
        auto_block_count,
        blocked_pair_replicate,
    )

    threshold = 0.95
    # map-side block-pair replication, B derived from the corpus size so
    # per-group GEMM memory stays bounded (same helper as knn_all_topk)
    replicated = blocked_pair_replicate(
        corpus, "vec_id", auto_block_count(corpus.count())
    )

    def block_cosine(pdf: pd.DataFrame) -> pd.DataFrame:
        i, j = int(pdf["i"].iloc[0]), int(pdf["j"].iloc[0])
        A = pdf[pdf["blk"] == i]
        B = pdf[pdf["blk"] == j]
        if A.empty or B.empty:
            return pd.DataFrame({"a_id": [], "b_id": [], "cos_sim": []}).astype(
                {"a_id": "int64", "b_id": "int64", "cos_sim": "float64"}
            )
        ma = np.stack(A["v"].to_numpy())
        mb = np.stack(B["v"].to_numpy())
        ma /= np.linalg.norm(ma, axis=1, keepdims=True)
        mb /= np.linalg.norm(mb, axis=1, keepdims=True)
        sims = ma @ mb.T
        ia, ib = np.nonzero(sims >= threshold)
        a_ids = A["vec_id"].to_numpy()[ia]
        b_ids = B["vec_id"].to_numpy()[ib]
        if i == j:
            # same-block: every unordered pair appears twice (+ self pairs)
            keep = a_ids < b_ids
            a_ids, b_ids, ia, ib = a_ids[keep], b_ids[keep], ia[keep], ib[keep]
            vals = sims[ia, ib]
        else:
            # cross-block: each pair appears once; normalize id order
            vals = sims[ia, ib]
            lo = np.minimum(a_ids, b_ids)
            hi = np.maximum(a_ids, b_ids)
            a_ids, b_ids = lo, hi
        return pd.DataFrame(
            {"a_id": a_ids, "b_id": b_ids, "cos_sim": np.round(vals, 4)}
        )

    return replicated.groupBy("pair_id").applyInPandas(
        block_cosine, "a_id BIGINT, b_id BIGINT, cos_sim DOUBLE"
    )


_CONTAINMENT_T = 0.8


@register(
    "q_dedup_containment",
    oracle=f"""
    WITH {_PLANTED_CORPUS_SQL},
    {shingle_ctes_sql()},
    common AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
      FROM shj a JOIN shj b
        ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT a_id, b_id,
           round(CAST(c AS DOUBLE) / sa.n, 4) AS containment
    FROM common
    JOIN sizes sa ON sa.doc_id = a_id
    WHERE CAST(c AS DOUBLE) / sa.n >= {_CONTAINMENT_T}
    """,
    tags=("dedup",),
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle containment C(A→B) = |A∩B| / |A| ≥ 0.8 — the
    asymmetric near-dup measure Jaccard misses: a short document wholly
    embedded in a longer one scores high containment but low Jaccard
    (the union dominates), so boilerplate-in-page and quote-of-article
    duplication only shows up here.

    Same kernel as ngram_jaccard_pairs (shingle_overlap), read in both
    directions — containment is not symmetric — with an |A|-only
    denominator. Shuffle cost identical to the Jaccard tool; at 100 TB
    the LSH candidate generator bounds the pair stream the same way
    (minhash agreement estimates Jaccard, and C ≥ J always, so LSH
    candidates at a lower band threshold cover the containment search)."""
    ov = shingle_overlap(planted_corpus(spark, sf_dir), 3, _SHINGLE_DF_CAP)
    # both directions from the one a < b overlap in a single pass (the
    # exec_utils.sym_edges explode: a union of two projections would plan
    # the overlap subtree twice)
    both = ov.select(
        "c",
        F.explode(
            F.array(
                F.struct(F.col("a_id"), F.col("b_id"), F.col("na").alias("n")),
                F.struct(
                    F.col("b_id").alias("a_id"),
                    F.col("a_id").alias("b_id"),
                    F.col("nb").alias("n"),
                ),
            )
        ).alias("d"),
    )
    cont = F.col("c").cast("double") / F.col("d.n")
    return both.filter(cont >= _CONTAINMENT_T).select(
        "d.a_id", "d.b_id", F.round(cont, 4).alias("containment")
    )


def incremental_near_matches(
    corpus: DataFrame,
    is_new,
    n: int = 3,
    threshold: float = _NGRAM_JACCARD,
    bands: int = 16,
    rows_per_band: int = 2,
    df_cap: int = _SHINGLE_DF_CAP,
    bucket_cap: int = 500,
    stats: dict | None = None,
) -> DataFrame:
    """Asymmetric (batch-vs-corpus) near-dup matching: for every NEW doc,
    its best existing match with verified Jaccard ≥ threshold, or NULL.

    The daily-ingest shape of q_dedup_near: candidate generation joins
    the new docs' band buckets against the EXISTING docs' buckets — an
    old×new equi-join, never old×old — so a small batch against a huge
    corpus costs O(batch × bands) join probes, not a corpus self-join.
    (In production the corpus side's signatures/buckets are precomputed
    and stored; here both sides derive in one pipeline, which is the
    first-ingest cost.) Shingle df-cap and frequent-bucket guards are
    computed over the UNION, matching what a maintained corpus index
    would hold. Returns one row per new doc: (new_id, match_id, jaccard,
    rejected)."""
    docfeat = _doc_features(corpus, n, df_cap)
    buckets = _band_bucket_rows(
        docfeat.select("doc_id", "mh"), bands, rows_per_band, bucket_cap, stats
    )
    old_b = buckets.filter(~is_new(F.col("doc_id"))).select(
        F.col("doc_id").alias("old_id"), "band", "bucket"
    )
    new_b = buckets.filter(is_new(F.col("doc_id"))).select(
        F.col("doc_id").alias("new_id"), "band", "bucket"
    )
    candidates = (
        old_b.join(new_b, ["band", "bucket"]).select("old_id", "new_id").distinct()
    )
    matches = _verified_pairs(
        docfeat, candidates, "old_id", "new_id", threshold
    ).select("new_id", F.col("old_id").alias("match_id"), "j")
    w = W.partitionBy("new_id").orderBy(F.col("j").desc(), "match_id")
    best = (
        matches.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("new_id", "match_id", F.round("j", 4).alias("jaccard"))
    )
    all_new = corpus.filter(is_new(F.col("doc_id"))).select(
        F.col("doc_id").alias("new_id")
    )
    return all_new.join(best, "new_id", "left").select(
        "new_id",
        "match_id",
        "jaccard",
        F.col("match_id").isNotNull().alias("rejected"),
    )


@register(
    "q_dedup_incremental",
    oracle=f"""
    WITH {_PLANTED_CORPUS_SQL},
    {shingle_ctes_sql()},
    common AS (
      SELECT a.doc_id AS old_id, b.doc_id AS new_id, count(*) AS c
      FROM shj a JOIN shj b
        ON a.shingle = b.shingle
       AND a.doc_id < 100000 AND b.doc_id >= 100000
      GROUP BY 1, 2
    ),
    matches AS (
      SELECT new_id, old_id, c / (sa.n + sb.n - c) AS j
      FROM common
      JOIN sizes sa ON sa.doc_id = old_id
      JOIN sizes sb ON sb.doc_id = new_id
      WHERE c / (sa.n + sb.n - c) >= {_NGRAM_JACCARD}
    ),
    best AS (
      SELECT new_id, old_id AS match_id, round(j, 4) AS jaccard,
             row_number() OVER (PARTITION BY new_id
                                ORDER BY j DESC, old_id) AS rn
      FROM matches
    )
    SELECT nw.doc_id AS new_id, b.match_id, b.jaccard,
           CAST(b.match_id IS NOT NULL AS BOOLEAN) AS rejected
    FROM (SELECT doc_id FROM corpus WHERE doc_id >= 100000) nw
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.new_id = nw.doc_id
    """,
    tags=("lsh",),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup admission: the planted perturbed copies
    (doc_id+100000) arrive as a NEW batch against the existing fixture
    corpus; each new doc is admitted or rejected by its best verified
    near-dup match among EXISTING docs only (J ≥ 0.6). New-vs-new pairs
    are deliberately out of scope — that's q_dedup_near run on the
    batch. The oracle states the same cross-only exact-Jaccard semantics
    the LSH path accelerates (banding recall 1.0 at fixture scale, same
    argument as q_dedup_near)."""
    corpus = planted_corpus(spark, sf_dir)
    return incremental_near_matches(
        corpus, is_new=lambda doc_id: doc_id >= 100000
    )


# Jaccard tuning-curve thresholds as EXACT rationals (p, q): the
# comparison c/(na+nb-c) >= p/q cross-multiplies to c*q >= p*(na+nb-c)
# — pure BIGINT arithmetic, zero float anywhere in the counting path.
_JCURVE_TS = [(1, 2), (3, 5), (7, 10), (4, 5)]
# Bounded doc sample for the curve (the q_embed_threshold_curve budget):
# a pair RATE is scale-free, so the curve is estimated on an id-bounded
# sample and the chosen threshold applied to the full corpus by the LSH
# path. Covers ALL docs at sf0.01 (hash-identical to the unbounded
# form there); caps the pair space structurally at every larger scale.
_JCURVE_DOC_CAP = 1000


@register(
    "q_dedup_threshold_curve",
    oracle=f"""
    WITH {_planted_corpus_sql(f"WHERE doc_id < {_JCURVE_DOC_CAP}")},
    {shingle_ctes_sql()},
    {_OV_SQL},
    scored AS (SELECT c, na + nb - c AS u FROM ov),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_considered,
             {', '.join(
                 f"CAST(count(CASE WHEN c * {q} >= {p} * u THEN 1 END)"
                 f" AS BIGINT) AS c{i}"
                 for i, (p, q) in enumerate(_JCURVE_TS)
             )}
      FROM scored
    )
    SELECT CAST(t.threshold AS DOUBLE) AS threshold, a.n_considered,
           t.n_pairs,
           CASE WHEN a.n_considered > 0
                THEN {ratio6_sql("t.n_pairs", "a.n_considered")}
           END AS pair_rate
    FROM agg a CROSS JOIN (
      {' UNION ALL '.join(
          f"SELECT CAST({p} AS DOUBLE) / {q} AS threshold, "
          f"(SELECT c{i} FROM agg) AS n_pairs"
          for i, (p, q) in enumerate(_JCURVE_TS)
      )}
    ) t
    """,
)
def q_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard threshold tuning curve on the planted corpus: for each
    candidate cutoff (0.5 / 0.6 / 0.7 / 0.8 — _JCURVE_TS), how many of
    the shingle-sharing pairs would be declared near-duplicates, and at
    what rate — the n-gram twin of q_embed_threshold_curve, and the
    number that justifies _NGRAM_JACCARD before q_dedup_ngram /
    q_dedup_near commit to it (a curve that cliffs between 0.5 and 0.6
    says the corpus separates cleanly; a flat one says the threshold is
    arbitrary and LSH banding should be retuned).

    Integer-exact by construction — one step FURTHER than the embed
    curve's fold-cosine discipline: thresholds are rationals p/q and
    each comparison cross-multiplies to c·q ≥ p·(|A|+|B|−c) on exact
    BIGINT shingle counts, so there is NO float anywhere in the
    counting path (the output threshold/rate columns are single IEEE
    divisions for display only). The considered-pair universe is
    "shares ≥ 1 surviving shingle" — the same df-capped universe the
    dedup family verifies against (_SHINGLE_DF_CAP mirrored in the shj
    CTE), so the curve prices exactly the pairs those operators would
    examine.

    Shape at 100 TB: the pair space is structurally BOUNDED — the
    curve runs on an id-bounded doc sample (_JCURVE_DOC_CAP, pushed
    into the parquet scan) exactly like q_embed_threshold_curve's
    1000-vector budget, because a pair RATE is scale-free: estimate on
    the sample, apply the chosen threshold to the full corpus via the
    LSH path (q_dedup_near). Within the sample the machinery is
    q_dedup_ngram's ground-truth class (df-capped shingle equi-join),
    reduced by ONE conditional aggregation (all four thresholds in one
    pass, no rescan) to a single row, then a 4-row unpivot."""
    corpus = planted(
        load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") < _JCURVE_DOC_CAP
        )
    )
    scored = shingle_overlap(corpus, 3, _SHINGLE_DF_CAP).select(
        "c", (F.col("na") + F.col("nb") - F.col("c")).alias("u")
    )
    agg = scored.agg(
        F.count(F.lit(1)).alias("n_considered"),
        *[
            F.count(
                F.when(F.col("c") * q >= p * F.col("u"), 1)
            ).alias(f"c{i}")
            for i, (p, q) in enumerate(_JCURVE_TS)
        ],
    )
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    (F.lit(float(p)) / q).alias("threshold"),
                    F.col(f"c{i}").alias("n_pairs"),
                )
                for i, (p, q) in enumerate(_JCURVE_TS)
            ]
        )
    ).alias("r")
    return agg.select("n_considered", rows).select(
        F.col("r.threshold").alias("threshold"),
        "n_considered",
        F.col("r.n_pairs").alias("n_pairs"),
        F.when(
            F.col("n_considered") > 0, ratio6("r.n_pairs", "n_considered")
        ).alias("pair_rate"),
    )


_MHEST_PERMS = 16  # estimator permutations (matches resolution: 1/16)
_MHEST_DOC_CAP = 300  # calibration sample: doc_id < 300, scan-pushed
_MHEST_EM = 1_000_000 // _MHEST_PERMS  # est micros per matching perm


def _mhest_hash_sql(hv: str = "h") -> str:
    """48-bit BIGINT from the first 12 hex chars of a sha256 VARCHAR —
    the DuckDB twin of Spark's conv(substring(sha2(..), 1, 12), 16, 10)
    (verified bit-identical; 48 bits keeps every value exact in BIGINT
    and below the 2^53 double boundary everywhere downstream)."""
    return (
        "list_sum(list_transform(range(12), p -> "
        f"CAST(strpos('0123456789abcdef', substr({hv}, p + 1, 1)) - 1 "
        "AS BIGINT) << ((11 - p) * 4)))"
    )


@register(
    "q_dedup_minhash_est",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id < {_MHEST_DOC_CAP}
    ),
    {shingle_ctes_sql()},
    ph AS (
      SELECT doc_id, i, {_mhest_hash_sql()} AS hv
      FROM (SELECT doc_id, i, sha256(concat(i, ':', shingle)) AS h
            FROM shj, (SELECT unnest(range({_MHEST_PERMS})) AS i))
    ),
    sig AS (
      SELECT doc_id,
             {', '.join(f"min(CASE WHEN i = {i} THEN hv END) AS mh{i}"
                        for i in range(_MHEST_PERMS))}
      FROM ph GROUP BY doc_id
    ),
    {_OV_SQL},
    pairs AS (
      SELECT c.a_id, c.b_id,
             CAST(floor(c.c * 1e6 / (c.na + c.nb - c.c) + 0.5) AS BIGINT)
               AS jmicros,
             ({' + '.join(f"CASE WHEN sa2.mh{i} = sb2.mh{i} THEN 1 ELSE 0 END"
                          for i in range(_MHEST_PERMS))}) AS n_matches
      FROM ov c
      JOIN sig sa2 ON sa2.doc_id = c.a_id
      JOIN sig sb2 ON sb2.doc_id = c.b_id
    )
    SELECT CAST(n_matches AS INT) AS n_matches,
           CAST(n_matches AS DOUBLE) / {_MHEST_PERMS} AS est_jaccard,
           CAST(count(*) AS BIGINT) AS n_pairs,
           floor(CAST(sum(jmicros) AS DOUBLE) / count(*) + 0.5) / 1e6
             AS mean_exact,
           floor(CAST(sum(abs(n_matches * {_MHEST_EM} - jmicros)) AS DOUBLE)
                 / count(*) + 0.5) / 1e6 AS mean_abs_err
    FROM pairs GROUP BY n_matches
    """,
    tags=("dedup", "eval"),
)
def q_dedup_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: on a bounded doc sample, compare
    the {_MHEST_PERMS}-permutation MinHash Jaccard estimate
    (matching-signature-position fraction) against EXACT shingle
    Jaccard for every co-shingled pair, bucketed by match count — the
    empirical answer to "how many permutations does the dedup pipeline
    need": the per-bucket mean exact Jaccard should track
    n_matches/{_MHEST_PERMS} (an unbiased estimator), and mean_abs_err
    is the resolution the LSH banding (q_dedup_near) actually operates
    at. Run BEFORE committing _MINHASH_PERMS at a new corpus, exactly
    like the two threshold curves precede their cutoffs.

    The permutation hash here is sha256-derived (first 12 hex chars →
    48-bit BIGINT) rather than production xxhash64
    (minhash_signatures): the estimator's statistics are hash-agnostic,
    and sha256 is the one keyed hash BOTH engines compute bit-
    identically, so the oracle replays the signatures exactly instead
    of downgrading to a rows-only check. Per-permutation seeding (the
    i: prefix) preserves the independence lesson from
    minhash_signatures' docstring.

    Cross-engine determinism: signatures and match counts are exact
    integers; exact Jaccard floors to micros via one pinned division;
    the per-bucket means divide BIGINT sums once, floor-form; the
    estimate n_matches/{_MHEST_PERMS} is an exact dyadic double.

    Shape at 100 TB: the sample cap is pushed into the scan (a
    calibration curve is scale-free — the chosen perm count then
    applies corpus-wide through the LSH path); signatures build as ONE
    wide groupBy with {_MHEST_PERMS} min-aggregates (the
    minhash_signatures shuffle shape: O(docs) rows, map-side combined);
    the pair space is sample-bounded and candidate-generated by the
    shingle equi-join (df-capped by shingle_ctes_sql's twin, never
    all-pairs). At the default sample size the df cap is structurally
    idle (per-shingle df <= the sample's doc count < _SHINGLE_DF_CAP) —
    kept, in BOTH engines, so the estimator's pair space stays
    definitionally identical to the production dedup family's, and the
    guard goes live automatically if the sample cap is ever raised past
    it.

    Reference parity anchor: no text surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part
    of the beyond-the-reference dedup family."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _MHEST_DOC_CAP)
        .select("doc_id", "text")
    )
    # the shingle stream feeds FIVE consumers (sizes, the df-cap, the
    # signature build, and both pair-join sides) — materialize it once
    # or every consumer re-runs the scan+explode subtree (the
    # _band_bucket_rows lesson; the pre-fix plan showed 20 parquet
    # scans of the same sample)
    sh = materialize(shingles(d, 3))
    # df-cap twin of shingle_ctes_sql's shj: drop corpus-stopword
    # shingles before pairing (same guard, same constant)
    hot = hot_keys(sh, ["shingle"], _SHINGLE_DF_CAP)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    shj = materialize(sh.join(hot, "shingle", "left_anti"))
    aggs = [
        F.min(
            F.conv(
                F.substring(
                    F.sha2(F.concat(F.lit(f"{i}:"), F.col("shingle")), 256),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long")
        ).alias(f"mh{i}")
        for i in range(_MHEST_PERMS)
    ]
    sig = shj.groupBy("doc_id").agg(*aggs)
    a = shj.alias("a")
    b = shj.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("a_id"), F.col("n").alias("na")
    )
    sb = sizes.select(
        F.col("doc_id").alias("b_id"), F.col("n").alias("nb")
    )
    siga = sig.select(
        F.col("doc_id").alias("a_id"),
        *[F.col(f"mh{i}").alias(f"a_mh{i}") for i in range(_MHEST_PERMS)],
    )
    sigb = sig.select(
        F.col("doc_id").alias("b_id"),
        *[F.col(f"mh{i}").alias(f"b_mh{i}") for i in range(_MHEST_PERMS)],
    )
    matches = None
    for i in range(_MHEST_PERMS):
        term = (F.col(f"a_mh{i}") == F.col(f"b_mh{i}")).cast("int")
        matches = term if matches is None else matches + term
    pairs = (
        common.join(sa, "a_id")
        .join(sb, "b_id")
        .join(siga, "a_id")
        .join(sigb, "b_id")
        .select(
            F.floor(
                F.col("c") * 1e6 / (F.col("na") + F.col("nb") - F.col("c"))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("jmicros"),
            matches.alias("n_matches"),
        )
    )
    return pairs.groupBy("n_matches").agg(
        (F.col("n_matches").cast("double") / _MHEST_PERMS).alias(
            "est_jaccard"
        ),
        F.count(F.lit(1)).alias("n_pairs"),
        (
            F.floor(
                F.sum("jmicros").cast("double") / F.count(F.lit(1)) + F.lit(0.5)
            )
            / 1e6
        ).alias("mean_exact"),
        (
            F.floor(
                F.sum(
                    F.abs(F.col("n_matches") * _MHEST_EM - F.col("jmicros"))
                ).cast("double")
                / F.count(F.lit(1))
                + F.lit(0.5)
            )
            / 1e6
        ).alias("mean_abs_err"),
    )


_SUBSTR_MIN_DOCS = 2  # a segment in >= 2 distinct docs is duplicated text
# The keyed corpus of the per-doc segment readouts: a NULL doc_id row has
# no doc to report on (Spark side: the doc_id filter before the segments).
_KEYED_DOCS_SQL = "(SELECT * FROM documents WHERE doc_id IS NOT NULL)"


@register(
    "q_dedup_substring",
    oracle=f"""
    WITH seg AS ({boilerplate_segments_sql(_KEYED_DOCS_SQL)}),
    flag AS (
      SELECT seg, count(DISTINCT doc_id) >= {_SUBSTR_MIN_DOCS} AS dup
      FROM seg GROUP BY seg
    ),
    j AS (
      SELECT s.doc_id, s.seg_idx, length(s.seg) AS ln, f.dup
      FROM seg s JOIN flag f USING (seg)
    ),
    stats AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_segments,
             CAST(count(CASE WHEN dup THEN 1 END) AS BIGINT) AS n_dup,
             CAST(sum(ln) AS BIGINT) AS chars,
             CAST(coalesce(sum(CASE WHEN dup THEN ln END), 0) AS BIGINT)
               AS dup_chars
      FROM j GROUP BY doc_id
    ),
    runs AS (
      SELECT doc_id, CAST(max(run_len) AS BIGINT) AS longest_run
      FROM (
        SELECT doc_id, count(*) AS run_len
        FROM (SELECT doc_id, seg_idx,
                     seg_idx - row_number()
                       OVER (PARTITION BY doc_id ORDER BY seg_idx) AS isl
              FROM j WHERE dup)
        GROUP BY doc_id, isl
      ) GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_segments, s.n_dup, s.dup_chars,
           CASE WHEN s.chars > 0 THEN {ratio6_sql("s.dup_chars", "s.chars")}
           END AS dup_char_frac,
           coalesce(r.longest_run, 0) AS longest_run
    FROM stats s LEFT JOIN runs r ON s.doc_id = r.doc_id
    """,
    tags=("dedup", "text"),
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span readout — the span-EXCISION half of
    substring dedup, on top of the detection half's segment machinery
    (llm/text.py::boilerplate_segments, q_text_boilerplate): for every
    document, how many of its tumbling 8-word segments also occur in
    >= {_SUBSTR_MIN_DOCS} distinct OTHER-or-same documents, what
    fraction of the document's characters those duplicated segments
    cover, and the longest CONSECUTIVE duplicated run (adjacent
    seg_idx islands via the q_win_streak row_number-difference trick).
    dup_char_frac is the number an excision pass thresholds on ("drop
    docs that are >50% duplicated text" / "excise runs >= 4 segments"),
    completing the family: q_text_dup_fraction measures WITHIN-doc
    repetition, q_text_boilerplate measures cross-SOURCE templates at
    the source grain, this locates cross-DOC duplication inside each
    document. Granularity caveat (the C4 line-dedup trade): tumbling
    segments detect duplication ALIGNED to segment boundaries — the
    crawler-template / copied-passage case where the duplicated block
    starts a doc or follows a shared prefix; an arbitrary-offset
    substring match needs the suffix-array/anchor-ngram alignment
    family, whose candidate generation this segment table seeds.

    Cross-engine determinism: counts, char sums and island keys are
    exact integers; the one division (dup_char_frac) is floor-form
    micros, guarded on chars > 0 (an all-empty-token doc yields
    zero-length segments); NULL doc_id rows are excluded at the scan
    in BOTH engines — not just because a per-doc readout of an
    unkeyed doc is meaningless, but because pooled NULL rows would
    make the island row_number ORDER BY seg_idx tie across documents
    and the tie-break nondeterministic cross-engine. The runs rejoin
    is on doc_id equality (NULL keys already excluded).

    Shape at 100 TB: segment explode is O(tokens/8); ONE map-side-
    combined groupBy(seg) builds the dup flag (the q_text_boilerplate
    template table — at web scale the segment key becomes
    xxhash64(seg) so shuffles move 8-byte keys); the flag rejoin is a
    pre-aggregated equi-join with fan-out exactly 1 per segment; the
    island window and both per-doc groupBys all partition on doc_id —
    AQE coalesces them onto ONE doc_id shuffle's output; output is
    |docs| rows. No pair enumeration anywhere: duplication is decided
    by the segment table's doc-frequency, never by doc×doc joins.

    Reference parity anchor: the reference's processing model is
    "filter, enrich or transform" a stream (reference README.md:329);
    this is the standard training-data transform the detection half
    feeds. No text surface in the reference itself — part of the
    beyond-the-reference dedup family."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    # the segment stream feeds the dup-flag groupBy AND the rejoin side
    # — materialize so the scan+explode runs once (the
    # q_text_boilerplate lesson)
    seg = materialize(boilerplate_segments(d).drop("source"))
    flag = seg.groupBy("seg").agg(
        (F.count_distinct("doc_id") >= _SUBSTR_MIN_DOCS).alias("dup")
    )
    j = seg.join(flag, "seg").select(
        "doc_id", "seg_idx", F.length("seg").alias("ln"), "dup"
    )
    stats = j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.count(F.when(F.col("dup"), 1)).alias("n_dup"),
        F.sum("ln").alias("chars"),
        F.coalesce(F.sum(F.when(F.col("dup"), F.col("ln"))), F.lit(0)).alias(
            "dup_chars"
        ),
    )
    isl = F.col("seg_idx") - F.row_number().over(
        W.partitionBy("doc_id").orderBy("seg_idx")
    )
    runs = (
        j.filter(F.col("dup"))
        .select("doc_id", isl.alias("isl"))
        .groupBy("doc_id", "isl")
        .agg(F.count(F.lit(1)).alias("run_len"))
        .groupBy("doc_id")
        .agg(F.max("run_len").alias("longest_run"))
    )
    return stats.join(runs, "doc_id", "left").select(
        "doc_id",
        "n_segments",
        "n_dup",
        "dup_chars",
        F.when(F.col("chars") > 0, ratio6("dup_chars", "chars")).alias(
            "dup_char_frac"
        ),
        F.coalesce(F.col("longest_run"), F.lit(0)).alias("longest_run"),
    )


@register(
    "q_dedup_seg_df_hist",
    oracle=f"""
    WITH seg AS ({boilerplate_segments_sql(_KEYED_DOCS_SQL)}),
    f AS (
      SELECT seg, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
             CAST(count(*) AS BIGINT) AS inst
      FROM seg GROUP BY seg
    ),
    h AS (
      SELECT CAST(length(printf('%b', df)) - 1 AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_segments,
             CAST(sum(inst) AS BIGINT) AS n_instances
      FROM f GROUP BY 1
    ),
    w AS (SELECT bucket, n_segments, n_instances,
                 sum(n_instances) OVER () AS total FROM h)
    SELECT bucket,
           (CAST(1 AS BIGINT) << bucket) AS lo,
           (CAST(1 AS BIGINT) << (bucket + 1)) - 1 AS hi,
           n_segments, n_instances,
           {ratio6_sql("n_instances", "total")} AS inst_share
    FROM w
    """,
    tags=("dedup", "text"),
)
def q_dedup_seg_df_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two histogram of segment document frequency — the
    CALIBRATION readout for the segment-dedup family's thresholds: for
    each tumbling {_BP_SEG}-word segment, how many distinct documents
    carry it (df), bucketed 2^k <= df < 2^(k+1), with per-bucket
    segment counts, INSTANCE counts, and the instance share. Bucket 0
    (df = 1) is unique text; everything above it is the excisable mass
    q_dedup_substring locates per doc and q_text_boilerplate flags per
    source. Run BEFORE committing _SUBSTR_MIN_DOCS / _BP_MIN_SRC at a
    new corpus — exactly as the threshold curves precede their cutoffs
    and q_dedup_minhash_est precedes _MINHASH_PERMS: the histogram says
    how much mass each candidate threshold would excise, so the knob is
    chosen from data, not folklore. Completes the family: detection
    (q_text_boilerplate), excision readout (q_dedup_substring),
    threshold calibration (this).

    Cross-engine determinism: df and instance counts are exact
    BIGINTs; the log2 bucket is a bit-length, never libm (the
    q_hist_log2 discipline — a float log2 is 1-ulp hazardous exactly
    AT the power-of-two bucket edges); bucket bounds come from integer
    shifts in both engines; the share is floor-form on the integer
    ratio. df >= 1 by construction (NULL doc_id rows are excluded at
    the scan in BOTH engines, the q_dedup_substring contract), so the
    bucket expression needs no NULL arm.

    Shape at 100 TB: segment explode is O(tokens/{_BP_SEG}); ONE
    map-side-combined groupBy(seg) collapses to the segment universe
    (xxhash64 keys at web scale, the family's documented trade); the
    histogram is a second map-side groupBy to <= ~40 bucket rows; the
    total rides as a window over those rows. No join anywhere.

    Reference parity anchor: no text surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part of
    the beyond-the-reference dedup family."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    seg = boilerplate_segments(d).select("doc_id", "seg")
    f = seg.groupBy("seg").agg(
        F.count_distinct("doc_id").alias("df"),
        F.count(F.lit(1)).alias("inst"),
    )
    return seg_df_histogram(f)


def seg_df_histogram(f: DataFrame) -> DataFrame:
    """q_dedup_seg_df_hist's readout from a (seg, df, inst) table —
    shared with streaming.segdf.maintained_seg_df_hist so stream ≡
    batch is an identity on the readout."""
    h = f.groupBy(
        (F.length(F.bin(F.col("df"))) - 1).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("inst").alias("n_instances"),
    )
    w = h.select(
        "bucket",
        "n_segments",
        "n_instances",
        F.sum("n_instances").over(W.partitionBy()).alias("total"),
    )
    return w.select(
        "bucket",
        F.expr("shiftleft(1L, cast(bucket AS INT))").alias("lo"),
        F.expr("shiftleft(1L, cast(bucket AS INT) + 1) - 1L").alias("hi"),
        "n_segments",
        "n_instances",
        ratio6("n_instances", "total").alias("inst_share"),
    )


# --- arbitrary-offset span alignment (the gap q_dedup_substring's
# docstring names: tumbling segments only catch boundary-ALIGNED
# duplication; a passage copied at an arbitrary offset needs the
# anchor-ngram / exact-substring alignment family of RefinedWeb / Lee et
# al. "Deduplicating Training Data Makes Language Models Better").

_ALIGN_K = 4  # anchor shingle width (tokens)
_ALIGN_MOD = 8  # content-defined sampling: keep hashes ≡ 0 (mod 8), ~1/8
_ALIGN_SHIFT = 3  # planted-copy offset (tokens) — deliberately NOT a
# multiple of _BP_SEG, so tumbling-segment dedup cannot see these pairs
_ALIGN_DF_CAP = 1000  # hot-anchor guard: drop hashes in > cap docs
_ALIGN_MIN_ANCHORS = 2  # an alignment needs ≥ 2 agreeing anchors


def _span_hash(col):
    """48-bit BIGINT from the first 12 hex chars of sha2-256 — the
    cross-engine hash pair shared with q_dedup_minhash_est (DuckDB twin:
    _mhest_hash_sql over sha256()); 48 bits stays exact in BIGINT and
    under 2^53 everywhere downstream."""
    return F.conv(F.substring(F.sha2(col, 256), 1, 12), 16, 10).cast("long")


def _span_ctes_sql(with_shift: bool) -> str:
    """Shared DuckDB CTE block for the span-alignment family: planted
    corpus (optional shifted copies) -> token arrays -> sliding
    {_ALIGN_K}-gram positions -> mod-sampled sha2-prefix anchors at min
    position per (doc, hash) -> df-capped anchor table -> delta-grouped
    pair alignments `g`. One source of truth, the shingle_ctes_sql
    discipline — q_dedup_span_align composes it with the shifted
    corpus, q_dedup_span_cover without."""
    corpus = (
        f"""corpus AS (
      SELECT doc_id, text FROM base
      UNION ALL
      SELECT doc_id + 200000,
             array_to_string({tok_array_sql()}[{_ALIGN_SHIFT + 1}:], ' ')
      FROM base
    ),"""
        if with_shift
        else """corpus AS (SELECT doc_id, text FROM base),"""
    )
    return f"""base AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id IS NOT NULL AND text IS NOT NULL AND text <> ''
    ),
    {corpus}
    d AS (
      SELECT doc_id, {tok_array_sql()} AS ts, {n_tokens_sql()} AS n
      FROM corpus WHERE text <> ''
    ),
    sg AS (
      SELECT doc_id, {posexplode_sql(grams_sql("ts", _ALIGN_K, True), "seg", "pos")}
      FROM d
    ),
    hvt AS (
      SELECT doc_id, pos, {_mhest_hash_sql()} AS hv
      FROM (SELECT doc_id, pos, sha256(seg) AS h FROM sg)
    ),
    an AS (
      SELECT doc_id, hv, CAST(min(pos) AS BIGINT) AS pos
      FROM hvt WHERE hv % {_ALIGN_MOD} = 0
      GROUP BY doc_id, hv
    ),
    anc AS (
      SELECT doc_id, hv, pos FROM an
      WHERE hv NOT IN (
        SELECT hv FROM an GROUP BY hv
        HAVING count(*) > {_ALIGN_DF_CAP}
      )
    ),
    m AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             b.pos - a.pos AS delta, a.pos AS apos
      FROM anc a JOIN anc b
        ON a.hv = b.hv AND a.doc_id < b.doc_id
    ),
    g AS (
      SELECT a_id, b_id, delta,
             CAST(count(*) AS BIGINT) AS n_anchors,
             min(apos) AS amin, max(apos) AS amax
      FROM m GROUP BY 1, 2, 3
      HAVING count(*) >= {_ALIGN_MIN_ANCHORS}
    )"""


def span_docs(df: DataFrame) -> DataFrame:
    """(doc_id, ts, n): the token table the span family anchors over —
    keyed docs with text only (NULL doc_id, NULL and empty text are
    dropped, the base CTE of _span_ctes_sql)."""
    keyed = df.filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull() & (F.col("text") != "")
    )
    ts = tok_array()
    return keyed.select("doc_id", ts.alias("ts"), F.size(ts).alias("n"))


def _span_anchor_table(docs: DataFrame) -> DataFrame:
    """(doc_id, hv, pos): mod-{_ALIGN_MOD}-sampled sha2-prefix anchors
    at MIN position per (doc, hash), from a token table
    (doc_id, ts, n). min-pos is a FOLDABLE merge — per-batch partials
    re-min-merged across batches reproduce this table exactly, which is
    what streaming.spananchor relies on."""
    segs = grams(F.col("ts"), _ALIGN_K, whole=True)
    sg = docs.select("doc_id", F.posexplode(segs).alias("pos", "seg"))
    return (
        spread(sg)
        .select("doc_id", "pos", _span_hash(F.col("seg")).alias("hv"))
        .filter(F.col("hv") % _ALIGN_MOD == 0)
        .groupBy("doc_id", "hv")
        .agg(F.min("pos").cast("long").alias("pos"))
    )


def _alignments_from_anchors(an: DataFrame) -> DataFrame:
    """df-capped hash equi self-join + delta grouping over a
    MATERIALIZED anchor table (it feeds the hot-list groupBy AND both
    join sides): the surviving pair alignments
    (a_id, b_id, delta, n_anchors, amin, amax)."""
    anc = an.join(hot_keys(an, ["hv"], _ALIGN_DF_CAP), "hv", "left_anti")
    a = anc.alias("a")
    b = anc.alias("b")
    g = (
        a.join(
            b,
            (F.col("a.hv") == F.col("b.hv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            (F.col("b.pos") - F.col("a.pos")).alias("delta"),
            F.col("a.pos").alias("apos"),
        )
        .groupBy("a_id", "b_id", "delta")
        .agg(
            F.count(F.lit(1)).alias("n_anchors"),
            F.min("apos").alias("amin"),
            F.max("apos").alias("amax"),
        )
        .filter(F.col("n_anchors") >= _ALIGN_MIN_ANCHORS)
    )
    return g


def _span_alignments(
    spark: SparkSession, sf_dir: str, with_shift: bool
) -> tuple[DataFrame, DataFrame]:
    """Spark twin of _span_ctes_sql: (docs, g) where docs is the token
    table (doc_id, ts, n) over the (optionally shift-planted) corpus
    and g holds the surviving pair alignments — composed from the
    shared anchor-table builder and alignment tail so the streaming
    maintainer (streaming/spananchor.py) runs the IDENTICAL code over
    its merged anchor state."""
    corpus = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if with_shift:
        ts = tok_array()
        shifted = corpus.select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.array_join(
                F.slice(
                    ts,
                    _ALIGN_SHIFT + 1,
                    F.greatest(F.size(ts) - _ALIGN_SHIFT, F.lit(0)),
                ),
                " ",
            ).alias("text"),
        )
        corpus = corpus.unionByName(shifted)
    docs = span_docs(corpus)
    an = materialize(_span_anchor_table(docs))
    return docs, _alignments_from_anchors(an)


@register(
    "q_dedup_span_align",
    oracle=f"""
    WITH {_span_ctes_sql(with_shift=True)},
    best AS (
      SELECT a_id, b_id, CAST(delta AS BIGINT) AS delta, n_anchors,
             CAST(amax - amin + {_ALIGN_K} AS BIGINT) AS span_tokens,
             row_number() OVER (PARTITION BY a_id, b_id
               ORDER BY n_anchors DESC, amax - amin DESC, delta) AS rn
      FROM g
    )
    SELECT b.a_id, b.b_id, b.delta, b.n_anchors, b.span_tokens,
           {ratio6_sql("b.span_tokens", "s.n")} AS span_frac
    FROM best b JOIN d s ON s.doc_id = b.a_id
    WHERE b.rn = 1
    """,
    tags=("dedup", "text"),
)
def q_dedup_span_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-offset duplicated-span alignment — the exact-substring
    dedup step of RefinedWeb / Lee et al., bucketed: content-defined
    ANCHOR shingles (every {_ALIGN_K}-token shingle whose 48-bit hash ≡
    0 mod {_ALIGN_MOD} — the selection depends only on the TEXT, so the
    same passage picks the same anchors at ANY offset) are equi-joined
    across documents, candidate pairs group by their position DELTA
    (pos_b − pos_a: a genuinely copied span puts every shared anchor at
    ONE delta), and an alignment with ≥ {_ALIGN_MIN_ANCHORS} agreeing
    anchors is reported with its anchor count, covered token span in
    doc a, and span fraction. Closes the gap q_dedup_substring's
    docstring names: tumbling {_BP_SEG}-word segments catch only
    boundary-ALIGNED duplication, and this round's planted corpus makes
    the gap measurable — the corpus unions a copy of every document
    shifted by {_ALIGN_SHIFT} tokens (doc_id + 200000; {_ALIGN_SHIFT}
    is deliberately coprime to the segment width), pairs segment dedup
    is structurally blind to and this operator must pin at
    delta = −{_ALIGN_SHIFT} (tests/test_property_text.py plants and
    asserts exactly that).

    Cross-engine determinism: the anchor hash is the shared
    sha2-prefix pair (_span_hash / _mhest_hash_sql — verified
    bit-identical in q_dedup_minhash_est); anchor selection, dedup to
    min-position per (doc, hash), the df cap, delta grouping, anchor
    counts and spans are all exact integer arithmetic; the one
    division (span_frac) is floor-form micros over a token count ≥ 1
    by construction; the best-alignment edge ranks on integer keys
    (n_anchors, span) with the delta itself as the final tiebreak.

    Shape at 100 TB: anchors are the candidate GENERATOR — never
    doc×doc. Per doc the anchor table holds ~tokens/{_ALIGN_MOD} rows
    (one sliding hash per position, mod-sampled, then collapsed to one
    row per (doc, hash) by the min-position groupBy — which also
    bounds a repeated-phrase doc's contribution to the join at one row
    per distinct phrase). The self-join is an equi-join on the 8-byte
    hash whose per-key fan-out the {_ALIGN_DF_CAP}-doc cap bounds
    (the _SHINGLE_DF_CAP discipline: a hotter anchor is boilerplate,
    which the segment family already handles — anti-join of the tiny
    hot list, hot_keys); the (pair, delta) groupBy is map-side combined
    and touches only anchor matches; the per-pair best-alignment
    window partitions on the pair key. After the one segment pass the
    align-and-extend step moves only 8-byte hashes and integer
    positions through its shuffles; the final span-fraction join
    re-reads just the slim (doc_id, token-count) projection for the
    per-pair denominators (pairs ⋈ sizes, |pairs| rows).

    Reference parity anchor: no text surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part of
    the beyond-the-reference dedup family."""
    docs, g = _span_alignments(
        spark, sf_dir, with_shift=True
    )
    best = (
        g.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("a_id", "b_id").orderBy(
                    F.desc("n_anchors"),
                    F.desc(F.col("amax") - F.col("amin")),
                    "delta",
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "a_id",
            "b_id",
            F.col("delta").cast("long").alias("delta"),
            "n_anchors",
            (F.col("amax") - F.col("amin") + _ALIGN_K)
            .cast("long")
            .alias("span_tokens"),
        )
    )
    sizes = docs.select(F.col("doc_id").alias("a_id"), "n")
    return best.join(sizes, "a_id").select(
        "a_id",
        "b_id",
        "delta",
        "n_anchors",
        "span_tokens",
        ratio6("span_tokens", "n").alias("span_frac"),
    )


@register(
    "q_dedup_span_cover",
    oracle=f"""
    WITH {_span_ctes_sql(with_shift=False)},
    iv AS (
      SELECT a_id AS doc_id, amin AS s, amax + {_ALIGN_K} AS e FROM g
      UNION ALL
      SELECT b_id, amin + delta, amax + delta + {_ALIGN_K} FROM g
    ),
    ev AS (
      SELECT doc_id, pos, CAST(sum(dlt) AS BIGINT) AS dlt FROM (
        SELECT doc_id, s AS pos, 1 AS dlt FROM iv
        UNION ALL SELECT doc_id, e, -1 FROM iv
      ) GROUP BY 1, 2
    ),
    sw AS (
      SELECT doc_id, pos,
             sum(dlt) OVER (PARTITION BY doc_id ORDER BY pos) AS active,
             lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      FROM ev
    ),
    cov AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN active > 0 AND nxt IS NOT NULL
                           THEN nxt - pos ELSE 0 END) AS BIGINT) AS cv
      FROM sw GROUP BY doc_id
    ),
    ns AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
      FROM iv GROUP BY doc_id
    )
    SELECT c.doc_id, ns.n_spans,
           least(c.cv, d.n) AS covered_tokens,
           CAST(d.n AS BIGINT) AS n_tokens,
           {ratio6_sql("least(c.cv, d.n)", "d.n")} AS cover_frac
    FROM cov c
    JOIN ns ON ns.doc_id = c.doc_id
    JOIN d ON d.doc_id = c.doc_id
    """,
    tags=("dedup", "text"),
)
def q_dedup_span_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document excision readout over ARBITRARY-OFFSET aligned
    spans — the q_dedup_substring dup_char_frac analog at span grain,
    on the RAW corpus (no planted shifted copies: q_dedup_span_align
    plants them to demonstrate offset-blindness; this is the
    production readout an excision pass thresholds on, so it measures
    only real cross-doc duplication): every surviving pair alignment
    contributes its covered interval to BOTH endpoint documents
    ([amin, amax+{_ALIGN_K}) in doc a, delta-mapped into doc b), and
    per document the intervals' UNION length — overlapping alignments
    with different partners never double-count — is reported as
    covered tokens and coverage fraction, alongside the contributing
    span count. "Drop docs over 60% span-covered / excise their
    covered runs" is the downstream decision.

    Cross-engine determinism: the interval union runs the
    q_interval_peak sweep shape on exact integers — +1/−1 deltas
    summed per (doc, pos) so the running-sum window orders a UNIQUE
    pos per doc (no peer ties), covered length from lead() gaps where
    the running count is positive; covered_tokens is clamped to the
    token count (a sub-{_ALIGN_K}-token doc's single clamped anchor
    interval can nominally extend past its end) so cover_frac ≤ 1 by
    construction; the one division is floor-form micros over n ≥ 1.

    Shape at 100 TB: the anchor/alignment stages are shared with
    q_dedup_span_align (anchor-generated candidates, df-capped hash
    equi-join, never doc×doc); the sweep-event stream is 4 rows per
    surviving alignment (interval start/end × both endpoint docs,
    emitted by ONE explode in a single pass — two union layers would
    plan the alignment subtree once per side) —
    duplication-sized, not corpus-sized — and the sweep is one
    doc_id-keyed shuffle with two windows over the SAME (doc_id, pos)
    sort (Spark plans one Exchange + one Sort for both). The span count rides THROUGH the sweep (a start-event
    counter summed alongside the union length) rather than as a
    separate aggregate-and-join, so the whole query has exactly ONE
    join: |covered docs| against the slim token-count projection.

    Reference parity anchor: no text surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part of
    the beyond-the-reference dedup family."""
    docs, g = _span_alignments(spark, sf_dir, with_shift=False)
    return _span_cover_readout(g, docs.select("doc_id", "n"))


def _span_cover_readout(g: DataFrame, sizes: DataFrame) -> DataFrame:
    """The interval-union sweep tail of q_dedup_span_cover over an
    alignment table g and a (doc_id, n) token-count table — shared
    verbatim with streaming.spananchor.maintained_span_cover so stream
    and batch produce the identical readout by construction."""
    sizes = sizes.select("doc_id", F.col("n").cast("long").alias("n"))
    # ONE explode emits all four sweep events per
    # alignment — interval start/end for BOTH endpoint docs — replacing
    # the previous two unionByName layers, which planned the (expensive,
    # unmaterialized) anchor/alignment subtree once per union side and
    # needed an eager materialize between them to contain the damage.
    # Single pass, no checkpoint, whole readout is one job.
    # st marks interval-START events: summed through the (doc, pos)
    # collapse and again in the per-doc rollup it IS the span count,
    # so no separate count-and-join aggregate is needed
    def _evt(doc, pos, dlt, st):
        return F.struct(
            doc.alias("doc_id"),
            pos.cast("long").alias("pos"),
            F.lit(dlt).alias("dlt"),
            F.lit(st).alias("st"),
        )

    a_s = F.col("amin")
    a_e = F.col("amax") + _ALIGN_K
    b_s = F.col("amin") + F.col("delta")
    b_e = F.col("amax") + F.col("delta") + _ALIGN_K
    ev = (
        g.select(
            F.explode(
                F.array(
                    _evt(F.col("a_id"), a_s, 1, 1),
                    _evt(F.col("a_id"), a_e, -1, 0),
                    _evt(F.col("b_id"), b_s, 1, 1),
                    _evt(F.col("b_id"), b_e, -1, 0),
                )
            ).alias("v")
        )
        .select("v.*")
        .groupBy("doc_id", "pos")
        .agg(F.sum("dlt").alias("dlt"), F.sum("st").alias("st"))
    )
    wo = W.partitionBy("doc_id").orderBy("pos")
    sw = ev.select(
        "doc_id",
        "pos",
        "st",
        F.sum("dlt").over(wo).alias("active"),
        F.lead("pos").over(wo).alias("nxt"),
    )
    cov = sw.groupBy("doc_id").agg(
        F.sum(
            F.when(
                (F.col("active") > 0) & F.col("nxt").isNotNull(),
                F.col("nxt") - F.col("pos"),
            ).otherwise(0)
        ).alias("cv"),
        F.sum("st").alias("n_spans"),
    )
    covered = F.least(F.col("cv"), F.col("n"))
    return (
        cov.join(sizes, "doc_id")
        .select(
            "doc_id",
            "n_spans",
            covered.alias("covered_tokens"),
            F.col("n").cast("long").alias("n_tokens"),
            ratio6(covered, "n").alias("cover_frac"),
        )
    )


@register(
    "q_dedup_keep_best",
    oracle=_CLUSTERS_PREFIX
    + """,
    comp AS (
      SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS component
      FROM reach GROUP BY node
    ),
    sz AS (
      SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars FROM corpus
    ),
    j AS (
      SELECT c.component, c.doc_id, s.n_chars,
             row_number() OVER (PARTITION BY c.component
               ORDER BY s.n_chars DESC NULLS LAST, c.doc_id) AS rk
      FROM comp c JOIN sz s USING (doc_id)
    )
    SELECT component,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT)
             AS kept_doc,
           CAST(max(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT)
             AS kept_chars,
           CAST(count(*) - 1 AS BIGINT) AS dropped_docs,
           CAST(sum(n_chars) - max(CASE WHEN rk = 1 THEN n_chars END)
                AS BIGINT) AS dropped_chars
    FROM j GROUP BY component HAVING count(*) >= 2
    """,
    tags=("dedup", "lsh"),
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection per near-dup cluster — the DECISION
    step the cluster queries stop short of: q_dedup_clusters_lsh labels
    every doc with its component; this picks, per multi-doc component,
    the one document to KEEP (longest text in chars — the standard
    keep-the-most-complete heuristic, which on the planted corpus
    always prefers the original over its last-token-dropped copy —
    ties to the smallest doc_id) and reports the excision mass the
    choice implies: dropped doc count and dropped char volume per
    cluster. Summed over components, dropped_chars IS the dedup pass's
    storage/compute saving; a curator reads kept_doc to materialize
    the surviving corpus. Singleton components are filtered (no
    decision to make), so the output is duplication-sized.

    Cross-engine determinism: component ids are exact min-label
    integers (the q_dedup_clusters contract), the keeper rank orders
    (n_chars DESC NULLS LAST, doc_id) — total order on integers — and
    every output column is an exact BIGINT count/sum; no floats
    anywhere.

    Shape at 100 TB: pair detection and clustering are the LSH
    candidate path + iterative min-label CC shared with
    q_dedup_clusters_lsh (bucketed, never doc×doc; in a production
    pipeline the cluster table is a shared materialization — this
    readout is its cheap tail); the selection is ONE component-keyed
    window + groupBy over the clustered corpus (component-partitioned
    heap via row_number), and the length table is a map-side
    projection of the corpus joined on doc_id. Output rows =
    multi-doc clusters only.

    Reference parity anchor: no text surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part of
    the beyond-the-reference dedup family."""
    corpus = planted_corpus(spark, sf_dir)
    pairs = lsh_verified_pairs(corpus, n=3, threshold=0.6).select(
        F.col("a_id").alias("a"), F.col("b_id").alias("b")
    )
    nodes = corpus.select(F.col("doc_id").alias("node"))
    cc = connected_components(nodes, pairs)
    sz = corpus.select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )
    j = (
        cc.select(F.col("node").alias("doc_id"), "component")
        .join(sz, "doc_id")
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("component").orderBy(
                    F.col("n_chars").desc_nulls_last(), "doc_id"
                )
            ),
        )
    )
    kept_chars = F.max(F.when(F.col("rk") == 1, F.col("n_chars")))
    return (
        j.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias(
                "kept_doc"
            ),
            kept_chars.alias("kept_chars"),
            (F.count(F.lit(1)) - 1).alias("dropped_docs"),
            (F.sum("n_chars") - kept_chars).alias("dropped_chars"),
        )
        .filter(F.col("n_docs") >= 2)
    )
