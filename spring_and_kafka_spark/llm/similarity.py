"""Similarity search over embedding columns (SURVEY.md §2.10).

Brute-force cosine top-k is the correctness baseline (TakeOrderedAndProject
— per-partition heap + driver merge, no global sort). The scale paths are
IVF (centroid routing: only probed clusters are scanned) and random-
hyperplane LSH bucketing. All distance math is built-in expression
composition (zip_with/aggregate) in codegen — doubles end-to-end so the
DuckDB oracle hash-matches.

Every cross-engine rule lives in ONE Spark kernel and ONE DuckDB twin
defined next to it, and every query calls the pair instead of restating
the rule: the scan (`_vecs` / `_E_SQL`), the NULL-at-zero-norm cosine
(`cosine` / `_cos_sql`), the id-bounded samples (`_sample` /
`_sample_sql`), the row_number top-k cut (`_rank` / `_rank_sql`), the
exact and Hamming per-query tops, the single-query heaps, IVF
assignment and probing, the PQ encode, and the floor-form ratio
(`exec_utils.ratio6` / `exec_utils.ratio6_sql`). An edit to a rule is one edit per
engine, so a query's two halves cannot drift apart.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from spring_and_kafka_spark.exec_utils import materialize, micros, ratio6, ratio6_sql
from spring_and_kafka_spark.registry import register
from spring_and_kafka_spark.sources.tables import load_table


def dot(u: Column | str, v: Column | str) -> Column:
    """Σ u_i·v_i via zip_with + aggregate (sequential fold, matching
    DuckDB's list_dot_product accumulation order)."""
    return F.aggregate(
        F.zip_with(u, v, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(u: Column, v: Column) -> Column:
    # NULL against a zero-norm vector: cosine is undefined there, ANSI
    # Spark throws on /0 while DuckDB's list_dot_product oracles yield
    # NULL — the guard makes both engines answer NULL (Catalyst CSEs the
    # repeated dot() subtrees, so no extra fold is evaluated)
    denom = F.sqrt(dot(u, u)) * F.sqrt(dot(v, v))
    return F.when(denom != 0, dot(u, v) / denom)


def _cos_sql(a: str, b: str) -> str:
    """DuckDB twin of `cosine`: list_dot_product folds in `dot`'s order,
    and the NULLIF pins a zero-norm side to NULL in EVERY DuckDB
    division mode, not just the default one."""
    return (
        f"list_dot_product({a}, {b})"
        f" / NULLIF(sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b})), 0)"
    )


def load_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding scan under the NULL-payload contract (NULLCHECK
    sweep): a NULL embedding cell — an upstream encode failure, routine
    in a 100 TB ingest — is SKIPPED at the scan, never propagated into
    dot products, k-means, LSH planes, or the Arrow-batched GEMM paths
    (DuckDB's list_inner_product hard-errors on NULL and the pandas UDFs
    would see None rows). Every oracle over this table mirrors the
    contract with `WHERE embedding IS NOT NULL`. The filter pushes into
    the parquet scan (IsNotNull in PushedFilters) so dense fixtures pay
    nothing."""
    return load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )


def _vecs(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """(vec_id, *cols, v): the `load_vectors` scan with the embedding
    cast to array<double> — the frame every similarity query starts
    from. DuckDB twin: the `e` CTE, _E_SQL (or _E_WF_SQL under
    `_well_formed`)."""
    return load_vectors(spark, sf_dir).select(
        "vec_id", *cols, F.col("embedding").cast("array<double>").alias("v")
    )


# Well-formed fixed-dimension vector contract for the sketch/PQ family:
# exactly 64 components, none NULL. DuckDB's list_dot_product hard-errors
# on NULL elements and on dimension mismatch (and the signature CTE's
# BIGINT shift would overflow past dim 64), while Spark's zip_with pads
# and folds NULL — so a corrupt row (sparse-encode bug, truncated write)
# must be excluded at the scan in BOTH engines, exactly like the
# finite-or-null ingest contract excludes NaN.
# Zero-norm vectors remain INCLUDED (valid shape; cosine answers NULL).
_WF_DIM = 64
_WF_SQL = (
    "embedding IS NOT NULL AND len(embedding) = 64 "
    "AND len(list_filter(embedding, x -> x IS NULL)) = 0"
)
_E_SQL = (
    "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
    " FROM embeddings WHERE embedding IS NOT NULL)"
)
_E_WF_SQL = _E_SQL.replace("embedding IS NOT NULL", _WF_SQL)


def _well_formed(e: DataFrame) -> DataFrame:
    """Spark twin of _WF_SQL over a frame carrying `v` (cast embedding)."""
    return e.filter(
        (F.size("v") == _WF_DIM) & ~F.exists("v", lambda x: x.isNull())
    )


def _sample(
    e: DataFrame, n: int, key: str = "qid", vec: str = "qv"
) -> DataFrame:
    """The id-bounded slice vec_id < n renamed to (key, vec): the query
    samples (qid, qv) and the 16 seed centroids (centroid_id, cv). The
    bound is a pushed scan predicate. Twin: _sample_sql."""
    return e.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias(key), F.col("v").alias(vec)
    )


def _sample_sql(
    n: int, name: str = "qs", key: str = "qid", vec: str = "qv"
) -> str:
    return (
        f"{name} AS (SELECT vec_id AS {key}, v AS {vec} FROM e"
        f" WHERE vec_id < {n})"
    )


_N_CENTS = 16  # IVF seed centroids: vec_id < 16
_CENTS_SQL = _sample_sql(_N_CENTS, "cents", "centroid_id", "cv")
_Q0_SQL = "SELECT v AS qv FROM e WHERE vec_id = 0"  # the single query vector


def _rank(
    df: DataFrame, k: int, *order, by: tuple = ("qid",), rn: str = "rn"
) -> DataFrame:
    """Keep the first k rows per `by` group under `order` (a total
    order: every caller ends it with an id tie-break), numbered in
    column `rn`. The rn <= k filter over a row_number window plans as
    WindowGroupLimit — a per-partition heap, never a full per-group
    sort. Twin: _rank_sql."""
    w = W.partitionBy(*by).orderBy(*order)
    return df.withColumn(rn, F.row_number().over(w)).filter(F.col(rn) <= k)


def _rank_sql(
    cols: str, src: str, order: str, k: int, by: str = "q.qid", rn: str = "rn"
) -> str:
    return (
        f"SELECT * FROM (SELECT {cols}, row_number() OVER (PARTITION BY {by}"
        f" ORDER BY {order}) AS {rn} FROM {src}) WHERE {rn} <= {k}"
    )


def _cos_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Per-query exact cosine top-k over (qid, qv) × (vec_id, v) pairs,
    self excluded: (qid, vec_id, rn). Ranks on the raw cosine — IEEE
    +,*,sqrt,/ are correctly rounded and engine-identical (unlike libm
    log/trig) — DESC NULLS LAST (zero-norm → NULL) with vec_id as the
    total tie-break, so the rn <= k edge is deterministic in both
    engines. Twin: _exact_top_sql."""
    scored = pairs.filter(F.col("vec_id") != F.col("qid")).select(
        "qid", "vec_id", cosine(F.col("v"), F.col("qv")).alias("sim")
    )
    return _rank(scored, k, F.col("sim").desc_nulls_last(), "vec_id").select(
        "qid", "vec_id", "rn"
    )


def _exact_topk(e: DataFrame, qs: DataFrame, k: int) -> DataFrame:
    """Brute-force ground truth: every vector against the broadcast
    query sample — one corpus pass, never all-pairs."""
    return _cos_topk(e.crossJoin(F.broadcast(qs)), k)


def _exact_top_sql(k: int, pairs: str = "e x CROSS JOIN qs q") -> str:
    return _rank_sql(
        "q.qid, x.vec_id",
        f"{pairs} WHERE x.vec_id <> q.qid",
        f"{_cos_sql('x.v', 'q.qv')} DESC NULLS LAST, x.vec_id",
        k,
    )


def _cosine_heap(e: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Top-k of (vec_id, raw_sim) against the one-row query `q` (qv),
    query vector 0 itself excluded. The query rides as a broadcast
    single-row cross join and orderBy().limit() plans
    TakeOrderedAndProject: a per-partition heap, no global sort.
    Twin: _cos_heap_sql."""
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", cosine(F.col("v"), F.col("qv")).alias("raw_sim"))
        .orderBy(F.col("raw_sim").desc_nulls_last(), "vec_id")
        .limit(k)
    )


def _cos_heap_sql(k: int, src: str = "e") -> str:
    return (
        f"SELECT x.vec_id, {_cos_sql('x.v', 'q.qv')} AS raw_sim"
        f" FROM {src} x, ({_Q0_SQL}) q WHERE x.vec_id <> 0"
        f" ORDER BY raw_sim DESC NULLS LAST, x.vec_id LIMIT {k}"
    )


@register(
    "q_sim_pairwise",
    oracle=f"""
    WITH {_E_SQL}
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round({_cos_sql('a.v', 'b.v')}, 6) AS cos_sim
    FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
    """,
)
def q_sim_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between consecutive vectors (equi-join on id).
    The oracle's NULLIF pin mirrors the guarded `cosine` helper on
    zero-norm vectors (the q_embed_centroid precedent)."""
    e = _vecs(spark, sf_dir)
    a = e.alias("a")
    b = e.alias("b")
    return a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1).select(
        F.col("a.vec_id").alias("a_id"),
        F.col("b.vec_id").alias("b_id"),
        F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("cos_sim"),
    )


@register(
    "q_sim_topk",
    oracle=f"""
    WITH {_E_SQL}
    SELECT vec_id, round(raw_sim, 6) AS cos_sim FROM ({_cos_heap_sql(10)})
    """,
)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-10 nearest neighbors of vector 0 (cosine).

    The query vector rides along as a broadcast single-row cross join —
    the embedding table is scanned once, orderBy().limit() plans
    TakeOrderedAndProject (no global sort at 100 TB). Tie-break: vec_id;
    zero-norm vectors cosine to NULL under the guarded helper, pinned
    NULLS LAST on both sides."""
    e = _vecs(spark, sf_dir)
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    return _cosine_heap(e, q, 10).select(
        "vec_id", F.round("raw_sim", 6).alias("cos_sim")
    )


def ivf_assign(
    vectors: DataFrame, centroids: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Assign each vector to its nearest centroid (IVF coarse quantizer).

    Centroids are broadcast; argmax via max_by — one pass, no shuffle of
    the vector side beyond the final groupBy key. A NULL sim loses to any
    non-NULL and an all-NULL vector falls to the smallest centroid_id
    (struct ordering sorts a NULL field smallest) — the total order the
    twin, _assign_sql, ranks with DESC NULLS LAST + centroid_id."""
    scored = vectors.crossJoin(F.broadcast(centroids)).select(
        id_col,
        "v",
        "centroid_id",
        cosine(F.col("v"), F.col("cv")).alias("sim"),
    )
    return scored.groupBy(id_col).agg(
        F.expr("max_by(centroid_id, struct(sim, -centroid_id))").alias("cluster"),
        F.first("v").alias("v"),
    )


def _assign_sql(cents: str, src: str = "e") -> str:
    """DuckDB twin of `ivf_assign`: every column of `src` plus cluster
    (and the rank column rn = 1)."""
    return _rank_sql(
        "x.*, c.centroid_id AS cluster",
        f"{src} x CROSS JOIN {cents} c",
        f"{_cos_sql('x.v', 'c.cv')} DESC NULLS LAST, c.centroid_id",
        1,
        by="x.vec_id",
    )


def _probe(cents: DataFrame, qs: DataFrame, n: int) -> DataFrame:
    """Each sampled query's n nearest centroids: (qid, cluster, crn),
    crn the probe rank. Ranked on the 16 × |sample| broadcast product
    with the centroid_id tie-break. Twin: _probe_sql."""
    scored = cents.crossJoin(F.broadcast(qs)).select(
        "qid",
        F.col("centroid_id").alias("cluster"),
        cosine(F.col("cv"), F.col("qv")).alias("csim"),
    )
    order = (F.col("csim").desc_nulls_last(), "cluster")
    return _rank(scored, n, *order, rn="crn").select("qid", "cluster", "crn")


def _probe_sql(n: int) -> str:
    return _rank_sql(
        "q.qid, c.centroid_id AS cluster",
        "cents c CROSS JOIN qs q",
        f"{_cos_sql('c.cv', 'q.qv')} DESC NULLS LAST, c.centroid_id",
        n,
        rn="crn",
    )


def _ivf_top10(e: DataFrame, cents: DataFrame) -> DataFrame:
    """IVF search for query vector 0: route every vector to its nearest
    centroid, probe the query's 4 nearest cells, cosine top-10 over
    their members only. Twin: _ivf_top10_sql."""
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select("centroid_id", cosine(F.col("cv"), F.col("qv")).alias("sim"))
        .orderBy(F.col("sim").desc(), "centroid_id")
        .limit(4)
        .select(F.col("centroid_id").alias("cluster"))
    )
    cand = ivf_assign(e, cents).join(F.broadcast(probe), "cluster")
    return _cosine_heap(cand, q, 10).select(
        "vec_id", F.round("raw_sim", 6).alias("cos_sim")
    )


def _ivf_top10_sql(cents: str) -> str:
    return f"""assigned AS ({_assign_sql(cents)}),
    probe AS (
      SELECT centroid_id AS cluster FROM {cents}, ({_Q0_SQL}) q
      ORDER BY {_cos_sql('cv', 'qv')} DESC NULLS LAST, centroid_id LIMIT 4
    )
    SELECT vec_id, round(raw_sim, 6) AS cos_sim FROM ({_cos_heap_sql(
        10, "(SELECT a.* FROM assigned a JOIN probe USING (cluster))"
    )})"""


@register(
    "q_sim_ann_ivf",
    oracle=f"WITH {_E_SQL}, {_CENTS_SQL}, {_ivf_top10_sql('cents')}",
    tags=("ann",),
)
def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbor: 16 deterministic seed centroids
    (vec_id < 16), vectors routed to nearest centroid, query probes the 4
    nearest clusters only (~4/16 of the data scanned vs brute force).

    Fully hash-oracled: IVF involves no hash functions — assignment,
    probing and the final top-10 are pure relational logic over cosines,
    so DuckDB replays the identical algorithm (argmax via rank window;
    ties broken by centroid/vec id on both sides). Recall vs brute-force
    truth additionally asserted in unit tests."""
    e = _vecs(spark, sf_dir)
    return _ivf_top10(e, _sample(e, _N_CENTS, "centroid_id", "cv"))


def auto_block_count(n_vectors: int, rows_per_block: int = 2000) -> int:
    """Block count for the blocked-GEMM kNN: one hash block holds
    ~``rows_per_block`` vectors, so per-group pandas memory stays bounded
    (two blocks of ~2k × dim doubles) no matter how large the corpus
    grows, and parallelism B·(B+1)/2 grows with the input instead of
    being pinned at a constant. Exact all-pairs kNN is still O(n²)
    compute by definition — q_sim_ann_ivf / q_sim_lsh_bucket are the
    sub-quadratic scale paths; this bound just keeps the exact path from
    hitting a single-executor memory cliff."""
    return max(2, math.ceil(n_vectors / rows_per_block))


def blocked_pair_replicate(
    df: DataFrame, id_col: str, n_blocks: int
) -> DataFrame:
    """Map-side replication for blocked all-pairs GEMM kernels: hash the
    id into one of B blocks, then explode each row to its B block-pair
    groups with pair_id = least·B + greatest computed in place — O(n·B)
    rows, no join, no driver-side pair table. Output adds (blk, pair_id,
    i, j) to the input columns; group by pair_id and the kernel reads
    its two block ids from (i, j). Shared by knn_all_topk and
    q_dedup_embed so the replication shape cannot drift (a broadcast
    pair-table with an OR predicate plans BroadcastNestedLoopJoin and
    goes quadratic in B)."""
    blk = (F.abs(F.xxhash64(F.col(id_col).cast("string"))) % n_blocks).cast(
        "int"
    )
    tagged = df.withColumn("blk", blk)
    partner = F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("pb")
    return tagged.select(*df.columns, "blk", partner).select(
        *df.columns,
        "blk",
        (
            F.least("blk", "pb").cast("long") * n_blocks
            + F.greatest("blk", "pb")
        ).alias("pair_id"),
        F.least("blk", "pb").alias("i"),
        F.greatest("blk", "pb").alias("j"),
    )


def knn_all_topk(
    spark: SparkSession, e: DataFrame, k: int = 3, n_blocks: int | None = None
) -> DataFrame:
    """Exact top-k cosine neighbors for every vector in ``e`` (columns
    ``vec_id``, ``v: array<double>``) via blocked GEMM.

    Hash-bucket vectors into B blocks; each of the B·(B+1)/2 block pairs
    is one applyInPandas group whose kernel is a numpy GEMM that emits
    only each row's per-pair top-k — the all-pairs matrix is never
    materialized: candidates are O(n·B·k), then one window pass picks
    the global top-k. Shuffle O(n·B); compute dense-BLAS.
    ``n_blocks=None`` derives B from a count so block size (and thus
    per-group memory) is constant as n grows.

    Ranking follows the `cosine` contract in both passes: a zero-norm
    vector's cosines are NULL (NaN out of the kernel, NULL across
    Arrow), ranked by (cosine DESC NULLS LAST, nid) — so a zero-norm
    query still gets k neighbors, in nid order, as the oracle's NULLIF
    ranking gives.

    Replication is MAP-SIDE: each row explodes a sequence of its B
    partner blocks and computes pair_id = least·B + greatest in place —
    O(n·B) rows with no join. (The previous broadcast pair-table with an
    OR-of-equalities predicate planned a BroadcastNestedLoopJoin over
    B(B+1)/2 pair rows — fine at the old fixed B=4, quadratic once B
    scales with the corpus.)"""
    import numpy as np
    import pandas as pd

    if n_blocks is None:
        n_blocks = auto_block_count(e.count())
    replicated = blocked_pair_replicate(e, "vec_id", n_blocks)

    def block_top(q_ids, n_ids, sims) -> pd.DataFrame:
        # n_ids ascend, so a stable sort on the NaN-last key breaks
        # cosine ties by nid; k + 1 per row leaves k after the
        # self-pair is dropped
        key = np.where(np.isnan(sims), np.inf, -sims)
        kk = min(k + 1, sims.shape[1])
        top = np.argsort(key, axis=1, kind="stable")[:, :kk]
        return pd.DataFrame(
            {
                "qid": np.repeat(q_ids, kk),
                "nid": n_ids[top.ravel()],
                "c": np.take_along_axis(sims, top, axis=1).ravel(),
            }
        )

    def topk_block(pdf: pd.DataFrame) -> pd.DataFrame:
        i, j = int(pdf["i"].iloc[0]), int(pdf["j"].iloc[0])
        A = pdf[pdf["blk"] == i].sort_values("vec_id")
        B = pdf[pdf["blk"] == j].sort_values("vec_id")
        if A.empty or B.empty:
            return pd.DataFrame({"qid": [], "nid": [], "c": []}).astype(
                {"qid": "int64", "nid": "int64", "c": "float64"}
            )
        ma = np.stack(A["v"].to_numpy())
        mb = np.stack(B["v"].to_numpy())
        with np.errstate(invalid="ignore"):  # zero norm -> NaN row
            ma /= np.linalg.norm(ma, axis=1, keepdims=True)
            mb /= np.linalg.norm(mb, axis=1, keepdims=True)
        sims = ma @ mb.T
        a_ids = A["vec_id"].to_numpy()
        b_ids = B["vec_id"].to_numpy()
        frames = [block_top(a_ids, b_ids, sims)]
        if i != j:  # B-side rows also need their candidates from A
            frames.append(block_top(b_ids, a_ids, sims.T))
        out = pd.concat(frames, ignore_index=True)
        return out[out["qid"] != out["nid"]]

    candidates = replicated.groupBy("pair_id").applyInPandas(
        topk_block, "qid BIGINT, nid BIGINT, c DOUBLE"
    )
    return _rank(candidates, k, F.col("c").desc_nulls_last(), "nid").select(
        "qid",
        "nid",
        F.round("c", 6).alias("cos_sim"),
        F.col("rn").cast("long").alias("rn"),
    )


@register(
    "q_sim_knn_all",
    oracle=f"""
    WITH {_E_SQL}
    SELECT qid, nid, round(c, 6) AS cos_sim, CAST(rn AS BIGINT) AS rn
    FROM ({_rank_sql(
        "*",
        f"(SELECT a.vec_id AS qid, b.vec_id AS nid, {_cos_sql('a.v', 'b.v')}"
        " AS c FROM e a JOIN e b ON a.vec_id <> b.vec_id)",
        "c DESC NULLS LAST, nid",
        3,
        by="qid",
    )})
    """,
)
def q_sim_knn_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 nearest neighbors for EVERY vector (batch kNN — the corpus-
    scale similarity-search workload, vs q_sim_topk's single query).
    Thin wrapper over :func:`knn_all_topk` with the auto-derived block
    count (bounded per-group GEMM memory at any corpus size)."""
    return knn_all_topk(spark, _vecs(spark, sf_dir), k=3, n_blocks=None)


def _centroids(df: DataFrame, key: str) -> DataFrame:
    """Element-wise mean vector `cv` per `key` over a frame carrying
    `v`: posexplode → avg per (key, dim) → re-assembled in dim order
    with array_sort(collect_list(struct)). The reduce stream is keys ×
    dims rows, map-side combined. Twin: _centroids_sql."""
    ex = df.select(key, F.posexplode("v").alias("pos", "x"))
    return (
        ex.groupBy(key, "pos")
        .agg(F.avg("x").alias("c"))
        .groupBy(key)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("cv")
        )
    )


_DIMS_SQL = "dims AS (SELECT unnest(range(64)) AS i)"


def _centroids_sql(key: str, src: str) -> str:
    return (
        f"SELECT {key}, list(c ORDER BY i) AS cv FROM (SELECT {key}, i,"
        f" avg(v[CAST(i AS INT) + 1]) AS c FROM {src}, dims"
        f" GROUP BY {key}, i) GROUP BY {key}"
    )


def ivf_train_kmeans(
    vectors: DataFrame, k: int = 16, iters: int = 2
) -> DataFrame:
    """Lloyd-refined IVF centroids: start from the k deterministic seed
    vectors, then `iters` rounds of assign → element-wise-mean recompute.

    Each iteration is one broadcast-assign plus one dims-exploded groupBy —
    a driver-side loop over DataFrame ops (the iterative-algorithm pattern:
    the loop is short and fixed; each step is fully distributed). Refined
    centroids tighten clusters, so probing fewer clusters reaches the same
    recall. Twin: _lloyd_round_sql, one CTE pair per round."""
    centroids = _sample(vectors, k, "centroid_id", "cv")
    for _ in range(iters):
        assigned = ivf_assign(vectors, centroids)
        centroids = _centroids(assigned, "cluster").select(
            F.col("cluster").alias("centroid_id"), "cv"
        )
    return centroids


def _lloyd_round_sql(i: int) -> str:
    return (
        f"a{i} AS ({_assign_sql(f'c{i - 1}')}),\n    c{i} AS (SELECT cluster"
        f" AS centroid_id, cv FROM ({_centroids_sql('cluster', f'a{i}')}))"
    )


@register(
    "q_sim_ann_ivf_refined",
    oracle=f"""
    WITH {_E_SQL}, {_DIMS_SQL},
    {_sample_sql(_N_CENTS, "c0", "centroid_id", "cv")},
    {_lloyd_round_sql(1)},
    {_lloyd_round_sql(2)},
    {_ivf_top10_sql("c2")}
    """,
    tags=("ann",),
)
def q_sim_ann_ivf_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with 2 Lloyd iterations of centroid refinement before
    routing (same probe budget as q_sim_ann_ivf). On naturally clustered
    embeddings refinement tightens cells; on the uniform random fixtures
    recall is comparable to seeded centroids (floor asserted in tests),
    and training is fully deterministic — so the oracle replays the whole
    algorithm in SQL, Lloyd rounds unrolled as CTE stages (assign via
    rank window, element-wise means via a dims cross join + ordered
    list()). Cross-engine float risk is summation order inside avg();
    cluster-assignment margins (≫1e-12) dwarf it."""
    e = _vecs(spark, sf_dir)
    return _ivf_top10(e, ivf_train_kmeans(e, k=_N_CENTS, iters=2))


# Integer hyperplane component for (plane j, dimension i), both 0-based:
# a small fixed pseudo-random pattern in [-8, 8]. Integers on purpose —
# the quantized dot product below is exact integer arithmetic, so the
# sign (the LSH bit) is identical in any engine regardless of float
# summation order. DuckDB's list_transform index is 1-BASED, hence (i-1)
# on the SQL side.
_LSH_PLANE_DUCK = "((((i - 1) * 7 + {j} * 13) % 17) - 8)"

_SIM_LSH_ORACLE = f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS qv
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    sig AS (
      SELECT vec_id,
             {" + ".join(
                 "(CASE WHEN list_sum(list_transform(qv, (x, i) -> x * "
                 + _LSH_PLANE_DUCK.format(j=j)
                 + f")) > 0 THEN {1 << j} ELSE 0 END)"
                 for j in range(8)
             )} AS bucket
      FROM e
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_vectors
    FROM sig GROUP BY bucket
    """


@register("q_sim_lsh_bucket", oracle=_SIM_LSH_ORACLE, tags=("lsh",))
def q_sim_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing: 8-bit signature per vector from
    sign(qv·r_j) over 8 deterministic pseudo-random integer hyperplanes.
    Returns the bucket histogram; the bucket id co-partitions similar
    vectors so a 100 TB ANN search joins per-bucket instead of all-pairs.

    Fully hash-oracled: vectors are
    quantized to integers (floor(x·1000 + 0.5) — exact and identical in
    both engines) and the hyperplanes are integer-valued, so every dot
    product is exact integer arithmetic and the sign bits cannot drift
    with float summation order — the only reason the original
    sin-hyperplane formulation was unverifiable. Quantization at 3
    decimals moves a bit only for |v·r| < 1e-2·‖r‖₁ relative noise,
    irrelevant for bucketing quality."""
    e = _vecs(spark, sf_dir)
    qv = F.transform(
        F.col("v"), lambda x: F.floor(x * 1000 + F.lit(0.5)).cast("long")
    )

    def plane_term(j: int):
        # Spark's transform index is 0-based; mirrors _LSH_PLANE_DUCK's
        # (i-1) on the 1-based DuckDB side. (A closure, not a default
        # arg — PySpark derives lambda arity from the parameter count.)
        return lambda x, i: x * (((i * 7 + F.lit(j * 13)) % 17) - 8)

    total = F.lit(0)
    for j in range(8):
        dot_j = F.aggregate(
            F.transform(qv, plane_term(j)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        total = total + (dot_j > 0).cast("int") * (1 << j)
    sig = e.select("vec_id", total.cast("long").alias("bucket"))
    return sig.groupBy("bucket").agg(F.count("*").alias("n_vectors"))


@register(
    "q_embed_centroid",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL
    ),
    {_DIMS_SQL},
    cent AS ({_centroids_sql("label", "e")})
    SELECT vec_id, label, round({_cos_sql('v', 'cv')}, 4) AS cos_centroid
    FROM e JOIN cent USING (label)
    """,
)
def q_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, then every vector's cosine to its own
    label's centroid — the cluster-coherence / outlier score used to
    prune mislabeled or off-distribution training vectors.

    Centroids via posexplode → avg per (label, dim) → re-assembled in
    dim order with array_sort(collect_list(struct)): two shuffles over
    the EXPLODED stream but output is labels×64 rows — tiny — and the
    centroid table broadcasts back onto the unexploded vectors, where
    the cosine runs in codegen (same sequential-fold dot as the other
    similarity ops). At 100 TB the explode shuffle is the cost; a
    TreeAggregate-style partial (per-partition vector sums via
    VectorizedAgg) would cut it, but avg-per-dim is already map-side
    combined so the reduce stream is labels×64×partitions, not rows."""
    e = _vecs(spark, sf_dir, "label")
    return e.join(F.broadcast(_centroids(e, "label")), "label").select(
        "vec_id",
        "label",
        # 4 dp, not 6: the centroid is an avg of doubles whose partial-sum
        # order differs between Spark and DuckDB, so a 1e-6 boundary can
        # flip at 6 dp (ratio-column discipline, registry docstring).
        F.round(cosine(F.col("v"), F.col("cv")), 4).alias("cos_centroid"),
    )


_PCA_DIM = 64
_PCA_ITERS = 3


@register(
    "q_embed_pca",
    oracle=f"""
    WITH {_E_SQL},
    {_DIMS_SQL},
    -- iteration 1: s = v . v0 with v0 = (1/8, ..., 1/8)
    s1 AS (SELECT vec_id, v, list_sum(v) * 0.125 AS s FROM e),
    w1 AS (
      SELECT i, sum(v[CAST(i AS INT) + 1] * s) AS w
      FROM s1 CROSS JOIN dims GROUP BY i
    ),
    n1 AS (SELECT sqrt(sum(w * w)) AS nn FROM w1),
    c1 AS (SELECT i, w / nn AS c FROM w1 CROSS JOIN n1),
    s2 AS (
      SELECT e.vec_id, e.v, sum(e.v[CAST(c1.i AS INT) + 1] * c1.c) AS s
      FROM e CROSS JOIN c1 GROUP BY e.vec_id, e.v
    ),
    w2 AS (
      SELECT i, sum(v[CAST(i AS INT) + 1] * s) AS w
      FROM s2 CROSS JOIN dims GROUP BY i
    ),
    n2 AS (SELECT sqrt(sum(w * w)) AS nn FROM w2),
    c2 AS (SELECT i, w / nn AS c FROM w2 CROSS JOIN n2),
    s3 AS (
      SELECT e.vec_id, e.v, sum(e.v[CAST(c2.i AS INT) + 1] * c2.c) AS s
      FROM e CROSS JOIN c2 GROUP BY e.vec_id, e.v
    ),
    w3 AS (
      SELECT i, sum(v[CAST(i AS INT) + 1] * s) AS w
      FROM s3 CROSS JOIN dims GROUP BY i
    ),
    n3 AS (SELECT sqrt(sum(w * w)) AS nn FROM w3),
    c3 AS (SELECT i, w / nn AS c FROM w3 CROSS JOIN n3)
    SELECT e.vec_id,
           round(sum(e.v[CAST(c3.i AS INT) + 1] * c3.c), 4) + 0.0
             AS pc1_score
    FROM e CROSS JOIN c3
    WHERE e.vec_id < 50
    GROUP BY e.vec_id
    """,
    tags=("embedding",),
)
def q_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by power
    iteration (3 fixed rounds, uncentered), reporting each of the first
    50 vectors' projection onto it — the 1-D structure probe behind
    whitening, drift detection, and anisotropy scoring of embedding
    spaces.

    Each round is one data pass: project every vector onto the current
    direction (an array zip_with fold — one JVM expression, not 64
    column aggregates whose codegen compile time dominates at this
    width), then re-estimate the direction as per-dim sums over the
    exploded (dim, x·s) rows — a 64-group map-side-combined shuffle,
    the q_sim_ann_ivf centroid-means pattern; the 1-row direction
    broadcasts into the next round.
    No driver-side collect and no n×n matrix ever materializes: cost is
    iters × one scan + a 64-column 1-row shuffle, the same
    fixed-rounds-unrolled iterative shape as q_graph_pagerank. The
    oracle replays all three rounds in SQL CTEs (per-dim sums via a
    dims cross join, exactly the q_sim_ann_ivf_refined pattern). The
    fixed all-positive init keeps the sign deterministic in both
    engines; scores round to 4 dp against ~1e-12 cross-engine
    summation-order drift."""
    e = _vecs(spark, sf_dir)
    dim, iters = _PCA_DIM, _PCA_ITERS
    # current direction: a broadcastable 1-row DataFrame, array column c
    cur = spark.range(1).select(
        F.array(*[F.lit(1.0 / dim**0.5)] * dim).alias("c")
    )
    for _ in range(iters):
        j = e.crossJoin(F.broadcast(cur))
        proj = j.select("v", dot("v", "c").alias("s")).select(
            F.posexplode("v").alias("i", "x"), "s"
        )
        w = proj.groupBy("i").agg(F.sum(F.col("x") * F.col("s")).alias("w"))
        cur = w.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "w"))),
                lambda s: s.getField("w"),
            ).alias("wv")
        ).select(
            F.transform(
                "wv",
                lambda x: x / F.sqrt(dot("wv", "wv")),
            ).alias("c")
        )
    scores = e.filter(F.col("vec_id") < 50).crossJoin(F.broadcast(cur))
    # + 0.0 collapses IEEE -0.0 to 0.0 (semistructured.py convention):
    # a score rounding to zero must format identically in both engines
    return scores.select(
        "vec_id", (F.round(dot("v", "c"), 4) + 0.0).alias("pc1_score")
    )


@register(
    "q_embed_dim_stats",
    oracle="""
    WITH ex AS (
      SELECT generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings WHERE embedding IS NOT NULL
    )
    SELECT CAST(pos AS INT) AS pos,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(x), 4) + 0.0 AS mean_x,
           round(stddev_samp(x), 4) AS std_x,
           round(min(x), 4) + 0.0 AS min_x,
           round(max(x), 4) + 0.0 AS max_x,
           round(avg(CASE WHEN abs(x) < 0.001 THEN 1.0 ELSE 0.0 END), 4)
             AS near_zero_rate
    FROM ex GROUP BY pos
    """,
    tags=("embedding",),
)
def q_embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding health profile: mean, spread, range, and
    near-zero rate for each of the 64 coordinates — the readout that
    catches dead dimensions (std ≈ 0: wasted capacity, or a truncated
    export) and collapsed/shifted ones (mean far off 0) before a
    curation run trusts cosine distances built on them. Complements
    q_embed_centroid's per-vector view with the per-coordinate one.

    Shape: one posexplode and ONE map-side-combined groupBy on the
    64-value dim key — the reduce stream is 64×partitions rows no
    matter the corpus size, the same scale argument as
    q_embed_centroid's centroid aggregate. All moments round to 4 dp so
    partial-sum order drift between the engines cannot touch the hash
    (ratio-column discipline, registry.py header); `+ 0.0` collapses
    IEEE -0.0 (semistructured.py convention)."""
    ex = _vecs(spark, sf_dir).select(F.posexplode("v").alias("pos", "x"))
    return ex.groupBy("pos").agg(
        F.count("*").alias("n"),
        (F.round(F.avg("x"), 4) + 0.0).alias("mean_x"),
        F.round(F.stddev_samp("x"), 4).alias("std_x"),
        (F.round(F.min("x"), 4) + 0.0).alias("min_x"),
        (F.round(F.max("x"), 4) + 0.0).alias("max_x"),
        F.round(
            F.avg(F.when(F.abs("x") < 0.001, 1.0).otherwise(0.0)), 4
        ).alias("near_zero_rate"),
    )


@register(
    "q_embed_cluster_purity",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE embedding IS NOT NULL
    ),
    -- the quantizer is LABEL-AGNOSTIC: the same 16 seed centroids
    -- q_sim_ann_ivf routes with (an unlabeled seed must not shrink the
    -- index being evaluated); only the VOTING vectors require a
    -- label. _cos_sql's NULLIF pins the zero-norm sim to NULL in every
    -- division mode, and the NULLS LAST rank is the total order
    -- Spark's max_by walks
    {_CENTS_SQL},
    assigned AS (
      {_assign_sql("cents", "(SELECT * FROM e WHERE label IS NOT NULL)")}
    ),
    cl AS (SELECT cluster, label, count(*) AS n_lab FROM assigned GROUP BY 1, 2),
    r AS (
      SELECT cluster, label, n_lab,
             sum(n_lab) OVER (PARTITION BY cluster) AS n,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY n_lab DESC, label) AS rn
      FROM cl
    )
    SELECT cluster, CAST(n AS BIGINT) AS n_vectors,
           CAST(label AS INT) AS top_label,
           -- bare IEEE division of exact integers: one correctly
           -- rounded op, bit-identical in both engines
           n_lab * 1.0 / n AS purity
    FROM r WHERE rn = 1
    """,
    tags=("ann",),
)
def q_embed_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space clustering quality: route every LABELED vector to
    its nearest of the 16 IVF seed centroids (the same coarse quantizer
    q_sim_ann_ivf probes), then per cluster report size, majority label,
    and purity = majority count / cluster size. This is the eval a
    pipeline runs before trusting the IVF cells for routing, balanced
    sampling, or topic bucketing — low purity means the embedding space
    (or the centroid seeding) does not separate the labels the
    downstream mix depends on.

    Shape at 100 TB: centroids broadcast, ONE argmax pass over the
    vector side (max_by with the label riding through — the only
    shuffle of per-vector data is the vec_id argmax groupBy), then a
    map-side-combined groupBy on the (16 × |labels|)-sized key and a
    window over that tiny aggregate. The quantizer is built from every
    non-NULL embedding — the same index q_sim_ann_ivf routes with —
    while only labeled vectors vote (the NULL-payload admission
    rule: no vote from an unlabeled or failed-encode row); ties on the
    majority break by smaller label id in both engines; purity is a
    bare IEEE division of exact longs."""
    e = _vecs(spark, sf_dir, "label")
    cents = _sample(e, _N_CENTS, "centroid_id", "cv")
    # one pass over the vector side: the label rides THROUGH the
    # broadcast-centroid argmax (constant per vec_id, so first() is
    # exact) — an ivf_assign + join-back would shuffle the per-vector
    # table a second time and drag the discarded embedding payload
    # through the aggregate
    scored = (
        e.filter(F.col("label").isNotNull())
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "label",
            "centroid_id",
            cosine(F.col("v"), F.col("cv")).alias("sim"),
        )
    )
    assigned = scored.groupBy("vec_id").agg(
        F.expr("max_by(centroid_id, struct(sim, -centroid_id))").alias(
            "cluster"
        ),
        F.first("label").alias("label"),
    )
    cl = assigned.groupBy("cluster", "label").agg(
        F.count("*").alias("n_lab")
    )
    wc = W.partitionBy("cluster")
    r = cl.select(
        "cluster",
        "label",
        "n_lab",
        F.sum("n_lab").over(wc).alias("n"),
        F.row_number()
        .over(wc.orderBy(F.col("n_lab").desc(), "label"))
        .alias("rn"),
    )
    return r.filter(F.col("rn") == 1).select(
        "cluster",
        F.col("n").alias("n_vectors"),
        F.col("label").alias("top_label"),
        (F.col("n_lab") * 1.0 / F.col("n")).alias("purity"),
    )


@register(
    "q_embed_outlier",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
      WHERE embedding IS NOT NULL AND label IS NOT NULL
    ),
    {_DIMS_SQL},
    cent AS ({_centroids_sql("label", "e")}),
    scored AS (
      -- _cos_sql's NULLIF pins zero-norm cosine to NULL in every
      -- division mode, as in q_embed_cluster_purity
      SELECT e.vec_id, e.label, round({_cos_sql('v', 'cv')}, 4) AS cos_r
      FROM e JOIN cent USING (label)
    ),
    st AS (
      SELECT label, avg(cos_r) AS mu, stddev_samp(cos_r) AS sd
      FROM scored GROUP BY label
    )
    SELECT vec_id, label, cos_r AS cos_centroid, cutoff
    FROM (
      -- the flag compares against the ROUNDED cutoff: with sd = 0
      -- (a label whose members share one 4-dp cosine) the raw cutoff
      -- is mu, an avg that drifts from the grid value by engine-
      -- specific ulps — rounding both sides back to the 4-dp grid
      -- makes the structural tie exact in both engines
      SELECT s.vec_id, s.label, s.cos_r,
             round(st.mu - 2 * st.sd, 4) AS cutoff
      FROM scored s JOIN st USING (label)
    ) WHERE cos_r < cutoff
    """,
    tags=("ann",),
)
def q_embed_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outliers: labeled vectors whose cosine to their OWN
    label's centroid falls more than two standard deviations below that
    label's mean coherence — the mislabeled / off-distribution detector
    a curation pipeline runs before trusting labels for mixing or
    eval splits (q_embed_centroid computes the raw score; this adds the
    per-label adaptive cutoff and flags).

    Shape at 100 TB: centroids via the posexplode partial-avg (map-side
    combined, labels×64 output) broadcast back; the per-label (mean,
    std) table is label-cardinality — tiny — and broadcasts onto the
    scored stream, so the vector table is scanned twice and shuffled
    never (both joins broadcast, both aggregates map-side combined).

    Cross-engine: the z-statistics aggregate the ROUNDED (4 dp) cosine
    so both engines fold identical inputs, and the flag compares
    against the ROUNDED cutoff — the sd = 0 shape (a label whose
    members share one cosine) would otherwise compare a grid value
    against an ulp-drifted mean, a structural cross-engine coin flip;
    stddev_samp of a one-vector label is NULL and the comparison drops
    the row in both engines; zero-norm cosines are NULL by the guard
    (Spark) and NULLIF (oracle) and vanish from avg/stddev/flagging
    identically."""
    e = _vecs(spark, sf_dir, "label").filter(F.col("label").isNotNull())
    scored = e.join(F.broadcast(_centroids(e, "label")), "label").select(
        "vec_id",
        "label",
        F.round(cosine(F.col("v"), F.col("cv")), 4).alias("cos_r"),
    )
    st = scored.groupBy("label").agg(
        F.avg("cos_r").alias("mu"), F.stddev_samp("cos_r").alias("sd")
    )
    # flag vs the ROUNDED cutoff: sd = 0 (all-identical cosines in a
    # label) makes the raw cutoff mu — off the 4-dp grid by engine-
    # specific accumulation ulps; rounding restores the exact grid
    # double in both engines so cos_r < cutoff is false on the tie
    # everywhere, never a cross-engine coin flip
    cutoff = F.round(F.col("mu") - 2 * F.col("sd"), 4)
    return (
        scored.join(F.broadcast(st), "label")
        .select(
            "vec_id",
            "label",
            F.col("cos_r").alias("cos_centroid"),
            cutoff.alias("cutoff"),
        )
        .filter(F.col("cos_centroid") < F.col("cutoff"))
    )


_RECALL_K = 10  # recall@k
_RECALL_NQ = 8  # evaluated query sample: vec_id < 8
_RECALL_NPROBE = 4  # probed clusters per query (of 16 centroids)


def _recall_stats(
    qs: DataFrame, truth: DataFrame, cand: DataFrame, name: str
) -> DataFrame:
    """Per sampled query: n_true, `name` (the candidate-list size), hits
    and recall = hits/n_true in the floor form, from ONE full-outer join
    of the two (qid, vec_id) top-k sets and one groupBy — each top gets
    exactly one consumer, so its corpus pass is planned once (three
    separate count-joins re-planned each top per consumer: 36 windows
    in the static plan, the q_tcloseness single-consumer lesson). The
    qs-driven left join keeps every sampled query. Twin:
    _recall_stats_sql."""
    fo = truth.select("qid", "vec_id", F.lit(1).alias("ex")).join(
        cand.select("qid", "vec_id", F.lit(1).alias(name)),
        ["qid", "vec_id"],
        "full",
    )
    both = F.col("ex").isNotNull() & F.col(name).isNotNull()
    stats = fo.groupBy("qid").agg(
        F.count("ex").alias("n_true"),
        F.count(name).alias(name),
        F.count(F.when(both, 1)).alias("hits"),
    )
    n_true = F.coalesce("n_true", F.lit(0))
    hits = F.coalesce("hits", F.lit(0))
    return qs.select("qid").join(F.broadcast(stats), "qid", "left").select(
        "qid",
        n_true.alias("n_true"),
        F.coalesce(name, F.lit(0)).alias(name),
        hits.alias("hits"),
        F.when(n_true > 0, ratio6(hits, F.col("n_true"))).alias("recall"),
    )


def _recall_stats_sql(truth: str, cand: str, name: str) -> str:
    return f"""fo AS (
      SELECT coalesce(x.qid, c.qid) AS qid, x.qid AS ex, c.qid AS ca
      FROM {truth} x FULL JOIN {cand} c
        ON c.qid = x.qid AND c.vec_id = x.vec_id
    ),
    st AS (
      SELECT qid, CAST(count(ex) AS BIGINT) AS n_true,
             CAST(count(ca) AS BIGINT) AS n_ca,
             CAST(count(CASE WHEN ex IS NOT NULL AND ca IS NOT NULL
                             THEN 1 END) AS BIGINT) AS hits
      FROM fo GROUP BY 1
    ),
    rs AS (
      SELECT q.qid, coalesce(s.n_true, 0) AS n_true,
             coalesce(s.n_ca, 0) AS {name}, coalesce(s.hits, 0) AS hits,
             CASE WHEN coalesce(s.n_true, 0) > 0
                  THEN {ratio6_sql("coalesce(s.hits, 0)", "s.n_true")}
             END AS recall
      FROM qs q LEFT JOIN st s ON s.qid = q.qid
    )"""


@register(
    "q_embed_recall_eval",
    oracle=f"""
    WITH {_E_SQL}, {_CENTS_SQL}, {_sample_sql(_RECALL_NQ)},
    assigned AS ({_assign_sql("cents")}),
    exact_top AS ({_exact_top_sql(_RECALL_K)}),
    probe AS ({_probe_sql(_RECALL_NPROBE)}),
    ann_top AS ({_exact_top_sql(
        _RECALL_K,
        "assigned x JOIN probe p ON p.cluster = x.cluster"
        " JOIN qs q ON q.qid = p.qid",
    )}),
    {_recall_stats_sql("exact_top", "ann_top", "n_ann")}
    SELECT * FROM rs
    """,
    tags=("ann", "eval"),
)
def q_embed_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_RECALL_K} evaluation of the IVF index against exact
    brute force, per query — the eval harness that closes the ANN loop:
    q_sim_ann_ivf ships the index, this measures what it misses. For
    each of {_RECALL_NQ} sample queries, the exact cosine top-{_RECALL_K}
    (ground truth) is intersected with the IVF top-{_RECALL_K}
    ({_RECALL_NPROBE} of 16 clusters probed); output is per-query truth
    size, candidate size, hit count, and recall — the number an index
    tuner watches while trading nprobe against latency.

    Determinism at the LIMIT edges (the registry top-k rule): every
    row_number ranks on raw cosine — IEEE +,*,sqrt,/ are all correctly
    rounded and engine-identical (unlike libm log/trig) — with vec_id
    as the total tie-break and NULLS LAST pinned on both sides
    (zero-norm vectors cosine to NULL under the guarded helper; DuckDB
    and Spark agree on DESC NULLS LAST but the oracle pins it anyway).
    Recall uses the floor(x·1e6+0.5)/1e6 form on the integer hit ratio.

    Shape at 100 TB: the EXACT side is deliberately bounded — recall is
    evaluated on a {_RECALL_NQ}-query sample (broadcast), so ground
    truth costs one pass of the corpus per batch of sample queries
    (corpus × {_RECALL_NQ} cosines, window-ranked per query), the
    standard offline-eval budget; it is never an all-pairs product. The
    ANN side reuses the index shapes: broadcast-centroid assignment
    (one corpus pass), probe selection on the 16-row centroid table,
    candidates = the probed quarter of the corpus. The per-query
    top-{_RECALL_K} sets and the recall join are a few dozen rows."""
    e = _vecs(spark, sf_dir)
    cents = _sample(e, _N_CENTS, "centroid_id", "cv")
    qs = _sample(e, _RECALL_NQ)
    probe = _probe(cents, qs, _RECALL_NPROBE)
    ann = ivf_assign(e, cents).join(F.broadcast(probe), "cluster")
    return _recall_stats(
        qs,
        _exact_topk(e, qs, _RECALL_K),
        _cos_topk(ann.join(F.broadcast(qs), "qid"), _RECALL_K),
        "n_ann",
    )


_PQ_M = 4  # subspaces (64-dim embeddings -> 4 x 16-dim subvectors)
_PQ_SUBDIM = 16
_PQ_K = 16  # codewords per subspace: seed vectors vec_id < 16
_PQ_NQ = 8  # evaluated query sample: vec_id < 8
_PQ_TOPK = 10  # recall@k of the ADC ranking


def _pq_recon(e: DataFrame) -> DataFrame:
    """PQ encode + reconstruct: (vec_id, r). Each vector explodes to
    _PQ_M subvectors; each subvector takes the codeword (the same
    slice of a seed vector vec_id < _PQ_K) minimizing
    dot(c,c) − 2·dot(sub,c) — argmin of L2² with the constant
    dot(sub,sub) dropped, ties identical to full-L2 ties — tie-break
    centroid_id; the codewords re-concatenate in subspace order
    (array_sort(collect_list(struct(m, csub))) ≡ list(csub ORDER BY m),
    m unique per vector). One corpus pass: the M·K-row codebook
    broadcasts, shuffle keys are (vec_id, m)/(vec_id), never all-pairs.
    Twin: _PQ_RECON_SQL."""
    m = F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("m")
    subs = e.select("vec_id", m, "v").select(
        "vec_id",
        "m",
        F.expr(f"slice(v, m*{_PQ_SUBDIM}+1, {_PQ_SUBDIM})").alias("sub"),
    )
    cb = subs.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("centroid_id"), "m", F.col("sub").alias("csub")
    )
    score = dot(F.col("csub"), F.col("csub")) - 2 * dot(
        F.col("sub"), F.col("csub")
    )
    codes = (
        subs.join(F.broadcast(cb), "m")
        .select("vec_id", "m", "centroid_id", "csub", score.alias("score"))
        .groupBy("vec_id", "m")
        .agg(F.expr("min_by(csub, struct(score, centroid_id))").alias("csub"))
    )
    return codes.groupBy("vec_id").agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "csub"))),
                lambda x: x["csub"],
            )
        ).alias("r")
    )


_PQ_RECON_SQL = f"""ms AS (SELECT unnest(range({_PQ_M})) AS m),
    subs AS (
      SELECT e.vec_id, ms.m,
             list_slice(e.v, ms.m*{_PQ_SUBDIM}+1,
                        ms.m*{_PQ_SUBDIM}+{_PQ_SUBDIM}) AS sub
      FROM e CROSS JOIN ms
    ),
    codes AS ({_rank_sql(
        "s.vec_id, s.m, c.sub AS csub",
        f"subs s JOIN subs c ON c.m = s.m AND c.vec_id < {_PQ_K}",
        "list_dot_product(c.sub, c.sub) - 2*list_dot_product(s.sub, c.sub)"
        " ASC NULLS LAST, c.vec_id",
        1,
        by="s.vec_id, s.m",
    )}),
    recon AS (
      SELECT vec_id, flatten(list(csub ORDER BY m)) AS r
      FROM codes GROUP BY vec_id
    )"""


@register(
    "q_embed_pq_eval",
    oracle=f"""
    WITH {_E_WF_SQL}, {_PQ_RECON_SQL},
    dist AS (
      SELECT CAST(count(*) AS BIGINT) AS n_vec,
             CASE WHEN count(*) > 0 THEN CAST(
               sum(CAST(floor(
                 ((list_dot_product(e.v, e.v)
                   - 2*list_dot_product(e.v, r.r))
                  + list_dot_product(r.r, r.r)) * 1e6 + 0.5) AS BIGINT))
               // count(*) AS BIGINT) END AS mean_sq_err_micros
      FROM e JOIN recon r USING (vec_id)
    ),
    {_sample_sql(_PQ_NQ)},
    exact_top AS ({_exact_top_sql(_PQ_TOPK)}),
    pq_top AS ({_exact_top_sql(
        _PQ_TOPK, "(SELECT vec_id, r AS v FROM recon) x CROSS JOIN qs q"
    )}),
    {_recall_stats_sql("exact_top", "pq_top", "n_pq")}
    SELECT rs.*, d.n_vec, d.mean_sq_err_micros FROM rs CROSS JOIN dist d
    """,
    tags=("ann", "eval"),
)
def q_embed_pq_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization eval — the memory-budget knob a 100 TB
    vector store tunes, closing the ANN-eval pair started by
    q_embed_recall_eval: vectors are PQ-encoded (M={_PQ_M} subspaces x
    K={_PQ_K} codewords of {_PQ_SUBDIM} dims, codebooks = the
    deterministic seed vectors vec_id < {_PQ_K} per the IVF centroid
    precedent), and the output reports (a) corpus-level mean squared
    reconstruction error and (b) per-query recall@{_PQ_TOPK} of the
    ADC ranking (cosine against RECONSTRUCTIONS) vs the exact ranking.

    Cross-engine determinism: subspace assignment ranks on
    dot(c,c) - 2*dot(sub,c) (argmin of L2² with the constant
    dot(sub,sub) dropped — ties identical to full-L2 ties), every dot
    a sequential left fold in BOTH engines (the `dot` helper mirrors
    DuckDB's list_dot_product accumulation order), tie-break
    centroid_id; the reconstruction concatenates codewords in
    subspace order (array_sort(collect_list(struct(m, csub))) ≡
    list(csub ORDER BY m) — m is unique per vector, so the sort is
    total); distortion is floor(d2·1e6+0.5) per VECTOR into BIGINT
    micro-units summed order-free, mean via truncating integer
    division (div ≡ //); recall reuses the q_embed_recall_eval
    skeleton (raw-cosine ranking is IEEE-deterministic, vec_id
    tie-break, NULLS LAST pinned — a zero-norm reconstruction cosines
    to NULL under the guarded helper in both engines; the floor form
    on the integer hit ratio).

    Shape at 100 TB (single-consumer discipline): the
    codebook is M·K = {_PQ_M}·{_PQ_K} tiny rows built from the seed
    slice and broadcast; encoding is ONE corpus pass (explode to M
    subvectors, broadcast-join the codebook, one map-side argmin
    groupBy per (vec, m) and one groupBy to reconcatenate — shuffle
    keys are (vec_id, m)/(vec_id), never all-pairs); distortion rides
    the reconstruction join as one global aggregate (1 row,
    broadcast-crossed onto the output); the eval side is bounded to
    the broadcast {_PQ_NQ}-query sample exactly like
    q_embed_recall_eval — corpus x {_PQ_NQ} cosines, window-ranked,
    then ONE full-outer join of the two top-k sets.

    Reference parity anchor: no vector surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part of
    the beyond-the-reference LLM-data family."""
    # a NULL subspace score (corrupt vector) would rank FIRST in
    # Spark's min_by struct ordering and LAST in the oracle — the
    # well-formed contract excludes such rows in both engines
    e = _well_formed(_vecs(spark, sf_dir))
    v, r = F.col("v"), F.col("r")
    er = e.join(_pq_recon(e), "vec_id").select(
        "vec_id",
        "r",
        micros((dot(v, v) - 2 * dot(v, r)) + dot(r, r)).alias("qerr_micros"),
    )
    # er feeds both the distortion aggregate and the ADC ranking — cut
    # would be overkill (each consumer prunes different columns); the
    # corpus pass is shared up to the recon groupBy
    dist = er.agg(
        F.count(F.lit(1)).alias("n_vec"),
        F.when(
            F.count(F.lit(1)) > 0,
            F.expr("sum(qerr_micros) div count(*)"),
        )
        .cast("long")
        .alias("mean_sq_err_micros"),
    )
    qs = _sample(e, _PQ_NQ)
    pq_top = _exact_topk(er.select("vec_id", r.alias("v")), qs, _PQ_TOPK)
    return _recall_stats(
        qs, _exact_topk(e, qs, _PQ_TOPK), pq_top, "n_pq"
    ).crossJoin(F.broadcast(dist))


_HAM_K = 10  # returned neighbors
_HAM_WORDS = 2  # ceil(dim/32) 32-bit signature words (64-dim fixtures)


def _sig_expr_sql(col: str, off: int) -> str:
    """Spark SQL for one 32-bit word of the sign-bit signature: bit i set
    iff component off+i > 0 — a zip_with/aggregate bitwise-OR fold, all
    codegen, no UDF. Built per 32-bit word because DuckDB's BIGINT shift
    errors at 1<<63 (its twin below packs the same words)."""
    return (
        f"aggregate(zip_with(slice({col}, {off + 1}, 32), sequence(0, 31), "
        "(x, i) -> IF(x > 0D, shiftleft(1L, i), 0L)), 0L, "
        "(acc, b) -> acc | b)"
    )


# DuckDB twin of _sig_expr_sql: unnest + subscripts, bit_or per word.
_SIG_CTE = """sig AS (
      SELECT vec_id,
             CAST(bit_or(CASE WHEN i < 32 AND x > 0
                              THEN CAST(1 AS BIGINT) << i
                              ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS lo,
             CAST(bit_or(CASE WHEN i >= 32 AND x > 0
                              THEN CAST(1 AS BIGINT) << (i - 32)
                              ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS hi
      FROM (SELECT vec_id, unnest(v) AS x,
                   generate_subscripts(v, 1) - 1 AS i FROM e)
      GROUP BY vec_id
    )"""


def _signatures(e: DataFrame) -> DataFrame:
    """Sign-bit signature table: (vec_id, lo, hi) — 64 dims packed into
    two 32-bit words (bit set iff component > 0). One projection over
    the scan, zero shuffle. EMPTY arrays are excluded to mirror the
    DuckDB twin exactly: _SIG_CTE's unnest emits no row for a
    zero-length list, while the Spark fold would emit (0, 0) — a
    phantom all-zero sketch the oracle never sees."""
    return e.filter(F.size("v") > 0).select(
        "vec_id",
        F.expr(_sig_expr_sql("v", 0)).alias("lo"),
        F.expr(_sig_expr_sql("v", 32)).alias("hi"),
    )


def _hamming() -> Column:
    """Hamming distance between a sketch (lo, hi) and a query sketch
    (qlo, qhi): XOR + popcount per word — small exact INTs, so every
    Hamming ranking (vec_id tie-break) is fully deterministic.
    Twin: _HAM_SQL."""
    return F.bit_count(F.col("lo").bitwiseXOR(F.col("qlo"))) + F.bit_count(
        F.col("hi").bitwiseXOR(F.col("qhi"))
    )


_HAM_SQL = "bit_count(xor(s.lo, q.qlo)) + bit_count(xor(s.hi, q.qhi))"


def _hamming_heap(sig: DataFrame, k: int) -> DataFrame:
    """Top-k (vec_id, hamming) sketches nearest query vector 0's: the
    query sketch broadcasts (1-row BNLJ) and the top-k plans
    TakeOrderedAndProject. Twin: _ham_heap_sql."""
    q = sig.filter(F.col("vec_id") == 0).select(
        F.col("lo").alias("qlo"), F.col("hi").alias("qhi")
    )
    return (
        sig.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", _hamming().alias("hamming"))
        .orderBy("hamming", "vec_id")
        .limit(k)
    )


def _ham_heap_sql(k: int) -> str:
    return (
        f"SELECT s.vec_id, {_HAM_SQL} AS hamming FROM sig s,"
        " (SELECT lo AS qlo, hi AS qhi FROM sig WHERE vec_id = 0) q"
        f" WHERE s.vec_id <> 0 ORDER BY hamming, s.vec_id LIMIT {k}"
    )


def _hamming_topk(sig: DataFrame, n: int, k: int) -> DataFrame:
    """Per-query Hamming top-k for the sketch sample vec_id < n:
    (qid, vec_id, rn), self excluded, one pass over the 8-byte
    signatures against the broadcast query sketches.
    Twin: _ham_top_sql."""
    qsig = sig.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("qid"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    pairs = (
        sig.crossJoin(F.broadcast(qsig))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", _hamming().alias("ham"))
    )
    return _rank(pairs, k, "ham", "vec_id").select("qid", "vec_id", "rn")


def _ham_top_sql(n: int, k: int) -> str:
    return _rank_sql(
        "q.qid, s.vec_id",
        "sig s CROSS JOIN (SELECT vec_id AS qid, lo AS qlo, hi AS qhi"
        f" FROM sig WHERE vec_id < {n}) q WHERE s.vec_id <> q.qid",
        f"{_HAM_SQL}, s.vec_id",
        k,
    )


@register(
    "q_sim_hamming_topk",
    oracle=f"""
    WITH {_E_WF_SQL}, {_SIG_CTE}
    SELECT vec_id, CAST(hamming AS INT) AS hamming
    FROM ({_ham_heap_sql(_HAM_K)})
    """,
    tags=("ann",),
)
def q_sim_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-sketch nearest neighbors: sign-binarize every embedding
    (bit i = component i > 0 — the classic 1-bit/dimension compression,
    64× smaller than float32) and rank by Hamming distance to the query
    sketch. This is the cheapest ANN tier below int8 (q_embed_quantize)
    and PQ (q_embed_pq_eval): at 100 TB the 8-byte sketch column fits
    where the vectors never will, and XOR+popcount is the fastest
    distance a CPU computes. For unit-norm vectors the expected Hamming
    distance is monotone in angular distance (the SimHash bound —
    llm/dedup.py applies the same sketch to text shingles; this is its
    embedding-column form).

    Cross-engine: the signature fold is a zip_with/aggregate bitwise OR
    in Spark and an unnest+bit_or GROUP BY in DuckDB — identical words
    because sign tests on DOUBLE are exact; packed as TWO 32-bit words
    in BIGINTs since DuckDB's left-shift errors at 1<<63. Distances are
    small exact INTs, ranking ties broken by vec_id, so the LIMIT edge
    is fully deterministic (no float anywhere past the sign test).

    Shape at 100 TB: one projection pass builds sketches (zero
    shuffle), the query sketch broadcasts, and the top-k plans
    TakeOrderedAndProject (per-partition heap, no global sort). The
    brute-force scan over sketches is itself the production pattern
    (sketch scan → shortlist → exact re-rank on the shortlist only).
    """
    sig = _signatures(_well_formed(_vecs(spark, sf_dir)))
    return _hamming_heap(sig, _HAM_K)


_RRF_C = 60  # the standard RRF constant (Cormack et al.)
_RRF_LIST = 50  # per-ranker candidate list length
_RRF_K = 10  # fused results returned


@register(
    "q_embed_rrf",
    oracle=f"""
    WITH {_E_WF_SQL}, {_SIG_CTE},
    cosl AS (
      SELECT vec_id,
             CAST(row_number() OVER (ORDER BY raw_sim DESC NULLS LAST, vec_id)
                  AS INT) AS ra
      FROM ({_cos_heap_sql(_RRF_LIST)})
    ),
    haml AS (
      SELECT vec_id,
             CAST(row_number() OVER (ORDER BY hamming, vec_id) AS INT) AS rb
      FROM ({_ham_heap_sql(_RRF_LIST)})
    ),
    f AS (
      SELECT coalesce(c.vec_id, h.vec_id) AS vec_id, c.ra, h.rb,
             coalesce(CAST(1 AS DOUBLE) / ({_RRF_C} + c.ra),
                      CAST(0 AS DOUBLE))
             + coalesce(CAST(1 AS DOUBLE) / ({_RRF_C} + h.rb),
                        CAST(0 AS DOUBLE)) AS score
      FROM cosl c FULL OUTER JOIN haml h ON h.vec_id = c.vec_id
    )
    SELECT vec_id, ra AS rank_cos, rb AS rank_ham,
           floor(score * 1e9 + 0.5) / 1e9 AS rrf
    FROM f ORDER BY score DESC, vec_id LIMIT {_RRF_K}
    """,
    tags=("ann", "retrieval"),
)
def q_embed_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings for query
    vector 0 — the exact-cosine ranker and the sign-sketch Hamming
    ranker (q_sim_hamming_topk's) — score(d) = Σ_lists 1/(60 + rank_d),
    the standard zero-tuning ensemble (Cormack et al.) a production
    retrieval stack uses to merge dense, sparse, and sketch channels
    before re-ranking. Emitting both per-list ranks alongside the fused
    score makes the disagreement visible: a doc high on cosine but
    absent from the sketch list is exactly the case the 1-bit
    compression loses.

    RRF here is the TOP-LIST form (fusion over each ranker's top-50,
    absent → contributes 0), which is both the textbook definition and
    the only scalable one: global ranks would demand a total sort of
    the corpus per ranker, top-lists are TakeOrderedAndProject heaps.

    Determinism at every edge (the registry top-k rule): the cosine
    list ranks on the raw IEEE dot-product expression (deterministic,
    NULLS LAST pinned for zero-norm vectors — NULLIF guard mirrors the
    Spark cosine helper); the Hamming list is exact integers; both
    row_numbers tie-break on vec_id; the fused score is built from ≤2
    IEEE divisions of exact integers summed once — bit-identical across
    engines — so ORDER BY score at the LIMIT edge cannot flake; output
    rounds via the floor(x·1e9+0.5)/1e9 form (1e9: scores live near
    1/60, 6 digits would collapse neighbors).

    Shape at 100 TB: each ranker produces its list with one corpus pass
    ending in a per-partition heap; the fusion is a full-outer join of
    two 50-row lists (broadcast, trivially) — each list built ONCE with
    a single consumer (the q_tcloseness lesson)."""
    e = _well_formed(_vecs(spark, sf_dir))
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    cos_order = W.orderBy(F.col("raw_sim").desc_nulls_last(), "vec_id")
    cosr = _cosine_heap(e, q, _RRF_LIST).select(
        "vec_id", F.row_number().over(cos_order).alias("ra")
    )
    ham_order = W.orderBy("hamming", "vec_id")
    hamr = _hamming_heap(_signatures(e), _RRF_LIST).select(
        "vec_id", F.row_number().over(ham_order).alias("rb")
    )
    fo = cosr.join(hamr, "vec_id", "full")
    score = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_C) + F.col("ra")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(_RRF_C) + F.col("rb")), F.lit(0.0))
    return (
        fo.select(
            "vec_id",
            F.col("ra").alias("rank_cos"),
            F.col("rb").alias("rank_ham"),
            score.alias("score"),
        )
        .orderBy(F.col("score").desc(), "vec_id")
        .limit(_RRF_K)
        .select(
            "vec_id",
            "rank_cos",
            "rank_ham",
            (F.floor(F.col("score") * 1e9 + F.lit(0.5)) / 1e9).alias("rrf"),
        )
    )


_NDCG_NQ = 8  # evaluated query sample: vec_id < 8
_NDCG_K = 10  # NDCG@k of the sketch ranking
# Discount table 1/log2(pos+1), pos = 1..k — materialized ONCE in Python
# and embedded as shortest-round-trip literals in BOTH engines, so no
# libm runs at query time anywhere (JVM log vs DuckDB log divergence,
# ulp-level, is structural at fixed positions — literals remove it).
_NDCG_DISC = [1.0 / math.log2(p + 1) for p in range(1, _NDCG_K + 1)]
# Ideal DCG in micros: gains are 11-rank (10..1) in ideal order; each
# term floors exactly as the per-candidate terms do, so ndcg == 1.0 is
# reachable bit-exactly when the sketch list equals the exact list.
_NDCG_IDCG_MICROS = sum(
    math.floor((_NDCG_K - p) * _NDCG_DISC[p] * 1e6 + 0.5)
    for p in range(_NDCG_K)
)
_NDCG_DISC_SQL = "[" + ", ".join(repr(d) for d in _NDCG_DISC) + "]"


@register(
    "q_embed_ndcg_eval",
    oracle=f"""
    WITH {_E_WF_SQL}, {_sample_sql(_NDCG_NQ)}, {_SIG_CTE},
    exact_top AS ({_exact_top_sql(_NDCG_K)}),
    ham_top AS ({_ham_top_sql(_NDCG_NQ, _NDCG_K)}),
    terms AS (
      SELECT h.qid,
             CAST(floor((coalesce({_NDCG_K} + 1 - x.rn, 0)
                         * (CAST({_NDCG_DISC_SQL} AS DOUBLE[]))[h.rn])
                        * 1e6 + 0.5) AS BIGINT) AS tm
      FROM ham_top h LEFT JOIN exact_top x
        ON x.qid = h.qid AND x.vec_id = h.vec_id
    ),
    d AS (SELECT qid, CAST(sum(tm) AS BIGINT) AS dcg_micros
          FROM terms GROUP BY qid)
    SELECT q.qid,
           coalesce(d.dcg_micros, 0) AS dcg_micros,
           {ratio6_sql(
               "CAST(coalesce(d.dcg_micros, 0) AS DOUBLE)", _NDCG_IDCG_MICROS
           )} AS ndcg
    FROM qs q LEFT JOIN d ON d.qid = q.qid
    """,
    tags=("ann", "eval"),
)
def q_embed_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{_NDCG_K} of the sign-sketch Hamming ranking against exact-
    cosine ground truth, per query — the rank-AWARE eval that completes
    the ANN triptych: q_embed_recall_eval asks "did the index find the
    true set", q_embed_pq_eval asks "what did quantization distort",
    this asks "did the cheap ranker put the right things FIRST" (a
    sketch that finds all ten but inverts their order scores the same
    recall yet much lower NDCG). Graded relevance is derived from the
    exact ranking (rel = {_NDCG_K}+1−exact_rank for the true top-
    {_NDCG_K}, else 0), DCG sums rel·disc(pos) over the sketch's top-
    {_NDCG_K}, normalized by the ideal DCG.

    Cross-engine determinism — total, by construction: the discount
    table 1/log2(pos+1) is computed ONCE in Python and embedded as
    shortest-round-trip double literals in both plans, so NO libm runs
    at query time (JVM vs DuckDB log differ at ulp level, and at fixed
    positions such divergence would be structural, not measure-zero —
    the q_text_keyphrase lesson applied at its root). Each DCG term is
    floored to integer micros — one IEEE multiply chain on exact
    inputs — and the per-query DCG is then a sum of INTEGERS, immune to
    float accumulation order (the only other way to pin a float sum is
    a sorted-list fold; integers need no fold). ndcg is the integer
    ratio dcg/idcg in the floor(x·1e6+0.5)/1e6 form; idcg is a nonzero
    compile-time constant, so no zero guard is needed. Both rankings
    tie-break on vec_id; cosine NULLS LAST pinned (zero-norm → NULL
    under the guarded helper).

    Shape at 100 TB: ground truth is bounded to the {_NDCG_NQ}-query
    broadcast sample (one corpus pass, never all-pairs — the
    recall_eval budget); the sketch side scans 8-byte signatures; each
    top list is a per-partition heap; the term join and per-query sum
    touch ≤ {_NDCG_NQ}·{_NDCG_K} rows. exact_top and ham_top each have
    exactly ONE consumer (the single-consumer lesson)."""
    e = _well_formed(_vecs(spark, sf_dir))
    qs = _sample(e, _NDCG_NQ)
    exact_top = _exact_topk(e, qs, _NDCG_K).select(
        "qid",
        "vec_id",
        (F.lit(_NDCG_K + 1) - F.col("rn")).cast("long").alias("rel"),
    )
    ham_top = _hamming_topk(_signatures(e), _NDCG_NQ, _NDCG_K)
    disc = F.element_at(F.array(*[F.lit(d) for d in _NDCG_DISC]), F.col("rn"))
    terms = ham_top.join(exact_top, ["qid", "vec_id"], "left").select(
        "qid", micros(F.coalesce(F.col("rel"), F.lit(0)) * disc).alias("tm")
    )
    d = terms.groupBy("qid").agg(F.sum("tm").alias("dcg_micros"))
    dcg = F.coalesce(F.col("dcg_micros"), F.lit(0))
    return qs.select("qid").join(F.broadcast(d), "qid", "left").select(
        "qid",
        dcg.alias("dcg_micros"),
        ratio6(dcg.cast("double"), F.lit(_NDCG_IDCG_MICROS)).alias("ndcg"),
    )


@register(
    "q_embed_ivf_balance",
    oracle=f"""
    WITH {_E_SQL}, {_CENTS_SQL},
    counts AS (
      SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs
      FROM ({_assign_sql("cents")}) GROUP BY 1
    ),
    w AS (
      SELECT cluster, n_vecs,
             CAST(sum(n_vecs) OVER () AS BIGINT) AS total,
             CAST(count(*) OVER () AS BIGINT) AS ncl,
             CAST(max(n_vecs) OVER () AS BIGINT) AS mx
      FROM counts
    )
    SELECT cluster, n_vecs,
           {ratio6_sql("n_vecs", "total")} AS share,
           {ratio6_sql("mx * ncl", "total")} AS imbalance,
           n_vecs * ncl > 2 * total AS hot
    FROM w
    """,
    tags=("ann", "eval"),
)
def q_embed_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-balance audit: per-cluster vector counts, share, the
    global imbalance factor (largest cell over the mean cell), and a
    hot-cell flag (> 2× mean) — the index-health readout that decides
    whether an IVF layout survives its data. A skewed coarse quantizer
    concentrates probes on hot cells: probe latency follows the LARGEST
    probed cell, not the mean, so at 100 TB an imbalance factor of 4
    quietly makes the p99 of q_sim_ann_ivf 4× its median. This is the
    same skew dashboard the graph family ships (q_graph_degree_dist →
    hub caps), applied to the ANN index; the remedy it triggers is
    re-seeding or splitting hot cells.

    Cross-engine: assignment replays q_sim_ann_ivf's argmax exactly
    (broadcast-centroid cosines, max_by/rank-window with NULLS LAST +
    centroid tiebreak); all outputs are exact BIGINT counts or
    floor-form ratios of them — imbalance = max·k/total is the integer
    restatement of max/mean, so no float aggregation order exists
    anywhere. total > 0 structurally (a counts row exists only if a
    vector was assigned), so no zero guard is needed.

    Shape at 100 TB: one broadcast-centroid pass over the corpus (the
    q_sim_ann_ivf assignment shuffle, reduced map-side to ≤k rows),
    then window sums over the k-row cell table (single consumer, no
    rejoin — the q_tcloseness lesson). Nothing else moves."""
    e = _vecs(spark, sf_dir)
    counts = (
        ivf_assign(e, _sample(e, _N_CENTS, "centroid_id", "cv"))
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )
    w = W.partitionBy()
    withg = counts.select(
        "cluster",
        "n_vecs",
        F.sum("n_vecs").over(w).alias("total"),
        F.count(F.lit(1)).over(w).alias("ncl"),
        F.max("n_vecs").over(w).alias("mx"),
    )
    return withg.select(
        "cluster",
        "n_vecs",
        ratio6("n_vecs", "total").alias("share"),
        ratio6(F.col("mx") * F.col("ncl"), "total").alias("imbalance"),
        (F.col("n_vecs") * F.col("ncl") > 2 * F.col("total")).alias("hot"),
    )


_CURVE_N = 1000  # bounded sample: vec_id < 1000 (rates are scale-free)
_CURVE_TS = [0.8, 0.9, 0.95, 0.99]


@register(
    "q_embed_threshold_curve",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings
               WHERE {_WF_SQL} AND vec_id < {_CURVE_N}),
    pairs AS (
      SELECT {_cos_sql('a.v', 'b.v')} AS sim
      FROM e a JOIN e b ON b.vec_id > a.vec_id
    ),
    agg AS (
      SELECT CAST(count(CASE WHEN sim IS NOT NULL THEN 1 END) AS BIGINT)
               AS n_scored,
             {', '.join(
                 f"CAST(count(CASE WHEN sim >= CAST({t} AS DOUBLE) "
                 f"THEN 1 END) AS BIGINT) AS c{i}"
                 for i, t in enumerate(_CURVE_TS)
             )}
      FROM pairs
    )
    SELECT CAST(t.threshold AS DOUBLE) AS threshold, a.n_scored,
           t.n_pairs,
           CASE WHEN a.n_scored > 0
                THEN {ratio6_sql("t.n_pairs", "a.n_scored")}
           END AS dup_rate
    FROM agg a CROSS JOIN (
      {' UNION ALL '.join(
          f"SELECT CAST({t} AS DOUBLE) AS threshold, "
          f"(SELECT c{i} FROM agg) AS n_pairs"
          for i, t in enumerate(_CURVE_TS)
      )}
    ) t
    """,
    tags=("ann", "eval"),
)
def q_embed_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate threshold curve: for each candidate cosine cutoff
    (0.8 / 0.9 / 0.95 / 0.99 — _CURVE_TS), the number and rate of
    vector pairs at or above it — the tuning curve an embedding-dedup
    operator reads BEFORE committing a threshold (q_dedup_embed ships
    one fixed cutoff; this shows what each alternative would delete).
    Computed on a bounded uniform sample (_CURVE_N vectors — the
    production pattern: a pair RATE is scale-free, so the curve is
    estimated on a sample and the chosen threshold applied to the full
    corpus via the LSH/GEMM paths).

    Cross-engine: every cosine is the guarded sequential-fold helper
    (zip_with/aggregate — the SAME accumulation order as DuckDB's
    list_dot_product), so pair sims are bit-identical and a threshold
    comparison can never flip on a ulp (the reason this query does NOT
    reuse the numpy-GEMM kernel: BLAS sums in a different order, and a
    count-above-cutoff is exactly the boundary a 1-ulp divergence
    flips). Thresholds are pinned CAST(x AS DOUBLE) literals on both
    sides; zero-norm vectors cosine to NULL and are excluded from
    n_scored and every count; counts are exact BIGINTs and the rate is
    floor-form. The sample scan carries the _WF_SQL well-formed
    contract (64 components, none NULL) like the rest of the
    sketch/eval family: a NULL-element or truncated vector in the
    sample would hard-error DuckDB's list_dot_product while Spark's
    fold silently NULLs the sim out of n_scored (pinned in
    tests/test_degenerate.py).

    Shape at 100 TB: the sample is id-bounded at the scan (pushed
    predicate), the pair space is sample², never corpus², and the
    4-threshold readout is ONE conditional aggregation over the pair
    stream (no per-threshold rescan) unpivoted to 4 rows."""
    e = _well_formed(_vecs(spark, sf_dir).filter(F.col("vec_id") < _CURVE_N))
    a = e.alias("a")
    b = e.alias("b")
    pairs = a.join(b, F.col("b.vec_id") > F.col("a.vec_id")).select(
        cosine(F.col("a.v"), F.col("b.v")).alias("sim")
    )
    agg = pairs.agg(
        F.count(F.when(F.col("sim").isNotNull(), 1)).alias("n_scored"),
        *[
            F.count(F.when(F.col("sim") >= F.lit(t), 1)).alias(f"c{i}")
            for i, t in enumerate(_CURVE_TS)
        ],
    )
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("threshold"),
                    F.col(f"c{i}").alias("n_pairs"),
                )
                for i, t in enumerate(_CURVE_TS)
            ]
        )
    ).alias("r")
    return agg.select("n_scored", rows).select(
        F.col("r.threshold").alias("threshold"),
        "n_scored",
        F.col("r.n_pairs").alias("n_pairs"),
        F.when(
            F.col("n_scored") > 0, ratio6("r.n_pairs", "n_scored")
        ).alias("dup_rate"),
    )


_RBO_NQ = 8  # evaluated query sample: vec_id < 8
_RBO_K = 10  # evaluation depth (truncated RBO@k)
# RBO weights with p = 1/2: w_d = (1-p)·p^(d-1) = 0.5^d — EXACT dyadic
# doubles, so the weight table carries no libm and no representation
# error into either engine (the reason p is 1/2 here and not the
# conventional 0.9: 0.9^d is inexact and engine-pow divergent; the
# metric's ordering behavior is the same, just more top-weighted).
_RBO_W = [0.5 ** d for d in range(1, _RBO_K + 1)]
_RBO_W_SQL = "[" + ", ".join(repr(w) for w in _RBO_W) + "]"
# Perfect-agreement total in nanos, each term floored exactly as the
# per-depth terms are (ov_d = d), so rbo == 1.0 is reachable bit-exactly.
_RBO_MAX_NANOS = sum(
    math.floor((_RBO_W[d - 1] * d * 1e9) / d + 0.5)
    for d in range(1, _RBO_K + 1)
)


@register(
    "q_embed_rbo",
    oracle=f"""
    WITH {_E_WF_SQL}, {_sample_sql(_RBO_NQ)}, {_SIG_CTE},
    exact_top AS ({_exact_top_sql(_RBO_K)}),
    ham_top AS ({_ham_top_sql(_RBO_NQ, _RBO_K)}),
    common AS (
      SELECT x.qid, greatest(x.rn, h.rn) AS m
      FROM exact_top x JOIN ham_top h
        ON h.qid = x.qid AND h.vec_id = x.vec_id
    ),
    grid AS (
      SELECT q.qid, CAST(d AS INT) AS d
      FROM qs q CROSS JOIN (SELECT unnest(range(1, {_RBO_K} + 1)) AS d)
    ),
    ovd AS (
      SELECT g.qid, g.d, CAST(count(c.m) AS BIGINT) AS ov
      FROM grid g LEFT JOIN common c ON c.qid = g.qid AND c.m <= g.d
      GROUP BY g.qid, g.d
    ),
    terms AS (
      SELECT qid,
             CAST(floor(((CAST({_RBO_W_SQL} AS DOUBLE[]))[d] * ov * 1e9)
                        / d + 0.5) AS BIGINT) AS tm,
             CASE WHEN d = {_RBO_K} THEN ov END AS ov_at_k
      FROM ovd
    )
    SELECT qid,
           CAST(max(ov_at_k) AS BIGINT) AS n_common,
           CAST(sum(tm) AS BIGINT) AS rbo_nanos,
           {ratio6_sql("CAST(sum(tm) AS DOUBLE)", _RBO_MAX_NANOS)} AS rbo
    FROM terms GROUP BY qid
    """,
    tags=("ann", "eval"),
)
def q_embed_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010) between the sign-sketch
    Hamming ranking and the exact-cosine ranking, per query — the
    top-weighted SIMILARITY-of-rankings eval that completes the sketch
    report card: recall@k asks "is the true set found", NDCG asks "how
    good is the sketch list against graded truth", RBO asks "how much
    does the sketch RANKING agree with the exact one, weighted toward
    the top" — the metric to watch when the sketch feeds a fixed-depth
    reranker, because it decays exactly like the reranker's attention.
    Truncated prefix form: RBO@k = Σ_{{d=1..k}} (1-p)·p^(d-1)·|A_d ∩
    B_d|/d with p = 1/2, normalized by the perfect-agreement total so
    identical top-{_RBO_K} lists score exactly 1.0 (the extrapolation
    term is deliberately omitted — at a fixed k it adds a constant the
    comparison doesn't need).

    Cross-engine determinism (the q_embed_ndcg_eval discipline): both
    rankings tie-break on vec_id; the weight table is EXACT dyadic
    0.5^d literals materialized once in Python (no pow() at query time
    in either engine); every per-depth term floors to integer NANOS
    before the per-query sum, so aggregation order cannot move a bit;
    the normalizer is the same floored sum computed at import.

    Shape at 100 TB: both top lists are per-query
    TakeOrderedAndProject heaps over one corpus pass each (the sketch
    pass reads 8-byte signatures, not vectors); the overlap join and
    the {_RBO_K}-row depth grid are list-sized (broadcast); output is
    |queries| rows.

    Reference parity anchor: no vector surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part
    of the beyond-the-reference similarity-search family."""
    e = _well_formed(_vecs(spark, sf_dir))
    qs = _sample(e, _RBO_NQ)
    exact_top = _exact_topk(e, qs, _RBO_K).withColumnRenamed("rn", "pa")
    ham_top = _hamming_topk(_signatures(e), _RBO_NQ, _RBO_K)
    # both ranked lists are NQ·K rows by construction — broadcast the
    # overlap join (the pre-fix plan planned a sort-merge join over two
    # ≤80-row inputs)
    common = exact_top.join(F.broadcast(ham_top), ["qid", "vec_id"]).select(
        "qid", F.greatest("pa", "rn").alias("m")
    )
    depths = spark.range(1, _RBO_K + 1).select(
        F.col("id").cast("int").alias("d")
    )
    # aliases break the shared lineage back to qs: without them the
    # grid-side and common-side qid resolve to the SAME attribute id
    # and the equality folds to trivially-true (a silent cartesian)
    grid = (
        qs.select("qid").crossJoin(F.broadcast(depths)).alias("g")
    )
    cm = F.broadcast(common).alias("cm")
    ovd = (
        grid.join(
            cm,
            (F.col("g.qid") == F.col("cm.qid"))
            & (F.col("cm.m") <= F.col("g.d")),
            "left",
        )
        .select(F.col("g.qid").alias("qid"), F.col("g.d").alias("d"), "cm.m")
        .groupBy("qid", "d")
        .agg(F.count("m").alias("ov"))
    )
    w_arr = F.array(*[F.lit(w) for w in _RBO_W])
    terms = ovd.select(
        "qid",
        F.floor(
            (F.element_at(w_arr, F.col("d")) * F.col("ov") * F.lit(1e9))
            / F.col("d")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("tm"),
        F.when(F.col("d") == _RBO_K, F.col("ov")).alias("ov_at_k"),
    )
    return terms.groupBy("qid").agg(
        F.max("ov_at_k").alias("n_common"),
        F.sum("tm").alias("rbo_nanos"),
        ratio6(F.sum("tm").cast("double"), F.lit(_RBO_MAX_NANOS)).alias("rbo"),
    )


_MRL_DIMS = [8, 16, 32, 64]  # truncation prefixes evaluated
_MRL_FULL = _MRL_DIMS[-1]  # the truth dimension (= the stored dim)
_MRL_NQ = 8  # evaluated query sample: vec_id < 8
_MRL_K = 10  # recall@k against the full-dimension ranking


@register(
    "q_embed_matryoshka_eval",
    oracle=f"""
    WITH {_E_WF_SQL}, {_sample_sql(_MRL_NQ)},
    dims AS (SELECT CAST(unnest({_MRL_DIMS}) AS INT) AS d),
    ranked AS ({_rank_sql(
        "q.qid, dm.d, e.vec_id",
        "e CROSS JOIN qs q CROSS JOIN dims dm WHERE e.vec_id <> q.qid",
        f"{_cos_sql('e.v[1:dm.d]', 'q.qv[1:dm.d]')} DESC NULLS LAST, e.vec_id",
        _MRL_K,
        by="q.qid, dm.d",
    )}),
    truth AS (SELECT qid, vec_id FROM ranked WHERE d = {_MRL_FULL}),
    ov AS (
      SELECT r.d, CAST(count(*) AS BIGINT) AS sum_overlap
      FROM ranked r JOIN truth t
        ON t.qid = r.qid AND t.vec_id = r.vec_id
      GROUP BY r.d
    ),
    nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM qs)
    SELECT dm.d AS trunc_dim, nq.n_queries,
           CAST(coalesce(ov.sum_overlap, 0) AS BIGINT) AS sum_overlap,
           CASE WHEN nq.n_queries > 0 THEN {ratio6_sql(
               "coalesce(ov.sum_overlap, 0)", f"(nq.n_queries * {_MRL_K})"
           )} END AS mean_recall
    FROM dims dm CROSS JOIN nq LEFT JOIN ov ON ov.d = dm.d
    """,
    tags=("ann", "eval"),
)
def q_embed_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-truncation recall curve (the Matryoshka/MRL eval,
    Kusupati et al. 2022): rank the corpus by cosine over only the
    FIRST d components for d in {_MRL_DIMS}, and report mean recall@
    {_MRL_K} of each truncated ranking against the full-dimension
    ranking — the curve that decides how many leading dimensions a
    tiered retrieval stack keeps in its hot index (truncated prefix →
    shortlist → full-dim rerank, the same scan-then-verify shape as
    the Hamming sketch tier, with d as the knob). The full-dim row is
    the built-in sanity anchor: recall exactly 1.0 by construction.

    Cross-engine determinism: slicing is 1-based in both engines
    (slice() / list [1:d]); every cosine is the guarded sequential
    fold (same accumulation order as list_dot_product) so rankings
    cannot diverge by a ulp; both rankings tie-break on vec_id, NULLS
    LAST pinned (a vector whose leading d components are all zero has
    NULL truncated cosine — a real MRL failure mode the curve should
    count against d, which excluding it would hide); overlap counts
    are exact BIGINTs and the mean is floor-form over n_queries·k.

    Shape at 100 TB: the corpus×queries×dims fan-out is one pass with
    per-(query, d) TakeOrdered heaps (WindowGroupLimit pushes the
    rn <= k cut); the overlap join is list-sized; output is
    |dims| rows. In production the d-truncated scan reads a PREFIX of
    the vector column — with fixed-size-list parquet encoding that is
    genuinely less I/O, which is the entire point of MRL.

    Reference parity anchor: no vector surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part
    of the beyond-the-reference similarity-search family."""
    e = _well_formed(_vecs(spark, sf_dir))
    qs = _sample(e, _MRL_NQ)
    dims = spark.createDataFrame([(d,) for d in _MRL_DIMS], "d int")
    cosj = (
        e.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .crossJoin(F.broadcast(dims))
    )
    sv = F.slice(F.col("v"), F.lit(1), F.col("d"))
    sq = F.slice(F.col("qv"), F.lit(1), F.col("d"))
    order = (cosine(sv, sq).desc_nulls_last(), "vec_id")
    ranked = (
        _rank(cosj, _MRL_K, *order, by=("qid", "d"))
        .select("qid", "d", "vec_id")
        .alias("r")
    )
    truth = (
        ranked.filter(F.col("d") == _MRL_FULL)
        .select("qid", "vec_id")
        .alias("t")
    )
    ov = (
        ranked.join(
            F.broadcast(truth),
            (F.col("t.qid") == F.col("r.qid"))
            & (F.col("t.vec_id") == F.col("r.vec_id")),
        )
        .groupBy(F.col("r.d").alias("d"))
        .agg(F.count(F.lit(1)).alias("sum_overlap"))
    )
    nq = qs.agg(F.count(F.lit(1)).alias("n_queries"))
    overlap = F.coalesce("sum_overlap", F.lit(0))
    return (
        dims.crossJoin(F.broadcast(nq))
        .join(F.broadcast(ov), "d", "left")
        .select(
            F.col("d").alias("trunc_dim"),
            "n_queries",
            overlap.alias("sum_overlap"),
            F.when(
                F.col("n_queries") > 0,
                ratio6(overlap, F.col("n_queries") * _MRL_K),
            ).alias("mean_recall"),
        )
    )


def _levels(spark: SparkSession, levels: list, name: str) -> DataFrame:
    """The swept knob values as a broadcastable BIGINT column."""
    values = F.array(*[F.lit(x) for x in levels]).cast("array<bigint>")
    return spark.range(1).select(F.explode(values).alias(name))


_RERANK_LIST = 100  # Hamming shortlist length fed to the exact re-rank
_RERANK_K = 10  # re-ranked neighbors returned


@register(
    "q_sim_rerank",
    oracle=f"""
    WITH {_E_WF_SQL}, {_SIG_CTE},
    rr AS ({_cos_heap_sql(
        _RERANK_K,
        f"(SELECT e.* FROM ({_ham_heap_sql(_RERANK_LIST)})"
        " JOIN e USING (vec_id))",
    )}),
    ranked AS (
      SELECT CAST(row_number()
               OVER (ORDER BY raw_sim DESC NULLS LAST, vec_id) AS INT) AS rnk,
             vec_id, raw_sim
      FROM rr
    ),
    truth AS ({_cos_heap_sql(_RERANK_K)})
    SELECT r.rnk, r.vec_id, round(r.raw_sim, 6) AS cos_sim,
           t.vec_id IS NOT NULL AS in_exact,
           CAST(count(t.vec_id) OVER () AS BIGINT) AS n_agree
    FROM ranked r LEFT JOIN truth t ON t.vec_id = r.vec_id
    """,
    tags=("ann", "eval"),
)
def q_sim_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-shortlist -> exact re-rank, the two-tier retrieval pattern
    every production ANN deployment runs (named by q_sim_hamming_topk's
    docstring, built here): scan the 8-byte sign-bit sketches for the
    query's top-{_RERANK_LIST} Hamming candidates, compute EXACT cosine
    only on that shortlist, return the re-ranked top-{_RERANK_K} — and
    report per-rank agreement with the brute-force exact answer
    (in_exact per row, n_agree riding as a window count over the
    {_RERANK_K} rows). n_agree/{_RERANK_K} is the recall the tier pair
    actually delivers; raising the shortlist length is the knob when
    it sags. Closes the ANN tier story: sketch (q_sim_hamming_topk) ->
    shortlist -> exact, evaluated in one readout like the
    recall/NDCG/RBO report card does for the other tiers.

    Cross-engine determinism: the shortlist edge ranks on exact-integer
    Hamming with vec_id tiebreak; the re-rank and truth edges rank on
    the raw cosine — IEEE +,*-chained dot products in identical
    association order plus the correctly-rounded sqrt, the registry's
    stable-key rule — with vec_id tiebreak and zero-norm vectors pinned
    NULL (NULLIF) NULLS LAST in both engines. Display cosine rounds to
    6dp only after ranking.

    Shape at 100 TB: the sketch scan is the production pattern — one
    projection over the 8-byte signature column (the vectors are never
    read), TakeOrderedAndProject heap for the shortlist; the exact pass
    touches {_RERANK_LIST} vectors via a broadcast semi-join of the
    shortlist ids against the vector table (candidates-only, the
    IVF/LSH verify discipline); the truth pass here is the evaluation
    harness, not the serving path — production serves from the first
    two tiers alone once n_agree certifies them. The corpus scan feeds
    signatures AND the exact tiers — materialized once.

    Reference parity anchor: no vector surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part of
    the beyond-the-reference similarity family."""
    e = materialize(_well_formed(_vecs(spark, sf_dir)))
    short = _hamming_heap(_signatures(e), _RERANK_LIST).select("vec_id")
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    rr = _cosine_heap(F.broadcast(short).join(e, "vec_id"), q, _RERANK_K)
    ranked = rr.select(
        F.row_number()
        .over(W.orderBy(F.col("raw_sim").desc_nulls_last(), "vec_id"))
        .alias("rnk"),
        "vec_id",
        "raw_sim",
    )
    truth = _cosine_heap(e, q, _RERANK_K).select(F.col("vec_id").alias("t_id"))
    return (
        ranked.join(truth, ranked.vec_id == truth.t_id, "left")
        .select(
            "rnk",
            "vec_id",
            F.round("raw_sim", 6).alias("cos_sim"),
            F.col("t_id").isNotNull().alias("in_exact"),
            F.count("t_id").over(W.partitionBy()).alias("n_agree"),
        )
    )


_RERANK_LS = [10, 25, 50, 100]  # shortlist lengths swept by the curve


@register(
    "q_sim_rerank_curve",
    oracle=f"""
    WITH {_E_WF_SQL}, {_SIG_CTE},
    rh AS (
      SELECT vec_id, row_number() OVER (ORDER BY hamming, vec_id) AS rh
      FROM ({_ham_heap_sql(max(_RERANK_LS))})
    ),
    cand AS (
      SELECT rh.vec_id, rh.rh, {_cos_sql('e.v', 'q.qv')} AS raw
      FROM rh JOIN e USING (vec_id), ({_Q0_SQL}) q
    ),
    ls AS (SELECT CAST(unnest({_RERANK_LS}) AS BIGINT) AS shortlist_len),
    sel AS ({_rank_sql(
        "ls.shortlist_len, cand.vec_id",
        "cand JOIN ls ON cand.rh <= ls.shortlist_len",
        "cand.raw DESC NULLS LAST, cand.vec_id",
        _RERANK_K,
        by="ls.shortlist_len",
        rn="rc",
    )}),
    truth AS ({_cos_heap_sql(_RERANK_K)}),
    tn AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth)
    SELECT s.shortlist_len,
           CAST(count(t.vec_id) AS BIGINT) AS n_hits,
           max(tn.n_truth) AS n_truth,
           CASE WHEN max(tn.n_truth) > 0 THEN
             {ratio6_sql("count(t.vec_id)", "max(tn.n_truth)")}
           END AS recall
    FROM sel s LEFT JOIN truth t ON t.vec_id = s.vec_id CROSS JOIN tn
    GROUP BY s.shortlist_len
    """,
    tags=("ann", "eval"),
)
def q_sim_rerank_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-shortlist-length curve for the two-tier retrieval pair
    (q_sim_rerank names the shortlist length as THE knob when recall
    sags — this measures the knob): one Hamming heap pass takes the
    top-{max(_RERANK_LS)} sketch candidates, and for each swept length
    L in {_RERANK_LS} the exact re-rank runs on the first L of them,
    reporting overlap with the brute-force top-{_RERANK_K}. The L where
    the curve saturates is the cheapest shortlist that loses nothing —
    chosen from data before deployment, exactly like the family's other
    pre-commitment curves (q_dedup_threshold_curve,
    q_embed_threshold_curve, q_dedup_minhash_est,
    q_dedup_seg_df_hist).

    Cross-engine determinism: the q_sim_rerank contract verbatim —
    integer Hamming with vec_id tiebreak at the heap edge, IEEE
    +,*-chained dot products with correctly-rounded sqrt at the rerank
    and truth edges, NULLIF-pinned zero norms NULLS LAST, floor-form
    recall on exact integer counts. The within-shortlist rank (rh) is
    a window over the already-heaped {max(_RERANK_LS)} rows, so the
    global ORDER BY is never materialized corpus-wide.

    Shape at 100 TB: identical to q_sim_rerank plus a broadcast
    {len(_RERANK_LS)}-row grid joined on rh <= L — the candidate pass
    still touches at most {max(_RERANK_LS)} vectors, the grid join
    fans those out {len(_RERANK_LS)}x (hundreds of rows), and every
    ranked edge is a heap or a tiny partitioned window. The truth pass
    is the evaluation harness, as in q_sim_rerank.

    Reference parity anchor: no vector surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part of
    the beyond-the-reference similarity family."""
    e = materialize(_well_formed(_vecs(spark, sf_dir)))
    ham_order = W.orderBy("hamming", "vec_id")
    rh = _hamming_heap(_signatures(e), max(_RERANK_LS)).select(
        "vec_id", F.row_number().over(ham_order).alias("rh")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    cand = (
        F.broadcast(rh)
        .join(e, "vec_id")
        .crossJoin(F.broadcast(q))
        .select("vec_id", "rh", cosine(F.col("v"), F.col("qv")).alias("raw"))
    )
    ls = _levels(spark, _RERANK_LS, "shortlist_len")
    rr = _rank(
        cand.join(F.broadcast(ls), F.col("rh") <= F.col("shortlist_len")),
        _RERANK_K,
        F.col("raw").desc_nulls_last(),
        "vec_id",
        by=("shortlist_len",),
        rn="rc",
    )
    truth = _cosine_heap(e, q, _RERANK_K).select(F.col("vec_id").alias("t_id"))
    tn = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    return (
        rr.join(F.broadcast(truth), rr.vec_id == truth.t_id, "left")
        .crossJoin(F.broadcast(tn))
        .groupBy("shortlist_len")
        .agg(
            F.count("t_id").alias("n_hits"),
            F.max("n_truth").alias("n_truth"),
            F.when(
                F.max("n_truth") > 0,
                ratio6(F.count("t_id"), F.max("n_truth")),
            ).alias("recall"),
        )
    )


_GRID_NQ = 8  # evaluated query sample: vec_id < 8 (the NDCG/RBO budget)


@register(
    "q_sim_rerank_grid",
    oracle=f"""
    WITH {_E_WF_SQL}, {_SIG_CTE}, {_sample_sql(_GRID_NQ)},
    rh AS ({_ham_top_sql(_GRID_NQ, max(_RERANK_LS))}),
    cand AS (
      SELECT rh.qid, rh.vec_id, rh.rn AS rh, {_cos_sql('e.v', 'q.qv')} AS raw
      FROM rh JOIN e USING (vec_id) JOIN qs q ON q.qid = rh.qid
    ),
    ls AS (SELECT CAST(unnest({_RERANK_LS}) AS BIGINT) AS shortlist_len),
    sel AS ({_rank_sql(
        "ls.shortlist_len, cand.qid, cand.vec_id",
        "cand JOIN ls ON cand.rh <= ls.shortlist_len",
        "cand.raw DESC NULLS LAST, cand.vec_id",
        _RERANK_K,
        by="ls.shortlist_len, cand.qid",
        rn="rc",
    )}),
    truth AS ({_exact_top_sql(_RERANK_K)}),
    tn AS (SELECT qid, CAST(count(*) AS BIGINT) AS nt
           FROM truth GROUP BY qid),
    perq AS (
      SELECT h.shortlist_len, h.qid, h.h, tn.nt
      FROM (
        SELECT s.shortlist_len, s.qid,
               CAST(count(t.vec_id) AS BIGINT) AS h
        FROM sel s LEFT JOIN truth t
          ON t.qid = s.qid AND t.vec_id = s.vec_id
        GROUP BY 1, 2
      ) h JOIN tn ON tn.qid = h.qid
    )
    SELECT shortlist_len,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(h) AS BIGINT) AS n_hits,
           CAST(sum(nt) AS BIGINT) AS n_truth,
           CASE WHEN sum(nt) > 0 THEN {ratio6_sql("sum(h)", "sum(nt)")}
           END AS recall,
           min({ratio6_sql("h", "nt")}) AS worst_recall
    FROM perq GROUP BY shortlist_len
    """,
    tags=("ann", "eval"),
)
def q_sim_rerank_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query recall-vs-shortlist-length grid for the two-tier
    retrieval pair — the statistically meaningful version of
    q_sim_rerank_curve's readout (recall@1-query is a
    coin-flippy estimate to commit a production knob on): a bounded
    {_GRID_NQ}-query sample (vec_id < {_GRID_NQ}, the
    q_embed_ndcg_eval / q_embed_rbo budget) each runs the per-qid
    Hamming heap, and for every swept shortlist length L the exact
    re-rank of the first L candidates is scored against that query's
    own brute-force top-{_RERANK_K}. Per length the grid reports the
    pooled recall (micro-average over Σhits/Σtruth) AND the worst
    per-query recall — the saturation length is chosen where the WORST
    query stops improving, which one lucky query can no longer mask.

    Cross-engine determinism: the q_sim_rerank contract verbatim —
    integer Hamming with vec_id tiebreak at the per-qid heap edges,
    IEEE +,*-chained dot products with correctly-rounded sqrt at the
    rerank/truth edges (the registry stable-key rule; the association
    order is additionally pinned by the adversarial near-tie
    fixture, tests/test_property_similarity.py), NULLIF-pinned zero norms
    NULLS LAST, and floor-form recalls on exact integer hit/truth
    counts (the worst-recall min is taken over per-query floor-form
    ratios of integers — division by 1e6 is monotone, so the min is
    the same value in both engines).

    Shape at 100 TB: both ranked passes are per-qid window heaps over
    a broadcast {_GRID_NQ}-row query sample (WindowGroupLimit pushes
    rank ≤ k into the shuffle — one corpus pass each for the 8-byte
    sketch scan and the truth harness, never per-query jobs); the
    candidate exact pass touches ≤ {_GRID_NQ}·{max(_RERANK_LS)}
    vectors via a broadcast join of the heaped id table against the
    vector table; the grid fan-out and all later joins move hundreds
    of rows. The truth pass is the evaluation harness, as in
    q_sim_rerank; production serves from the sketch + shortlist tiers
    alone once the grid certifies them.

    Reference parity anchor: no vector surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part of
    the beyond-the-reference similarity family."""
    e = materialize(_well_formed(_vecs(spark, sf_dir)))
    qs = _sample(e, _GRID_NQ)
    rh = _hamming_topk(_signatures(e), _GRID_NQ, max(_RERANK_LS))
    cand = (
        F.broadcast(rh.withColumnRenamed("rn", "rh"))
        .join(e, "vec_id")
        .join(F.broadcast(qs), "qid")
        .select(
            "qid", "vec_id", "rh", cosine(F.col("v"), F.col("qv")).alias("raw")
        )
    )
    ls = _levels(spark, _RERANK_LS, "shortlist_len")
    sel = _rank(
        cand.join(F.broadcast(ls), F.col("rh") <= F.col("shortlist_len")),
        _RERANK_K,
        F.col("raw").desc_nulls_last(),
        "vec_id",
        by=("shortlist_len", "qid"),
        rn="rc",
    ).select("shortlist_len", "qid", "vec_id")
    truth = _exact_topk(e, qs, _RERANK_K).select(
        F.col("qid").alias("t_qid"), F.col("vec_id").alias("t_id")
    )
    tn = truth.groupBy("t_qid").agg(F.count(F.lit(1)).alias("nt"))
    hits = (
        sel.join(
            F.broadcast(truth),
            (sel.qid == truth.t_qid) & (sel.vec_id == truth.t_id),
            "left",
        )
        .groupBy("shortlist_len", "qid")
        .agg(F.count("t_id").alias("h"))
    )
    perq = hits.join(
        F.broadcast(tn), hits.qid == tn.t_qid
    ).select("shortlist_len", "h", "nt")
    return perq.groupBy("shortlist_len").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("h").alias("n_hits"),
        F.sum("nt").alias("n_truth"),
        F.when(
            F.sum("nt") > 0, ratio6(F.sum("h"), F.sum("nt"))
        ).alias("recall"),
        F.min(ratio6("h", "nt")).alias("worst_recall"),
    )


_PROBE_LS = [1, 2, 4, 8, 16]  # swept probed-cluster counts (16 = scan all)


@register(
    "q_sim_ivf_probe_curve",
    oracle=f"""
    WITH {_E_SQL}, {_CENTS_SQL}, {_sample_sql(_RECALL_NQ)},
    assigned AS ({_assign_sql("cents")}),
    crank AS ({_probe_sql(_N_CENTS)}),
    scored AS (
      SELECT q.qid, a.vec_id, cr.crn, {_cos_sql('a.v', 'q.qv')} AS sim
      FROM assigned a CROSS JOIN qs q
      JOIN crank cr ON cr.qid = q.qid AND cr.cluster = a.cluster
      WHERE a.vec_id <> q.qid
    ),
    truth AS ({_rank_sql(
        "qid, vec_id", "scored", "sim DESC NULLS LAST, vec_id", _RECALL_K,
        by="qid",
    )}),
    tn AS (SELECT qid, CAST(count(*) AS BIGINT) AS nt
           FROM truth GROUP BY 1),
    na AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM scored),
    ls AS (SELECT CAST(unnest({_PROBE_LS}) AS BIGINT) AS nprobe),
    g AS (
      SELECT ls.nprobe, s.qid, s.vec_id,
             row_number() OVER (PARTITION BY ls.nprobe, s.qid
               ORDER BY s.sim DESC NULLS LAST, s.vec_id) AS rc,
             t.vec_id AS t_id
      FROM scored s JOIN ls ON s.crn <= ls.nprobe
      LEFT JOIN truth t ON t.qid = s.qid AND t.vec_id = s.vec_id
    ),
    perq AS (
      SELECT nprobe, qid, CAST(count(*) AS BIGINT) AS n_cand,
             CAST(count(CASE WHEN rc <= {_RECALL_K} THEN t_id END)
                  AS BIGINT) AS h
      FROM g GROUP BY 1, 2
    ),
    pq AS (SELECT p.nprobe, p.n_cand, p.h, tn.nt
           FROM perq p JOIN tn USING (qid))
    SELECT nprobe, CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(n_cand) AS BIGINT) AS n_cand,
           {ratio6_sql("sum(n_cand)", "na.n_all")} AS cand_frac,
           CAST(sum(h) AS BIGINT) AS n_hits,
           CAST(sum(nt) AS BIGINT) AS n_truth,
           CASE WHEN sum(nt) > 0 THEN {ratio6_sql("sum(h)", "sum(nt)")}
           END AS recall,
           min({ratio6_sql("h", "nt")}) AS worst_recall
    FROM pq CROSS JOIN na GROUP BY nprobe, na.n_all
    """,
    tags=("ann", "eval"),
)
def q_sim_ivf_probe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-probed-cluster-count grid for the IVF index — the
    OTHER deployment knob next to q_sim_rerank_grid's shortlist length:
    q_embed_recall_eval certifies recall at the shipped nprobe
    ({_RECALL_NPROBE}); this sweeps nprobe over {_PROBE_LS} and reports,
    per level, the pooled and worst per-query recall@{_RECALL_K} AND
    the scanned-candidate count/fraction — recall against cost on one
    curve, so the operator picks the cheapest probe count whose WORST
    query has saturated before committing the index config. nprobe=16
    probes every cluster, so its row is the built-in sanity anchor
    (cand_frac 1.0, recall 1.0 by construction).

    Cross-engine determinism: the q_embed_recall_eval contract verbatim
    — every ranked edge orders raw IEEE cosine (correctly-rounded
    +,*,sqrt,/ — never libm) DESC NULLS LAST with vec_id /
    centroid_id as total tie-breaks; hit/candidate/truth counts are
    exact integers; the three ratios are floor-form micros, and
    worst_recall takes its min over per-query floor-form ratios.

    Shape at 100 TB: ONE corpus×{_RECALL_NQ} cosine pass (the scored
    table, materialized for its three consumers: truth heap, grid
    window, denominator count) — the declared offline-eval budget, the
    same pass q_embed_recall_eval already pays, never an all-pairs
    product; cluster assignment is the broadcast-centroid ivf_assign
    pass; the probe ranking is a 16×{_RECALL_NQ}-row broadcast; the
    grid fan-out multiplies only by each vector's probe-rank coverage
    (Σ 1[crn ≤ L] ≈ 2 of {len(_PROBE_LS)} levels on average), and both
    ranked edges are per-(level, qid) window heaps (WindowGroupLimit),
    never a global sort. Aggregation output is {len(_PROBE_LS)} rows.

    Reference parity anchor: no vector surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part of
    the beyond-the-reference similarity family."""
    e = _vecs(spark, sf_dir)
    cents = _sample(e, _N_CENTS, "centroid_id", "cv")
    qs = _sample(e, _RECALL_NQ)
    crank = _probe(cents, qs, _N_CENTS)  # every centroid ranked
    scored = materialize(
        ivf_assign(e, cents)
        .crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .join(F.broadcast(crank), ["qid", "cluster"])
        .select(
            "qid",
            "vec_id",
            "crn",
            cosine(F.col("v"), F.col("qv")).alias("sim"),
        )
    )
    sim_order = (F.col("sim").desc_nulls_last(), "vec_id")
    truth = _rank(scored, _RECALL_K, *sim_order).select(
        F.col("qid").alias("t_qid"), F.col("vec_id").alias("t_id")
    )
    tn = truth.groupBy("t_qid").agg(F.count(F.lit(1)).alias("nt"))
    na = scored.agg(F.count(F.lit(1)).alias("n_all"))
    ls = _levels(spark, _PROBE_LS, "nprobe")
    g = (
        scored.join(F.broadcast(ls), F.col("crn") <= F.col("nprobe"))
        .join(
            F.broadcast(truth),
            (scored.qid == truth.t_qid) & (scored.vec_id == truth.t_id),
            "left",
        )
        .select(
            "nprobe",
            "qid",
            "t_id",
            F.row_number()
            .over(W.partitionBy("nprobe", "qid").orderBy(*sim_order))
            .alias("rc"),
        )
    )
    perq = g.groupBy("nprobe", "qid").agg(
        F.count(F.lit(1)).alias("n_cand"),
        F.count(
            F.when(F.col("rc") <= _RECALL_K, F.col("t_id"))
        ).alias("h"),
    )
    pq = perq.join(F.broadcast(tn), perq.qid == tn.t_qid)
    return (
        pq.crossJoin(F.broadcast(na))
        .groupBy("nprobe", "n_all")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum("n_cand").alias("sum_cand"),
            F.sum("h").alias("n_hits"),
            F.sum("nt").alias("n_truth"),
            F.when(
                F.sum("nt") > 0, ratio6(F.sum("h"), F.sum("nt"))
            ).alias("recall"),
            F.min(ratio6("h", "nt")).alias("worst_recall"),
        )
        .select(
            "nprobe",
            "n_queries",
            F.col("sum_cand").alias("n_cand"),
            ratio6("sum_cand", "n_all").alias("cand_frac"),
            "n_hits",
            "n_truth",
            "recall",
            "worst_recall",
        )
    )


@register(
    "q_sim_ivfpq_search",
    oracle=f"""
    WITH {_E_WF_SQL}, {_PQ_RECON_SQL},
    {_CENTS_SQL}, {_sample_sql(_PQ_NQ)},
    assigned AS ({_assign_sql("cents")}),
    probe AS ({_probe_sql(_RECALL_NPROBE)}),
    truth AS ({_exact_top_sql(_PQ_TOPK)}),
    tn AS (SELECT qid, CAST(count(*) AS BIGINT) AS nt
           FROM truth GROUP BY 1),
    g AS (
      SELECT p.qid, a.vec_id,
             row_number() OVER (PARTITION BY p.qid
               ORDER BY {_cos_sql('r.r', 'q.qv')} DESC NULLS LAST,
                        a.vec_id) AS rc,
             t.vec_id AS t_id
      FROM assigned a
      JOIN probe p ON a.cluster = p.cluster
      JOIN recon r ON r.vec_id = a.vec_id
      JOIN qs q ON q.qid = p.qid
      LEFT JOIN truth t ON t.qid = p.qid AND t.vec_id = a.vec_id
      WHERE a.vec_id <> p.qid
    ),
    perq AS (
      SELECT qid, CAST(count(*) AS BIGINT) AS n_cand,
             CAST(count(CASE WHEN rc <= {_PQ_TOPK} THEN 1 END)
                  AS BIGINT) AS n_ivfpq,
             CAST(count(CASE WHEN rc <= {_PQ_TOPK} THEN t_id END)
                  AS BIGINT) AS hits
      FROM g GROUP BY 1
    )
    SELECT q.qid,
           coalesce(p.n_cand, 0) AS n_cand,
           coalesce(tn.nt, 0) AS n_true,
           coalesce(p.n_ivfpq, 0) AS n_ivfpq,
           coalesce(p.hits, 0) AS hits,
           CASE WHEN coalesce(tn.nt, 0) > 0
                THEN {ratio6_sql("coalesce(p.hits, 0)", "tn.nt")}
           END AS recall
    FROM qs q
    LEFT JOIN perq p ON p.qid = q.qid
    LEFT JOIN tn ON tn.qid = q.qid
    """,
    tags=("ann", "eval"),
)
def q_sim_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED production vector index, end to end — IVF coarse
    probe × PQ-quantized rank: q_embed_recall_eval measures what
    probing {_RECALL_NPROBE} of 16 cells loses with EXACT in-cell
    ranking, q_embed_pq_eval measures what {_PQ_M}×{_PQ_K}-codeword
    quantization loses over the FULL corpus — this runs the two
    together, which is what an IVF-PQ deployment (the FAISS default at
    memory budget) actually serves: candidates come only from the
    probed cells and are ranked by cosine against their PQ
    reconstructions (the ADC ranking — dot(q, recon) IS the sum of
    per-subspace codeword lookups), scored against the exact full-
    corpus top-{_PQ_TOPK}. Per query the readout is the scanned
    candidate count, truth/result sizes, hits and end-to-end recall —
    the number that budgets BOTH knobs at once, read next to the
    single-knob curves (q_sim_ivf_probe_curve, q_sim_rerank_grid).

    Cross-engine determinism: the q_embed_pq_eval encode contract
    verbatim (L2²-argmin with dot(c,c)−2·dot(sub,c), sequential-fold
    dots, centroid_id tie-break, subspace-ordered reconcatenation)
    composed with the q_embed_recall_eval probe/truth contract (raw
    IEEE cosine DESC NULLS LAST, vec_id/centroid_id tie-breaks);
    all counts exact BIGINTs, recall floor-form micros; the per-qid
    LEFT-join skeleton keeps every sampled query in the output even
    when its probed cells are empty.

    Shape at 100 TB: codebook and centroid tables are broadcast
    constants; encoding is the one-corpus-pass PQ pipeline; the ADC
    candidate pass touches only the probed quarter of the corpus per
    query batch, joined vec_id-to-vec_id against the reconstruction
    table (both sides already partitioned by vec_id — the ONE
    co-partitioned shuffle join in the plan, correct at any scale);
    the truth pass is the bounded {_PQ_NQ}-query offline-eval budget,
    and the candidate table is consumed ONCE (n_cand, result size and
    hits all fold out of the same windowed frame — the
    q_sim_ivf_probe_curve aggregation shape).

    Reference parity anchor: no vector surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part of
    the beyond-the-reference similarity family."""
    e = _well_formed(_vecs(spark, sf_dir))
    cents = _sample(e, _N_CENTS, "centroid_id", "cv")
    qs = _sample(e, _PQ_NQ)
    truth = _exact_topk(e, qs, _PQ_TOPK).select(
        F.col("qid").alias("t_qid"), F.col("vec_id").alias("t_id")
    )
    tn = truth.groupBy("t_qid").agg(F.count(F.lit(1)).alias("nt"))
    cand = (
        ivf_assign(e, cents)
        .select("vec_id", "cluster")
        .join(F.broadcast(_probe(cents, qs, _RECALL_NPROBE)), "cluster")
        .filter(F.col("vec_id") != F.col("qid"))
        .join(_pq_recon(e), "vec_id")
        .join(F.broadcast(qs), "qid")
        .select(
            "qid", "vec_id", cosine(F.col("r"), F.col("qv")).alias("sim_adc")
        )
    )
    g = cand.join(
        F.broadcast(truth),
        (cand.qid == truth.t_qid) & (cand.vec_id == truth.t_id),
        "left",
    ).select(
        "qid",
        "t_id",
        F.row_number()
        .over(
            W.partitionBy("qid").orderBy(
                F.col("sim_adc").desc_nulls_last(), "vec_id"
            )
        )
        .alias("rc"),
    )
    top = F.col("rc") <= _PQ_TOPK
    perq = g.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_cand"),
        F.count(F.when(top, 1)).alias("n_ivfpq"),
        F.count(F.when(top, F.col("t_id"))).alias("hits"),
    )
    n_true = F.coalesce("nt", F.lit(0))
    hits = F.coalesce("hits", F.lit(0))
    return (
        qs.select("qid")
        .join(F.broadcast(perq), "qid", "left")
        .join(F.broadcast(tn), qs.qid == tn.t_qid, "left")
        .select(
            "qid",
            F.coalesce("n_cand", F.lit(0)).alias("n_cand"),
            n_true.alias("n_true"),
            F.coalesce("n_ivfpq", F.lit(0)).alias("n_ivfpq"),
            hits.alias("hits"),
            F.when(n_true > 0, ratio6(hits, F.col("nt"))).alias("recall"),
        )
    )
