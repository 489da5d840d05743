"""Round-17 optimization equivalence pins.

Each r17 rewrite replaced a join/union-shaped subplan with an
algebraically identical cheaper form. These tests pin the equivalence
DIRECTLY — new form vs a locally re-built reference implementation of
the old form — on fixture data plus a NULL-bearing micro frame, so a
future edit to either side cannot silently diverge them. (The oracle
hash sweeps cover the composed queries; these cover the extracted
builders, including paths the fixtures only lightly exercise.)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spring_and_kafka_spark.exec_utils import (
    materialize,
    message_edges,
    min_step,
    spread,
    sym_edges,
)
from spring_and_kafka_spark.llm.dedup import (
    _MINHASH_PERMS,
    _SHINGLE_DF_CAP,
    _doc_features,
    lsh_candidate_pairs,
    planted_corpus,
    shingles,
)
from spring_and_kafka_spark.operators.graph import _co_order_pairs
from spring_and_kafka_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _co_order_und_reference(li):
    """The pre-r17 build: distinct (order, part) items + self-join."""
    items = li.distinct()
    a, b = items.alias("a"), items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("m"))
        .filter(F.col("m") >= 2)
        .select("u", "v")
    )


def test_co_order_pairs_match_self_join_reference(spark):
    # full thinned edge set: per-order array expansion == items self-join
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    new = (
        _co_order_pairs(spark, SF)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("m"))
        .filter(F.col("m") >= 2)
        .select("u", "v")
    )
    assert _rows(new) == _rows(_co_order_und_reference(li))


def test_co_order_pairs_null_keys_never_pair(spark):
    # NULL order keys must not group together; NULL part keys must not
    # pair — exactly the join form's null semantics (NULLCHECK class)
    df = spark.createDataFrame(
        [
            (None, 1),
            (None, 2),  # null order: the old join never matched these
            (10, None),
            (10, 3),
            (10, 4),  # null part: dropped by < / collect_set
            (11, 3),
            (11, 4),
        ],
        "l_orderkey bigint, l_partkey bigint",
    )
    per_order = (
        df.filter(F.col("l_orderkey").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )
    ps = F.col("ps")
    pair_arr = F.flatten(
        F.transform(
            ps,
            lambda x, i: F.transform(
                F.slice(ps, i + F.lit(2), F.size(ps)),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    new = _rows(per_order.select(F.explode(pair_arr).alias("p")).select("p.u", "p.v"))
    a, b = df.alias("a"), df.alias("b")
    old = _rows(
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        ).select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
    )
    assert new == old == [(3, 4), (3, 4)]


def test_sym_edges_matches_union_form(spark):
    eh = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "u bigint, v bigint")
    new = _rows(sym_edges(eh))
    old = _rows(
        eh.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionByName(
            eh.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
    )
    assert new == old


def test_lsh_candidate_pairs_match_bucket_join_reference(spark):
    # grouped in-array pair expansion == the bucket self-join it replaced
    corpus = planted_corpus(spark, SF)
    docfeat = _doc_features(corpus, 3, _SHINGLE_DF_CAP)
    sig = docfeat.select("doc_id", "mh")
    new = _rows(lsh_candidate_pairs(sig, 16, 2, bucket_cap=500))

    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",", *[F.col("mh")[i * 2 + r] for r in range(2)]
                    )
                ).alias("bucket"),
            )
            for i in range(16)
        ]
    )
    buckets = materialize(
        sig.select("doc_id", F.explode(band_structs).alias("bb")).select(
            "doc_id",
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )
    )
    counts = buckets.groupBy("band", "bucket").agg(F.count("*").alias("n"))
    cool = counts.filter(F.col("n") <= 500).select("band", "bucket")
    a, b = buckets.alias("a"), buckets.alias("b")
    old = _rows(
        a.join(F.broadcast(cool), ["band", "bucket"])
        .alias("a")
        .join(
            b.join(F.broadcast(cool), ["band", "bucket"]).alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    assert new == old and len(new) > 0


def test_lsh_candidate_pairs_bucket_cap_drops_hot_buckets(spark):
    # a 3-doc bucket survives cap 3 and is dropped at cap 2, and the
    # stats dict reports the over-cap bucket — the grouped form keeps
    # the old form's cap-and-observability contract
    sig = spark.createDataFrame(
        [(i, [7, 7]) for i in range(3)] + [(10, [1, 2]), (11, [1, 2])],
        "doc_id bigint, mh array<bigint>",
    )
    loose = _rows(lsh_candidate_pairs(sig, 1, 2, bucket_cap=3))
    assert (0, 1) in loose and (10, 11) in loose and len(loose) == 4
    stats: dict = {}
    tight = _rows(lsh_candidate_pairs(sig, 1, 2, bucket_cap=2, stats=stats))
    assert tight == [(10, 11)]
    assert stats["hot_buckets"] == 1 and stats["docs_in_hot_buckets"] == 3


def test_doc_features_window_df_matches_hot_join_reference(spark):
    # shipped doc-frequency == an independent window-count reference.
    # (r17 shipped the window and pinned it against a hot-join
    # reference; r18 shipped the map-side-combined hot-join — ADVICE
    # r17's skew item — so the reference flipped to the window form to
    # keep the two computations independent.)
    corpus = planted_corpus(spark, SF)
    new = _doc_features(corpus, 3, _SHINGLE_DF_CAP).select(
        "doc_id", "mh", "n", "hs"
    )

    sh = materialize(
        shingles(spread(corpus), 3).select(
            "doc_id", F.xxhash64("shingle").alias("s64")
        )
    )
    from pyspark.sql import Window as W

    shx = sh.withColumn(
        "df", F.count(F.lit(1)).over(W.partitionBy("s64"))
    )
    old = shx.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("s64"))).alias(f"mh{i}")
            for i in range(_MINHASH_PERMS)
        ],
        F.count("*").alias("n"),
        F.sort_array(
            F.collect_set(
                F.when(F.col("df") <= _SHINGLE_DF_CAP, F.col("s64"))
            )
        ).alias("hs"),
    ).select(
        "doc_id",
        F.array(*[f"mh{i}" for i in range(_MINHASH_PERMS)]).alias("mh"),
        "n",
        "hs",
    )
    assert _rows(new) == _rows(old)


def test_doc_features_window_df_cap_fires_identically(spark):
    # tiny cap forces the df guard to FIRE: the shipped hot-join form
    # must drop exactly the shingles an independent window-count
    # reference drops (fixture caps are inert, so this path needs its
    # own exercise; reference flipped window<->hot-join with the r18
    # swap, see the test above)
    corpus = planted_corpus(spark, SF)
    cap = 2
    new = _doc_features(corpus, 3, cap)
    sh = materialize(
        shingles(spread(corpus), 3).select(
            "doc_id", F.xxhash64("shingle").alias("s64")
        )
    )
    from pyspark.sql import Window as W

    old = (
        sh.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("s64")))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n"),
            F.sort_array(
                F.collect_set(F.when(F.col("df") <= cap, F.col("s64")))
            ).alias("hs"),
        )
    )
    assert _rows(new.select("doc_id", "n", "hs")) == _rows(old)


# ---------------------------------------------------------------------------
# Change 8: self-loop message propagation ≡ the join-back round forms.
# One round of each iterative kernel, new form vs a locally rebuilt
# reference of the old aggregate+LEFT-JOIN round, on a micro graph that
# exercises every per-round case: a path (labels still moving), a hub
# star, an isolated node (no neighbor messages — the self-loop/coalesce
# path), and for BFS a NULL (∞) frontier.


def _edges_with_self_loops(spark, pairs, nodes):
    """(src, dst, w) message table: both directions of each pair at w=1
    plus one w=0 self-loop per node."""
    return message_edges(
        spark.createDataFrame(pairs, "u long, v long"),
        spark.createDataFrame([(x,) for x in nodes], "node long"),
    )


_PAIRS = [(0, 1), (1, 2), (2, 3), (10, 11), (10, 12), (10, 13)]
_NODES = [0, 1, 2, 3, 10, 11, 12, 13, 99]  # 99 isolated


def test_self_loop_cc_round_matches_join_back_reference(spark):
    edges = _edges_with_self_loops(spark, _PAIRS, _NODES)
    lab = spark.createDataFrame(
        [(n, l) for n, l in [(0, 0), (1, 0), (2, 2), (3, 3), (10, 10),
                             (11, 11), (12, 10), (13, 13), (99, 99)]],
        "node long, lab long",
    )
    new = min_step("lab", F.col("lab"))(edges, lab, False)
    real = edges.filter(F.col("w") == 1)
    msgs = (
        real.join(lab, real.src == lab.node)
        .groupBy(F.col("dst").alias("mnode"))
        .agg(F.min("lab").alias("ml"))
    )
    old = lab.join(msgs, lab.node == msgs.mnode, "left").select(
        "node",
        F.least(F.col("lab"), F.coalesce(F.col("ml"), F.col("lab"))).alias("lab"),
    )
    assert set(map(tuple, new.collect())) == set(map(tuple, old.collect()))


def test_self_loop_bfs_round_matches_join_back_reference(spark):
    edges = _edges_with_self_loops(spark, _PAIRS, _NODES)
    dist = spark.createDataFrame(
        [(0, 0), (1, None), (2, None), (3, None), (10, 0), (11, 1),
         (12, None), (13, None), (99, None)],
        "node long, dist long",
    )
    new = min_step("dist", F.col("dist") + F.col("w"))(edges, dist, False)
    real = edges.filter(F.col("w") == 1)
    msgs = (
        real.join(dist, real.src == dist.node)
        .groupBy(F.col("dst").alias("mnode"))
        .agg(F.min(F.col("dist") + 1).alias("md"))
    )
    old = dist.join(msgs, dist.node == msgs.mnode, "left").select(
        "node", F.least(F.col("dist"), F.col("md")).cast("long").alias("dist")
    )
    assert set(map(tuple, new.collect())) == set(map(tuple, old.collect()))


def test_self_loop_kcore_peel_matches_two_join_reference(spark):
    edges = _edges_with_self_loops(spark, _PAIRS, _NODES)
    # alive set mid-peel: node 3 and 13 already dead, 99 isolated-alive
    alive = spark.createDataFrame(
        [(x,) for x in [0, 1, 2, 10, 11, 12, 99]], "node long"
    )
    g = (
        edges.join(alive, edges.src == alive.node)
        .groupBy(F.col("dst").alias("gnode"))
        .agg(F.sum("w").alias("deg"), F.min("w").alias("_mw"))
        .filter(F.col("_mw") == 0)
    )
    new = g.filter(F.col("deg") >= 2).select(
        F.col("gnode").alias("node"), F.col("deg").cast("long").alias("deg")
    )
    real = edges.filter(F.col("w") == 1).select("src", "dst")
    x = alive.select(F.col("node").alias("xn"))
    y = alive.select(F.col("node").alias("yn"))
    old = (
        real.join(x, real.src == F.col("xn"))
        .join(y, real.dst == F.col("yn"))
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .filter(F.col("deg") >= 2)
    )
    assert set(map(tuple, new.collect())) == set(map(tuple, old.collect()))


def test_self_loop_lpa_votes_match_union_reference(spark):
    edges = _edges_with_self_loops(spark, _PAIRS, _NODES)
    lab = spark.createDataFrame(
        [(n, l) for n, l in [(0, 0), (1, 0), (2, 0), (3, 3), (10, 10),
                             (11, 10), (12, 10), (13, 13), (99, 99)]],
        "node long, lab long",
    )
    new = (
        edges.join(lab, edges.src == lab.node)
        .select(F.col("dst").alias("vnode"), "lab")
        .groupBy("vnode", "lab")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("vnode")
        .agg(F.expr("max_by(lab, struct(c, -lab))").alias("lab"))
        .select(F.col("vnode").alias("node"), "lab")
    )
    real = edges.filter(F.col("w") == 1)
    votes = (
        real.join(lab, real.src == lab.node)
        .select(F.col("dst").alias("vnode"), "lab")
        .unionByName(lab.select(F.col("node").alias("vnode"), "lab"))
    )
    best = (
        votes.groupBy("vnode", "lab")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("vnode")
        .agg(F.expr("max_by(lab, struct(c, -lab))").alias("nlab"))
    )
    old = lab.join(best, lab.node == best.vnode, "left").select(
        "node", F.coalesce(F.col("nlab"), F.col("lab")).alias("lab")
    )
    assert set(map(tuple, new.collect())) == set(map(tuple, old.collect()))
