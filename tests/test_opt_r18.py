"""Round-18 optimization equivalence pins (the test_opt_r17 convention:
new form vs a locally re-built reference of the old form, on fixture
data, so a future edit cannot silently diverge them)."""

from __future__ import annotations

from pyspark.sql import functions as F

from spring_and_kafka_spark.llm.dedup import (
    _band_bucket_rows,
    _band_structs,
    _doc_features,
    planted_corpus,
)

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_band_structs_symmetric_incremental_agree(spark):
    # ADVICE r17: the banding expression is extracted into _band_structs
    # so lsh_candidate_pairs (symmetric) and _band_bucket_rows
    # (incremental) derive IDENTICAL buckets from the same signatures.
    # Pin it end to end: the symmetric path's exploded bucket rows must
    # equal the incremental path's materialized bucket table (cap lifted
    # so neither side filters).
    sig = _doc_features(planted_corpus(spark, SF), n=3, df_cap=5000).select(
        "doc_id", "mh"
    )
    sym_buckets = sig.select(
        "doc_id", F.explode(_band_structs(16, 2)).alias("bb")
    ).select(
        "doc_id",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    inc_buckets = _band_bucket_rows(sig, 16, 2, bucket_cap=10**9).select(
        "doc_id", "band", "bucket"
    )
    assert _rows(sym_buckets) == _rows(inc_buckets)


def test_graph_jaccard_grouped_wedges_match_self_join_reference(spark):
    # r18: q_graph_jaccard's candidate generation moved to ONE grouped
    # adjacency build (degree = size(ds), cap = size filter, wedges =
    # in-array u<v pairs). Pin the full query against the pre-r18
    # reference: deg groupBy + cap semi-join + wedge self-join.
    from spring_and_kafka_spark.exec_utils import materialize, sym_edges
    from spring_and_kafka_spark.operators.graph import (
        _JACCARD_CENTER_CAP,
        _co_order_und,
        q_graph_jaccard,
    )

    eh = materialize(_co_order_und(spark, SF))
    edges = sym_edges(eh)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    ecap = edges.join(
        deg.filter(F.col("d") <= _JACCARD_CENTER_CAP).select(
            F.col("node").alias("cn")
        ),
        edges.src == F.col("cn"),
        "semi",
    )
    e1, e2 = ecap.alias("e1"), ecap.alias("e2")
    cand = (
        e1.join(
            e2,
            (F.col("e1.src") == F.col("e2.src"))
            & (F.col("e1.dst") < F.col("e2.dst")),
        )
        .groupBy(F.col("e1.dst").alias("u"), F.col("e2.dst").alias("v"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("deg_v"))
    probe = eh.select("u", "v", F.lit(1).alias("_e"))
    j = cand.join(du, "u").join(dv, "v").join(probe, ["u", "v"], "left")
    union_sz = F.col("deg_u") + F.col("deg_v") - F.col("common")
    old = j.select(
        "u",
        "v",
        "common",
        "deg_u",
        "deg_v",
        (
            F.floor(F.col("common") * 1e6 / union_sz + F.lit(0.5)) / 1e6
        ).alias("jaccard"),
        F.col("_e").isNotNull().alias("is_edge"),
    )
    assert _rows(q_graph_jaccard(spark, SF)) == _rows(old)
