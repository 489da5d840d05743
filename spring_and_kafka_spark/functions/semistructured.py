"""Semi-structured functions: array / map / JSON / struct (SURVEY.md §2.7).

Array lambdas (transform/filter/aggregate) run inside codegen — the
vectorized path for the `embeddings.embedding` column; JSON parsing covers
the `events.props` column. All outputs flattened to primitives or sorted
arrays so the oracle hash is stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spring_and_kafka_spark.llm.similarity import load_vectors
from spring_and_kafka_spark.llm.text import posexplode_sql, tok_array, tok_array_sql
from spring_and_kafka_spark.registry import register
from spring_and_kafka_spark.sources.tables import load_table


@register(
    "q_fn_array",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS n_dims,
           array_to_string(list_transform(embedding[1:4],
                                          x -> printf('%.4f', round(CAST(x AS DOUBLE), 4) + 0.0)),
                           ',') AS head4,
           round(list_sum(CAST(embedding AS DOUBLE[])), 4) AS vsum,
           round(list_max(CAST(embedding AS DOUBLE[])), 4) AS vmax,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos
    FROM embeddings WHERE embedding IS NOT NULL
    """,
)
def q_fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family: size/slice/transform/filter/aggregate over the
    64-dim embedding column. The transformed slice is serialized to a CSV
    string: the driver's value hasher cannot factorize list cells (same
    constraint as q_agg_collect). Elements are rendered with %.4f on both
    engines — a bare float→string cast is NOT cross-engine stable (Java
    switches to scientific notation below 1e-3; DuckDB never does), and
    +0.0 is added after rounding because the engines disagree on whether
    a tiny negative rounds to -0.0 or +0.0 (printf renders the sign)."""
    e = load_vectors(spark, sf_dir)
    dbl = F.col("embedding").cast("array<double>")
    return e.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        F.concat_ws(
            ",",
            F.transform(
                F.slice("embedding", 1, 4),
                lambda x: F.format_string("%.4f", F.round(x.cast("double"), 4) + 0.0),
            ),
        ).alias("head4"),
        F.round(
            F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x), 4
        ).alias("vsum"),
        F.round(F.array_max(dbl), 4).alias("vmax"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
    )


@register(
    "q_fn_explode",
    oracle=f"""
    SELECT doc_id, tok, CAST(pos AS INT) AS pos
    FROM (
      SELECT doc_id, {posexplode_sql(tok_array_sql(), "tok", "pos")}
      FROM documents WHERE doc_id < 20
    )
    """,
)
def q_fn_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: flatten token arrays to (doc_id, token, position) rows
    (generator expands inline — no shuffle)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return d.select(
        "doc_id", F.posexplode(tok_array()).alias("pos", "tok")
    ).select("doc_id", "tok", F.col("pos").cast("int").alias("pos"))


@register(
    "q_fn_map",
    oracle="""
    WITH m AS (
      SELECT o_orderkey,
             map(['status', 'priority'], [o_orderstatus, o_orderpriority]) AS mp
      FROM orders WHERE o_orderkey <= 200
    )
    SELECT o_orderkey,
           map_extract(mp, 'status')[1] AS status_v,
           map_extract(mp, 'priority')[1] AS priority_v,
           array_to_string(list_sort(map_keys(mp)), ',') AS ks,
           CAST(cardinality(mp) AS INT) AS n_entries
    FROM m
    """,
)
def q_fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map family: build / element_at / map_keys / size."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    mp = F.create_map(
        F.lit("status"),
        F.col("o_orderstatus"),
        F.lit("priority"),
        F.col("o_orderpriority"),
    )
    return o.select(
        "o_orderkey",
        F.element_at(mp, "status").alias("status_v"),
        F.element_at(mp, "priority").alias("priority_v"),
        F.concat_ws(",", F.sort_array(F.map_keys(mp))).alias("ks"),
        F.size(mp).alias("n_entries"),
    )


@register(
    "q_fn_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_path,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_struct,
           json_extract_string(props, '$.missing') AS missing_v
    FROM events
    """,
)
def q_fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family over events.props: path extraction (get_json_object) and
    schema-full parse (from_json) — both yield the same value; missing paths
    → null."""
    e = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k BIGINT")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_path"),
        parsed.getField("k").alias("k_struct"),
        F.get_json_object("props", "$.missing").alias("missing_v"),
    )


@register(
    "q_fn_struct",
    oracle="""
    WITH s AS (
      SELECT {'key': o_orderkey, 'price': round(o_totalprice, 2),
              'nested': {'status': o_orderstatus}} AS st
      FROM orders WHERE o_orderkey <= 200
    )
    SELECT st.key AS sk, st.price AS sp, st.nested.status AS ss FROM s
    """,
)
def q_fn_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct build + nested dot access (output flattened to primitives)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    st = F.struct(
        F.col("o_orderkey").alias("key"),
        F.round("o_totalprice", 2).alias("price"),
        F.struct(F.col("o_orderstatus").alias("status")).alias("nested"),
    )
    return o.select(st.alias("st")).select(
        F.col("st.key").alias("sk"),
        F.col("st.price").alias("sp"),
        F.col("st.nested.status").alias("ss"),
    )
