"""Multimodal column conventions (SURVEY.md §2.10).

Contract: media rides as an opaque `binary` payload column plus a typed
metadata struct; heavy decode/feature work happens in Arrow-batched
mapInPandas (one Python worker per partition, columnar transfer). The
image/audio codec libraries are not in this container, so the decode
kernel is a clearly-marked deterministic stub (fake_decode) — the
Spark-side plumbing (schema, batching, partitioning) is real and tested.

A real deployment swaps `fake_decode` for PIL/librosa/ffmpeg inside the
same mapInPandas signature; nothing else changes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spring_and_kafka_spark.registry import register
from spring_and_kafka_spark.sources.tables import load_table

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("format", T.StringType()),
    ]
)


def read_binary_dir(spark: SparkSession, path: str) -> DataFrame:
    """binaryFile source: (path, modificationTime, length, content BINARY) —
    the ingestion path for real image/audio files."""
    return spark.read.format("binaryFile").load(path)


def fake_decode(payload: bytes) -> tuple[int, int, str]:
    """STUB decode: deterministic pseudo-metadata from the payload bytes.

    Real implementation would be e.g. PIL.Image.open(io.BytesIO(payload)).
    Raises on None to mirror codec behavior on corrupt input.
    """
    if payload is None:
        raise NotImplementedError("no payload; real codec required here")
    n = len(payload)
    return (n % 640 + 1, (n * 7) % 480 + 1, "png" if n % 2 == 0 else "jpeg")


def decode_media(df: DataFrame, payload_col: str, id_col: str) -> DataFrame:
    """mapInPandas decode: Arrow batches in, metadata rows out.

    A MISSING payload (NULL cell — failed fetch upstream) passes through
    as a NULL-metadata row rather than reaching the codec: the
    dead-letter pattern every 100 TB media ingest needs, since one bad
    object must not kill the batch (NULLCHECK). The codec itself
    still raises on genuinely corrupt non-null bytes."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            def safe(b):
                if b is None:
                    return (None, None, None, None)
                w, h, fmt = fake_decode(b)
                return (len(b), w, h, fmt)

            meta = [safe(b) for b in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    # nullable extension dtypes: a None among int64s must
                    # reach Arrow as null, not coerce the column to float
                    "n_bytes": pd.array([m[0] for m in meta], dtype="Int64"),
                    "width": pd.array([m[1] for m in meta], dtype="Int32"),
                    "height": pd.array([m[2] for m in meta], dtype="Int32"),
                    "format": [m[3] for m in meta],
                }
            )

    return df.mapInPandas(decode_batches, MEDIA_SCHEMA)


# Shared by q_multimodal_meta (JVM built-ins) and q_multimodal_decode
# (mapInPandas stub codec): both produce the same metadata by design, so
# the decode path earns a full hash oracle, not just a row count.
_META_ORACLE = """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
           CAST((octet_length(encode(text)) * 7) % 480 + 1 AS INT) AS height,
           -- missing payload -> NULL format: a bare CASE's ELSE branch
           -- would silently stamp NULL payloads 'jpeg'
           CASE WHEN text IS NULL THEN NULL
                WHEN octet_length(encode(text)) % 2 = 0
                THEN 'png' ELSE 'jpeg' END AS format
    FROM documents
    """


@register("q_multimodal_meta", oracle=_META_ORACLE)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + typed metadata, JVM-side: documents.text encoded to
    bytes stands in for media payloads; metadata derived with built-ins
    (the stub formula), proving the column/schema conventions end-to-end."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    n = F.length(payload).cast("long")
    return d.select(
        "doc_id",
        n.alias("n_bytes"),
        (n % 640 + 1).cast("int").alias("width"),
        ((n * 7) % 480 + 1).cast("int").alias("height"),
        # missing payload -> NULL format (otherwise() would stamp 'jpeg')
        F.when(n.isNull(), F.lit(None).cast("string"))
        .when(n % 2 == 0, "png")
        .otherwise("jpeg")
        .alias("format"),
    )


@register("q_multimodal_decode", oracle=_META_ORACLE, tags=("pandas-udf",))
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same metadata via the real mapInPandas decode path (stubbed
    codec) — exercises Arrow batching + schema plumbing. Carries the same
    hash oracle as q_multimodal_meta (the stub formula is deterministic
    and SQL-expressible); equivalence also asserted in unit tests."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return decode_media(d, "payload", "doc_id")


EMBED_DIM = 8
EMBED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def deterministic_encoder(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Embedding-generation stub (SURVEY.md §4 custom piece 3): batched
    mapInPandas whose "model" is a deterministic byte-fold — the exact
    shape (Arrow batch in, array<float> out) a real encoder plugs into."""

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            def embed(s: str) -> list[float]:
                acc = [0.0] * EMBED_DIM
                for i, ch in enumerate(s.encode("utf-8")):
                    acc[i % EMBED_DIM] += (ch % 29) / 29.0
                norm = sum(x * x for x in acc) ** 0.5 or 1.0
                return [x / norm for x in acc]

            yield pd.DataFrame(
                {"doc_id": pdf[id_col], "embedding": pdf[text_col].map(embed)}
            )

    return df.mapInPandas(encode_batches, EMBED_SCHEMA)


@register(
    "q_embed_generate",
    oracle="""
    WITH chars AS (
      SELECT doc_id, text, unnest(range(length(text))) AS i FROM documents
      WHERE text IS NOT NULL AND text <> ''
    ),
    vals AS (
      SELECT doc_id, CAST(i AS INT) % 8 AS j,
             (ascii(substring(text, CAST(i AS INT) + 1, 1)) % 29) / 29.0 AS v
      FROM chars
    ),
    acc AS (SELECT doc_id, j, sum(v) AS a FROM vals GROUP BY doc_id, j),
    norms AS (
      SELECT doc_id,
             sqrt(sum(a * a)) AS nrm,
             sum(CASE WHEN j = 0 THEN a ELSE 0 END) AS a0
      FROM acc GROUP BY doc_id
    )
    SELECT doc_id, 8 AS dim,
           round(CAST(CAST(a0 / (CASE WHEN nrm = 0 THEN 1.0 ELSE nrm END)
                           AS REAL) AS DOUBLE), 4) AS e0
    FROM norms
    """,
    tags=("pandas-udf",),
)
def q_embed_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generate embeddings for documents via the deterministic stub encoder;
    output flattened to primitives (dim + first component, rounded).

    The oracle replays the byte-fold in SQL (fixture text is pure ASCII,
    so ascii(substring()) == the UTF-8 byte). The float32 cast in the
    oracle mirrors the encoder's ArrayType(FloatType()) schema — the
    quantization step (~6e-8) dwarfs cross-engine summation-order noise
    (~1e-15), which makes round(·, 4) stable. Null/empty text is excluded
    on both sides: the Python encoder would crash on None (as a real
    model's tokenizer would), and the oracle's range(length) would
    silently emit no rows — filtering keeps the two in lockstep."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select("doc_id", "text")
    )
    emb = deterministic_encoder(d, "text", "doc_id")
    return emb.select(
        "doc_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 4).alias("e0"),
    )


@register(
    "q_multimodal_framesample",
    oracle="""
    WITH meta AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             CAST(octet_length(encode(text)) % 60 + 1 AS INT) AS duration_s,
             CAST((octet_length(encode(text)) * 3) % 30 + 1 AS INT) AS fps
      FROM documents
    )
    SELECT doc_id, duration_s, fps,
           CAST(duration_s AS BIGINT) AS n_frames_sampled,
           CAST(list_sum(list_transform(
                  generate_series(0, duration_s - 1), i -> i * fps
                )) AS BIGINT) AS idx_checksum
    FROM meta
    """,
)
def q_multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: from each payload's stub metadata
    (duration seconds, frames/sec), pick one frame per second of video —
    frame index i*fps for i in [0, duration) — and emit the sample-plan
    accounting (count + index checksum). The real decoder slots into the
    same mapInPandas seam as q_multimodal_decode; the PLAN is pure column
    arithmetic and stays JVM-side.

    Shape at 100 TB: a projection — no shuffle at all. The index list is
    built per-row with sequence/transform and reduced immediately
    (aggregate), so nothing wider than one row's frame plan ever
    materializes; output stays scalar for the driver hasher."""
    d = load_table(spark, sf_dir, "documents")
    n = F.length(F.encode("text", "UTF-8")).cast("long")
    duration = (n % 60 + 1).cast("int")
    fps = ((n * 3) % 30 + 1).cast("int")
    idx = F.transform(
        F.sequence(F.lit(0), duration.cast("long") - 1),
        lambda i: i * fps.cast("long"),
    )
    checksum = F.aggregate(
        idx, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return d.select(
        "doc_id",
        duration.alias("duration_s"),
        fps.alias("fps"),
        duration.cast("long").alias("n_frames_sampled"),
        checksum.alias("idx_checksum"),
    )


@register(
    "q_multimodal_dedup",
    oracle="""
    WITH corpus AS (   -- fixture docs + planted exact re-uploads
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 200000, text FROM documents WHERE doc_id % 20 = 0
    ),
    h AS (
      SELECT doc_id, sha256(text) AS content_hash,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM corpus
    )
    SELECT content_hash,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(min(n_bytes) AS BIGINT) AS n_bytes
    FROM h
    GROUP BY content_hash HAVING count(*) >= 2
    ORDER BY content_hash
    """,
)
def q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact byte-identical media dedup: SHA-256 over the binary payload
    (the stub corpus's encoded text stands in for image/audio bytes),
    keep the lowest id per digest, report duplicate groups — the first
    pass of any multimodal ingest (identical re-crawls/re-uploads are
    the bulk of media duplication and need no decode at all). Every 20th
    doc is planted as an exact copy (id+200000, the dedup-family
    planting convention) so the duplicate-group path is exercised — the
    raw fixture has no byte-identical rows.

    The digest is computed map-side next to the scan (content never
    shuffles — only the 32-byte hash + id move), then one groupBy on the
    digest. At 100 TB this is THE pattern: hash at ingest, shuffle
    digests, fetch winning payloads by id afterward. DuckDB's sha256
    over VARCHAR hashes its UTF-8 bytes — bit-identical to Spark's
    sha2(encode(text)), as the parity suite proves."""
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = base.unionByName(
        base.filter(F.col("doc_id") % 20 == 0).select(
            (F.col("doc_id") + 200000).alias("doc_id"), "text"
        )
    )
    h = d.select(
        "doc_id",
        F.sha2(F.encode("text", "UTF-8"), 256).alias("content_hash"),
        F.length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
    )
    return (
        h.groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("n_bytes").alias("n_bytes"),
        )
        .filter(F.col("n_copies") >= 2)
        .orderBy("content_hash")
    )
