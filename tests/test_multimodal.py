"""Multimodal column conventions: the mapInPandas decode path must agree
with the JVM-side metadata derivation, and the embedding stub must be
deterministic across runs."""

from __future__ import annotations

import pytest

from spring_and_kafka_spark.llm.multimodal import (
    decode_media,
    fake_decode,
    q_embed_generate,
    q_multimodal_decode,
    q_multimodal_meta,
    read_binary_dir,
)

from .conftest import SF_SMOKE


def _as_set(df):
    return {tuple(str(v) for v in r) for r in df.collect()}


def test_decode_path_matches_jvm_path(spark):
    assert _as_set(q_multimodal_decode(spark, SF_SMOKE)) == _as_set(
        q_multimodal_meta(spark, SF_SMOKE)
    )


def test_fake_decode_contract():
    w, h, fmt = fake_decode(b"abcd")
    assert (w, h, fmt) == (5, 29, "png")
    with pytest.raises(NotImplementedError):
        fake_decode(None)


def test_embedding_stub_deterministic(spark):
    a = _as_set(q_embed_generate(spark, SF_SMOKE))
    b = _as_set(q_embed_generate(spark, SF_SMOKE))
    assert a == b
    assert len(a) == 500


def test_read_binary_dir_feeds_decode_media(spark, tmp_path):
    """Files read by the binaryFile source decode through decode_media
    to the codec's metadata, one row per file."""
    from pyspark.sql import functions as F

    payloads = {1: b"ab", 2: b"abcde", 3: b"x" * 10}
    for doc_id, payload in payloads.items():
        (tmp_path / f"{doc_id}.bin").write_bytes(payload)
    raw = read_binary_dir(spark, str(tmp_path)).select(
        F.regexp_extract("path", r"(\d+)\.bin$", 1).cast("long").alias("doc_id"),
        "content",
    )
    got = {tuple(r) for r in decode_media(raw, "content", "doc_id").collect()}
    assert got == {
        (doc_id, len(p), *fake_decode(p)) for doc_id, p in payloads.items()
    }
