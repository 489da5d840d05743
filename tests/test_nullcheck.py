"""Regression pins for the NULLCHECK sweep (round 9): the 27 queries
that failed the first NULL-injection run, re-verified against DuckDB on
the same nulled fixture every suite run. tools/null_sweep.py remains
the registry-wide gate; this file keeps the fixed classes from quietly
regressing between sweep runs.

The injection policy lives in tools/null_sweep.py: ~14% NULLs per
attribute/measure column, identity/ordering keys dense."""

from __future__ import annotations

import duckdb
import pytest

from spring_and_kafka_spark import registry

from .conftest import assert_same_rows

SPECS = registry.all_specs()

# the 27 first-run failures, by fix class (commit 60d40b3)
NULLED_PINS = [
    # embedding NULL-payload contract (load_vectors + oracle WHERE)
    "q_sim_pairwise", "q_sim_topk", "q_sim_ann_ivf", "q_sim_knn_all",
    "q_sim_lsh_bucket", "q_sim_topk_per_label", "q_embed_centroid",
    "q_embed_quantize", "q_fn_array", "q_dedup_embed", "q_ts_simsearch",
    # text NULL-payload contract (''-shingle class) + label hygiene
    "q_text_contamination", "q_decontaminate", "q_corpus_pack",
    "q_text_langid", "q_text_fingerprint", "q_text_entropy",
    # dead-letter passthrough
    "q_multimodal_decode",
    # as-of struct fill
    "q_join_asof",
    # engine-divergence pins
    "q_win_ntile", "q_win_dist", "q_win_streak", "q_agg_hll_rollup",
    "q_sample_seeded", "q_fn_string", "q_dist_shift",
    # NULL-measure semantics + UDF None guard
    "q_agg_quantile_sketch", "q_winsorize", "q_udf_scalar",
]


@pytest.fixture(scope="module")
def nulled(tmp_path_factory):
    from spring_and_kafka_spark.sources.tables import TABLES
    from tools.null_sweep import build_nulled_dir

    d = str(tmp_path_factory.mktemp("nulled"))
    build_nulled_dir(d)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    return d, con


@pytest.mark.parametrize("name", NULLED_PINS)
def test_null_fixture_parity(name, spark, nulled):
    d, con = nulled
    spec = SPECS[name]
    sdf = spec.fn(spark, d)
    srows = sdf.collect()
    res = con.execute(spec.oracle)
    ocols = [c[0] for c in res.description]
    assert_same_rows(sdf.columns, srows, ocols, res.fetchall())
