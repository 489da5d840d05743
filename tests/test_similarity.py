"""Similarity-search tests: ANN recall vs brute-force ground truth, kNN
zero-norm parity, and each ranking kernel against its DuckDB twin."""

from __future__ import annotations

import duckdb
import pytest

from spring_and_kafka_spark import registry
from spring_and_kafka_spark.llm import similarity as sim
from spring_and_kafka_spark.llm.similarity import (
    auto_block_count,
    q_sim_ann_ivf,
    q_sim_knn_all,
    q_sim_topk,
)

from .conftest import SF_SMOKE, assert_same_rows


def _duck_rows(sf_dir, sql):
    con = duckdb.connect()
    path = f"{sf_dir}/embeddings.parquet"
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
    res = con.execute(sql)
    return res.fetchall(), [d[0] for d in res.description]


def test_topk_is_sorted_and_unique(spark):
    rows = q_sim_topk(spark, SF_SMOKE).collect()
    assert len(rows) == 10
    sims = [r["cos_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    assert len({r["vec_id"] for r in rows}) == 10
    assert all(r["vec_id"] != 0 for r in rows)


def test_auto_block_count_scales_with_input():
    """B is derived from the corpus size (bounded per-block memory), not
    pinned: bigger inputs must pick more blocks, and block size stays
    ~rows_per_block so the per-group GEMM never grows with n."""
    small, large = auto_block_count(1_000), auto_block_count(1_000_000)
    assert small < large
    assert auto_block_count(500) == 2  # floor: need >=2 for a pair split
    assert 1_000_000 / auto_block_count(1_000_000) <= 2000  # bounded block


def test_knn_all_shape_and_consistency(spark):
    rows = q_sim_knn_all(spark, SF_SMOKE).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
    assert len(by_q) == 500  # every vector got neighbors
    for qid, rs in by_q.items():
        assert sorted(r["rn"] for r in rs) == [1, 2, 3]
        sims = [r["cos_sim"] for r in sorted(rs, key=lambda r: r["rn"])]
        assert sims == sorted(sims, reverse=True)
        assert all(r["nid"] != qid for r in rs)  # no self-neighbor
    # kNN(vec 0) must agree with the single-query brute force operator
    single = [r["vec_id"] for r in q_sim_topk(spark, SF_SMOKE).collect()][:3]
    batch = [r["nid"] for r in sorted(by_q[0], key=lambda r: r["rn"])]
    assert batch == single


def test_ivf_recall_vs_brute_force(spark):
    truth = {r["vec_id"] for r in q_sim_topk(spark, SF_SMOKE).collect()}
    approx = {r["vec_id"] for r in q_sim_ann_ivf(spark, SF_SMOKE).collect()}
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.5, f"IVF recall {recall:.2f} (probing 4/16 clusters)"


def test_ivf_refined_recall_floor_and_determinism(spark):
    # On uniform random fixtures Lloyd refinement does not reliably beat
    # the seeded centroids (clusters are meaningless in uniform data; at
    # sf0.01 refined measures 9/10 vs plain 10/10) — so the contract is a
    # recall floor plus deterministic training, not dominance.
    from spring_and_kafka_spark.llm.similarity import q_sim_ann_ivf_refined

    truth = {r["vec_id"] for r in q_sim_topk(spark, SF_SMOKE).collect()}
    a = q_sim_ann_ivf_refined(spark, SF_SMOKE).collect()
    b = q_sim_ann_ivf_refined(spark, SF_SMOKE).collect()
    assert [tuple(map(str, r)) for r in a] == [tuple(map(str, r)) for r in b]
    recall = len({r["vec_id"] for r in a} & truth) / len(truth)
    assert recall >= 0.7, f"refined IVF recall {recall:.2f}"


def test_knn_all_zero_norm_vector_keeps_its_neighbors(spark, tmp_path):
    """A zero-norm vector (vec_id 5 set to 64 zeros) cosines to NULL
    against everything. Its own top-3 must still be emitted — NULL
    cos_sim, ranked by nid under DESC NULLS LAST — exactly as the
    oracle ranks it; every other query keeps its finite neighbors."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    ids = t.column("vec_id").to_pylist()
    emb = t.column("embedding").to_pylist()
    emb[ids.index(5)] = [0.0] * 64
    t = t.set_column(
        t.schema.get_field_index("embedding"),
        "embedding",
        pa.array(emb, t.schema.field("embedding").type),
    )
    pq.write_table(t, str(tmp_path / "embeddings.parquet"))

    spec = registry.all_specs()["q_sim_knn_all"]
    sdf = spec.fn(spark, str(tmp_path))
    srows = sdf.collect()
    orows, ocols = _duck_rows(str(tmp_path), spec.oracle)
    assert len(srows) == 3 * len(ids)
    assert_same_rows(sdf.columns, srows, ocols, orows)
    own = sorted(
        (r["rn"], r["nid"], r["cos_sim"]) for r in srows if r["qid"] == 5
    )
    assert own == [(1, 0, None), (2, 1, None), (3, 2, None)]


def _twin_cases():
    """(kernel frame, twin SQL) per cross-engine rule, over SF_SMOKE."""
    e_sql = f"WITH {sim._E_SQL}, {sim._CENTS_SQL}, {sim._sample_sql(8)}"
    wf_sql = f"WITH {sim._E_WF_SQL}"

    def exact_topk(spark):
        e = sim._vecs(spark, SF_SMOKE)
        df = sim._exact_topk(e, sim._sample(e, 8), 10)
        return df, f"{e_sql} {sim._exact_top_sql(10)}"

    def hamming_topk(spark):
        sig = sim._signatures(sim._well_formed(sim._vecs(spark, SF_SMOKE)))
        df = sim._hamming_topk(sig, 8, 25)
        return df, f"{wf_sql}, {sim._SIG_CTE} {sim._ham_top_sql(8, 25)}"

    def ivf_assign(spark):
        e = sim._vecs(spark, SF_SMOKE)
        cents = sim._sample(e, 16, "centroid_id", "cv")
        df = sim.ivf_assign(e, cents).select("vec_id", "cluster")
        sql = f"SELECT vec_id, cluster FROM ({sim._assign_sql('cents')})"
        return df, f"{e_sql} {sql}"

    def probe(spark):
        e = sim._vecs(spark, SF_SMOKE)
        cents = sim._sample(e, 16, "centroid_id", "cv")
        df = sim._probe(cents, sim._sample(e, 8), 4)
        return df, f"{e_sql} {sim._probe_sql(4)}"

    def pq_recon(spark):
        df = sim._pq_recon(sim._well_formed(sim._vecs(spark, SF_SMOKE)))
        return df, f"{wf_sql}, {sim._PQ_RECON_SQL} SELECT vec_id, r FROM recon"

    return [exact_topk, hamming_topk, ivf_assign, probe, pq_recon]


@pytest.mark.parametrize("case", _twin_cases(), ids=lambda f: f.__name__)
def test_kernel_matches_its_duckdb_twin(spark, case):
    """Each Spark kernel and its DuckDB twin return the same row
    multiset, so a query built from the pair cannot drift between
    engines (the registered-oracle battery is in the slow set)."""
    df, sql = case(spark)
    srows = df.collect()
    orows, ocols = _duck_rows(SF_SMOKE, sql)
    assert srows
    assert_same_rows(df.columns, srows, ocols, orows)
