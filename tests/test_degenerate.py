"""Degenerate-input robustness (round-7 sweep).

Spark 4 runs ANSI mode: ANY division by zero throws DIVIDE_BY_ZERO —
including DOUBLE division — while DuckDB yields NULL. Every
data-dependent denominator in the package is therefore guarded to NULL
on the degenerate shape real data will eventually produce: constant
series (variance 0), zero totals, singular regressors, zero-norm
vectors, conversion-free experiments. Each test builds the degenerate
fixture and asserts BOTH claims: the query does not crash, and Spark
still equals the DuckDB oracle on that data (the guards reproduce
DuckDB's native NULL-on-/0 semantics, so parity must hold even here).
"""

from __future__ import annotations

import datetime as dt

import duckdb

from spring_and_kafka_spark import registry

from .conftest import (
    EVENTS,
    LINEITEM,
    ORDERS,
    SF_SMOKE,
    assert_same_rows,
    lineitem,
    staged,
)

import pytest

# Slow: every test stages its own tables and runs both engines; run
# with `python -m pytest tests/ -m slow` (pytest.ini keeps the default
# run to the fast set).
pytestmark = pytest.mark.slow

SPECS = registry.all_specs()


def assert_parity(spark, name, sf_dir, tables):
    """Mini replica of the driver's hash check on a degenerate dir."""
    import os

    con = duckdb.connect()
    for t in tables:
        # Spark writes <table>.parquet as a DIRECTORY of part files —
        # glob those; symlinked real fixtures are single files
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    spec = SPECS[name]
    sdf = spec.fn(spark, sf_dir)
    srows = sdf.collect()
    res = con.execute(spec.oracle)
    ocols = [d[0] for d in res.description]
    assert_same_rows(sdf.columns, srows, ocols, res.fetchall())
    return {c: [r[i] for r in srows] for i, c in enumerate(sdf.columns)}


def _co_orders(order_parts):
    """``lineitem`` rows for ``(orderkey, [partkeys])`` groups: the
    co-order graph the graph queries read."""
    return lineitem([(ok, pk) for ok, parts in order_parts for pk in parts])


def test_anomaly_on_constant_series_yields_no_rows(spark):
    """A flat series has variance 0 in every window: the z-score guard
    must yield NULL (not DIVIDE_BY_ZERO), the var > 0 filter drops the
    rows, and the oracle agrees on the empty answer."""
    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i), 1, "view", 5.0)
        for i in range(40)
    ]
    with staged(spark, events=(rows, EVENTS)) as d:
        got = assert_parity(spark, "q_ts_anomaly", d, ["events"])
    assert len(next(iter(got.values()), [])) == 0


def test_seasonality_on_zero_values_is_null_index(spark):
    """All-zero values make the overall mean 0: the seasonality index
    (avg / overall avg) is undefined and must be NULL in both engines."""
    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=6 * i), 1, "view", 0.0)
        for i in range(40)
    ]
    with staged(spark, events=(rows, EVENTS)) as d:
        got = assert_parity(spark, "q_ts_seasonality", d, ["events"])
    assert got["seasonality_index"] and all(
        v is None for v in got["seasonality_index"]
    )


def test_ab_test_without_conversions_is_null_z(spark):
    """No purchases at all: pooled rate 0, standard error 0 — the z
    statistic is undefined and must be NULL, lift must still be 0."""
    rows = [
        (
            100 * u + i,
            dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i),
            u,
            "view",
            1.0,
        )
        for u in range(10)
        for i in range(20)
    ]
    with staged(spark, events=(rows, EVENTS)) as d:
        got = assert_parity(spark, "q_ab_test", d, ["events"])
    assert got["z"] == [None]
    assert got["lift"] == [0.0]


def test_ols2_on_collinear_regressors_is_null_betas(spark):
    """Constant quantity and discount make the normal matrix singular
    (det = 0): both betas must be NULL in both engines, never a crash."""
    rows = [
        (i, i, i, 1, 7.0, 100.0 + 3.0 * i, 0.05, 0.01, "A", "F",
         dt.datetime(2024, 1, 1))
        for i in range(12)
    ]
    with staged(spark, lineitem=(rows, LINEITEM)) as d:
        got = assert_parity(spark, "q_agg_ols2", d, ["lineitem"])
    assert got["beta_qty"] == [None]
    assert got["beta_disc_pct"] == [None]


def test_moments_on_constant_group_is_null_shape(spark):
    """A constant group has variance exactly 0: skewness/kurtosis are
    undefined (NULL); mean and var_pop stay exact."""
    rows = [
        (i, i, i, 1, 7.0, 100.0, 0.05, 0.01, "A", "F", dt.datetime(2024, 1, 1))
        for i in range(9)
    ]
    with staged(spark, lineitem=(rows, LINEITEM)) as d:
        got = assert_parity(spark, "q_agg_moments", d, ["lineitem"])
    assert got["mean_qty"] == [7.0]
    assert got["var_pop"] == [0.0]
    assert got["skewness_pop"] == [None]
    assert got["kurtosis_excess"] == [None]


def test_cosine_against_zero_vector_is_null(spark, tmp_path):
    """A zero-norm embedding makes cosine undefined: the pair touching
    it must be NULL (both engines), other pairs unaffected."""
    d = tmp_path / "zerovec"
    spark.createDataFrame(
        [
            (0, [0.0, 0.0, 0.0, 0.0], 0),
            (1, [1.0, 0.0, 0.0, 0.0], 0),
            (2, [1.0, 1.0, 0.0, 0.0], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    got = assert_parity(spark, "q_sim_pairwise", str(d), ["embeddings"])
    by_pair = dict(zip(got["a_id"], got["cos_sim"]))
    assert by_pair[0] is None  # (zero, e1)
    assert abs(by_pair[1] - 0.707107) < 1e-6  # (e1, e1+e2)


def test_gini_on_zero_revenue_is_null(spark, tmp_path):
    """All-zero order totals: concentration of nothing is undefined —
    gini NULL, total 0.0, still parity with the oracle."""
    d = tmp_path / "zerorev"
    spark.createDataFrame(
        [
            (i, i % 3, "O", 0.0, dt.datetime(2024, 1, 1), "1-URGENT")
            for i in range(6)
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string",
    ).write.mode("overwrite").parquet(str(d / "orders.parquet"))
    got = assert_parity(spark, "q_agg_gini", str(d), ["orders"])
    assert got["gini"] == [None]
    assert got["total_revenue"] == [0.0]


def test_dedup_family_on_all_duplicates_corpus(spark, tmp_path):
    """Maximal duplication — every document identical — is the dedup
    family's adversarial shape: one exact group holds the whole corpus,
    every LSH band hashes to one bucket (the hot-bucket cap's design
    case), and the cluster graph is a single clique. Each representative
    query must keep exact oracle parity there, not just at fixture
    duplication rates."""
    import os

    from spring_and_kafka_spark.sources.tables import TABLES

    d = tmp_path / "alldup"
    d.mkdir()
    for t in TABLES:
        if t != "documents":
            os.symlink(
                f"{SF_SMOKE}/{t}.parquet", d / f"{t}.parquet"
            )
    text = (
        "the quick brown fox jumps over the lazy dog again and again "
        "for tokens"
    )
    spark.createDataFrame(
        [(i, text, "en", "web", len(text)) for i in range(12)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    for name in [
        "q_dedup_exact",
        "q_dedup_near",
        "q_dedup_clusters_lsh",
        "q_dedup_survivors",
        "q_text_dup_fraction",
    ]:
        assert_parity(spark, name, str(d), list(TABLES))


# ---------------------------------------------------------------- round 12


def test_theilsen_constant_revenue_slope_zero_single_day_absent(spark):
    """Two degenerate trend shapes: a type with CONSTANT daily revenue
    must report slope exactly 0.0 (every pairwise slope is 0/Δday —
    exact in both engines), and a type seen on a SINGLE day has no
    pairs at all and must be absent from the output (inner pair join),
    not present with a NULL slope."""
    rows = [
        # 'view': 5 days, same revenue each day
        *[(i, dt.datetime(2024, 1, 1 + i), 1, "view", 7.25) for i in range(5)],
        # 'click': one day only
        (99, dt.datetime(2024, 1, 3), 1, "click", 3.0),
    ]
    with staged(spark, events=(rows, EVENTS)) as d:
        got = assert_parity(spark, "q_ts_theilsen", d, ["events"])
    assert got["event_type"] == ["view"]
    assert got["slope_micros_per_day"] == [0.0]
    assert got["n_pairs"] == [10]


def test_rolling_median_constant_revenue_equals_revenue(spark):
    """Constant daily revenue: every 7-row frame is a constant list, so
    the rolling median must equal the revenue bit-for-bit on every row
    (integer micro-units — no interpolation artifacts)."""
    rows = [
        (i, dt.datetime(2024, 1, 1 + i), 1, "view", 2.5) for i in range(10)
    ]
    with staged(spark, events=(rows, EVENTS)) as d:
        got = assert_parity(spark, "q_win_rolling_median", d, ["events"])
    assert len(got["day"]) == 10
    assert all(
        m == float(r) for m, r in zip(got["med7_micros"], got["rev_micros"])
    )


def test_equidepth_all_equal_prices_single_bucket(spark):
    """All-equal prices: every octile boundary equals the value, `v > b`
    is false on equality everywhere, so ALL rows land in bucket 1 with
    lo == hi == the value and share 1.0 — the ties-stay-lower rule at
    its extreme, in both engines."""
    rows = [
        (i, 1, "O", 123.455, dt.datetime(2024, 1, 1), "1-URGENT")
        for i in range(20)
    ]
    with staged(spark, orders=(rows, ORDERS)) as d:
        got = assert_parity(spark, "q_hist_equidepth", d, ["orders"])
    assert got["bucket"] == [1]
    assert got["n"] == [20]
    assert got["lo"] == got["hi"]
    assert got["share"] == [1.0]


def test_equidepth_all_null_prices_single_null_bucket(spark):
    """All-NULL prices: the boundary aggregate is NULL, every row takes
    the NULL bucket, min/max are NULL — one (NULL, n, NULL, NULL, 1.0)
    row in both engines (percentile and min/max all skip NULLs)."""
    rows = [
        (i, 1, "O", None, dt.datetime(2024, 1, 1), "1-URGENT")
        for i in range(7)
    ]
    with staged(spark, orders=(rows, ORDERS)) as d:
        got = assert_parity(spark, "q_hist_equidepth", d, ["orders"])
    assert got["bucket"] == [None]
    assert got["n"] == [7]
    assert got["lo"] == [None] and got["hi"] == [None]
    assert got["share"] == [1.0]


def test_graph_cc_disjoint_cliques_and_thinning(spark):
    """Two disjoint co-order pairs, each co-ordered twice (so they pass
    the >=2 thinning), plus a pair co-ordered only ONCE (thinned away
    entirely — its parts must not even be nodes): exactly two 2-node
    components labeled by their min part keys, in both engines."""
    order_parts = [
        (1, [10, 11]), (2, [10, 11]),   # component {10, 11}
        (3, [20, 21]), (4, [20, 21]),   # component {20, 21}
        (5, [30, 31]),                   # thinned: co-ordered once
    ]
    with staged(spark, lineitem=_co_orders(order_parts)) as d:
        got = assert_parity(spark, "q_graph_cc", d, ["lineitem"])
    comp = dict(zip(got["component"], got["n_nodes"]))
    assert comp == {10: 2, 20: 2}


def test_embed_outlier_constant_label_no_flags(spark, tmp_path):
    """A label whose members all share ONE cosine (vectors identical up
    to positive scale -> same direction) has sd = 0 and cutoff = mu: the
    structural tie the rounded-cutoff rule exists for. No row may be
    flagged, and both engines must agree on the empty answer (the
    unrounded comparison was an ulp-level cross-engine coin flip)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "outlier-const"
    d.mkdir()
    # 16 centroid seeds (ids 0..15) + 6 label-7 voters, all pointing the
    # same direction with different norms -> identical cosine to every
    # centroid, so identical cos_r within the label
    vecs, labels = [], []
    for i in range(16):
        v = [0.0] * 64
        v[i % 8] = 1.0
        vecs.append(v)
        labels.append(None)  # label-agnostic quantizer; seeds don't vote
    for k in range(6):
        v = [float(k + 1)] * 64
        vecs.append(v)
        labels.append(7)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "label": pa.array(labels, pa.int32()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    got = assert_parity(spark, "q_embed_outlier", str(d), ["embeddings"])
    assert len(next(iter(got.values()), [])) == 0


def test_graph_kcore_pendant_chain_peels_clique_survives(spark):
    """Triangle {10,11,12} with a pendant chain 12-13-14 (every edge
    co-ordered twice, so nothing is thinned): the 2-core peel must run
    MULTIPLE rounds — 14 (degree 1) falls first, which drops 13 to
    degree 1 so it falls next round — and converge on exactly the
    triangle with every core degree 2, in both engines. Exercises the
    iterative early-stop against the oracle's fixed unroll on a shape
    where one round is not enough."""
    order_parts = [
        (1, [10, 11, 12]), (2, [10, 11, 12]),  # triangle, twice
        (3, [12, 13]), (4, [12, 13]),          # pendant edge
        (5, [13, 14]), (6, [13, 14]),          # chain tail
    ]
    with staged(spark, lineitem=_co_orders(order_parts)) as d:
        got = assert_parity(spark, "q_graph_kcore", d, ["lineitem"])
    core = dict(zip(got["node"], got["core_deg"]))
    assert core == {10: 2, 11: 2, 12: 2}


def test_stl_residual_flags_nothing_on_pure_seasonal_signal(spark):
    """The reason this operator exists: values constant WITHIN each
    day-of-week but 10x higher on Saturdays. The raw MAD cut (majority
    dev 0 -> MAD 0 -> threshold 0) flags every Saturday row; the
    deseasonalized residual is exactly 0 everywhere, so the adjusted
    detector flags NOTHING — and both engines agree bit for bit."""
    rows = []
    eid = 0
    for week in range(6):
        for dow in range(7):  # 2024-01-01 is a Monday; dow 5 = Saturday
            eid += 1
            rows.append(
                (
                    eid,
                    dt.datetime(2024, 1, 1, 12, 0, 0)
                    + dt.timedelta(days=7 * week + dow),
                    eid % 5,
                    "view",
                    100.0 if dow == 5 else 10.0,
                )
            )
    with staged(spark, events=(rows, EVENTS)) as d:
        got = assert_parity(spark, "q_ts_stl_residual", d, ["events"])
    assert got["n"] == [42]
    assert got["n_out_raw"] == [6]  # every Saturday, the false alarms
    assert got["n_out_adj"] == [0]  # deseasonalized: nothing anomalous
    assert got["med_res_micros"] == [0.0] and got["mad_res_micros"] == [0.0]


def test_script_mix_empty_text_and_null_text(spark, tmp_path):
    """Empty string: zero codepoints in every class, dominant 'none',
    not mixed. NULL text: filtered at the scan in both engines (payload
    NULL rule) — only the empty-string row survives."""
    d = tmp_path / "scriptmix-degenerate"
    spark.createDataFrame(
        [(0, "", "en", "web", 0), (1, None, "en", "web", 0)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    got = assert_parity(spark, "q_text_script_mix", str(d), ["documents"])
    assert got["doc_id"] == [0]
    assert got["n_cp"] == [0] and got["other_n"] == [0]
    assert got["dominant_script"] == ["none"]
    assert got["is_mixed"] == [False]


def test_udtf_null_name_yields_no_rows_empty_name_yields_one(spark, tmp_path):
    """The UDTF NULL contract: eval(None) yields nothing (matching
    unnest over a NULL split), and an empty p_name splits to exactly
    one empty-string word in both Python and DuckDB."""
    d = tmp_path / "udtf-degenerate"
    spark.createDataFrame(
        [
            (1, "red copper hammer", "B", "T", 1, 1.0),
            (2, None, "B", "T", 1, 1.0),
            (3, "", "B", "T", 1, 1.0),
        ],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(str(d / "part.parquet"))
    got = assert_parity(spark, "q_udf_udtf", str(d), ["part"])
    by_key = {}
    for k, pos, w in zip(got["p_partkey"], got["pos"], got["word"]):
        by_key.setdefault(k, []).append((pos, w))
    assert sorted(by_key[1]) == [(1, "red"), (2, "copper"), (3, "hammer")]
    assert 2 not in by_key  # NULL name: zero rows
    assert by_key[3] == [(1, "")]  # empty name: one empty word


def test_graph_jaccard_known_neighborhoods(spark):
    """Triangle {10,11,12} plus pendant 10-13: hand-computed Jaccard
    for every wedge pair, including the link-prediction case — (11,13)
    and (12,13) share neighbor 10 but are NOT adjacent, and must come
    back is_edge=false with score 1/2."""
    order_parts = [
        (1, [10, 11, 12]), (2, [10, 11, 12]),  # triangle, twice
        (3, [10, 13]), (4, [10, 13]),          # pendant
    ]
    with staged(spark, lineitem=_co_orders(order_parts)) as d:
        got = assert_parity(spark, "q_graph_jaccard", d, ["lineitem"])
    rows = {
        (u, v): (c, j, e)
        for u, v, c, j, e in zip(
            got["u"], got["v"], got["common"], got["jaccard"], got["is_edge"]
        )
    }
    assert rows == {
        (10, 11): (1, 0.25, True),
        (10, 12): (1, 0.25, True),
        (11, 12): (1, 0.333333, True),
        (11, 13): (1, 0.5, False),  # predicted link
        (12, 13): (1, 0.5, False),  # predicted link
    }


def test_tcloseness_mirror_group_zero_skewed_group_breaches(spark, tmp_path):
    """Three QI groups over a 2-priority corpus: one all-X, one all-Y
    (each TVD exactly 0.5 against the 50/50 global — breach), and one
    mirroring the global mix exactly (TVD 0, no breach). Both engines
    must agree on the exact integer-scaled distances."""
    d = tmp_path / "tclose-known"
    custs, orders = [], []
    ck = 0
    ok = 0
    for nat, seg, prios in [
        (1, "A", ["X"] * 4),
        (2, "B", ["Y"] * 4),
        (3, "C", ["X", "X", "Y", "Y"]),
    ]:
        for p in prios:
            ck += 1
            ok += 1
            custs.append((ck, f"c{ck}", nat, 0.0, seg))
            orders.append(
                (ok, ck, "O", 1.0, dt.datetime(2024, 1, 2), p)
            )
    spark.createDataFrame(
        custs,
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    ).write.mode("overwrite").parquet(str(d / "customer.parquet"))
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string",
    ).write.mode("overwrite").parquet(str(d / "orders.parquet"))
    got = assert_parity(
        spark, "q_tcloseness", str(d), ["orders", "customer"]
    )
    rows = {
        (nat, seg): (n, tvd, br)
        for nat, seg, n, tvd, br in zip(
            got["c_nationkey"], got["c_mktsegment"], got["n"],
            got["tvd"], got["breach"],
        )
    }
    assert rows == {
        (1, "A"): (4, 0.5, True),
        (2, "B"): (4, 0.5, True),
        (3, "C"): (4, 0.0, False),
    }


def test_tcloseness_exactly_at_threshold_does_not_breach(spark, tmp_path):
    """tvd landing EXACTLY on t=0.2 (strictly-greater semantics): two
    complementary 7/3 groups over a 50/50 global — TVD = ½(0.2+0.2) =
    0.2 for both. The integer-scaled compare (scaled > t·2·ng·n) must
    answer False in BOTH engines — DuckDB evaluates the threshold in
    exact DECIMAL, Spark in double (0.2·2·140 = 56.000000000000014),
    and no integer lives between 56 and that double, so the knife edge
    is structurally safe (verified: the only divergence window is
    (t·2·ng·n, its double image), which contains no BIGINT)."""
    d = tmp_path / "tclose-threshold"
    custs, orders = [], []
    k = 0
    for nat, seg, prios in [
        (1, "A", ["X"] * 7 + ["Y"] * 3),
        (2, "B", ["X"] * 3 + ["Y"] * 7),
    ]:
        for p in prios:
            k += 1
            custs.append((k, f"c{k}", nat, 0.0, seg))
            orders.append((k, k, "O", 1.0, dt.datetime(2024, 1, 2), p))
    spark.createDataFrame(
        custs,
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    ).write.mode("overwrite").parquet(str(d / "customer.parquet"))
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string",
    ).write.mode("overwrite").parquet(str(d / "orders.parquet"))
    got = assert_parity(
        spark, "q_tcloseness", str(d), ["orders", "customer"]
    )
    assert got["tvd"] == [0.2, 0.2]
    assert got["breach"] == [False, False]


def test_embed_recall_eval_tiny_corpus_full_recall(spark, tmp_path):
    """Three vectors: every vec_id doubles as centroid and query, every
    cluster is probed, so ANN candidates == exact candidates and recall
    must be exactly 1.0 with n_true = 2 (< k — the truth set smaller
    than k path), in both engines."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "recall-tiny"
    d.mkdir()
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
    ]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
                "embedding": pa.array(
                    [v[1] for v in vecs], pa.list_(pa.float32())
                ),
                "label": pa.array(["a", "a", "b"]),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    got = assert_parity(
        spark, "q_embed_recall_eval", str(d), ["embeddings"]
    )
    assert got["n_true"] == [2, 2, 2]
    assert got["hits"] == [2, 2, 2]
    assert got["recall"] == [1.0, 1.0, 1.0]


def test_graph_bfs_chain_distances_and_unreachable(spark):
    """Chain 50-150-151 (anchor 50 < 100 seeds distance 0) plus a
    disjoint pair {200, 201} with no anchor: the hop histogram must be
    {0: 1, 1: 1, 2: 1, NULL: 2} — multi-round relaxation AND the
    unreachable-∞ NULL row, in both engines."""
    order_parts = [
        (1, [50, 150]), (2, [50, 150]),
        (3, [150, 151]), (4, [150, 151]),
        (5, [200, 201]), (6, [200, 201]),
    ]
    with staged(spark, lineitem=_co_orders(order_parts)) as d:
        got = assert_parity(spark, "q_graph_bfs", d, ["lineitem"])
    hist = dict(zip(got["dist"], got["n_nodes"]))
    assert hist == {0: 1, 1: 1, 2: 1, None: 2}


def test_graph_jaccard_planted_hub_cap_drops_hub_wedges(spark):
    """Planted hub (the r13 `weak`-grade fix): a star whose center has
    degree 300 > _JACCARD_CENTER_CAP=256 plus a small low-degree
    triangle. The cap must drop EVERY wedge through the hub — without
    it the star alone emits C(300,2) = 44,850 candidate pairs, the
    Θ(deg²) blow-up the guard exists for — while the triangle's wedges
    (center degree 2) survive untouched. Both engines must agree on
    the capped answer (the cap is interpolated into the oracle), and
    deg_u/deg_v stay FULL degrees, not capped ones."""
    hub = 1
    star = [
        (2 * i + off, [hub, 1000 + i])
        for i in range(300)
        for off in (1, 2)  # each spoke co-ordered twice -> real edge
    ]
    tri = [(100000 + k, [2001, 2002, 2003]) for k in (1, 2)]
    with staged(spark, lineitem=_co_orders(star + tri)) as d:
        got = assert_parity(spark, "q_graph_jaccard", d, ["lineitem"])
    pairs = sorted(zip(got["u"], got["v"]))
    # ONLY the triangle's three pairs: every spoke-spoke pair's sole
    # common neighbor is the capped hub, and hub-spoke pairs have no
    # common neighbor at all (spokes are degree-1)
    assert pairs == [(2001, 2002), (2001, 2003), (2002, 2003)]
    assert got["common"] == [1, 1, 1]
    assert got["deg_u"] == [2, 2, 2] and got["deg_v"] == [2, 2, 2]
    assert all(abs(j - 0.333333) < 1e-9 for j in got["jaccard"])
    assert got["is_edge"] == [True, True, True]


def test_graph_jaccard_cap_is_load_bearing(spark, monkeypatch):
    """Counterfactual pin that the hub guard actually fires: with the
    cap monkeypatched above the planted hub's degree, the same star
    explodes to C(300,2) spoke-spoke pairs + the 3 triangle rows —
    proving the production cap removes exactly the quadratic fan-out
    (Spark side only; the oracle string froze the production cap at
    registration, which is the point of interpolating it)."""
    from spring_and_kafka_spark.operators import graph as graph_mod

    hub = 1
    star = [
        (2 * i + off, [hub, 1000 + i])
        for i in range(300)
        for off in (1, 2)
    ]
    tri = [(100000 + k, [2001, 2002, 2003]) for k in (1, 2)]
    with staged(spark, lineitem=_co_orders(star + tri)) as d:
        monkeypatch.setattr(graph_mod, "_JACCARD_CENTER_CAP", 1000)
        n = SPECS["q_graph_jaccard"].fn(spark, d).count()
    assert n == 300 * 299 // 2 + 3


def test_ann_zero_norm_vectors_null_cosine_parity(spark, tmp_path):
    """Zero-norm vectors (an all-zero embedding — a dead encoder output,
    routine at ingest scale) hit every cosine denominator in the ANN
    family. The r14 NULLIF pins (rotation backlog, r13) make the oracle
    answer NULL in every DuckDB division mode, matching Spark's guarded
    `cosine`; rankings pin NULLS LAST with id tie-breaks. Fixture
    plants a zero-norm CENTROID seed (vec_id 5: its column of
    assignment sims is NULL — must never win an argmax unless all are
    NULL) and a zero-norm CORPUS vector (vec_id 20: all-NULL sim row —
    assignment must fall through to the min centroid id in BOTH
    engines, the struct-ordering/NULLS-LAST agreement)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "zero-norm"
    d.mkdir()
    vecs, labels = [], []
    for i in range(24):
        v = [0.0] * 64
        if i not in (5, 20):
            v[i % 8] = 1.0
            v[(i * 3) % 64] = float(i % 5 + 1)
        vecs.append(v)
        labels.append(i % 3)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    for q in (
        "q_embed_centroid",
        "q_sim_ann_ivf",
        "q_sim_ann_ivf_refined",
        "q_embed_pq_eval",
        # the r15-backlog pins pre-paid late in r14: both engines must
        # rank the zero-norm rows NULLS LAST through the NULLIF guard
        "q_sim_topk",
        "q_sim_pairwise",
    ):
        got = assert_parity(spark, q, str(d), ["embeddings"])
        assert len(next(iter(got.values()), [])) > 0, q


def test_sketch_retrieval_zero_norm_query_parity(spark, tmp_path):
    """A ZERO-NORM query vector (vec 0 all zeros — a dead encoder on
    the query side) degrades every cosine in the r14 sketch-retrieval
    family to NULL while the Hamming side stays fully defined (the
    zero sketch is a valid signature): q_sim_hamming_topk ranks
    normally, q_embed_rrf's cosine list collapses to an all-NULL-sim
    ranking (NULLS LAST -> pure vec_id order, pinned in both engines),
    and q_embed_ndcg_eval's qid-0 ground truth likewise falls back to
    vec_id order. Parity must hold on all three — no DIVIDE_BY_ZERO
    throw anywhere."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "zero-q"
    d.mkdir()
    vecs = []
    for i in range(24):
        v = [0.0] * 64
        if i != 0:
            v[i % 8] = 1.0
            v[(i * 5) % 64] = -float(i % 3 + 1)
        vecs.append(v)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([0] * len(vecs), pa.int32()),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    for q in ("q_sim_hamming_topk", "q_embed_rrf", "q_embed_ndcg_eval"):
        got = assert_parity(spark, q, str(d), ["embeddings"])
        assert len(next(iter(got.values()), [])) > 0, q


def test_skew_audit_planted_hot_key_and_null_exclusion(spark, tmp_path):
    """A planted 80%-hot key must flag `hot` with the exact max·k/total
    skew factor, a uniform key must not, and NULL keys must be excluded
    from n_rows in BOTH engines (parity asserted on the same fixture)."""
    import datetime as dt

    d = tmp_path / "skew"
    d.mkdir()
    # lineitem: l_partkey hot (8 of 10 rows on key 1), l_suppkey uniform,
    # one NULL in each audited column
    rows = []
    for i in range(10):
        pk = 1 if i < 8 else 100 + i
        rows.append(
            (i, pk if i != 9 else None, (i % 5) if i != 8 else None,
             1, 1.0, 1.0, 0.0, 0.0, "N", "O",
             dt.datetime(2024, 1, 1))
        )
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    ).write.mode("overwrite").parquet(str(d / "lineitem.parquet"))
    spark.createDataFrame(
        [(i, i % 3, "O", 1.0, dt.datetime(2024, 1, 1), "p", 0, "c")
         for i in range(6)],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string, o_shippriority int, o_comment string",
    ).write.mode("overwrite").parquet(str(d / "orders.parquet"))
    # events: user 7 owns 10 rows, users 100..108 one each — max·k =
    # 10·10 = 100 > 4·19 = 76, the flag MUST fire
    ev = [(i, dt.datetime(2024, 1, 1, i % 24), 7, "view", 1.0)
          for i in range(10)]
    ev += [(100 + i, dt.datetime(2024, 1, 2, i), 100 + i, "view", 1.0)
           for i in range(9)]
    spark.createDataFrame(
        ev,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
    ).write.mode("overwrite").parquet(str(d / "events.parquet"))
    got = assert_parity(
        spark, "q_skew_audit", str(d), ["lineitem", "orders", "events"]
    )
    by_col = dict(zip(got["key_col"], zip(
        got["n_rows"], got["n_keys"], got["max_rows"], got["hot"]
    )))
    # 9 non-NULL partkeys (the NULL row is excluded): hot key 1 has 8
    # rows but only 2 keys exist -> max·k = 16 < 4·9 = 36: high share
    # alone is NOT skew when the key space is tiny (two reducers split
    # 9 rows 8:1 — no stall), so the flag stays off
    assert by_col["lineitem.l_partkey"] == (9, 2, 8, False)
    # uniform orders: 3 keys x 2 rows, max·k = 6 == total -> skew 1.0
    assert by_col["orders.o_custkey"] == (6, 3, 2, False)
    # planted hot user: flag fires
    assert by_col["events.user_id"] == (19, 10, 10, True)


def test_vector_edge_shapes_parity_r14_review(spark, tmp_path):
    """The two latent vector-shape hazards from the r14 review, now
    structural contracts: (a) a NULL-ELEMENT vector (sparse encode bug
    — passes the finite-or-null contract since exists() is NULL) must
    not flip q_embed_pq_eval's subspace argmin (Spark min_by ranks NULL
    scores FIRST, the oracle ranked them LAST — both engines now
    exclude such vectors at the scan); (b) an EMPTY-ARRAY vector must
    not become a phantom all-zero sketch (the Spark fold emits (0,0),
    DuckDB's unnest emits nothing — _signatures now excludes empties).
    Parity asserted on a fixture planting both shapes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "vec-shapes"
    d.mkdir()
    vecs, ids = [], []
    for i in range(20):
        v = [0.0] * 64
        v[i % 8] = 1.0
        v[(i * 7) % 64] = -2.0 if i % 2 else 1.5
        vecs.append(v)
        ids.append(i)
    vecs[3] = [1.0] * 32 + [None] + [0.5] * 31  # NULL element
    vecs[11] = []  # empty array
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([0] * len(vecs), pa.int32()),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    for q in (
        "q_embed_pq_eval",
        "q_sim_hamming_topk",
        "q_embed_rrf",
        "q_embed_ndcg_eval",
        "q_embed_threshold_curve",  # r14 ADVICE: joined _WF_SQL in r15
    ):
        got = assert_parity(spark, q, str(d), ["embeddings"])
        assert len(next(iter(got.values()), [])) > 0, q
    # the empty vector must be absent from the hamming ranking entirely
    got = assert_parity(spark, "q_sim_hamming_topk", str(d), ["embeddings"])
    assert 11 not in got["vec_id"]


def test_diversity_null_source_keeps_bigrams(spark, tmp_path):
    """NULL-source docs (untagged provenance) form a legitimate group:
    the gram rejoin is null-safe, so the NULL-source row must carry its
    REAL bigram counts, not the silent 0 a null-unsafe join produces in
    both engines at once (r14 review finding — invisible to parity,
    caught only by a value assert)."""
    d = tmp_path / "nullsrc"
    d.mkdir()
    rows = [
        (0, "alpha beta gamma", "en", None, 16),
        (1, "alpha beta", "en", None, 10),
        (2, "delta epsilon", "en", "web", 13),
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    got = assert_parity(spark, "q_text_diversity", str(d), ["documents"])
    by_src = dict(zip(got["source"], zip(got["n_bigrams"], got["n_uniq_bigrams"])))
    assert by_src[None] == (3, 2)  # 'alpha beta' x2 + 'beta gamma'
    assert by_src["web"] == (1, 1)


def test_user_streak_null_ts_not_a_phantom_day(spark, tmp_path):
    """An event with NULL ts must not add a phantom island: a user with
    a clean 3-day streak plus one NULL-ts event reports (3, 3, 1), not
    (4, 3, 2)."""
    import datetime as dt

    d = tmp_path / "nullts"
    d.mkdir()
    rows = [
        (i, dt.datetime(2024, 1, 1 + i), 7, "view", 1.0) for i in range(3)
    ] + [(99, None, 7, "view", 1.0)]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
    ).write.mode("overwrite").parquet(str(d / "events.parquet"))
    got = assert_parity(spark, "q_user_streak", str(d), ["events"])
    assert got["n_active_days"] == [3]
    assert got["longest_streak"] == [3]
    assert got["n_streaks"] == [1]


_DOC_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def test_boilerplate_cross_source_vs_within_source(spark, tmp_path):
    """The template flag requires >= 3 DISTINCT sources: a segment
    repeated 10x inside ONE source must NOT flag (that's
    q_text_dup_fraction's job), a segment planted once in three
    sources MUST — and untagged (NULL-source) docs both count toward
    the source tally (via the sentinel) and form their own output
    group."""
    d = tmp_path / "boiler"
    d.mkdir()
    tpl = "alpha beta gamma delta eps zeta eta theta"  # one 8-word seg
    rows = [
        (0, tpl, "en", "s0", len(tpl)),
        (1, tpl, "en", "s1", len(tpl)),
        (2, tpl, "en", None, len(tpl)),  # NULL source completes the 3
        (10, "mono dup seg " * 1 + "w x y z p q r s", "en", "s2", 30),
    ]
    # within-source repetition: same segment, same source, many docs
    rows += [
        (20 + i, "solo uniq run one two three four five", "en", "s3", 38)
        for i in range(10)
    ]
    spark.createDataFrame(rows, _DOC_SCHEMA).write.mode(
        "overwrite"
    ).parquet(str(d / "documents.parquet"))
    got = assert_parity(spark, "q_text_boilerplate", str(d), ["documents"])
    by_src = dict(zip(got["source"], zip(got["n_boiler"], got["n_segments"])))
    assert by_src["s0"] == (1, 1)  # the planted template flags
    assert by_src["s1"] == (1, 1)
    assert by_src[None] == (1, 1)  # NULL source is a real output group
    assert by_src["s3"] == (0, 10)  # 10 within-source repeats: no flag
    assert by_src["s2"][0] == 0


def test_quality_gopher_each_rule_bites_alone(spark, tmp_path):
    """Five docs, each failing exactly one rule, plus one clean doc —
    the per-rule pass counts must finger exactly the failing rule, and
    a NULL-lang doc forms a legitimate group."""
    d = tmp_path / "gopher"
    d.mkdir()
    clean = " ".join(["tok"] * 10 + ["the", "a"] + ["w%d" % i for i in range(10)])
    short = "the a tok"  # fails length (3 < 20 toks)
    longw = " ".join(["superlongword%d" % i for i in range(18)] + ["the", "a"])
    nostop = " ".join(["w%d" % i for i in range(22)])  # no stopwords
    # repetitive: 'tok' is 10/22 > 1/5 of the doc
    rep = " ".join(["tok"] * 10 + ["the", "a"] + ["u%d" % i for i in range(10)])
    rows = [
        (0, clean, "en", "s", len(clean)),
        (1, short, "en", "s", len(short)),
        (2, longw, "en", "s", len(longw)),
        (3, nostop, "en", "s", len(nostop)),
        (4, rep, "en", "s", len(rep)),
        (5, clean, None, "s", len(clean)),  # NULL lang group
    ]
    spark.createDataFrame(rows, _DOC_SCHEMA).write.mode(
        "overwrite"
    ).parquet(str(d / "documents.parquet"))
    got = assert_parity(spark, "q_quality_gopher", str(d), ["documents"])
    en = {c: v for c, v in zip(got["lang"], zip(
        got["n_docs"], got["pass_len"], got["pass_wlen"], got["pass_stop"],
        got["pass_rep"], got["n_clean"]))}
    n_docs, p_len, p_wlen, p_stop, p_rep, n_clean = en["en"]
    assert n_docs == 5
    assert p_len == 4  # only `short` fails length
    assert p_wlen == 4  # only `longw` fails word length
    assert p_stop == 4  # only `nostop` fails stopwords
    assert p_rep <= 3  # `rep` fails dominance (clean has tok x10 of 22: ok)
    assert en["en"][0] == 5
    nl = {c: v for c, v in zip(got["lang"], got["n_docs"])}
    assert nl[None] == 1


def test_pmi_planted_collocation_tops_and_support_floor(spark, tmp_path):
    """A planted always-adjacent pair must rank first; a pair occurring
    4 times (below the support floor of 5) must be absent entirely."""
    d = tmp_path / "pmi"
    d.mkdir()
    rows = []
    # 'neural net' always adjacent, 6 occurrences, in separate docs of
    # otherwise-shuffled filler so filler pairs stay diffuse
    fill = ["alpha", "beta", "gamma", "delta", "eps"]
    for i in range(6):
        f = fill[i % 5], fill[(i + 2) % 5], fill[(i + 4) % 5]
        text = f"{f[0]} neural net {f[1]} {f[2]}"
        rows.append((i, text, "en", "s", len(text)))
    # 'rare pair' only 4 times -> filtered by support
    for i in range(4):
        text = f"rare pair {fill[i % 5]}"
        rows.append((100 + i, text, "en", "s", len(text)))
    spark.createDataFrame(rows, _DOC_SCHEMA).write.mode(
        "overwrite"
    ).parquet(str(d / "documents.parquet"))
    got = assert_parity(spark, "q_text_pmi", str(d), ["documents"])
    pairs = list(zip(got["w1"], got["w2"]))
    assert ("rare", "pair") not in pairs
    assert pairs, "no collocations survived the support floor"
    # the planted collocation carries the highest lift
    best = max(range(len(pairs)), key=lambda i: got["pmi"][i])
    assert pairs[best] == ("neural", "net")


def test_changepoint_planted_step_and_constant_series(spark):
    """A clean level shift must be found at the exact boundary day; a
    CONSTANT series has gain identically 0 at every split, so the
    earliest-day tiebreak must pick day 1 deterministically in both
    engines; a single-day series emits no row."""
    rows = []
    # type 'step': 10 days at 10.0, then 10 days at 50.0
    for i in range(20):
        rows.append(
            (i, dt.datetime(2024, 1, 1 + i), 1, "step",
             10.0 if i < 10 else 50.0)
        )
    # type 'flat': constant 7.0 for 8 days
    for i in range(8):
        rows.append((100 + i, dt.datetime(2024, 1, 1 + i), 2, "flat", 7.0))
    # type 'one': a single day -> no candidate split
    rows.append((200, dt.datetime(2024, 1, 5), 3, "one", 3.0))
    # NULL ts must not create a phantom day
    rows.append((300, None, 1, "step", 999.0))
    with staged(spark, events=(rows, EVENTS)) as d:
        got = assert_parity(spark, "q_ts_changepoint", d, ["events"])
    by_t = dict(zip(got["event_type"], zip(
        got["change_day"], got["n_before"], got["mean_before"],
        got["mean_after"])))
    assert "one" not in by_t
    day, nb, mb, ma = by_t["step"]
    assert day == dt.datetime(2024, 1, 10) and nb == 10
    assert mb == 10.0 and ma == 50.0
    fday, fnb, fmb, fma = by_t["flat"]
    assert fday == dt.datetime(2024, 1, 1) and fnb == 1  # earliest-day tie
    assert fmb == 7.0 and fma == 7.0


def test_rbo_identical_rankings_hit_exactly_one(spark, tmp_path):
    """When the sign sketch ranks exactly like exact cosine (orthogonal
    one-hot vectors with distinct magnitudes make both rankings pure
    vec_id order), RBO must be EXACTLY 1.0 — the bit-exact
    reachability claim in the docstring (per-term floors match the
    normalizer's floors)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "rbo-ident"
    d.mkdir()
    vecs, ids = [], []
    # query 0 plus 12 candidates: candidate i shares one axis with the
    # query scaled so cosine strictly decreases with vec_id, while all
    # sketches are distinct one-hot patterns -> hamming ties broken by
    # vec_id = the same order
    for i in range(13):
        v = [0.0] * 64
        v[0] = 1.0
        if i > 0:
            v[i] = float(i)  # larger off-axis mass -> lower cosine to e0
        vecs.append(v)
        ids.append(i)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }),
        str(d / "embeddings.parquet"),
    )
    got = assert_parity(spark, "q_embed_rbo", str(d), ["embeddings"])
    row = {q: (c, r) for q, c, r in zip(
        got["qid"], got["n_common"], got["rbo"])}
    # for qid 0 both rankings are 1..10 by vec_id -> perfect agreement
    assert row[0] == (10, 1.0)


def test_minhash_est_identical_docs_score_exact_one(spark, tmp_path):
    """A pair of IDENTICAL docs must land in the n_matches=16 bucket
    with est 1.0, mean exact Jaccard 1.0 and zero error; two docs with
    NO shared shingle must produce no pair row at all."""
    d = tmp_path / "mhest"
    d.mkdir()
    twin = "alpha beta gamma delta eps zeta eta theta iota kappa"
    rows = [
        (0, twin, "en", "s", len(twin)),
        (1, twin, "en", "s", len(twin)),
        (2, "uno dos tres quatro cinco seis", "en", "s", 30),
    ]
    spark.createDataFrame(rows, _DOC_SCHEMA).write.mode(
        "overwrite"
    ).parquet(str(d / "documents.parquet"))
    got = assert_parity(spark, "q_dedup_minhash_est", str(d), ["documents"])
    assert got["n_matches"] == [16]
    assert got["est_jaccard"] == [1.0]
    assert got["n_pairs"] == [1]
    assert got["mean_exact"] == [1.0]
    assert got["mean_abs_err"] == [0.0]


def test_matryoshka_zero_prefix_vectors_degrade_recall(spark, tmp_path):
    """Vectors carrying NO mass in the leading 8 dims have NULL
    truncated cosine at d=8 (ranked NULLS LAST in both engines, counted
    AGAINST the truncation), while the d=64 row must report recall
    exactly 1.0 by construction."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "mrl"
    d.mkdir()
    vecs, ids = [], []
    for i in range(16):
        v = [0.0] * 64
        if i % 2 == 0:
            v[i % 8] = 1.0 + i  # mass in the prefix
        v[8 + (i * 3) % 56] = 2.0 + i  # mass outside the 8-dim prefix
        vecs.append(v)
        ids.append(i)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }),
        str(d / "embeddings.parquet"),
    )
    got = assert_parity(
        spark, "q_embed_matryoshka_eval", str(d), ["embeddings"]
    )
    by_d = dict(zip(got["trunc_dim"], got["mean_recall"]))
    assert by_d[64] == 1.0  # the sanity anchor
    assert by_d[8] < 1.0  # zero-prefix vectors cost the truncation


def test_ks_check_constant_column_is_zero_distance(spark, tmp_path):
    """A constant n_chars column makes sample and complement ECDFs
    identical at the single step: D must be exactly 0 and the flag
    must not fire — and parity must hold on the one-row output. The
    two disjoint sides must partition the 50 rows."""
    d = tmp_path / "ks-const"
    d.mkdir()
    rows = [(i, "t", "en", "s", 42) for i in range(50)]
    spark.createDataFrame(rows, _DOC_SCHEMA).write.mode(
        "overwrite"
    ).parquet(str(d / "documents.parquet"))
    got = assert_parity(spark, "q_sample_ks_check", str(d), ["documents"])
    assert got["ks_num"] == [0]
    assert got["ks_d"] == [0.0]
    assert got["reject"] == [False]
    assert got["n_sample"][0] + got["n_rest"][0] == 50


def test_equidepth_subnormal_ties_agree_across_engines(spark):
    """Regression pin for the r16 hypothesis find: two subnormal ties
    (5e-324) made Spark's Percentile (lo + (hi-lo)*f) and DuckDB's
    quantile_cont (lo*(1-f) + hi*f) place the p50 boundary on opposite
    sides of the value before the integer-cents interpolation fix —
    engine bucket 1 vs oracle bucket 2, a whole-row divergence. Cents
    interpolation puts both rows in bucket 1 in BOTH engines."""
    rows = [
        (i, 1, "O", 5e-324, dt.datetime(2024, 1, 1), "1-URGENT")
        for i in range(2)
    ]
    with staged(spark, orders=(rows, ORDERS)) as d:
        got = assert_parity(spark, "q_hist_equidepth", d, ["orders"])
    assert got["bucket"] == [1]
    assert got["n"] == [2]


def test_winsorize_half_cent_grid_agrees_across_engines(spark, tmp_path):
    """Regression pin for the r16 adversarial probe: a 21-value
    half-cent grid put the exact mean ON a rounding boundary, where
    Spark's decimal HALF_UP round(avg, 2) answered 10.01 and DuckDB's
    binary round 10.0. The exact-cents means (one IEEE division of
    BIGINT sums + the cents floor) are bit-identical; the band edges
    are integer cents so n_clipped is integer-deterministic."""
    rows = [
        (i, f"Customer#{i:09d}", 1, f"a{i}", "p", i + 0.005, "BUILDING", "c")
        for i in range(21)
    ]
    d = tmp_path / "wz-halfcent"
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey long, "
        "c_address string, c_phone string, c_acctbal double, "
        "c_mktsegment string, c_comment string",
    ).write.mode("overwrite").parquet(str(d / "customer.parquet"))
    got = assert_parity(spark, "q_winsorize", str(d), ["customer"])
    assert got["n"] == [21]
    assert got["n_clipped"] == [2]  # one row below p05, one above p95


def test_rerank_heap_boundary_ulp_ties_agree_across_engines(spark, tmp_path):
    """Adversarial pin for the rerank family's association-order
    assumption (ADVICE r16): the shortlist/rerank/truth edges rank RAW
    IEEE cosines, which is cross-engine-safe only because Spark's
    zip_with/aggregate fold and DuckDB's list_dot_product both sum
    strictly left-to-right over the SAME per-row array. This fixture
    makes the assumption load-bearing: 24 candidates are CYCLIC SHIFTS
    of one base vector with mixed magnitudes, so every candidate has
    the identical true dot product with the all-ones query and the
    float sums differ only by accumulated ulps — the rank-K boundary
    sits inside an ulp-dense near-tie band, plus four bit-identical
    copies forcing exact ties onto the vec_id tiebreak. A divergent
    summation order in either engine reorders the shortlist and fails
    the hash here before it can fail the driver."""
    base = [
        float(((j * 7 + 3) % 9 - 4) * 2.0 ** ((j % 11) - 5))
        for j in range(64)
    ]
    rows = [(0, [1.0] * 64, 0)]
    for i in range(24):  # cyclic shifts: same multiset, ulp-level sums
        rows.append((i + 1, [base[(j + i) % 64] for j in range(64)], 0))
    for i in range(4):  # exact ties: identical vectors, vec_id decides
        rows.append((25 + i, base, 0))
    d = tmp_path / "rerank-ulp"
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    got = assert_parity(spark, "q_sim_rerank", str(d), ["embeddings"])
    assert len(got["rnk"]) == 10  # the boundary heap filled
    got_grid = assert_parity(
        spark, "q_sim_rerank_grid", str(d), ["embeddings"]
    )
    assert got_grid["n_queries"] == [8] * len(got_grid["n_queries"])
    # the IVF probe curve shares the exposure at every edge — centroid
    # assignment, probe ranking, truth and per-level heaps all rank the
    # same near-tied cosines (the 16 "centroids" here ARE shifts of the
    # base vector, so assignment itself is an ulp-dense argmax)
    got_probe = assert_parity(
        spark, "q_sim_ivf_probe_curve", str(d), ["embeddings"]
    )
    by_probe = dict(zip(got_probe["nprobe"], got_probe["recall"]))
    assert by_probe[16] == 1.0  # full-scan anchor row holds
