"""Invariant tests on the smoke fixture — what the DuckDB oracle diff
cannot see: the oracle proves Spark equals the shared SQL, these prove
the shared spec is the intended algorithm (Pareto dominance, no feature
leakage, partitions that sum to their whole, ECDF identities,
brute-force agreement)."""

from __future__ import annotations

from collections import defaultdict

import numpy as np
from pyspark.sql import functions as F

from spring_and_kafka_spark.llm.multimodal import q_multimodal_dedup
from spring_and_kafka_spark.llm.text import q_text_zipf
from spring_and_kafka_spark.operators.aggregates import (
    q_agg_corr,
    q_hist_equiwidth,
)
from spring_and_kafka_spark.operators.analytics import (
    q_basket_pairs,
    q_merge_upsert,
    q_rfm,
    q_skyline,
)
from spring_and_kafka_spark.operators.graph import q_graph_triangles
from spring_and_kafka_spark.operators.timeseries import q_join_pit
from spring_and_kafka_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def _dominates(a, b):
    """(price, size): a no worse on both, strictly better on one."""
    return (
        a.p_retailprice <= b.p_retailprice
        and a.p_size >= b.p_size
        and (a.p_retailprice < b.p_retailprice or a.p_size > b.p_size)
    )


def test_skyline_is_exact_pareto_frontier(spark):
    parts = load_table(spark, SF_SMOKE, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    ).collect()
    sky = q_skyline(spark, SF_SMOKE).collect()
    sky_keys = {r.p_partkey for r in sky}
    # soundness: no skyline member is dominated by anyone
    for s in sky:
        assert not any(_dominates(p, s) for p in parts if p.p_partkey != s.p_partkey)
    # completeness: every excluded part is dominated by a skyline member
    for p in parts:
        if p.p_partkey not in sky_keys:
            assert any(_dominates(s, p) for s in sky)


def test_triangles_match_bruteforce(spark):
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct().collect()
    by_order = defaultdict(set)
    for r in li:
        by_order[r.l_orderkey].add(r.l_partkey)
    pair_orders = defaultdict(int)
    for parts in by_order.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pair_orders[(ps[i], ps[j])] += 1
    edges = {p for p, n in pair_orders.items() if n >= 2}
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)  # oriented by id: u < v
    brute = sum(
        1
        for u, v in edges
        for w in adj[v]
        if w in adj[u]
    )
    row = q_graph_triangles(spark, SF_SMOKE).collect()[0]
    assert row.n_edges == len(edges)
    assert row.n_triangles == brute


def test_pit_join_has_no_feature_leakage(spark):
    """Every enriched click must carry the value of the max-(ts, event_id)
    purchase/view STRICTLY before it — never a concurrent or later one."""
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    ).collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append(r)
    expected = {}
    for user, rows in by_user.items():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        last = {"purchase": None, "view": None}
        for r in rows:
            if r.event_type == "click":
                expected[r.event_id] = (last["purchase"], last["view"])
            if r.event_type in last:
                last[r.event_type] = r.value
    out = q_join_pit(spark, SF_SMOKE).collect()
    assert len(out) == len(expected)
    for r in out:
        assert (r.last_purchase_value, r.last_view_value) == expected[r.event_id]


def test_rfm_scores_partition_customers(spark):
    rows = q_rfm(spark, SF_SMOKE).collect()
    n_cust = (
        load_table(spark, SF_SMOKE, "orders").select("o_custkey").distinct().count()
    )
    assert sum(r.n_customers for r in rows) == n_cust
    for r in rows:
        assert 1 <= r.r_score <= 4 and 1 <= r.f_score <= 4 and 1 <= r.m_score <= 4


def test_merge_upsert_statuses(spark):
    rows = q_merge_upsert(spark, SF_SMOKE).collect()
    by_status = defaultdict(int)
    for r in rows:
        by_status[r.status] += 1
    n_cust = load_table(spark, SF_SMOKE, "customer").count()
    n_with_orders = (
        load_table(spark, SF_SMOKE, "orders").select("o_custkey").distinct().count()
    )
    assert by_status["inserted"] == 10
    assert by_status["updated"] == n_with_orders
    assert by_status["unchanged"] == n_cust - n_with_orders
    assert len({r.c_custkey for r in rows}) == len(rows)  # key is unique


def test_basket_pairs_are_ordered_and_repeated(spark):
    rows = q_basket_pairs(spark, SF_SMOKE).collect()
    assert len(rows) <= 20
    for r in rows:
        assert r.p1 < r.p2
        assert r.n_orders >= 2
    counts = [r.n_orders for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_histogram_shares_sum_to_one(spark):
    rows = q_hist_equiwidth(spark, SF_SMOKE).collect()
    assert all(0 <= r.bucket <= 11 for r in rows)
    assert all(r.hi - r.lo == 50000 for r in rows)
    assert abs(sum(r.share for r in rows) - 1.0) < 0.01  # 4-dp rounding slack
    n_orders = load_table(spark, SF_SMOKE, "orders").count()
    assert sum(r.n for r in rows) == n_orders


def test_zipf_slope_is_negative(spark):
    row = q_text_zipf(spark, SF_SMOKE).collect()[0]
    assert row.n_terms > 0
    assert row.zipf_slope < 0  # frequency falls with rank, always
    assert 0.0 <= row.zipf_r2 <= 1.0


def test_corr_bounded(spark):
    rows = q_agg_corr(spark, SF_SMOKE).collect()
    for r in rows:
        assert -1.0 <= r.price_qty_corr <= 1.0


def test_multimodal_dedup_groups(spark):
    rows = q_multimodal_dedup(spark, SF_SMOKE).collect()
    assert rows, "planted copies must produce duplicate groups"
    docs = load_table(spark, SF_SMOKE, "documents")
    planted = docs.filter(F.col("doc_id") % 20 == 0).count()
    # every planted copy collapses into a group with its original
    assert sum(r.n_copies - 1 for r in rows) >= planted
    for r in rows:
        assert r.n_copies >= 2
        assert len(r.content_hash) == 64


def test_incremental_dedup_rejects_planted_copies(spark):
    """Each planted perturbation (doc_id+100000, last token dropped) must
    be rejected against ITS OWN original when their Jaccard clears the
    threshold — and every match the operator reports must be an
    old-corpus doc (no new-vs-new leakage into the decision)."""
    from spring_and_kafka_spark.llm.dedup import q_dedup_incremental

    rows = q_dedup_incremental(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents").count()
    assert len(rows) == docs  # one admission row per new doc
    rejected = [r for r in rows if r.rejected]
    assert rejected, "planted near-copies must be caught"
    for r in rejected:
        assert r.match_id < 100000  # matches point at the existing corpus
        assert r.jaccard >= 0.6
    # most perturbed docs match their own source (dropping one token
    # keeps J >= 0.6 except for very short docs)
    own = sum(1 for r in rejected if r.match_id == r.new_id - 100000)
    assert own / len(rejected) > 0.9


def test_vocab_coverage_bounds(spark):
    from spring_and_kafka_spark.llm.text import q_text_vocab_coverage

    rows = q_text_vocab_coverage(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents").count()
    assert len(rows) == docs
    for r in rows:
        if r.n_tokens > 0:
            assert 0.0 <= r.oov_rate <= 1.0
        else:
            assert r.oov_rate is None


def test_weighted_avg_within_brand_price_range(spark):
    from spring_and_kafka_spark.operators.aggregates import q_agg_weighted

    rows = q_agg_weighted(spark, SF_SMOKE).collect()
    li = load_table(spark, SF_SMOKE, "lineitem")
    p = load_table(spark, SF_SMOKE, "part").select("p_partkey", "p_brand")
    bounds = {
        r.p_brand: (r.lo, r.hi)
        for r in li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
        .collect()
    }
    for r in rows:
        lo, hi = bounds[r.p_brand]
        assert lo - 0.01 <= r.wavg_price <= hi + 0.01


def test_provenance_accounts_for_every_doc(spark):
    from spring_and_kafka_spark.llm.corpus_ops import q_corpus_provenance

    rows = q_corpus_provenance(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(r.n_docs for r in rows) == docs
    for r in rows:
        assert 0.0 <= r.dup_rate <= 1.0
        assert r.n_langs >= 1


def test_agg_string_roster_is_sorted(spark):
    from spring_and_kafka_spark.operators.aggregates import q_agg_string

    rows = q_agg_string(spark, SF_SMOKE).collect()
    for r in rows:
        names = r.nations.split(",")
        assert names == sorted(names)
        assert len(names) == r.n_nations


def test_unpivot_roundtrips_the_wide_table(spark):
    from spring_and_kafka_spark.operators.aggregates import q_unpivot

    rows = q_unpivot(spark, SF_SMOKE).collect()
    flags = {r.l_returnflag for r in rows}
    assert len(rows) == 3 * len(flags)  # every flag carries all 3 metrics
    by_flag = defaultdict(dict)
    for r in rows:
        by_flag[r.l_returnflag][r.metric] = r.value
    for flag, m in by_flag.items():
        assert set(m) == {"sum_qty", "n_lines", "n_orders"}
        assert m["n_lines"] >= m["n_orders"]  # >=1 line per order


def test_skyline_keeps_equal_ties_and_handles_degenerate_inputs(spark):
    """Synthetic corners the fixture can't hit: exact (price, size) twins
    on the frontier must BOTH survive (equal-on-both never dominates);
    same-price different-size keeps only the max; a single row is its
    own frontier; bucket boundaries don't split a price group."""
    from spring_and_kafka_spark.operators.analytics import pareto_frontier

    rows = [
        # frontier twins: identical (10.0, 50) — both must survive
        (1, 10.0, 50),
        (2, 10.0, 50),
        # same price, smaller size: dominated by the twins
        (3, 10.0, 40),
        # cheaper but much smaller: on the frontier
        (4, 5.0, 30),
        # pricier and bigger: on the frontier
        (5, 250.0, 60),
        # pricier and not bigger: dominated (across bucket boundary)
        (6, 250.0, 50),
        # dominated on both by row 4
        (7, 6.0, 20),
    ]
    df = spark.createDataFrame(rows, "k LONG, price DOUBLE, size INT")
    sky = sorted(
        (r.k for r in pareto_frontier(
            df, key="k", minimize="price", maximize="size"
        ).collect())
    )
    assert sky == [1, 2, 4, 5]
    single = spark.createDataFrame([(9, 1.0, 1)], "k LONG, price DOUBLE, size INT")
    assert [
        r.k
        for r in pareto_frontier(
            single, key="k", minimize="price", maximize="size"
        ).collect()
    ] == [9]


def test_streak_matches_bruteforce(spark):
    from spring_and_kafka_spark.operators.windows import q_win_streak

    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append(r)
    expected = {}
    for user, rows in by_user.items():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        best, cur, cur_type = {}, 0, None
        for r in rows:
            cur = cur + 1 if r.event_type == cur_type else 1
            cur_type = r.event_type
            best[cur_type] = max(best.get(cur_type, 0), cur)
        top = min(
            best.items(), key=lambda kv: (-kv[1], len(kv[0]), kv[0])
        )
        expected[user] = (top[0], top[1])
    got = {
        r.user_id: (r.top_type, r.longest_streak)
        for r in q_win_streak(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_trend_slope_sign_on_monotone_series(spark):
    """Every returned slope is finite; manually verify one user's first
    full frame against numpy's lstsq on the same integer encoding."""
    import numpy as np
    from spring_and_kafka_spark.operators.windows import q_win_trend

    rows = q_win_trend(spark, SF_SMOKE).collect()
    assert rows
    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "value"
    ).collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append(r)
    r0 = min(rows, key=lambda r: (r.user_id, r.event_id))
    series = sorted(by_user[r0.user_id], key=lambda r: (r.ts, r.event_id))
    frame = series[:8]
    assert frame[-1].event_id == r0.event_id  # first full frame ends here
    epoch = 1704067200
    x = np.array([int(r.ts.timestamp()) - epoch for r in frame], dtype=float)
    y = np.array([np.floor(r.value * 100 + 0.5) / 100.0 for r in frame])
    slope = np.polyfit(x, y, 1)[0]
    assert abs(slope - r0.slope) < 1e-4


def test_seq_pattern_matches_bruteforce(spark):
    from spring_and_kafka_spark.operators.analytics import q_seq_pattern

    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append(r)
    expected = {}
    for user, rows in by_user.items():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        for i, r in enumerate(rows):
            if r.event_type != "signup":
                continue
            # binding purchase = the FIRST one with >=2 clicks after
            # the signup (not merely the first purchase); emitted only
            # when it lands inside the 7-day window
            clicks, bound, bound_clicks = 0, None, 0
            for nxt in rows[i + 1:]:
                if nxt.event_type == "click":
                    clicks += 1
                elif nxt.event_type == "purchase" and clicks >= 2:
                    bound, bound_clicks = nxt, clicks
                    break
            matched = (
                bound is not None
                and (bound.ts - r.ts).total_seconds() <= 7 * 86400
            )
            expected[r.event_id] = (
                bound.event_id if matched else None,
                bound_clicks if matched else 0,
                matched,
            )
    got = {
        r.signup_event: (r.purchase_event, r.clicks_between, r.matched)
        for r in q_seq_pattern(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert any(v[2] for v in expected.values())  # pattern completes somewhere
