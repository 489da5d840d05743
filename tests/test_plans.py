"""Physical-plan audits (the .explain('formatted') discipline): assert the
optimizations the 100 TB design depends on are actually in the plan —
filter pushdown, column pruning, broadcast joins, top-k without global
sort, rank-filter pushdown into windows, no cartesian products."""

from __future__ import annotations

import pytest

from spring_and_kafka_spark import registry
from spring_and_kafka_spark.plans import broadcast_scans, formatted_plan

from .conftest import SF_SMOKE

SPECS = registry.all_specs()


def plan(spark, name: str) -> str:
    return formatted_plan(SPECS[name].fn(spark, SF_SMOKE))


def test_filter_pushdown_reaches_parquet(spark):
    # string/key predicates (untouched by the float contract) must keep
    # full parquet pushdown — the pushdowns that actually skip row
    # groups at 100 TB (dictionary/min-max on low-cardinality strings,
    # sorted keys, dates)
    p = plan(spark, "q_filter_in")
    assert "In(o_orderpriority" in p.split("ReadSchema")[0]
    assert "IsNotNull(o_orderstatus)" in p


def test_filter_pushdown_double_contract(spark):
    # Predicates on contract-normalized double columns (l_quantity,
    # l_discount) sit ABOVE the finite-or-null projection since r10
    # (sources/tables.py:_enforce_float_contract), so they are no
    # longer parquet-pushed. The pinned trade: the filter stays FUSED
    # in the scan stage (same codegen span, single pass), the scan is
    # still pruned to the needed columns, and the contract adds zero
    # exchanges. Min/max skipping on unsorted doubles was marginal;
    # losing it buys NaN-free semantics for all 226 operators
    # (NANCHECK: 39 misbehaved on raw NaN).
    p = plan(spark, "q_filter_cmp")
    assert p.count("Exchange") == 0
    filt = [ln for ln in p.splitlines() if ln.strip().startswith("(") and "Filter" in ln]
    assert filt and all("codegen id : 1" in ln for ln in filt)
    assert "l_comment" not in p  # pruning survives the projection


def test_column_pruning(spark):
    p = plan(spark, "q_project")
    # only the 5 needed columns in ReadSchema, not all 11
    assert "l_comment" not in p
    assert "ReadSchema" in p and "l_returnflag" not in p.split("ReadSchema")[1]


def test_broadcast_join_is_broadcast(spark):
    p = plan(spark, "q_join_broadcast")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_star_join_broadcasts_dims(spark):
    p = plan(spark, "q_join_multi")
    assert "BroadcastHashJoin" in p


def test_limit_plans_topk_not_global_sort(spark):
    p = plan(spark, "q_limit")
    assert "TakeOrderedAndProject" in p


def test_topk_per_group_pushes_rank_limit(spark):
    p = plan(spark, "q_topk_per_group")
    assert "WindowGroupLimit" in p  # rank filter pushed into the window


def test_no_cartesian_in_equi_joins(spark):
    for name in ["q_join_inner", "q_join_left", "q_join_semi", "q_join_anti"]:
        assert "CartesianProduct" not in plan(spark, name), name


def test_agg_has_partial_phase(spark):
    p = plan(spark, "q_agg_group")
    assert "HashAggregate" in p
    assert "Exchange" in p  # partial → exchange → final


def test_asof_join_is_single_window_pass(spark):
    p = plan(spark, "q_join_asof")
    # no join blow-up: the asof is union + one window (single Exchange of
    # the unioned stream), not Join + rank
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    assert p.count("Window") >= 1


def test_scan_only_text_ops_have_zero_exchanges(spark):
    # q_text_repetition and q_text_redact claim to be pure projections
    # over the scan — any Exchange in their plan means a regression
    for name in ("q_text_repetition", "q_text_redact"):
        p = plan(spark, name)
        assert "Exchange" not in p, f"{name} plans a shuffle"


def test_stratified_hash_sample_is_filter_plus_single_agg(spark):
    # one partial/final agg pair (single shuffle), no join, no sort
    from spring_and_kafka_spark.plans import count_shuffles

    df = SPECS["q_sample_stratified_hash"].fn(spark, SF_SMOKE)
    assert count_shuffles(df) <= 1
    p = plan(spark, "q_sample_stratified_hash")
    assert "Join" not in p and "Sort" not in p


def test_sessionize_single_shuffle(spark):
    # lag window, running-sum window, (user, sess) agg and per-user agg all
    # reuse ONE hash partitioning on user_id — HashPartitioning(user_id)
    # satisfies ClusteredDistribution(user_id, sess_id), so EnsureRequirements
    # inserts exactly one Exchange for the whole pipeline
    from spring_and_kafka_spark.plans import count_shuffles

    df = SPECS["q_sessionize"].fn(spark, SF_SMOKE)
    assert count_shuffles(df) == 1


def test_corpus_split_is_scan_plus_single_agg(spark):
    # split tag is a projection over the scan; one shuffle for the final agg
    from spring_and_kafka_spark.plans import count_shuffles

    df = SPECS["q_corpus_split"].fn(spark, SF_SMOKE)
    assert count_shuffles(df) <= 1


def test_framesample_plan_has_no_shuffle(spark):
    from spring_and_kafka_spark.plans import count_shuffles

    df = SPECS["q_multimodal_framesample"].fn(spark, SF_SMOKE)
    assert count_shuffles(df) == 0


def test_text_chunk_is_pure_narrow_work(spark):
    # tokenize → sequence → explode: no shuffle, no UDF, no join
    from spring_and_kafka_spark.plans import count_shuffles

    df = SPECS["q_text_chunk"].fn(spark, SF_SMOKE)
    assert count_shuffles(df) == 0
    p = plan(spark, "q_text_chunk")
    assert "Join" not in p


def test_decontaminate_bench_side_broadcasts(spark):
    # the test-split gram set must reach the train side as a broadcast,
    # never a shuffled join of the corpus
    p = plan(spark, "q_decontaminate")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_weighted_agg_broadcasts_dim_and_prunes(spark):
    p = plan(spark, "q_agg_weighted")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    # lineitem scan reads only the 3 needed columns
    assert "l_shipdate" not in p


def test_pit_join_is_one_window_pass(spark):
    """The multi-feature PIT join must NOT plan as N range joins — one
    user-partitioned window, no join operator at all."""
    p = plan(spark, "q_join_pit")
    assert "Join" not in p
    assert p.count("Exchange") <= 2  # one hash partition (+AQE read)


def test_basket_pairs_topk_no_global_sort(spark):
    p = plan(spark, "q_basket_pairs")
    assert "TakeOrderedAndProject" in p


def test_vocab_coverage_broadcasts_vocab(spark):
    p = plan(spark, "q_text_vocab_coverage")
    assert "BroadcastHashJoin" in p


def test_unpivot_uses_expand_not_union(spark):
    p = plan(spark, "q_unpivot")
    assert "Expand" in p
    assert "Union" not in p


def test_profile_is_single_scan_with_expand(spark):
    """q_profile computes every per-column statistic in ONE pass: the
    multi-distinct agg plans as Expand over a single parquet scan — not
    the per-column UNION-ALL rescan the DuckDB oracle runs. (formatted
    plans list each node twice: tree + details.)"""
    p = plan(spark, "q_profile")
    assert "Expand" in p
    assert p.count("Scan parquet") <= 2  # one logical scan of events


def test_ts_mad_broadcasts_tiny_stats(spark):
    """Per-type median/MAD stats join back to the fact table as
    broadcasts — the fact side never sort-merge shuffles for the join."""
    p = plan(spark, "q_ts_mad")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_quantile_sketch_descent_join_is_hashed(spark):
    """The bucket→within-bucket rank descent joins on (digits, first2)
    equi-keys: BroadcastHashJoin with the range predicate as a residual —
    never a cartesian. The only nested-loop is the deliberate 3-row
    quantile-literal broadcast cross."""
    p = plan(spark, "q_agg_quantile_sketch")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_inverted_index_reuses_term_partitioning(spark):
    """tf groupBy, the per-term windows, and the final posting groupBy all
    key on term — one wide shuffle family, no join, no extra exchange for
    the final aggregate (2 logical exchanges, listed twice)."""
    p = plan(spark, "q_text_inverted_index")
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    assert p.count("Exchange") <= 4


def test_cusum_is_one_shuffle_no_join(spark):
    """The clamp-recurrence rewrite runs as two stacked windows on the
    SAME event_type partitioning: one logical exchange, no join, no
    single-partition window over the data."""
    p = plan(spark, "q_ts_cusum")
    assert "Join" not in p
    assert p.count("Exchange") <= 2  # listed twice (tree + details)


def test_share_of_total_broadcasts_all_dims(spark):
    p = plan(spark, "q_share_of_total")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_bloom_probe_joins_are_broadcast(spark):
    """Both the bit-membership probe and the exact-side flags join
    against broadcast-sized tables — the probe side never sort-merge
    shuffles, which is the entire point of a bloom pre-filter."""
    p = plan(spark, "q_join_bloom")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_balanced_sample_uses_group_limit_heap(spark):
    """The per-stratum cap must plan as WindowGroupLimit (a 60-row heap
    per stratum), not a full sort of each stratum."""
    p = plan(spark, "q_sample_balanced")
    assert "WindowGroupLimit" in p


def test_er_blocking_is_equi_join_on_block_key(spark):
    """Blocked ER must plan an equi join on (blk, nation) — the
    candidate bound comes from blocking, so a CartesianProduct or
    BroadcastNestedLoop here would mean all-pairs at 100 TB."""
    p = plan(spark, "q_er_blocking")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_winsorize_broadcasts_percentile_band(spark):
    """The per-segment [p05, p95] band is one tiny row per segment —
    it must broadcast back over the fact scan, never shuffle it."""
    p = plan(spark, "q_winsorize")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_attribution_is_one_user_shuffle_window(spark):
    """Last-touch attribution is a running window over each user's
    stream plus a rollup — no join, no self-scan-back."""
    p = plan(spark, "q_attribution")
    assert "Join" not in p
    assert "Window" in p


def test_join_overlap_pairs_via_bucket_equi_join(spark):
    """The interval-overlap pairing must be an equi join on the hour
    bucket (plus the left join back); the quadratic shape lives only
    in the oracle."""
    p = plan(spark, "q_join_overlap")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_autocorr_lag_pairing_is_equi_join(spark):
    """The lag-k pairing is an equi join on the shifted date key; the
    only nested-loop allowed is the 7-row broadcast of the lag table."""
    p = plan(spark, "q_ts_autocorr")
    assert "CartesianProduct" not in p
    # day-key pairing must not degenerate to a nested loop over days:
    # exactly the one lag-table broadcast nested loop may appear
    # (each node prints twice: plan tree + details section)
    assert p.count("BroadcastNestedLoopJoin") <= 2
    assert "BroadcastHashJoin" in p


def test_benford_prunes_to_single_column(spark):
    p = plan(spark, "q_benford")
    assert "o_orderdate" not in p and "o_custkey" not in p
    # o_totalprice is a contract-normalized double (r10): its >= 1
    # predicate rides above the fused finite-or-null projection instead
    # of the parquet reader; the scan must still read ONLY that column
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read and all("o_totalprice" in ln for ln in read)
    # pre-contract shape preserved: 3 shuffles (digit agg + total-count
    # branch) + 1 broadcast for the scalar total — the fused projection
    # must not add an exchange
    shuffles = {
        ln.strip() for ln in p.splitlines()
        if ln.strip().startswith("(") and ln.strip().endswith("Exchange")
    }
    assert len(shuffles) <= 4, shuffles


def test_zonemap_audit_prunes_columns_no_sort(spark):
    # the skipping audit must itself be skinny: scan only the two
    # columns it bins on, and never globally sort the fact table
    p = plan(spark, "q_zonemap_prune")
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    # exactly ONE fact scan (explode-then-group, not one scan per
    # layout), reading only the binning columns
    assert len(read) == 1
    assert "l_extendedprice" not in read[0] and "l_quantity" not in read[0]
    assert "l_shipdate" in read[0]


def test_zorder_bounds_come_via_broadcast(spark):
    # the scalar min/max frame must broadcast (1 row), never shuffle the
    # orders table against it
    p = plan(spark, "q_zorder_layout")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_snapshot_diff_is_single_key_partitioned_join(spark):
    p = plan(spark, "q_snapshot_diff")
    assert "FullOuter" in p
    assert "CartesianProduct" not in p


def test_geo_nearest_is_cell_equi_join_no_cartesian(spark):
    # candidate generation must join on grid-cell equality (the 3×3
    # replication), never cross all points; the argmin is a rank-limit
    # window, not a global sort of the pair set
    p = plan(spark, "q_geo_nearest")
    assert "CartesianProduct" not in p
    assert "WindowGroupLimit" in p or "Window" in p
    # symmetrization is an explode of the verified pairs, NOT a
    # self-union of the pair subplan: the 9×-replicated candidate join
    # must appear in the physical plan exactly ONCE (geo.py
    # nearest_within docstring — a union would execute it twice)
    import re

    assert len(re.findall(r"\(\d+\) \w*Join", p)) == 1
    assert "Union" not in p


def test_text_entropy_single_scan_two_shuffles(spark):
    # ONE corpus scan (the totals window reads the counted type table,
    # never a second scan+explode), no join at all, and only the count
    # shuffle + the per-source window shuffle
    from spring_and_kafka_spark.plans import count_shuffles

    df = SPECS["q_text_entropy"].fn(spark, SF_SMOKE)
    assert count_shuffles(df) <= 2
    p = formatted_plan(df)
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert len(read) == 1
    assert "Join" not in p


def test_embed_dim_stats_is_one_partial_agg(spark):
    # one exploded scan, one map-side-combined aggregate on the 64-value
    # dim key: exactly one shuffle, no join, no sort
    from spring_and_kafka_spark.plans import count_shuffles

    df = SPECS["q_embed_dim_stats"].fn(spark, SF_SMOKE)
    assert count_shuffles(df) == 1
    p = formatted_plan(df)
    assert "Join" not in p
    assert "partial_" in p  # map-side combine present


def test_dq_freshness_prunes_event_columns(spark):
    # the audit reads ts/user_id/value only — props (the widest column)
    # must be pruned from the scan
    p = plan(spark, "q_dq_freshness")
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert len(read) == 1
    assert "props" not in read[0]
    assert "event_type" not in read[0]


def test_compaction_plan_two_phase_aggs_integer_div(spark):
    # the r9 pin (VERDICT r8 item 7), now the row is driver-green: two
    # TWO-PHASE aggregations (files from documents, bins from files —
    # partial+final each = 4 HashAggregates), ONE window (the next-fit
    # running sum over the file manifest — single partition is fine:
    # the manifest is metadata-sized, documented in the docstring), no
    # join anywhere, and bin_id computed with integer `div` (the r9
    # ADVICE fix — floor(double /) diverges from the oracle's // above
    # ~4.5 PB cumulative manifest bytes)
    p = plan(spark, "q_compaction_plan")
    assert p.count(") HashAggregate") == 4  # node headers, not tree rows
    assert p.count(") Window\n") == 1
    assert "Join" not in p and "CartesianProduct" not in p
    assert "div 10000" in p  # integer DIV, both bin_id and fill_bp
    assert "FLOOR" not in p.upper()


def test_null_payload_filters_push_to_scan(spark):
    # the r9 NULL-payload contract must cost nothing on dense data: the
    # IS NOT NULL admission filters are parquet-pushed predicates
    # (row-group statistics skip), not post-scan Filter nodes — for
    # every column NOT covered by the r10 float contract. embedding IS
    # contract-normalized (non-finite vector → NULL), so its admission
    # filter now sits above the fused projection; the key-column push
    # (IsNotNull(vec_id)) and the two-column pruned scan must survive.
    p = plan(spark, "q_sim_pairwise")
    assert "IsNotNull(vec_id)" in p.split("ReadSchema")[0]
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read and all("vec_id" in ln and "embedding" in ln for ln in read)
    p = plan(spark, "q_text_contamination")
    assert "IsNotNull(text)" in p.split("ReadSchema")[0]


def test_cluster_purity_broadcasts_centroids_no_cartesian_blowup(spark):
    # the IVF assignment must be a broadcast nested loop over the
    # 16-row centroid table (argmax via one partial agg), never a
    # shuffled product; the confusion-sized rollup shuffles only the
    # (cluster, label) aggregate
    p = plan(spark, "q_embed_cluster_purity")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_length_filter_quantiles_broadcast_back(spark):
    # pass 2 (outlier counts) joins the lang-cardinality quantile table
    # back by BROADCAST — the fact side is never re-shuffled for it
    p = plan(spark, "q_text_length_filter")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_js_shift_is_one_corpus_scan_stacked_windows(spark):
    # corpus totals come from stacked windows over the ONE count table:
    # exactly one parquet scan (the groupBy+join-back form re-derived
    # the scan+explode on the corpus side), no join, no product
    import re

    p = plan(spark, "q_text_js_shift")
    # formatted explain prints each node twice (tree + detail header);
    # count the numbered detail headers
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 1
    assert "CartesianProduct" not in p
    assert "Join" not in p
    # the documents scan prunes to (source, text): no doc_id in any scan
    for seg in p.split("ReadSchema")[1:]:
        assert "doc_id" not in seg.split("\n")[0]


def test_tpch_q2_broadcasts_dims_prunes_before_agg(spark):
    # the broadcast part filter must prune lineitem BEFORE the
    # (partkey, suppkey) aggregation — the only big shuffle carries
    # selected parts' lines only; supplier/nation/region broadcast;
    # the min-window partitions by part (no global sort/product)
    p = plan(spark, "q_tpch_q2")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    import re

    # the part-filter join sits below the first Exchange in the
    # lineitem branch: no SortMergeJoin anywhere in this plan
    assert "SortMergeJoin" not in p
    # window partitions by part key — never an empty PARTITION BY
    w = [ln for ln in p.splitlines() if "windowspecdefinition" in ln.lower()]
    assert w and all("l_partkey" in ln for ln in w)


@pytest.mark.parametrize("name", ["q_tpch_q5", "q_tpch_q3", "q_tpch_q10"])
def test_tpch_q5_broadcasts_dims_never_lineitem(spark, name):
    # lineitem is the fact side: it must stream, never be collected into
    # a broadcast. Without CBO a customer⋈orders join is sized as the
    # product of its inputs, so joining those two first made lineitem
    # look like the small side. The hinted supplier/nation/region and
    # the filtered orders and customer are the broadcast sides.
    shipped = broadcast_scans(SPECS[name].fn(spark, SF_SMOKE))
    tables = [{path.rsplit("/", 1)[-1] for path in b} for b in shipped]
    if name == "q_tpch_q5":
        assert {"supplier.parquet"} in tables and {"region.parquet"} in tables
    assert all("lineitem.parquet" not in t for t in tables), tables


def test_tpch_q11_single_fact_shuffle_scalar_broadcast(spark):
    # supplier/nation/region broadcast; ONE map-side-combined groupBy
    # on l_partkey; the threshold is a broadcast nested-loop of a
    # 1-row aggregate, not a shuffle or a cartesian blowup
    p = plan(spark, "q_tpch_q11")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 2  # partial + final on l_partkey
    # fact columns pruned: no l_quantity/l_tax in any scan schema
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "l_tax" not in head and "l_comment" not in head


def test_tpch_q12_year_filter_pushes_groupby_combines(spark):
    # the ship-year filter reaches the lineitem scan (timestamp
    # min/max row-group skipping is the real 100 TB lever here) and
    # the 4-key groupBy is map-side combinable (partial+final)
    p = plan(spark, "q_tpch_q12")
    assert "CartesianProduct" not in p
    before_schema = p.split("ReadSchema")[0]
    assert "l_shipdate" in before_schema and "PushedFilters" in p
    import re

    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m and "l_shipdate" in m.group(1)
    assert p.count("HashAggregate") >= 2


def test_graph_cc_lineage_cut_no_cartesian(spark):
    # the returned plan hangs off the LAST materialized label round: a
    # lineage-cut scan (localCheckpoint in local mode), a map-side
    # combined groupBy, and nothing else — per-round lineage must NOT
    # accumulate into the final plan (the iterative discipline of
    # pagerank/dedup-CC)
    import re

    p = plan(spark, "q_graph_cc")
    assert "CartesianProduct" not in p
    assert "Scan ExistingRDD" in p  # the checkpointed labels
    # count detail headers, not tree echoes (the adf1286 lesson):
    # exactly partial + final of the component-size count
    assert len(re.findall(r"^\(\d+\) HashAggregate", p, re.M)) == 2
    assert "Join" not in p  # all joins happened inside the loop rounds


def test_embed_outlier_double_broadcast_no_vector_shuffle(spark):
    # both the centroid table and the per-label stats broadcast back;
    # the only exchanges are the tiny exploded-avg aggregations — the
    # full-width vector rows are never shuffled
    p = plan(spark, "q_embed_outlier")
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_hist_equidepth_boundary_broadcast_single_fact_pattern(spark):
    # the 1-row octile boundary aggregate rides back via
    # BroadcastNestedLoopJoin (a 1-row broadcast, not a shuffle);
    # bucket assignment is a projection; the groupBy reduces to <=9
    # rows before the share window
    p = plan(spark, "q_hist_equidepth")
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p
    # orders scan prunes to the price column (+ nothing else)
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "o_orderdate" not in head and "o_orderpriority" not in head


def test_ldiversity_distinct_expands_two_level(spark):
    # count(DISTINCT) over the joined spine must plan as the two-level
    # expand aggregate with map-side partials; scans prune to the 4
    # needed columns
    p = plan(spark, "q_ldiversity")
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 3
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "o_totalprice" not in head and "c_acctbal" not in head


def test_rolling_median_window_partitioned_after_day_agg(spark):
    # one map-side-combined groupBy onto (type, day), then the window
    # partitions by event_type — never an empty PARTITION BY; scans
    # prune to the three needed columns
    p = plan(spark, "q_win_rolling_median")
    assert "CartesianProduct" not in p
    w = [ln for ln in p.splitlines() if "windowspecdefinition" in ln.lower()]
    assert w and all("event_type" in ln for ln in w)
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "props" not in head and "user_id" not in head


def test_theilsen_pairs_over_aggregate_broadcast(spark):
    # the pair expansion self-joins the (type, day) AGGREGATE via
    # broadcast hash join on the type key (day < day as the residual
    # condition) — never a cartesian product, never raw events
    p = plan(spark, "q_ts_theilsen")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_graph_kcore_lineage_cut_no_join_in_final_plan(spark):
    # the returned plan is a projection over the LAST materialized
    # alive set (localCheckpoint in local mode) — per-round peel
    # lineage must NOT accumulate into it (the q_graph_cc discipline)
    p = plan(spark, "q_graph_kcore")
    assert "CartesianProduct" not in p
    assert "Scan ExistingRDD" in p  # the checkpointed alive set
    assert "Join" not in p  # all joins happened inside the peel rounds


def test_ts_stl_residual_all_stats_broadcast_no_self_join(spark):
    # the (type, dow) seasonal profile, the medians, and the MADs all
    # ride back as broadcast joins; the fact table never sort-merge
    # joins or self-joins, and the scan prunes to the 3 needed columns
    p = plan(spark, "q_ts_stl_residual")
    assert p.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "props" not in head and "event_id" not in head


def test_text_script_mix_zero_shuffles_pruned_scan(spark):
    # a pure per-row projection: no exchange at all, and the documents
    # scan prunes to (doc_id, lang, text)
    p = plan(spark, "q_text_script_mix")
    assert p.count("Exchange") == 0
    assert "Join" not in p
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "n_chars" not in head and "source" not in head


def test_udf_udtf_filter_pushed_python_node_bounded(spark):
    # the p_partkey < 500 filter reaches the parquet scan BELOW the
    # Python UDTF node, so only the bounded slice crosses the Python
    # boundary; the lateral join itself must not plan as a cartesian
    # of table x function output
    p = plan(spark, "q_udf_udtf")
    import re

    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m and "p_partkey" in m.group(1)
    assert "EvalPythonUDTF" in p
    assert "CartesianProduct" not in p


def test_graph_jaccard_wedge_join_no_cartesian_pruned(spark):
    # candidate pairs expand in-array from the grouped per-center
    # adjacency (r18: ONE materialized groupBy(src).collect_set —
    # degree is the array size, the r14 hub cap is the size filter, so
    # wedge fan-out is structurally bounded with no self-join and no
    # LeftSemi; the r17 audit had the degree agg planned 4x under the
    # old shape) — never an all-pairs product; no lineitem scan should
    # survive into the returned plan at all (everything hangs off the
    # two checkpoints)
    p = plan(spark, "q_graph_jaccard")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "size(ds" in p  # the in-array cap filter + degree projection
    assert "Scan parquet" not in p  # tail reads only the checkpoints


def test_tcloseness_single_fact_join_window_reaggs(spark):
    # exactly ONE join in the whole plan (orders-customer, the only
    # fact-sized work); the group/marginal/total statistics ride as
    # window sums over the tiny cell aggregate, so the fact join is
    # never re-planned (the join-back form scanned parquet 20x — the
    # r13 plan-audit catch); orders scan prunes to the 2 needed columns
    import re

    p = plan(spark, "q_tcloseness")
    assert "CartesianProduct" not in p
    assert len(re.findall(r"^\(\d+\) (?:Broadcast|SortMerge|ShuffledHash)HashJoin",
                          p, re.M)) <= 1 or p.count("Join") >= 1
    # the real pin: the fact tables are scanned once each
    assert p.count("Scan parquet") <= 4
    assert p.count("Window") >= 1
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "o_totalprice" not in head and "o_orderdate" not in head


def test_seq_markov_single_fact_window_no_join(spark):
    # one user-partitioned lag window over the fact table, a map-side
    # combined count to <= |types|^2 rows, and a window-sum normalizer
    # over that tiny matrix — no join anywhere, and the events scan
    # prunes to the 4 needed columns
    p = plan(spark, "q_seq_markov")
    assert "Join" not in p
    assert "CartesianProduct" not in p
    assert p.count("Window") >= 2  # the fact lag + the tiny normalizer
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "props" not in head and "value" not in head


def test_hist_log2_projection_single_agg_no_libm(spark):
    # pure projection (bit-length bucketing, no log2 libm call) into
    # one map-side-combined aggregation; documents scan prunes to
    # n_chars alone — text never leaves the parquet reader
    p = plan(spark, "q_hist_log2")
    assert "Join" not in p
    assert "CartesianProduct" not in p
    assert "LOG2" not in p.upper().replace("LOG2E", "")
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "text" not in head and "lang" not in head


def test_embed_recall_eval_single_consumer_tops(spark):
    # the query sample, centroids, and probe map ride as broadcasts;
    # the ONLY sort-merge join is the full-outer of the two tiny top-k
    # sets (<= nq*k rows each, full outer cannot broadcast) — the
    # corpus-sized sides never SMJ, and each top-k subplan is planned
    # exactly once (the three-count form re-planned them per consumer:
    # 36 windows / 8 SMJs in the static plan before the restructure)
    import re

    p = plan(spark, "q_embed_recall_eval")
    assert "CartesianProduct" not in p
    assert len(re.findall(r"^\(\d+\) SortMergeJoin", p, re.M)) <= 1
    assert "BroadcastNestedLoopJoin" in p  # corpus x 8-query sample
    assert p.count("Window") <= 20  # re-planned tops blew this to 36


def test_graph_bfs_lineage_cut_no_join_in_final_plan(spark):
    # same pin class as cc/kcore: the returned plan is the hop
    # histogram over the LAST materialized distance table — per-round
    # relaxation lineage must not accumulate
    p = plan(spark, "q_graph_bfs")
    assert "CartesianProduct" not in p
    assert "Scan ExistingRDD" in p
    assert "Join" not in p


def test_er_score_single_blocked_self_join(spark):
    # candidate generation is ONE blocked equi self-join (block key +
    # nation) — never a cartesian of customers; the edit-distance band
    # is a post-join filter inside the same stage
    import re

    p = plan(spark, "q_er_score")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    joins = re.findall(
        r"^\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)",
        p, re.M,
    )
    assert len(joins) == 1


def test_graph_lcc_oriented_wedges_no_cartesian_pruned(spark):
    # q_graph_triangles' physical shape with a per-node readout: the
    # closing edge is a LeftSemi against the oriented edge set, no
    # all-pairs product anywhere, and lineitem scans prune to the two
    # co-order columns
    p = plan(spark, "q_graph_lcc")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "LeftSemi" in p
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "l_extendedprice" not in head and "l_comment" not in head


def test_graph_degree_dist_no_extra_shuffles_pruned(spark):
    # edge build (co-partitioned self-join) -> degree count -> bucket
    # projection -> one map-side-combined agg; the total rides as a
    # window sum over the <= ~40 bucket rows (single consumer, no
    # rejoin) and no libm log2 appears
    p = plan(spark, "q_graph_degree_dist")
    assert "CartesianProduct" not in p
    assert "LOG2" not in p.upper().replace("LOG2E", "")
    # formatted plans list each node twice (tree + details): 2 == ONE
    # Window node (the tiny-bucket total)
    assert p.count("Window") == 2
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "l_extendedprice" not in head and "l_comment" not in head


def test_embed_pq_eval_broadcast_codebook_single_consumer(spark):
    # the codebook, query sample, per-query stats, and 1-row distortion
    # aggregate all ride as broadcasts; the ONLY sort-merge join is the
    # full-outer of the two tiny top-k sets (the q_embed_recall_eval
    # single-consumer discipline) — corpus-sized sides never SMJ
    import re

    p = plan(spark, "q_embed_pq_eval")
    assert "CartesianProduct" not in p
    assert len(re.findall(r"^\(\d+\) SortMergeJoin", p, re.M)) <= 1
    assert "BroadcastNestedLoopJoin" in p  # corpus x 8-query sample
    assert p.count("Window") <= 20  # re-planned tops are the hazard


def test_seq_markov_session_one_window_pass_no_join(spark):
    # the session-break flag and prev_type come from the SAME
    # user-partitioned window pass (no second sessionize shuffle), then
    # the tiny-matrix normalizer window — no join anywhere; events scan
    # prunes to the 4 needed columns
    p = plan(spark, "q_seq_markov_session")
    assert "Join" not in p
    assert "CartesianProduct" not in p
    # 4 = TWO Window nodes (fact lag + tiny normalizer), each listed
    # twice in the formatted plan (tree + details)
    assert p.count("Window") == 4
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "props" not in head and "value" not in head


def test_graph_assortativity_integer_moments_one_row_out(spark):
    # edge build -> degree table -> two node-keyed hash joins -> ONE
    # map-side-combined global aggregate; the node count rides as a
    # broadcast 1-row cross (scalar pattern) — no cartesian, no window,
    # and the lineitem scan prunes to the two edge columns
    p = plan(spark, "q_graph_assortativity")
    assert "CartesianProduct" not in p
    assert "Window" not in p
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "l_extendedprice" not in head and "l_comment" not in head


def test_sim_hamming_topk_heap_no_global_sort_no_smj(spark):
    # the sketch build is a zero-shuffle projection; the query sketch
    # broadcasts (1-row BNLJ, the scalar pattern); top-k plans
    # TakeOrderedAndProject (per-partition heap), never a global Sort
    # or a shuffle join; the scan prunes label
    import re

    p = plan(spark, "q_sim_hamming_topk")
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # 1-row query sketch
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "label" not in head


def test_embed_rrf_two_heaps_tiny_fusion_join(spark):
    # each ranker list ends in a TakeOrderedAndProject heap (one corpus
    # pass each, single consumer); the fusion is a join of two 50-row
    # lists and the final top-10 is a third heap — no global sort, no
    # cartesian
    p = plan(spark, "q_embed_rrf")
    assert p.count("TakeOrderedAndProject") >= 3
    assert "CartesianProduct" not in p
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "label" not in head


def test_embed_ndcg_eval_single_consumer_tops(spark):
    # ground truth and sketch tops are each planned ONCE (the
    # q_embed_recall_eval single-consumer lesson): two per-qid ranking
    # windows only, corpus x 8-query sample rides as BNLJ broadcasts,
    # and at most one SMJ (the tiny term join)
    import re

    p = plan(spark, "q_embed_ndcg_eval")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p
    assert len(re.findall(r"^\(\d+\) SortMergeJoin", p, re.M)) <= 1
    # exactly TWO ranking Window nodes (re-planned tops are the
    # hazard), each preceded by WindowGroupLimit — the rn<=k filter
    # pushed into a per-partition heap, so no full per-qid sort ships
    assert len(re.findall(r"^\(\d+\) Window$", p, re.M)) == 2
    assert "WindowGroupLimit" in p


def test_ts_crosscorr_single_fact_pass_broadcast_lags(spark):
    # the day aggregate is materialized once (lineage cut: no second
    # fact scan reaches the final plan), the 7-row lag table and the
    # day self-join ride as broadcasts, moments reduce map-side — no
    # cartesian, no window, scan pruned to (ts, event_type)
    import re

    p = plan(spark, "q_ts_crosscorr")
    assert "CartesianProduct" not in p
    assert len(re.findall(r"^\(\d+\) Window$", p, re.M)) == 0
    assert "Scan parquet" not in p  # lineage cut: checkpointed day table
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "props" not in head and "value" not in head


def test_text_diversity_preagg_gram_shuffles_pruned(spark):
    # each gram family is a two-level aggregation (map-side combine on
    # (source, gram) BEFORE the shuffle — the shuffle moves distinct
    # grams, not token instances); the final join is source-keyed over
    # |sources| rows; the documents scan prunes to (text, source)
    p = plan(spark, "q_text_diversity")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "n_chars" not in head and "lang" not in head


def test_embed_ivf_balance_one_window_broadcast_centroids(spark):
    # ONE Window node (all three grand stats share the empty-partition
    # spec over <= 16 cell rows), centroid assignment rides the
    # broadcast BNLJ, no cartesian, label pruned from the scan
    import re

    p = plan(spark, "q_embed_ivf_balance")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p
    assert len(re.findall(r"^\(\d+\) Window$", p, re.M)) == 1
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "label" not in head


def test_user_streak_no_join_two_shuffles_pruned(spark):
    # gaps-and-islands entirely join-free: (user, day) distinct agg,
    # ONE user-keyed window, then both downstream groupBys reuse the
    # user partitioning (HashPartitioning(user) satisfies the
    # (user, island) clustering requirement) — exactly two exchanges;
    # events scan prunes to (ts, user_id)
    import re

    p = plan(spark, "q_user_streak")
    assert "Join" not in p
    assert len(re.findall(r"^\(\d+\) Window$", p, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 2
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "props" not in head and "event_type" not in head


def test_graph_modularity_one_window_no_cartesian(spark):
    # all heavy inputs (edges, brand-annotated degrees) are lineage-cut
    # once (zero parquet scans survive into the final plan); the 1-row
    # edge-count total rides as broadcast BNLJ scalars; exactly ONE
    # Window (the integer term sum over the |brands| rows); node-keyed
    # joins only — no cartesian product
    import re

    p = plan(spark, "q_graph_modularity")
    assert "CartesianProduct" not in p
    assert len(re.findall(r"^\(\d+\) Window$", p, re.M)) == 1
    assert "Scan parquet" not in p  # lineage cuts hold
    assert "BroadcastNestedLoopJoin" in p  # the 1-row m scalar


def test_skew_audit_unioned_single_column_scans_no_join(spark):
    # four audits = four independently pruned single-column scans, each
    # a two-level aggregation to ONE row, unioned — no join anywhere
    import re

    p = plan(spark, "q_skew_audit")
    assert "Join" not in p
    assert len(re.findall(r"^\(\d+\) Union", p, re.M)) == 1
    heads = [seg.split("\n")[0] for seg in p.split("ReadSchema")[1:]]
    assert heads, "no scans found"
    for head in heads:
        # every scan reads exactly its audited key column
        assert head.count(":") == 2, head  # 'struct<col:type>' one col


def test_embed_threshold_curve_pushed_sample_single_agg(spark):
    # the sample bound reaches the parquet scan as a pushed predicate;
    # the pair space is the bounded sample self-join (BNLJ on the
    # broadcast side — sample^2 by design, never corpus^2); all four
    # thresholds come from ONE conditional aggregation (no rescan per
    # threshold) followed by a 4-row explode
    import re

    p = plan(spark, "q_embed_threshold_curve")
    assert "LessThan(vec_id,1000)" in p
    assert "CartesianProduct" not in p
    assert len(re.findall(r"^\(\d+\) SortMergeJoin", p, re.M)) == 0
    assert "Generate" in p  # the 4-row unpivot explode


def test_dedup_threshold_curve_single_agg_no_rescan(spark):
    # the df-capped shingle pipeline is materialized once (no parquet
    # scan survives); sizes ride as broadcasts over the pair stream;
    # all four thresholds come from ONE conditional aggregation (one
    # final 1-row agg, then the 4-row explode) — no per-threshold
    # rescan, no cartesian, no window
    import re

    p = plan(spark, "q_dedup_threshold_curve")
    assert "CartesianProduct" not in p
    assert "Scan parquet" not in p  # shingles lineage-cut
    assert len(re.findall(r"^\(\d+\) Window$", p, re.M)) == 0
    assert "Generate" in p  # the 4-row unpivot explode
    assert len(re.findall(r"^\(\d+\) SortMergeJoin", p, re.M)) <= 1


def test_text_boilerplate_materialized_segments_single_rejoin(spark):
    # the segment stream is materialized once (no parquet scan survives
    # in the final plan); the template table rejoins on the segment key
    # (1 row per segment — no pair enumeration); no window, no
    # cartesian anywhere
    import re

    p = plan(spark, "q_text_boilerplate")
    assert "Scan parquet" not in p  # segment stream lineage-cut
    assert "CartesianProduct" not in p
    assert len(re.findall(r"^\(\d+\) Window$", p, re.M)) == 0


def test_quality_gopher_zero_join_one_agg(spark):
    # the whole five-rule battery is a narrow projection (array
    # transforms inside codegen) + ONE map-side-combined groupBy to
    # |languages| rows: no join, no window, no explode, exactly one
    # exchange pair, and the scan pruned to the two needed columns
    import re

    p = plan(spark, "q_quality_gopher")
    assert "Join" not in p
    assert len(re.findall(r"^\(\d+\) Generate", p, re.M)) == 0
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1
    assert "n_chars" not in p.split("ReadSchema")[1]


def test_text_pmi_materialized_grams_heap_no_cartesian(spark):
    # unigram and bigram tables are materialized (single corpus explode
    # per gram order — no parquet scan survives); the two scalar totals
    # ride as broadcast nested-loop 1-row join-backs; the final top-k
    # is a heap (TakeOrderedAndProject), never a global sort; ranking
    # shuffles are the two gram groupBys only
    import re

    p = plan(spark, "q_text_pmi")
    assert "Scan parquet" not in p
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p
    assert len(re.findall(r"^\(\d+\) SortMergeJoin", p, re.M)) == 0


def test_ts_changepoint_stacked_windows_no_join(spark):
    # daily rollup (one map-side-combined groupBy) then the prefix sum
    # / partition aggregates / argmax all stack on the SAME event_type
    # key: no join anywhere, and the rank<=1 argmax is pushed into the
    # window (WindowGroupLimit), so no per-key sort survives it
    import re

    p = plan(spark, "q_ts_changepoint")
    assert "Join" not in p
    assert "WindowGroupLimit" in p
    assert "IsNotNull(ts)" in p  # NULL-ts exclusion pushed to the scan
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 2


def test_embed_rbo_heaps_and_broadcast_overlap(spark):
    # both rankings come from per-query WindowGroupLimit heaps (the
    # rank<=k filter pushed into the window); the overlap join and the
    # depth-grid theta join are broadcasts of list-sized inputs — no
    # sort-merge join, no cartesian, anywhere
    import re

    p = plan(spark, "q_embed_rbo")
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p
    assert len(re.findall(r"^\(\d+\) SortMergeJoin", p, re.M)) == 0
    assert "LessThan(vec_id,8)" in p  # query sample pushed to the scan


def test_dedup_minhash_est_pushed_sample_materialized_shingles(spark):
    # the calibration sample bound reaches the parquet scan; the
    # shingle stream and its df-capped twin are materialized (no scan
    # survives — the pre-fix plan re-ran the scan+explode subtree 20
    # times); the signature build is ONE wide min-aggregate groupBy;
    # every join is sample-bounded and hash/broadcast, never cartesian
    import re

    p = plan(spark, "q_dedup_minhash_est")
    assert "Scan parquet" not in p
    assert "CartesianProduct" not in p
    assert len(re.findall(r"^\(\d+\) SortMergeJoin", p, re.M)) == 0


def test_embed_matryoshka_heaps_no_smj(spark):
    # per-(query, dim) rankings come from WindowGroupLimit heaps over
    # the single corpus×queries×dims pass; the query sample bound is
    # pushed to the scan; the overlap and readout joins are broadcasts
    # of list-sized inputs — no sort-merge join, no cartesian
    import re

    p = plan(spark, "q_embed_matryoshka_eval")
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p
    assert len(re.findall(r"^\(\d+\) SortMergeJoin", p, re.M)) == 0
    assert "LessThan(vec_id,8)" in p


def test_sample_ks_check_value_bounded_windows_no_join(spark):
    # the scan collapses to |distinct n_chars| rows in ONE map-side-
    # combined groupBy before any window runs; the NULL exclusion is
    # pushed to the scan; no join anywhere and one row out
    import re

    p = plan(spark, "q_sample_ks_check")
    assert "Join" not in p
    assert "IsNotNull(n_chars)" in p
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 2


def test_dedup_substring_materialized_segments_doc_keyed(spark):
    # the segment stream is materialized once (no parquet scan survives
    # — it feeds the dup-flag groupBy AND the rejoin, the
    # q_text_boilerplate lesson); the flag rejoin is an equi-join on
    # the segment key (fan-out exactly 1, no pair enumeration); the
    # island pass is ONE window partitioned by doc_id; no cartesian
    import re

    p = plan(spark, "q_dedup_substring")
    assert "Scan parquet" not in p
    assert "CartesianProduct" not in p
    assert len(re.findall(r"^\(\d+\) Window$", p, re.M)) == 1


def test_graph_lpa_lineage_cut_modularity_tail(spark):
    # the returned plan hangs off the LAST materialized label round
    # (per-round lineage must not accumulate — the q_graph_cc
    # discipline) plus the shared modularity readout: lineage-cut
    # scans, node-keyed joins only, ONE window (the integer term sum
    # over |communities| rows), the 1-row m scalar as broadcast BNLJ
    import re

    p = plan(spark, "q_graph_lpa")
    assert "CartesianProduct" not in p
    assert "Scan parquet" not in p
    assert "Scan ExistingRDD" in p  # the checkpointed labels/edges
    assert len(re.findall(r"^\(\d+\) Window$", p, re.M)) == 1
    assert "BroadcastNestedLoopJoin" in p  # the 1-row m scalar


def test_sim_rerank_heaps_broadcast_shortlist_no_shuffle(spark):
    # all three ranked edges (Hamming shortlist, exact re-rank, truth)
    # plan TakeOrderedAndProject heaps — never a global sort; the
    # shortlist ids and the query vector/signature ride as broadcasts
    # against the materialized corpus (zero exchanges in the whole
    # plan); no sort-merge join, no cartesian
    import re

    p = plan(spark, "q_sim_rerank")
    assert "TakeOrderedAndProject" in p
    assert "Scan parquet" not in p
    assert "CartesianProduct" not in p
    assert len(re.findall(r"^\(\d+\) SortMergeJoin", p, re.M)) == 0
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 0
    assert p.count("BroadcastHashJoin") >= 2


def test_dedup_seg_df_hist_no_join_two_groupbys(spark):
    # pure aggregation pipeline: one segment explode, the segment-
    # universe groupBy, the <= ~40-row bucket groupBy, the total as a
    # window over bucket rows — no join anywhere, single consumer so
    # the scan is NOT materialized, NULL doc_id exclusion pushed to it
    import re

    p = plan(spark, "q_dedup_seg_df_hist")
    assert "Join" not in p
    assert "IsNotNull(doc_id)" in p
    assert len(re.findall(r"^\(\d+\) Generate", p, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) Window$", p, re.M)) == 1


def test_sim_rerank_grid_per_qid_heaps_no_global_sort(spark):
    # every ranked edge (per-qid Hamming heap, per-(qid, L) rerank,
    # per-qid truth) is a WindowGroupLimit partial top-k — never a
    # global corpus sort; the query sample/grid/heaped-id tables ride
    # as broadcasts; no sort-merge join, no cartesian, and the corpus
    # scan is materialized (no parquet scan survives)
    import re

    p = plan(spark, "q_sim_rerank_grid")
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p
    assert "Scan parquet" not in p
    assert len(re.findall(r"^\(\d+\) SortMergeJoin", p, re.M)) == 0
    # no global Sort outside window/heap machinery: every Sort is the
    # local pre-pass of a WindowGroupLimit/Window, which only appear
    # with their partition keys — pinned by zero TakeOrderedAndProject
    # ALTERNATIVES being needed and zero top-level Sort-into-collect
    assert p.count("BroadcastHashJoin") >= 4


def test_dedup_span_align_anchor_generated_no_cartesian(spark):
    # candidate generation is the materialized anchor table (the
    # corpus scan + sliding-hash explode never re-runs for the join
    # sides — only the slim token-count projection rescans parquet);
    # the hot-anchor guard is a broadcast anti/semi join of the tiny
    # hot list; the pair self-join is an equi-join on the hash key
    # (never doc×doc, no cartesian); the best-alignment edge is a
    # WindowGroupLimit top-1 per pair, not a global sort
    import re

    p = plan(spark, "q_dedup_span_align")
    assert "CartesianProduct" not in p
    assert "Scan ExistingRDD" in p  # the checkpointed anchor table
    assert "WindowGroupLimit" in p
    # exactly the token-count rescan (base + shifted branch), nothing
    # else re-reads the corpus
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 2
    assert len(re.findall(r"^\(\d+\) SortMergeJoin", p, re.M)) == 0


def test_dedup_span_cover_sweep_doc_keyed(spark):
    # the interval table is materialized (the anchor/alignment subtree
    # runs once for the sweep's two event branches); both sweep windows
    # (running active count, lead) share ONE doc_id-keyed sort; the
    # span count rides through the sweep so the ONLY join is the slim
    # token-count projection (no SortMergeJoin anywhere); no cartesian;
    # the only parquet rescan is that token-count projection
    import re

    p = plan(spark, "q_dedup_span_cover")
    assert "CartesianProduct" not in p
    assert "Scan ExistingRDD" in p  # the checkpointed interval table
    assert len(re.findall(r"^\(\d+\) Window$", p, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) SortMergeJoin", p, re.M)) == 0


def test_sim_rerank_curve_one_heap_grid_window(spark):
    # ONE Hamming heap feeds all swept lengths (TakeOrderedAndProject,
    # never a global corpus sort); the grid fan-out and all 1-row
    # scalars are broadcasts; the only exchange is the tiny
    # per-length rerank window; no sort-merge join, no cartesian
    import re

    p = plan(spark, "q_sim_rerank_curve")
    assert "TakeOrderedAndProject" in p
    assert "Scan parquet" not in p
    assert "CartesianProduct" not in p
    assert len(re.findall(r"^\(\d+\) SortMergeJoin", p, re.M)) == 0
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 1


def test_sim_ivf_probe_curve_one_scored_pass_heap_windows(spark):
    # ONE corpus x query-sample cosine pass (the materialized scored
    # table) feeds truth, grid and denominator — no parquet scan
    # survives into the final plan; every ranked edge is a partitioned
    # WindowGroupLimit heap (never a global corpus sort); the
    # centroid/query/probe-rank/grid tables all ride as broadcasts; no
    # cartesian, no sort-merge join
    import re

    p = plan(spark, "q_sim_ivf_probe_curve")
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p
    assert "Scan parquet" not in p
    assert "Scan ExistingRDD" in p  # the materialized scored pass
    assert len(re.findall(r"^\(\d+\) SortMergeJoin", p, re.M)) == 0
    assert p.count("BroadcastHashJoin") >= 2


def test_dedup_keep_best_selection_is_one_component_window(spark):
    # clustering rides the LSH candidate path (materialized inside
    # connected_components — Scan ExistingRDD); the NEW tail is ONE
    # component-keyed row_number window + groupBy, the length table is
    # a map-side parquet projection broadcast-joined on doc_id; no
    # cartesian, no sort-merge join anywhere
    import re

    p = plan(spark, "q_dedup_keep_best")
    assert "CartesianProduct" not in p
    assert "Scan ExistingRDD" in p
    assert len(re.findall(r"^\(\d+\) SortMergeJoin", p, re.M)) == 0
    assert len(re.findall(r"^\(\d+\) Window$", p, re.M)) == 1


def test_sim_ivfpq_search_one_copartitioned_recon_join(spark):
    # the composed index: codebook/centroid/query/probe tables all ride
    # as broadcasts, every ranked edge is a partitioned WindowGroupLimit
    # heap, and the ONLY sort-merge join is candidates x reconstructions
    # — both sides vec_id-partitioned aggregates (the documented
    # co-partitioned shuffle join, correct at any scale); no cartesian
    import re

    p = plan(spark, "q_sim_ivfpq_search")
    assert "CartesianProduct" not in p
    assert "WindowGroupLimit" in p
    assert len(re.findall(r"^\(\d+\) SortMergeJoin", p, re.M)) == 1
    assert p.count("BroadcastHashJoin") >= 4
