"""Property battery for the tabular queries — analytics, aggregates,
windows, profiling, quality, geo, joins, layout, sampling, sketches and
corpus packing: brute-force replays of each operator's defining rule on
random inputs.

Most examples stage random ``orders``/``customer``/``events``/``part``
tables through ``conftest.staged`` and run the REAL registered query on
them, so the finite-or-null ingest contract of ``load_table`` is part
of the replayed semantics (NaN/±Inf are injected and must behave
exactly as NULL); builder-level tests drive the extracted operator on
an in-memory frame."""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from collections import defaultdict

import pyarrow as pa
from hypothesis import given, settings, strategies as st

from pyspark.sql import types as T

from spring_and_kafka_spark.operators.joins import asof_join

import pytest

from .conftest import (
    CUSTOMER,
    DOCUMENTS,
    EVENTS,
    EVENTS_PROPS,
    INF,
    NAN,
    ORDERS,
    TS0,
    contract,
    daily_micros,
    ev_rows,
    ev_table,
    interp_median,
    raw_value,
    staged,
)

# Slow: every hypothesis example runs Spark jobs; run with
# `python -m pytest tests/ -m slow` (pytest.ini keeps the default run to
# the fast set).
pytestmark = pytest.mark.slow


# pyarrow-written partial tables: only the columns the query reads,
# with the exact physical types a non-Spark writer produces
_PRICES = pa.schema([("o_orderkey", pa.int64()), ("o_totalprice", pa.float64())])
_ORDER_PRICES = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_totalprice", pa.float64()),
    ]
)
_ORDER_DATES = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_totalprice", pa.float64()),
    ]
)
_BALANCES = pa.schema([("c_custkey", pa.int64()), ("c_acctbal", pa.float64())])
_PART = pa.schema(
    [
        ("p_partkey", pa.int64()),
        ("p_size", pa.int32()),
        ("p_retailprice", pa.float64()),
    ]
)
_PARTKEYS = pa.schema([("l_partkey", pa.int64())])
# the blocking query reads no balance column
_CUSTOMER_NAMES = (
    "c_custkey long, c_name string, c_nationkey int, c_mktsegment string"
)


def _mv_orders(rows):
    """``(orderkey, month 0-5, price)`` rows as ``_ORDER_DATES`` rows."""
    return [(k, dt.datetime(2024, m + 1, 15), v) for k, m, v in rows]


def _cents(x):
    if x is None:
        return None
    return math.floor(x * 100 + 0.5)


pair_lists = st.tuples(
    st.lists(  # left: (id, user, minute-offset)
        st.tuples(st.integers(0, 50), st.integers(0, 3), st.integers(0, 100)),
        min_size=0,
        max_size=8,
        unique_by=lambda t: t[0],
    ),
    st.lists(  # right: (user, minute-offset, value) — duplicate (user, ts)
        st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(-5, 5)),
        min_size=0,  # allowed: asof_join must break the tie deterministically
        max_size=8,
    ),
)


def brute_force(left, right):
    # Tie-break mirrors asof_join's documented rule: at equal timestamps
    # the row with the greatest value columns survives.
    out = {}
    for lid, lu, lt in left:
        best = None
        for ru, rt, rv in right:
            if ru == lu and rt <= lt and (best is None or (rt, rv) > best):
                best = (rt, rv)
        out[lid] = float(best[1]) if best else None
    return out


@settings(max_examples=15, deadline=None)
@given(pair_lists)
def test_asof_matches_brute_force(spark, data):
    left_rows, right_rows = data
    left = spark.createDataFrame(
        [(i, u, TS0 + dt.timedelta(minutes=m)) for i, u, m in left_rows],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
            ]
        ),
    )
    right = spark.createDataFrame(
        [(u, TS0 + dt.timedelta(minutes=m), float(v)) for u, m, v in right_rows],
        T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("val", T.DoubleType()),
            ]
        ),
    )
    got = {
        r["id"]: r["val"]
        for r in asof_join(
            left, right, on="user_id", left_ts="ts", right_ts="ts", right_cols=["val"]
        ).collect()
    }
    assert got == brute_force(left_rows, right_rows)


salted_inputs = st.tuples(
    st.lists(st.tuples(st.one_of(st.none(), st.integers(0, 5)), st.integers(0, 99)),
             min_size=0, max_size=10),
    st.lists(st.tuples(st.one_of(st.none(), st.integers(0, 5)), st.text("ab", max_size=2)),
             min_size=0, max_size=6),
    st.sampled_from(["inner", "left"]),
)


@settings(max_examples=10, deadline=None)
@given(salted_inputs)
def test_salted_join_equals_plain_property(spark, data):
    from spring_and_kafka_spark.operators.skew import salted_join

    fact_rows, dim_rows, how = data
    fact = spark.createDataFrame(fact_rows, "k INT, v INT")
    dim = spark.createDataFrame(dim_rows, "dk INT, tag STRING")
    plain = fact.join(dim, fact.k == dim.dk, how).select("k", "v", "tag")
    salted = salted_join(fact, dim, "k", "dk", salt_buckets=4, how=how).select(
        "k", "v", "tag"
    )
    a = sorted(tuple(map(str, r)) for r in plain.collect())
    b = sorted(tuple(map(str, r)) for r in salted.collect())
    assert a == b  # exact equivalence incl. null keys and outer semantics


@settings(max_examples=200, deadline=None)
@given(st.floats(min_value=0, max_value=1e9, allow_nan=False, allow_infinity=False))
def test_cent_rounding_identity(x):
    # the floor form used across the engine and its oracles is a pure
    # IEEE-arithmetic function — reproducible everywhere
    assert math.floor(x * 100 + 0.5) / 100 == math.floor(x * 100 + 0.5) / 100
    assert abs(math.floor(x * 100 + 0.5) / 100 - x) <= 0.005 + 1e-9 * x


pack_inputs = st.lists(
    st.tuples(st.integers(0, 2), st.integers(1, 1500)),  # (lang-id, n_toks)
    min_size=1,
    max_size=30,
)


def _next_fit(sizes):
    """Independent sequential next-fit reference (bin count only)."""
    bins, fill = 0, None
    for n in sizes:
        if fill is None or fill + n > 1024:
            bins, fill = bins + 1, n
        else:
            fill += n
    return bins


@settings(max_examples=10, deadline=None)
@given(pack_inputs)
def test_corpus_pack_matches_brute_force(spark, data):
    """q_corpus_pack's PRODUCTION path (corpus_pack, imported not copied)
    vs an independent sequential reference: with every doc in one shard
    (the fixture regime), sharded packing ≡ pure sequential next-fit per
    language, for arbitrary doc lengths including docs longer than the
    1024-token bin (they occupy a bin alone)."""
    from pyspark.sql import functions as F2

    from spring_and_kafka_spark.llm.corpus_ops import corpus_pack

    expect = {}
    for lang in sorted({l for l, _ in data}):
        sizes = [n for l, n in data if l == lang]
        expect[f"l{lang}"] = (_next_fit(sizes), len(sizes), sum(sizes))

    rows = [
        (i, f"l{lang}", " ".join(["w"] * n)) for i, (lang, n) in enumerate(data)
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, lang STRING, text STRING")
    toks = docs.select(
        "doc_id", "lang", F2.size(F2.split("text", " ")).alias("n_toks")
    )
    got = {
        r["lang"]: (r["n_bins"], r["n_docs"], r["total_toks"])
        for r in corpus_pack(toks).collect()
    }
    assert got == expect


@settings(max_examples=10, deadline=None)
@given(pack_inputs)
def test_corpus_pack_shard_merge_equals_per_shard_sequential(spark, data):
    """The sharded decomposition itself: with a tiny shard span (4 docs),
    corpus_pack's per-language bin count equals the sum over contiguous
    shards of sequential next-fit applied to that shard alone — i.e.
    shard-merge ≡ per-shard sequential packing, and the sharded total
    never undercounts the unsharded sequential packing."""
    from pyspark.sql import functions as F2

    from spring_and_kafka_spark.llm.corpus_ops import corpus_pack

    shard_docs = 4
    expect = {}
    for lang in sorted({l for l, _ in data}):
        pairs = [(i, n) for i, (l, n) in enumerate(data) if l == lang]
        by_shard = {}
        for i, n in pairs:
            by_shard.setdefault(i // shard_docs, []).append(n)
        bins = sum(_next_fit(sizes) for sizes in by_shard.values())
        expect[f"l{lang}"] = bins
        # sanity on the decomposition: forced breaks can only add bins
        assert bins >= _next_fit([n for _, n in pairs])

    rows = [
        (i, f"l{lang}", " ".join(["w"] * n)) for i, (lang, n) in enumerate(data)
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, lang STRING, text STRING")
    toks = docs.select(
        "doc_id", "lang", F2.size(F2.split("text", " ")).alias("n_toks")
    )
    got = {
        r["lang"]: r["n_bins"]
        for r in corpus_pack(toks, shard_docs=shard_docs).collect()
    }
    assert got == expect


points_strategy = st.lists(
    st.tuples(
        st.floats(min_value=0.0, max_value=500.0, allow_nan=False, width=32),
        st.integers(min_value=1, max_value=50),
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=15, deadline=None)
@given(points_strategy)
def test_pareto_frontier_matches_brute_force(spark, pts):
    """pareto_frontier == brute-force dominance filter for arbitrary
    point sets, including duplicate points and bucket-boundary values."""
    from spring_and_kafka_spark.operators.analytics import pareto_frontier

    rows = [(i, float(p), s) for i, (p, s) in enumerate(pts)]
    df = spark.createDataFrame(rows, "k LONG, price DOUBLE, size INT")

    def dominated(a, b):  # b dominates a
        return (
            b[1] <= a[1]
            and b[2] >= a[2]
            and (b[1] < a[1] or b[2] > a[2])
        )

    expected = sorted(
        r[0]
        for r in rows
        if not any(dominated(r, o) for o in rows if o[0] != r[0])
    )
    got = sorted(
        r.k
        for r in pareto_frontier(
            df, key="k", minimize="price", maximize="size"
        ).collect()
    )
    assert got == expected


# intervals as (start, length≥0) pairs; timestamps span multiple hourly
# buckets so the two-level decomposition's bucket boundaries are hit
_intervals = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10 * 3_600_000_000),
        st.integers(min_value=0, max_value=2 * 3_600_000_000),
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=15, deadline=None)
@given(_intervals)
def test_peak_from_intervals_matches_brute_force(spark, iv):
    """The two-level +1/−1 sweep (bucketed local prefix sums + cumulated
    offsets) must equal brute-force closed-interval stabbing counts at
    every boundary instant, for ANY interval set — including zero-length
    intervals, duplicates, and bucket-straddling spans."""
    from spring_and_kafka_spark.operators.analytics import peak_from_intervals

    sess = spark.createDataFrame(
        [(s, s + ln) for s, ln in iv], "s long, e long"
    )
    row = peak_from_intervals(sess).collect()[0]

    bounds = sorted({s for s, ln in iv} | {s + ln for s, ln in iv})
    best, best_ts = -1, None
    for t in bounds:
        n = sum(1 for s, ln in iv if s <= t <= s + ln)
        if n > best:
            best, best_ts = n, t
    assert row.peak_concurrency == best
    # argmin-ts: the earliest instant achieving the peak. The sweep only
    # changes value at boundaries, and starts sort before ends, so its
    # peak timestamp is the earliest boundary where the stabbing count
    # equals the peak.
    earliest = min(
        t
        for t in bounds
        if sum(1 for s, ln in iv if s <= t <= s + ln) == best
    )
    assert row.peak_ts_micros == earliest


_cents_lists = st.lists(
    st.integers(min_value=100, max_value=50_000_000),
    min_size=1,
    max_size=60,
)


@settings(max_examples=15, deadline=None)
@given(_cents_lists)
def test_quantile_sketch_descent_picks_true_rank_bucket(spark, cents):
    """For ANY integer cents multiset, the histogram rank descent must
    choose exactly the (digits, first2) bucket containing the true
    r = ceil(q·n)-th smallest value, and the bucket midpoint must sit
    within the two-leading-digit design bound (±0.5/first2 ≤ 5%)."""
    from spring_and_kafka_spark.operators.sketches import (
        decimal_histogram,
        select_quantile_buckets,
    )

    df = spark.createDataFrame([(c,) for c in cents], "cents long")
    sel = select_quantile_buckets(
        spark, decimal_histogram(df)
    ).collect()
    ordered = sorted(cents)
    assert len(sel) == 3
    for row in sel:
        import math

        r = math.ceil(row.q * len(cents))
        true_val = ordered[r - 1]
        s = str(true_val)
        assert (row.digits, row.first2) == (len(s), int(s[:2]))
        assert abs(row.approx_cents - true_val) / true_val <= 0.5 / row.first2


def _hav_km(a, b):
    """Brute-force haversine (km) shared by the geo property tests — ONE
    definition of the ground truth both tests compare against."""
    dphi = math.radians((b[0] - a[0]) / 2)
    dlam = math.radians((b[1] - a[1]) / 2)
    h = (
        math.sin(dphi) ** 2
        + math.cos(math.radians(a[0]))
        * math.cos(math.radians(b[0]))
        * math.sin(dlam) ** 2
    )
    return 2 * 6371.0 * math.asin(math.sqrt(min(1.0, h)))


geo_pts = st.lists(
    st.tuples(
        st.floats(min_value=-60, max_value=60, allow_nan=False),
        st.floats(min_value=-180, max_value=180, allow_nan=False),
    ),
    min_size=0,
    max_size=12,
)


@settings(max_examples=12, deadline=None)
@given(geo_pts)
def test_radius_join_matches_brute_force_property(spark, coords):
    """Grid candidate generation + haversine verify must equal the
    quadratic brute force on ARBITRARY points in the supported envelope
    (|lat| <= 60), including clusters at the ±180 seam and coincident
    points. Radius 100 km < the minimum 2° cell width in-envelope."""
    from spring_and_kafka_spark.operators.geo import radius_join

    pts = list(enumerate(coords))
    expected = {
        (i, j)
        for k, (i, a) in enumerate(pts)
        for j, b in pts[k + 1 :]
        if _hav_km(a, b) <= 100.0
    }
    df = spark.createDataFrame(
        [(i, a[0], a[1]) for i, a in pts] or [(0, 0.0, 0.0)],
        "id long, lat double, lon double",
    )
    got = {
        (r["a_id"], r["b_id"]) for r in radius_join(df, 100.0).collect()
    }
    if not pts:
        expected = set()
        got -= {(0, 0)}  # placeholder row can't pair with itself anyway
    assert got == expected


@settings(max_examples=12, deadline=None)
@given(geo_pts)
def test_nearest_within_matches_brute_force_property(spark, coords):
    """The grid-blocked per-point argmin must equal the quadratic brute
    force (min 3-dp-rounded distance, nn_id tiebreak) on ARBITRARY
    points in the envelope — coincident points, seam clusters, isolated
    points. The rounded-distance ordering is the contract: it is what
    both engines rank on (q_geo_nearest docstring)."""
    from spring_and_kafka_spark.operators.geo import nearest_within

    pts = list(enumerate(coords))
    expected = {}
    for i, a in pts:
        cands = [
            (round(_hav_km(a, b), 3), j)
            for j, b in pts
            if j != i and _hav_km(a, b) <= 100.0
        ]
        if cands:
            expected[i] = min(cands)  # (rounded dist, lowest id) tuple
    df = spark.createDataFrame(
        [(i, a[0], a[1]) for i, a in pts] or [(0, 0.0, 0.0)],
        "id long, lat double, lon double",
    )
    got = {
        r["id"]: (r["dist_km"], r["nn_id"])
        for r in nearest_within(df, 100.0).collect()
    }
    if not pts:
        expected, got = {}, {}
    assert got == expected


# every point lands ON a boundary: the ±180 antimeridian seam, the ±60
# envelope edge, or the equator/prime-meridian cell corners — the
# uniform geo_pts strategy above almost never samples these
_seam_lat = st.one_of(
    st.floats(min_value=59.0, max_value=60.0, allow_nan=False),
    st.floats(min_value=-60.0, max_value=-59.0, allow_nan=False),
    st.sampled_from([0.0, -0.0, 59.999999, -59.999999, 60.0, -60.0]),
)


_seam_lon = st.one_of(
    st.floats(min_value=179.0, max_value=180.0, allow_nan=False),
    st.floats(min_value=-180.0, max_value=-179.0, allow_nan=False),
    st.sampled_from([180.0, -180.0, 179.999999, -179.999999, 0.0]),
)


seam_pts = st.lists(
    st.tuples(_seam_lat, _seam_lon), min_size=0, max_size=10
)


@settings(max_examples=10, deadline=None)
@given(seam_pts)
def test_radius_join_boundary_cases(spark, coords):
    """Antimeridian/envelope boundary hammer for the grid-blocked
    radius join: lon exactly ±180 (both spellings
    of the same meridian must pair), lat exactly at the ±60 envelope
    edge, and mixed-sign seam clusters."""
    from spring_and_kafka_spark.operators.geo import radius_join

    pts = list(enumerate(coords))
    expected = {
        (i, j)
        for k, (i, a) in enumerate(pts)
        for j, b in pts[k + 1 :]
        if _hav_km(a, b) <= 100.0
    }
    df = spark.createDataFrame(
        [(i, a[0], a[1]) for i, a in pts] or [(0, 0.0, 0.0)],
        "id long, lat double, lon double",
    )
    got = {(r["a_id"], r["b_id"]) for r in radius_join(df, 100.0).collect()}
    if not pts:
        expected = set()
        got = set()
    assert got == expected


doc_lists = st.lists(
    st.tuples(st.integers(0, 400), st.integers(0, 600)),  # (doc_id, len)
    min_size=1,
    max_size=40,
    unique_by=lambda t: t[0],
)


@settings(max_examples=10, deadline=None)
@given(doc_lists)
def test_compaction_plan_matches_brute_force_next_fit(spark, docs):
    """For ANY file inventory the compaction manifest must equal a
    driver-side next-fit: bins are contiguous in file order, bytes are
    conserved, and fill_bp is the exact integer bytes·10^4 DIV target
    (the integer form — no float anywhere in the contract)."""

    from spring_and_kafka_spark.operators.layout import (
        _COMPACT_FILES,
        _COMPACT_TARGET,
        q_compaction_plan,
    )

    sizes: dict[int, int] = {}
    for doc_id, ln in docs:
        fid = doc_id % _COMPACT_FILES
        sizes[fid] = sizes.get(fid, 0) + ln
    bins: dict[int, list[int]] = {}
    cum = 0
    for fid in sorted(sizes):
        b = cum // _COMPACT_TARGET
        n, tot = bins.get(b, (0, 0))
        bins[b] = (n + 1, tot + sizes[fid])
        cum += sizes[fid]
    expected = [
        (b, n, tot, tot * 10000 // _COMPACT_TARGET)
        for b, (n, tot) in sorted(bins.items())
    ]

    documents_rows = [(doc_id, "a" * ln) for doc_id, ln in docs]
    with staged(
        spark, documents=(documents_rows, "doc_id long, text string")
    ) as d:
        got = [
            (r.bin_id, r.n_files, r.total_bytes, r.fill_bp)
            for r in q_compaction_plan(spark, d).collect()
        ]
    assert got == expected
    assert sum(t for _, _, t, _ in got) == sum(sizes.values())


order_lists = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 500)),  # (custkey, $)
    min_size=1,
    max_size=30,
)


@settings(max_examples=10, deadline=None)
@given(order_lists)
def test_pareto_abc_matches_brute_force(spark, orders):
    """ABC classification must equal a driver-side reference on ANY
    order set: boundaries evaluated as integer cross-products
    (cum·10 ≤ tot·5 / ·8) over the (revenue desc, custkey) order, so no
    float ever decides a boundary row — including the all-ties and
    single-customer degenerate shapes hypothesis likes to find."""
    import datetime as dt

    from spring_and_kafka_spark.operators.profiling import q_pareto_abc

    rev: dict[int, int] = {}
    for ck, dollars in orders:
        rev[ck] = rev.get(ck, 0) + dollars * 100
    ranked = sorted(rev.items(), key=lambda kv: (-kv[1], kv[0]))
    tot = sum(rev.values())
    expected: dict[str, list[int]] = {}
    cum = 0
    for ck, cents in ranked:
        cum += cents
        cls = "A" if cum * 10 <= tot * 5 else ("B" if cum * 10 <= tot * 8 else "C")
        n, c = expected.get(cls, (0, 0))
        expected[cls] = (n + 1, c + cents)

    orders_rows = [
        (i, ck, "O", float(dollars), dt.datetime(2024, 1, 1),
         "1-URGENT")
        for i, (ck, dollars) in enumerate(orders)
    ]
    with staged(spark, orders=(orders_rows, ORDERS)) as d:
        got = {
            r.abc_class: (r.n_customers, int(round(r.revenue * 100)))
            for r in q_pareto_abc(spark, d).collect()
        }
    assert got == {k: (n, c) for k, (n, c) in expected.items()}


def _r(x, places):
    """Spark round(): decimal HALF_UP — floor(x·10^p + 0.5)/10^p for
    the non-negative magnitudes these queries round."""
    if x is None:
        return None
    s = 10.0**places
    return math.floor(x * s + 0.5) / s


# integer cents from a tiny menu force EXACT boundary hits: e.g. ten
# equal-revenue customers put the 5th row precisely on cum·10 == tot·5
abc_orders = st.lists(
    st.tuples(
        st.integers(0, 9),  # o_custkey
        st.one_of(
            st.sampled_from([100, 200, 1000]).map(lambda c: c / 100.0),
            st.floats(min_value=0.0, max_value=50.0, allow_nan=False),
            st.none(),
            st.sampled_from([float("nan"), float("inf"), float("-inf")]),
        ),
    ),
    min_size=0,
    max_size=40,
)


@settings(max_examples=25, deadline=None)
@given(abc_orders)
def test_pareto_abc_boundary_rows_match_brute_force(spark, rows):
    """Replays the exact integer-cross-product boundary (cum·10 ≤ tot·5
    / ≤ tot·8) over the deterministic (cents desc, custkey) order,
    including the all-NULL-revenue customer (sorted last, classed 'C'
    via the null-comparison→otherwise branch in both engines)."""
    from spring_and_kafka_spark.operators.profiling import q_pareto_abc

    per_cust: dict[int, list] = {}
    for c, praw in rows:
        per_cust.setdefault(c, []).append(_cents(contract(praw)))
    rev = {
        c: (sum(v for v in vals if v is not None)
            if any(v is not None for v in vals) else None)
        for c, vals in per_cust.items()
    }
    # (cents desc NULLS LAST, custkey) — Spark's desc default; pinned
    # cross-engine by the committed oracle
    ranked = sorted(
        rev.items(),
        key=lambda kv: (kv[1] is None, -(kv[1] or 0), kv[0]),
    )
    tot = (
        sum(v for _, v in ranked if v is not None)
        if any(v is not None for _, v in ranked)
        else None
    )
    agg: dict[str, list] = {}
    cum = 0
    seen_non_null = False
    for c, cents in ranked:
        if cents is not None:
            cum += cents
            seen_non_null = True
        # window sum ignores NULLs; all-NULL prefix ⇒ cum is NULL
        cum_val = cum if seen_non_null else None
        if tot is None or cum_val is None:
            cls = "C"
        elif cum_val * 10 <= tot * 5:
            cls = "A"
        elif cum_val * 10 <= tot * 8:
            cls = "B"
        else:
            cls = "C"
        agg.setdefault(cls, []).append(cents)
    expected = {}
    for cls, vals in agg.items():
        non_null = [v for v in vals if v is not None]
        revenue = sum(non_null) / 100.0 if non_null else None
        share = (
            sum(non_null) * 1.0 / tot
            if non_null and tot not in (None, 0)
            else None
        )
        expected[cls] = (len(vals), revenue, share)
    with staged(
        spark,
        orders=([(i, *r) for i, r in enumerate(rows)], _ORDER_PRICES),
    ) as dst:
        got = {
            r.abc_class: (r.n_customers, r.revenue, r.revenue_share)
            for r in q_pareto_abc(spark, dst).collect()
        }
    assert got == expected


cdc_orders = st.lists(
    st.tuples(st.integers(1, 400), st.integers(0, 50000)),  # (key, cents)
    min_size=1,
    max_size=40,
    unique_by=lambda t: t[0],
)


@settings(max_examples=10, deadline=None)
@given(cdc_orders)
def test_snapshot_diff_matches_brute_force_cdc(spark, orders):
    """The CDC classification and net drift must equal a driver-side
    reference on ANY key set: the mutation rules (delete every 97th key,
    reprice every 13th survivor by 1.1x, insert a shifted copy of every
    101st) applied in exact integer cents per row, never an
    order-dependent float sum."""

    import datetime as dt

    from spring_and_kafka_spark.operators.analytics import (
        _CDC_DEL,
        _CDC_INS,
        _CDC_KEY_OFFSET,
        _CDC_UPD,
        q_snapshot_diff,
    )

    def half_up(x):  # floor(x*100+0.5), the repo cents convention
        import math

        return math.floor(x * 100 + 0.5)

    a = {k: c / 100.0 for k, c in orders}
    b = {}
    for k, price in a.items():
        if k % _CDC_DEL == 0:
            continue
        b[k] = price * 1.1 if k % _CDC_UPD == 0 else price
    for k, price in a.items():
        if k % _CDC_INS == 0:
            b[k + _CDC_KEY_OFFSET] = price
    expected: dict[str, list[int]] = {}
    for k in set(a) | set(b):
        if k not in b:
            cls = "delete"
        elif k not in a:
            cls = "insert"
        elif a[k] != b[k]:
            cls = "update"
        else:
            cls = "unchanged"
        d_cents = half_up(b.get(k, 0.0)) - half_up(a.get(k, 0.0))
        n, c = expected.get(cls, (0, 0))
        expected[cls] = (n + 1, c + d_cents)

    orders_rows = [
        (k, 0, "O", price, dt.datetime(2024, 1, 1), "1-URGENT")
        for k, price in a.items()
    ]
    with staged(spark, orders=(orders_rows, ORDERS)) as d:
        got = {
            r.change_type: (r.n_rows, half_up(r.price_delta))
            for r in q_snapshot_diff(spark, d).collect()
        }
    assert got == {k: (n, c) for k, (n, c) in expected.items()}


funnel_events = st.lists(
    st.tuples(
        st.integers(0, 5),  # user
        st.integers(0, 60),  # minute offset
        st.sampled_from(["signup", "click", "purchase", "view"]),
    ),
    min_size=0,
    max_size=30,
)


@settings(max_examples=12, deadline=None)
@given(funnel_events)
def test_funnel_matches_brute_force(spark, data):
    """The ordered funnel (signup → click-after → purchase-after, each
    stage strictly after the user's FIRST event of the previous stage)
    must match a driver-side reference on arbitrary event streams —
    including users who click before signing up, multiple events per
    minute, and stages entirely absent."""
    from spring_and_kafka_spark.operators.analytics import q_funnel

    def stage_min(rows, typ, after=None):
        out = {}
        for u, m, t in rows:
            if t != typ:
                continue
            if after is not None and (u not in after or m <= after[u]):
                continue
            out[u] = min(out.get(u, m), m)
        return out

    s = stage_min(data, "signup")
    c = stage_min(data, "click", after=s)
    p = stage_min(data, "purchase", after=c)

    events_rows = [
        (i, TS0 + dt.timedelta(minutes=m), u, t, 1.0)
        for i, (u, m, t) in enumerate(data)
    ]
    with staged(spark, events=(events_rows, EVENTS)) as d:
        row = q_funnel(spark, d).collect()[0]
    assert (row.n_signup, row.n_click_after, row.n_purchase_after) == (
        len(s),
        len(c),
        len(p),
    )


retention_events = st.lists(
    st.tuples(st.integers(0, 6), st.integers(0, 70)),  # (user, day offset)
    min_size=1,
    max_size=40,
)


@settings(max_examples=12, deadline=None)
@given(retention_events)
def test_retention_matches_brute_force(spark, data):
    """The retention triangle (users bucketed by first-active week,
    counted in every week they return) must match a driver-side
    reference on arbitrary activity patterns — single-week users,
    gap weeks, several users sharing a cohort."""
    from collections import defaultdict

    from spring_and_kafka_spark.operators.analytics import q_retention

    weekly = {(u, d // 7) for u, d in data}
    cohort = {}
    for u, w in weekly:
        cohort[u] = min(cohort.get(u, w), w)
    expected = defaultdict(set)
    for u, w in weekly:
        expected[(cohort[u], w - cohort[u])].add(u)
    expected = {k: len(v) for k, v in expected.items()}

    events_rows = [
        (i, TS0 + dt.timedelta(days=day, hours=3), u, "view", 1.0)
        for i, (u, day) in enumerate(data)
    ]
    with staged(spark, events=(events_rows, EVENTS)) as d:
        got = {
            (r.cohort_week, r.week_offset): r.n_users
            for r in q_retention(spark, d).collect()
        }
    assert got == expected


scd2_events = st.lists(
    st.tuples(
        st.integers(0, 3),  # user
        st.integers(0, 20),  # minute offset (duplicates allowed)
        st.sampled_from(["a", "b", "c"]),  # event_type
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=12, deadline=None)
@given(scd2_events)
def test_scd2_matches_brute_force(spark, data):
    """The SCD type-2 history build (collapse each user's event_type
    stream into [valid_from, valid_to) validity intervals) must match a
    driver-side fold on arbitrary change logs — same-timestamp ties
    (broken by event_id in both), consecutive same-type runs collapsing
    to one interval, single-event users, and full type alternation."""
    from spring_and_kafka_spark.operators.analytics import q_scd2

    # brute force: walk each user's (ts, event_id)-ordered stream,
    # keep change rows, close each interval with the next change's start
    per_user = {}
    for eid, (u, m, t) in enumerate(data):
        per_user.setdefault(u, []).append((m, eid, t))
    expect = set()
    for u, rows in per_user.items():
        rows.sort()
        changes = []
        prev_type = None
        for m, eid, t in rows:
            if prev_type is None or t != prev_type:
                changes.append((m, t))
            prev_type = t
        for i, (m, t) in enumerate(changes):
            nxt = changes[i + 1][0] if i + 1 < len(changes) else None
            expect.add((u, t, m, nxt, nxt is None))

    events_rows = [
        (eid, TS0 + dt.timedelta(minutes=m), u, t, 1.0)
        for eid, (u, m, t) in enumerate(data)
    ]
    with staged(spark, events=(events_rows, EVENTS)) as d:
        got = {
            (
                r.user_id,
                r.event_type,
                int((r.valid_from - TS0).total_seconds()) // 60,
                int((r.valid_to - TS0).total_seconds()) // 60
                if r.valid_to is not None
                else None,
                r.is_current,
            )
            for r in q_scd2(spark, d).collect()
        }
    assert got == expect


session_events = st.lists(
    st.tuples(
        st.integers(0, 3),  # user
        st.integers(0, 200),  # minute offset (gap threshold is 30 min)
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=12, deadline=None)
@given(session_events)
def test_sessionize_matches_brute_force(spark, data):
    """Gap-based sessionization (new session strictly after a >30-minute
    silence) must match a driver-side fold on arbitrary streams —
    same-timestamp bursts, exact-30-minute gaps staying in-session,
    and single-event users."""
    from collections import defaultdict

    from spring_and_kafka_spark.operators.analytics import q_sessionize

    per_user = defaultdict(list)
    for eid, (u, m) in enumerate(data):
        per_user[u].append((m, eid))
    expect = {}
    for u, rows in per_user.items():
        rows.sort()
        sessions = []
        prev = None
        for m, _eid in rows:
            if prev is None or (m - prev) * 60_000_000 > 1_800_000_000:
                sessions.append(0)
            sessions[-1] += 1
            prev = m
        expect[u] = (len(sessions), len(rows), max(sessions))

    events_rows = [
        (eid, TS0 + dt.timedelta(minutes=m), u, "click", 1.0)
        for eid, (u, m) in enumerate(data)
    ]
    with staged(spark, events=(events_rows, EVENTS)) as d:
        got = {
            r.user_id: (r.n_sessions, r.n_events, r.max_session_events)
            for r in q_sessionize(spark, d).collect()
        }
    assert got == expect


streak_events = st.lists(
    st.tuples(
        st.integers(0, 2),  # user
        st.integers(0, 15),  # minute offset
        st.sampled_from(["a", "bb", "c"]),  # types with distinct lengths
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=12, deadline=None)
@given(streak_events)
def test_win_streak_matches_brute_force(spark, data):
    """The gaps-and-islands longest-streak (rn - rn_per_type grouping)
    must match a driver-side scan on arbitrary streams, including the
    documented tie order between equally-long streaks (len desc, then
    SHORTER type name, then lexical) and same-timestamp runs ordered by
    event_id."""
    from collections import defaultdict

    from spring_and_kafka_spark.operators.windows import q_win_streak

    per_user = defaultdict(list)
    for eid, (u, m, t) in enumerate(data):
        per_user[u].append((m, eid, t))
    expect = {}
    for u, rows in per_user.items():
        rows.sort()
        streaks = []  # (type, len) per island
        for _m, _eid, t in rows:
            if streaks and streaks[-1][0] == t:
                streaks[-1][1] += 1
            else:
                streaks.append([t, 1])
        best = min(streaks, key=lambda s: (-s[1], len(s[0]), s[0]))
        expect[u] = (best[0], best[1])

    events_rows = [
        (eid, TS0 + dt.timedelta(minutes=m), u, t, 1.0)
        for eid, (u, m, t) in enumerate(data)
    ]
    with staged(spark, events=(events_rows, EVENTS)) as d:
        got = {
            r.user_id: (r.top_type, r.longest_streak)
            for r in q_win_streak(spark, d).collect()
        }
    assert got == expect


rdistinct_events = st.lists(
    st.tuples(
        st.integers(0, 2),  # user
        st.integers(0, 10),  # minute
        st.sampled_from(["a", "b", "c", "d"]),
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=12, deadline=None)
@given(rdistinct_events)
def test_running_distinct_matches_brute_force(spark, data):
    """The running distinct-type count (collect_set over a growing frame)
    must match a driver-side fold on arbitrary streams, including
    same-timestamp bursts where only the (ts, event_id) tie order keeps
    the prefix deterministic."""
    from spring_and_kafka_spark.operators.windows import q_win_running_distinct

    per_user = {}
    for eid, (u, m, t) in enumerate(data):
        per_user.setdefault(u, []).append((m, eid, t))
    expect = {}
    for u, rows in per_user.items():
        rows.sort()
        seen = set()
        for m, eid, t in rows:
            seen.add(t)
            expect[eid] = len(seen)

    events_rows = [
        (eid, TS0 + dt.timedelta(minutes=m), u, t, 1.0)
        for eid, (u, m, t) in enumerate(data)
    ]
    with staged(spark, events=(events_rows, EVENTS)) as d:
        got = {
            r.event_id: r.n_types_seen
            for r in q_win_running_distinct(spark, d).collect()
        }
    assert got == expect


attribution_events = st.lists(
    st.tuples(
        st.integers(0, 2),  # user
        st.integers(0, 15000),  # minute (7-day window = 10080 min)
        st.sampled_from(["click", "purchase", "view"]),
        st.one_of(st.none(), st.integers(0, 3)),  # campaign k (clicks)
        st.integers(1, 50),  # whole-dollar value
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=12, deadline=None)
@given(attribution_events)
def test_attribution_matches_brute_force(spark, data):
    """Last-touch attribution (running last-non-null click carry + 7-day
    lookback + unattributed bucket) must match a driver-side fold —
    including untagged clicks (props without k, which are skipped by the
    carry in BOTH engines), lookback-boundary purchases, and users with
    no clicks at all."""
    import json as _json

    from spring_and_kafka_spark.operators.analytics import q_attribution

    week_min = 7 * 24 * 60
    per_user = {}
    for eid, (u, m, t, k, v) in enumerate(data):
        per_user.setdefault(u, []).append((m, eid, t, k, v))
    expect = {}
    for u, rows in per_user.items():
        rows.sort()
        last = None  # (minute, k) of last TAGGED click
        for m, eid, t, k, v in rows:
            if t == "click" and k is not None:
                last = (m, k)
            elif t == "purchase":
                camp = (
                    last[1]
                    if last is not None and m - last[0] <= week_min
                    else -1
                )
                n, rev = expect.get(camp, (0, 0))
                expect[camp] = (n + 1, rev + v)
    expect = {c: (n, float(rev)) for c, (n, rev) in expect.items()}

    events_rows = [
        (
            eid,
            TS0 + dt.timedelta(minutes=m),
            u,
            t,
            float(v),
            _json.dumps({"k": k} if k is not None else {}),
        )
        for eid, (u, m, t, k, v) in enumerate(data)
    ]
    with staged(spark, events=(events_rows, EVENTS_PROPS)) as d:
        got = {
            r.campaign: (r.n_purchases, r.revenue)
            for r in q_attribution(spark, d).collect()
        }
    assert got == expect


rfm_orders = st.lists(
    st.tuples(
        st.integers(0, 9),  # custkey
        st.integers(0, 30),  # order-day offset
        st.integers(100, 99999),  # totalprice cents
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=12, deadline=None)
@given(rfm_orders)
def test_rfm_matches_brute_force(spark, orders):
    """RFM quartile segmentation must match a driver-side fold using the
    standard SQL ntile distribution (first n mod k buckets get one extra
    row) over the documented (metric, custkey) total orders — including
    fewer customers than buckets, heavy ties, and single-order users."""
    from collections import defaultdict

    from spring_and_kafka_spark.operators.analytics import q_rfm

    per_cust = defaultdict(list)
    for ck, day, cents_v in orders:
        per_cust[ck].append((day, cents_v))

    def ntile4(keys):
        # keys: list of (metric..., custkey) sort keys, one per customer
        n = len(keys)
        order = sorted(range(n), key=lambda i: keys[i])
        base, extra = divmod(n, 4)
        out = [0] * n
        pos = 0
        for b in range(4):
            size = base + (1 if b < extra else 0)
            for _ in range(size):
                if pos < n:
                    out[order[pos]] = b + 1
                    pos += 1
        return out

    custs = sorted(per_cust)
    rec = [(max(d for d, _ in per_cust[c]), c) for c in custs]
    freq = [(len(per_cust[c]), c) for c in custs]
    mon = [(sum(v for _, v in per_cust[c]), c) for c in custs]
    r_s, f_s, m_s = ntile4(rec), ntile4(freq), ntile4(mon)
    seg = defaultdict(lambda: [0, 0])
    for i, c in enumerate(custs):
        k = (r_s[i], f_s[i], m_s[i])
        seg[k][0] += 1
        seg[k][1] += mon[i][0]
    import math

    expect = {
        k: (n, math.floor(tot / n + 0.5) / 100.0)
        for k, (n, tot) in seg.items()
    }

    orders_rows = [
        (i, ck, "O", cents_v / 100.0,
         TS0 + dt.timedelta(days=day), "1-URGENT")
        for i, (ck, day, cents_v) in enumerate(orders)
    ]
    with staged(spark, orders=(orders_rows, ORDERS)) as d:
        got = {
            (r.r_score, r.f_score, r.m_score): (r.n_customers, r.avg_monetary)
            for r in q_rfm(spark, d).collect()
        }
    assert got == expect


seq_events = st.lists(
    st.tuples(
        st.integers(0, 2),  # user
        st.integers(0, 12000),  # minute (7-day window = 10080)
        st.sampled_from(["signup", "click", "purchase", "view"]),
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=12, deadline=None)
@given(seq_events)
def test_seq_pattern_matches_brute_force(spark, data):
    """The signup -> click{2,} -> purchase pattern matcher must agree
    with a driver-side scan: the binding purchase is the FIRST one with
    >=2 clicks strictly in between (not the first purchase overall),
    and the 7-day gate applies to that binding purchase only. Covers
    multiple signups per user, purchases before signups, and exactly-2
    click boundaries."""
    from spring_and_kafka_spark.operators.analytics import q_seq_pattern

    per_user = {}
    for eid, (u, m, t) in enumerate(data):
        per_user.setdefault(u, []).append((m, eid, t))
    week = 7 * 24 * 60
    expect = set()
    for u, rows in per_user.items():
        rows.sort()
        for i, (sm, seid, stype) in enumerate(rows):
            if stype != "signup":
                continue
            clicks = 0
            binding = None
            for m, eid, t in rows[i + 1 :]:
                if t == "click":
                    clicks += 1
                elif t == "purchase" and clicks >= 2:
                    binding = (m, eid, clicks)
                    break
            if binding is not None and binding[0] <= sm + week:
                expect.add((u, seid, binding[1], binding[2], True))
            else:
                expect.add((u, seid, None, 0, False))

    events_rows = [
        (eid, TS0 + dt.timedelta(minutes=m), u, t, 1.0)
        for eid, (u, m, t) in enumerate(data)
    ]
    with staged(spark, events=(events_rows, EVENTS)) as d:
        got = {
            (r.user_id, r.signup_event, r.purchase_event,
             r.clicks_between, r.matched)
            for r in q_seq_pattern(spark, d).collect()
        }
    assert got == expect


cohort_orders = st.lists(
    st.tuples(
        st.integers(0, 5),  # custkey
        st.integers(0, 180),  # order-day offset (~6 months)
        st.integers(100, 9999),  # totalprice cents
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=12, deadline=None)
@given(cohort_orders)
def test_cohort_revenue_matches_brute_force(spark, orders):
    """The cohort revenue matrix (first-order-month cohort x integer
    month age) must match a driver-side fold — including customers whose
    first and only order share a month, month-boundary orders, and
    multi-order months counted once in n_customers."""
    from collections import defaultdict

    from spring_and_kafka_spark.operators.analytics import q_cohort_revenue

    base = TS0.date()
    per_cust = defaultdict(list)
    for ck, day, cents_v in orders:
        d0 = base + dt.timedelta(days=day)
        per_cust[ck].append(((d0.year, d0.month), cents_v))
    cells = defaultdict(lambda: [set(), 0])
    for ck, rows in per_cust.items():
        cm = min(m for m, _ in rows)
        for (y, m), cents_v in rows:
            age = (y * 12 + m) - (cm[0] * 12 + cm[1])
            cell = cells[(cm, age)]
            cell[0].add(ck)
            cell[1] += cents_v
    expect = {k: (len(s), tot) for k, (s, tot) in cells.items()}

    orders_rows = [
        (i, ck, "O", cents_v / 100.0,
         TS0 + dt.timedelta(days=day), "1-URGENT")
        for i, (ck, day, cents_v) in enumerate(orders)
    ]
    with staged(spark, orders=(orders_rows, ORDERS)) as d:
        got = {
            ((r.cohort_month.year, r.cohort_month.month), r.age_months): (
                r.n_customers,
                r.revenue_cents,
            )
            for r in q_cohort_revenue(spark, d).collect()
        }
    assert got == expect


def _pct_linear(sorted_vals, q):
    # the (n-1)*p linear interpolation rule both engines implement
    # (Spark percentile / percentile_cont, DuckDB quantile_cont)
    n = len(sorted_vals)
    if n == 1:
        return float(sorted_vals[0])
    pos = (n - 1) * q
    lo = int(pos)
    frac = pos - lo
    hi = min(lo + 1, n - 1)
    return sorted_vals[lo] + (sorted_vals[hi] - sorted_vals[lo]) * frac


winsor_customers = st.lists(
    st.tuples(
        st.sampled_from(["AUTO", "HOME"]),  # segment
        st.integers(-5000, 99999),  # acctbal cents
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=12, deadline=None)
@given(winsor_customers)
def test_winsorize_matches_brute_force(spark, custs):
    """Winsorized/trimmed means must match a driver-side fold using the
    (n-1)*p percentile interpolation rule — pinning that Spark
    percentile() and the brute rule agree on tiny groups, heavy ties,
    negatives, and single-customer segments."""
    from collections import defaultdict

    from spring_and_kafka_spark.operators.quality import q_winsorize

    per_seg = defaultdict(list)
    for seg, cents_v in custs:
        per_seg[seg].append(cents_v / 100.0)
    # Spark round() = HALF_UP over the SHORTEST decimal representation
    # of the double (Java BigDecimal.valueOf); Python round() uses the
    # exact binary value — they differ exactly ON boundary values
    # (0.075 -> 0.08 vs 0.07), so the brute force mirrors Spark's rule
    from decimal import ROUND_HALF_UP, Decimal

    def spark_round2(x):
        return float(
            Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP)
        )

    expect = {}
    for seg, vals in per_seg.items():
        sv = sorted(vals)
        p05 = _pct_linear(sv, 0.05)
        p95 = _pct_linear(sv, 0.95)
        wins = [min(max(v, p05), p95) for v in vals]
        trim = [v for v in vals if p05 <= v <= p95]
        n_clip = sum(1 for v in vals if v < p05 or v > p95)
        expect[seg] = (
            len(vals),
            spark_round2(p05),
            spark_round2(p95),
            spark_round2(sum(vals) / len(vals)),
            spark_round2(sum(wins) / len(wins)),
            spark_round2(sum(trim) / len(trim)) if trim else None,
            n_clip,
        )

    customer_rows = [
        (i, f"Customer#{i:09d}", 0, v, seg)
        for i, (seg, v) in enumerate(
            (s, c / 100.0) for s, c in custs
        )
    ]
    with staged(spark, customer=(customer_rows, CUSTOMER)) as d:
        got = {
            r.c_mktsegment: (
                r.n, r.p05, r.p95, r.mean_raw, r.mean_winsor,
                r.mean_trim, r.n_clipped,
            )
            for r in q_winsorize(spark, d).collect()
        }
    # counts exact; rounded money columns within ONE cent — Spark's
    # percentile interpolation and a Python fold can differ by 1 ulp,
    # which legitimately flips round( ,2) across structural boundaries
    # on synthetic cent data (the interpolation RULE itself is pinned
    # to 1e-9 below, so a wrong rule still fails loudly)
    assert set(got) == set(expect)
    for seg in got:
        gn, gp05, gp95, graw, gwin, gtrim, gclip = got[seg]
        en, ep05, ep95, eraw, ewin, etrim, eclip = expect[seg]
        assert (gn, gclip) == (en, eclip), seg
        for g, e in [(gp05, ep05), (gp95, ep95), (graw, eraw),
                     (gwin, ewin), (gtrim, etrim)]:
            if g is None or e is None:
                assert g is None and e is None, seg
            else:
                assert abs(g - e) <= 0.0100001, (seg, g, e)
    # pin the (n-1)*p interpolation rule itself at full precision
    from pyspark.sql import functions as F2

    vals_df = spark.createDataFrame(
        [(seg, v) for seg, vs in per_seg.items() for v in vs],
        "seg string, x double",
    )
    raw = {
        r.seg: (r.p05, r.p95)
        for r in vals_df.groupBy("seg")
        .agg(
            F2.percentile("x", F2.lit(0.05)).alias("p05"),
            F2.percentile("x", F2.lit(0.95)).alias("p95"),
        )
        .collect()
    }
    for seg, vs in per_seg.items():
        sv = sorted(vs)
        assert abs(raw[seg][0] - _pct_linear(sv, 0.05)) <= 1e-9, seg
        assert abs(raw[seg][1] - _pct_linear(sv, 0.95)) <= 1e-9, seg


def _lev(a, b):
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


er_names = st.lists(
    st.tuples(
        st.integers(0, 1),  # nationkey
        # 9-char prefix + 8-char block body + 1-2 char tail: near-dup
        # names share the block body, tails differ by edit distance
        st.text("xy", min_size=8, max_size=8),  # block body
        st.text("pq", min_size=1, max_size=2),  # tail
    ),
    min_size=2,
    max_size=14,
)


@settings(max_examples=12, deadline=None)
@given(er_names)
def test_er_blocking_matches_brute_force(spark, recs):
    """Entity-resolution blocking (block-key + nation equi-join, edit
    distance <= 1 verify) must match a brute-force all-pairs scan
    RESTRICTED to the same blocks — pinning both the candidate
    generation (substr(c_name, 10, 8) block key) and the verify rule,
    with the known limitation that cross-block near-dups are by-design
    invisible (the blocking trade)."""
    from spring_and_kafka_spark.operators.quality import q_er_blocking

    rows = [
        (i, f"Customer#{body}{tail}", nk, "SEG")
        for i, (nk, body, tail) in enumerate(recs)
    ]
    expect = set()
    for i, (ka, na_, nka, _) in enumerate(rows):
        for kb, nb_, nkb, _ in rows[i + 1 :]:
            blk_a, blk_b = na_[9:17], nb_[9:17]
            if blk_a == blk_b and nka == nkb and _lev(na_, nb_) <= 1:
                d = _lev(na_, nb_)
                expect.add((ka, kb, nka, d, 1))

    with staged(spark, customer=(rows, _CUSTOMER_NAMES)) as d:
        got = {
            (r.custkey_a, r.custkey_b, r.nationkey, r.dist, r.same_segment)
            for r in q_er_blocking(spark, d).collect()
        }
    assert got == expect


er_custs = st.lists(
    st.tuples(
        st.sampled_from(["Customer#abcd0001", "Customer#abcd0002",
                         "Customer#abxd0001", "Customer#zzzz9999",
                         "Customer#abcd00", "short"]),
        st.integers(1, 2),  # nation
        st.sampled_from(["A", "B", None]),  # segment
        st.one_of(st.none(), st.floats(-500, 2000, allow_nan=False,
                                       allow_infinity=False)),
    ),
    min_size=2,
    max_size=16,
)


@settings(max_examples=10, deadline=None)
@given(er_custs)
def test_er_score_matches_python_replay(spark, custs):
    """Blocked candidate generation + composite scoring vs a direct
    Python replay: DP levenshtein, floor-form name similarity, exact
    integer cents, NULL-safe segment equality, and the tier CASE with
    a NULL balance falling through a WHEN."""
    from spring_and_kafka_spark.operators.quality import q_er_score

    rows = [
        (i + 1, name, nat, bal, seg)
        for i, (name, nat, seg, bal) in enumerate(custs)
    ]
    expected = {}
    recs = [
        (ck, nm, nat,
         None if bal is None else math.floor(bal * 100 + 0.5),
         seg, nm[9:17])
        for ck, nm, nat, bal, seg in rows
    ]
    for x in recs:
        for y in recs:
            if not (x[0] < y[0] and x[5] == y[5] and x[2] == y[2]):
                continue
            lev = _lev(x[1], y[1])
            if lev > 3:
                continue
            maxlen = max(len(x[1]), len(y[1]))
            sim = (
                math.floor((maxlen - lev) * 1e6 / maxlen + 0.5) / 1e6
                if maxlen > 0 else None
            )
            same_seg = x[4] == y[4]
            bd = (None if x[3] is None or y[3] is None
                  else abs(x[3] - y[3]))
            if lev <= 1 and same_seg and bd is not None and bd <= 50000:
                tier = "strong"
            elif lev <= 2 and (same_seg or (bd is not None and bd <= 50000)):
                tier = "possible"
            else:
                tier = "weak"
            expected[(x[0], y[0])] = (lev, sim, same_seg, bd, tier)

    with staged(spark, customer=(rows, CUSTOMER)) as d:
        got = {
            (r.custkey_a, r.custkey_b): (
                r.lev, r.name_sim, r.same_segment, r.bal_diff_cents, r.tier
            )
            for r in q_er_score(spark, d).collect()
        }
    assert got == expected


hist_prices = st.lists(
    st.one_of(
        raw_value,
        # exact bucket edges, negatives, and the overflow cap
        st.sampled_from(
            [0.0, 50000.0, 100000.0, -0.01, -50000.0, 550000.0, 600000.0, 1e7]
        ),
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=10, deadline=None)
@given(hist_prices)
def test_hist_equiwidth_matches_replay(spark, prices):
    """Bucket-boundary hammer: values exactly ON the $50k edges (floor
    puts them in the upper bucket), negative prices (negative bucket
    ids — lo/hi still derived from the index), the open-ended cap
    bucket, and NULL prices (NaN/Inf through the ingest contract form a
    NULL bucket with NULL bounds)."""
    from spring_and_kafka_spark.operators.aggregates import q_hist_equiwidth

    counts: dict = {}
    for p in prices:
        x = contract(p)
        b = None if x is None else min(math.floor(x / 50000), 11)
        counts[b] = counts.get(b, 0) + 1
    total = sum(counts.values())
    expected = {
        b: (
            None if b is None else b * 50000,
            None if b is None or b >= 11 else (b + 1) * 50000,
            n,
        )
        for b, n in counts.items()
    }
    got, shares = {}, {}
    with staged(spark, orders=(list(enumerate(prices)), _PRICES)) as dst:
        for r in q_hist_equiwidth(spark, dst).collect():
            got[r.bucket] = (r.lo, r.hi, r.n)
            shares[r.bucket] = r.share
    assert got == expected
    for b, (_, _, n) in expected.items():
        assert abs(shares[b] - n / total) < 5e-5  # round(x, 4) half-up


merge_inputs = st.tuples(
    # customer: index -> acctbal (c_custkey = index + 1, so keys are
    # 1..M — preserving the fixture invariant o_custkey <= max key that
    # keeps synthetic insert keys collision-free)
    st.lists(raw_value, min_size=1, max_size=12),
    # orders: (custkey_index, totalprice)
    st.lists(
        st.tuples(st.integers(0, 11), raw_value),
        min_size=0,
        max_size=25,
    ),
)


@settings(max_examples=8, deadline=None)
@given(merge_inputs)
def test_merge_upsert_matches_brute_force(spark, data):
    """MERGE = full-outer join algebra, replayed row-by-row: matched →
    updated (balance + delta cents), unmatched source → inserted (0 +
    delta), unmatched target → unchanged. Synthetic insert keys are the
    top-10 deltas (delta DESC NULLS LAST, custkey tiebreak) offset by
    max(c_custkey)."""
    from spring_and_kafka_spark.operators.analytics import q_merge_upsert

    custs, orders = data
    n_cust = len(custs)
    orders = [(ci % n_cust + 1, v) for ci, v in orders]

    # brute force
    delta: dict[int, int | None] = {}
    for k, v in orders:
        c = _cents(contract(v))
        if k not in delta:
            delta[k] = c
        elif c is not None:
            delta[k] = c if delta[k] is None else delta[k] + c
    top10 = sorted(
        delta.items(),
        key=lambda kv: ((0, -kv[1]) if kv[1] is not None else (1, 0), kv[0]),
    )[:10]
    src = dict(delta)
    for k, d in top10:
        src[k + n_cust] = d
    expected = {}
    for ck in range(1, n_cust + 1):
        bal = _cents(contract(custs[ck - 1]))
        if ck in src:
            d = src[ck] if src[ck] is not None else 0
            nb = None if bal is None else (bal + d) / 100.0
            expected[ck] = ("updated", nb)
        else:
            expected[ck] = (
                "unchanged",
                None if bal is None else bal / 100.0,
            )
    for k, d in src.items():
        if k > n_cust:
            dd = d if d is not None else 0
            expected[k] = ("inserted", dd / 100.0)

    with staged(
        spark,
        customer=(list(enumerate(custs, 1)), _BALANCES),
        orders=([(i, *o) for i, o in enumerate(orders)], _ORDER_PRICES),
    ) as dst:
        got = {
            r.c_custkey: (r.status, r.new_acctbal)
            for r in q_merge_upsert(spark, dst).collect()
        }
    assert got == expected


_DEL, _UPD, _INS = 97, 13, 101  # pinned equal to the operator's moduli


mv_orders = st.lists(
    # (orderkey, month 0-5, totalprice)
    st.tuples(st.integers(0, 400), st.integers(0, 5), raw_value),
    min_size=0,
    max_size=30,
    unique_by=lambda t: t[0],
)


@settings(max_examples=8, deadline=None)
@given(mv_orders)
def test_mv_incremental_equals_full_recompute(spark, rows):
    """The hash oracle already proves incremental ≡ recompute on the
    fixture; this replays it on RANDOM changelogs — arbitrary key/month
    collisions, delete+insert overlap (k % 97 == k % 101 == 0), months
    whose every row is deleted (group must vanish), and non-finite
    prices riding the ingest contract."""
    from spring_and_kafka_spark.operators.analytics import (
        _CDC_DEL,
        _CDC_INS,
        _CDC_UPD,
    )
    from spring_and_kafka_spark.operators.layout import q_mv_incremental

    assert (_CDC_DEL, _CDC_UPD, _CDC_INS) == (_DEL, _UPD, _INS)

    # full recompute of snapshot B, in integer cents
    snap_b = []
    for k, m, v in rows:
        price = contract(v)
        if k % _DEL != 0:
            snap_b.append(
                (m, price * 1.1 if k % _UPD == 0 and price is not None else price)
            )
        if k % _INS == 0:
            snap_b.append((m, price))
    expected: dict[int, list] = {}
    for m, price in snap_b:
        month_id = 2024 * 12 + (m + 1)
        agg = expected.setdefault(month_id, [0, 0])
        agg[0] += 1
        c = _cents(price)
        if c is not None:
            agg[1] += c
    exp = {m: (n, rc) for m, (n, rc) in expected.items()}

    with staged(spark, orders=(_mv_orders(rows), _ORDER_DATES)) as dst:
        got = {
            r.month_id: (r.n_orders, r.revenue_cents)
            for r in q_mv_incremental(spark, dst).collect()
        }
    assert got == exp


# prices sit on/next to the 100.0 bucket-width edges of the two-phase
# prune, plus sub-unit, negative, and non-finite injections; sizes are
# tiny ints so equal-(price,size) frontier ties are common
_price = st.one_of(
    st.sampled_from(
        [
            -100.0,
            -0.5,
            0.0,
            99.99,
            100.0,
            100.01,
            150.0,
            199.99,
            200.0,
            300.0,
        ]
    ),
    st.floats(min_value=-250.0, max_value=450.0, allow_nan=False),
    st.none(),
    st.sampled_from([float("nan"), float("inf"), float("-inf")]),
)


skyline_rows = st.lists(
    st.tuples(_price, st.integers(0, 4)), min_size=0, max_size=25
)


@settings(max_examples=25, deadline=None)
@given(skyline_rows)
def test_skyline_matches_brute_force_dominance(spark, rows):
    """a dominates b ⟺ a.price ≤ b.price ∧ a.size ≥ b.size ∧ strict on
    one; the frontier keeps every non-dominated row including exact
    (price, size) twins. NULL-price rows (incl. contract-nulled NaN/Inf)
    vanish: both engines' equi-join on the price key drops them."""
    from spring_and_kafka_spark.operators.analytics import q_skyline

    pts = [
        (k, p, s)
        for k, (praw, s) in enumerate(rows)
        if (p := contract(praw)) is not None
    ]
    expected = sorted(
        (
            (k, p, s)
            for (k, p, s) in pts
            if not any(
                p2 <= p and s2 >= s and (p2 < p or s2 > s)
                for (_, p2, s2) in pts
            )
        ),
        key=lambda t: (t[1], t[0]),
    )
    with staged(
        spark,
        part=([(k, s, p) for k, (p, s) in enumerate(rows)], _PART),
    ) as dst:
        got = [
            (r.p_partkey, r.p_retailprice, r.p_size)
            for r in q_skyline(spark, dst).collect()
        ]
    assert got == expected  # query orders by (price, partkey) already


hh_keys = st.lists(
    # zipf-ish menu: a few hot keys + a long tail, so top-20 boundaries
    # and (cnt, key) tie-breaks both get exercised
    st.one_of(st.integers(0, 3), st.integers(0, 40)),
    min_size=0,
    max_size=120,
)


@settings(max_examples=25, deadline=None)
@given(hh_keys)
def test_heavy_hitters_matches_brute_force(spark, keys):
    from spring_and_kafka_spark.operators.profiling import q_heavy_hitters

    cnt: dict[int, int] = {}
    for k in keys:
        cnt[k] = cnt.get(k, 0) + 1
    ordered = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    total = len(keys)
    expected, cum = [], 0
    for rnk, (k, c) in enumerate(ordered[:20], start=1):
        cum += c
        expected.append(
            (rnk, k, c, _r(c / total, 6), _r(cum / total, 6))
        )
    with staged(spark, lineitem=([(k,) for k in keys], _PARTKEYS)) as dst:
        got = [
            (r.rnk, r.key, r.cnt, r.share, r.cum_share)
            for r in q_heavy_hitters(spark, dst)
            .orderBy("rnk")
            .collect()
        ]
    assert got == expected


_magnitude = st.one_of(
    # exact powers of ten and one-ulp-style neighbours: the digit
    # extraction must never misclassify 10^k, and the >= 1 filter edge
    st.sampled_from(
        [
            0.0,
            0.5,
            0.999,
            1.0,
            1.0000001,
            9.999,
            10.0,
            99.999,
            100.0,
            1000.0,
            999999.99,
            1e12,
            -5.0,
        ]
    ),
    st.floats(min_value=0.0, max_value=1e6, allow_nan=False),
    st.none(),
    st.sampled_from([float("nan"), float("inf"), float("-inf")]),
)


benford_prices = st.lists(_magnitude, min_size=0, max_size=60)


@settings(max_examples=25, deadline=None)
@given(benford_prices)
def test_benford_matches_brute_force(spark, prices):
    """First significant digit via floor→int→string, replayed in pure
    Python; NULL/NaN/±Inf and sub-1 magnitudes all fall out of the
    o_totalprice >= 1 filter."""
    from spring_and_kafka_spark.operators.quality import q_benford

    kept = [
        p for praw in prices if (p := contract(praw)) is not None and p >= 1
    ]
    counts: dict[int, int] = {}
    for p in kept:
        d = int(str(int(math.floor(p)))[0])
        counts[d] = counts.get(d, 0) + 1
    total = sum(counts.values())
    expected = {}
    for d, n in counts.items():
        frac_raw = n * 1.0 / total
        ben_raw = math.log10(1.0 + 1.0 / float(d))
        expected[d] = (
            n,
            _r(frac_raw, 4),
            _r(ben_raw, 4),
            _r(abs(frac_raw - ben_raw), 4),
        )
    with staged(
        spark,
        orders=([(i, i, p) for i, p in enumerate(prices)], _ORDER_PRICES),
    ) as dst:
        got = {
            r.digit: (r.n, r.frac, r.benford, r.abs_dev)
            for r in q_benford(spark, dst).collect()
        }
    assert got == expected


prices = st.lists(
    st.one_of(
        st.none(),
        st.just(NAN),
        st.just(INF),
        st.just(-INF),
        # duplicate-heavy grid so octile boundaries land ON tied blocks
        st.sampled_from([0.0, 1.0, 1.0, 2.5, 2.5, 2.5, 10.0, 10.0, -3.0,
                         100.0, 100.0, 0.125]),
        st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
    ),
    min_size=1,
    max_size=48,
)


@settings(max_examples=20, deadline=None)
@given(prices)
def test_hist_equidepth_matches_sorted_replay(spark, vals):
    """Octile boundaries via (n-1)*p interpolation over the FINITE
    values (NaN/Inf are contract-nulled at the scan), ties stay in the
    lower bucket, NULLs form their own bucket — replayed from a sorted
    list."""
    from spring_and_kafka_spark.operators.aggregates import q_hist_equidepth

    clean = [
        None if v is None or (isinstance(v, float) and not math.isfinite(v))
        else v
        for v in vals
    ]
    # boundaries interpolate over exact integer CENTS (hypothesis
    # falsified the raw-double form on subnormal ties —
    # [5e-324, 5e-324] put DuckDB's lerp p=0.5 boundary at 0.0 via
    # round-half-to-even while Spark's lo + (hi-lo)*f stayed exact, so
    # the engines THEMSELVES disagreed; on integers with dyadic f both
    # formulas are exact and identical, so the replay can use either)
    cents = [
        None if v is None else math.floor(v * 100 + 0.5) for v in clean
    ]
    finite = sorted(cv for cv in cents if cv is not None)

    def q(p):
        if not finite:
            return None
        idx = (len(finite) - 1) * p
        lo, f = int(idx // 1), idx % 1
        hi = min(lo + 1, len(finite) - 1)
        return finite[lo] + (finite[hi] - finite[lo]) * f

    bounds = [q((i + 1) / 8.0) for i in range(7)]
    expected = {}
    rows = []
    for v, cv in zip(clean, cents):
        b = None if v is None else 1 + sum(1 for x in bounds if cv > x)
        rows.append((b, v))
    from collections import defaultdict

    agg = defaultdict(list)
    for b, v in rows:
        agg[b].append(v)
    total = len(clean)
    for b, vs in agg.items():
        fin = [v for v in vs if v is not None]
        # the cents rule: floor(x*100+0.5)/100, bit-identical engines
        lo = math.floor(min(fin) * 100 + 0.5) / 100 if fin else None
        hi = math.floor(max(fin) * 100 + 0.5) / 100 if fin else None
        expected[b] = (
            len(vs),
            lo,
            hi,
            round(len(vs) / total, 4),
        )

    orders_rows = [
        (i, 1, "O", v, TS0, "1-URGENT")
        for i, v in enumerate(vals)
    ]
    with staged(spark, orders=(orders_rows, ORDERS)) as d:
        got = {
            r.bucket: (r.n, r.lo, r.hi, r.share)
            for r in q_hist_equidepth(spark, d).collect()
        }
    assert got == expected


ldiv_rows = st.lists(
    st.tuples(
        st.integers(0, 5),  # customer id -> (nation, segment) derived
        st.sampled_from(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", None]
        ),
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=15, deadline=None)
@given(ldiv_rows)
def test_ldiversity_matches_direct_count(spark, rows):
    """The audit row (group counts, leak counts, rows at risk, min_l)
    replayed by direct counting. NULL priorities are skipped by the
    distinct count in both engines, so an all-NULL group audits at
    l_div = 0 — leaking."""
    from collections import defaultdict

    from spring_and_kafka_spark.operators.profiling import (
        _LDIV_L,
        q_ldiversity,
    )

    qi = lambda cust: (cust % 3, f"SEG_{cust % 2}")  # noqa: E731
    groups = defaultdict(lambda: [0, set()])
    for cust, prio in rows:
        g = groups[qi(cust)]
        g[0] += 1
        if prio is not None:
            g[1].add(prio)
    n_groups = len(groups)
    lows = [(n, len(s)) for n, s in groups.values() if len(s) < _LDIV_L]
    exp = (
        _LDIV_L,
        n_groups,
        len(lows),
        sum(n for n, _ in lows),
        round(sum(n for n, _ in lows) / sum(n for n, _ in groups.values()), 6),
        min(len(s) for _, s in groups.values()),
    )

    orders_rows = [
        (i, cust, "O", 1.0, TS0, prio)
        for i, (cust, prio) in enumerate(rows)
    ]
    customer_rows = [
        (c, f"cust{c}", c % 3, 0.0, f"SEG_{c % 2}")
        for c in range(6)
    ]
    with staged(
        spark,
        orders=(orders_rows, ORDERS),
        customer=(customer_rows, CUSTOMER),
    ) as d:
        r = q_ldiversity(spark, d).collect()[0]
        got = (
            r.l,
            r.n_groups,
            r.n_low_groups,
            r.n_rows_at_risk,
            r.frac_at_risk,
            r.min_l,
        )
    assert got == exp


@settings(max_examples=15, deadline=None)
@given(ev_rows)
def test_rolling_median_matches_frame_replay(spark, rows):
    """Per-type 7-row rolling median over exact micro-unit daily revenue,
    NULL day sorted FIRST, NULL frame members skipped by the percentile
    in both engines — replayed frame by frame."""
    from spring_and_kafka_spark.operators.windows import (
        q_win_rolling_median,
    )

    daily = daily_micros(rows, keep_null_day=True)
    expected = {}
    for et in {k[0] for k in daily}:
        days = sorted(
            (k[1] for k in daily if k[0] == et),
            key=lambda x: (x is not None, x),  # None first, Spark asc
        )
        revs = [daily[(et, day)] for day in days]
        for i, day in enumerate(days):
            frame = revs[max(0, i - 6) : i + 1]
            expected[(et, day)] = (revs[i], interp_median(frame))

    with staged(spark, events=ev_table(rows)) as d:
        got = {
            (r.event_type, None if r.day is None else (r.day - TS0.date()).days):
                (r.rev_micros, r.med7_micros)
            for r in q_win_rolling_median(spark, d).collect()
        }
    assert got == expected


tclose_rows = st.lists(
    st.tuples(
        st.integers(1, 3),  # nation (QI 1)
        st.sampled_from(["A", "B"]),  # segment (QI 2)
        st.sampled_from(["X", "Y", "Z", None]),  # priority (sensitive)
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=12, deadline=None)
@given(tclose_rows)
def test_tcloseness_matches_integer_replay(spark, rows):
    """The scaled-TVD identity sum_abs + ng*(n - covered) over exact
    BIGINTs, replayed directly — including NULL priorities as a real
    category and the integer-compare breach flag (never the rounded
    float)."""
    from spring_and_kafka_spark.operators.profiling import (
        _TCLOSE_T,
        q_tcloseness,
    )

    n = len(rows)
    cell = defaultdict(int)
    for nat, seg, prio in rows:
        cell[(nat, seg, prio)] += 1
    ng = defaultdict(int)
    cs = defaultdict(int)
    for (nat, seg, prio), cnt in cell.items():
        ng[(nat, seg)] += cnt
        cs[prio] += cnt
    expected = {}
    for (nat, seg), g_n in ng.items():
        scaled = 0
        for prio, c_all in cs.items():
            c_g = cell.get((nat, seg, prio), 0)
            scaled += abs(c_g * n - c_all * g_n)
        tvd = math.floor(scaled * 1e6 / (2.0 * g_n * n) + 0.5) / 1e6
        breach = scaled > _TCLOSE_T * 2.0 * g_n * n
        expected[(nat, seg)] = (g_n, tvd, breach)

    customer_rows = [
        (i + 1, f"c{i + 1}", nat, 0.0, seg)
        for i, (nat, seg, _) in enumerate(rows)
    ]
    orders_rows = [
        (i + 1, i + 1, "O", 1.0, TS0, prio)
        for i, (_, _, prio) in enumerate(rows)
    ]
    with staged(
        spark,
        customer=(customer_rows, CUSTOMER),
        orders=(orders_rows, ORDERS),
    ) as d:
        got = {
            (r.c_nationkey, r.c_mktsegment): (r.n, r.tvd, r.breach)
            for r in q_tcloseness(spark, d).collect()
        }
    assert got == expected


markov_events = st.lists(
    st.tuples(
        st.integers(0, 3),  # user
        st.integers(0, 10_000),  # microsecond offset (tie-able)
        st.sampled_from(["a", "b", "c", None]),  # event_type incl NULL
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=10, deadline=None)
@given(markov_events)
def test_seq_markov_matches_python_replay(spark, evs):
    """lag-per-user transition counts vs a direct Python replay over the
    (ts, event_id)-sorted stream — including NULL event types (counted
    as transitions INTO a missing state; transitions OUT of one are
    dropped with the boundary row, the documented lag ambiguity) and
    duplicate timestamps broken by event_id."""
    from spring_and_kafka_spark.operators.analytics import q_seq_markov

    rows = [
        (i, TS0 + dt.timedelta(microseconds=us), u, typ, 1.0)
        for i, (u, us, typ) in enumerate(evs)
    ]
    per_user = defaultdict(list)
    for eid, ts, u, typ, _ in rows:
        per_user[u].append((ts, eid, typ))
    trans = defaultdict(int)
    for seq in per_user.values():
        seq.sort(key=lambda r: (r[0], r[1]))
        for (_, _, prev), (_, _, curr) in zip(seq, seq[1:]):
            if prev is not None:
                trans[(prev, curr)] += 1
    row_tot = defaultdict(int)
    for (prev, _), n in trans.items():
        row_tot[prev] += n
    expected = {
        k: (n, math.floor(n * 1e6 / row_tot[k[0]] + 0.5) / 1e6)
        for k, n in trans.items()
    }

    with staged(spark, events=(rows, EVENTS)) as d:
        got = {
            (r.prev_type, r.curr_type): (r.n, r.p)
            for r in q_seq_markov(spark, d).collect()
        }
    assert got == expected


markov_session_events = st.lists(
    st.tuples(
        st.integers(0, 3),  # user
        st.integers(0, 7_200_000_000),  # microsecond offset (0..2 h —
        # gaps routinely exceed the 30-minute session break)
        st.sampled_from(["a", "b", "c", None]),  # event_type incl NULL
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=10, deadline=None)
@given(markov_session_events)
def test_seq_markov_session_matches_python_replay(spark, evs):
    """Session-bounded transition counts vs a direct replay over the
    (ts, event_id)-sorted stream applying the same 30-minute break:
    a transition is kept iff the current row is NOT a session start
    and prev_type is not NULL (the q_seq_markov boundary trade)."""
    from spring_and_kafka_spark.operators.analytics import (
        _MARKOV_SESSION_GAP_US,
        q_seq_markov_session,
    )

    rows = [
        (i, TS0 + dt.timedelta(microseconds=us), u, typ, 1.0)
        for i, (u, us, typ) in enumerate(evs)
    ]
    per_user = defaultdict(list)
    for eid, ts, u, typ, _ in rows:
        per_user[u].append((ts, eid, typ))
    trans = defaultdict(int)
    for seq in per_user.values():
        seq.sort(key=lambda r: (r[0], r[1]))
        for (pts, _, prev), (cts, _, curr) in zip(seq, seq[1:]):
            gap_us = (cts - pts) // dt.timedelta(microseconds=1)
            if gap_us > _MARKOV_SESSION_GAP_US:
                continue  # current row starts a new session
            if prev is not None:
                trans[(prev, curr)] += 1
    row_tot = defaultdict(int)
    for (prev, _), n in trans.items():
        row_tot[prev] += n
    expected = {
        k: (n, math.floor(n * 1e6 / row_tot[k[0]] + 0.5) / 1e6)
        for k, n in trans.items()
    }

    with staged(spark, events=(rows, EVENTS)) as d:
        got = {
            (r.prev_type, r.curr_type): (r.n, r.p)
            for r in q_seq_markov_session(spark, d).collect()
        }
    assert got == expected


streak_days = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 12)),  # (user, day)
    min_size=1,
    max_size=50,
)


@settings(max_examples=10, deadline=None)
@given(streak_days)
def test_user_streak_matches_python_replay(spark, pairs):
    """Gaps-and-islands replay: per-user sorted distinct days split
    into consecutive runs; (n_active_days, longest_streak, n_streaks)
    must match exactly (all BIGINT, no floats to diverge)."""
    from spring_and_kafka_spark.operators.analytics import q_user_streak

    per_user = defaultdict(set)
    for u, day in pairs:
        per_user[u].add(day)
    expected = {}
    for u, ds in per_user.items():
        sd = sorted(ds)
        runs = []
        cur = 1
        for a, b in zip(sd, sd[1:]):
            if b == a + 1:
                cur += 1
            else:
                runs.append(cur)
                cur = 1
        runs.append(cur)
        expected[u] = (len(sd), max(runs), len(runs))
    rows = [
        (i, TS0 + dt.timedelta(days=day, seconds=i), u, "view", 1.0)
        for i, (u, day) in enumerate(pairs)
    ]
    with staged(spark, events=(rows, EVENTS)) as d:
        got = {
            r.user_id: (r.n_active_days, r.longest_streak, r.n_streaks)
            for r in q_user_streak(spark, d).collect()
        }
    assert got == expected


ks_values = st.lists(
    st.one_of(st.none(), st.integers(1, 40)),  # n_chars incl NULL
    min_size=0,
    max_size=60,
)


@settings(max_examples=10, deadline=None)
@given(ks_values)
def test_sample_ks_matches_ecdf_replay(spark, vals):
    """Per-value counts, cumulative ECDFs, the integer cross-multiplied
    sup distance, the floor-form D and the squared-products rejection
    flag vs a direct replay (hashlib.md5 replays the engine's sampling
    hash exactly); NULL values excluded, empty input -> all-NULL row."""
    from spring_and_kafka_spark.operators.sampling import (
        _KS_C2,
        q_sample_ks_check,
    )

    per_val = defaultdict(lambda: [0, 0])
    for i, v in enumerate(vals):
        if v is None:
            continue
        in_s = hashlib.md5(str(i).encode()).hexdigest()[:2] < "29"
        e = per_val[v]
        e[0] += in_s
        e[1] += not in_s  # complement side (disjoint halves)
    if per_val:
        n1 = sum(cs for cs, _ in per_val.values())
        n2 = sum(cp for _, cp in per_val.values())
        c1 = c2 = 0
        maxd = 0
        for v in sorted(per_val):
            cs, cp = per_val[v]
            c1 += cs
            c2 += cp
            maxd = max(maxd, abs(c1 * n2 - c2 * n1))
        expected = (
            n1,
            n2,
            maxd,
            math.floor(float(maxd) * 1e6 / (n1 * n2) + 0.5) / 1e6
            if n1 > 0 and n2 > 0
            else None,
            (float(maxd) * maxd) > (_KS_C2 * (n1 + n2) * n1 * n2),
        )
    else:
        expected = (None, None, None, None, None)

    documents_rows = [(i, "t", "en", "s0", v) for i, v in enumerate(vals)]
    with staged(spark, documents=(documents_rows, DOCUMENTS)) as d:
        r = q_sample_ks_check(spark, d).collect()[0]
        got = (r.n_sample, r.n_rest, r.ks_num, r.ks_d, r.reject)
    assert got == expected
