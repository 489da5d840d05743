"""Property battery for the time-series queries
(``operators/timeseries.py``): bit-for-bit replays of Holt, EWMA and
the CUSUM clamp recurrence, the MAD and STL-residual outlier counts,
gap fill, Theil-Sen slopes, per-lag cross-correlation and the
changepoint scan.

Each example stages a random ``events`` table through
``conftest.staged`` — written by pyarrow where the replay depends on
its exact physical types, by Spark otherwise — and runs the REAL
registered query on it, so the finite-or-null ingest contract of
``load_table`` is part of the replayed semantics (NaN/±Inf arrive as
NULL)."""

from __future__ import annotations

import datetime as dt
import math
from collections import defaultdict

import pyarrow as pa
from hypothesis import given, settings, strategies as st

import pytest

from .conftest import (
    EVENTS,
    INF,
    NAN,
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


_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.3
_TS_MAR = dt.datetime(2024, 3, 1)

_EVENTS = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("value", pa.float64()),
    ]
)
_TYPED_EVENTS = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("event_type", pa.string()),
        ("value", pa.float64()),
    ]
)


def _events(rows):
    """``(user_id, minute, value)`` rows as a pyarrow-written events
    table; event_id = list index."""
    staged_rows = [
        (i, _TS_MAR + dt.timedelta(minutes=m), u, v)
        for i, (u, m, v) in enumerate(rows)
    ]
    return staged_rows, _EVENTS


def _typed_events(rows):
    """``(type index, minute, value)`` rows as a pyarrow-written events
    table with ``event_type = f"t{index}"``; event_id = list index."""
    staged_rows = [
        (i, _TS_MAR + dt.timedelta(minutes=m), f"t{t}", v)
        for i, (t, m, v) in enumerate(rows)
    ]
    return staged_rows, _TYPED_EVENTS


def _round6(x):
    if x is None or math.isnan(x):
        return None
    return math.floor(x * 1e6 + 0.5) / 1e6


holt_events = st.lists(
    # (user_id, minute_offset, value) — event_id assigned by list index
    st.tuples(st.integers(0, 2), st.integers(0, 30), raw_value),
    min_size=0,
    max_size=14,
)


def _holt_replay(rows):
    """Pure-Python replay of the per-user (level, trend) recurrence,
    bit-for-bit (same IEEE expression order as the pandas kernel), with
    NULL values poisoning the rest of the series to NULL — exactly what
    NaN does inside the kernel before the Arrow boundary maps it back
    to NULL (operators/timeseries.py:q_ts_holt)."""
    by_user: dict[int, list] = {}
    for eid, (u, m, v) in enumerate(rows):
        by_user.setdefault(u, []).append((m, eid, contract(v)))
    out = {}
    for u, evs in by_user.items():
        evs.sort()
        l = b = 0.0
        for i, (_, eid, x) in enumerate(evs):
            xv = float("nan") if x is None else x
            if i == 0:
                l, b = xv, 0.0
            else:
                l_new = _HOLT_ALPHA * xv + (1 - _HOLT_ALPHA) * (l + b)
                b = _HOLT_BETA * (l_new - l) + (1 - _HOLT_BETA) * b
                l = l_new
            out[eid] = (x, _round6(l), _round6(b), _round6(l + b))
    return out


@settings(max_examples=8, deadline=None)
@given(holt_events)
def test_holt_matches_bitwise_replay(spark, rows):
    from spring_and_kafka_spark.operators.timeseries import q_ts_holt

    with staged(spark, events=_events(rows)) as dst:
        got = {
            r.event_id: (r.value, r.level, r.trend, r.forecast)
            for r in q_ts_holt(spark, dst).collect()
        }
    assert got == _holt_replay(rows)


@settings(max_examples=8, deadline=None)
@given(holt_events)
def test_ewma_matches_bitwise_replay(spark, rows):
    """Same recurrence class as Holt with 1-vector state: y_i = αx_i +
    (1-α)y_{i-1}, bit-for-bit, NULL/NaN poisoning the tail."""
    from spring_and_kafka_spark.operators.timeseries import (
        _EWMA_ALPHA,
        q_ts_ewma,
    )

    by_user: dict[int, list] = {}
    for eid, (u, m, v) in enumerate(rows):
        by_user.setdefault(u, []).append((m, eid, contract(v)))
    expected = {}
    for evs in by_user.values():
        evs.sort()
        y = 0.0
        for i, (_, eid, x) in enumerate(evs):
            xv = float("nan") if x is None else x
            y = xv if i == 0 else _EWMA_ALPHA * xv + (1 - _EWMA_ALPHA) * y
            expected[eid] = (x, _round6(y))
    with staged(spark, events=_events(rows)) as dst:
        got = {
            r.event_id: (r.value, r.ewma) for r in q_ts_ewma(spark, dst).collect()
        }
    assert got == expected


cusum_events = st.lists(
    # (event_type index, minute offset, value) — finite values only: the
    # target of THIS test is the clamp↔prefix-min identity; the NULL
    # path is the NULLCHECK battery's job
    st.tuples(
        st.integers(0, 1),
        st.integers(0, 40),
        st.floats(min_value=-50.0, max_value=200.0, allow_nan=False),
    ),
    min_size=0,
    max_size=20,
)


_CUSUM_TARGET = 60_000_000
_CUSUM_H = 200_000_000


@settings(max_examples=10, deadline=None)
@given(cusum_events)
def test_cusum_window_identity_matches_clamp_recurrence(spark, rows):
    """q_ts_cusum computes S_t via the Lindley identity
    S_t = P_t - min(0, min_{j<=t} P_j) as two stacked window prefixes;
    this replays the DEFINING clamp recurrence S_t = max(0, S_{t-1}+d_t)
    directly — random burst/decay shapes, duplicate timestamps (the
    event_id tiebreak), all-negative and all-positive series."""
    from spring_and_kafka_spark.operators.timeseries import q_ts_cusum

    epoch = dt.datetime(1970, 1, 1)
    by_type: dict[str, list] = {}
    for eid, (t, m, v) in enumerate(rows):
        # NTZ wall-time micros (UTC session): not .timestamp(), which
        # would apply the host zone
        us = int(
            (_TS_MAR + dt.timedelta(minutes=m) - epoch).total_seconds() * 1e6
        )
        d = math.floor(v * 1e6 + 0.5) - _CUSUM_TARGET
        by_type.setdefault(f"t{t}", []).append((us, eid, d))
    expected = {}
    for t, evs in by_type.items():
        evs.sort()
        s = 0
        n_alarms, max_c, first_us = 0, None, None
        for us, _, d in evs:
            s = max(0, s + d)
            max_c = s if max_c is None else max(max_c, s)
            if s > _CUSUM_H:
                n_alarms += 1
                if first_us is None:
                    first_us = us
        expected[t] = (len(evs), n_alarms, max_c, first_us)
    with staged(spark, events=_typed_events(rows)) as dst:
        got = {
            r.event_type: (r.n_events, r.n_alarms, r.max_cusum_micros, r.first_alarm_us)
            for r in q_ts_cusum(spark, dst).collect()
        }
    assert got == expected


mad_events = st.lists(
    st.tuples(
        st.integers(0, 1),
        st.floats(min_value=-100.0, max_value=100.0, allow_nan=False),
    ),
    min_size=1,
    max_size=25,
)


def _pct_interp(sorted_vals, q=0.5):
    """Linear-interpolation percentile (Spark percentile / DuckDB
    quantile_cont definition)."""
    n = len(sorted_vals)
    idx = (n - 1) * q
    lo = math.floor(idx)
    hi = math.ceil(idx)
    if lo == hi:
        return float(sorted_vals[lo])
    return sorted_vals[lo] + (idx - lo) * (sorted_vals[hi] - sorted_vals[lo])


@settings(max_examples=10, deadline=None)
@given(mad_events)
def test_mad_matches_replay(spark, rows):
    """Median/MAD interpolation replay: odd/even group sizes (the .5
    interpolation grid), constant series (MAD 0 -> every deviation > 0
    is an outlier), single-row groups."""
    from spring_and_kafka_spark.operators.timeseries import q_ts_mad

    by_type: dict[str, list] = {}
    for t, v in rows:
        by_type.setdefault(f"t{t}", []).append(math.floor(v * 1e6 + 0.5))
    expected = {}
    for t, vis in by_type.items():
        med = _pct_interp(sorted(vis))
        devs = [abs(vi - med) for vi in vis]
        mad = _pct_interp(sorted(devs))
        n_out = sum(1 for d in devs if d > 4.4478 * mad)
        expected[t] = (len(vis), med, mad, n_out)
    got = {}
    rates = {}
    with staged(
        spark,
        events=_typed_events([(t, i, v) for i, (t, v) in enumerate(rows)]),
    ) as dst:
        for r in q_ts_mad(spark, dst).collect():
            got[r.event_type] = (r.n, r.med_micros, r.mad_micros, r.n_outliers)
            rates[r.event_type] = r.outlier_rate
    assert got == expected
    for t, (n, _, _, n_out) in expected.items():
        assert abs(rates[t] - n_out / n) < 5e-7  # round(x, 6) half-up


gap_events = st.lists(
    # (type index incl. a None spelling, day offset -3..40, quarter-units)
    st.tuples(
        st.integers(0, 2),
        st.integers(-3, 40),
        st.one_of(st.integers(-400, 400), st.none()),
    ),
    min_size=0,
    max_size=25,
)


@settings(max_examples=8, deadline=None)
@given(gap_events)
def test_gapfill_matches_replay(spark, rows):
    """Spine semantics replay: the 35-day fixed spine × distinct types
    grid, zero-filled buckets, events OUTSIDE the spine contributing
    their type but no counts, types observed only outside the spine
    producing all-zero rows, NULL event_type grid rows never matching
    (equi-join, not null-safe — both engines agree), and all-NULL-value
    buckets coalescing to 0.0 while their count stays positive. Values
    are quarter-units so sums and round(x, 2) are exact in binary."""
    from spring_and_kafka_spark.operators.timeseries import q_gapfill

    types = ["a", "b", None]
    data = [
        (types[t], dt.datetime(2024, 1, 1) + dt.timedelta(days=d, hours=5), None if q is None else q / 4.0)
        for t, d, q in rows
    ]

    distinct_types = {t for t, _, _ in data}
    spine = [
        dt.datetime(2024, 1, 1) + dt.timedelta(days=i) for i in range(35)
    ]
    daily: dict = {}
    for t, ts, v in data:
        day = dt.datetime(ts.year, ts.month, ts.day)
        cnt, tot, any_v = daily.get((day, t), (0, 0.0, False))
        daily[(day, t)] = (
            cnt + 1,
            tot + (v if v is not None else 0.0),
            any_v or v is not None,
        )
    expected = {}
    for day in spine:
        for t in distinct_types:
            if t is None:
                expected[(day, t)] = (0, 0.0)  # equi-join: NULL never matches
                continue
            cnt, tot, any_v = daily.get((day, t), (0, 0.0, False))
            expected[(day, t)] = (cnt, tot if any_v else 0.0)
    events_rows = [(i, ts, t, v) for i, (t, ts, v) in enumerate(data)]
    with staged(spark, events=(events_rows, _TYPED_EVENTS)) as dst:
        got = {
            (r.day, r.event_type): (r.n, r.sum_value)
            for r in q_gapfill(spark, dst).collect()
        }
    assert got == expected


@settings(max_examples=15, deadline=None)
@given(ev_rows)
def test_theilsen_matches_pairwise_replay(spark, rows):
    """Median pairwise slope on exact micro-unit daily revenue: every
    slope one identical IEEE division, NULL-rev pairs counted but
    skipped by the median, NULL-ts rows excluded — replayed pair by
    pair."""
    from spring_and_kafka_spark.operators.timeseries import q_ts_theilsen

    daily = daily_micros(rows, keep_null_day=False)
    expected = {}
    for et in {k[0] for k in daily}:
        days = sorted(k[1] for k in daily if k[0] == et)
        pairs = []
        for i in range(len(days)):
            for j in range(i + 1, len(days)):
                a, b = daily[(et, days[i])], daily[(et, days[j])]
                pairs.append(
                    None
                    if a is None or b is None
                    else (b - a) * 1.0 / (days[j] - days[i])
                )
        if pairs:
            med = interp_median(pairs)
            expected[et] = (
                len(pairs),
                None if med is None else round(med, 4),
            )

    with staged(spark, events=ev_table(rows)) as d:
        got = {
            r.event_type: (r.n_pairs, r.slope_micros_per_day)
            for r in q_ts_theilsen(spark, d).collect()
        }
    assert got == expected


def _trunc_div(s: int, c: int) -> int:
    """Spark `div` / DuckDB `//`: integer division truncating toward
    zero (Python // floors, so negatives need the sign dance)."""
    q = abs(s) // c
    return q if s >= 0 else -q


def _median(vals):
    vs = sorted(vals)
    if not vs:
        return None
    m = len(vs) // 2
    if len(vs) % 2:
        return float(vs[m])
    return (vs[m - 1] + vs[m]) / 2.0


stl_events = st.lists(
    st.tuples(
        st.integers(0, 27),  # day offset (spans all 7 dows)
        st.sampled_from(["view", "click"]),
        st.one_of(
            st.none(),
            st.just(NAN),
            st.just(INF),
            st.floats(-1000, 1000, allow_nan=False, allow_infinity=False),
        ),
    ),
    min_size=1,
    max_size=48,
)


@settings(max_examples=12, deadline=None)
@given(stl_events)
def test_stl_residual_matches_integer_replay(spark, evs):
    """Deseasonalize (truncating int div on micro-units, per (type,
    dow)) then double-MAD, replayed exactly in Python through the
    finite-or-null contract (NaN/Inf arrive as NULL). Integer columns
    and the .5/.25-grid medians are compared exactly; the rounded rate
    columns ride on the same counts so they are implied."""
    from spring_and_kafka_spark.operators.timeseries import (
        q_ts_stl_residual,
    )

    per_type = defaultdict(list)  # type -> [(dow, vi-or-None)]
    for day, typ, val in evs:
        ts = TS0 + dt.timedelta(days=day, hours=3)
        vi = (
            None
            if val is None or not math.isfinite(val)
            else math.floor(val * 1e6 + 0.5)
        )
        per_type[typ].append((ts.isoweekday(), vi))
    expected = {}
    for typ, rows in per_type.items():
        by_dow = defaultdict(list)
        for dow, vi in rows:
            if vi is not None:
                by_dow[dow].append(vi)
        dmean = {
            dow: _trunc_div(sum(vs), len(vs)) for dow, vs in by_dow.items()
        }
        vis = [vi for _, vi in rows if vi is not None]
        rs = [vi - dmean[dow] for dow, vi in rows if vi is not None]
        med_v, med_r = _median(vis), _median(rs)
        dev_v = [abs(v - med_v) for v in vis]
        dev_r = [abs(r - med_r) for r in rs]
        mad_v, mad_r = _median(dev_v), _median(dev_r)
        n_out_raw = sum(1 for x in dev_v if x > 4.4478 * mad_v)
        n_out_adj = sum(1 for x in dev_r if x > 4.4478 * mad_r)
        expected[typ] = (len(rows), n_out_raw, n_out_adj, med_r, mad_r)

    events_rows = [
        (i, TS0 + dt.timedelta(days=day, hours=3), i % 5, typ, val)
        for i, (day, typ, val) in enumerate(evs)
    ]
    with staged(spark, events=(events_rows, EVENTS)) as d:
        got = {
            r.event_type: (
                r.n,
                r.n_out_raw,
                r.n_out_adj,
                r.med_res_micros,
                r.mad_res_micros,
            )
            for r in q_ts_stl_residual(spark, d).collect()
        }
    assert got == expected


xcorr_events = st.lists(
    st.tuples(
        st.integers(0, 9),  # day offset
        st.sampled_from(["view", "purchase", "click"]),
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=10, deadline=None)
@given(xcorr_events)
def test_ts_crosscorr_matches_integer_moments(spark, evs):
    """Per-lag (n_pairs, xcorr) vs explicit integer moments over the
    day-count pairs — constant series (variance 0) must be NULL; a day
    exists iff ANY event landed on it (click-only days carry (0, 0)
    counts that legitimately enter the moments)."""
    from spring_and_kafka_spark.operators.timeseries import q_ts_crosscorr

    days = {}
    for day, typ in evs:
        x, y = days.get(day, (0, 0))
        days[day] = (x + (typ == "view"), y + (typ == "purchase"))
    expected = {}
    for lag in range(-3, 4):
        pairs = [
            (days[t][0], days[t + lag][1])
            for t in days
            if (t + lag) in days
        ]
        if not pairs:
            continue
        n = len(pairs)
        sx = sum(x for x, _ in pairs)
        sy = sum(y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        sxx = sum(x * x for x, _ in pairs)
        syy = sum(y * y for _, y in pairs)
        vx, vy = n * sxx - sx * sx, n * syy - sy * sy
        xc = (
            math.floor(
                float(n * sxy - sx * sy) * 1e6
                / (math.sqrt(float(vx)) * math.sqrt(float(vy)))
                + 0.5
            )
            / 1e6
            if vx > 0 and vy > 0
            else None
        )
        expected[lag] = (n, xc)
    rows = [
        (i, TS0 + dt.timedelta(days=day, minutes=i), 1, typ, 1.0)
        for i, (day, typ) in enumerate(evs)
    ]
    with staged(spark, events=(rows, EVENTS)) as d:
        got = {
            r.lag_days: (r.n_pairs, r.xcorr)
            for r in q_ts_crosscorr(spark, d).collect()
        }
    assert got == expected


chg_events = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),
        st.one_of(st.none(), st.integers(0, 14)),  # day (None -> NULL ts)
        st.one_of(
            st.none(), st.sampled_from([0.0, 0.5, 1.25, -3.0, 10.0, 42.5])
        ),
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=10, deadline=None)
@given(chg_events)
def test_changepoint_matches_segment_scan_replay(spark, evs):
    from spring_and_kafka_spark.operators.timeseries import q_ts_changepoint

    daily = defaultdict(lambda: None)  # (type, day) -> micros sum or None
    seen = set()
    for et, day, v in evs:
        if day is None:
            continue
        seen.add((et, day))
        if v is not None:
            m = math.floor(v * 1e6 + 0.5)
            cur = daily[(et, day)]
            daily[(et, day)] = m if cur is None else cur + m
    expected = {}
    for et in {t for t, _ in seen}:
        days = sorted(d for t, d in seen if t == et)
        s = [daily[(et, d)] or 0 for d in days]
        n = len(days)
        if n < 2:
            continue
        stot = sum(s)
        best = None
        si = 0
        for i in range(1, n):
            si += s[i - 1]
            num = n * si - i * stot
            gain = (float(num) * num) / (i * (n - i))
            key = (-gain, days[i - 1])
            if best is None or key < best[0]:
                best = (key, i, si, days[i - 1])
        _k, i, si, day = best
        expected[et] = (
            n,
            TS0 + dt.timedelta(days=day),
            i,
            math.floor(float(si) / i + 0.5) / 1e6,
            math.floor(float(stot - si) / (n - i) + 0.5) / 1e6,
        )

    events_rows = [
        (
            j,
            None if day is None else TS0 + dt.timedelta(days=day),
            1,
            et,
            v,
        )
        for j, (et, day, v) in enumerate(evs)
    ]
    with staged(spark, events=(events_rows, EVENTS)) as d:
        got = {
            r.event_type: (
                r.n_days, r.change_day, r.n_before, r.mean_before,
                r.mean_after,
            )
            for r in q_ts_changepoint(spark, d).collect()
        }
    assert got == expected
