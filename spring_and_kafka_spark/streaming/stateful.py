"""Arbitrary stateful per-key logic (SURVEY.md §2.8): the generalization of
the reference's per-batch handle lambda
(reference: src/main/java/jc/DemoApplication.java:154-157) to keyed,
fault-tolerant streaming state via applyInPandasWithState.

State per key is a (count, total) pair — the kernel is trivial on purpose;
the value is the plumbing: Arrow-batched groups, explicit state schema,
timeout handling, and identical results whether a key's events arrive in
one micro-batch or twenty.

State-schema compatibility: the state StructTypes in this module are part
of each query's CHECKPOINT contract. Spark validates stored state rows
against the current schema on restart, so widening one (as when
CUSUM_STATE_SCHEMA gained ``seen``) breaks resume-from-old-checkpoint with
a state-schema-compatibility error. Upgrades that change a state schema
must either discard the query's checkpoint directory (replay from the
source — the engine's sources are replayable by design) or start a NEW
checkpoint dir versioned alongside the schema (e.g. ``.../cusum_v2``).
Never reuse a checkpoint across a state-schema change.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def _update_user_totals(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum(value)) maintained in keyed state; one
    updated row per user per micro-batch (Update output mode)."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _update_user_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


CUSUM_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_alarms", T.LongType()),
        T.StructField("max_cusum_micros", T.LongType()),
        T.StructField("first_alarm_us", T.LongType()),
    ]
)
CUSUM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("pre", T.LongType()),
        T.StructField("minpre", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("n_alarms", T.LongType()),
        T.StructField("max_cusum", T.LongType()),
        T.StructField("first_alarm_us", T.LongType()),
        # 0 until the key has seen ONE non-NULL deviation: a key whose
        # history is all NULL has no cusum value at all in the batch
        # form (every window sum is NULL), so max_cusum must read NULL,
        # not the state's 0 seed
        T.StructField("seen", T.LongType()),
    ]
)

_CUSUM_H = 200_000_000


def _update_cusum(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    """Carry (prefix sum, running min prefix) across micro-batches — the
    two numbers that make the clamp recurrence S_t = max(0, S_{t-1}+d_t)
    resumable: S = pre − min(0, minpre) (operators/timeseries.py::
    q_ts_cusum states the same identity as stacked windows). Rows within
    a batch vectorize as cumsum/cummin; the alarm stats fold into state
    so the last emitted row per key IS the full-history answer."""
    import numpy as np

    if state.exists:
        pre, minpre, n, n_alarms, max_cusum, first_alarm, seen = state.get
    else:
        pre, minpre, n, n_alarms, max_cusum, first_alarm, seen = (
            0, 0, 0, 0, 0, None, 0,
        )
    # a key's micro-batch rows may span several Arrow chunks — assemble
    # the whole batch before sorting, or the recurrence runs out of order
    chunks = [p for p in pdfs if len(p)]
    if chunks:
        pdf = pd.concat(chunks).sort_values(["us", "event_id"])
        # NULL deviations (the float contract normalizes NaN value to
        # NULL upstream) arrive as NaN in the Arrow batch; the batch
        # q_ts_cusum's window sum SKIPS them — the row still counts in
        # n_events but moves the prefix by 0, which is exactly fillna(0)
        pres = pre + np.cumsum(
            pdf["d"].fillna(0).to_numpy(dtype=np.int64)
        )
        minpres = np.minimum(minpre, np.minimum.accumulate(pres))
        cusums = pres - np.minimum(minpres, 0)
        alarms = cusums > _CUSUM_H
        n += len(pdf)
        n_alarms += int(alarms.sum())
        max_cusum = max(max_cusum, int(cusums.max()))
        pre = int(pres[-1])
        minpre = int(minpres[-1])
        seen = int(seen or pdf["d"].notna().any())
        if first_alarm is None and alarms.any():
            first_alarm = int(pdf["us"].to_numpy()[np.argmax(alarms)])
    state.update((pre, minpre, n, n_alarms, max_cusum, first_alarm, seen))
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n_events": [n],
            "n_alarms": [n_alarms],
            # all-NULL history: the batch form's every window sum is
            # NULL, so there is no max cusum to report (extra fillna(0)
            # rows are otherwise harmless — every real cusum is ≥ 0,
            # so a 0 can never change the max)
            "max_cusum_micros": pd.array(
                [max_cusum if seen else None], dtype="Int64"
            ),
            "first_alarm_us": [first_alarm],
        }
    )


def cusum_stream(deviations: DataFrame) -> DataFrame:
    """Streaming CUSUM over (event_type, event_id, us, d) rows: per-key
    drift state maintained in applyInPandasWithState; one updated
    summary row per key per micro-batch. Equality with the batch
    q_ts_cusum under in-order replay is asserted in
    tests/test_streaming_advanced.py."""
    return deviations.groupBy("event_type").applyInPandasWithState(
        _update_cusum,
        outputStructType=CUSUM_OUTPUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


ATTR_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("us", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("campaign", T.LongType()),
    ]
)
ATTR_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_click_us", T.LongType()),
        T.StructField("last_click_k", T.LongType()),
    ]
)
_ATTR_WINDOW_US = 7 * 86_400_000_000


def _update_attribution(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    """Carry (last_click_us, last_click_k) per user across micro-batches
    — the only state last-touch attribution needs: a purchase is
    attributed to the carried click iff it falls inside the 7-day
    lookback, exactly the batch q_attribution window semantics
    (operators/analytics.py), made resumable. Rows within a batch
    vectorize as a forward-fill seeded from state."""
    import numpy as np

    if state.exists:
        last_us, last_k = state.get
    else:
        last_us, last_k = None, None
    chunks = [p for p in pdfs if len(p)]
    out = []
    if chunks:
        pdf = pd.concat(chunks).sort_values(["us", "event_id"])
        # The touchpoint is the most recent TAGGED click — its k and us
        # travel TOGETHER, exactly the batch oracle's single struct
        # carry (operators/analytics.py::q_attribution): two separate
        # carries can pair a tagged click's k with a LATER untagged
        # click's timestamp and attribute through an expired lookback
        # (a property-battery bug, reproduced on the streaming
        # path by tests/test_streaming_nullnan.py).
        tagged = (
            (pdf["event_type"] == "click").to_numpy()
            & pdf["k"].notna().to_numpy()
        )
        click_us = pdf["us"].where(tagged).ffill()
        click_k = pdf["k"].where(tagged).ffill()
        if last_us is not None:
            click_us = click_us.fillna(last_us)
        if last_k is not None:
            click_k = click_k.fillna(last_k)
        purch = (pdf["event_type"] == "purchase").to_numpy()
        if purch.any():
            p_us = pdf["us"].to_numpy()[purch]
            c_us = click_us.to_numpy(dtype="float64")[purch]
            c_k = click_k.to_numpy(dtype="float64")[purch]
            in_window = ~np.isnan(c_us) & (p_us - c_us <= _ATTR_WINDOW_US)
            campaign = np.where(in_window, np.nan_to_num(c_k, nan=-1), -1)
            out.append(
                pd.DataFrame(
                    {
                        "user_id": np.full(purch.sum(), key[0]),
                        "us": p_us,
                        # nullable Float64: a NULL purchase value (the
                        # float contract nulls NaN upstream) must leave
                        # the operator as NULL, not as a NaN double the
                        # contract says cannot exist inside the engine
                        "value": pd.Series(
                            pdf["value"].to_numpy()[purch]
                        ).astype("Float64"),
                        "campaign": campaign.astype("int64"),
                    }
                )
            )
        if tagged.any():
            last_us = int(pdf["us"].to_numpy()[tagged][-1])
            last_k = int(pdf["k"].where(tagged).dropna().iloc[-1])
    state.update((last_us, last_k))
    yield from out or [
        pd.DataFrame(
            {"user_id": [], "us": [], "value": [], "campaign": []}
        ).astype(
            {
                "user_id": "int64",
                "us": "int64",
                "value": "float64",
                "campaign": "int64",
            }
        )
    ]


def attribution_stream(events: DataFrame) -> DataFrame:
    """Streaming last-touch attribution over (user_id, event_id, us,
    event_type, value, k) rows: per-user click state in
    applyInPandasWithState; attributed purchase rows emitted in the
    micro-batch their purchase arrives (append mode — each purchase is
    final the moment it is seen, because only PRECEDING clicks can claim
    it). The per-campaign rollup composes downstream exactly as in the
    batch q_attribution. Equality with the batch path under in-order
    replay is asserted in tests/test_streaming_advanced.py."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_attribution,
        outputStructType=ATTR_OUTPUT_SCHEMA,
        stateStructType=ATTR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
