"""Tests of the benchmark's own stdlib parts (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import datetime as dt
import json
import sys
from decimal import Decimal
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import eventlog  # noqa: E402
import oracle  # noqa: E402
from run import percentile_tail  # noqa: E402
from spans import Tracer  # noqa: E402

COLS = ["day", "n", "rate"]
ROWS = [
    (dt.date(2024, 1, 2), 7, 0.1 + 0.2),
    (dt.date(2024, 1, 1), 3, None),
    (None, 1, 1.0),
]


def test_digest_is_order_insensitive():
    assert oracle.digest(COLS, ROWS) == oracle.digest(COLS, list(reversed(ROWS)))


def test_digest_matches_across_engine_value_types():
    # DuckDB may return a DECIMAL where Spark returns the same number
    spark_rows = [(1, 2.5)]
    duck_rows = [(1, Decimal("2.50"))]
    assert oracle.mismatch(
        oracle.digest(["k", "v"], spark_rows), oracle.digest(["k", "v"], duck_rows)
    ) is None


def test_corrupted_expected_value_is_caught():
    good = oracle.digest(COLS, ROWS)
    assert oracle.mismatch(oracle.digest(COLS, ROWS), good) is None
    # one value off in the last float digit
    bad_rows = [ROWS[0][:2] + (0.3,), *ROWS[1:]]
    assert "sha256" in oracle.mismatch(oracle.digest(COLS, bad_rows), good)
    # a corrupted expectation on disk: wrong hash, count or columns
    for key, value in (("sha256", "0" * 64), ("rows", 4), ("columns", ["day", "n"])):
        corrupt = json.loads(json.dumps({**good, key: value}))
        assert key in oracle.mismatch(good, corrupt)
    # a dropped row
    assert "rows" in oracle.mismatch(oracle.digest(COLS, ROWS[:2]), good)


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 31)]
    value, pct, n = percentile_tail(xs)
    assert (n, value) == (30, 20.0)
    assert sum(x > value for x in xs) == 10
    assert round(pct, 1) == 66.7
    assert percentile_tail([3.0, 1.0]) == (3.0, 100.0, 2)


def _write_log(path: Path, events) -> None:
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n{torn")


def test_event_log_attributes_jobs_stages_and_tasks(tmp_path):
    task = {
        "Event": "SparkListenerTaskEnd",
        "Task End Reason": {"Reason": "Success"},
        "Task Metrics": {
            "Executor Run Time": 1500,
            "Executor CPU Time": 1_000_000_000,
            "JVM GC Time": 100,
            "Input Metrics": {"Bytes Read": 10},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
            "Shuffle Read Metrics": {
                "Remote Bytes Read": 1,
                "Local Bytes Read": 2,
                "Fetch Wait Time": 30,
            },
            "Memory Bytes Spilled": 4,
            "Disk Bytes Spilled": 6,
            "Peak Execution Memory": 64,
        },
    }
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "op1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}},
        {**task, "Stage ID": 1},
        {**task, "Stage ID": 1, "Task End Reason": {"Reason": "ExceptionFailure"}},
        # a streaming job, attributed by the query's run id
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "run-abc"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}},
        {**task, "Stage ID": 2},
        # a tagged job, and a job nobody asked about
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {"spark.job.tags": "x,op2"}},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Stage IDs": [4],
         "Properties": {"spark.jobGroup.id": "other"}},
        {**task, "Stage ID": 4},
    ]
    log = tmp_path / "logs"
    log.mkdir()
    _write_log(log / "events_1_app", events)
    got = eventlog.summarize(
        eventlog.read_event_log(log), {"op1": "op1", "run-abc": "op1", "op2": "op2"}
    )
    assert set(got) == {"op1", "op2"}
    op1 = got["op1"]
    assert (op1["jobs"], op1["stages"], op1["stages_skipped"]) == (2, 2, 1)
    assert (op1["tasks"], op1["tasks_failed"]) == (3, 1)
    assert op1["task_run_s"] == 4.5 and op1["task_cpu_s"] == 3.0
    assert op1["shuffle_read_bytes"] == 9 and op1["spill_bytes"] == 30
    assert op1["peak_exec_mem_bytes"] == 64
    assert (got["op2"]["jobs"], got["op2"]["stages_skipped"], got["op2"]["tasks"]) == (1, 1, 0)


def test_self_time_subtracts_covered_child_time():
    tr = Tracer(True)
    with tr.span("op", op="o") as op:
        pass
    op["start"], op["end"] = 0.0, 10.0
    tr.add("build", 1.0, 3.0, op)
    tr.add("action", 2.0, 9.0, op)  # overlaps build by one second
    got = tr.self_times()
    assert abs(got["op"] - 2.0) < 1e-9
    assert got["build"] == 2.0 and got["action"] == 7.0
