"""Read a Spark event log (uncompressed JSON lines) with the stdlib only.

Jobs are attributed to an op by the job group (``spark.jobGroup.id``) or
a job tag (``spark.job.tags``) in the job-start properties; stages and
tasks follow their job. Streaming micro-batch jobs carry the query's
run id as their job group, so a drain is attributed by its run id.

Usage as a library::

    log = read_event_log(path)          # file, or a directory of logs
    per_op = summarize(log, keys)       # {op id: {metric: value}}
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from pathlib import Path

# Per-op metric names produced by summarize(), in report order.
METRICS = (
    "jobs",
    "stages",
    "stages_skipped",
    "tasks",
    "tasks_failed",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "scan_bytes",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "shuffle_fetch_wait_s",
    "spill_bytes",
    "peak_exec_mem_bytes",
)


def _log_files(path: Path) -> list[Path]:
    if path.is_file():
        return [path]
    files = []
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(".") or n.endswith(".inprogress.crc"):
                continue
            if n.startswith("appstatus_"):
                continue
            files.append(Path(root) / n)

    def order(p: Path):
        # rolling logs: events_<index>_<app id>; keep each app's index order
        parts = p.name.split("_")
        idx = int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0
        return (str(p.parent), idx, p.name)

    return sorted(files, key=order)


def read_event_log(path) -> list[dict]:
    """Every event of every log file under ``path``, in file order.
    A torn last line (the app was killed mid-write) is skipped."""
    events = []
    for f in _log_files(Path(path)):
        with open(f, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    continue
    return events


def _job_keys(props: dict) -> set[str]:
    keys = set()
    if props.get("spark.jobGroup.id"):
        keys.add(props["spark.jobGroup.id"])
    for tag in (props.get("spark.job.tags") or "").split(","):
        if tag:
            keys.add(tag)
    return keys


def summarize(events: list[dict], keys: dict[str, str]) -> dict:
    """Per-op execution metrics. ``keys`` maps a job group or tag to the
    op it belongs to (several keys may name one op); jobs of any other
    group are ignored."""
    wanted = set(keys.values())
    stage_op: dict[int, str] = {}
    planned: dict[str, set] = defaultdict(set)
    submitted: dict[str, set] = defaultdict(set)
    out = {op: dict.fromkeys(METRICS, 0.0) for op in wanted}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            hit = sorted(_job_keys(ev.get("Properties") or {}) & keys.keys())
            if not hit:
                continue
            op = keys[hit[0]]
            out[op]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_op[sid] = op
                planned[op].add(sid)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_op:
                submitted[stage_op[sid]].add(sid)
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(ev.get("Stage ID"))
            if op is None:
                continue
            m = out[op]
            m["tasks"] += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if reason != "Success":
                m["tasks_failed"] += 1
            tm = ev.get("Task Metrics") or {}
            m["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            m["scan_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            m["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            m["peak_exec_mem_bytes"] = max(
                m["peak_exec_mem_bytes"], tm.get("Peak Execution Memory", 0)
            )
    for op in wanted:
        out[op]["stages"] = len(submitted[op])
        out[op]["stages_skipped"] = len(planned[op] - submitted[op])
    return out
