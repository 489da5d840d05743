"""The benchmark: warm whole-output query mixes and a replayed event stream.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 25 --trace 0

Workloads (perfbench/README.md says why each was chosen):

- ``query_mix``: the QUERY_MIX registered queries, each op a whole-output
  ``df.write.format("noop")`` save, one at a time (closed loop, one
  client), in a seed-shuffled order per round.
- ``event_stream``: ``availableNow`` drains of the stateful
  ``tumbling_counts`` job and the ``freshness_delta_stream`` maintainer
  (with its ``maintained_freshness`` merge-on-read) over staged event
  chunks, ``maxFilesPerTrigger=1``, one drain at a time.

Every run sets up SETUPS times (``setup_s`` is the median), checks every
output against its DuckDB expectation outside timing, warms up, then
measures a fixed number of whole rounds that fill about ``--seconds``
(see rounds()). The last stdout line is
one JSON object: ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics of a traced run (event log, catalyst
phases, streaming progress, spans) plus its overhead against an untraced
run of the same seed. Exits non-zero, printing no result, when the
engine package is not beside this directory.
"""

from __future__ import annotations

import argparse
import datetime as dt
import itertools
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
sys.path.insert(0, str(HERE))

import eventlog  # noqa: E402
import fixtures  # noqa: E402
import oracle  # noqa: E402
from fixtures import STREAM_SLICES  # noqa: E402
from spans import Tracer  # noqa: E402

QUERY_MIX = (
    # sub-second relational: planning, job/stage overhead, shuffles
    "q_agg_group",
    "q_join_multi",
    "q_tpch_q5",
    "q_tpch_q18",
    "q_win_frame_rows",
    "q_topk_per_group",
    "q_pivot",
    "q_subquery_scalar",
    "q_stream_tumble",
    # eager materialize() at build time, the similarity kernel, the
    # Arrow pandas-UDF path
    "q_ts_crosscorr",
    "q_sim_topk",
    "q_udf_pandas",
)
WORKLOADS = ("query_mix", "event_stream")
SETUPS = 3
STREAM_CHUNKS = 8
# Nominal length of one timed round (a pass over the mix; one drain of
# each stream job) on 4 cores; see rounds().
ROUND_S = {"query_mix": 10.0, "event_stream": 13.5}
CHECK_THREADS = 3
WARM_CHUNKS = 2  # the warm-up drains replay one slice in fewer, larger batches


def percentile_tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count). With ten samples or fewer no
    such percentile exists and the maximum is returned as p100."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def peak_rss_mb(pids) -> float:
    """Kernel high-water RSS (VmHWM) summed over ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


class Stats:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, what: str, problem: str | None) -> None:
        self.attempted += 1
        if problem:
            self.failed += 1
            print(f"FAIL {what}: {problem}", file=sys.stderr)


def ensure_inputs() -> tuple[Path, dict]:
    """Generate the tables and their DuckDB expectations once per
    checkout (each in its own process), then reuse them."""
    data = WORK / f"data-v{fixtures.VERSION}"
    if not (data / "sf").is_dir():
        subprocess.run([sys.executable, str(HERE / "fixtures.py"), str(data)], check=True)
    path = data / "expected.json"
    expected = json.loads(path.read_text()) if path.is_file() else {}
    if not set(QUERY_MIX) <= expected.keys():
        tmp = data / "expected.json.tmp"
        subprocess.run(
            [sys.executable, str(HERE / "oracle.py"), str(data), str(tmp), *QUERY_MIX],
            check=True,
        )
        os.replace(tmp, path)
        expected = json.loads(path.read_text())
    return data, expected


def launch_env(run_dir: Path, traced: bool) -> None:
    """Process environment for the Spark JVM: cores, scratch dirs inside
    the checkout and, for the traced run only, the event log. Nothing
    here changes the session get_spark() builds."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    if traced:
        (run_dir / "eventlog").mkdir()
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{run_dir / 'eventlog'}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*args, "pyspark-shell"])


class Hooks:
    """Traced-run instrumentation: wrappers around exec_utils.materialize
    and sources.tables.load_table (installed before the operator modules
    import them), job groups per op, and catalyst phases from a
    QueryExecutionListener."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self._reset()
        if not enabled:
            return
        from spring_and_kafka_spark import exec_utils
        from spring_and_kafka_spark.sources import tables

        def counted(fn, on_done):
            def wrapper(*a, **kw):
                t0 = time.perf_counter()
                try:
                    return fn(*a, **kw)
                finally:
                    on_done(time.perf_counter() - t0)

            return wrapper

        def on_materialize(dt_s):
            self.materialize_calls += 1
            self.materialize_s += dt_s

        def on_load(_dt_s):
            self.load_calls += 1

        exec_utils.materialize = counted(exec_utils.materialize, on_materialize)
        tables.load_table = counted(tables.load_table, on_load)

    def attach(self, spark) -> None:
        if not self.enabled:
            return
        from pyspark.java_gateway import ensure_callback_server_started

        hooks = self

        class Listener:
            def onSuccess(self, func_name, qe, duration_ns):
                try:
                    got = {}
                    phases = qe.tracker().phases()
                    for name in ("analysis", "optimization", "planning"):
                        opt = phases.get(name)
                        if opt.isDefined():
                            got[name] = opt.get().durationMs()
                    hooks.phases.append(got)
                except Exception:  # noqa: BLE001 - never fail the query
                    pass

            def onFailure(self, func_name, qe, exception):
                pass

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(Listener())

    def begin_op(self, spark, op_id: str) -> None:
        if self.enabled:
            spark.sparkContext.setJobGroup(op_id, op_id)

    def _reset(self) -> None:
        self.materialize_calls = 0
        self.materialize_s = 0.0
        self.load_calls = 0
        self.phases: list[dict] = []

    def end_op(self, spark) -> dict:
        """Wait for the listener bus so this op's catalyst phases have
        arrived, then hand over what was counted since the last call."""
        if self.enabled:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        got = {
            "phases": self.phases,
            "materialize_calls": self.materialize_calls,
            "materialize_s": self.materialize_s,
            "load_calls": self.load_calls,
        }
        self._reset()
        return got


class Bench:
    def __init__(self, args, data: Path, expected: dict, run_dir: Path, started: float):
        self.args = args
        self.started = started  # when this run's own work began
        self.first_op_at = started
        self.workload = args.workload
        self.traced = bool(args.trace)
        self.data = data
        self.sf = str(data / "sf")
        self.expected = expected
        self.run_dir = run_dir
        self.rng = random.Random(args.seed)
        self.tr = Tracer(self.traced)
        self.stats = Stats()
        self.hooks = Hooks(self.traced)
        self.spark = None
        self.specs = None
        # event_stream: timed drains start at slice `first`; the warm-up
        # drains replay the slice before it
        self.first = self.rng.randrange(STREAM_SLICES)
        self.topics: list[Path] = []
        self.warm_topic: Path | None = None
        self.setup_times: list[float] = []
        self.resolve_times: list[float] = []
        self.first_session_s = 0.0
        self.registry_s = 0.0
        self.warmup_s = 0.0
        self.timed_ops: list[dict] = []  # op records of the timed section
        self.keys: dict[str, str] = {}  # job group -> op id (traced)
        self.op_seq = itertools.count(1)

    # ----------------------------------------------------------- set-up
    def set_up(self, k: int) -> None:
        from spring_and_kafka_spark import registry
        from spring_and_kafka_spark.session import get_spark
        from spring_and_kafka_spark.sources.tables import TABLES, load_table

        with self.tr.span("setup") as s:
            with self.tr.span("session") as a:
                self.spark = get_spark("perfbench")
            with self.tr.span("registry") as b:
                self.specs = registry.all_specs()
            with self.tr.span("sources") as c:
                if self.workload == "query_mix":
                    for t in TABLES:
                        load_table(self.spark, self.sf, t)
            with self.tr.span("stage"):
                if self.workload == "event_stream":
                    self.stage(self.run_dir / f"topics{k}")
        if k == 0:
            self.first_session_s = a["end"] - a["start"]
            self.registry_s = b["end"] - b["start"]
        self.resolve_times.append(c["end"] - c["start"])
        self.setup_times.append(s["end"] - s["start"])

    def stage(self, root: Path) -> None:
        """Stage every stream slice as STREAM_CHUNKS time-ordered chunk
        files, and the warm-up slice as WARM_CHUNKS; chunk boundaries
        depend on the seed."""
        import numpy as np

        def one(k: int, name: str, chunks: int) -> Path:
            topic = root / name / "events.parquet"
            rng = np.random.default_rng([self.args.seed, k, chunks])
            fixtures.stage_chunks(fixtures.slice_dir(self.data, k), topic, chunks, rng)
            return topic

        self.topics = [one(k, f"slice{k}", STREAM_CHUNKS) for k in range(STREAM_SLICES)]
        self.warm_topic = one(self.warm_slice, "warm", WARM_CHUNKS)

    @property
    def warm_slice(self) -> int:
        return (self.first - 1) % STREAM_SLICES

    # -------------------------------------------------------------- ops
    def next_op(self, name: str) -> str:
        return f"op{next(self.op_seq):04d}-{name}"

    def query_op(self, name: str) -> dict:
        op_id = self.next_op(name)
        spec = self.specs[name]
        with self.tr.span("op", op=op_id) as op:
            self.hooks.begin_op(self.spark, op_id)
            with self.tr.span("build") as b:
                df = spec.fn(self.spark, self.sf)
            with self.tr.span("action"):
                df.write.format("noop").mode("overwrite").save()
        self.keys[op_id] = op_id
        return {
            "id": op_id,
            "span": op,
            "wall": op["end"] - op["start"],
            "build": b["end"] - b["start"],
            "hooks": self.hooks.end_op(self.spark),
        }

    def drain_op(self, job: str, k: int, topic: Path) -> tuple[dict, str | None]:
        """One availableNow drain of ``job`` over ``topic``, which holds
        stream slice ``k``; returns the op record and the output check's
        complaint (or None)."""
        from spring_and_kafka_spark.streaming.freshness import (
            freshness_delta_stream,
            maintained_freshness,
        )
        from spring_and_kafka_spark.streaming.replay import read_event_stream
        from spring_and_kafka_spark.streaming.windows import tumbling_counts

        op_id = self.next_op(f"{job}-slice{k}")
        out = self.run_dir / "sinks" / op_id
        table = op_id.replace("-", "_")  # the memory sink's table
        merge_s = 0.0
        with self.tr.span("op", op=op_id) as op:
            self.hooks.begin_op(self.spark, op_id)
            with self.tr.span("build") as b:
                stream = read_event_stream(self.spark, str(topic), 1)
                if job == "tumbling_counts":
                    w = (
                        tumbling_counts(stream)
                        .writeStream.format("memory")
                        .queryName(table)
                        .outputMode("complete")
                        .trigger(availableNow=True)
                        .option("checkpointLocation", str(out / "ckpt"))
                    )
            with self.tr.span("action") as act:
                if job == "tumbling_counts":
                    q = w.start()
                    q.awaitTermination()
                else:
                    q = freshness_delta_stream(stream, str(out / "state"))
                    q.awaitTermination()
                    with self.tr.span("merge_read") as m:
                        maintained_freshness(self.spark, str(out / "state")).write.format(
                            "noop"
                        ).mode("overwrite").save()
                    merge_s = m["end"] - m["start"]
        hooks = self.hooks.end_op(self.spark)
        progress = [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]
        self.keys[op_id] = op_id
        self.keys[str(q.runId)] = op_id
        self.add_batch_spans(progress, act)
        # output check, outside the op span
        twin = oracle.STREAM_TWINS[job]
        if job == "tumbling_counts":
            result = self.spark.table(table)
        else:
            result = maintained_freshness(self.spark, str(out / "state"))
        got = oracle.digest(result.columns, result.collect())
        if job == "tumbling_counts":
            self.spark.catalog.dropTempView(table)
        problem = oracle.mismatch(got, self.expected[oracle.slice_key(twin, k)])
        rec = {
            "id": op_id,
            "job": job,
            "span": op,
            "wall": op["end"] - op["start"],
            "build": b["end"] - b["start"],
            "hooks": hooks,
            "progress": progress,
            "merge_s": merge_s,
            "files": len(list(topic.glob("chunk-*.parquet"))),
        }
        return rec, problem

    def add_batch_spans(self, progress: list[dict], parent: dict) -> None:
        """Micro-batch spans from progress events, mapped from wall
        clock onto the perf_counter timeline."""
        offset = time.time() - time.perf_counter()
        for p in progress:
            start = (
                dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
                - offset
            )
            dur = p["durationMs"].get("triggerExecution", 0) / 1e3
            self.tr.add("batch", start, start + dur, parent)

    # ------------------------------------------------------- workloads
    def check_queries(self, order) -> None:
        """Collect every mix query once and compare it with its DuckDB
        expectation: the output check and the warm-up. The queries run
        CHECK_THREADS at a time; this pass is not timed."""

        def check(name: str) -> str | None:
            try:
                df = self.specs[name].fn(self.spark, self.sf)
                got = oracle.digest(df.columns, df.collect())
                return oracle.mismatch(got, self.expected[name])
            except Exception as e:  # noqa: BLE001 - counted as a failure
                return f"raised {type(e).__name__}: {str(e)[:200]}"

        with ThreadPoolExecutor(CHECK_THREADS) as pool:
            for name, problem in zip(order, pool.map(check, order)):
                self.stats.record(name, problem)

    def rounds(self) -> int:
        """Whole rounds that fill about --seconds at the nominal round
        length: the work per run is fixed, so no run measures one round
        more than another because the machine was a little slower."""
        return max(1, round(self.args.seconds / ROUND_S[self.workload]))

    def close(self) -> None:
        """Stop Spark and wait for its JVM to exit (once)."""
        if self.spark is not None:
            shut_down(self.spark)
            self.spark = None

    def run_query_mix(self) -> float:
        with self.tr.span("warmup") as w:
            self.check_queries(self.rng.sample(QUERY_MIX, len(QUERY_MIX)))
        self.warmup_s = w["end"] - w["start"]
        self.hooks.end_op(self.spark)  # drop what the warm-up counted
        self.first_op_at = time.perf_counter()
        t0 = time.perf_counter()
        for _ in range(self.rounds()):
            with self.tr.span("round"):
                for name in self.rng.sample(QUERY_MIX, len(QUERY_MIX)):
                    try:
                        self.timed_ops.append(self.query_op(name))
                        self.stats.record(name, None)
                    except Exception as e:  # noqa: BLE001
                        self.stats.record(name, f"raised {type(e).__name__}: {e}")
        return time.perf_counter() - t0

    def drain_pair(self, k: int, topic: Path, threads: int = 1) -> list[dict]:
        """Drain both stream jobs over ``topic``, one after the other
        (always in this order: which job runs first moves the pair's
        time by ~15% while the JVM is still warming), or side by side
        with ``threads=2`` (the untimed warm-up)."""
        jobs = ["tumbling_counts", "freshness"]

        def drain(job: str):
            try:
                return self.drain_op(job, k, topic)
            except Exception as e:  # noqa: BLE001 - counted as a failure
                return None, f"raised {type(e).__name__}: {str(e)[:200]}"

        if threads == 1:  # inline, so the drains' spans nest under the round
            results = [drain(job) for job in jobs]
        else:
            with ThreadPoolExecutor(threads) as pool:
                results = list(pool.map(drain, jobs))
        for job, (_rec, problem) in zip(jobs, results):
            self.stats.record(f"{job}@slice{k}", problem)
        return [rec for rec, _problem in results if rec is not None]

    def run_event_stream(self) -> float:
        with self.tr.span("warmup") as w:
            self.drain_pair(self.warm_slice, self.warm_topic, threads=2)
        self.warmup_s = w["end"] - w["start"]
        self.hooks.end_op(self.spark)  # drop what the warm-up counted
        self.first_op_at = time.perf_counter()
        for j in range(self.rounds()):
            with self.tr.span("round"):
                k = (self.first + j) % STREAM_SLICES
                self.timed_ops.extend(self.drain_pair(k, self.topics[k]))
        return sum(r["wall"] for r in self.timed_ops)

    # ---------------------------------------------------------- metrics
    def batches(self) -> list[dict]:
        return [p for r in self.timed_ops for p in r.get("progress", [])]

    def end_to_end(self, timed_wall: float, rss: float) -> tuple[dict, dict]:
        """(gated end-to-end metrics, the other end-to-end figures, which
        are printed beside them). An op is a query on query_mix and a
        non-empty micro-batch on event_stream."""
        stream = self.workload == "event_stream"
        if stream:
            full = [p for p in self.batches() if p["numInputRows"] > 0]
            lat = [p["durationMs"]["triggerExecution"] for p in full]
        else:
            lat = [r["wall"] * 1e3 for r in self.timed_ops]
        tail, pct, n = percentile_tail(lat)
        metrics = {
            "setup_s": (statistics.median(self.setup_times), "s"),
            "ops_per_s": (len(lat) / timed_wall, "ops/s"),
            "latency_geomean_ms": (statistics.geometric_mean(lat), "ms"),
        }
        na = (None, "")
        p50 = (statistics.median(lat), "ms")
        tail_fig = (tail, f"ms (p{pct:.1f} of n={n})")
        extra = {
            "latency_p50_ms": p50,
            "latency_tail_ms": tail_fig,
            "rows_per_s": (
                (sum(p["numInputRows"] for p in full) / timed_wall, "rows/s") if stream else na
            ),
            "batch_p50_ms": p50 if stream else na,
            "batch_tail_ms": tail_fig if stream else na,
            "peak_rss_mb": (rss, "MB"),
            "error_rate": (self.stats.failed / max(self.stats.attempted, 1), "ratio"),
        }
        return metrics, extra

    def per_layer(self, timed_wall: float, untraced_ops_per_s: float) -> dict:
        events = eventlog.read_event_log(self.run_dir / "eventlog")
        timed = {r["id"] for r in self.timed_ops}
        keys = {k: op for k, op in self.keys.items() if op in timed}
        per_op = eventlog.summarize(events, keys)
        n_ops = max(len(self.timed_ops), 1)
        cores = len(os.sched_getaffinity(0))

        def tot(name):
            return sum(m[name] for m in per_op.values())

        action_wall = sum(
            c["end"] - c["start"]
            for r in self.timed_ops
            for c in self.tr.children(r["span"])
            if c["name"] == "action"
        )
        planned = tot("stages") + tot("stages_skipped")
        phases = [p for r in self.timed_ops for p in r["hooks"]["phases"]]

        def hook(name):
            return sum(r["hooks"][name] for r in self.timed_ops)

        batches = self.batches()
        full = [p for p in batches if p["numInputRows"] > 0]
        states = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
        fresh = [r for r in self.timed_ops if r.get("job") == "freshness"]

        def per_batch(key):
            return statistics.fmean(p["durationMs"].get(key, 0) for p in full) if full else 0.0

        def commit_ms(s):
            custom = s.get("customMetrics") or {}
            return sum(v for k, v in custom.items() if k.startswith("rocksdbCommit"))

        backlog = []
        for r in self.timed_ops:
            for i, _p in enumerate(p for p in r.get("progress", []) if p["numInputRows"] > 0):
                backlog.append(r["files"] - (i + 1))

        coverage = []
        for r in self.timed_ops:
            kids = self.tr.children(r["span"])
            covered = sum(c["end"] - c["start"] for c in kids if c["name"] in ("build", "action"))
            coverage.append(covered / r["wall"])
        traced_ops_per_s = (len(full) if self.workload == "event_stream" else n_ops) / timed_wall

        m = {
            "session.start_s": (self.first_session_s, "s"),
            "registry.load_s": (self.registry_s, "s"),
            "sources.resolve_s": (statistics.median(self.resolve_times), "s"),
            "sources.load_calls": (hook("load_calls") / n_ops, "count"),
            "warmup_s": (self.warmup_s, "s"),
            "setup.first_op_s": (self.first_op_at - self.started, "s"),
            "build_s": (statistics.fmean(r["build"] for r in self.timed_ops), "s"),
            "materialize.calls": (hook("materialize_calls") / n_ops, "count"),
            "materialize_s": (hook("materialize_s") / n_ops, "s"),
            "catalyst.analysis_ms": (sum(p.get("analysis", 0) for p in phases) / n_ops, "ms"),
            "catalyst.optimization_ms": (
                sum(p.get("optimization", 0) for p in phases) / n_ops, "ms"),
            "catalyst.planning_ms": (sum(p.get("planning", 0) for p in phases) / n_ops, "ms"),
            "exec.jobs": (tot("jobs") / n_ops, "count"),
            "exec.stages": (tot("stages") / n_ops, "count"),
            "exec.stages_skipped_ratio": (tot("stages_skipped") / planned if planned else 0.0,
                                          "ratio"),
            "exec.tasks": (tot("tasks") / n_ops, "count"),
            "exec.tasks_failed": (tot("tasks_failed"), "count"),
            "exec.task_run_s": (tot("task_run_s") / n_ops, "s"),
            "exec.task_cpu_s": (tot("task_cpu_s") / n_ops, "s"),
            "exec.gc_s": (tot("gc_s") / n_ops, "s"),
            "exec.busy_share": (tot("task_run_s") / (action_wall * cores), "ratio"),
            "exec.scan_bytes": (tot("scan_bytes") / n_ops, "bytes"),
            "exec.shuffle_write_bytes": (tot("shuffle_write_bytes") / n_ops, "bytes"),
            "exec.shuffle_read_bytes": (tot("shuffle_read_bytes") / n_ops, "bytes"),
            "exec.shuffle_fetch_wait_s": (tot("shuffle_fetch_wait_s") / n_ops, "s"),
            "exec.spill_bytes": (tot("spill_bytes") / n_ops, "bytes"),
            "exec.peak_exec_mem_bytes": (
                max((v["peak_exec_mem_bytes"] for v in per_op.values()), default=0), "bytes"),
            "stream.batches": (len(batches), "count"),
            "stream.input_rows": (sum(p["numInputRows"] for p in batches), "count"),
            "stream.latest_offset_ms": (per_batch("latestOffset"), "ms"),
            "stream.get_batch_ms": (per_batch("getBatch"), "ms"),
            "stream.backlog_files": (statistics.fmean(backlog) if backlog else 0.0, "count"),
            "stream.trigger_ms": (per_batch("triggerExecution"), "ms"),
            "stream.query_planning_ms": (per_batch("queryPlanning"), "ms"),
            "stream.wal_commit_ms": (per_batch("walCommit"), "ms"),
            "stream.commit_offsets_ms": (per_batch("commitOffsets"), "ms"),
            "stream.empty_batch_ratio": (
                (len(batches) - len(full)) / len(batches) if batches else 0.0, "ratio"),
            "stream.add_batch_ms": (per_batch("addBatch"), "ms"),
            "state.rows_total": (max((s["numRowsTotal"] for s in states), default=0), "count"),
            "state.rows_updated": (
                statistics.fmean(s["numRowsUpdated"] for s in states) if states else 0.0,
                "count"),
            "state.memory_bytes": (
                max((s["memoryUsedBytes"] for s in states), default=0), "bytes"),
            "state.rows_dropped_by_watermark": (
                sum(s.get("numRowsDroppedByWatermark", 0) for s in states), "count"),
            "state.commit_ms": (
                statistics.fmean(commit_ms(s) for s in states) if states else 0.0, "ms"),
            "sink.merge_read_s": (
                statistics.fmean(r["merge_s"] for r in fresh) if fresh else 0.0, "s"),
            "trace.ops_per_s": (traced_ops_per_s, "ops/s"),
            "trace.untraced_ops_per_s": (untraced_ops_per_s, "ops/s"),
            "trace.overhead_ops_per_s": (traced_ops_per_s - untraced_ops_per_s, "ops/s"),
            "trace.span_coverage": (min(coverage), "ratio"),
        }
        self_times = self.tr.self_times()
        for name in SPAN_NAMES:
            m[f"self.{name}_s"] = (self_times.get(name, 0.0), "s")
        return m


SPAN_NAMES = (
    "setup", "session", "registry", "sources", "stage", "warmup",
    "round", "op", "build", "action", "merge_read", "batch",
)


def untraced_reference(args) -> float:
    """ops_per_s of an untraced run with the same arguments, in its own
    process (the traced run's overhead is measured against it)."""
    cmd = [
        sys.executable, str(Path(__file__).resolve()),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", "0",
    ]
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=170, check=True)
    return json.loads(res.stdout.strip().splitlines()[-1])["metrics"]["ops_per_s"]["value"]


def shut_down(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "spring_and_kafka_spark" / "__init__.py").is_file():
        print(f"engine package not found beside {HERE.name}/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    data, expected = ensure_inputs()
    untraced = untraced_reference(args) if args.trace else 0.0
    started = time.perf_counter()

    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    launch_env(run_dir, bool(args.trace))
    bench = Bench(args, data, expected, run_dir, started)
    try:
        for k in range(SETUPS):
            if k:
                bench.spark.stop()
            bench.set_up(k)
        bench.hooks.attach(bench.spark)
        if args.workload == "query_mix":
            timed_wall = bench.run_query_mix()
        else:
            timed_wall = bench.run_event_stream()
        jvm_pid = bench.spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = peak_rss_mb([os.getpid(), jvm_pid])
        metrics, extra = bench.end_to_end(timed_wall, rss)
        bench.close()
        if args.trace:
            metrics = bench.per_layer(timed_wall, untraced)
            (WORK / "traces").mkdir(parents=True, exist_ok=True)
            bench.tr.dump(
                WORK / "traces" / f"{args.workload}-seed{args.seed}.json",
                progress={r["id"]: r.get("progress", []) for r in bench.timed_ops},
            )
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"\n# set-ups {bench.setup_times} s, warm-up {bench.warmup_s:.2f} s", file=sys.stderr)
    for r in bench.timed_ops:
        print(f"# {r['id']}: {r['wall']:.3f}s", file=sys.stderr)
    for name, (value, unit) in {**metrics, **(extra if not args.trace else {})}.items():
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"{args.workload:>12}  {name:<32} {shown:>14} {unit}")
    result = {
        "correct": bench.stats.failed == 0,
        "attempted": bench.stats.attempted,
        "failed": bench.stats.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
