"""Count the driver JVM's process starts per streaming micro-batch.

A per-batch durable write must not spawn a process (DESIGN.md item 31).
This tool checks it. It starts its own local session whose driver JVM
runs a Java Flight Recording: ``-XX:StartFlightRecording`` in
``spark.driver.extraJavaOptions``, passed through
``PYSPARK_SUBMIT_ARGS``. It stages ``SF_DIR``'s events as time-ordered
chunk files and drains two jobs over them, one file per trigger: the
stateful ``tumbling_counts`` job (memory sink, complete mode) and the
freshness maintainer. Each drain gets a fresh checkpoint. It then reads
the ``jdk.ProcessStart`` events back with ``jfr print --json`` and
prints process starts per non-empty micro-batch, by command and job,
and under each command by its calling frame: the first stack frame
outside the JDK, Hadoop's ``Shell`` and Hadoop's ``fs`` package, such as
the Spark method that created the file. One warm-up drain of each job
runs first, and only starts inside the measured drains count.

    python tools/jvm_forks.py [SF_DIR]

``SF_DIR`` defaults to ``$SPARK_GRAFT_SF_DIR``. The session runs
``local[N]`` on this process's N usable cores, as the benchmark's does.
The per-batch counts scale with N: each shuffle partition of the
stateful job commits its own state changelog. session.py explains
which durable writes used to fork and why they no longer do.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

JOBS = ("tumbling_counts", "freshness")
RECORDING = "jvm_forks"
CHUNKS = 8  # staged files, so micro-batches per drain
DRAINS = 2  # measured drains of each job
STACK_DEPTH = 64  # frames printed per process start
# frames that only pass a process start along: the JDK's process API,
# Hadoop's command runner and Hadoop's filesystem layers
FORKING_FRAMES = ("java.", "org.apache.hadoop.util.Shell", "org.apache.hadoop.fs.")


def _epoch(stamp: str) -> float:
    """Epoch seconds of a JFR JSON timestamp, which is UTC with up to
    nine fractional digits (more than ``fromisoformat`` takes)."""
    whole, _, frac = stamp.rstrip("Z").partition(".")
    t = dt.datetime.fromisoformat(whole).replace(tzinfo=dt.timezone.utc)
    return t.timestamp() + float(f"0.{frac or 0}")


def caller(stack: dict | None) -> str:
    """``Class.method`` of the first frame of a JFR stack trace outside
    ``FORKING_FRAMES``, or ``?`` when the recorded frames hold none."""
    for frame in (stack or {}).get("frames", []):
        cls = frame["method"]["type"]["name"].replace("/", ".")
        if not cls.startswith(FORKING_FRAMES):
            return f"{cls}.{frame['method']['name']}"
    return "?"


def process_starts_by_caller(
    doc: dict, windows: list[tuple[float, float]]
) -> Counter:
    """Count the process starts of a ``jfr print --json --events
    jdk.ProcessStart`` document that began inside one of ``windows``
    (epoch-second ``(start, end)`` pairs), by ``(command, caller)``:
    the base name of the command line's first word, and ``caller`` of
    the event's stack trace."""
    counts: Counter = Counter()
    for event in doc["recording"]["events"]:
        v = event["values"]
        t = _epoch(v["startTime"])
        if any(lo <= t <= hi for lo, hi in windows):
            cmd = os.path.basename(v["command"].split()[0])
            counts[cmd, caller(v.get("stackTrace"))] += 1
    return counts


def by_command(starts: Counter) -> Counter:
    """Sum ``(command, caller)`` counts by command."""
    counts: Counter = Counter()
    for (cmd, _), n in starts.items():
        counts[cmd] += n
    return counts


def process_starts(doc: dict, windows: list[tuple[float, float]]) -> Counter:
    """``process_starts_by_caller`` summed by command."""
    return by_command(process_starts_by_caller(doc, windows))


def stage(sf_dir: str, topic: Path, n_chunks: int) -> None:
    """Write the events as ``n_chunks`` time-ordered parquet files with
    increasing modification times, so a file stream replays them in
    event-time order."""
    import pyarrow.parquet as pq

    ev = pq.read_table(f"{sf_dir}/events.parquet").sort_by(
        [("ts", "ascending"), ("event_id", "ascending")]
    )
    topic.mkdir(parents=True)
    n = ev.num_rows
    for i in range(n_chunks):
        lo, hi = i * n // n_chunks, (i + 1) * n // n_chunks
        f = topic / f"chunk-{i:05d}.parquet"
        pq.write_table(ev.slice(lo, hi - lo), f)
        os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))


def drain(spark, job: str, topic: Path, out: Path) -> int:
    """One availableNow drain of ``job`` into ``out``; returns its
    non-empty micro-batch count."""
    from spring_and_kafka_spark.streaming.freshness import freshness_delta_stream
    from spring_and_kafka_spark.streaming.replay import read_event_stream
    from spring_and_kafka_spark.streaming.sinks import run_available_now
    from spring_and_kafka_spark.streaming.windows import tumbling_counts

    stream = read_event_stream(spark, str(topic), 1)
    if job == "tumbling_counts":
        q = run_available_now(
            tumbling_counts(stream)
            .writeStream.format("memory")
            .queryName(out.name)
            .outputMode("complete")
            .option("checkpointLocation", str(out / "ckpt"))
        )
    else:
        q = freshness_delta_stream(stream, str(out / "state"))
    if job == "tumbling_counts":
        spark.catalog.dropTempView(out.name)
    return sum(1 for p in q.recentProgress if p["numInputRows"] > 0)


def record(sf_dir: str, cpus: int, work: Path) -> tuple[dict, dict, Path]:
    """Run the drains under a flight recording; return the measured
    drains' time windows and non-empty batch counts per job, and the
    dumped recording."""
    from spring_and_kafka_spark.session import get_spark

    jfr_opt = f"-XX:StartFlightRecording=name={RECORDING},settings=default"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        ["--conf", f"spark.driver.extraJavaOptions={jfr_opt}", "pyspark-shell"]
    )
    spark = get_spark("jvm_forks", cpus=cpus)
    try:
        topic = work / "topic" / "events.parquet"
        stage(sf_dir, topic, CHUNKS)
        windows: dict = {job: [] for job in JOBS}
        batches: Counter = Counter()
        for k in range(DRAINS + 1):  # drain 0 warms the JVM up
            for job in JOBS:
                t0 = time.time()
                n = drain(spark, job, topic, work / f"{job}_{k}")
                if k:
                    windows[job].append((t0, time.time()))
                    batches[job] += n
        jfr = work / "forks.jfr"
        rec = next(
            r
            for r in spark._jvm.jdk.jfr.FlightRecorder.getFlightRecorder().getRecordings()
            if r.getName() == RECORDING
        )
        rec.dump(spark._jvm.java.io.File(str(jfr)).toPath())
    finally:
        spark.stop()
    return windows, dict(batches), jfr


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir", nargs="?", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    args = ap.parse_args(argv)
    if not args.sf_dir:
        ap.error("give SF_DIR or set SPARK_GRAFT_SF_DIR")
    cpus = len(os.sched_getaffinity(0))
    jfr_bin = "jfr"
    if "JAVA_HOME" in os.environ:
        jfr_bin = os.path.join(os.environ["JAVA_HOME"], "bin", "jfr")

    work = Path(tempfile.mkdtemp(prefix="jvm_forks-"))
    try:
        windows, batches, jfr = record(args.sf_dir, cpus, work)
        text = subprocess.run(
            [jfr_bin, "print", "--json", "--stack-depth", str(STACK_DEPTH),
             "--events", "jdk.ProcessStart", str(jfr)],
            check=True, capture_output=True, text=True,
        ).stdout
    finally:
        shutil.rmtree(work, ignore_errors=True)
    doc = json.loads(text)
    cols = (*JOBS, "all")
    starts = {job: process_starts_by_caller(doc, windows[job]) for job in JOBS}
    starts["all"] = sum(starts.values(), Counter())
    cmds = {col: by_command(starts[col]) for col in cols}
    n = {**batches, "all": sum(batches.values())}

    def rate(counts: dict, key) -> dict:
        return {col: counts[col][key] / max(n.get(col, 0), 1) for col in cols}

    def line(head: str, rates: dict, tail: str = "") -> str:
        return f"{head:<12}" + "".join(f"{rates[c]:>17.2f}" for c in cols) + tail

    print(f"local[{cpus}], {DRAINS} measured drains of each job; "
          f"non-empty micro-batches: {batches}")
    print(f"{'command':<12}" + "".join(f"{c:>17}" for c in cols) + "  caller")
    callers: dict = {}
    total = starts["all"]
    for cmd in sorted(cmds["all"], key=lambda c: (-cmds["all"][c], c)):
        print(line(cmd, rate(cmds, cmd)))
        keys = sorted((k for k in total if k[0] == cmd), key=lambda k: (-total[k], k))
        for key in keys:
            print(line("", rate(starts, key), f"  {key[1]}"))
        callers[cmd] = {key[1]: rate(starts, key)["all"] for key in keys}
    print(json.dumps({
        "batches": batches,
        "per_batch": {c: rate(cmds, c)["all"] for c in sorted(cmds["all"])},
        "per_job": {
            job: {c: rate(cmds, c)[job] for c in sorted(cmds["all"])}
            for job in JOBS
        },
        "callers": callers,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
