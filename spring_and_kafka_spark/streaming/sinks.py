"""Streaming sinks (SURVEY.md §2.1/§2.8): the reference's terminal `log`
sink and per-batch callback generalized.

Reference anchors: the consumer's terminal handle lambda logging each
(topic, records) entry (reference: src/main/java/jc/DemoApplication.java:154-157)
and the Spring XD `… | log` sink (reference: README.md:331,336).
"""

from __future__ import annotations

import logging
from collections.abc import Callable

from pyspark.sql import DataFrame

_LOG = logging.getLogger(__name__)


def log_sink(stream_df: DataFrame, checkpoint_dir: str | None = None, num_rows: int = 20):
    """`| log`: print each micro-batch to the console (bounded rows)."""
    w = stream_df.writeStream.format("console").option("numRows", str(num_rows))
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w


def foreach_batch_sink(
    stream_df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str | None = None,
):
    """The generalized per-batch handle: fn(batch_df, batch_id) runs once
    per micro-batch with a BATCH DataFrame — the escape hatch for sinks
    Spark lacks (JDBC upserts, dual-writes), with exactly-once achieved by
    making fn idempotent on batch_id."""
    w = stream_df.writeStream.foreachBatch(fn)
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w


def parquet_sink(stream_df: DataFrame, path: str, checkpoint_dir: str):
    """File sink with exactly-once semantics via the checkpoint WAL (the
    offset-commit analog of reference: src/main/java/jc/DemoApplication.java:144)."""
    return (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
    )


def run_available_now(writer):
    """Drain ``writer``, a ``DataStreamWriter``, with
    ``trigger(availableNow=True)``: start it, wait until it ends and
    return the terminated query, whose ``recentProgress`` and ``runId``
    the caller may read. A failed query re-raises its exception
    (``StreamingQueryException``) from the wait. The package's one
    availableNow trigger: every drain goes through here."""
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def partial_state_stream(
    stream_df: DataFrame,
    state_dir: str,
    tables: dict[str, tuple[str, Callable[[DataFrame], DataFrame]]],
    prep: Callable[[DataFrame], DataFrame] | None = None,
):
    """Drain ``stream_df`` (:func:`run_available_now`) into a
    merge-on-read maintainer's partial state and return the terminated
    query.

    ``tables`` maps each partial table's name to its ``(schema, fold)``
    spec, the same mapping :func:`read_partial_state` reads back. Each
    micro-batch is cut once by ``prep`` (the whole batch when None),
    then every fold, in dict order, writes its partial to
    ``{state_dir}/{table}/batch_id={batch_id}`` with overwrite. That
    is the exactly-once half of the contract: foreachBatch is
    at-least-once, so a replayed batch rewrites its own partitions
    instead of double-counting, and :func:`read_partial_state` reads the
    layout back, raising on a batch torn between or during the writes.
    With more than one table the cut is persisted so later folds reuse
    it instead of re-scanning the source, and released in ``finally`` so
    a failed write cannot leak it across retries. Empty batches still
    write their (empty) partitions. The checkpoint is
    ``state_dir + "_ckpt"``."""
    shared = len(tables) > 1

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        cut = prep(batch_df) if prep else batch_df
        if shared:
            cut.persist()
        try:
            for name, (_, fold) in tables.items():
                fold(cut).write.mode("overwrite").parquet(
                    f"{state_dir}/{name}/batch_id={batch_id}"
                )
        finally:
            if shared:
                cut.unpersist()

    return run_available_now(
        foreach_batch_sink(stream_df, on_batch, state_dir + "_ckpt")
    )


def _fs(spark, path: str):
    """(Hadoop FileSystem, Path) for ``path``: driver-side metadata
    calls only (works on object stores, never a Spark job)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _names(spark, dir_path: str) -> list[str]:
    """Entry names directly under ``dir_path`` (none when it does not
    exist), by one listing."""
    fs, p = _fs(spark, dir_path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def _batch_partitions(spark, table_dir: str) -> tuple[set[str], set[str]]:
    """(committed, uncommitted) ``batch_id=N`` partition names under one
    state table dir. Committed = the partition carries its ``_SUCCESS``
    marker."""
    done: set[str] = set()
    torn: set[str] = set()
    for name in _names(spark, table_dir):
        if name.startswith("batch_id="):
            fs, marker = _fs(spark, f"{table_dir}/{name}/_SUCCESS")
            (done if fs.exists(marker) else torn).add(name)
    return done, torn


def _markers_written(spark) -> bool:
    """Whether Spark's file commits leave ``_SUCCESS`` markers: the
    ``mapreduce.fileoutputcommitter.marksuccessfuljobs`` setting of the
    session's Hadoop conf (session SQL-conf overrides included), default
    true — the conf every ``foreachBatch`` parquet write commits under."""
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return conf.getBoolean(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", True
    )


def read_partial_state(spark, state_dir: str, tables, what: str):
    """Read the partial state :func:`partial_state_stream` wrote,
    RAISING on torn state instead of silently absorbing it (independent
    silent reads of sibling state are the bug shape: one try around two
    reads once discarded a good table when its sibling was missing).

    ``tables`` is the maintainer's ``{name: (schema, fold)}`` mapping
    that :func:`partial_state_stream` took (the folds go unused here,
    so a bare schema per name, or (name, schema) pairs, read too);
    returns a tuple of DataFrames in its order (all empty when NO table
    exists — the stream simply never ran). A visible top-level entry of
    ``state_dir`` that is none of the tables raises too: it is state of
    an older layout (a flat ``batch_id=N``, or a table a maintainer no
    longer writes), which would otherwise read as "never ran". Three
    tear levels are checked:

    1. a top-level table dir missing while a sibling exists — a crash
       between a batch's first and later writes on the FIRST batch;
    2. a ``batch_id=N`` partition present under some tables only — the
       same crash on any later batch;
    3. a ``batch_id=N`` partition WITHOUT its ``_SUCCESS`` marker — a
       crash DURING that write (the dir exists from job start, so bare
       dir-presence checks pass while the data inside is partial). With
       one table, this is the only level that can fire.

    Level 3 follows the setting that decides whether markers are
    written at all, ``mapreduce.fileoutputcommitter.marksuccessfuljobs``
    in the session's Hadoop conf (default true), read once per call.
    With it false (the common object-store-committer setting) no write
    leaves a marker, so each marker-less partition is merged as a batch,
    with a logged warning because a mid-write crash looks identical;
    levels 1-2 still apply.

    All checks are driver-side Hadoop FS metadata listings (works on
    object stores), never a Spark job."""
    schemas = {
        name: spec if isinstance(spec, str) else spec[0]
        for name, spec in dict(tables).items()
    }
    names = list(schemas)
    entries = _names(spark, state_dir)
    stray = sorted(
        e for e in entries if not e.startswith(("_", ".")) and e not in names
    )
    if stray:
        raise RuntimeError(
            f"{what} state under {state_dir} holds {stray}, none of its "
            f"tables {names} — state of an older layout; clear or "
            "re-drain the state dir"
        )
    present = [sub for sub in names if sub in entries]
    if present and len(present) < len(names):
        missing = [sub for sub in names if sub not in entries]
        raise RuntimeError(
            f"partial {what} state under {state_dir}: {present} exist "
            f"but {missing} are missing — a crash between on_batch's "
            "writes; replay the last batch or clear the state dir"
        )
    if not present:
        return tuple(spark.createDataFrame([], sch) for sch in schemas.values())

    require_success = _markers_written(spark)
    sets = {}
    for sub in names:
        done, torn = _batch_partitions(spark, f"{state_dir}/{sub}")
        if torn and require_success:
            raise RuntimeError(
                f"partial {what} state under {state_dir}: "
                f"{sorted(torn)[0]} under {sub}/ has no _SUCCESS marker "
                "— a crash during that write; replay that batch or "
                "clear the state dir"
            )
        # with markers disabled, a marker-less partition is simply a
        # batch (the committer never wrote markers) — include it in the
        # sibling-alignment check rather than treating it as torn, but
        # log it: a mid-write crash looks identical
        if torn and not require_success:
            _LOG.warning(
                "%s state under %s/%s: merging %d marker-less batch "
                "partition(s) (%s ...) with marksuccessfuljobs=false — "
                "expected for markerless committers, but "
                "indistinguishable from a mid-write crash",
                what,
                state_dir,
                sub,
                len(torn),
                sorted(torn)[0],
            )
        sets[sub] = done if require_success else (done | torn)
    union = set().union(*sets.values())
    for sub in names:
        missing = union - sets[sub]
        if missing:
            b = sorted(missing)[0]
            haves = [s for s, have in sets.items() if b in have]
            raise RuntimeError(
                f"partial {what} state under {state_dir}: {b} has "
                f"{'/, '.join(haves)}/ but not {sub}/ — a crash "
                "between on_batch's writes; replay that batch or clear "
                "the state dir"
            )
    return tuple(
        spark.read.schema(sch).parquet(f"{state_dir}/{sub}")
        for sub, sch in schemas.items()
    )
