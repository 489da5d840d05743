"""Execution utilities shared across operators.

`materialize` is the engine's one sanctioned way to cut lineage and force
a DataFrame to compute exactly once (iterative algorithms, multi-consumer
subplans). It picks the mechanism by deployment:

- local master → ``localCheckpoint(eager=True)``: blocks live in the one
  local JVM, which is also the driver — nothing can lose them.
- cluster with a checkpoint dir configured → reliable ``checkpoint``:
  executor-local blocks do NOT survive executor loss, and for an
  iterative job losing round k's state means recomputing k rounds; the
  reliable checkpoint writes to the fault-tolerant FS instead.
- cluster without a checkpoint dir → ``persist(MEMORY_AND_DISK)`` + a
  forcing count: keeps lineage (recompute on executor loss is slow but
  correct) rather than risking irrecoverable localCheckpoint blocks.

`message_edges`, `fixpoint` and `min_step` are the one kernel of the
synchronized fixed-point loops (connected components, BFS, k-core, LPA).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def ts_micros(col: Column | str) -> Column:
    """Epoch microseconds from a timestamp column, safe for BOTH
    ``TIMESTAMP`` (LTZ) and ``TIMESTAMP_NTZ`` inputs.

    ``F.unix_micros`` rejects NTZ outright — and the fixture parquet's
    ``TIMESTAMP(NANOS)`` column reads as NTZ on stock sessions (the
    crash q_stream_session once hit). ``to_utc_timestamp(c, 'UTC')``
    interprets an NTZ wall-time as UTC — exactly the stored
    parquet value, independent of the session timezone — and is a no-op
    for LTZ under the UTC sessions this engine always builds
    (session.py). The result is the raw integer DuckDB's ``epoch_us``
    sees, so oracle comparisons stay exact."""
    return F.unix_micros(F.to_utc_timestamp(col, "UTC"))


def cents(col: Column | str) -> Column:
    """Exact integer cents from a money double: floor(x*100 + 0.5) as
    BIGINT — the repo's ONE cross-engine rounding rule for currency
    (Spark round() is decimal HALF_UP, DuckDB rounds binary; this form
    is bit-identical in both). Every operator that sums or ranks money
    must use this helper, not a hand-copied expression: four inline
    copies had already drifted into existence, and a future
    edit to one of them would silently diverge the others' oracle
    hashes. sketches.to_cents wraps the same rule at DataFrame level."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * 100 + F.lit(0.5)).cast("long")


def micros(col: Column | str) -> Column:
    """Exact integer micro-units from a measure double: floor(x*1e6+0.5)
    as BIGINT — the cents rule at 1e-6 resolution, used wherever a
    non-currency measure must aggregate/percentile order-free
    (q_ts_mad/q_ts_anomaly established the pattern; ~8 hand-copied
    instances once existed across timeseries.py/windows.py,
    the same drift hazard cents() was extracted to kill). New operators
    must call this."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * 1e6 + F.lit(0.5)).cast("long")


def ratio6(num: Column | str, den: Column | str) -> Column:
    """num/den rounded to 6 dp in the floor form, floor(num*1e6/den +
    0.5)/1e6 — the ratio twin of micros(): Spark round() is decimal
    HALF_UP while DuckDB rounds binary, and an exact-integer ratio can
    land ON the rounding boundary, so every oracle-checked rate uses
    this form on both sides. Multiplying before dividing keeps the
    association both engines evaluate; a zero `den` needs a guard at
    the call site (ANSI Spark throws on it)."""
    n = F.col(num) if isinstance(num, str) else num
    d = F.col(den) if isinstance(den, str) else den
    return F.floor(n * 1e6 / d + F.lit(0.5)) / 1e6


def array_pairs(arr: Column | str, a: str, b: str) -> Column:
    """ARRAY<STRUCT<a, b>> of every (x, y) with x before y in `arr` — the
    in-array pair expansion behind the grouped candidate generators
    (explode it for one row per pair). On a sorted distinct array that
    is exactly the x < y pairs. The pair count is quadratic in the array
    length, so callers bound the length before expanding."""
    xs = F.col(arr) if isinstance(arr, str) else arr
    return F.flatten(
        F.transform(
            xs,
            lambda x, i: F.transform(
                F.slice(xs, i + F.lit(2), F.size(xs)),
                lambda y: F.struct(x.alias(a), y.alias(b)),
            ),
        )
    )


def finite_or_null(df: DataFrame, *cols: str) -> DataFrame:
    """Normalize NaN and ±Infinity in the named double columns to NULL —
    the ingest-boundary enforcement of the engine's float contract:
    downstream operators consume FINITE-OR-NULL doubles only.

    Why a contract instead of 226 NaN-hardened queries: a NaN-injection
    diagnostic (NANCHECK.json) failed 39 of 226 queries, and
    the failure modes are not guardable cross-engine — ANSI Spark and
    DuckDB both hard-error casting NaN to BIGINT (every exact-cents
    expression), stddev aggregates range-error, and the engines disagree
    on NaN grouping/ordering (Spark groups NaNs equal and sorts them
    greatest; DuckDB's aggregates poison to NaN instead). NULL, by
    contrast, has fully specified cross-engine semantics that the
    NULLCHECK battery (tools/null_sweep.py) proves all 226 queries
    handle. So the boundary rule is: run this normalizer (or quarantine
    on it) when ingesting any external double column; inside the engine,
    NaN does not exist.

    At 100 TB this is one narrow projection fused into the ingest scan —
    no shuffle, no extra pass. It is also ONE projection in the logical
    plan, not a per-column withColumn chain: an interleaved A/B
    traced the contract's whole bench cost to DRIVER-SIDE plan analysis
    of the deeper tree (executor time was identical with the contract
    on or off once the plan was built), and collapsing the chain into a
    single withColumns halves that analysis overhead (BASELINE.md
    adjudication row)."""

    def norm(c: str):
        col = F.col(c)
        return F.when(
            F.isnan(col) | (F.abs(col) == float("inf")),
            F.lit(None).cast("double"),
        ).otherwise(col)

    return df.withColumns({c: norm(c) for c in cols})


def materialize(df: DataFrame) -> DataFrame:
    """Compute `df` once and return a lineage-cut (or at least pinned)
    DataFrame, safe for the current deployment mode. See module doc."""
    sc = df.sparkSession.sparkContext
    if sc.master.startswith("local"):
        return df.localCheckpoint(eager=True)
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
    pinned.count()
    return pinned


def sym_edges(pairs: DataFrame) -> DataFrame:
    """(src, dst) symmetric directed edges from a (u, v) undirected
    edge table: each row exploded into both directions in ONE pass. A
    union of two projections would plan an unmaterialized ``pairs``
    subtree twice."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
                F.struct(F.col("v").alias("src"), F.col("u").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def message_edges(pairs: DataFrame, nodes: DataFrame | None = None) -> DataFrame:
    """The materialized (src, dst, w) message table of a `fixpoint` loop:
    both directions of every (u, v) pair at w = 1, plus one w = 0
    self-loop per ``nodes`` row (column ``node``; default: the pairs'
    distinct endpoints). The self-loop delivers a node's own state as a
    message, so a round needs no join back onto the state frame. The one
    Union stays inside this materialize: a Union inside an iterated plan
    trips Spark 4.1's UnionBase.rewriteConstraints on some input shapes
    (NoSuchElementException, seen on tests/test_dedup.py's path graph)."""
    sym = sym_edges(pairs)
    if nodes is None:
        nodes = sym.select(F.col("src").alias("node")).distinct()
    w = F.lit(1).cast("long").alias("w")
    return materialize(
        sym.select("src", "dst", w).unionByName(
            nodes.select(
                F.col("node").alias("src"),
                F.col("node").alias("dst"),
                F.lit(0).cast("long").alias("w"),
            )
        )
    )


Step = Callable[[DataFrame, DataFrame, bool], DataFrame]


def fixpoint(
    edges: DataFrame, state: DataFrame, step: Step, blocks: int, block: int
) -> tuple[DataFrame, bool]:
    """Run a synchronized fixed-point loop over a `message_edges` table;
    returns ``(state, converged)``.

    ``step(edges, state, flag)`` is one round. Each block runs
    ``block - 1`` lazy rounds and then one flagged round whose output
    carries a boolean ``_ch`` column; that output is materialized (the
    lineage cut) and probed once, and the loop stops when no row is
    flagged. A step's round references the state frame once, so the
    lazy block's plan depth is linear in ``block``. For a monotone
    update (min labels, distances, a shrinking alive set) "the last
    round changed nothing" proves its input was already the fixed
    point, and the rounds after a mid-block fixed point are no-ops.

    Cap parity: at most ``blocks * block`` rounds run. Early stop
    happens only at a fixed point of the round (or, for a step whose
    flag compares across the block, of the block), where every later
    block is a no-op, so the result always equals the
    ``blocks * block``-round iterate a SQL oracle unrolls; when the cap
    binds, ``converged`` is False and both engines hold the same
    partial iterate.

    The driver holds only the probe's count. Each replaced block is
    unpersisted, and ``edges`` when the loop ends: on `materialize`'s
    persist fallback, at most the returned block stays cached."""
    prev, converged = state, False
    try:
        for _ in range(blocks):
            for _k in range(block - 1):
                state = step(edges, state, False)
            new = materialize(step(edges, state, True))
            converged = new.filter(F.col("_ch")).limit(1).count() == 0
            prev.unpersist()
            prev, state = new, new.drop("_ch")
            if converged:
                break
    finally:
        edges.unpersist()
    return state, converged


def min_step(col: str, msg: Column) -> Step:
    """A `fixpoint` step: ``col`` becomes the min of ``msg`` over a
    node's incoming messages, its own (w = 0) included, so it never
    rises. ``msg`` is evaluated on the edges ⋈ state rows (``w`` and the
    sender's ``col`` are in scope). The join is null-safe, so a NULL
    node still receives its own message; min() skips NULLs, so a NULL
    state is a faithful ∞. The flagged round recovers the pre-round
    value from the own message, so its ``_ch`` needs no extra join."""

    def step(edges: DataFrame, state: DataFrame, flag: bool) -> DataFrame:
        g = edges.join(state, edges.src.eqNullSafe(state.node)).groupBy(
            F.col("dst").alias("node")
        )
        if not flag:
            return g.agg(F.min(msg).alias(col))
        own = F.max(F.when(F.col("w") == 0, F.col(col)))
        return g.agg(F.min(msg).alias(col), own.alias("_own")).select(
            "node", col, (~F.col(col).eqNullSafe(F.col("_own"))).alias("_ch")
        )

    return step


def spread(df: DataFrame) -> DataFrame:
    """Raise a starved plan to the session's default parallelism before
    CPU-heavy per-row work (shingling, hashing, wide aggregation).

    Small inputs scan into one or two splits (a 10k-doc fixture parquet
    is a single file well under maxPartitionBytes), so everything
    downstream of the scan runs on 1-2 of the session's cores. At real
    scale the scan already yields ≥ cores splits and this is a no-op —
    the repartition only fires when the current partition count is below
    defaultParallelism, so it never ADDS a shuffle on a 100 TB input.
    Row order changes; callers must be order-insensitive (per-key
    aggregation, joins) — every caller here is."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df
