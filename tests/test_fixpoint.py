"""The fixed-point kernel (exec_utils.message_edges / fixpoint / min_step):
cap parity against a Python synchronous unroll, early stop at the fixed
point, and the unpersist discipline on materialize's persist fallback."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from spring_and_kafka_spark import exec_utils
from spring_and_kafka_spark.exec_utils import fixpoint, message_edges, min_step

_N = 12  # path 0-1-...-11: node 0's label/distance needs 11 rounds to reach 11

_PY_MSG = {"cc": lambda s, w: s, "bfs": lambda s, w: None if s is None else s + w}


def _kernel(kind):
    """(state column, seed over the self-loop rows, Spark message)."""
    if kind == "cc":
        return "lab", F.col("src"), F.col("lab")
    seed = F.when(F.col("src") == 0, F.lit(0)).cast("long")
    return "dist", seed, F.col("dist") + F.col("w")


def _path_edges(spark):
    return message_edges(
        spark.createDataFrame(
            [(i, i + 1) for i in range(_N - 1)], "u long, v long"
        )
    )


def _seed(edges, col, seed):
    return edges.filter(F.col("w") == 0).select(
        F.col("src").alias("node"), seed.alias(col)
    )


def _unroll(kind, rounds):
    """`rounds` synchronous rounds on the path in plain Python: each node
    takes the min over its own message (w = 0) and its neighbours'
    (w = 1), skipping NULLs."""
    msg = _PY_MSG[kind]
    state = {x: x if kind == "cc" else (0 if x == 0 else None) for x in range(_N)}
    for _ in range(rounds):
        msgs = {
            x: [msg(state[x], 0)]
            + [msg(state[y], 1) for y in (x - 1, x + 1) if 0 <= y < _N]
            for x in range(_N)
        }
        state = {
            x: min((m for m in ms if m is not None), default=None)
            for x, ms in msgs.items()
        }
    return state


@pytest.mark.parametrize("kind", ["cc", "bfs"])
def test_fixpoint_cap_returns_the_k_round_iterate(spark, kind):
    # 2 blocks x 3 rounds = 6 < 11: the cap binds, and the result is the
    # exact 6-round iterate a SQL unroll of the same recurrence holds
    col, seed, msg = _kernel(kind)
    edges = _path_edges(spark)
    out, converged = fixpoint(
        edges, _seed(edges, col, seed), min_step(col, msg), 2, 3
    )
    assert converged is False
    assert out.columns == ["node", col]
    assert dict(map(tuple, out.collect())) == _unroll(kind, 6)


@pytest.mark.parametrize("kind", ["cc", "bfs"])
def test_fixpoint_stops_at_the_fixed_point(spark, kind):
    # a 30-round budget: the fixed point lands at round 11, the flagged
    # round 12 sees no change, and the loop stops after block 4
    col, seed, msg = _kernel(kind)
    edges = _path_edges(spark)
    out, converged = fixpoint(
        edges, _seed(edges, col, seed), min_step(col, msg), 10, 3
    )
    assert converged is True
    rows = dict(map(tuple, out.collect()))
    assert rows == _unroll(kind, 11) == _unroll(kind, 30)


def test_fixpoint_persist_fallback_keeps_only_the_final_block(spark, monkeypatch):
    # materialize's cluster-without-checkpoint-dir branch: every block is
    # a persisted RDD, so a loop that does not unpersist what it
    # replaces leaves one cached copy per block for the session
    pinned = []

    def persist_branch(df):
        pinned.append(df.persist(StorageLevel.MEMORY_AND_DISK))
        pinned[-1].count()
        return pinned[-1]

    monkeypatch.setattr(exec_utils, "materialize", persist_branch)

    def persisted():  # ids, not a count: other tests' RDDs may be cleaned
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    edges = _path_edges(spark)
    state = _seed(edges, "lab", F.col("src"))
    out, converged = fixpoint(edges, state, min_step("lab", F.col("lab")), 4, 3)
    assert converged is True
    assert len(pinned) == 1 + 4  # edges, then all 4 blocks (fixed point: 11)
    assert len(persisted() - before) <= 1  # at most the final block is left
    cached = [p.storageLevel != StorageLevel.NONE for p in pinned]
    assert cached == [False, False, False, False, True]
    assert dict(map(tuple, out.collect())) == {x: 0 for x in range(_N)}
    pinned[-1].unpersist()
