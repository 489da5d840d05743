"""NaN/±Inf-injection sweep: prove the finite-or-null ingest contract.

Round 9's NANCHECK diagnostic ran the registry against raw-NaN fixtures
with NO contract in the scan path and recorded 39/226 failures with
unguardable cross-engine failure modes (NANCHECK.json). Round 10 wired
the contract into the scan itself (sources/tables.py:
_enforce_float_contract): external NaN/±Inf doubles normalize to NULL,
and a vector with any non-finite component normalizes to a NULL vector.

This sweep is the proof (VERDICT r9 item 3): inject non-finite values
into every known double/vector column of the sf0.001 fixture, then run
the FULL registry through selfcheck with --contract-views, so the
DuckDB oracle reads through the same ingest boundary the engine's scan
enforces. Green = the NANCHECK failure mode cannot reach any operator
via the engine's own scan path.

Injection policy (deterministic, seed-free; disjoint from the NULL
sweep's (i+3j)%7 pattern so the two batteries compose):
- scalar double column j of a table: rows where (i + 5*j) % 11 == 0 get
  NaN, rows where (i + 5*j) % 11 == 1 get +Inf, == 2 get -Inf
  (~27% of rows carry some non-finite value — deliberately brutal);
- embedding vectors: rows where i % 13 == 0 get NaN planted in element
  i % 64, rows where i % 13 == 1 get +Inf in element (i+7) % 64.

    python tools/nan_sweep.py [--json NANSWEEP.json] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from spring_and_kafka_spark.sources.tables import (  # noqa: E402
    DOUBLE_COLS,
    VECTOR_COLS,
)
from tools.selfcheck import rewrite_fixture, sweep_main  # noqa: E402

NAN = float("nan")
INF = float("inf")


def _non_finite(t: str, name: str, j: int, vals: list) -> list | None:
    if name in DOUBLE_COLS.get(t, ()):
        pick = {0: NAN, 1: INF, 2: -INF}
        return [pick.get((i + 5 * j) % 11, v) for i, v in enumerate(vals)]
    if name not in VECTOR_COLS.get(t, ()):
        return None
    for i, v in enumerate(vals):
        # empty (but non-NULL) lists would make the index below divide
        # by zero — skip them like NULLs
        if not v or i % 13 > 1:
            continue
        v = list(v)
        if i % 13 == 0:
            v[i % len(v)] = NAN
        else:
            v[(i + 7) % len(v)] = INF
        vals[i] = v
    return vals


def build_nan_dir(dst: str) -> None:
    rewrite_fixture(dst, _non_finite)


if __name__ == "__main__":
    raise SystemExit(sweep_main(build_nan_dir, "nan", "--contract-views"))
