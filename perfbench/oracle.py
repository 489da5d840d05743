"""Output checks: order-insensitive digests and their DuckDB expectations.

A query result is summarised as its column names, its row count and a
SHA-256 over the sorted, normalized rows (values normalized the way
``tools/selfcheck.py`` does, so float results must agree to 17
significant digits). The comparison half is stdlib-only.

Run as a script, this module computes the expected digests with DuckDB
in its own process, so the benchmark's own process never holds
DuckDB's memory:

    python3 perfbench/oracle.py <data_dir> <out.json> <query> [<query> ...]

It writes one expectation per query on ``<data_dir>/sf`` and, for each
stream twin (STREAM_TWINS), one per stream slice.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import json
import math
import sys
from pathlib import Path

# Streaming jobs and the registered batch query each must equal.
STREAM_TWINS = {"tumbling_counts": "q_stream_tumble", "freshness": "q_dq_freshness"}


def normalize(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.17g}"
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.17g}"
    if isinstance(v, (list, tuple)):
        return tuple(normalize(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, normalize(x)) for k, x in v.items()))
    if isinstance(v, (_dt.datetime, _dt.date, _dt.time)):
        return v.isoformat()
    return v


def digest(columns, rows) -> dict:
    """Order-insensitive summary of a result: rows are tuples in
    ``columns`` order."""
    keys = sorted(repr(tuple(normalize(x) for x in r)) for r in rows)
    h = hashlib.sha256("\n".join(keys).encode()).hexdigest()
    return {"columns": list(columns), "rows": len(keys), "sha256": h}


def mismatch(got: dict, want: dict) -> str | None:
    """Why ``got`` differs from ``want``, or None when they agree."""
    for key in ("columns", "rows", "sha256"):
        if got.get(key) != want.get(key):
            return f"{key}: got {got.get(key)!r}, expected {want.get(key)!r}"
    return None


def slice_key(twin: str, k: int) -> str:
    return f"{twin}@slice{k}"


def _duck_digest(con, sql: str) -> dict:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return digest(cols, cur.fetchall())


def build_expected(data_dir: Path, names: list[str]) -> dict:
    import duckdb

    repo = Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo))
    from fixtures import STREAM_SLICES, slice_dir
    from spring_and_kafka_spark import registry
    from spring_and_kafka_spark.sources.tables import TABLES

    oracles = registry.oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/sf/{t}.parquet'")
    out = {name: _duck_digest(con, oracles[name]) for name in names}
    for k in range(STREAM_SLICES):
        src = slice_dir(data_dir, k) / "events.parquet"
        con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM '{src}/*.parquet'")
        for twin in STREAM_TWINS.values():
            out[slice_key(twin, k)] = _duck_digest(con, oracles[twin])
    return out


if __name__ == "__main__":
    data, dest, *queries = sys.argv[1:]
    Path(dest).write_text(json.dumps(build_expected(Path(data), queries), indent=1))
