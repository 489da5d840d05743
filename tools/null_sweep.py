"""NULL-injection sweep: run EVERY registered query, and its DuckDB
oracle, against an sf0.001-derived fixture whose attribute and measure
columns carry ~14% NULLs — the "NULL-bearing partition" a 100 TB ingest
eventually hands every operator (upstream schema drift, failed decodes,
late-mapped dimensions).

Complements the shape extremes (tools/empty_sweep.py: zero rows /
--limit 1) and tests/test_degenerate.py (constant/zero/singular values):
here the VALUES are missing, which exercises three-valued comparison
logic, NULL-skipping aggregates, null_value_rate-style guards, NULL text
through the tokenizer/LSH stack, and NULL embeddings through the GEMM
paths — in BOTH engines, with the same hash compare as the driver.

Injection policy (deterministic, seed-free):
- column j of a table gets NULL in rows where (row_index + 3*j) % 7 == 0,
  so every nulled column has a different ~1/7 row subset and most rows
  keep most columns;
- ordering/tie-break/identity keys stay non-NULL (doc_id, vec_id,
  event_id, user_id, ts, all *key columns): the registry's documented
  tie-break discipline assumes unique non-null keys, and nulling them
  tests engine NULL-ORDERING defaults instead of operator logic — a
  separate, future sweep (every ORDER BY would need an explicit
  NULLS FIRST/LAST pin in both engines first).

    python tools/null_sweep.py [--json NULLCHECK.json] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.selfcheck import rewrite_fixture, sweep_main  # noqa: E402

# Columns that receive NULLs, per table. Everything NOT listed is an
# identity / ordering / tie-break key and stays dense (see module doc).
NULLABLE = {
    "region": ["r_name"],
    "nation": ["n_name"],
    "customer": ["c_name", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_name", "s_acctbal"],
    "part": ["p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "orders": ["o_orderstatus", "o_totalprice", "o_orderpriority"],
    "lineitem": [
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
    ],
    "events": ["event_type", "value", "props"],
    "documents": ["text", "lang", "source", "n_chars"],
    "embeddings": ["embedding", "label"],
}


def _nulled(t: str, name: str, j: int, vals: list) -> list | None:
    if name not in NULLABLE.get(t, ()):
        return None
    return [None if (i + 3 * j) % 7 == 0 else v for i, v in enumerate(vals)]


def build_nulled_dir(dst: str) -> None:
    rewrite_fixture(dst, _nulled)


if __name__ == "__main__":
    raise SystemExit(sweep_main(build_nulled_dir, "null"))
