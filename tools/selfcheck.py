"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its DuckDB oracle at the given
scale factor, compares row count, column names, and an order-insensitive
multiset of normalized values. Run before every milestone commit:

    python tools/selfcheck.py [--vanilla] [--json out.json] [sf_dir] [query ...]

--json writes a per-query result artifact. The latest full-registry
sweeps are committed as SELFCHECK_r18.json (sf0.01) and
SELFCHECK_r18_sf01.json (sf0.1), so oracle changes are provably
validated beyond the 50-entry verified window; earlier sweeps are in git
history (e.g. `git show 75b82e1:SELFCHECK_r17.json`).

--vanilla uses a default-config SparkSession (200 shuffle partitions, no
tuning) — the same kind of session the driver uses — instead of the
repo's tuned one.
"""

from __future__ import annotations

import math
import sys
import tempfile
import time
from collections.abc import Callable
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from spring_and_kafka_spark import registry  # noqa: E402
from spring_and_kafka_spark.session import get_spark  # noqa: E402
from spring_and_kafka_spark.sources.tables import TABLES  # noqa: E402
from spring_and_kafka_spark.typeparity import oracle_type_issues  # noqa: E402


def normalize(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # 17 significant digits is the float64 round-trip width: any
        # cross-engine divergence, down to 1 ulp, fails HERE before it
        # fails the driver's bitwise hash. Round 6's only driver-red
        # (q_compaction_plan) slipped through the previous %.9g — a
        # looser-than-driver local gate is a blind spot, not a gate.
        return f"{v:.17g}"
    if isinstance(v, (list, tuple)):
        return tuple(normalize(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((k, normalize(x)) for k, x in v.items()))
    return v


def row_multiset(rows, col_order):
    out = []
    for r in rows:
        out.append(tuple(normalize(r[i]) for i in col_order))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def _contract_view_sql(sf_dir: str, t: str) -> str:
    """DuckDB view applying the engine's finite-or-null ingest contract
    (the mirror of sources/tables.py:_enforce_float_contract): external
    NaN/±Inf doubles become NULL; a vector with any non-finite component
    becomes a NULL vector. Used by NaN-injection sweeps so both engines
    read through the same ingest boundary, exactly as a 100 TB deploy
    would (the oracle models the engine, and the engine's scan
    normalizes)."""
    from spring_and_kafka_spark.sources.tables import DOUBLE_COLS, VECTOR_COLS

    exprs = ["*"]
    replaced = []
    for c in DOUBLE_COLS.get(t, ()):
        replaced.append(
            f"CASE WHEN isnan({c}) OR isinf({c}) THEN NULL ELSE {c} END AS {c}"
        )
    for c in VECTOR_COLS.get(t, ()):
        replaced.append(
            f"CASE WHEN len(list_filter({c}, v -> isnan(v) OR isinf(v))) > 0 "
            f"THEN NULL ELSE {c} END AS {c}"
        )
    if replaced:
        exprs = [f"* REPLACE ({', '.join(replaced)})"]
    return (
        f"CREATE VIEW {t} AS SELECT {exprs[0]} FROM '{sf_dir}/{t}.parquet'"
    )


SMOKE_DIR = "/root/testdata/sf0.001"


def rewrite_fixture(
    dst: str, rewrite: Callable[[str, str, int, list], list | None]
) -> None:
    """Write every table of the sf0.001 fixture to `dst`, each column's
    values passed through ``rewrite(table, column, position, values)``,
    which returns the new values or None to keep the column (the
    injection sweeps' fixture builder)."""
    for t in TABLES:
        tbl = pq.read_table(f"{SMOKE_DIR}/{t}.parquet")
        cols = []
        for j, name in enumerate(tbl.column_names):
            col = tbl.column(name).combine_chunks()
            # pylist round-trip: type-agnostic (covers the list<float>
            # embedding column), exact-schema rebuild, and sf0.001 is
            # small enough that it costs nothing
            vals = rewrite(t, name, j, col.to_pylist())
            cols.append(col if vals is None else pa.array(vals, type=col.type))
        pq.write_table(pa.table(cols, schema=tbl.schema), f"{dst}/{t}.parquet")


def sweep_main(build: Callable[[str], None], name: str, *flags: str) -> int:
    """The injection sweeps' CLI, ``[--json out.json] [--vanilla]
    [query ...]``: build a fixture into a fresh temp dir with `build`,
    then run this selfcheck over it (`flags` go first)."""
    args = sys.argv[1:]
    passed: list[str] = []
    queries: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--json":
            passed += args[i : i + 2]
            i += 2
        elif args[i] == "--vanilla":
            passed.append(args[i])
            i += 1
        else:
            queries.append(args[i])
            i += 1
    dst = tempfile.mkdtemp(prefix=f"{name}sweep-")
    build(dst)
    print(f"{name} fixture at {dst}")
    sys.argv = ["selfcheck.py", *flags, *passed, dst, *queries]
    return main()


def main() -> int:
    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    contract_views = "--contract-views" in args
    args = [a for a in args if a not in ("--vanilla", "--contract-views")]
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        json_path = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    con = duckdb.connect()
    for t in TABLES:
        if contract_views:
            con.execute(_contract_view_sql(sf_dir, t))
        else:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )

    if vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[4]")
            .appName("selfcheck-vanilla")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
    else:
        spark = get_spark("selfcheck")
    specs = registry.all_specs()
    failures = []
    results: dict[str, dict] = {}

    def record(name, status, rows=None, secs=None, detail=None):
        results[name] = {
            "status": status,
            "rows": rows,
            "secs": round(secs, 2) if secs is not None else None,
            "detail": detail,
        }

    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            record(name, "spark_error", detail=str(exc)[:300])
            print(f"FAIL {name}: spark error: {exc}")
            continue
        if spec.oracle is None:
            record(name, "rows_only", rows=len(srows), secs=time.time() - t0)
            print(f"ok   {name}: rows-only, {len(srows)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            # Schema-level gate BEFORE the value compare: the value
            # normalizer equates HUGEINT/Decimal with int, which is
            # exactly how the q_compaction_plan driver-red stayed
            # locally invisible r5-r7 (VERDICT r8 item 2).
            desc = con.execute(f"DESCRIBE {spec.oracle}").fetchall()
            type_issues = oracle_type_issues(desc, sdf.schema)
            if type_issues:
                failures.append(name)
                record(name, "type_mismatch", detail="; ".join(type_issues)[:300])
                print(f"FAIL {name}: type parity: {'; '.join(type_issues)}")
                continue
            ores = con.execute(spec.oracle)
            ocols = [d[0] for d in ores.description]
            orows = ores.fetchall()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            record(name, "duckdb_error", detail=str(exc)[:300])
            print(f"FAIL {name}: duckdb error: {exc}")
            continue
        if sorted(scols) != sorted(ocols):
            failures.append(name)
            record(name, "schema_mismatch", detail=f"{sorted(scols)} vs {sorted(ocols)}")
            print(f"FAIL {name}: columns spark={sorted(scols)} duck={sorted(ocols)}")
            continue
        if len(srows) != len(orows):
            failures.append(name)
            record(name, "rowcount_mismatch", detail=f"{len(srows)} vs {len(orows)}")
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(orows)}")
            continue
        order = sorted(range(len(scols)), key=lambda i: scols[i])
        oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
        sset = row_multiset(srows, order)
        oset = row_multiset(orows, oorder)
        if sset != oset:
            failures.append(name)
            diff = [(a, b) for a, b in zip(sset, oset) if a != b][:3]
            record(name, "value_mismatch", rows=len(srows), detail=str(diff)[:300])
            print(f"FAIL {name}: value mismatch, first diffs: {diff}")
            continue
        record(name, "hash_match", rows=len(srows), secs=time.time() - t0)
        print(f"ok   {name}: {len(srows)} rows hash-match ({time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    if json_path:
        import json

        with open(json_path, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "vanilla": vanilla,
                    "n_queries": len(results),
                    "n_failures": len(failures),
                    "results": results,
                },
                fh,
                indent=1,
            )
        print(f"wrote {json_path}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
