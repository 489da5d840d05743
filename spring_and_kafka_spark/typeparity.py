"""Cross-engine output-TYPE parity gate (the q_compaction_plan lesson).

The VALUE normalizers — the driver's and ``tools/selfcheck.py``'s — compare
Python-coerced cell values, under which a DuckDB HUGEINT equals a Spark
bigint. The driver's hash, however, runs at the Arrow level, where
``sum(BIGINT)`` promoted to HUGEINT arrives as ``decimal128(38,0)`` and
hashes differently from ``int64``. That gap kept ``q_compaction_plan``
locally green but hash-red in the external check: the uncast
``// 10000`` group key was invisible to every local check.

This module is the schema-level gate both local checkers now run *before*
comparing values:

- **ban** any HUGEINT / UHUGEINT / DECIMAL oracle output column — the
  Arrow types the driver hash distinguishes from int64/float64; the fix
  is always an explicit ``CAST(... AS BIGINT)`` / ``AS DOUBLE`` in the
  oracle (registry.py conventions);
- **ban** any Spark DecimalType output column, the mirror hazard;
- **fail** any cross-engine column-type disagreement outside the
  driver-proven equivalence classes. Integer widths form one class —
  ``q_rfm`` (ntile → Spark int vs DuckDB BIGINT) and ``q_heavy_hitters``
  (rank) have been driver-green for rounds with that exact skew, so the
  driver hash normalizes integer width. TIMESTAMP forms one class with
  both Spark timestamp flavors: parquet TIMESTAMP(NANOS) binds as
  timestamp_ntz on a vanilla session (see ``exec_utils.ts_micros``).

Anything else (double vs varchar, date vs timestamp, float vs double) is
a genuine divergence a value check may or may not catch, so it fails here
first, by name.
"""

from __future__ import annotations

_BANNED_DUCK = ("HUGEINT", "UHUGEINT", "DECIMAL")

# DuckDB DESCRIBE type name -> cross-engine equivalence class.
_DUCK_CLASS = {
    "TINYINT": "integer",
    "SMALLINT": "integer",
    "INTEGER": "integer",
    "BIGINT": "integer",
    "UTINYINT": "integer",
    "USMALLINT": "integer",
    "UINTEGER": "integer",
    "UBIGINT": "integer",
    "DOUBLE": "double",
    "FLOAT": "float",
    "VARCHAR": "string",
    "BOOLEAN": "boolean",
    "DATE": "date",
    "TIMESTAMP": "timestamp",
    "TIMESTAMP WITH TIME ZONE": "timestamp",
    "BLOB": "binary",
}

# Spark DataType.simpleString() -> the same classes.
_SPARK_CLASS = {
    "tinyint": "integer",
    "smallint": "integer",
    "int": "integer",
    "bigint": "integer",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
    "binary": "binary",
}


def oracle_type_issues(describe_rows, spark_schema) -> list[str]:
    """Schema-level parity check for one (oracle, Spark query) pair.

    ``describe_rows``: iterable of DuckDB ``DESCRIBE <oracle>`` rows
    (first two fields = column name, column type). ``spark_schema``: the
    query DataFrame's StructType (lazy — no job runs to obtain it).
    Returns a list of human-readable issues; empty means parity holds.
    """
    issues: list[str] = []
    spark_types = {
        f.name: f.dataType.simpleString() for f in spark_schema.fields
    }
    for row in describe_rows:
        col, duck_type = row[0], str(row[1])
        up = duck_type.upper()
        if any(b in up for b in _BANNED_DUCK):
            issues.append(
                f"{col}: oracle type {duck_type} reaches the driver as "
                "Arrow decimal128, which hashes differently from int64 "
                "even when values are equal — CAST the oracle column to "
                "BIGINT/DOUBLE"
            )
            continue
        st = spark_types.get(col)
        if st is None:
            # column-name parity is the value checkers' job; don't
            # double-report it here
            continue
        if st.startswith("decimal"):
            issues.append(
                f"{col}: Spark DecimalType {st} — the mirror hazard; "
                "cast to bigint/double in the Spark plan"
            )
            continue
        dclass = _DUCK_CLASS.get(up)
        sclass = _SPARK_CLASS.get(st)
        if dclass is None or sclass is None or dclass != sclass:
            issues.append(
                f"{col}: oracle {duck_type} vs Spark {st} — outside the "
                "driver-proven equivalence classes (integer widths, "
                "timestamp flavors); align the types explicitly"
            )
    return issues
