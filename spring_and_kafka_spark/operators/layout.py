"""Storage-layout operators: zone-map data skipping and z-order
clustering quality (SURVEY.md §2 north-star mandate — the physical-design
arm of a 100 TB warehouse; reference README.md:329's "count, filter,
enrich or transform" pipeline grown to the layout-audit surface).

Why these are first-class at 100 TB: scan cost there is decided before
the first executor runs, by which files min/max footer stats let the
reader skip. Both queries quantify that — what fraction of a predicate's
input a given physical layout lets you NOT read — using only
aggregations (two groupBys and a scalar min/max broadcast; no global
sort, no window over an unpartitioned ORDER BY, nothing that funnels the
table through one task), so the audit itself runs at the scale it
audits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from spring_and_kafka_spark.exec_utils import cents, ts_micros
from spring_and_kafka_spark.registry import register
from spring_and_kafka_spark.sources.tables import load_table

# Zone-map scenario constants (shared Spark/oracle — single source of
# truth for the hash discipline).
_ZM_FILES = 64  # files per layout
_ZM_LO = "1995-01-01 00:00:00"  # predicate: l_shipdate in [LO, HI)
_ZM_HI = "1996-01-01 00:00:00"


@register(
    "q_zonemap_prune",
    oracle=f"""
    WITH assigned AS (
      SELECT l_shipdate,
             CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT)
               AS file_date,
             l_orderkey % {_ZM_FILES} AS file_scatter
      FROM lineitem
    ),
    zones AS (
      SELECT 'date_partitioned' AS layout, file_date AS file_id,
             min(l_shipdate) AS zmin, max(l_shipdate) AS zmax,
             count(*) AS n_rows
      FROM assigned GROUP BY file_date
      UNION ALL
      SELECT 'scattered', file_scatter, min(l_shipdate), max(l_shipdate),
             count(*)
      FROM assigned GROUP BY file_scatter
    ),
    marked AS (
      SELECT layout, n_rows,
             CAST(zmax < TIMESTAMP '{_ZM_LO}'
                  OR zmin >= TIMESTAMP '{_ZM_HI}' AS INT) AS skipped
      FROM zones
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(skipped) AS BIGINT) AS files_skipped,
           CAST(sum(CASE WHEN skipped = 0 THEN n_rows ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           round(sum(CASE WHEN skipped = 0 THEN n_rows ELSE 0 END)
                 * 1.0 / sum(n_rows), 4) AS scan_fraction
    FROM marked
    GROUP BY layout
    ORDER BY layout
    """,
)
def q_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max footer stats) skipping audit: how much of
    lineitem a one-year shipdate predicate must scan under two physical
    layouts — date-partitioned files (file = shipdate month: tight zone
    maps, most files skipped) vs arrival-scattered files (file =
    orderkey mod 64: every zone map spans the full date range, zero
    skipping). This is the parquet row-group pruning model: a file is
    skipped iff its [min, max] interval misses the predicate interval.

    Execution is two hash aggregations — rows → per-(layout, file) zone
    maps, zone maps → per-layout totals — with the file id a pure
    row-local expression. No sort, no shuffle wider than the file count;
    the same audit runs unchanged on 10^9-row partitions."""
    li = load_table(spark, sf_dir, "lineitem")
    assigned = li.select(
        "l_shipdate",
        (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
        .cast("long")
        .alias("file_date"),
        (F.col("l_orderkey") % _ZM_FILES).alias("file_scatter"),
    )
    # one fact scan, not one per layout: explode each row into its two
    # (layout, file_id) assignments, then a single (layout, file_id)
    # hash aggregation builds every zone map at once
    exploded = assigned.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("date_partitioned").alias("layout"),
                    F.col("file_date").alias("file_id"),
                ),
                F.struct(
                    F.lit("scattered").alias("layout"),
                    F.col("file_scatter").alias("file_id"),
                ),
            )
        ).alias("a"),
        "l_shipdate",
    )
    zones = exploded.groupBy("a.layout", "a.file_id").agg(
        F.min("l_shipdate").alias("zmin"),
        F.max("l_shipdate").alias("zmax"),
        F.count("*").alias("n_rows"),
    )
    lo = F.lit(_ZM_LO).cast("timestamp")
    hi = F.lit(_ZM_HI).cast("timestamp")
    marked = zones.select(
        "layout",
        "n_rows",
        ((F.col("zmax") < lo) | (F.col("zmin") >= hi))
        .cast("int")
        .alias("skipped"),
    )
    scanned = F.sum(F.when(F.col("skipped") == 0, F.col("n_rows")).otherwise(0))
    return (
        marked.groupBy("layout")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("skipped").alias("files_skipped"),
            scanned.alias("rows_scanned"),
            F.round(scanned * 1.0 / F.sum("n_rows"), 4).alias("scan_fraction"),
        )
        .orderBy("layout")
    )


# Z-order scenario constants.
_Z_BITS = 8  # per-dimension resolution: 256 buckets
_Z_FILE_SHIFT = 10  # 16-bit z-value >> 10 → 64 files


def _interleave_sql(cb: str, db: str) -> str:
    """SQL for bit-interleaving two _Z_BITS-bit ints (cb odd positions,
    db even) — identical text semantics in DuckDB and Spark SQL."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({cb} >> {i}) & 1) * {1 << (2 * i + 1)})")
        terms.append(f"((({db} >> {i}) & 1) * {1 << (2 * i)})")
    return " + ".join(terms)


@register(
    "q_zorder_layout",
    oracle=f"""
    WITH bounds AS (
      SELECT min(o_custkey) AS minc, max(o_custkey) AS maxc,
             min(epoch_us(o_orderdate)) AS mind,
             max(epoch_us(o_orderdate)) AS maxd
      FROM orders
    ),
    b AS (
      SELECT ((o_custkey - minc) * {1 << _Z_BITS})
               // (maxc - minc + 1) AS cb,
             ((epoch_us(o_orderdate) - mind) * {1 << _Z_BITS})
               // (maxd - mind + 1) AS db
      FROM orders CROSS JOIN bounds
    ),
    assigned AS (
      SELECT cb, db,
             ({_interleave_sql("cb", "db")}) >> {_Z_FILE_SHIFT}
               AS file_z,
             cb >> 2 AS file_c
      FROM b
    ),
    per_file AS (
      SELECT 'zorder' AS layout, file_z AS file_id,
             max(cb) - min(cb) AS span_cust,
             max(db) - min(db) AS span_date, count(*) AS n_rows
      FROM assigned GROUP BY file_z
      UNION ALL
      SELECT 'cust_sorted', file_c, max(cb) - min(cb),
             max(db) - min(db), count(*)
      FROM assigned GROUP BY file_c
    )
    SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(n_rows) AS BIGINT) AS n_rows,
           round(avg(span_cust), 4) AS avg_cust_span,
           round(avg(span_date), 4) AS avg_date_span
    FROM per_file
    GROUP BY layout
    ORDER BY layout
    """,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering quality: orders' (custkey, orderdate) bucketized
    to 8 bits each, bit-interleaved into a 16-bit z-value whose prefix
    assigns one of 64 files, vs a custkey-only sorted layout at the same
    file count. Per-layout readout: the average per-file span of EACH
    dimension's bucket range — the z-order layout bounds both spans (so
    zone maps prune on either predicate column), the single-column sort
    gives a tight custkey span but full-width date spans.

    Scale shape: one scalar min/max aggregate (broadcast back as a cross
    join with a 1-row frame), then row-local bit arithmetic, then two
    hash aggregations over ≤64-row groups — the file assignment is
    exactly how a distributed z-order writer shards (compute z, hash/range
    by its prefix), with no global sort anywhere."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_custkey").alias("minc"),
        F.max("o_custkey").alias("maxc"),
        F.min(ts_micros("o_orderdate")).alias("mind"),
        F.max(ts_micros("o_orderdate")).alias("maxd"),
    )
    scale = F.lit(1 << _Z_BITS)
    b = o.crossJoin(F.broadcast(bounds)).select(
        F.expr(
            f"((o_custkey - minc) * {1 << _Z_BITS}) DIV (maxc - minc + 1)"
        ).alias("cb"),
        (
            (ts_micros("o_orderdate") - F.col("mind")) * scale
        ).cast("long").alias("_dnum"),
        (F.col("maxd") - F.col("mind") + 1).alias("_dden"),
    )
    b = b.select("cb", F.expr("_dnum DIV _dden").alias("db"))
    assigned = b.select(
        "cb",
        "db",
        F.expr(f"({_interleave_sql('cb', 'db')}) >> {_Z_FILE_SHIFT}").alias(
            "file_z"
        ),
        F.expr("cb >> 2").alias("file_c"),
    )

    # single scan for both layouts (explode-then-one-groupBy, same
    # pattern as q_zonemap_prune)
    exploded = assigned.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.col("file_z").alias("file_id"),
                ),
                F.struct(
                    F.lit("cust_sorted").alias("layout"),
                    F.col("file_c").alias("file_id"),
                ),
            )
        ).alias("a"),
        "cb",
        "db",
    )
    pf = exploded.groupBy("a.layout", "a.file_id").agg(
        (F.max("cb") - F.min("cb")).alias("span_cust"),
        (F.max("db") - F.min("db")).alias("span_date"),
        F.count("*").alias("n_rows"),
    )
    return (
        pf.groupBy("layout")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("n_rows").alias("n_rows"),
            F.round(F.avg("span_cust"), 4).alias("avg_cust_span"),
            F.round(F.avg("span_date"), 4).alias("avg_date_span"),
        )
        .orderBy("layout")
    )


# Incremental-maintenance scenario moduli: IMPORTED from q_snapshot_diff
# (operators/analytics.py), not re-declared, so the changelog this query
# applies is definitionally the one that CDC diff emits — editing the
# CDC constants cannot silently desynchronize the two queries.
from spring_and_kafka_spark.operators.analytics import (  # noqa: E402
    _CDC_DEL as _MV_DEL,
    _CDC_INS as _MV_INS,
    _CDC_UPD as _MV_UPD,
)


@register(
    "q_mv_incremental",
    oracle=f"""
    WITH snap_b AS (
      SELECT o_orderdate,
             CASE WHEN o_orderkey % {_MV_UPD} = 0
                  THEN o_totalprice * 1.1 ELSE o_totalprice END AS price
      FROM orders WHERE o_orderkey % {_MV_DEL} <> 0
      UNION ALL
      SELECT o_orderdate, o_totalprice
      FROM orders WHERE o_orderkey % {_MV_INS} = 0
    )
    SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
             AS month_id,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM snap_b
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a monthly-revenue MV
    built over snapshot A is advanced to snapshot B by applying ONLY the
    CDC changelog (the q_snapshot_diff mutation: ~1% deletes, ~8%
    reprices, ~1% inserts) — deletes retract (-price, -1), updates emit
    the price difference, inserts add. The ORACLE recomputes the view
    from snapshot B directly, so the hash match IS the proof that
    incremental maintenance ≡ full recompute.

    Money is summed in integer cents (floor(x*100+0.5) per row, BIGINT
    sum) — with double sums, base + delta would differ from the direct
    sum in the last float bits and the equivalence would only hold
    approximately; in cents it holds exactly, which is the invariant an
    incremental pipeline must audit at 100 TB.

    Scale shape: the base MV is group-cardinality-sized (months, not
    rows) and the delta scan touches only changed keys — at 100 TB that
    is the difference between re-aggregating the table nightly and
    aggregating the day's changelog."""
    o = load_table(spark, sf_dir, "orders")
    month_id = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast(
        "long"
    )

    # the standing MV over snapshot A
    base = o.groupBy(month_id.alias("month_id")).agg(
        F.count("*").alias("n_orders"),
        F.sum(cents(F.col("o_totalprice"))).alias("revenue_cents"),
    )

    # CDC changelog rows: (month_id, d_orders, d_cents)
    key = F.col("o_orderkey")
    deletes = o.filter(key % _MV_DEL == 0).select(
        month_id.alias("month_id"),
        F.lit(-1).alias("d_orders"),
        (-cents(F.col("o_totalprice"))).alias("d_cents"),
    )
    updates = o.filter((key % _MV_DEL != 0) & (key % _MV_UPD == 0)).select(
        month_id.alias("month_id"),
        F.lit(0).alias("d_orders"),
        (
            cents(F.col("o_totalprice") * 1.1) - cents(F.col("o_totalprice"))
        ).alias("d_cents"),
    )
    inserts = o.filter(key % _MV_INS == 0).select(
        month_id.alias("month_id"),
        F.lit(1).alias("d_orders"),
        cents(F.col("o_totalprice")).alias("d_cents"),
    )
    delta = (
        deletes.unionByName(updates)
        .unionByName(inserts)
        .groupBy("month_id")
        .agg(
            F.sum("d_orders").alias("d_orders"),
            F.sum("d_cents").alias("d_cents"),
        )
    )

    merged = base.join(delta, "month_id", "full_outer").select(
        "month_id",
        (
            F.coalesce("n_orders", F.lit(0)) + F.coalesce("d_orders", F.lit(0))
        ).alias("n_orders"),
        (
            F.coalesce("revenue_cents", F.lit(0))
            + F.coalesce("d_cents", F.lit(0))
        ).alias("revenue_cents"),
    )
    return merged.filter(F.col("n_orders") > 0).orderBy("month_id")


# Compaction scenario constants.
_COMPACT_FILES = 101  # simulated small-file inventory size
_COMPACT_TARGET = 10_000  # target bytes per compacted output file


@register(
    "q_compaction_plan",
    oracle=f"""
    WITH files AS (
      SELECT doc_id % {_COMPACT_FILES} AS file_id,
             sum(length(text)) AS size_bytes
      FROM documents GROUP BY 1
    ),
    packed AS (
      SELECT file_id, size_bytes,
             -- DuckDB types sum(BIGINT) as HUGEINT, so this // lands
             -- HUGEINT -> Arrow decimal128(38,0) while Spark emits
             -- bigint; the r6/r7 driver-red was exactly this uncast
             -- group key (the measures below were cast, the key was
             -- not). Every HUGEINT-reachable oracle output column
             -- must be BIGINT-cast (registry.py conventions).
             CAST((sum(size_bytes) OVER (ORDER BY file_id) - size_bytes)
               // {_COMPACT_TARGET} AS BIGINT) AS bin_id
      FROM files
    )
    SELECT bin_id, CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
           CAST(sum(size_bytes) * 10000 // {_COMPACT_TARGET} AS BIGINT)
             AS fill_bp
    FROM packed
    GROUP BY bin_id
    ORDER BY bin_id
    """,
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: a simulated file inventory (one row
    per file: id + byte size, derived deterministically from the
    documents table) is packed into target-sized output files by
    next-fit over the inventory order — bin = cumulative-bytes-before
    DIV target. Emits the compaction manifest: per-bin file count, total
    bytes, and fill level vs the target in integer BASIS POINTS
    (fill_bp = bytes*10^4 DIV target — exact integer arithmetic in both
    engines; an oracle hash mismatch once taught that a rounded-DOUBLE
    ratio derived from exact integers is a cross-engine ULP hazard, so the
    ratio column is integer by construction). This is the nightly job
    that keeps a streaming-ingested table's file count (and thus its
    scan task count and driver planning cost) bounded.

    The running-sum window is over file METADATA — one row per file, the
    table's manifest, millions of rows at most at 100 TB — not over data
    rows; partition the window by table partition key when even that is
    too wide. The data movement the plan implies is pure per-bin
    concatenation, embarrassingly parallel.

    Arithmetic bound (ANSI): fill_bp multiplies a bin's byte total by
    10^4 in BIGINT before the DIV, so it overflows (and ANSI-throws)
    only if one next-fit bin exceeds ~9.2e14 bytes — and next-fit bins
    are bounded by target + one file, so that needs a single ~0.9 PB
    file in the manifest. DuckDB is immune via HUGEINT; if single files
    that large are ever real, cast the sum to DECIMAL(38,0) before the
    multiply on the Spark side."""
    d = load_table(spark, sf_dir, "documents")
    files = d.groupBy((F.col("doc_id") % _COMPACT_FILES).alias("file_id")).agg(
        F.sum(F.length("text")).alias("size_bytes")
    )
    w = W.orderBy("file_id").rowsBetween(W.unboundedPreceding, -1)
    packed = files.select(
        "file_id",
        "size_bytes",
        # Integer DIV on BIGINT, matching the oracle's // semantics
        # exactly — floor(double division) agrees only below ~4.5 PB
        # cumulative manifest bytes (2^52 × target granularity), and
        # this function is integer-by-construction everywhere else.
        F.coalesce(F.sum("size_bytes").over(w), F.lit(0)).alias(
            "cum_bytes_before"
        ),
    ).select(
        "file_id",
        "size_bytes",
        F.expr(
            f"CAST(cum_bytes_before DIV {_COMPACT_TARGET} AS BIGINT)"
        ).alias("bin_id"),
    )
    return (
        packed.groupBy("bin_id")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("size_bytes").alias("total_bytes"),
            F.expr(
                f"CAST(sum(size_bytes) * 10000 DIV {_COMPACT_TARGET}"
                " AS BIGINT)"
            ).alias("fill_bp"),
        )
        .orderBy("bin_id")
    )


def _key_skew_sql(table: str, col: str) -> str:
    return f"""
      SELECT '{table}.{col}' AS key_col,
             CAST(sum(c) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(max(c) AS BIGINT) AS max_rows
      FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM {table}
            WHERE {col} IS NOT NULL GROUP BY {col})"""


@register(
    "q_skew_audit",
    oracle=f"""
    WITH per_key AS (
      {_key_skew_sql('lineitem', 'l_partkey')}
      UNION ALL
      {_key_skew_sql('lineitem', 'l_suppkey')}
      UNION ALL
      {_key_skew_sql('orders', 'o_custkey')}
      UNION ALL
      {_key_skew_sql('events', 'user_id')}
    )
    SELECT key_col, n_rows, n_keys, max_rows,
           floor(max_rows * 1e6 / n_rows + 0.5) / 1e6 AS top_share,
           floor(max_rows * n_keys * 1e6 / n_rows + 0.5) / 1e6 AS skew,
           max_rows * n_keys > 4 * n_rows AS hot
    FROM per_key
    """,
    tags=("layout",),
)
def q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew audit: for each hot join key in the schema
    (lineitem.l_partkey, lineitem.l_suppkey, orders.o_custkey,
    events.user_id) — row count, key cardinality, the heaviest key's row
    count and share, and the skew factor (max over mean rows-per-key,
    in the exact max·k/total integer form) with a >4× hot flag. This is
    the pre-flight the engine's own skew machinery keys off: a flagged
    column is the input that makes `salted_join` (operators/skew.py)
    and AQE skew-join worth their overhead, and the same readout the
    q_embed_ivf_balance / q_graph_degree_dist dashboards give the ANN
    index and the graph family — completing the skew triptych for
    relational keys. At 100 TB a shuffle join on a key whose heaviest
    value owns 5% of the table stalls its stage on one reducer; this
    query prices that BEFORE the join runs.

    Cross-engine: per-key counts, maxima, totals and cardinalities are
    exact BIGINTs; the two ratios use the floor(x·1e6+0.5)/1e6 form;
    NULL keys are excluded (a NULL never routes to a join anyway —
    Spark and DuckDB both drop them from inner equi-joins) so n_rows is
    the JOINABLE row count. n_rows ≥ 1 whenever a key group exists, so
    no zero guard is needed.

    Shape at 100 TB: each audit is one map-side-combined groupBy
    (shuffle moves distinct keys with partial counts, not rows)
    re-aggregated to ONE row; the union is 4 rows. The per-key tables
    are never joined to anything. Scales as the cheapest possible pass
    over each audited column — exactly one shuffle per key column, each
    pruned to that column.

    Reference parity anchor: no relational surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part of
    the beyond-the-reference warehouse family."""

    def audit(table: str, col: str) -> DataFrame:
        per_key = (
            load_table(spark, sf_dir, table)
            .filter(F.col(col).isNotNull())
            .groupBy(col)
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return per_key.agg(
            F.lit(f"{table}.{col}").alias("key_col"),
            F.sum("c").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("c").alias("max_rows"),
        )

    u = (
        audit("lineitem", "l_partkey")
        .unionByName(audit("lineitem", "l_suppkey"))
        .unionByName(audit("orders", "o_custkey"))
        .unionByName(audit("events", "user_id"))
    )
    return u.select(
        "key_col",
        "n_rows",
        "n_keys",
        "max_rows",
        (
            F.floor(F.col("max_rows") * 1e6 / F.col("n_rows") + F.lit(0.5))
            / 1e6
        ).alias("top_share"),
        (
            F.floor(
                F.col("max_rows") * F.col("n_keys") * 1e6 / F.col("n_rows")
                + F.lit(0.5)
            )
            / 1e6
        ).alias("skew"),
        (F.col("max_rows") * F.col("n_keys") > 4 * F.col("n_rows")).alias(
            "hot"
        ),
    )
