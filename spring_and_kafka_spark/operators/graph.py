"""Graph analytics over relational data on the part co-purchase graph.

The convergence loops (cc, k-core, BFS, LPA) and dedup's connected
components run on one kernel, exec_utils.fixpoint over a
message_edges table: lineage cut per block, the driver holds only loop
COUNTERS, never data. PageRank's FIXED rounds unroll into one lazy job.

Why integer arithmetic: a float PageRank can never hash-match across
engines — per-node sums run in engine-specific order and float addition
is not associative. Scaling ranks to integers (1e6 = mass 1.0) makes
every operation exact and order-free: contribution = rank div outdeg,
damping = 150000 + (85 * inflow) div 100. The truncation drift vs the
real-valued recurrence is < 1e-6 per edge per round — irrelevant for
ranking — and the DuckDB oracle replays the identical integer recurrence,
so the hash check is exact, not approximate.

Imported late in registry._load_all_modules — registers AFTER the
driver's frozen 50-slot verification window prefix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from spring_and_kafka_spark.exec_utils import (
    array_pairs,
    fixpoint,
    materialize,
    message_edges,
    min_step,
    sym_edges,
)
from spring_and_kafka_spark.registry import register
from spring_and_kafka_spark.sources.tables import load_table

_PR_ITERS = 5
_PR_SCALE = 1_000_000  # rank 1.0 == 1e6
_PR_BASE = 150_000  # (1 - d) * scale, d = 0.85


# The thinned co-order edge universe (u < v, sharing >= 2 orders): the
# SQL twin of _co_order_und, shared by every graph oracle but pagerank's.
_CO_ORDER_EDGES_SQL = """items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    eh AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    )"""
# both directions of eh: the SQL twin of exec_utils.sym_edges
_SYM_EDGES_SQL = """edges AS MATERIALIZED (SELECT u AS src, v AS dst FROM eh
              UNION ALL SELECT v, u FROM eh)"""


def _pr_iter_sql(k: int) -> str:
    return f"""
    r{k} AS (
      SELECT n.node,
             CAST({_PR_BASE} + (85 * coalesce(s.m, 0)) // 100 AS BIGINT)
               AS pr
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, CAST(sum(r.pr // d.deg) AS BIGINT) AS m
        FROM edges e
        JOIN r{k - 1} r ON e.src = r.node
        JOIN outdeg d ON d.src = e.src
        GROUP BY e.dst
      ) s ON n.node = s.node
    )"""


@register(
    "q_graph_pagerank",
    oracle=f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT l_partkey AS node FROM li),
    r0 AS (SELECT node, CAST({_PR_SCALE} AS BIGINT) AS pr FROM nodes),
    {",".join(_pr_iter_sql(k) for k in range(1, _PR_ITERS + 1))}
    SELECT node, pr FROM r{_PR_ITERS}
    """,
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 5 rounds) over the part co-purchase graph:
    directed edges between every pair of parts that appear in the same
    order. The "what else matters" centrality query every recommender
    or catalog-importance pipeline runs.

    All arithmetic is scaled-integer (see module doc) so both engines
    hold bit-identical BIGINTs after every round; the oracle unrolls the
    same 5 rounds as chained CTEs — the same treatment that made the
    Lloyd-refined IVF index SQL-oracled.

    Shape at 100 TB: edge construction is a self-join co-partitioned on
    l_orderkey (per-order fanout is quadratic in ORDER SIZE, which is
    bounded by 7 in TPC-H — never in table size). The (src, dst, deg)
    fan table — edges pre-joined with out-degrees — is materialized
    ONCE; each round is then a single shuffled join on src plus one
    map-side-combined groupBy(dst). The FIXED 5 rounds stay lazy and
    unroll into ONE job (the inputs below the loop are lineage-cut, so
    the unrolled plan is 5 shallow join/agg stages — measured 2.5×
    faster than checkpointing every round, which pays 5 job barriers).
    Contrast with the connected-components loop (llm/dedup.py), which
    iterates TO CONVERGENCE and therefore must cut lineage per round —
    unbounded unrolling is where plans blow up. The driver holds no
    data, only the loop index."""
    # NOTE: the per-order collect_set+explode build that replaced
    # the items self-join for the THINNED edge family (see
    # _co_order_pairs) was A/B-measured SLOWER here: pagerank's edge set
    # is the unthinned DISTINCT pair set, so the build has no (u,v)
    # count aggregation to amortize the array expansion against — the
    # struct/array explode CPU exceeds the join probe it saves (warm
    # medians 2.0-2.4 s vs 1.6-1.8 s at sf0.1). The self-join form stays.
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = materialize(
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    fan = materialize(edges.join(outdeg, "src").select("src", "dst", "deg"))
    nodes = materialize(
        li.select(F.col("l_partkey").alias("node")).distinct()
    )
    ranks = nodes.select(
        "node", F.lit(_PR_SCALE).cast("long").alias("pr")
    )
    # NOTE (A/B-measured): the message-union form that won on the
    # min/argmax iteratives (CC/BFS/k-core/LPA) — replace this LEFT
    # JOIN with a union of 0-contribution node rows into the sum —
    # was measured consistently ~80% SLOWER here (interleaved same-JVM,
    # sf0.1 warm: old 3.15-3.79 s vs union 4.50-6.77 s over two 3-pair
    # sessions). Difference vs the winners: their per-round tables are
    # label-sized and every round ends in ONE aggregate, so the union
    # removes a whole join stage; pagerank's 5 FIXED rounds unroll lazily
    # into one job where the dangling-node join is a cheap broadcast —
    # routing every node row through the exchange per round costs more
    # than the join it removes. The left-join form stays.
    for _ in range(_PR_ITERS):
        inflow = (
            fan.join(ranks, fan.src == ranks.node)
            .select("dst", F.expr("pr div deg").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").cast("long").alias("m"))
        )
        ranks = nodes.join(inflow, nodes.node == inflow.dst, "left").select(
            "node",
            (
                F.lit(_PR_BASE)
                + F.expr("85 * coalesce(m, 0) div 100")
            )
            .cast("long")
            .alias("pr"),
        )
    return ranks


@register(
    "q_graph_triangles",
    oracle=f"""
    WITH {_CO_ORDER_EDGES_SQL}
    SELECT CAST((SELECT count(*) FROM eh) AS BIGINT) AS n_edges,
           CAST(count(*) AS BIGINT) AS n_triangles
    FROM eh e1
    JOIN eh e2 ON e2.u = e1.v
    JOIN eh e3 ON e3.u = e1.u AND e3.v = e2.v
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the part co-order graph (parts ordered together
    ≥2 times) — the clustering-coefficient / community-density
    primitive, and the classic test of join-order discipline at scale.

    Spark path uses DEGREE orientation: every edge points from its
    lower-degree endpoint (ties by id), so each triangle is counted
    exactly once and the wedge join fans out by the SMALLER degree —
    sum(min_deg²) wedges instead of sum(deg²), the standard mitigation
    for power-law hubs (a hub only originates wedges toward
    higher-degree nodes, of which there are few). The oracle orients by
    id instead — the triangle COUNT is orientation-invariant, so both
    agree while the physical fan-out differs. Two shuffles (wedge build,
    closing-edge semi join) over the thinned edge set."""
    und = materialize(_co_order_und(spark, sf_dir))
    n_edges = und.count()
    # degree per node over the undirected edge set (explode both
    # endpoints in one pass over the checkpoint, not a union of two
    # projections)
    deg = (
        und.select(F.explode(F.array(F.col("u"), F.col("v"))).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    directed = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select("e.s", "e.t")
    )
    # directed feeds three differently-partitioned join sides (wedge e1,
    # wedge e2, closing) — ReuseExchange can't dedup them, so cut here or
    # the degree joins recompute per side
    directed = materialize(directed)
    e1 = directed.alias("e1")
    e2 = directed.alias("e2")
    wedges = e1.join(e2, F.col("e2.s") == F.col("e1.t")).select(
        F.col("e1.s").alias("x"), F.col("e1.t").alias("y"), F.col("e2.t").alias("z")
    )
    # the orientation is a total (degree, id) order, so a triangle's
    # closing edge is always oriented x→z — no reverse lookup needed
    closing = directed.select(F.col("s").alias("x"), F.col("t").alias("z"))
    tri = wedges.join(closing, ["x", "z"], "left_semi")
    return tri.agg(
        F.lit(n_edges).cast("long").alias("n_edges"),
        F.count(F.lit(1)).alias("n_triangles"),
    )


@register(
    "q_graph_degree",
    oracle=f"""
    WITH {_CO_ORDER_EDGES_SQL},
    deg AS (
      SELECT n, count(*) AS d FROM (
        SELECT u AS n FROM eh UNION ALL SELECT v FROM eh
      ) GROUP BY n
    )
    SELECT CAST(d AS BIGINT) AS degree,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY d
    """,
)
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part co-order graph (same thinned
    edge set as q_graph_triangles: parts ordered together ≥2 times) —
    the first diagnostic run on any graph before choosing join
    strategies: a heavy tail here is exactly what the triangle
    operator's degree orientation and the skew family's salting exist
    to absorb.

    Two map-side-combined aggregations past the shared edge build: node
    degrees from the doubled edge list, then the histogram on the tiny
    degree key. No joins after the edge thinning; at 100 TB the edge
    build's (order, part) dedup shuffle dominates and the histogram is
    free."""
    und = _co_order_und(spark, sf_dir)
    # explode both endpoints in ONE pass: the union of two projections
    # of the unmaterialized und planned the whole edge build twice
    # (plan audit)
    deg = (
        und.select(F.explode(F.array(F.col("u"), F.col("v"))).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return deg.groupBy(F.col("d").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


_CC_ROUNDS = 16  # ≥ max eccentricity of any component's min-id node on
# every fixture (measured: 3 @ sf0.001, 10 @ sf0.01, 7 @ sf0.1; NULL
# injection only REMOVES edges, shrinking components)


def _cc_iter_sql(k: int) -> str:
    return f"""
    r{k} AS MATERIALIZED (
      SELECT r.node,
             CAST(least(r.lab, coalesce(m.ml, r.lab)) AS BIGINT) AS lab
      FROM r{k - 1} r LEFT JOIN (
        SELECT e.dst AS node, min(rr.lab) AS ml
        FROM edges e JOIN r{k - 1} rr ON e.src = rr.node
        GROUP BY e.dst
      ) m ON m.node = r.node
    )"""


@register(
    "q_graph_cc",
    oracle=f"""
    WITH {_CO_ORDER_EDGES_SQL},
    {_SYM_EDGES_SQL},
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    r0 AS MATERIALIZED (SELECT node, node AS lab FROM nodes),
    {','.join(_cc_iter_sql(k) for k in range(1, _CC_ROUNDS + 1))}
    SELECT lab AS component, CAST(count(*) AS BIGINT) AS n_nodes
    FROM r{_CC_ROUNDS} GROUP BY lab
    """,
    tags=("graph",),
)
def q_graph_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the part co-order graph (same thinned
    edge set as q_graph_triangles: parts co-ordered ≥2 times) via
    synchronized min-label propagation — component id = smallest part
    key reachable; output is one row per component with its size. The
    community/segment primitive behind co-purchase clustering, and the
    standalone form of the CC kernel the dedup family runs over LSH
    pair graphs (llm/dedup.py).

    Parity by fixed point: the oracle unrolls exactly {_CC_ROUNDS}
    synchronized rounds; Spark iterates the identical recurrence but
    may stop early once no label changes — converged labels are a
    fixed point of the propagation, so rounds j..{_CC_ROUNDS} are
    no-ops and the early-stopped result equals the {_CC_ROUNDS}-round
    result bit for bit. If a pathological graph needed MORE than
    {_CC_ROUNDS} rounds, both engines would return the same
    {_CC_ROUNDS}-round partial labeling (parity still holds; the
    output is then "components within {_CC_ROUNDS} hops of their min
    id" — a documented cap, not an assertion). {_CC_ROUNDS} ≥ the
    min-id node's eccentricity on every fixture (max measured: 10 at
    sf0.01), so on shipped data the cap never binds.

    Shape at 100 TB: per-round cost is one edges⋈labels shuffle on the
    node key plus a map-side-combined min-groupBy, run by the shared
    fixpoint kernel (exec_utils.fixpoint: 2 blocks of 8 rounds, lineage
    cut per block, the driver holds only a 1-row probe; synchronized
    propagation needs diameter rounds, the documented trade vs
    pointer-jumping's denser intermediate edge sets). Integer labels:
    min() is order-free and exact, so the hash check is exact, not
    approximate.

    Reference parity anchor: the reference app has no graph surface at
    all (src/main/java/jc/DemoApplication.java is a Kafka pipe);
    this extends the engine's beyond-the-reference analytics family.
    """
    edges = message_edges(materialize(_co_order_und(spark, sf_dir)))
    labels = edges.filter(F.col("w") == 0).select(
        F.col("src").alias("node"), F.col("src").alias("lab")
    )
    # block-8 beat block-4 and one 16-round block at sf0.1 (3.54 vs
    # 4.03 vs 4.94 s): the fixed point lands near round 7
    labels, _ = fixpoint(
        edges, labels, min_step("lab", F.col("lab")), _CC_ROUNDS // 8, 8
    )
    return labels.groupBy(F.col("lab").alias("component")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


_KCORE_K = 2  # core threshold: nodes surviving repeated degree-<2 peel
_KCORE_ROUNDS = 12  # ≥ peel depth on every fixture (measured fixpoint:
# 1 round @ sf0.001, 4 @ sf0.01, 6 @ sf0.1; NULL injection only removes
# edges, and the cap-parity argument below holds at ANY depth anyway)


def _kcore_iter_sql(k: int) -> str:
    return f"""
    a{k} AS MATERIALIZED (
      SELECT e.src AS node, CAST(count(*) AS BIGINT) AS deg
      FROM edges e
      JOIN a{k - 1} x ON e.src = x.node
      JOIN a{k - 1} y ON e.dst = y.node
      GROUP BY e.src HAVING count(*) >= {_KCORE_K}
    )"""


@register(
    "q_graph_kcore",
    oracle=f"""
    WITH {_CO_ORDER_EDGES_SQL},
    {_SYM_EDGES_SQL},
    a0 AS MATERIALIZED (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS deg
                        FROM edges),
    {','.join(_kcore_iter_sql(k) for k in range(1, _KCORE_ROUNDS + 1))}
    SELECT node, deg AS core_deg FROM a{_KCORE_ROUNDS}
    """,
    tags=("graph",),
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_KCORE_K}-core decomposition of the part co-order graph (same
    thinned edge set as q_graph_triangles/q_graph_cc): repeatedly peel
    every node whose degree among surviving nodes is < {_KCORE_K} until
    a fixed point; output is each surviving node with its within-core
    degree. The standard robustness/community filter next to
    degree/triangles/cc/pagerank — the {_KCORE_K}-core is where cliques
    and cycles live, and what survives here is what a co-purchase
    community detector should even look at.

    Parity by fixed point (the q_graph_cc trick verbatim): the oracle
    unrolls exactly {_KCORE_ROUNDS} peel rounds; Spark iterates the
    identical recurrence but may stop once the alive set stops
    shrinking — the alive set is MONOTONE decreasing, so a round in
    which nobody dies proves its input was the fixed point and all
    later rounds are no-ops; the reported deg is a pure function of the
    alive set, so it is stable at the fixed point with it. If a
    pathological graph needed more than {_KCORE_ROUNDS} rounds, both
    engines return the same round-{_KCORE_ROUNDS} partial peel (a
    documented cap, not an assertion); on shipped fixtures the deepest
    measured peel is 6 rounds.

    Shape at 100 TB: per-round cost is one semi-join-shaped hash join
    of the message table against the (small, shrinking) alive set plus
    one map-side-combined aggregate; the edges are materialized ONCE,
    and the shared fixpoint kernel runs 2 blocks of 6 peel rounds (the
    alive table is small enough that job overhead, not data, dominates
    a round, the measurement that set q_graph_cc's cadence).

    Reference parity anchor: the reference app has no graph surface
    (src/main/java/jc/DemoApplication.java is a Kafka pipe); this
    extends the beyond-the-reference analytics family.
    """
    edges = message_edges(materialize(_co_order_und(spark, sf_dir)))
    # every node starts alive; a round reads only membership, so the
    # seed deg is just the alive mark
    alive = edges.filter(F.col("w") == 0).select(
        F.col("src").alias("node"), F.lit(_KCORE_K).cast("long").alias("deg")
    )

    def peel(edges: DataFrame, alive: DataFrame, flag: bool) -> DataFrame:
        # drop the input's dead rows (the flagged round keeps them to
        # report them). One join: every alive src sends w to its dst;
        # sum(w) counts the alive real neighbors (the self-loop adds 0)
        # and min(w) = 0 keeps only dsts whose own self-loop fired, i.e.
        # alive nodes. On the symmetric table that is the oracle's
        # two-join count bit for bit.
        alive = alive.filter(F.col("deg") >= _KCORE_K)
        g = (
            edges.join(alive, edges.src == alive.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("w").cast("long").alias("deg"), F.min("w").alias("_mw"))
            .filter(F.col("_mw") == 0)
            .select("node", "deg")
        )
        return g.withColumn("_ch", F.col("deg") < _KCORE_K) if flag else g

    # block-6 beat block-4 and one 12-round block at sf0.1 (3.10 vs
    # 3.46 vs 3.62 s)
    alive, _ = fixpoint(edges, alive, peel, _KCORE_ROUNDS // 6, 6)
    return alive.filter(F.col("deg") >= _KCORE_K).select(
        "node", F.col("deg").alias("core_deg")
    )


_JACCARD_CENTER_CAP = 256  # wedge hub guard (see q_graph_jaccard)


@register(
    "q_graph_jaccard",
    oracle=f"""
    WITH {_CO_ORDER_EDGES_SQL},
    {_SYM_EDGES_SQL},
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
            FROM edges GROUP BY 1),
    ecap AS (
      SELECT e.src, e.dst
      FROM edges e JOIN deg dc ON dc.node = e.src
      WHERE dc.d <= {_JACCARD_CENTER_CAP}
    ),
    cand AS (
      SELECT e1.dst AS u, e2.dst AS v,
             CAST(count(*) AS BIGINT) AS common
      FROM ecap e1 JOIN ecap e2
        ON e1.src = e2.src AND e1.dst < e2.dst
      GROUP BY 1, 2
    )
    SELECT c.u, c.v, c.common, du.d AS deg_u, dv.d AS deg_v,
           floor(c.common * 1e6 / (du.d + dv.d - c.common) + 0.5) / 1e6
             AS jaccard,
           eh.u IS NOT NULL AS is_edge
    FROM cand c
    JOIN deg du ON du.node = c.u
    JOIN deg dv ON dv.node = c.v
    LEFT JOIN eh ON eh.u = c.u AND eh.v = c.v
    """,
    tags=("graph",),
)
def q_graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard similarity for every part pair sharing at
    least one co-order neighbor (same thinned edge set as the rest of
    the graph family): |N(u)∩N(v)| / |N(u)∪N(v)| plus an is_edge flag —
    the classic link-prediction / entity-similarity primitive (a
    non-adjacent pair with high Jaccard is a predicted edge; an
    adjacent one with low Jaccard is a bridge between communities).

    Candidate generation is the WEDGE join (two edges sharing a
    center), never all-pairs: a pair appears iff it has ≥1 common
    neighbor, and its common count IS the wedge multiplicity — one
    grouped count over the wedge fan-out, the exact discipline of
    q_graph_triangles. The fan-out is STRUCTURALLY bounded by
    _JACCARD_CENTER_CAP (the _SHINGLE_DF_CAP pattern, llm/dedup.py:
    "one shingle shared by d docs emits d² join rows"): wedges expand
    only through centers with degree ≤ the cap, so shuffle volume is
    ≤ Σ min(deg, cap)² — O(nodes·cap²) worst case — instead of the
    unbounded Θ(Σ deg²) a power-law hub explodes at 100× scale.
    Trade, documented as dedup documents its cap:
    a hub's wedges are dropped, so a pair's reported `common` is a
    LOWER BOUND when one of its shared neighbors is a hub, and a pair
    whose ONLY shared neighbors are hubs is absent — hubs that
    co-occur with everything are non-discriminative for similarity
    anyway (the stopword-shingle argument). The cap is interpolated
    into the oracle so hash parity holds when it fires; fixture
    headroom is ~20× (max thinned degree 13 at sf0.01, 6 at sf0.1),
    and the planted-hub star test pins the capped semantics
    (tests/test_degenerate.py). Output deg_u/deg_v stay the FULL
    degrees — only wedge expansion is capped. Degrees
    join back from the per-node table (unhinted — AQE broadcasts it at
    fixture sizes and is free to shuffle when the node dimension
    outgrows executor memory); the direct-edge flag is a left join
    against the undirected edge list.

    Cross-engine: common/deg are exact BIGINTs; the union size
    du+dv−common ≥ max(du,dv) ≥ 1, so the single division needs no
    zero guard; the score rounds via the floor(x·1e6+0.5)/1e6 form —
    identical IEEE ops in both engines, immune to the round()
    boundary divergence (small-integer ratios DO land on half-digit
    boundaries; the q_hist_equidepth lesson).

    Reference parity anchor: no graph surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part of
    the beyond-the-reference analytics family."""
    # eh feeds three sides (both undirected halves + the is_edge probe)
    # — cut here so the co-order build runs once
    eh = materialize(_co_order_und(spark, sf_dir))
    # ONE materialized adjacency build: degree is the neighbor array's
    # size, the hub cap a size filter, and the wedge pairs expand
    # in-array. Resident-memory bound (as on lsh_candidate_pairs): an
    # over-cap hub's list is collected then dropped — 8 bytes × degree
    # in one aggregation buffer, never a pair fan-out.
    grp = materialize(
        sym_edges(eh)
        .groupBy("src")
        .agg(F.array_sort(F.collect_set("dst")).alias("ds"))
    )
    deg = grp.select(
        F.col("src").alias("node"), F.size("ds").cast("long").alias("d")
    )
    cand = (
        grp.filter(F.size("ds") <= _JACCARD_CENTER_CAP)
        .select(F.explode(array_pairs("ds", "u", "v")).alias("p"))
        .groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("deg_v"))
    probe = eh.select("u", "v", F.lit(1).alias("_e"))
    # no broadcast HINTS on deg/probe: the per-node table scales with
    # the part dimension (auto-broadcast picks it up at fixture sizes;
    # at 100 TB AQE decides shuffle-vs-broadcast from the real size —
    # forcing broadcast of a billion-node degree table would be wrong)
    j = (
        cand.join(du, "u")
        .join(dv, "v")
        .join(probe, ["u", "v"], "left")
    )
    union_sz = F.col("deg_u") + F.col("deg_v") - F.col("common")
    return j.select(
        "u",
        "v",
        "common",
        "deg_u",
        "deg_v",
        (F.floor(F.col("common") * 1e6 / union_sz + F.lit(0.5)) / 1e6).alias(
            "jaccard"
        ),
        F.col("_e").isNotNull().alias("is_edge"),
    )


_BFS_ROUNDS = 12  # ≥ max hops-to-anchor on every fixture (same bound
# class as _CC_ROUNDS: CC eccentricity measured ≤ 10 at sf0.01); the
# fixed-point parity argument makes the cap safe at ANY depth anyway
_BFS_ANCHOR = 100  # anchor set: thinned-graph nodes with part key < 100


def _bfs_iter_sql(k: int) -> str:
    return f"""
    r{k} AS MATERIALIZED (
      SELECT r.node,
             CAST(least(r.dist, m.md) AS BIGINT) AS dist
      FROM r{k - 1} r LEFT JOIN (
        SELECT e.dst AS node, min(rr.dist + 1) AS md
        FROM edges e JOIN r{k - 1} rr ON e.src = rr.node
        GROUP BY e.dst
      ) m ON m.node = r.node
    )"""


@register(
    "q_graph_bfs",
    oracle=f"""
    WITH {_CO_ORDER_EDGES_SQL},
    {_SYM_EDGES_SQL},
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    r0 AS MATERIALIZED (
      SELECT node, CASE WHEN node < {_BFS_ANCHOR}
                        THEN CAST(0 AS BIGINT) END AS dist
      FROM nodes
    ),
    {','.join(_bfs_iter_sql(k) for k in range(1, _BFS_ROUNDS + 1))}
    SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes
    FROM r{_BFS_ROUNDS} GROUP BY dist
    """,
    tags=("graph",),
)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance on the part co-order graph (same
    thinned edge set as the rest of the graph family): distance = min
    hops from the anchor set (part keys < {_BFS_ANCHOR} that appear as
    graph nodes), reported as a hop histogram with a NULL row for
    unreachable nodes — the reachability/propagation primitive next to
    CC (membership), k-core (robustness), and PageRank (importance):
    "how many co-purchase hops is the catalog from the anchor SKUs"
    is the expansion-planning readout.

    Parity by fixed point (the q_graph_cc/q_graph_kcore argument, third
    instantiation): the oracle unrolls exactly {_BFS_ROUNDS}
    synchronized relaxation rounds; Spark iterates the identical
    recurrence and may stop early once no distance changes — distances
    are MONOTONE non-increasing (start ∞ = NULL, only ever lowered), so
    an unchanged round is a fixed point and all later rounds are
    no-ops. least()/min() skip NULLs identically in both engines
    (verified: least(3, NULL) = 3 in Spark AND DuckDB), so NULL is a
    faithful ∞.

    Shape at 100 TB: per-round cost is one edges⋈frontier shuffle plus
    a map-side-combined min-groupBy, run by the shared fixpoint kernel
    (exec_utils.fixpoint: 2 blocks of 6 rounds, lineage cut per block,
    the driver holds only a 1-row probe). Synchronized relaxation needs
    eccentricity rounds — the documented trade vs pointer-doubling's
    denser intermediates."""
    edges = message_edges(materialize(_co_order_und(spark, sf_dir)))
    dist = edges.filter(F.col("w") == 0).select(
        F.col("src").alias("node"),
        F.when(F.col("src") < _BFS_ANCHOR, F.lit(0)).cast("long").alias("dist"),
    )
    # min(dist + w) over the messages is least(dist, min(nbr + 1)): the
    # w = 0 self-loop delivers the node's own distance. Block-6 beat
    # block-4 and one 12-round block at sf0.1 (3.00 vs 3.64 vs 3.87 s).
    relax = min_step("dist", F.col("dist") + F.col("w"))
    dist, _ = fixpoint(edges, dist, relax, _BFS_ROUNDS // 6, 6)
    return dist.groupBy("dist").agg(F.count(F.lit(1)).alias("n_nodes"))


def _co_order_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v) co-order part pair INSTANCES (u < v), one row per
    (order, unordered pair of distinct parts in it).

    Shape (remove shuffles outright): the
    obvious build is ``distinct(l_orderkey, l_partkey)`` followed by
    a self-join on l_orderkey — two lineitem scans, a distinct
    exchange per side, and a join whose build side is the whole item
    table. This form collects each order's DISTINCT parts into one
    sorted array (ONE exchange on l_orderkey, map-side partial
    collect_set) and expands the u < v pairs inside the array — no
    join, no second scan, no distinct pre-pass. Output multiset is
    identical: one (u, v) row per order containing both parts.

    Scale argument: per-order fan-out is quadratic in ORDER SIZE
    (bounded — ≤ 7 items in TPC-H geometry, and bounded by basket
    size on any real catalog), never in table size, exactly as the
    self-join form; the collected array is order-sized, so no task
    ever holds more than one order's parts. NULL semantics match the
    join form: NULL order keys never match themselves (filtered), and
    collect_set drops NULL part keys (the join's `<` rejected them)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    per_order = (
        li.filter(F.col("l_orderkey").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )
    return per_order.select(
        F.explode(array_pairs("ps", "u", "v")).alias("p")
    ).select("p.u", "p.v")


def _co_order_und(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thinned undirected co-order part edges (u < v, sharing >= 2
    orders) — the Spark twin of _CO_ORDER_EDGES_SQL. Returned
    UNMATERIALIZED; multi-consumer callers cut it themselves (the
    q_graph_lcc lesson). Built from the per-order pair expansion
    (_co_order_pairs) instead of the items self-join — same multiset,
    one fewer exchange and no join."""
    return (
        _co_order_pairs(spark, sf_dir)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("m"))
        .filter(F.col("m") >= 2)
        .select("u", "v")
    )


@register(
    "q_graph_lcc",
    oracle=f"""
    WITH {_CO_ORDER_EDGES_SQL},
    tri AS (
      SELECT e1.u AS x, e1.v AS y, e2.v AS z
      FROM eh e1
      JOIN eh e2 ON e2.u = e1.v
      JOIN eh e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    tn AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ),
    tc AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri
           FROM tn GROUP BY 1),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT u AS node FROM eh UNION ALL SELECT v FROM eh
      ) GROUP BY 1
    )
    SELECT d.node, d.deg, coalesce(tc.n_tri, 0) AS n_tri,
           CASE WHEN d.deg >= 2
                THEN floor(2 * coalesce(tc.n_tri, 0) * 1e6
                           / (d.deg * (d.deg - 1)) + 0.5) / 1e6
           END AS lcc
    FROM deg d LEFT JOIN tc ON tc.node = d.node
    """,
    tags=("graph",),
)
def q_graph_lcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node on the part co-order graph:
    lcc(n) = 2·T(n) / (deg(n)·(deg(n)−1)) where T(n) counts triangles
    incident to n — the node-local density statistic next to
    degree/k-core/Jaccard (a high-degree, low-lcc node is a broker
    between communities; high-lcc marks cliquish neighborhoods), and
    q_graph_triangles' global count made per-node.

    Spark path reuses the triangles discipline verbatim: DEGREE-oriented
    wedges (every edge points low-degree → high-degree, ties by id), so
    each triangle is enumerated exactly once as (x,y,z) with fan-out
    Σ min_deg² instead of Σ deg² — the structural hub mitigation; the
    per-node count then explodes each triangle to its three corners and
    counts — a 3× multiplier on the (small) triangle set, not on the
    wedge fan-out. The oracle orients by id instead: per-node INCIDENT
    counts are orientation-invariant (each triangle contributes to its
    three corners under any orientation), so both agree while physical
    fan-out differs. Nodes in no triangle keep a row via the left join
    from the degree table (coalesce 0).

    Cross-engine: deg/n_tri are exact BIGINTs; deg ≥ 1 on every node
    (it exists because it has an edge), lcc is defined only for
    deg ≥ 2 — the CASE guard answers NULL below that in BOTH engines
    (ANSI Spark would throw on the /0 a bare division hits at deg=1);
    the ratio rounds via the floor(x·1e6+0.5)/1e6 form (exact-integer
    ratios land ON half-digit boundaries; engine round() diverges
    there).

    Shape at 100 TB: two wedge-class shuffles (oriented wedge build +
    closing-edge semi join) over the thinned edge set, one explode of
    the triangle set, two small grouped counts, one node-keyed left
    join. No iteration, no cartesian, no unbounded hub fan-out.

    Reference parity anchor: no graph surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part of
    the beyond-the-reference analytics family."""
    und = _co_order_und(spark, sf_dir)
    # und feeds the degree build AND the orientation join — cut once
    und = materialize(und)
    deg = (
        und.select(F.explode(F.array(F.col("u"), F.col("v"))).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # deg feeds du, dv AND the final left join — cut once (the
    # assortativity discipline)
    deg = materialize(deg)
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    directed = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select("e.s", "e.t")
    )
    # three differently-partitioned consumers (wedge e1, wedge e2,
    # closing) — ReuseExchange can't dedup them, cut (the triangles
    # lesson)
    directed = materialize(directed)
    e1 = directed.alias("e1")
    e2 = directed.alias("e2")
    wedges = e1.join(e2, F.col("e2.s") == F.col("e1.t")).select(
        F.col("e1.s").alias("x"),
        F.col("e1.t").alias("y"),
        F.col("e2.t").alias("z"),
    )
    closing = directed.select(F.col("s").alias("x"), F.col("t").alias("z"))
    tri = wedges.join(closing, ["x", "z"], "left_semi")
    corners = tri.select(
        F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias("node")
    )
    tc = corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))
    j = deg.join(tc, "node", "left")
    n_tri = F.coalesce(F.col("n_tri"), F.lit(0))
    return j.select(
        "node",
        "deg",
        n_tri.alias("n_tri"),
        F.when(
            F.col("deg") >= 2,
            F.floor(
                2 * n_tri * 1e6 / (F.col("deg") * (F.col("deg") - 1))
                + F.lit(0.5)
            )
            / 1e6,
        ).alias("lcc"),
    )


@register(
    "q_graph_degree_dist",
    oracle=f"""
    WITH {_CO_ORDER_EDGES_SQL},
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM eh UNION ALL SELECT v FROM eh
      ) GROUP BY 1
    ),
    b AS (
      SELECT CAST(length(printf('%b', d)) - 1 AS BIGINT) AS bucket
      FROM deg
    ),
    h AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_nodes
      FROM b GROUP BY bucket
    ),
    w AS (
      SELECT bucket, n_nodes, sum(n_nodes) OVER () AS total FROM h
    )
    SELECT bucket,
           (CAST(1 AS BIGINT) << bucket) AS lo,
           (CAST(1 AS BIGINT) << (bucket + 1)) - 1 AS hi,
           n_nodes,
           floor(n_nodes * 1e6 / total + 0.5) / 1e6 AS share
    FROM w
    """,
    tags=("graph",),
)
def q_graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two degree histogram of the part co-order graph — the
    power-law readout that JUSTIFIES this repo's hub-guard discipline
    (_JACCARD_CENTER_CAP, _SHINGLE_DF_CAP, degree-oriented wedges): one
    look at the tail buckets tells an operator whether the skew caps
    will fire at their data's scale, and it is the first plot every
    graph paper draws. Bucket k holds nodes with 2^k ≤ deg < 2^(k+1).

    Cross-engine determinism is q_hist_log2's verbatim: floor(log2(d))
    via exact integer bit-length in BOTH engines (Spark bin(), DuckDB
    printf('%b') — no libm at the power-of-two bucket edges), bounds
    via BIGINT shifts, share via the floor(x·1e6+0.5)/1e6 form on the
    integer ratio. deg ≥ 1 structurally (a node exists because it has
    an edge), so no NULL bucket is possible and no guard is needed —
    unlike n_chars, which can be 0/NULL.

    Shape at 100 TB: the thinned-edge build (co-partitioned self-join
    on l_orderkey, per-order fan-out bounded by order size), one
    grouped count to the node-degree table, then a map-side-combined
    aggregation to ≤ ~40 bucket rows with the total riding as a window
    sum over those rows (single consumer, no rejoin). Nothing else
    moves.

    Reference parity anchor: no graph surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part of
    the beyond-the-reference analytics family."""
    und = _co_order_und(spark, sf_dir)
    # explode both endpoints in one pass (the union form planned the
    # whole unmaterialized edge build once per side — plan audit)
    deg = (
        und.select(F.explode(F.array(F.col("u"), F.col("v"))).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    buckets = deg.select(
        (F.length(F.bin(F.col("d"))) - 1).cast("long").alias("bucket")
    )
    h = buckets.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_nodes"))
    w = h.select(
        "bucket",
        "n_nodes",
        F.sum("n_nodes").over(W.partitionBy()).alias("total"),
    )
    return w.select(
        "bucket",
        F.expr("shiftleft(1L, cast(bucket AS INT))").alias("lo"),
        F.expr("shiftleft(1L, cast(bucket AS INT) + 1) - 1L").alias("hi"),
        "n_nodes",
        (
            F.floor(F.col("n_nodes") * 1e6 / F.col("total") + F.lit(0.5)) / 1e6
        ).alias("share"),
    )


@register(
    "q_graph_assortativity",
    oracle=f"""
    WITH {_CO_ORDER_EDGES_SQL},
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM eh UNION ALL SELECT v FROM eh
      ) GROUP BY 1
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS e,
             CAST(sum(a.d + b.d) AS BIGINT) AS s1,
             CAST(sum(a.d * a.d + b.d * b.d) AS BIGINT) AS s2,
             CAST(sum(a.d * b.d) AS BIGINT) AS sp
      FROM eh JOIN deg a ON a.node = eh.u JOIN deg b ON b.node = eh.v
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
    SELECT nn.n_nodes, m.e AS n_edges,
           CASE WHEN (2 * m.e * m.s2 - m.s1 * m.s1) <> 0
                THEN floor(CAST(4 * m.e * m.sp - m.s1 * m.s1 AS DOUBLE)
                           * 1e6 / (2 * m.e * m.s2 - m.s1 * m.s1)
                           + 0.5) / 1e6
           END AS assortativity
    FROM m, nn
    """,
    tags=("graph",),
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman's r) of the part co-order graph: the
    Pearson correlation of endpoint degrees over the edge list — the
    one-number summary of whether hubs attach to hubs (r > 0, social
    networks) or to leaves (r < 0, co-purchase / technological graphs).
    Together with q_graph_degree_dist it is the skew dashboard that
    tells an operator whether this repo's hub caps
    (_JACCARD_CENTER_CAP, degree-oriented wedges) will fire at their
    data's scale: a disassortative power-law graph concentrates wedge
    fan-out on exactly the hub keys the caps guard.

    Integer-exact cross-engine: over the SYMMETRIC directed edge list
    (each undirected edge counted in both directions) the moment sums
    collapse to per-undirected-edge terms — n = 2E, Σx = Σ(du+dv),
    Σx² = Σ(du²+dv²), Σxy = 2Σ(du·dv) — all exact BIGINTs (no float
    aggregation order anywhere), and by symmetry Σx = Σy, Σx² = Σy², so
    r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²) = (4E·Σdudv − s1²)/(2E·Σ(d²) − s1²).
    The final value is ONE IEEE division of exact integers (cast to
    double; exact below 2^53 — at 100 TB the sums promote to DECIMAL in
    both engines before this expression overflows BIGINT, the same
    escalation note as the other integer-moment operators), rounded via
    the floor(x·1e6+0.5)/1e6 form. A regular graph (all degrees equal)
    zeroes the variance denominator: the CASE guard answers NULL in
    BOTH engines instead of ANSI Spark's DIVIDE_BY_ZERO throw
    (tests/test_degenerate.py shape).

    Shape at 100 TB: the thinned-edge build, one grouped count to the
    degree table, two node-keyed hash joins of edges against degrees
    (shuffle on node id, the unavoidable pair), then a map-side-combined
    global aggregate to ONE row. No iteration, no window, no all-pairs.

    Reference parity anchor: no graph surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part of
    the beyond-the-reference analytics family."""
    und = _co_order_und(spark, sf_dir)
    # und feeds the degree build AND the moment join — cut once (the
    # q_graph_lcc lesson); deg feeds du, dv AND the node count
    und = materialize(und)
    deg = (
        und.select(F.explode(F.array(F.col("u"), F.col("v"))).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    deg = materialize(deg)
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    m = (
        und.join(du, "u")
        .join(dv, "v")
        .agg(
            F.count(F.lit(1)).alias("e"),
            F.sum(F.col("du") + F.col("dv")).alias("s1"),
            F.sum(F.col("du") * F.col("du") + F.col("dv") * F.col("dv")).alias(
                "s2"
            ),
            F.sum(F.col("du") * F.col("dv")).alias("sp"),
        )
    )
    nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    num = 4 * F.col("e") * F.col("sp") - F.col("s1") * F.col("s1")
    den = 2 * F.col("e") * F.col("s2") - F.col("s1") * F.col("s1")
    return nn.crossJoin(F.broadcast(m)).select(
        "n_nodes",
        F.col("e").alias("n_edges"),
        F.when(
            den != 0,
            F.floor(num.cast("double") * 1e6 / den + F.lit(0.5)) / 1e6,
        ).alias("assortativity"),
    )


@register(
    "q_graph_modularity",
    oracle=f"""
    WITH {_CO_ORDER_EDGES_SQL},
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM eh UNION ALL SELECT v FROM eh
      ) GROUP BY 1
    ),
    nb AS (
      SELECT deg.node, deg.d, p.p_brand AS com
      FROM deg JOIN part p ON p.p_partkey = deg.node
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM eh),
    internal AS (
      SELECT bu.com, CAST(count(*) AS BIGINT) AS e_in
      FROM eh
      JOIN nb bu ON bu.node = eh.u
      JOIN nb bv ON bv.node = eh.v
      WHERE bu.com = bv.com
      GROUP BY 1
    ),
    coms AS (
      SELECT com, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d) AS BIGINT) AS d_sum
      FROM nb GROUP BY 1
    ),
    terms AS (
      SELECT c.com, c.n_nodes, c.d_sum,
             coalesce(i.e_in, 0) AS e_in,
             4 * m.m * coalesce(i.e_in, 0) - c.d_sum * c.d_sum AS t
      FROM coms c LEFT JOIN internal i ON i.com = c.com CROSS JOIN m
    )
    SELECT com, n_nodes, d_sum, e_in,
           floor(CAST(sum(t) OVER () AS DOUBLE) * 1e6
                 / (4 * m.m * m.m) + 0.5) / 1e6 AS modularity
    FROM terms CROSS JOIN m
    """,
    tags=("graph",),
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the brand partition on the part co-order
    graph: Q = Σ_c (e_c/m − (d_c/2m)²) — does the co-purchase structure
    follow the catalog's brand boundaries? (Q near 0: brands are not
    communities; Q > 0.3: strong brand-local purchasing.) Completes the
    graph family's community side: q_graph_cc finds the components,
    this SCORES a labeled partition against the edge structure — the
    metric every community-detection pipeline optimizes, usable with
    any node attribute as the candidate partition.

    Integer-exact cross-engine (the q_graph_assortativity discipline):
    multiply Q by 4m² and every term is an exact BIGINT —
    Q·4m² = Σ_c (4m·e_c − d_c²) — so the per-community terms sum as
    INTEGERS (no float accumulation order), and Q is ONE IEEE division
    of exact integers, floor-form rounded. m ≥ 1 whenever any term row
    exists (a community row requires a node, a node requires an edge),
    so no zero guard is needed. Output keeps the per-community
    readout (n_nodes, degree mass, internal edges) with the global Q
    riding as a window sum over the |brands| rows (single consumer —
    the q_embed_ivf_balance shape).

    Shape at 100 TB: the thinned-edge build, one grouped count to
    degrees, a node-keyed brand-lookup join (dimension-sized — at TPC-H
    geometry `part` broadcasts after AQE sizes it), the internal-edge
    count as two node-keyed hash joins against the same lookup, then
    everything collapses to |brands| rows. No iteration, no window over
    fact-sized data, no cartesian.

    Reference parity anchor: no graph surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part of
    the beyond-the-reference analytics family."""
    und = _co_order_und(spark, sf_dir)
    # und feeds degrees, the edge count AND the internal-edge join; deg
    # feeds the brand lookup — cut both once (the q_graph_lcc lesson)
    und = materialize(und)
    deg = co_order_degrees(und)
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("com")
    )
    nb = materialize(deg.join(part, "node"))
    return modularity_readout(und, nb)


def co_order_degrees(und: DataFrame) -> DataFrame:
    """(node, d) degrees of the MATERIALIZED thinned undirected edge
    set — shared by the modularity scorers (brand partition / LPA)."""
    return (
        und.select(F.explode(F.array(F.col("u"), F.col("v"))).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def modularity_readout(und: DataFrame, nb: DataFrame) -> DataFrame:
    """Per-community Newman-modularity readout over a labeled node
    table: ``und`` is the MATERIALIZED thinned (u < v) edge set, ``nb``
    the MATERIALIZED (node, d, com) table assigning every node its
    degree and candidate community. Q·4m² integer-exact per the
    q_graph_modularity docstring; extracted so the LPA scorer
    (q_graph_lpa) and the brand-partition scorer share ONE readout
    instead of a hand copy (the exec_utils.cents precedent)."""
    m = und.agg(F.count(F.lit(1)).alias("m"))
    bu = nb.select(F.col("node").alias("u"), F.col("com").alias("cu"))
    bv = nb.select(F.col("node").alias("v"), F.col("com").alias("cv"))
    internal = (
        und.join(bu, "u")
        .join(bv, "v")
        .filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("com"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    coms = nb.groupBy("com").agg(
        F.count(F.lit(1)).alias("n_nodes"), F.sum("d").alias("d_sum")
    )
    e_in = F.coalesce(F.col("e_in"), F.lit(0))
    terms = (
        coms.join(internal, "com", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "com",
            "n_nodes",
            "d_sum",
            e_in.alias("e_in"),
            (4 * F.col("m") * e_in - F.col("d_sum") * F.col("d_sum")).alias(
                "t"
            ),
            "m",
        )
    )
    return terms.select(
        "com",
        "n_nodes",
        "d_sum",
        "e_in",
        (
            F.floor(
                F.sum("t").over(W.partitionBy()).cast("double")
                * 1e6
                / (4 * F.col("m") * F.col("m"))
                + F.lit(0.5)
            )
            / 1e6
        ).alias("modularity"),
    )


_LPA_ROUNDS = 10  # ≥ measured fixpoint on every fixture (self-vote LPA:
# 5 @ sf0.001, 7 @ sf0.01, 5 @ sf0.1; NULL injection only removes edges,
# and the cap-parity argument below holds at ANY depth anyway)
# The Spark loop runs _LPA_ROUNDS // 2 two-round blocks and the
# early-stop check compares labels ACROSS a block (round k vs k-2), so
# both the round-count parity with the oracle's unroll AND the
# period-2-oscillation argument require an even cap.
assert _LPA_ROUNDS % 2 == 0, "_LPA_ROUNDS must be even (2 rounds/block)"


def _lpa_iter_sql(k: int) -> str:
    return f"""
    r{k} AS MATERIALIZED (
      SELECT r.node, CAST(coalesce(m.nlab, r.lab) AS BIGINT) AS lab
      FROM r{k - 1} r LEFT JOIN (
        SELECT node, lab AS nlab FROM (
          SELECT node, lab,
                 row_number() OVER (PARTITION BY node
                                    ORDER BY c DESC, lab) AS rn
          FROM (SELECT node, lab, count(*) AS c FROM (
                  SELECT e.dst AS node, rr.lab
                  FROM edges e JOIN r{k - 1} rr ON e.src = rr.node
                  UNION ALL SELECT node, lab FROM r{k - 1}
                ) GROUP BY node, lab)
        ) WHERE rn = 1
      ) m ON m.node = r.node
    )"""


@register(
    "q_graph_lpa",
    oracle=f"""
    WITH {_CO_ORDER_EDGES_SQL},
    {_SYM_EDGES_SQL},
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    r0 AS MATERIALIZED (SELECT node, node AS lab FROM nodes),
    {','.join(_lpa_iter_sql(k) for k in range(1, _LPA_ROUNDS + 1))},
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM eh UNION ALL SELECT v FROM eh
      ) GROUP BY 1
    ),
    nb AS (
      SELECT deg.node, deg.d, r.lab AS com
      FROM deg JOIN r{_LPA_ROUNDS} r ON r.node = deg.node
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM eh),
    internal AS (
      SELECT bu.com, CAST(count(*) AS BIGINT) AS e_in
      FROM eh
      JOIN nb bu ON bu.node = eh.u
      JOIN nb bv ON bv.node = eh.v
      WHERE bu.com = bv.com
      GROUP BY 1
    ),
    coms AS (
      SELECT com, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d) AS BIGINT) AS d_sum
      FROM nb GROUP BY 1
    ),
    terms AS (
      SELECT c.com, c.n_nodes, c.d_sum,
             coalesce(i.e_in, 0) AS e_in,
             4 * m.m * coalesce(i.e_in, 0) - c.d_sum * c.d_sum AS t
      FROM coms c LEFT JOIN internal i ON i.com = c.com CROSS JOIN m
    )
    SELECT com, n_nodes, d_sum, e_in,
           floor(CAST(sum(t) OVER () AS DOUBLE) * 1e6
                 / (4 * m.m * m.m) + 0.5) / 1e6 AS modularity
    FROM terms CROSS JOIN m
    """,
    tags=("graph",),
)
def q_graph_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation community detection (Raghavan et al. 2007) on
    the part co-order graph, scored by the modularity readout: each
    node starts as its own community, and each synchronized round
    adopts the most frequent label among its neighbors PLUS its own
    current label (the self-vote), ties broken by the smallest label.
    Completes the community side of the graph family:
    q_graph_cc finds connectivity (communities ignore density),
    q_graph_modularity SCORES an externally-given partition (brands) —
    this DISCOVERS the partition from the edge structure and reports
    the same per-community readout (n_nodes, degree mass, internal
    edges, global Q), so the two scorecards are directly comparable.

    Determinism (the q_graph_cc discipline, majority-vote form): the
    update rule is a deterministic FUNCTION of the label table — exact
    integer counts argmaxed by (count DESC, label ASC), computed as
    max_by(lab, struct(c, -lab)), the identical total order the
    oracle's row_number ranking unrolls — so round k's labels are
    identical in both engines; the oracle
    unrolls exactly {_LPA_ROUNDS} rounds and Spark iterates the same
    recurrence, early-stopping only at a TRUE fixed point (no label
    changed), where the remaining rounds are provably no-ops. The
    self-vote matters twice: statistically it damps the label
    oscillation synchronized LPA is famous for (measured: plain
    majority never converges on the sf0.01/sf0.1 fixtures, self-vote
    fixes in ≤7 rounds), and structurally it guarantees every node has
    ≥1 vote so the argmax is total. If a corpus-scale graph still
    oscillated past {_LPA_ROUNDS} rounds, BOTH engines would report
    the identical {_LPA_ROUNDS}-round iterate (cap parity at any
    depth — the q_graph_kcore argument).

    Shape at 100 TB: per round, one edges⋈labels shuffle + map-side
    combined (node, lab) count + a map-side-combinable max_by argmax
    per node (a row_number window would add one exchange +
    per-partition SORT per round; both
    aggs key on the node, so AQE reuses one partitioning); the shared
    fixpoint kernel cuts lineage every 2 rounds (each LPA round is two
    aggregations deep). The modularity tail is the extracted
    modularity_readout — dimension-sized joins, |communities| output
    rows.

    Hot-node bound: a hub
    node's per-round vote table is degree-sized — but only BEFORE the
    map-side combine. The groupBy(vnode, lab) partial-aggregates within
    each map task, so the SHUFFLED rows per node are bounded by its
    neighbors' DISTINCT labels per upstream partition, and as LPA
    converges neighborhoods collapse onto few labels — the hub's vote
    group shrinks round over round (round 1 is the worst case:
    ≤ degree + 1 rows). The standing mitigation is the shared thinned
    edge build itself (_co_order_und: co-occurrence in ≥ 2 orders),
    which removes exactly the promiscuous everything-with-everything
    parts that would otherwise be unbounded hubs — the same
    cap-at-the-edge-build discipline q_graph_jaccard applies to wedge
    centers. An adversarial hub that SURVIVES thinning (every pair
    genuinely repeats) is handled by the combine bound above and
    pinned by the planted-star skew test
    (tests/test_property_graph.py::test_graph_lpa_planted_star_hub);
    the max_by argmax holds one running (c, -lab) maximum per node —
    no per-node sort is ever materialized.

    Reference parity anchor: no graph surface in the reference
    (src/main/java/jc/DemoApplication.java is a Kafka pipe) — part of
    the beyond-the-reference analytics family."""
    und = materialize(_co_order_und(spark, sf_dir))
    edges = message_edges(und)
    labels = edges.filter(F.col("w") == 0).select(
        F.col("src").alias("node"), F.col("src").alias("lab")
    )

    def vote(edges: DataFrame, labels: DataFrame, flag: bool) -> DataFrame:
        # The self-loop (w = 0) casts the self-vote, so the argmax's
        # groups are exactly the node set and the oracle's
        # coalesce(m.nlab, r.lab) never fires. max_by over (c, -lab) is
        # the oracle's (count DESC, label ASC) ranking. Non-monotone, so
        # the flag compares across the block (round k vs k - 2, the
        # period-2 argument): a block's first round seeds lab0, which
        # rides only on the self-vote row and max() pulls back out.
        if "lab0" not in labels.columns:
            labels = labels.withColumn("lab0", F.col("lab"))
        votes = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("vnode"),
            "lab",
            F.when(F.col("w") == 0, F.col("lab0")).alias("_l0"),
        )
        new = (
            votes.groupBy("vnode", "lab")
            .agg(F.count(F.lit(1)).alias("c"), F.max("_l0").alias("_l0"))
            .groupBy("vnode")
            .agg(
                F.expr("max_by(lab, struct(c, -lab))").alias("lab"),
                F.max("_l0").alias("lab0"),
            )
            .select(F.col("vnode").alias("node"), "lab", "lab0")
        )
        if not flag:
            return new
        return new.select(
            "node", "lab", (F.col("lab") != F.col("lab0")).alias("_ch")
        )

    labels, _ = fixpoint(edges, labels, vote, _LPA_ROUNDS // 2, 2)
    deg = co_order_degrees(und)
    nb = materialize(
        deg.join(labels.select("node", F.col("lab").alias("com")), "node")
    )
    return modularity_readout(und, nb)
