"""Property battery for the graph queries (``operators/graph.py``):
brute-force Python replays of triangles, PageRank, connected
components, k-core, Jaccard, BFS, local clustering, the degree
histogram, assortativity, modularity and label propagation.

Each example stages a random ``lineitem`` (and, for modularity, ``part``)
table through ``conftest.staged`` and runs the REAL registered query on
it, so the finite-or-null ingest contract of ``load_table`` is part of
the replayed semantics. The co-order graph keeps a part pair as an edge
when the two parts share at least two orders (``_thinned_edges``)."""

from __future__ import annotations

import math
from collections import defaultdict
from itertools import combinations

from hypothesis import given, settings, strategies as st

import pytest

from .conftest import lineitem, staged

# Slow: every hypothesis example runs Spark jobs; run with
# `python -m pytest tests/ -m slow` (pytest.ini keeps the default run to
# the fast set).
pytestmark = pytest.mark.slow


def _thinned_edges(items):
    per_order = defaultdict(set)
    for ok, pk in items:
        per_order[ok].add(pk)
    pair_orders = defaultdict(int)
    for parts in per_order.values():
        for u, v in combinations(sorted(parts), 2):
            pair_orders[(u, v)] += 1
    return {p for p, n in pair_orders.items() if n >= 2}


def _parts(part_ids):
    """``(rows, ddl)`` of a ``part`` table holding ``part_ids``."""
    rows = [
        (pk, f"part {pk}", f"Brand#{pk % 3}", "TYPE", 1, 10.0)
        for pk in sorted(part_ids)
    ]
    return rows, (
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    )


tri_lineitems = st.lists(
    st.tuples(
        st.integers(0, 7),  # orderkey
        st.integers(0, 7),  # partkey
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=12, deadline=None)
@given(tri_lineitems)
def test_graph_triangles_matches_brute_force(spark, items):
    """The degree-oriented triangle count (each edge directed from its
    lower-degree endpoint, wedges closed by a semi join) must equal a
    brute-force enumeration over the thinned co-order graph — the
    orientation trick must count each triangle exactly once, for
    arbitrary multigraph shapes including hubs and disconnected parts."""
    from itertools import combinations

    from collections import defaultdict

    from spring_and_kafka_spark.operators.graph import q_graph_triangles

    per_order = defaultdict(set)
    for ok, pk in items:
        per_order[ok].add(pk)
    pair_orders = defaultdict(int)
    for ok, parts in per_order.items():
        for u, v in combinations(sorted(parts), 2):
            pair_orders[(u, v)] += 1
    edges = {p for p, n in pair_orders.items() if n >= 2}
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    tri = 0
    for u, v in edges:
        tri += len(
            {w for w in adj[u] & adj[v] if (min(u, w), max(u, w)) in edges
             and (min(v, w), max(v, w)) in edges}
        )
    tri //= 3  # each triangle seen once per edge

    with staged(spark, lineitem=lineitem(items)) as d:
        row = q_graph_triangles(spark, d).collect()[0]
    assert (row.n_edges, row.n_triangles) == (len(edges), tri)


pr_lineitems = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 6)),  # (order, part)
    min_size=1,
    max_size=40,
)


@settings(max_examples=12, deadline=None)
@given(pr_lineitems)
def test_pagerank_matches_integer_replay(spark, items):
    """The 5-round scaled-integer PageRank (rank 1.0 = 1e6, damping via
    150000 + 85*inflow div 100, contribution = rank div outdeg) is
    exact integer arithmetic by design — a driver-side replay must match
    BIT-FOR-BIT on arbitrary co-order graphs: isolated nodes, sinks
    (parts with in-edges only... impossible here since co-order edges
    are symmetric, so this also pins that symmetry), hubs, and
    multi-component graphs."""
    from collections import defaultdict
    from itertools import permutations

    from spring_and_kafka_spark.operators.graph import q_graph_pagerank

    per_order = defaultdict(set)
    for ok, pk in items:
        per_order[ok].add(pk)
    edges = set()
    for parts in per_order.values():
        for u, v in permutations(sorted(parts), 2):
            edges.add((u, v))
    nodes = sorted({pk for _, pk in items})
    outdeg = defaultdict(int)
    for u, _ in edges:
        outdeg[u] += 1
    pr = {n: 1_000_000 for n in nodes}
    for _ in range(5):
        inflow = defaultdict(int)
        for u, v in edges:
            inflow[v] += pr[u] // outdeg[u]
        pr = {n: 150_000 + (85 * inflow.get(n, 0)) // 100 for n in nodes}

    with staged(spark, lineitem=lineitem(items)) as d:
        got = {
            r.node: r.pr for r in q_graph_pagerank(spark, d).collect()
        }
    assert got == pr


cc_lineitems = st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 11)),  # (order, part)
    min_size=1,
    max_size=60,
)


@settings(max_examples=12, deadline=None)
@given(cc_lineitems)
def test_graph_cc_matches_union_find(spark, items):
    """Min-label propagation (16 synchronized rounds, early-stopped at
    the fixed point) must produce exactly the union-find components of
    the thinned (co-ordered >= 2 times) part graph: component id = min
    part key, one row per component with its size. Parts outside every
    thinned edge are NOT nodes (the query's node set is edge-derived),
    matching the oracle's DISTINCT src FROM edges."""
    from collections import defaultdict
    from itertools import combinations

    from spring_and_kafka_spark.operators.graph import q_graph_cc

    per_order = defaultdict(set)
    for ok, pk in items:
        per_order[ok].add(pk)
    pair_orders = defaultdict(int)
    for parts in per_order.values():
        for u, v in combinations(sorted(parts), 2):
            pair_orders[(u, v)] += 1
    edges = {p for p, n in pair_orders.items() if n >= 2}
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    comp = defaultdict(int)
    for n in parent:
        comp[find(n)] += 1

    with staged(spark, lineitem=lineitem(items)) as d:
        got = {
            r.component: r.n_nodes for r in q_graph_cc(spark, d).collect()
        }
    assert got == dict(comp)


graph_lineitems = st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 11)),  # (order, part)
    min_size=1,
    max_size=60,
)


@settings(max_examples=10, deadline=None)
@given(graph_lineitems)
def test_graph_kcore_matches_direct_peel(spark, items):
    """The capped-unroll 2-core must equal the ACTUAL fixed-point peel
    (the 12-round cap never binds at this graph size: <= 12 nodes), and
    every reported core_deg must be the node's degree within the
    surviving set."""
    from spring_and_kafka_spark.operators.graph import q_graph_kcore

    edges = _thinned_edges(items)
    alive = {n for e in edges for n in e}
    while True:
        deg = defaultdict(int)
        for u, v in edges:
            if u in alive and v in alive:
                deg[u] += 1
                deg[v] += 1
        nxt = {n for n in alive if deg[n] >= 2}
        if nxt == alive:
            break
        alive = nxt
    expected = {n: deg[n] for n in alive}

    with staged(spark, lineitem=lineitem(items)) as d:
        got = {
            r.node: r.core_deg for r in q_graph_kcore(spark, d).collect()
        }
    assert got == expected


@settings(max_examples=10, deadline=None)
@given(graph_lineitems)
def test_graph_jaccard_matches_neighbor_sets(spark, items):
    """Wedge-derived (common, deg, score, is_edge) must equal the
    values computed from explicit neighborhood sets, with the score
    replayed through the identical floor(x*1e6+0.5)/1e6 IEEE ops."""
    from spring_and_kafka_spark.operators.graph import q_graph_jaccard

    edges = _thinned_edges(items)
    nbr = defaultdict(set)
    for u, v in edges:
        nbr[u].add(v)
        nbr[v].add(u)
    expected = {}
    for u, v in combinations(sorted(nbr), 2):
        common = len(nbr[u] & nbr[v])
        if common == 0:
            continue
        du, dv = len(nbr[u]), len(nbr[v])
        score = math.floor(common * 1e6 / (du + dv - common) + 0.5) / 1e6
        expected[(u, v)] = (common, du, dv, score, (u, v) in edges)

    with staged(spark, lineitem=lineitem(items)) as d:
        got = {
            (r.u, r.v): (r.common, r.deg_u, r.deg_v, r.jaccard, r.is_edge)
            for r in q_graph_jaccard(spark, d).collect()
        }
    assert got == expected


bfs_lineitems = st.lists(
    st.tuples(st.integers(0, 7), st.integers(96, 108)),  # parts straddle
    min_size=1,                                          # the <100 anchor cut
    max_size=60,
)


@settings(max_examples=10, deadline=None)
@given(bfs_lineitems)
def test_graph_bfs_matches_python_bfs(spark, items):
    """Capped synchronized relaxation vs an actual Python BFS from the
    anchor set (part keys < 100 among thinned-graph nodes) — hop
    histogram including the NULL unreachable row."""
    from spring_and_kafka_spark.operators.graph import (
        _BFS_ANCHOR,
        q_graph_bfs,
    )

    edges = _thinned_edges(items)
    nbr = defaultdict(set)
    for u, v in edges:
        nbr[u].add(v)
        nbr[v].add(u)
    dist = {n: (0 if n < _BFS_ANCHOR else None) for n in nbr}
    frontier = [n for n, d0 in dist.items() if d0 == 0]
    hops = 0
    while frontier:
        hops += 1
        nxt = []
        for n in frontier:
            for m in nbr[n]:
                if dist[m] is None:
                    dist[m] = hops
                    nxt.append(m)
        frontier = nxt
    hist = defaultdict(int)
    for v in dist.values():
        hist[v] += 1

    with staged(spark, lineitem=lineitem(items)) as d:
        got = {r.dist: r.n_nodes for r in q_graph_bfs(spark, d).collect()}
    assert got == dict(hist)


@settings(max_examples=10, deadline=None)
@given(graph_lineitems)
def test_graph_lcc_matches_neighbor_sets(spark, items):
    """Per-node (deg, n_tri, lcc) must equal values from explicit
    neighborhood sets: T(n) = #{(a,b) in nbr(n)^2, a<b, (a,b) an edge},
    lcc = floor(2*T*1e6/(d*(d-1)) + 0.5)/1e6 for d >= 2 else None."""
    from spring_and_kafka_spark.operators.graph import q_graph_lcc

    edges = _thinned_edges(items)
    nbr = defaultdict(set)
    for u, v in edges:
        nbr[u].add(v)
        nbr[v].add(u)
    expected = {}
    for n, ns in nbr.items():
        t = sum(
            1 for a, b in combinations(sorted(ns), 2) if (a, b) in edges
        )
        d = len(ns)
        lcc = (
            math.floor(2 * t * 1e6 / (d * (d - 1)) + 0.5) / 1e6
            if d >= 2
            else None
        )
        expected[n] = (d, t, lcc)

    with staged(spark, lineitem=lineitem(items)) as d:
        got = {
            r.node: (r.deg, r.n_tri, r.lcc)
            for r in q_graph_lcc(spark, d).collect()
        }
    assert got == expected


@settings(max_examples=10, deadline=None)
@given(graph_lineitems)
def test_graph_degree_dist_matches_bitlength_replay(spark, items):
    """Bucketing must be exact int.bit_length()-1 with shift bounds and
    the floor-form share over the node total."""
    from spring_and_kafka_spark.operators.graph import q_graph_degree_dist

    edges = _thinned_edges(items)
    nbr = defaultdict(set)
    for u, v in edges:
        nbr[u].add(v)
        nbr[v].add(u)
    hist = defaultdict(int)
    for ns in nbr.values():
        hist[len(ns).bit_length() - 1] += 1
    total = sum(hist.values())
    expected = {
        b: (1 << b, (1 << (b + 1)) - 1, n,
            math.floor(n * 1e6 / total + 0.5) / 1e6)
        for b, n in hist.items()
    }

    with staged(spark, lineitem=lineitem(items)) as d:
        got = {
            r.bucket: (r.lo, r.hi, r.n_nodes, r.share)
            for r in q_graph_degree_dist(spark, d).collect()
        }
    assert got == expected


@settings(max_examples=10, deadline=None)
@given(graph_lineitems)
def test_graph_assortativity_matches_integer_moments(spark, items):
    """(n_nodes, n_edges, assortativity) must equal the explicit
    integer-moment formula over the thinned edge set: with symmetric
    double counting, r = (4E·Σdudv − s1²) / (2E·Σ(du²+dv²) − s1²),
    floor-form rounded; zero variance (regular graph, including the
    empty graph) must be NULL, never a /0 throw."""
    from spring_and_kafka_spark.operators.graph import q_graph_assortativity

    edges = _thinned_edges(items)
    deg = defaultdict(int)
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    e_cnt = len(edges)
    s1 = sum(deg[u] + deg[v] for u, v in edges)
    s2 = sum(deg[u] ** 2 + deg[v] ** 2 for u, v in edges)
    sp = sum(deg[u] * deg[v] for u, v in edges)
    num = 4 * e_cnt * sp - s1 * s1
    den = 2 * e_cnt * s2 - s1 * s1
    expected_r = (
        None if den == 0
        else math.floor(float(num) * 1e6 / den + 0.5) / 1e6
    )
    with staged(spark, lineitem=lineitem(items)) as d:
        rows = q_graph_assortativity(spark, d).collect()
    assert len(rows) == 1
    got = rows[0]
    assert got.n_nodes == len(deg)
    assert got.n_edges == e_cnt
    assert got.assortativity == expected_r


@settings(max_examples=10, deadline=None)
@given(graph_lineitems)
def test_graph_modularity_matches_integer_replay(spark, items):
    """Per-community (n_nodes, d_sum, e_in) and the global Q vs the
    explicit integer identity Q·4m² = Σ_c (4m·e_c − d_c²) over the
    thinned edges with brand = Brand#(partkey % 3)."""
    from spring_and_kafka_spark.operators.graph import q_graph_modularity

    edges = _thinned_edges(items)
    deg = defaultdict(int)
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    brand = {n: f"Brand#{n % 3}" for n in deg}
    m = len(edges)
    e_in = defaultdict(int)
    for u, v in edges:
        if brand[u] == brand[v]:
            e_in[brand[u]] += 1
    coms = defaultdict(lambda: [0, 0])  # com -> [n_nodes, d_sum]
    for n, dd in deg.items():
        coms[brand[n]][0] += 1
        coms[brand[n]][1] += dd
    total_t = sum(
        4 * m * e_in.get(c, 0) - ds * ds for c, (_, ds) in coms.items()
    )
    q = (
        math.floor(float(total_t) * 1e6 / (4 * m * m) + 0.5) / 1e6
        if m
        else None
    )
    expected = {
        c: (nn, ds, e_in.get(c, 0), q) for c, (nn, ds) in coms.items()
    }
    with staged(
        spark,
        lineitem=lineitem(items),
        part=_parts(set(deg) or {0}),
    ) as d:
        got = {
            r.com: (r.n_nodes, r.d_sum, r.e_in, r.modularity)
            for r in q_graph_modularity(spark, d).collect()
        }
    assert got == expected


lpa_lineitems = st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 11)),  # (order, part)
    min_size=1,
    max_size=60,
)


_LPA_N = 10  # mirror of operators.graph._LPA_ROUNDS


def _lpa_replay(items):
    """Python replay of the full q_graph_lpa pipeline: thinned edges ->
    self-vote LPA (<= _LPA_N synchronized rounds, early-stop at the
    fixed point) -> per-community modularity readout rows."""
    from collections import defaultdict
    from itertools import combinations

    per_order = defaultdict(set)
    for ok, pk in items:
        per_order[ok].add(pk)
    pair_orders = defaultdict(int)
    for parts in per_order.values():
        for u, v in combinations(sorted(parts), 2):
            pair_orders[(u, v)] += 1
    eh = sorted(p for p, n in pair_orders.items() if n >= 2)
    if not eh:
        return {}
    adj = defaultdict(list)
    for u, v in eh:
        adj[u].append(v)
        adj[v].append(u)
    lab = {n: n for n in adj}
    for _ in range(_LPA_N):
        new = {}
        for n in adj:
            votes = defaultdict(int)
            for nb in adj[n]:
                votes[lab[nb]] += 1
            votes[lab[n]] += 1  # self-vote
            new[n] = min(votes, key=lambda c: (-votes[c], c))
        if new == lab:
            break
        lab = new
    deg = {n: len(adj[n]) for n in adj}
    m = len(eh)
    coms = defaultdict(lambda: [0, 0, 0])  # n_nodes, d_sum, e_in
    for n in adj:
        coms[lab[n]][0] += 1
        coms[lab[n]][1] += deg[n]
    for u, v in eh:
        if lab[u] == lab[v]:
            coms[lab[u]][2] += 1
    total_t = sum(4 * m * e - d * d for _, d, e in coms.values())
    q = math.floor(float(total_t) * 1e6 / (4 * m * m) + 0.5) / 1e6
    return {
        c: (nn, d, e, q) for c, (nn, d, e) in coms.items()
    }


@settings(max_examples=12, deadline=None)
@given(lpa_lineitems)
def test_graph_lpa_matches_python_replay(spark, items):
    """The registered LPA query (10-round cap, 2-round materialize
    blocks, early stop only at a true fixed point) must equal the
    direct Python replay of the identical deterministic recurrence —
    per-community node count, degree mass, internal edges AND the
    global floor-form modularity."""
    from spring_and_kafka_spark.operators.graph import q_graph_lpa

    want = _lpa_replay(items)
    with staged(spark, lineitem=lineitem(items)) as d:
        got = {
            r.com: (r.n_nodes, r.d_sum, r.e_in, r.modularity)
            for r in q_graph_lpa(spark, d).collect()
        }
    assert got == want


def test_graph_lpa_planted_star_hub(spark):
    """Adversarial skew fixture: a hub that
    SURVIVES the >= 2-shared-orders edge thinning — part 0 genuinely
    repeat-co-occurs with every one of 120 leaves, so the hub's round-1
    vote table is degree-sized (121 labels). The self-vote tie-break
    (all counts 1, smallest label wins) must collapse the star onto the
    hub's label in one round and reach the fixed point in two: ONE
    community holding all 121 nodes, e_in = 120, d_sum = 240, and
    modularity exactly 0.0 (a single community's Q is identically
    zero). Pins both the hot-node-vote bound argued in the docstring
    (the groupBy's map-side combine, worst case degree + 1 rows) and
    the deterministic tie semantics at maximal tie width."""
    from spring_and_kafka_spark.operators.graph import q_graph_lpa

    n_leaves = 120
    items = []
    for leaf in range(1, n_leaves + 1):
        for order in (2 * leaf, 2 * leaf + 1):
            items.append((order, 0))
            items.append((order, leaf))
    want = _lpa_replay(items)
    assert want == {0: (n_leaves + 1, 2 * n_leaves, n_leaves, 0.0)}
    with staged(spark, lineitem=lineitem(items)) as d:
        got = {
            r.com: (r.n_nodes, r.d_sum, r.e_in, r.modularity)
            for r in q_graph_lpa(spark, d).collect()
        }
    assert got == want
