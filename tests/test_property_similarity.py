"""Property battery for the embedding queries (``llm/similarity.py``):
Python float replays of cluster purity, product quantization, the
sign-bit Hamming top-k, reciprocal-rank fusion, NDCG, IVF balance, the
cosine threshold curve, RBO, Matryoshka truncation, the rerank
shortlist curves and grids, the IVF probe curve and the IVF-PQ search.

Each example stages a random ``embeddings`` table through
``conftest.staged`` and runs the REAL registered query on it, so the
scan contract (NULL and non-finite vectors dropped, float32 storage) is
part of the replayed semantics. Vectors are float32-exact so every
double op replays bit-for-bit in Python."""

from __future__ import annotations

import math
from collections import defaultdict

import pyarrow as pa
from hypothesis import given, settings, strategies as st

import pytest

from .conftest import EMBEDDINGS, INF, NAN, staged

# Slow: every hypothesis example runs Spark jobs; run with
# `python -m pytest tests/ -m slow` (pytest.ini keeps the default run to
# the fast set).
pytestmark = pytest.mark.slow


_VECTORS = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)


def _vectors(vecs):
    """``(rows, schema)`` of a pyarrow-written embeddings table:
    vec_id = list index, label 0."""
    return [(i, v, 0) for i, v in enumerate(vecs)], _VECTORS


def _labeled(rows):
    """``(label, 2-d vector | None)`` rows as an embeddings table."""
    staged_rows = [
        (i, v if v is None else list(v), l) for i, (l, v) in enumerate(rows)
    ]
    return staged_rows, _VECTORS


pur_rows = st.lists(
    # (label | None, 2-d vector components incl. non-finite | None)
    st.tuples(
        st.one_of(st.integers(0, 2), st.none()),
        st.one_of(
            st.tuples(
                st.floats(min_value=-4, max_value=4, allow_nan=False),
                st.floats(min_value=-4, max_value=4, allow_nan=False),
            ),
            st.none(),
            st.tuples(st.just(NAN), st.just(1.0)),
            st.tuples(st.just(INF), st.just(0.5)),
        ),
    ),
    min_size=0,
    max_size=24,
)


@settings(max_examples=20, deadline=None)
@given(pur_rows)
def test_cluster_purity_matches_brute_force(spark, rows):
    """Cosine argmax assignment (fold order = index order in BOTH the
    query's F.aggregate and this replay, so comparisons are on identical
    doubles), centroid tiebreak by smaller id, majority tiebreak by
    smaller label; non-finite vectors are contract-nulled at the scan
    and excluded with the unlabeled rows."""
    from spring_and_kafka_spark.llm.similarity import (
        q_embed_cluster_purity,
    )

    def _f32(x):
        import struct

        return struct.unpack("f", struct.pack("f", x))[0]

    finite = {}
    for i, (l, v) in enumerate(rows):
        if v is None or any(math.isnan(x) or math.isinf(x) for x in v):
            continue
        finite[i] = (l, [_f32(x) for x in v])  # float32 storage, cast dbl
    # the quantizer is label-agnostic (every finite vector with id < 16
    # is a centroid); only labeled vectors vote
    vecs = {i: (l, v) for i, (l, v) in finite.items() if l is not None}

    def cos(u, v):
        d = u[0] * v[0] + u[1] * v[1]
        nu = math.sqrt(u[0] * u[0] + u[1] * u[1])
        nv = math.sqrt(v[0] * v[0] + v[1] * v[1])
        den = nu * nv
        return None if den == 0 else d / den

    cents = {i: v for i, (_, v) in finite.items() if i < 16}
    clusters: dict = {}
    for i, (lab, v) in vecs.items():
        best = None
        for cid in sorted(cents):
            s = cos(v, cents[cid])
            # mirror max_by(struct(sim, -cid)): NULL sim loses to any
            # non-NULL; all-NULL -> greatest struct is the SMALLEST cid
            # only if every sim is NULL (struct comparison on null sim
            # falls to -cid, maximized by cid 0... Spark treats the
            # whole struct with null field as NULL candidate and max_by
            # skips it; if ALL are null, result is NULL -> row dropped
            # by the join? it keeps cluster NULL. Exclude that shape:
            if s is None:
                continue
            if best is None or s > best[0] or (s == best[0] and cid < best[1]):
                best = (s, cid)
        if best is None:
            # zero-norm vector (or all centroids zero-norm): every sim
            # is NULL. PINNED rule: NULL loses to any
            # non-NULL and an all-NULL vec falls to the SMALLEST
            # centroid_id — Spark's max_by(struct(sim, -cid)) walks
            # exactly this order (verified: all-NULL -> cid 0) and the
            # oracle pins it with NULLS LAST + the cid tiebreak.
            if not cents:
                continue
            best = (None, min(cents))
        clusters.setdefault(best[1], []).append(lab)
    expected = {}
    for cid, labs in clusters.items():
        n = len(labs)
        cnt: dict = {}
        for l in labs:
            cnt[l] = cnt.get(l, 0) + 1
        top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        expected[cid] = (n, top[0], top[1] * 1.0 / n)
    with staged(spark, embeddings=_labeled(rows)) as dst:
        got = {
            r.cluster: (r.n_vectors, r.top_label, r.purity)
            for r in q_embed_cluster_purity(spark, dst).collect()
        }
    # zero-norm shapes are PINNED (NULLIF oracle guard + NULLS LAST +
    # smallest-cid fallback), not engine-defined — identity always holds
    assert got == expected


# PQ replay: float32-exact coordinate values so the parquet round-trip
# is lossless and every double op replays bit-for-bit in Python
_F32_EXACT = [0.0, 0.5, 1.0, -1.0, 1.5, 2.0, -0.25]


pq_vectors = st.lists(
    st.one_of(
        st.none(),  # NULL embedding — must vanish at the scan
        st.lists(st.sampled_from(_F32_EXACT), min_size=64, max_size=64),
    ),
    min_size=1,
    max_size=20,
)


def _dotf(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _cos(a, b):
    den = math.sqrt(_dotf(a, a)) * math.sqrt(_dotf(b, b))
    return None if den == 0 else _dotf(a, b) / den


def _topk(cands, k=10):
    # (sim DESC NULLS LAST, vec_id) — the registry ranking rule
    ranked = sorted(
        cands, key=lambda r: (r[1] is None, -(r[1] or 0.0), r[0])
    )
    return [vid for vid, _ in ranked[:k]]


@settings(max_examples=8, deadline=None)
@given(pq_vectors)
def test_embed_pq_eval_matches_python_replay(spark, vecs):
    """Full-pipeline replay: subspace codes via min((score, cid)) with
    score = dot(c,c) - 2*dot(s,c) over identical left folds, recon by
    m-order concat, distortion floor(d2*1e6+0.5) summed then
    truncating-divided, ADC recall with NULLS-LAST cosine ranking.
    Zero-norm vectors (all-0.0 draws happen) and NULL embeddings ride
    through the same replay."""
    from spring_and_kafka_spark.llm.similarity import q_embed_pq_eval

    e = [(i, v) for i, v in enumerate(vecs) if v is not None]
    cb = {}  # (m, cid) -> csub
    for cid, v in e:
        if cid < 16:
            for m in range(4):
                cb[(m, cid)] = v[m * 16:(m + 1) * 16]
    recon = {}
    for vid, v in e:
        parts = []
        for m in range(4):
            sub = v[m * 16:(m + 1) * 16]
            best = min(
                ((c, cid) for (mm, cid), c in cb.items() if mm == m),
                key=lambda t: (
                    _dotf(t[0], t[0]) - 2 * _dotf(sub, t[0]),
                    t[1],
                ),
            )[0]
            parts.extend(best)
        recon[vid] = parts
    qerr = {
        vid: math.floor(
            ((_dotf(v, v) - 2 * _dotf(v, recon[vid]))
             + _dotf(recon[vid], recon[vid])) * 1e6 + 0.5
        )
        for vid, v in e
    }
    n_vec = len(e)
    mean_err = sum(qerr.values()) // n_vec if n_vec else None
    expected = {}
    for qid, qv in e:
        if qid >= 8:
            continue
        exact = _topk(
            [(vid, _cos(v, qv)) for vid, v in e if vid != qid]
        )
        pq = _topk(
            [(vid, _cos(recon[vid], qv)) for vid, v in e if vid != qid]
        )
        hits = len(set(exact) & set(pq))
        n_true = len(exact)
        recall = (
            math.floor(hits * 1e6 / n_true + 0.5) / 1e6 if n_true else None
        )
        expected[qid] = (n_true, len(pq), hits, recall, n_vec, mean_err)

    with staged(spark, embeddings=_vectors(vecs)) as d:
        got = {
            r.qid: (
                r.n_true, r.n_pq, r.hits, r.recall, r.n_vec,
                r.mean_sq_err_micros,
            )
            for r in q_embed_pq_eval(spark, d).collect()
        }
    assert got == expected


def _sig_py(v):
    """Python replay of the sign-bit signature (two 32-bit words)."""
    lo = hi = 0
    for i, x in enumerate(v[:64]):
        if x > 0:
            if i < 32:
                lo |= 1 << i
            else:
                hi |= 1 << (i - 32)
    return lo, hi


def _ham_py(a, b):
    return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")


@settings(max_examples=8, deadline=None)
@given(pq_vectors)
def test_sim_hamming_topk_matches_python(spark, vecs):
    """The sign-sketch top-k must equal a bit-for-bit Python replay:
    signature bit i = v[i] > 0, distance = popcount of the XOR, ranking
    (hamming ASC, vec_id). A NULL query vector (vec 0 absent after the
    scan filter) must yield zero rows, not a crash."""
    from spring_and_kafka_spark.llm.similarity import q_sim_hamming_topk

    e = [(i, v) for i, v in enumerate(vecs) if v is not None]
    sigs = {vid: _sig_py(v) for vid, v in e}
    if 0 in sigs:
        cands = sorted(
            ((vid, _ham_py(s, sigs[0])) for vid, s in sigs.items()
             if vid != 0),
            key=lambda t: (t[1], t[0]),
        )[:10]
    else:
        cands = []
    with staged(spark, embeddings=_vectors(vecs)) as d:
        got = [
            (r.vec_id, r.hamming)
            for r in q_sim_hamming_topk(spark, d).collect()
        ]
    assert sorted(got, key=lambda t: (t[1], t[0])) == cands


def _rank_list(cands, n):
    """(vid, score-keyed rank) for the top n under the given key order;
    cands already sorted."""
    return {vid: i + 1 for i, (vid, _) in enumerate(cands[:n])}


@settings(max_examples=8, deadline=None)
@given(pq_vectors)
def test_embed_rrf_matches_python_fusion(spark, vecs):
    """RRF replay: cosine top-50 (NULLS LAST, vec_id ties) and Hamming
    top-50 ranked in Python, fused with 1/(60+rank) (absent -> 0), the
    final top-10 by (score DESC, vec_id) with floor(x·1e9+0.5)/1e9
    output — every float op replays bit-for-bit."""
    from spring_and_kafka_spark.llm.similarity import q_embed_rrf

    e = [(i, v) for i, v in enumerate(vecs) if v is not None]
    vmap = dict(e)
    if 0 in vmap:
        qv = vmap[0]
        cos_sorted = sorted(
            ((vid, _cos(v, qv)) for vid, v in e if vid != 0),
            key=lambda r: (r[1] is None, -(r[1] or 0.0), r[0]),
        )
        ra = _rank_list(cos_sorted, 50)
        sigs = {vid: _sig_py(v) for vid, v in e}
        ham_sorted = sorted(
            ((vid, _ham_py(s, sigs[0])) for vid, s in sigs.items()
             if vid != 0),
            key=lambda t: (t[1], t[0]),
        )
        rb = _rank_list(ham_sorted, 50)
        fused = []
        for vid in set(ra) | set(rb):
            score = (1.0 / (60 + ra[vid]) if vid in ra else 0.0) + (
                1.0 / (60 + rb[vid]) if vid in rb else 0.0
            )
            fused.append((vid, ra.get(vid), rb.get(vid), score))
        fused.sort(key=lambda t: (-t[3], t[0]))
        expected = [
            (vid, a, b, math.floor(s * 1e9 + 0.5) / 1e9)
            for vid, a, b, s in fused[:10]
        ]
    else:
        expected = []
    with staged(spark, embeddings=_vectors(vecs)) as d:
        got = [
            (r.vec_id, r.rank_cos, r.rank_ham, r.rrf)
            for r in q_embed_rrf(spark, d).collect()
        ]
    assert sorted(got) == sorted(expected)


@settings(max_examples=8, deadline=None)
@given(pq_vectors)
def test_embed_ndcg_matches_python_replay(spark, vecs):
    """NDCG replay: rel = 11−exact_rank over the cosine top-10, DCG
    terms floor(rel·disc(pos)·1e6+0.5) over the Hamming top-10 summed
    as INTEGERS, idcg from the identical per-term floors — the test
    re-derives the discount table with math.log2, independently of the
    module's embedded literals."""
    from spring_and_kafka_spark.llm.similarity import q_embed_ndcg_eval

    disc = [1.0 / math.log2(p + 1) for p in range(1, 11)]
    idcg = sum(
        math.floor((10 - p) * disc[p] * 1e6 + 0.5) for p in range(10)
    )
    e = [(i, v) for i, v in enumerate(vecs) if v is not None]
    sigs = {vid: _sig_py(v) for vid, v in e}
    expected = {}
    for qid, qv in e:
        if qid >= 8:
            continue
        cos_sorted = sorted(
            ((vid, _cos(v, qv)) for vid, v in e if vid != qid),
            key=lambda r: (r[1] is None, -(r[1] or 0.0), r[0]),
        )
        rel = {vid: 11 - (i + 1)
               for i, (vid, _) in enumerate(cos_sorted[:10])}
        ham_sorted = sorted(
            ((vid, _ham_py(s, sigs[qid])) for vid, s in sigs.items()
             if vid != qid),
            key=lambda t: (t[1], t[0]),
        )
        dcg = sum(
            math.floor((rel.get(vid, 0) * disc[i]) * 1e6 + 0.5)
            for i, (vid, _) in enumerate(ham_sorted[:10])
        )
        ndcg = math.floor(float(dcg) * 1e6 / idcg + 0.5) / 1e6
        expected[qid] = (dcg, ndcg)
    with staged(spark, embeddings=_vectors(vecs)) as d:
        got = {
            r.qid: (r.dcg_micros, r.ndcg)
            for r in q_embed_ndcg_eval(spark, d).collect()
        }
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(pq_vectors)
def test_embed_ivf_balance_matches_python_replay(spark, vecs):
    """Cell counts, shares, imbalance, and hot flags vs a replay of the
    q_sim_ann_ivf assignment argmax (highest cosine, NULLS LAST, ties
    to the LOWEST centroid id) — all-NULL sim rows (zero-norm vectors)
    must fall through to centroid 0's slot deterministically."""
    from spring_and_kafka_spark.llm.similarity import q_embed_ivf_balance

    e = [(i, v) for i, v in enumerate(vecs) if v is not None]
    cents = [(cid, v) for cid, v in e if cid < 16]
    counts = defaultdict(int)
    for vid, v in e:
        best = min(
            cents,
            key=lambda c: (
                _cos(v, c[1]) is None,
                -(_cos(v, c[1]) or 0.0),
                c[0],
            ),
        )[0]
        counts[best] += 1
    total = sum(counts.values())
    ncl = len(counts)
    mx = max(counts.values()) if counts else 0
    expected = {
        cl: (
            n,
            math.floor(n * 1e6 / total + 0.5) / 1e6,
            math.floor(mx * ncl * 1e6 / total + 0.5) / 1e6,
            n * ncl > 2 * total,
        )
        for cl, n in counts.items()
    }
    with staged(spark, embeddings=_vectors(vecs)) as d:
        got = {
            r.cluster: (r.n_vecs, r.share, r.imbalance, r.hot)
            for r in q_embed_ivf_balance(spark, d).collect()
        }
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(pq_vectors)
def test_embed_threshold_curve_matches_python_replay(spark, vecs):
    """Per-threshold pair counts vs a fold-cosine replay — zero-norm
    pairs (None cosine) are excluded from n_scored and every count;
    the four threshold rows always exist (conditional agg, not a
    join)."""
    from spring_and_kafka_spark.llm.similarity import (
        _CURVE_TS,
        q_embed_threshold_curve,
    )

    e = [(i, v) for i, v in enumerate(vecs) if v is not None and i < 1000]
    sims = [
        _cos(a[1], b[1])
        for i, a in enumerate(e)
        for b in e[i + 1 :]
    ]
    n_scored = sum(1 for s in sims if s is not None)
    expected = {}
    for t in _CURVE_TS:
        n_pairs = sum(1 for s in sims if s is not None and s >= t)
        expected[t] = (
            n_scored,
            n_pairs,
            math.floor(n_pairs * 1e6 / n_scored + 0.5) / 1e6
            if n_scored
            else None,
        )
    with staged(spark, embeddings=_vectors(vecs)) as d:
        got = {
            r.threshold: (r.n_scored, r.n_pairs, r.dup_rate)
            for r in q_embed_threshold_curve(spark, d).collect()
        }
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(pq_vectors)
def test_embed_rbo_matches_python_replay(spark, vecs):
    from spring_and_kafka_spark.llm.similarity import (
        _RBO_K,
        _RBO_MAX_NANOS,
        _RBO_NQ,
        _RBO_W,
        q_embed_rbo,
    )

    e = [(i, v) for i, v in enumerate(vecs) if v is not None]
    vmap = dict(e)
    sigs = {vid: _sig_py(v) for vid, v in e}
    expected = {}
    for qid in [i for i in vmap if i < _RBO_NQ]:
        qv = vmap[qid]
        cos_sorted = sorted(
            ((vid, _cos(v, qv)) for vid, v in e if vid != qid),
            key=lambda r: (r[1] is None, -(r[1] or 0.0), r[0]),
        )
        pa = {vid: i + 1 for i, (vid, _) in enumerate(cos_sorted[:_RBO_K])}
        qs = sigs[qid]
        ham_sorted = sorted(
            ((vid, _ham_py(s, qs)) for vid, s in sigs.items() if vid != qid),
            key=lambda r: (r[1], r[0]),
        )
        pb = {vid: i + 1 for i, (vid, _) in enumerate(ham_sorted[:_RBO_K])}
        ms = [max(pa[v], pb[v]) for v in pa if v in pb]
        total = 0
        for dd in range(1, _RBO_K + 1):
            ov = sum(1 for m in ms if m <= dd)
            total += math.floor((_RBO_W[dd - 1] * ov * 1e9) / dd + 0.5)
        expected[qid] = (
            sum(1 for m in ms if m <= _RBO_K),
            total,
            math.floor(float(total) * 1e6 / _RBO_MAX_NANOS + 0.5) / 1e6,
        )

    with staged(spark, embeddings=_vectors(vecs)) as d:
        got = {
            r.qid: (r.n_common, r.rbo_nanos, r.rbo)
            for r in q_embed_rbo(spark, d).collect()
        }
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(pq_vectors)
def test_embed_matryoshka_matches_python_replay(spark, vecs):
    """Truncated rankings, the overlap against the d=64 truth list,
    and the floor-form mean recall vs a slice-and-rank replay using
    the identical fold cosine and (sim DESC NULLS LAST, vec_id)
    ordering."""
    from spring_and_kafka_spark.llm.similarity import (
        _MRL_DIMS,
        _MRL_K,
        _MRL_NQ,
        q_embed_matryoshka_eval,
    )

    e = [(i, v) for i, v in enumerate(vecs) if v is not None]
    vmap = dict(e)
    qids = [i for i in vmap if i < _MRL_NQ]
    tops = {}
    for dd in _MRL_DIMS:
        for qid in qids:
            qv = vmap[qid][:dd]
            ranked = sorted(
                ((vid, _cos(v[:dd], qv)) for vid, v in e if vid != qid),
                key=lambda r: (r[1] is None, -(r[1] or 0.0), r[0]),
            )
            tops[(qid, dd)] = [vid for vid, _ in ranked[:_MRL_K]]
    nq = len(qids)
    expected = {}
    for dd in _MRL_DIMS:
        ov = sum(
            len(set(tops[(q, dd)]) & set(tops[(q, 64)])) for q in qids
        )
        expected[dd] = (
            nq,
            ov,
            math.floor(ov * 1e6 / (nq * _MRL_K) + 0.5) / 1e6
            if nq > 0
            else None,
        )

    with staged(spark, embeddings=_vectors(vecs)) as d:
        got = {
            r.trunc_dim: (r.n_queries, r.sum_overlap, r.mean_recall)
            for r in q_embed_matryoshka_eval(spark, d).collect()
        }
    assert got == expected


def _round_half_up6(x):
    if x is None:
        return None
    s = -1.0 if x < 0 else 1.0
    return s * (math.floor(abs(x) * 1e6 + 0.5) / 1e6)


def _vec(seed):
    """Deterministic 64-dim small-integer vector from one seed — exactly
    representable in float32, so the parquet FLOAT[] round-trip is
    lossless and the Python replay sees the identical doubles."""
    return [float(((seed * 7 + j * 13) % 9) - 4) for j in range(64)]


emb_tables = st.lists(
    st.one_of(
        st.integers(0, 30),  # well-formed vector seed
        st.just(None),  # NULL embedding (scan-dropped)
        st.just(-1),  # malformed: wrong dimension (WF-dropped)
        st.just(-2),  # zero vector (NULL cosine, NULLS LAST)
    ),
    min_size=1,
    max_size=24,
)


@settings(max_examples=12, deadline=None)
@given(emb_tables)
def test_sim_rerank_matches_python_replay(spark, seeds):
    """q_sim_rerank (shortlist edge forced LIVE by shrinking the list
    caps for the duration of the example — the df-cap counterfactual
    pattern, done with try/finally because hypothesis examples share
    one monkeypatch scope) must equal a direct Python float replay of
    shortlist -> re-rank -> truth-agreement, including zero-norm
    NULLS-LAST rows, duplicate vectors tie-broken by vec_id, and a
    missing/malformed query vector (empty answer)."""
    from spring_and_kafka_spark.llm import similarity as sim

    rows = []
    for i, s in enumerate(seeds):
        if s is None:
            rows.append((i, None, 0))
        elif s == -1:
            rows.append((i, [1.0, 2.0], 0))
        elif s == -2:
            rows.append((i, [0.0] * 64, 0))
        else:
            rows.append((i, _vec(s), 0))

    # ---- replay ----
    wf = {
        i: v
        for i, v, _ in rows
        if v is not None and len(v) == 64
    }

    def dot(u, v):
        acc = 0.0
        for x, y in zip(u, v):
            acc = acc + x * y
        return acc

    def cos(u, v):
        den = math.sqrt(dot(u, u)) * math.sqrt(dot(v, v))
        return None if den == 0 else dot(u, v) / den

    def sig(v):
        lo = sum(1 << j for j in range(32) if v[j] > 0)
        hi = sum(1 << j for j in range(32) if v[j + 32] > 0)
        return lo, hi

    want = []
    if 0 in wf:
        qlo, qhi = sig(wf[0])
        qv = wf[0]
        ham = {
            i: bin((sig(v)[0] ^ qlo)).count("1")
            + bin((sig(v)[1] ^ qhi)).count("1")
            for i, v in wf.items()
            if i != 0
        }
        short = sorted(ham, key=lambda i: (ham[i], i))[:5]

        def ckey(i):
            c = cos(wf[i], qv)
            return (c is None, -c if c is not None else 0.0, i)

        rerank = sorted(short, key=ckey)[:3]
        truth = set(
            sorted((i for i in wf if i != 0), key=ckey)[:3]
        )
        n_agree = sum(1 for i in rerank if i in truth)
        want = [
            (r + 1, i, _round_half_up6(cos(wf[i], qv)), i in truth, n_agree)
            for r, i in enumerate(rerank)
        ]

    saved = (sim._RERANK_LIST, sim._RERANK_K)
    sim._RERANK_LIST, sim._RERANK_K = 5, 3
    try:
        with staged(spark, embeddings=(rows, EMBEDDINGS)) as d:
            got = [
                (r.rnk, r.vec_id, r.cos_sim, r.in_exact, r.n_agree)
                for r in sim.q_sim_rerank(spark, d)
                .orderBy("rnk")
                .collect()
            ]
    finally:
        sim._RERANK_LIST, sim._RERANK_K = saved
    assert got == want


@settings(max_examples=10, deadline=None)
@given(emb_tables)
def test_sim_rerank_curve_matches_python_replay(spark, seeds):
    """The recall-vs-shortlist-length curve (grid shrunk to [2, 4] and
    k to 3 so the shortlist edges are LIVE on small corpora) vs a
    direct Python float replay of heap -> per-L rerank -> truth
    overlap."""
    from spring_and_kafka_spark.llm import similarity as sim

    rows = []
    for i, s in enumerate(seeds):
        if s is None:
            rows.append((i, None, 0))
        elif s == -1:
            rows.append((i, [1.0, 2.0], 0))
        elif s == -2:
            rows.append((i, [0.0] * 64, 0))
        else:
            rows.append((i, _vec(s), 0))

    wf = {i: v for i, v, _ in rows if v is not None and len(v) == 64}

    def dot(u, v):
        acc = 0.0
        for x, y in zip(u, v):
            acc = acc + x * y
        return acc

    def cos(u, v):
        den = math.sqrt(dot(u, u)) * math.sqrt(dot(v, v))
        return None if den == 0 else dot(u, v) / den

    def sig(v):
        lo = sum(1 << j for j in range(32) if v[j] > 0)
        hi = sum(1 << j for j in range(32) if v[j + 32] > 0)
        return lo, hi

    LS, K = [2, 4], 3
    want = {}
    if 0 in wf:
        qlo, qhi = sig(wf[0])
        qv = wf[0]
        ham = {
            i: bin(sig(v)[0] ^ qlo).count("1")
            + bin(sig(v)[1] ^ qhi).count("1")
            for i, v in wf.items()
            if i != 0
        }
        heap = sorted(ham, key=lambda i: (ham[i], i))[: max(LS)]

        def ckey(i):
            c = cos(wf[i], qv)
            return (c is None, -c if c is not None else 0.0, i)

        truth = set(sorted((i for i in wf if i != 0), key=ckey)[:K])
        for L in LS:
            cand = heap[:L]
            if not cand:
                continue
            sel = sorted(cand, key=ckey)[:K]
            hits = sum(1 for i in sel if i in truth)
            want[L] = (
                hits,
                len(truth),
                math.floor(hits * 1e6 / len(truth) + 0.5) / 1e6
                if truth
                else None,
            )

    saved = (sim._RERANK_LS, sim._RERANK_K)
    sim._RERANK_LS, sim._RERANK_K = LS, K
    try:
        with staged(spark, embeddings=(rows, EMBEDDINGS)) as d:
            got = {
                r.shortlist_len: (r.n_hits, r.n_truth, r.recall)
                for r in sim.q_sim_rerank_curve(spark, d).collect()
            }
    finally:
        sim._RERANK_LS, sim._RERANK_K = saved
    assert got == want


@settings(max_examples=10, deadline=None)
@given(emb_tables)
def test_sim_rerank_grid_matches_python_replay(spark, seeds):
    """q_sim_rerank_grid (query sample shrunk to 3 qids, grid to
    [2, 4], k to 3 so every edge is live on small corpora) must equal
    a direct Python float replay of per-qid heap -> per-(qid, L)
    rerank -> per-qid truth -> pooled and worst recall — including
    zero-norm NULLS-LAST rows, qids that are themselves dropped
    (NULL/malformed), and duplicate vectors tie-broken by vec_id."""
    from spring_and_kafka_spark.llm import similarity as sim

    nq, k, ls = 3, 3, [2, 4]
    rows = []
    for i, s in enumerate(seeds):
        if s is None:
            rows.append((i, None, 0))
        elif s == -1:
            rows.append((i, [1.0, 2.0], 0))
        elif s == -2:
            rows.append((i, [0.0] * 64, 0))
        else:
            rows.append((i, _vec(s), 0))

    wf = {i: v for i, v, _ in rows if v is not None and len(v) == 64}

    def dot(u, v):
        acc = 0.0
        for x, y in zip(u, v):
            acc = acc + x * y
        return acc

    def cos(u, v):
        den = math.sqrt(dot(u, u)) * math.sqrt(dot(v, v))
        return None if den == 0 else dot(u, v) / den

    def sig(v):
        lo = sum(1 << j for j in range(32) if v[j] > 0)
        hi = sum(1 << j for j in range(32) if v[j + 32] > 0)
        return lo, hi

    perq = defaultdict(list)  # L -> [(h, nt)]
    for qid in [i for i in wf if i < nq]:
        qlo, qhi = sig(wf[qid])
        qv = wf[qid]
        others = [i for i in wf if i != qid]
        if not others:
            continue
        ham = {
            i: bin(sig(wf[i])[0] ^ qlo).count("1")
            + bin(sig(wf[i])[1] ^ qhi).count("1")
            for i in others
        }
        heap = sorted(others, key=lambda i: (ham[i], i))[: max(ls)]

        def ckey(i):
            c = cos(wf[i], qv)
            return (c is None, -c if c is not None else 0.0, i)

        truth = set(sorted(others, key=ckey)[:k])
        for L in ls:
            sel = sorted(heap[:L], key=ckey)[:k]
            perq[L].append(
                (sum(1 for i in sel if i in truth), len(truth))
            )
    want = {}
    for L, pairs in perq.items():
        sh = sum(h for h, _ in pairs)
        snt = sum(nt for _, nt in pairs)
        want[L] = (
            len(pairs),
            sh,
            snt,
            math.floor(sh * 1e6 / snt + 0.5) / 1e6 if snt > 0 else None,
            min(math.floor(h * 1e6 / nt + 0.5) for h, nt in pairs) / 1e6,
        )

    saved = (sim._GRID_NQ, sim._RERANK_K, sim._RERANK_LS)
    sim._GRID_NQ, sim._RERANK_K, sim._RERANK_LS = nq, k, ls
    try:
        with staged(spark, embeddings=(rows, EMBEDDINGS)) as d:
            got = {
                r.shortlist_len: (
                    r.n_queries,
                    r.n_hits,
                    r.n_truth,
                    r.recall,
                    r.worst_recall,
                )
                for r in sim.q_sim_rerank_grid(spark, d).collect()
            }
    finally:
        sim._GRID_NQ, sim._RERANK_K, sim._RERANK_LS = saved
    assert got == want


probe_tables = st.lists(
    st.one_of(
        st.integers(0, 30),  # well-formed vector seed
        st.just(None),  # NULL embedding (scan-dropped)
        st.just(-2),  # zero vector (NULL cosine, NULLS LAST)
    ),
    min_size=1,
    max_size=22,
)


@settings(max_examples=10, deadline=None)
@given(probe_tables)
def test_sim_ivf_probe_curve_matches_python_replay(spark, seeds):
    """q_sim_ivf_probe_curve (query sample shrunk to 3 qids, k to 3,
    grid to [1, 2, 4] so the probe edges are live on small corpora)
    must equal a direct Python float replay of centroid assignment ->
    per-qid probe ranking -> per-(qid, L) candidate top-k -> truth ->
    pooled/worst recall and candidate counts — including zero-norm
    vectors (NULL cosine everywhere: assignment and ranking fall to
    the id tiebreak), qids dropped at the scan, and levels where a
    query's probed clusters hold no candidates (the qid drops out of
    that level's n_queries)."""
    from spring_and_kafka_spark.llm import similarity as sim

    nq, k, ls = 3, 3, [1, 2, 4]
    rows = []
    for i, s in enumerate(seeds):
        if s is None:
            rows.append((i, None, 0))
        elif s == -2:
            rows.append((i, [0.0] * 64, 0))
        else:
            rows.append((i, _vec(s), 0))

    wf = {i: v for i, v, _ in rows if v is not None}

    def dot(u, v):
        acc = 0.0
        for x, y in zip(u, v):
            acc = acc + x * y
        return acc

    def cos(u, v):
        den = math.sqrt(dot(u, u)) * math.sqrt(dot(v, v))
        return None if den == 0 else dot(u, v) / den

    cents = sorted((i, wf[i]) for i in wf if i < 16)

    def rank_key(c, v):
        s = cos(v, c[1])
        return (s is None, -s if s is not None else 0.0, c[0])

    cluster = {
        i: min(cents, key=lambda c: rank_key(c, v))[0]
        for i, v in wf.items()
    }
    perq = defaultdict(list)  # L -> [(n_cand, h, nt)]
    n_all = 0
    for qid in [i for i in wf if i < nq]:
        qv = wf[qid]
        others = [i for i in wf if i != qid]
        n_all += len(others)
        if not others:
            continue
        crn = {
            c[0]: r + 1
            for r, c in enumerate(
                sorted(cents, key=lambda c: rank_key(c, qv))
            )
        }

        def ckey(i):
            c = cos(wf[i], qv)
            return (c is None, -c if c is not None else 0.0, i)

        truth = set(sorted(others, key=ckey)[:k])
        for L in ls:
            cand = [i for i in others if crn[cluster[i]] <= L]
            if not cand:
                continue
            sel = sorted(cand, key=ckey)[:k]
            perq[L].append(
                (len(cand), sum(1 for i in sel if i in truth), len(truth))
            )
    want = {}
    for L, triples in perq.items():
        sc = sum(c for c, _, _ in triples)
        sh = sum(h for _, h, _ in triples)
        snt = sum(nt for _, _, nt in triples)
        want[L] = (
            len(triples),
            sc,
            math.floor(sc * 1e6 / n_all + 0.5) / 1e6,
            sh,
            snt,
            math.floor(sh * 1e6 / snt + 0.5) / 1e6 if snt > 0 else None,
            min(math.floor(h * 1e6 / nt + 0.5) for _, h, nt in triples)
            / 1e6,
        )

    saved = (sim._RECALL_NQ, sim._RECALL_K, sim._PROBE_LS)
    sim._RECALL_NQ, sim._RECALL_K, sim._PROBE_LS = nq, k, ls
    try:
        with staged(spark, embeddings=(rows, EMBEDDINGS)) as d:
            got = {
                r.nprobe: (
                    r.n_queries,
                    r.n_cand,
                    r.cand_frac,
                    r.n_hits,
                    r.n_truth,
                    r.recall,
                    r.worst_recall,
                )
                for r in sim.q_sim_ivf_probe_curve(spark, d).collect()
            }
    finally:
        sim._RECALL_NQ, sim._RECALL_K, sim._PROBE_LS = saved
    assert got == want


@settings(max_examples=10, deadline=None)
@given(probe_tables)
def test_sim_ivfpq_search_matches_python_replay(spark, seeds):
    """q_sim_ivfpq_search (query sample shrunk to 3 qids, k to 3,
    nprobe to 2) must equal a direct Python float replay of the FULL
    composed index: PQ encode (per-subspace L2^2 argmin with the
    dot(c,c)-2*dot(sub,c) form, centroid_id ties, subspace-ordered
    reconcatenation) + IVF assign + per-qid probe ranking + ADC
    ranking of probed candidates against reconstructions + exact
    truth — including zero-norm rows (NULL cosine at every edge) and
    qids whose probed cells hold no candidates (skeleton zeros)."""
    from spring_and_kafka_spark.llm import similarity as sim

    nq, k, nprobe = 3, 3, 2
    M, SUB, PK = 4, 16, 16
    rows = []
    for i, s in enumerate(seeds):
        if s is None:
            rows.append((i, None, 0))
        elif s == -2:
            rows.append((i, [0.0] * 64, 0))
        else:
            rows.append((i, _vec(s), 0))
    wf = {i: v for i, v, _ in rows if v is not None}

    def dot(u, v):
        acc = 0.0
        for x, y in zip(u, v):
            acc = acc + x * y
        return acc

    def cos(u, v):
        den = math.sqrt(dot(u, u)) * math.sqrt(dot(v, v))
        return None if den == 0 else dot(u, v) / den

    cents = sorted((i, wf[i]) for i in wf if i < 16)
    cbs = {
        (m, cid): cv[m * SUB : m * SUB + SUB]
        for cid, cv in cents
        if cid < PK
        for m in range(M)
    }
    recon = {}
    for i, v in wf.items():
        parts = []
        for m in range(M):
            sub = v[m * SUB : m * SUB + SUB]
            best = min(
                (cid for cid in range(PK) if (m, cid) in cbs),
                key=lambda cid: (
                    dot(cbs[(m, cid)], cbs[(m, cid)])
                    - 2 * dot(sub, cbs[(m, cid)]),
                    cid,
                ),
            )
            parts.extend(cbs[(m, best)])
        recon[i] = parts

    def rank_key(c, v):
        s = cos(v, c[1])
        return (s is None, -s if s is not None else 0.0, c[0])

    cluster = {
        i: min(cents, key=lambda c: rank_key(c, v))[0]
        for i, v in wf.items()
    }
    want = {}
    for qid in [i for i in wf if i < nq]:
        qv = wf[qid]
        others = [i for i in wf if i != qid]

        def ckey(i):
            c = cos(wf[i], qv)
            return (c is None, -c if c is not None else 0.0, i)

        def akey(i):
            c = cos(recon[i], qv)
            return (c is None, -c if c is not None else 0.0, i)

        truth = sorted(others, key=ckey)[:k]
        nt = len(truth)
        probed = set(
            c[0]
            for c in sorted(cents, key=lambda c: rank_key(c, qv))[:nprobe]
        )
        cand = [i for i in others if cluster[i] in probed]
        sel = sorted(cand, key=akey)[:k]
        hits = sum(1 for i in sel if i in set(truth))
        want[qid] = (
            len(cand),
            nt,
            len(sel),
            hits,
            math.floor(hits * 1e6 / nt + 0.5) / 1e6 if nt > 0 else None,
        )

    saved = (sim._PQ_NQ, sim._PQ_TOPK, sim._RECALL_NPROBE)
    sim._PQ_NQ, sim._PQ_TOPK, sim._RECALL_NPROBE = nq, k, nprobe
    try:
        with staged(spark, embeddings=(rows, EMBEDDINGS)) as d:
            got = {
                r.qid: (r.n_cand, r.n_true, r.n_ivfpq, r.hits, r.recall)
                for r in sim.q_sim_ivfpq_search(spark, d).collect()
            }
    finally:
        sim._PQ_NQ, sim._PQ_TOPK, sim._RECALL_NPROBE = saved
    assert got == want
