"""Property battery for the text and dedup queries (``llm/text.py``,
``llm/dedup.py``): replays of the length filter, Jensen-Shannon shift,
language-id confusion, script mix, log2 length histogram, diversity,
Gopher quality rules, boilerplate, PMI, MinHash estimates, the LSH
pair detectors, connected components, the Jaccard threshold curve,
segment document frequencies, span alignment and cover, and keep-best.

Each example stages a random ``documents`` table through
``conftest.staged`` and runs the REAL registered query on it, so the
ingest contract of ``load_table`` (NULL ids and texts dropped) is part
of the replayed semantics."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import pyarrow as pa
from hypothesis import given, settings, strategies as st

import pytest

from .conftest import DOCUMENTS, staged

# Slow: every hypothesis example runs Spark jobs; run with
# `python -m pytest tests/ -m slow` (pytest.ini keeps the default run to
# the fast set).
pytestmark = pytest.mark.slow


_VOCAB = ["spark", "data", "the", "fast", "slow"]


def _lf_docs(rows):
    """``(lang index | None, n_chars | None)`` rows as a pyarrow-written
    documents table."""
    staged_rows = [
        (i, None if l is None else f"l{l}", c) for i, (l, c) in enumerate(rows)
    ]
    return staged_rows, pa.schema(
        [("doc_id", pa.int64()), ("lang", pa.string()), ("n_chars", pa.int64())]
    )


def _word_docs(rows, col):
    """``(index | None, word indexes | None)`` rows as a pyarrow-written
    documents table: ``col`` holds ``f"{col[0]}{index}"``, ``text`` the
    ``_VOCAB`` words joined by spaces."""
    staged_rows = [
        (
            i,
            None if k is None else f"{col[0]}{k}",
            None if t is None else " ".join(_VOCAB[w] for w in t),
        )
        for i, (k, t) in enumerate(rows)
    ]
    return staged_rows, pa.schema(
        [("doc_id", pa.int64()), (col, pa.string()), ("text", pa.string())]
    )


def _docs(docs):
    """``(text, lang, source)`` triples as documents rows, ``n_chars`` =
    ``len(text)``."""
    rows = [
        (i, text, lang, src, len(text) if text is not None else None)
        for i, (text, lang, src) in enumerate(docs)
    ]
    return rows, DOCUMENTS


def _texts(docs):
    """``(doc_id, text)`` pairs as documents rows (lang ``en``, source
    ``s``, ``n_chars`` 0)."""
    return [(i, t, "en", "s", 0) for i, t in docs], DOCUMENTS


corpus_strategy = st.lists(
    # docs over a 6-token vocabulary, 4-12 tokens long → shingle overlap is
    # common, so exact pairs at many Jaccard levels arise
    st.lists(st.sampled_from("abcdef"), min_size=4, max_size=12),
    min_size=2,
    max_size=12,
)


@settings(max_examples=10, deadline=None)
@given(corpus_strategy)
def test_lsh_verified_pairs_subset_of_exact_and_finds_planted(spark, data):
    """Precision property: lsh_verified_pairs ⊆ exact pairs ALWAYS (exact
    verification guarantees it regardless of banding luck). Recall
    property: a planted J≈0.9 duplicate is always found (16×2 banding
    miss probability at J≥0.9 is ~1e-10 — effectively deterministic)."""
    from spring_and_kafka_spark.llm.dedup import (
        lsh_verified_pairs,
        ngram_jaccard_pairs,
    )

    docs = [(i, " ".join(toks)) for i, toks in enumerate(data)]
    # plant one high-J duplicate of doc 0: append one token
    planted_id = 1000
    docs.append((planted_id, docs[0][1] + " z"))
    corpus = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    exact = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in ngram_jaccard_pairs(corpus, 3, 0.6).collect()
    }
    lsh = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in lsh_verified_pairs(corpus, 3, 0.6).collect()
    }
    assert lsh <= exact  # precision 1.0, including identical jaccard values
    planted = {(a, b) for a, b, _ in exact if b == planted_id}
    assert {(a, b) for a, b, _ in lsh if b == planted_id} >= planted


def test_incremental_matches_are_symmetric_cross_pairs(spark):
    """q_dedup_incremental's best match per new doc must agree with the
    symmetric detector restricted to old×new pairs — the asymmetric
    candidate path may skip old×old work but must not change semantics."""
    from spring_and_kafka_spark.llm.dedup import (
        lsh_verified_pairs,
        planted_corpus,
        q_dedup_incremental,
    )
    from .conftest import SF_SMOKE

    corpus = planted_corpus(spark, SF_SMOKE)
    sym = lsh_verified_pairs(corpus, n=3, threshold=0.6).collect()
    best = {}
    for r in sym:
        a, b = r.a_id, r.b_id  # a < b always; cross pairs have b planted
        if a < 100000 <= b:
            cur = best.get(b)
            cand = (-r.jaccard, a)
            if cur is None or cand < cur:
                best[b] = cand
    inc = q_dedup_incremental(spark, SF_SMOKE).collect()
    got = {
        r.new_id: (-r.jaccard, r.match_id) for r in inc if r.rejected
    }
    assert got == best


edge_lists = st.lists(
    st.tuples(st.integers(0, 25), st.integers(0, 25)),
    min_size=0,
    max_size=30,
)


@settings(max_examples=12, deadline=None)
@given(edge_lists)
def test_connected_components_matches_union_find(spark, edges):
    """The materialize-per-round min-label propagation must match a
    driver-side union-find on ARBITRARY small graphs — long paths need
    many rounds, cliques converge in one, self-loops are harmless,
    isolated nodes come back as their own singleton component."""
    from spring_and_kafka_spark.llm.dedup import connected_components

    nodes = sorted({n for e in edges for n in e} | {99})  # 99: isolated
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in nodes}
    # canonicalize: component id = min member
    comp_min = {}
    for n, r in expected.items():
        comp_min.setdefault(r, n if n < r else r)
        comp_min[r] = min(comp_min[r], n)
    expected = {n: comp_min[find(n)] for n in nodes}

    nodes_df = spark.createDataFrame([(n,) for n in nodes], "node long")
    edges_df = spark.createDataFrame(
        edges or [(99, 99)], "a long, b long"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(nodes_df, edges_df).collect()
    }
    assert got == expected


lf_rows = st.lists(
    # (lang index | None, n_chars | None) — duplicate lengths force the
    # rank tiebreak, None lang is the unlabeled group, None n_chars is
    # excluded by contract
    st.tuples(
        st.one_of(st.integers(0, 2), st.none()),
        st.one_of(st.integers(0, 30), st.none()),
    ),
    min_size=0,
    max_size=45,
)


@settings(max_examples=20, deadline=None)
@given(lf_rows)
def test_length_filter_matches_brute_force(spark, rows):
    from spring_and_kafka_spark.llm.text import q_text_length_filter

    groups: dict = {}
    for i, (l, c) in enumerate(rows):
        if c is None:
            continue
        groups.setdefault(None if l is None else f"l{l}", []).append((c, i))
    expected = {}
    for lang, vals in groups.items():
        vals.sort()
        n = len(vals)
        p05 = vals[(n * 5 + 99) // 100 - 1][0]
        p95 = vals[(n * 95 + 99) // 100 - 1][0]
        expected[lang] = (
            n,
            p05,
            p95,
            sum(1 for c, _ in vals if c < p05),
            sum(1 for c, _ in vals if c > p95),
        )
    with staged(spark, documents=_lf_docs(rows)) as dst:
        got = {
            r.lang: (r.n_docs, r.p05_chars, r.p95_chars, r.n_below, r.n_above)
            for r in q_text_length_filter(spark, dst).collect()
        }
    assert got == expected


js_rows = st.lists(
    # (source index | None, token-index list | None-text)
    st.tuples(
        st.one_of(st.integers(0, 2), st.none()),
        st.one_of(
            st.lists(st.integers(0, 4), min_size=0, max_size=8), st.none()
        ),
    ),
    min_size=0,
    max_size=14,
)


@settings(max_examples=20, deadline=None)
@given(js_rows)
def test_js_shift_matches_brute_force(spark, rows):
    """Pure-Python JS replay. The count sides (n_tokens, vocab_size) are
    exact; js_bits is rounded to 4 dp in the query, so the replay checks
    |query − exact| ≤ 5e-5 + summation-drift headroom rather than
    re-deriving the engine's summation order."""
    from spring_and_kafka_spark.llm.text import q_text_js_shift

    counts: dict = {}
    for s, t in rows:
        if t is None:
            continue
        src = None if s is None else f"s{s}"
        for w in t:
            counts[(src, _VOCAB[w])] = counts.get((src, _VOCAB[w]), 0) + 1
    ns: dict = {}
    ctok: dict = {}
    for (src, tok), c in counts.items():
        ns[src] = ns.get(src, 0) + c
        ctok[tok] = ctok.get(tok, 0) + c
    ntot = sum(ctok.values())
    expected = {}
    for src in ns:
        pq_sum = qv_sum = 0.0
        vocab = 0
        for (s2, tok), c in counts.items():
            if s2 != src:
                continue
            vocab += 1
            p = c * 1.0 / ns[src]
            q = ctok[tok] * 1.0 / ntot
            m = (p + q) / 2
            pq_sum += p * math.log2(p / m) + q * math.log2(q / m)
            qv_sum += q
        expected[src] = (ns[src], vocab, 0.5 * pq_sum + 0.5 * (1 - qv_sum))
    with staged(spark, documents=_word_docs(rows, "source")) as dst:
        got = {
            r.source: (r.n_tokens, r.vocab_size, r.js_bits)
            for r in q_text_js_shift(spark, dst).collect()
        }
    assert set(got) == set(expected)
    for src, (n, v, js) in expected.items():
        gn, gv, gjs = got[src]
        assert (gn, gv) == (n, v)
        assert abs(gjs - js) <= 5.1e-5
        assert 0.0 <= gjs <= 1.0001  # JS(base 2) range


conf_rows = st.lists(
    st.tuples(
        st.one_of(st.integers(0, 2), st.none()),  # lang
        st.one_of(
            st.lists(st.integers(0, 4), min_size=0, max_size=8), st.none()
        ),
    ),
    min_size=0,
    max_size=14,
)


@settings(max_examples=20, deadline=None)
@given(conf_rows)
def test_langid_confusion_matches_brute_force(spark, rows):
    """Replays the whole classifier (profiles from labeled docs, max
    distinct-overlap prediction, both tiebreaks) plus the confusion
    rollup. Docs with zero profile overlap are absent — same in both."""
    from spring_and_kafka_spark.llm.text import q_langid_confusion

    # token derivation mirrors BOTH engines' split semantics: splitting
    # the empty string yields one EMPTY token (''), which the classifier
    # counts like any other (q_text_langid applies no tok != '' filter)
    docs = [
        (
            i,
            None if l is None else f"l{l}",
            []
            if t is None
            else " ".join(_VOCAB[w] for w in t).split(" "),
        )
        for i, (l, t) in enumerate(rows)
    ]
    freq: dict = {}
    for _, lang, toks in docs:
        if lang is None:
            continue
        for tok in toks:
            freq[(lang, tok)] = freq.get((lang, tok), 0) + 1
    profile: dict = {}
    for lang in {l for (l, _) in freq}:
        ranked = sorted(
            ((c, t) for (l, t), c in freq.items() if l == lang),
            key=lambda ct: (-ct[0], ct[1]),
        )
        profile[lang] = {t for _, t in ranked[:8]}
    conf: dict = {}
    for _, lang, toks in docs:
        dtoks = set(toks)
        overlaps = sorted(
            (
                (-len(dtoks & ptoks), plang)
                for plang, ptoks in profile.items()
                if dtoks & ptoks
            ),
        )
        if not overlaps:
            continue
        pred = overlaps[0][1]
        conf[(lang, pred)] = conf.get((lang, pred), 0) + 1
    totals: dict = {}
    for (lang, _), n in conf.items():
        totals[lang] = totals.get(lang, 0) + n
    expected = {
        k: (n, n * 1.0 / totals[k[0]]) for k, n in conf.items()
    }
    with staged(spark, documents=_word_docs(rows, "lang")) as dst:
        got = {
            (r.lang, r.pred_lang): (r.n, r.frac)
            for r in q_langid_confusion(spark, dst).collect()
        }
    assert got == expected


_SCRIPT_TEXT = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        st.characters(min_codepoint=0x400, max_codepoint=0x4FF),
        st.characters(min_codepoint=0x4E00, max_codepoint=0x4E40),
        st.sampled_from("\t\n\r�éσ\U0001F600"),
    ),
    max_size=60,
)


def _classify(text):
    latin = sum(1 for c in text if "a" <= c <= "z" or "A" <= c <= "Z")
    digit = sum(1 for c in text if "0" <= c <= "9")
    space = sum(1 for c in text if c in " \t\n\r")
    cyr = sum(1 for c in text if 0x400 <= ord(c) <= 0x4FF)
    cjk = sum(1 for c in text if 0x4E00 <= ord(c) <= 0x9FFF)
    moji = sum(1 for c in text if c == "�")
    n = len(text)
    other = n - latin - digit - space - cyr - cjk
    if latin >= cyr and latin >= cjk and latin > 0:
        dom = "latin"
    elif cyr >= cjk and cyr > 0:
        dom = "cyrillic"
    elif cjk > 0:
        dom = "cjk"
    else:
        dom = "none"
    mixed = (latin > 0) + (cyr > 0) + (cjk > 0) >= 2
    return (n, latin, digit, space, cyr, cjk, moji, other, dom, mixed)


@settings(max_examples=10, deadline=None)
@given(st.lists(_SCRIPT_TEXT, min_size=1, max_size=8))
def test_script_mix_matches_python_classification(spark, texts):
    """Per-codepoint classification over arbitrary Unicode (including
    astral emoji, which must land in other_n and count ONE codepoint)
    must match a direct Python replay — the regex len-diff trick and
    length() both count codepoints."""
    from spring_and_kafka_spark.llm.text import q_text_script_mix

    documents_rows = [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)]
    with staged(spark, documents=(documents_rows, DOCUMENTS)) as d:
        got = {
            r.doc_id: (
                r.n_cp, r.latin_n, r.digit_n, r.space_n, r.cyr_n,
                r.cjk_n, r.mojibake_n, r.other_n, r.dominant_script,
                r.is_mixed,
            )
            for r in q_text_script_mix(spark, d).collect()
        }
    assert got == {i: _classify(t) for i, t in enumerate(texts)}


@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.one_of(st.none(), st.integers(-5, 5000)), min_size=1, max_size=40,
))
def test_hist_log2_matches_bitlength_replay(spark, lens):
    """Bit-length bucketing vs Python int.bit_length(), including the
    NULL bucket for missing and non-positive lengths, exact power
    bounds, and the floor-form share."""
    from spring_and_kafka_spark.llm.text import q_hist_log2

    buckets = defaultdict(int)
    for n in lens:
        buckets[n.bit_length() - 1 if n is not None and n > 0 else None] += 1
    total = len(lens)
    expected = {
        b: (
            (1 << b) if b is not None else None,
            ((1 << (b + 1)) - 1) if b is not None else None,
            c,
            math.floor(c * 1e6 / total + 0.5) / 1e6,
        )
        for b, c in buckets.items()
    }

    documents_rows = [(i, "t", "en", "web", n) for i, n in enumerate(lens)]
    with staged(spark, documents=(documents_rows, DOCUMENTS)) as d:
        got = {
            r.bucket: (r.lo, r.hi, r.n_docs, r.share)
            for r in q_hist_log2(spark, d).collect()
        }
    assert got == expected


diversity_docs = st.lists(
    st.tuples(
        st.sampled_from(["web", "books", None]),  # source (NULL = untagged)
        st.one_of(
            st.none(),  # NULL text — dropped at the scan
            st.lists(
                st.sampled_from(["a", "bb", "ccc", ""]), max_size=6
            ).map(" ".join),
        ),
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=10, deadline=None)
@given(diversity_docs)
def test_text_diversity_matches_python_replay(spark, docs):
    """distinct-1/distinct-2 per source vs a direct replay of the module
    tokenization contract (lower, whitespace split, empties removed
    BEFORE bigram pairing) — double-space runs must pair across the
    removed empty, <2-token docs contribute no bigrams, and a source
    with ZERO tokens (only empty/NULL texts) has no row at all: the
    explode/unnest of its empty token arrays yields nothing in BOTH
    engines."""
    from spring_and_kafka_spark.llm.text import q_text_diversity

    uni, bi = defaultdict(list), defaultdict(list)
    for src, text in docs:
        if text is None:
            continue
        toks = [t for t in text.lower().split(" ") if t]
        uni[src].extend(toks)
        bi[src].extend(
            f"{a} {b}" for a, b in zip(toks, toks[1:])
        )
    expected = {}
    for src in uni:
        nt, nu = len(uni[src]), len(set(uni[src]))
        if nt == 0:
            continue  # no gram rows -> no source row, in either engine
        nb, nub = len(bi[src]), len(set(bi[src]))
        expected[src] = (
            nt,
            nu,
            math.floor(nu * 1e6 / nt + 0.5) / 1e6 if nt else None,
            nb,
            nub,
            math.floor(nub * 1e6 / nb + 0.5) / 1e6 if nb else None,
        )
    rows = [
        (i, text, "en", src, len(text) if text else None)
        for i, (src, text) in enumerate(docs)
    ]
    with staged(spark, documents=(rows, DOCUMENTS)) as d:
        got = {
            r.source: (
                r.n_toks, r.n_uniq_toks, r.distinct_1,
                r.n_bigrams, r.n_uniq_bigrams, r.distinct_2,
            )
            for r in q_text_diversity(spark, d).collect()
        }
    assert got == expected


diversity_corpus = st.lists(
    st.one_of(
        st.none(),
        st.lists(st.sampled_from(["x", "y", "zz", "w"]),
                 min_size=0, max_size=8).map(" ".join),
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=8, deadline=None)
@given(diversity_corpus)
def test_dedup_threshold_curve_matches_python_replay(spark, texts):
    """Per-threshold pair counts vs a set-based replay of the planted
    corpus (doc ∪ last-token-dropped twin), 3-gram shingles with the
    short-doc whole-text rule, df-capped universe, and the integer
    cross-multiplied comparison c·q ≥ p·(|A|+|B|−c)."""
    from spring_and_kafka_spark.llm.dedup import (
        _JCURVE_TS,
        q_dedup_threshold_curve,
    )
    import re as _re

    def shingle_set(text):
        toks = text.split(" ")
        n = 3
        out = set()
        for i in range(max(len(toks) - n, 0) + 1):
            out.add(" ".join(toks[i : i + n]))
        return out

    corpus = {}
    for i, t in enumerate(texts):
        if t is None:
            continue
        corpus[i] = t
        corpus[i + 100000] = _re.sub(r"\s+\S+$", "", t)
    sets = {
        d: shingle_set(t) for d, t in corpus.items() if t is not None and t != ""
    }
    ids = sorted(sets)
    pairs = []
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            c = len(sets[a] & sets[b])
            if c >= 1:
                pairs.append((c, len(sets[a]) + len(sets[b]) - c))
    n_considered = len(pairs)
    expected = {}
    for p_, q_ in _JCURVE_TS:
        np_ = sum(1 for c, u in pairs if c * q_ >= p_ * u)
        expected[p_ / q_] = (
            n_considered,
            np_,
            math.floor(np_ * 1e6 / n_considered + 0.5) / 1e6
            if n_considered
            else None,
        )
    rows = [
        (i, t, "en", "web", len(t) if t is not None else None)
        for i, t in enumerate(texts)
    ]
    with staged(spark, documents=(rows, DOCUMENTS)) as d:
        got = {
            r.threshold: (r.n_considered, r.n_pairs, r.pair_rate)
            for r in q_dedup_threshold_curve(spark, d).collect()
        }
    assert got == expected


_WORDS = ["a", "the", "tok", "zip", "superlongwordhere", "w"]


doc_texts = st.lists(
    st.tuples(
        st.one_of(
            st.none(),
            st.just(""),
            st.lists(
                st.sampled_from(_WORDS), min_size=1, max_size=30
            ).map(" ".join),
        ),
        st.sampled_from(["en", "fr", None]),
        st.sampled_from(["s0", "s1", "s2", None]),
    ),
    min_size=1,
    max_size=14,
)


@settings(max_examples=10, deadline=None)
@given(doc_texts)
def test_quality_gopher_matches_rule_replay(spark, docs):
    from spring_and_kafka_spark.llm.text import q_quality_gopher

    per_lang = defaultdict(list)
    for text, lang, _src in docs:
        if text is None or text == "":
            continue
        toks = text.split(" ")
        n = len(toks)
        chars_w = len(text) - (n - 1)
        cnt = Counter(toks)
        rules = (
            20 <= n <= 1000,
            2 * n <= chars_w <= 8 * n,
            sum(cnt[s] for s in ("a", "the")) >= 2,
            max(cnt.values()) * 5 <= n,
            len(cnt) * 10 >= n * 3,
        )
        per_lang[lang].append(rules)
    expected = {}
    for lang, rows in per_lang.items():
        n_docs = len(rows)
        passes = [sum(1 for r in rows if r[i]) for i in range(5)]
        n_clean = sum(1 for r in rows if all(r))
        expected[lang] = (
            n_docs,
            *passes,
            n_clean,
            math.floor(n_clean * 1e6 / n_docs + 0.5) / 1e6,
        )

    with staged(spark, documents=_docs(docs)) as d:
        got = {
            r.lang: (
                r.n_docs, r.pass_len, r.pass_wlen, r.pass_stop, r.pass_rep,
                r.pass_uniq, r.n_clean, r.clean_rate,
            )
            for r in q_quality_gopher(spark, d).collect()
        }
    assert got == expected


@settings(max_examples=10, deadline=None)
@given(doc_texts)
def test_boilerplate_matches_segment_replay(spark, docs):
    from spring_and_kafka_spark.llm.text import q_text_boilerplate

    segs = []  # (doc_id, source, seg)
    for i, (text, _lang, src) in enumerate(docs):
        if text is None or text == "":
            continue
        toks = text.split(" ")
        n = len(toks)
        for s in range(0, max(n - 1, 0) + 1, 8):
            segs.append((i, src, " ".join(toks[s : s + 8])))
    src_tally = defaultdict(set)
    for _i, src, seg in segs:
        src_tally[seg].add(src if src is not None else "\x01")
    boiler = {seg for seg, srcs in src_tally.items() if len(srcs) >= 3}
    per_src = defaultdict(lambda: [set(), 0, 0])
    for i, src, seg in segs:
        e = per_src[src]
        e[0].add(i)
        e[1] += 1
        e[2] += seg in boiler
    expected = {
        src: (
            len(docs_), n_seg, n_b,
            math.floor(n_b * 1e6 / n_seg + 0.5) / 1e6,
        )
        for src, (docs_, n_seg, n_b) in per_src.items()
    }

    with staged(spark, documents=_docs(docs)) as d:
        got = {
            r.source: (r.n_docs, r.n_segments, r.n_boiler, r.boiler_rate)
            for r in q_text_boilerplate(spark, d).collect()
        }
    assert got == expected


pmi_texts = st.lists(
    st.tuples(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=2, max_size=20
        ).map(" ".join),
        st.just("en"),
        st.just("s0"),
    ),
    min_size=4,
    max_size=12,
)


@settings(max_examples=10, deadline=None)
@given(pmi_texts)
def test_pmi_matches_counter_replay(spark, docs):
    from spring_and_kafka_spark.llm.text import q_text_pmi

    uni: Counter = Counter()
    bi: Counter = Counter()
    for text, _lang, _src in docs:
        toks = [t for t in text.lower().split(" ") if t != ""]
        uni.update(toks)
        bi.update(zip(toks, toks[1:]))
    n_tok = sum(uni.values())
    n_big = sum(bi.values())
    sel = []
    for (w1, w2), c12 in bi.items():
        if c12 < 5:
            continue
        lift = (float(c12) * n_tok * n_tok) / (
            float(uni[w1]) * uni[w2] * n_big
        )
        sel.append((w1, w2, c12, uni[w1], uni[w2], lift))
    sel.sort(key=lambda r: (-r[5], r[0], r[1]))
    expected = [r[:5] for r in sel[:20]]
    exp_pmi = [round(math.log2(r[5]), 4) + 0.0 for r in sel[:20]]

    with staged(spark, documents=_docs(docs)) as d:
        rows = q_text_pmi(spark, d).collect()
    got = [(r.w1, r.w2, r.c12, r.c1, r.c2) for r in rows]
    assert got == expected
    # pmi is display-only (ranked on lift): libm tolerance
    for g, e in zip([r.pmi for r in rows], exp_pmi):
        assert abs(g - e) < 2e-4


mh_docs = st.lists(
    st.tuples(
        st.one_of(
            st.none(),
            st.lists(
                st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
                min_size=1,
                max_size=10,
            ).map(" ".join),
        ),
        st.just("en"),
        st.just("s0"),
    ),
    min_size=2,
    max_size=8,
)


def _mh_hash_py(i, shingle):
    return int(
        hashlib.sha256(f"{i}:{shingle}".encode()).hexdigest()[:12], 16
    )


@settings(max_examples=10, deadline=None)
@given(mh_docs)
def test_minhash_est_matches_set_replay(spark, docs):
    from spring_and_kafka_spark.llm.dedup import (
        _MHEST_EM,
        _MHEST_PERMS,
        q_dedup_minhash_est,
    )

    sh = {}
    for i, (text, _lang, _src) in enumerate(docs):
        if text is None or text == "":
            continue
        toks = text.split(" ")
        n = len(toks)
        sh[i] = {
            " ".join(toks[s : s + 3]) for s in range(0, max(n - 3, 0) + 1)
        }
    sig = {
        i: [min(_mh_hash_py(p, s) for s in ss) for p in range(_MHEST_PERMS)]
        for i, ss in sh.items()
    }
    buckets = defaultdict(lambda: [0, 0, 0])  # n_pairs, sum_j, sum_err
    ids = sorted(sh)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            c = len(sh[a] & sh[b])
            if c == 0:
                continue
            jm = math.floor(c * 1e6 / (len(sh[a]) + len(sh[b]) - c) + 0.5)
            nm = sum(
                1 for p in range(_MHEST_PERMS) if sig[a][p] == sig[b][p]
            )
            e = buckets[nm]
            e[0] += 1
            e[1] += jm
            e[2] += abs(nm * _MHEST_EM - jm)
    expected = {
        nm: (
            float(nm) / _MHEST_PERMS,
            np,
            math.floor(float(sj) / np + 0.5) / 1e6,
            math.floor(float(se) / np + 0.5) / 1e6,
        )
        for nm, (np, sj, se) in buckets.items()
    }

    with staged(spark, documents=_docs(docs)) as d:
        got = {
            r.n_matches: (r.est_jaccard, r.n_pairs, r.mean_exact,
                          r.mean_abs_err)
            for r in q_dedup_minhash_est(spark, d).collect()
        }
    assert got == expected


doc_corpora = st.lists(
    st.tuples(
        st.booleans(),  # doc_id present?
        st.one_of(
            st.none(),
            st.just(""),
            st.lists(st.sampled_from("abcd"), min_size=1, max_size=20).map(
                " ".join
            ),
        ),
    ),
    min_size=0,
    max_size=25,
)


@settings(max_examples=12, deadline=None)
@given(doc_corpora)
def test_dedup_seg_df_hist_matches_python_replay(spark, docs):
    """The segment-df histogram vs a direct Counter replay: tumbling
    8-word segments of non-empty non-NULL-id docs, df = distinct docs
    per segment, bit-length buckets, instance shares floor-form —
    including the NULL-doc_id/NULL-text/empty-text exclusions."""
    from collections import Counter, defaultdict

    from spring_and_kafka_spark.llm.dedup import q_dedup_seg_df_hist

    seg_docs = defaultdict(set)
    seg_inst = Counter()
    for i, (has_id, text) in enumerate(docs):
        if not has_id or text is None or text == "":
            continue
        toks = text.split(" ")
        for s in range(0, max(len(toks) - 1, 0) + 1, 8):
            seg = " ".join(toks[s : s + 8])
            seg_docs[seg].add(i)
            seg_inst[seg] += 1
    buckets = defaultdict(lambda: [0, 0])
    for seg, ds in seg_docs.items():
        b = len(ds).bit_length() - 1
        buckets[b][0] += 1
        buckets[b][1] += seg_inst[seg]
    total = sum(v[1] for v in buckets.values())
    want = {
        b: (
            (1 << b),
            (1 << (b + 1)) - 1,
            n,
            inst,
            math.floor(inst * 1e6 / total + 0.5) / 1e6,
        )
        for b, (n, inst) in buckets.items()
    }

    documents_rows = [
        (i if has_id else None, text, "en", "s", 0)
        for i, (has_id, text) in enumerate(docs)
    ]
    with staged(spark, documents=(documents_rows, DOCUMENTS)) as d:
        got = {
            r.bucket: (r.lo, r.hi, r.n_segments, r.n_instances, r.inst_share)
            for r in q_dedup_seg_df_hist(spark, d).collect()
        }
    assert got == want


_K = 4  # mirror of llm.dedup._ALIGN_K
_MOD = 8  # mirror of llm.dedup._ALIGN_MOD
_SHIFT = 3  # mirror of llm.dedup._ALIGN_SHIFT
_MIN_A = 2  # mirror of llm.dedup._ALIGN_MIN_ANCHORS


def _hv(seg: str) -> int:
    """Python twin of llm.dedup._span_hash (48-bit sha2-256 prefix)."""
    return int(hashlib.sha256(seg.encode()).hexdigest()[:12], 16)


def _span_align_replay(docs):
    """Python replay of the full q_dedup_span_align pipeline: planted
    shifted corpus -> sliding {_K}-gram anchors (hash mod {_MOD}
    sampled, min-pos per (doc, hash)) -> delta-grouped pair alignment
    -> best alignment per pair -> floor-form span fraction."""
    base = [
        (i, t) for i, t in docs if i is not None and t is not None and t != ""
    ]
    corpus = list(base)
    for i, t in base:
        t2 = " ".join(t.split(" ")[_SHIFT:])
        if t2 != "":
            corpus.append((i + 200000, t2))
    anchors: dict[tuple[int, int], int] = {}
    sizes: dict[int, int] = {}
    for did, t in corpus:
        toks = t.split(" ")
        sizes[did] = len(toks)
        for p in range(max(len(toks) - _K, 0) + 1):
            h = _hv(" ".join(toks[p : p + _K]))
            if h % _MOD == 0:
                k = (did, h)
                if k not in anchors or p < anchors[k]:
                    anchors[k] = p
    byhv = defaultdict(list)
    for (did, h), p in anchors.items():
        byhv[h].append((did, p))
    matches = defaultdict(list)
    for h, lst in byhv.items():
        # _ALIGN_DF_CAP (1000) is inert at test size
        for da, pa in lst:
            for db, pb in lst:
                if da < db:
                    matches[(da, db, pb - pa)].append(pa)
    per_pair = defaultdict(list)
    for (a, b, delta), pos in matches.items():
        if len(pos) >= _MIN_A:
            per_pair[(a, b)].append(
                (len(pos), max(pos) - min(pos), delta)
            )
    want = {}
    for (a, b), aligns in per_pair.items():
        aligns.sort(key=lambda t: (-t[0], -t[1], t[2]))
        n_anchors, width, delta = aligns[0]
        span_tokens = width + _K
        frac = math.floor(span_tokens * 1e6 / sizes[a] + 0.5) / 1e6
        want[(a, b)] = (delta, n_anchors, span_tokens, frac)
    return want


span_corpora = st.lists(
    st.tuples(
        st.booleans(),  # doc_id present?
        st.one_of(
            st.none(),
            st.just(""),
            st.lists(
                st.sampled_from(["a", "b", "c", "d"]),
                min_size=1,
                max_size=20,
            ).map(" ".join),
        ),
    ),
    min_size=0,
    max_size=14,
)


@settings(max_examples=12, deadline=None)
@given(span_corpora)
def test_dedup_span_align_matches_python_replay(spark, docs):
    """The registered span-align query must equal the direct Python
    replay — per surviving pair: best-alignment delta, anchor count,
    token span and floor-form span fraction — on random small-vocab
    corpora whose repetition makes anchor collisions, multi-delta
    alignments and tie-breaks live, with NULL-id/NULL-text/empty-text
    exclusions part of the replayed contract."""
    from spring_and_kafka_spark.llm.dedup import q_dedup_span_align

    rows = [
        (i if has_id else None, text)
        for i, (has_id, text) in enumerate(docs)
    ]
    want = _span_align_replay(
        [(i, t) for i, t in rows if i is not None]
    )
    with staged(spark, documents=_texts(rows)) as d:
        got = {
            (r.a_id, r.b_id): (
                r.delta,
                r.n_anchors,
                r.span_tokens,
                r.span_frac,
            )
            for r in q_dedup_span_align(spark, d).collect()
        }
    assert got == want


def _span_cover_replay(docs):
    """Python replay of q_dedup_span_cover: RAW corpus (no planted
    shift), all surviving (pair, delta) alignments contribute their
    interval to both endpoint docs, per-doc interval-UNION length
    clamped to the token count, floor-form coverage fraction."""
    base = [
        (i, t) for i, t in docs if i is not None and t is not None and t != ""
    ]
    anchors: dict[tuple[int, int], int] = {}
    sizes: dict[int, int] = {}
    for did, t in base:
        toks = t.split(" ")
        sizes[did] = len(toks)
        for p in range(max(len(toks) - _K, 0) + 1):
            h = _hv(" ".join(toks[p : p + _K]))
            if h % _MOD == 0:
                k = (did, h)
                if k not in anchors or p < anchors[k]:
                    anchors[k] = p
    byhv = defaultdict(list)
    for (did, h), p in anchors.items():
        byhv[h].append((did, p))
    matches = defaultdict(list)
    for h, lst in byhv.items():
        for da, pa in lst:
            for db, pb in lst:
                if da < db:
                    matches[(da, db, pb - pa)].append(pa)
    ivs = defaultdict(list)
    for (a, b, delta), pos in matches.items():
        if len(pos) >= _MIN_A:
            s, e = min(pos), max(pos) + _K
            ivs[a].append((s, e))
            ivs[b].append((s + delta, e + delta))
    want = {}
    for doc, spans in ivs.items():
        cov = 0
        cur_s = cur_e = None
        for s, e in sorted(spans):
            if cur_s is None or s > cur_e:
                if cur_s is not None:
                    cov += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_s is not None:
            cov += cur_e - cur_s
        n = sizes[doc]
        covered = min(cov, n)
        want[doc] = (
            len(spans),
            covered,
            n,
            math.floor(covered * 1e6 / n + 0.5) / 1e6,
        )
    return want


@settings(max_examples=12, deadline=None)
@given(span_corpora)
def test_dedup_span_cover_matches_python_replay(spark, docs):
    """The registered span-cover query must equal the direct Python
    replay — per covered doc: contributing span count, interval-union
    covered tokens (clamped), token count and floor-form coverage
    fraction — on the same random small-vocab corpora the span-align
    replay uses (overlapping multi-partner alignments make the union
    semantics live)."""
    from spring_and_kafka_spark.llm.dedup import q_dedup_span_cover

    rows = [
        (i if has_id else None, text)
        for i, (has_id, text) in enumerate(docs)
    ]
    want = _span_cover_replay(
        [(i, t) for i, t in rows if i is not None]
    )
    with staged(spark, documents=_texts(rows)) as d:
        got = {
            r.doc_id: (
                r.n_spans,
                r.covered_tokens,
                r.n_tokens,
                r.cover_frac,
            )
            for r in q_dedup_span_cover(spark, d).collect()
        }
    assert got == want


def test_span_align_finds_shifted_passage_segment_dedup_misses(spark):
    """The planted gap fixture: a 64-token passage shared
    by two documents at offsets 5 and 12 (delta 7, coprime to the
    8-word tumbling segment width). q_dedup_substring must report ZERO
    duplicated segments (the passage never aligns to a segment
    boundary the same way in both docs — precomputed: the tumbling
    segment sets are disjoint), while q_dedup_span_align must find the
    pair at exactly delta = +7 with the full passage span (precomputed
    from the fixed sha2 sampling: 8 shared anchors, anchor width 51,
    span 51 + K = 55 tokens)."""
    from spring_and_kafka_spark.llm.dedup import (
        q_dedup_span_align,
        q_dedup_substring,
    )

    passage = [f"p{i}" for i in range(64)]
    doc_a = [f"a{i}" for i in range(5)] + passage + [f"z{i}" for i in range(7)]
    doc_b = [f"b{i}" for i in range(12)] + passage + [f"y{i}" for i in range(3)]
    rows = [(1, " ".join(doc_a)), (2, " ".join(doc_b))]
    with staged(spark, documents=_texts(rows)) as d:
        # detection half: segment dedup is blind to the shifted copy
        sub = {r.doc_id: r.n_dup for r in q_dedup_substring(spark, d).collect()}
        assert sub == {1: 0, 2: 0}
        got = {
            (r.a_id, r.b_id): (r.delta, r.n_anchors, r.span_tokens)
            for r in q_dedup_span_align(spark, d).collect()
        }
    # the cross-doc alignment: delta = 12 - 5 = +7, 8 sampled anchors,
    # 51 + K = 55 tokens of doc 1 covered
    assert got[(1, 2)] == (7, 8, 55)
    # and the operator's own planted shifted copies land at -SHIFT
    assert got[(1, 200001)][0] == -_SHIFT
    assert got[(2, 200002)][0] == -_SHIFT
    # replay agreement on the whole fixture (ties, secondary pairs)
    want = {
        k: v[:3] for k, v in _span_align_replay(rows).items()
    }
    assert {k: v for k, v in got.items()} == want
    # the excision readout on the RAW pair: 55 of doc 1's 76 tokens
    # ([5, 60)) and 55 of doc 2's 79 ([12, 67)) are span-covered
    from spring_and_kafka_spark.llm.dedup import q_dedup_span_cover

    with staged(spark, documents=_texts(rows)) as d:
        cov = {
            r.doc_id: (r.covered_tokens, r.n_tokens)
            for r in q_dedup_span_cover(spark, d).collect()
        }
    assert cov == {1: (55, 76), 2: (55, 79)}


keep_corpora = st.lists(
    st.one_of(
        st.none(),
        st.just(""),
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e"]),
            min_size=1,
            max_size=12,
        ).map(" ".join),
    ),
    min_size=0,
    max_size=10,
)


@settings(max_examples=8, deadline=None)
@given(keep_corpora)
def test_dedup_keep_best_folds_the_cluster_table(spark, texts):
    """q_dedup_keep_best must equal a direct Python fold of the SAME
    run's cluster table (q_dedup_clusters_lsh) joined with the planted
    corpus's char lengths: per multi-doc component, keep the longest
    text (ties to smallest doc_id) and charge the rest as dropped mass.
    Replaying the fold rather than the cluster machinery isolates the
    NEW selection/aggregation logic; the cluster semantics have their
    own oracle and battery."""
    from spring_and_kafka_spark.llm.dedup import (
        q_dedup_clusters_lsh,
        q_dedup_keep_best,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    with staged(spark, documents=_texts(rows)) as d:
        comp = {
            r.doc_id: r.component
            for r in q_dedup_clusters_lsh(spark, d).collect()
        }
        lens = {}
        for i, t in rows:
            lens[i] = None if t is None else len(t)
            t2 = (
                None
                if t is None
                else __import__("re").sub(r"\s+\S+$", "", t)
            )
            lens[i + 100000] = None if t2 is None else len(t2)
        by_comp = defaultdict(list)
        for doc, c in comp.items():
            by_comp[c].append(doc)
        want = {}
        for c, docs in by_comp.items():
            if len(docs) < 2:
                continue
            keep = min(
                docs, key=lambda i: (-(lens[i] or -1), i)
            )  # longest text, NULLS LAST, ties to smallest id
            total = sum(lens[i] for i in docs)
            want[c] = (
                len(docs),
                keep,
                lens[keep],
                len(docs) - 1,
                total - lens[keep],
            )
        got = {
            r.component: (
                r.n_docs,
                r.kept_doc,
                r.kept_chars,
                r.dropped_docs,
                r.dropped_chars,
            )
            for r in q_dedup_keep_best(spark, d).collect()
        }
    assert got == want


def test_dedup_keep_best_prefers_the_complete_original(spark):
    """Planted fixture: two near-dup originals of different lengths plus
    their machine-planted truncated copies cluster together; the keeper
    must be the LONGEST member (the complete original), every other
    member charged as dropped chars — the keep-the-most-complete
    heuristic a curator acts on."""
    from spring_and_kafka_spark.llm.dedup import q_dedup_keep_best

    # doc 0 and doc 1 share all but the tail -> one cluster of four
    # with the planted copies (0', 1' drop the last token); doc 2 is a
    # singleton family {2, 2'} (still a cluster: copy ~ original)
    t0 = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 extra"
    t1 = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    t2 = "q0 q1 q2 q3 q4 q5 q6 q7"
    with staged(spark, documents=_texts([(0, t0), (1, t1), (2, t2)])) as d:
        got = {
            r.component: (
                r.n_docs,
                r.kept_doc,
                r.kept_chars,
                r.dropped_docs,
                r.dropped_chars,
            )
            for r in q_dedup_keep_best(spark, d).collect()
        }
    # cluster 0: {0, 1, 100000 (=t1), 100001 (drops w9)} — keeper is
    # doc 0 (35 chars); dropped = 29 + 29 + 26 = 84
    # cluster 2: {2, 100002 (drops q7)} — keeper is doc 2 (23 chars)
    assert got == {
        0: (4, 0, 35, 3, 84),
        2: (2, 2, 23, 1, 20),
    }
