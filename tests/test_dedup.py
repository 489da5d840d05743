"""Dedup operator tests: planted near-duplicates must be recovered
(SURVEY.md §7 hard parts: LSH is probabilistic → fixed seeds + planted
positives)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spring_and_kafka_spark.llm.dedup import (
    q_dedup_embed,
    q_dedup_near,
    q_dedup_ngram,
    q_dedup_simhash,
)

from .conftest import SF_CORRECT, SF_SMOKE


def planted_pairs(rows, a="a_id", b="b_id"):
    """Pairs linking doc X to its perturbed copy X+100000."""
    return {(r[a], r[b]) for r in rows if r[b] == r[a] + 100000}


def test_ngram_truth_finds_planted(spark):
    rows = q_dedup_ngram(spark, SF_SMOKE).collect()
    planted = planted_pairs(rows)
    # every perturbed doc differs by one trailing token → jaccard near 1
    assert len(planted) >= 450  # ≥90% of 500 docs
    for r in rows:
        assert 0.6 <= r["jaccard"] <= 1.0


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_CORRECT])
def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    # q_dedup_near's oracle argument: its LSH-candidates + exact-verify
    # pair set must EQUAL the exact truth (16×2 banding recall 1.0), and
    # the minhash estimate must sit within the claimed ±0.25 of exact.
    #
    # LOCKSTEP CONTRACT (ADVICE r2 #2): these recall/est bounds are
    # empirical FIXTURE properties, not guarantees — the q_dedup_near /
    # q_dedup_clusters_lsh / q_dedup_survivors / q_pipeline_curate oracles
    # assume them as constants. This test therefore pins EVERY sf the
    # driver's correctness gate can run (SF_SMOKE, SF_CORRECT); bench-only
    # sf0.1 is swept by tools/selfcheck.py per round. Regenerated fixtures
    # or a changed hash realization MUST re-pass this before any
    # constant-true oracle is trusted.
    truth = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in q_dedup_ngram(spark, sf_dir).collect()
    }
    rows = q_dedup_near(spark, sf_dir).collect()
    lsh = {(r["a_id"], r["b_id"], r["jaccard"]) for r in rows}
    assert lsh == truth
    assert all(r["est_ok"] for r in rows)
    assert len(planted_pairs(rows)) >= 450


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_CORRECT])
def test_lsh_bucket_cap_inert_on_driver_fixtures(spark, sf_dir):
    # every LSH-family oracle assumes banding recall 1.0, which holds only
    # while the frequent-bucket cap never fires — assert that with the
    # stats counter instead of hoping (ADVICE r2 #4)
    from spring_and_kafka_spark.llm.dedup import (
        lsh_verified_pairs,
        planted_corpus,
    )

    stats: dict = {}
    lsh_verified_pairs(planted_corpus(spark, sf_dir), stats=stats).count()
    assert stats["hot_buckets"] == 0
    assert stats["docs_in_hot_buckets"] == 0


def test_minhash_signature_estimates_jaccard(spark):
    # regression for the degenerate-permutation bug: an affine rehash of a
    # single base hash made all 32 positions agree or disagree together.
    # Proper per-seed permutations must show GRADED agreement ≈ Jaccard.
    from spring_and_kafka_spark.llm.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [(1, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11"),
         (2, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 x")],
        "doc_id LONG, text STRING",
    )
    from spring_and_kafka_spark.llm.dedup import shingles

    sig = {r["doc_id"]: r["mh"] for r in minhash_signatures(shingles(docs, 3)).collect()}
    agree = sum(1 for x, y in zip(sig[1], sig[2]) if x == y)
    # each doc has 10 shingles, 9 shared ('w8 w9 w10' is common to both) →
    # exact J = 9/11 ≈ 0.82, E[agree] ≈ 26/32, σ ≈ 2.2; agreement must be
    # graded — neither all-or-nothing extreme
    assert 15 <= agree <= 31, f"agreement {agree}/32 not graded"


def test_ngram_df_cap_drops_hot_shingles_keeps_planted(spark):
    # a shingle present in MANY docs must not generate pairs by itself;
    # a genuinely duplicated doc pair must still be found via rare shingles
    from spring_and_kafka_spark.llm.dedup import ngram_jaccard_pairs

    hot = "h0 h1 h2"  # one hot shingle shared by every filler doc
    fillers = [(i, f"f{i}a f{i}b {hot} f{i}c f{i}d") for i in range(20)]
    dup_a = (100, "d0 d1 d2 d3 d4 d5 d6 d7")
    dup_b = (101, "d0 d1 d2 d3 d4 d5 d6 d7 d8")
    corpus = spark.createDataFrame(fillers + [dup_a, dup_b], "doc_id LONG, text STRING")
    pairs = ngram_jaccard_pairs(corpus, n=3, threshold=0.5, df_cap=3).collect()
    got = {(r["a_id"], r["b_id"]) for r in pairs}
    assert (100, 101) in got  # planted pair survives the cap
    # fillers share ONLY the hot shingle, which the cap excludes → no pair
    assert all(a == 100 and b == 101 for a, b in got)


def test_lsh_bucket_cap_guards_hot_buckets(spark):
    from spring_and_kafka_spark.llm.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    # identical docs → identical signatures → one bucket holding all docs
    docs = spark.createDataFrame(
        [(i, "s0 s1 s2 s3 s4 s5") for i in range(10)], "doc_id LONG, text STRING"
    )
    sig = minhash_signatures(shingles(docs, 3))
    uncapped = lsh_candidate_pairs(sig, 8, 4).count()
    capped = lsh_candidate_pairs(sig, 8, 4, bucket_cap=5).count()
    assert uncapped == 45  # all C(10,2) pairs collide
    assert capped == 0  # every bucket is hot → dropped


def test_simhash_finds_planted(spark):
    rows = q_dedup_simhash(spark, SF_SMOKE).collect()
    planted = planted_pairs(rows)
    assert len(planted) >= 300  # simhash is the coarsest sketch
    for r in rows:
        assert r["hamming"] <= 3


def test_clusters_unite_planted_pairs(spark):
    from spring_and_kafka_spark.llm.dedup import q_dedup_clusters

    comp = {
        r["doc_id"]: r["component"]
        for r in q_dedup_clusters(spark, SF_SMOKE).collect()
    }
    assert len(comp) == 1000  # every corpus doc labeled
    for orig in range(500):
        copy = orig + 100000
        # each planted copy is in the same component as its original,
        # and the representative is never the copy itself
        assert comp[copy] == comp[orig]
        assert comp[copy] <= orig
    # components are canonical: every representative labels itself
    for doc, c in comp.items():
        assert comp[c] == c


def test_embed_neardup_exactly_planted(spark):
    rows = q_dedup_embed(spark, SF_SMOKE).collect()
    pairs = {(r["a_id"], r["b_id"]) for r in rows}
    # scaled copies are cos≈1; fixture max non-planted cos is ~0.51 →
    # the result must be exactly the 500 planted pairs
    assert pairs == {(i, i + 100000) for i in range(500)}
    assert all(r["cos_sim"] >= 0.999 for r in rows)


def test_clusters_lsh_equals_exact_clusters(spark):
    from spring_and_kafka_spark.llm.dedup import (
        q_dedup_clusters,
        q_dedup_clusters_lsh,
    )

    exact = {
        (r["doc_id"], r["component"])
        for r in q_dedup_clusters(spark, SF_SMOKE).collect()
    }
    lsh = {
        (r["doc_id"], r["component"])
        for r in q_dedup_clusters_lsh(spark, SF_SMOKE).collect()
    }
    # the scale path must reproduce the ground-truth clustering exactly
    # (recall-1.0 banding + exact verify)
    assert lsh == exact


def test_lsh_verified_pairs_match_exact_pairs(spark):
    from spring_and_kafka_spark.llm.dedup import (
        lsh_verified_pairs,
        planted_corpus,
        q_dedup_ngram,
    )

    exact = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in q_dedup_ngram(spark, SF_SMOKE).collect()
    }
    lsh = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in lsh_verified_pairs(planted_corpus(spark, SF_SMOKE)).collect()
    }
    assert lsh == exact  # pairs AND exact-Jaccard values agree


def test_survivors_are_original_cluster_representatives(spark):
    from spring_and_kafka_spark.llm.dedup import q_dedup_clusters_lsh
    from spring_and_kafka_spark.llm.corpus_ops import q_dedup_survivors

    rows = q_dedup_survivors(spark, SF_SMOKE).collect()
    ids = {r["doc_id"] for r in rows}
    assert all(r["is_original"] for r in rows)  # no perturbed copy survives
    comp = {
        r["doc_id"]: r["component"]
        for r in q_dedup_clusters_lsh(spark, SF_SMOKE).collect()
    }
    assert ids == {d for d, c in comp.items() if d == c}
    assert len(ids) == len(set(comp.values()))  # exactly one per cluster


def test_connected_components_deep_path_and_star(spark):
    """A path graph of diameter 7 needs many propagation rounds — the
    driver-side convergence check must keep iterating until labels stop
    dropping. Also pins a graph that converges immediately (star,
    diameter 2) and that a too-small max_iter fails LOUDLY instead of
    returning mid-propagation labels."""
    import pytest

    from spring_and_kafka_spark.llm.dedup import connected_components

    # path 0-1-2-...-7 plus isolated node 99
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "a long, b long"
    )
    nodes = spark.range(8).withColumnRenamed("id", "node").unionByName(
        spark.createDataFrame([(99,)], "node long")
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(nodes, edges).collect()
    }
    assert comp == {**{i: 0 for i in range(8)}, 99: 99}

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, edges, max_iter=2)

    # star centered at 5: converges in one round + confirm
    star_edges = spark.createDataFrame(
        [(5, 20), (5, 21), (5, 22)], "a long, b long"
    )
    star_nodes = spark.createDataFrame(
        [(5,), (20,), (21,), (22,)], "node long"
    )
    comp2 = {
        r["node"]: r["component"]
        for r in connected_components(star_nodes, star_edges).collect()
    }
    assert comp2 == {5: 5, 20: 5, 21: 5, 22: 5}


def test_minhash_est_df_cap_is_live_code(spark, tmp_path, monkeypatch):
    """Counterfactual cap-fires pin (the q_graph_jaccard r14 pattern):
    the calibration op's df-cap twin is structurally idle at the
    default sample size, so prove the guard is LIVE code by lowering
    the cap — a shingle shared by 3 docs must be dropped from pair
    generation, and docs sharing ONLY that shingle must produce no
    pair. Spark-side value check only: the oracle SQL freezes its cap
    at import, so no parity is asserted under the monkeypatch."""
    from spring_and_kafka_spark.llm import dedup

    d = tmp_path / "capfire"
    d.mkdir()
    # both docs contain the shared hot trigram 'aa bb cc' and nothing
    # else in common
    rows = [
        (0, "aa bb cc xx yy zz", "en", "s", 17),
        (1, "aa bb cc pp qq rr", "en", "s", 17),
        (2, "aa bb cc mm nn oo", "en", "s", 17),
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    # default cap: the hot trigram survives (df 3 <= 5000) -> pairs
    assert dedup.q_dedup_minhash_est(spark, str(d)).count() > 0
    # lowered cap: df 3 > 2 -> 'aa bb cc' (and only it — every other
    # trigram overlaps the hot span in at most 2 docs... drop all
    # shingles with df > 2, which is exactly the shared ones) -> the
    # docs no longer co-shingle -> no pair rows
    monkeypatch.setattr(dedup, "_SHINGLE_DF_CAP", 2)
    assert dedup.q_dedup_minhash_est(spark, str(d)).count() == 0


def test_substring_planted_repeated_passages(spark, tmp_path):
    """q_dedup_substring planted-fixture pin: docs sharing a 16-word
    passage aligned at segment boundaries must report exactly the
    planted segment counts, char fractions and island lengths —
    including the split-island case (two shared segments separated by
    a unique one -> longest_run 1, not 2) and the clean doc (all
    zeros)."""
    from spring_and_kafka_spark.llm.dedup import q_dedup_substring

    w = lambda p, n: " ".join(f"{p}{i:02d}" for i in range(n))  # noqa: E731
    shared = w("s", 16)  # two full 8-word segments
    rows = [
        (0, shared + " " + w("u", 8), "en", "s", 0),
        (1, shared + " " + w("v", 16), "en", "s", 0),
        (2, w("x", 24), "en", "s", 0),
        (3, w("p", 8) + " " + w("q", 8) + " " + w("pp", 8), "en", "s", 0),
        (4, w("p", 8) + " " + w("r", 8) + " " + w("pp", 8), "en", "s", 0),
    ]
    d = tmp_path / "planted"
    d.mkdir()
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    got = {
        r["doc_id"]: r for r in q_dedup_substring(spark, str(d)).collect()
    }
    assert len(got) == 5
    # doc 0: 3 segments, the 2 shared ones adjacent -> run of 2; each
    # 8x3-char-word segment is 31 chars -> 62/93 floor-form micros
    assert (got[0]["n_segments"], got[0]["n_dup"]) == (3, 2)
    assert got[0]["longest_run"] == 2
    assert got[0]["dup_char_frac"] == 0.666667
    # doc 1: same 2 dup segments over 4 -> half the chars... each of
    # its segments is 31 chars (3-char words throughout)
    assert (got[1]["n_segments"], got[1]["n_dup"]) == (4, 2)
    assert got[1]["longest_run"] == 2
    assert got[1]["dup_char_frac"] == 0.5
    # doc 2: clean
    assert (got[2]["n_dup"], got[2]["longest_run"]) == (0, 0)
    assert got[2]["dup_char_frac"] == 0.0
    # docs 3/4: two shared segments SPLIT by a unique middle one ->
    # two islands of 1, never a run of 2 (pp-words are 4 chars: the
    # middle segment differs, so islands are [0] and [2])
    for k in (3, 4):
        assert (got[k]["n_segments"], got[k]["n_dup"]) == (3, 2)
        assert got[k]["longest_run"] == 1


def _multiset(rows, cols):
    from tools.selfcheck import normalize

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(normalize(r[i]) for i in order) for r in rows), key=str
    )


def test_hot_keys_cap_boundary(spark):
    """A key holding exactly `cap` rows is not hot (the anti-join keeps
    its rows); one holding cap + 1 is hot and reports its row count —
    for a single long key and for the composite (band, bucket) key."""
    from spring_and_kafka_spark.llm.dedup import hot_keys

    cap = 3
    df = spark.createDataFrame(
        [(7,)] * cap + [(8,)] * (cap + 1), "s64 long"
    )
    hot = hot_keys(df, ["s64"], cap)
    assert [tuple(r) for r in hot.collect()] == [(8, cap + 1)]
    kept = df.join(hot, "s64", "left_anti")
    assert [r["s64"] for r in kept.collect()] == [7] * cap

    bb = spark.createDataFrame(
        [(0, 7)] * cap + [(0, 8)] * (cap + 1) + [(1, 7)] * (cap + 1),
        "band int, bucket long",
    )
    hot = hot_keys(bb, ["band", "bucket"], cap)
    assert sorted(tuple(r) for r in hot.collect()) == [
        (0, 8, cap + 1),
        (1, 7, cap + 1),
    ]
    kept = bb.join(hot, ["band", "bucket"], "left_anti")
    assert sorted(tuple(r) for r in kept.collect()) == [(0, 7)] * cap


def test_band_bucket_rows_match_cool_set_join(spark):
    """_band_bucket_rows' anti-join against the hot set keeps the same
    rows and reports the same stats as the former inner join against
    the broadcast cool set, rebuilt here as the reference."""
    from spring_and_kafka_spark.llm.dedup import (
        _band_bucket_rows,
        _band_structs,
        minhash_signatures,
        shingles,
    )

    bands, rpb, cap = 8, 4, 5
    # six identical docs share every bucket (hot); the rest are distinct
    same = [(i, "s0 s1 s2 s3 s4 s5") for i in range(6)]
    distinct = [
        (100 + i, " ".join(f"w{i}_{k}" for k in range(8))) for i in range(30)
    ]
    docs = spark.createDataFrame(same + distinct, "doc_id LONG, text STRING")
    sig = minhash_signatures(shingles(docs, 3))

    buckets = sig.select(
        "doc_id", F.explode(_band_structs(bands, rpb)).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")
    counts = buckets.groupBy("band", "bucket").agg(F.count("*").alias("n"))
    cool = counts.filter(F.col("n") <= cap).select("band", "bucket")
    hot = counts.filter(F.col("n") > cap).agg(
        F.count("*").alias("k"), F.sum("n").alias("d")
    ).first()
    ref = buckets.join(F.broadcast(cool), ["band", "bucket"])

    stats: dict = {}
    got = _band_bucket_rows(sig, bands, rpb, bucket_cap=cap, stats=stats)
    assert got.columns == ref.columns
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, ref.collect())
    )
    assert stats == {
        "hot_buckets": int(hot["k"]),
        "docs_in_hot_buckets": int(hot["d"]),
    }
    assert stats == {"hot_buckets": bands, "docs_in_hot_buckets": 6 * bands}


def test_shingle_overlap_matches_its_ov_twin(spark, duck):
    from spring_and_kafka_spark.llm.dedup import (
        _OV_SQL,
        _PLANTED_CORPUS_SQL,
        _SHINGLE_DF_CAP,
        planted_corpus,
        shingle_ctes_sql,
        shingle_overlap,
    )

    df = shingle_overlap(planted_corpus(spark, SF_SMOKE), 3, _SHINGLE_DF_CAP)
    res = duck.execute(
        f"WITH {_PLANTED_CORPUS_SQL}, {shingle_ctes_sql()}, {_OV_SQL} "
        "SELECT a_id, b_id, c, na, nb FROM ov"
    )
    orows, ocols = res.fetchall(), [d[0] for d in res.description]
    srows = df.collect()
    assert df.columns == ocols == ["a_id", "b_id", "c", "na", "nb"]
    assert srows and len(srows) == len(orows)
    assert _multiset(srows, df.columns) == _multiset(orows, ocols)


def test_containment_matches_its_oracle(spark, duck):
    """Containment reads both directions off the one a < b overlap; its
    oracle joins a.doc_id <> b.doc_id on its own, so this pins the
    derivation (the registered-oracle battery is in the slow set)."""
    from spring_and_kafka_spark import registry

    spec = registry.all_specs()["q_dedup_containment"]
    df = spec.fn(spark, SF_SMOKE)
    res = duck.execute(spec.oracle)
    orows, ocols = res.fetchall(), [d[0] for d in res.description]
    srows = df.collect()
    assert sorted(df.columns) == sorted(ocols)
    assert srows and len(srows) == len(orows)
    # both directions present: the planted copy is contained in its
    # original, and the original nearly in its copy
    assert any(r["a_id"] > r["b_id"] for r in srows)
    assert _multiset(srows, df.columns) == _multiset(orows, ocols)
