"""Semantic unit tests for the dedup operator tiers (SURVEY.md §4 extended).

Parity vs DuckDB is covered by test_parity; these pin the *semantics*
on hand-computable inputs: identical texts collapse, near-identical
texts land within small Hamming/Jaccard distance, unrelated texts
produce no pair.
"""

from __future__ import annotations

from data_engineer_8_final_project_spark.operators import dedup

BASE = "the quick brown fox jumps over the lazy dog " * 5


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_simhash_identical_docs_hamming_zero(spark):
    df = _docs(spark, [(1, BASE), (2, BASE), (3, "completely different words here " * 8)])
    pairs = dedup.simhash_near_dup_pairs(df, max_hamming=3).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in pairs] == [(1, 2, 0)]


def test_simhash_near_identical_small_hamming(spark):
    edited = BASE.replace("lazy", "sleepy")  # 5 of ~45 token occurrences
    df = _docs(spark, [(1, BASE), (2, edited)])
    pairs = dedup.simhash_near_dup_pairs(df, max_hamming=20).collect()
    assert len(pairs) == 1
    # a small edit may flip zero vote signs — only the upper bound is guaranteed
    assert pairs[0].hamming <= 20


def test_simhash_signature_deterministic(spark):
    df = _docs(spark, [(1, BASE), (2, "other text entirely")])
    a = {r.doc_id: r.simhash for r in dedup.simhash_signatures(df).collect()}
    b = {r.doc_id: r.simhash for r in dedup.simhash_signatures(df.repartition(7)).collect()}
    assert a == b
    assert all(0 <= v < (1 << dedup.SIMHASH_BITS) for v in a.values())


def test_exact_dedup_groups(spark):
    df = _docs(spark, [(1, "aaa"), (2, "aaa"), (3, "bbb")])
    got = {
        (r.canonical_doc_id, r.n_copies) for r in dedup.exact_dedup_groups(df).collect()
    }
    assert got == {(1, 2), (3, 1)}


def test_jaccard_identical_docs_score_one(spark):
    df = _docs(spark, [(1, BASE), (2, BASE), (3, "unrelated totally distinct tokens " * 10)])
    pairs = dedup.jaccard_candidate_pairs(df, shingle_n=3, min_shared=2, max_df=100).collect()
    assert [(r.doc_a, r.doc_b) for r in pairs] == [(1, 2)]
    assert pairs[0].jaccard == 1.0


def test_salted_count_distinct_matches_direct(spark):
    """Salted two-level distinct equals the direct distinct count,
    including under a heavily skewed key distribution."""
    from pyspark.sql import functions as F

    from data_engineer_8_final_project_spark.operators.skew import salted_count_distinct

    rows = [("hot", i % 97) for i in range(5000)] + [("cold", i) for i in range(13)]
    df = spark.createDataFrame(rows, "k string, v long")
    got = {
        r.k: r.n_distinct
        for r in salted_count_distinct(df, ["k"], "v", n_salts=8).collect()
    }
    want = {
        r.k: r.n
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    assert got == want == {"hot": 97, "cold": 13}


def test_minhash_lsh_recall_vs_exact_jaccard(spark, sf_dir):
    """Quantitative gate for the one no-oracle query (VERDICT r1 #3).

    Ground truth: exact n-gram Jaccard pairs (uncapped df, min_shared=1)
    on the fixture corpus at similarity >= 0.3 — comfortably inside the
    registered MinHash query's 0.2 cutoff, so HashingTF collisions and
    LSH bucketing are the only possible loss sources. Recall must stay
    >= 0.9; a silent break in the ML pipeline wiring drops it to ~0.
    """
    from data_engineer_8_final_project_spark import catalog

    docs = catalog.tables(spark, sf_dir)["documents"]
    truth = {
        (r.doc_a, r.doc_b)
        for r in dedup.jaccard_candidate_pairs(
            docs, shingle_n=3, min_shared=1, max_df=10**9
        )
        .filter("jaccard >= 0.3")
        .collect()
    }
    assert truth, "fixture corpus must contain near-dup pairs for this gate"
    found = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(docs, max_distance=0.8).collect()
    }
    recall = len(truth & found) / len(truth)
    assert recall >= 0.9, f"MinHash-LSH recall {recall:.3f} < 0.9 ({len(truth)} truth pairs)"


def test_minhash_native_recall_vs_exact_jaccard(spark, sf_dir):
    """Recall gate for the native banded-MinHash tier, same ground
    truth as the ml tier's gate: exact Jaccard pairs at sim >= 0.3.
    24 hashes / 12 bands of 2 → per-band agreement s², miss
    probability (1-s²)¹² ≈ 0.32 at s=0.3 but ~0 for the planted
    near-dup mass well above the cutoff; the fixture-measured recall
    is deterministic, so the bound is stable."""
    from data_engineer_8_final_project_spark import catalog

    docs = catalog.tables(spark, sf_dir)["documents"]
    truth = {
        (r.doc_a, r.doc_b)
        for r in dedup.jaccard_candidate_pairs(
            docs, shingle_n=3, min_shared=1, max_df=10**9
        )
        .filter("jaccard >= 0.3")
        .collect()
    }
    assert truth
    found = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_native_pairs(docs, min_est=0.2).collect()
    }
    recall = len(truth & found) / len(truth)
    assert recall >= 0.9, f"native MinHash recall {recall:.3f} < 0.9 ({len(truth)} truth pairs)"


def test_semantic_dedup_drops_within_cell_near_dups(spark, sf_dir):
    """SemDeDup behavior gate: (a) every dropped vector has an earlier
    same-cell neighbor at cos >= threshold (soundness of the min-id
    greedy), (b) the fixture's planted near-dup mass produces at least
    one drop, (c) kept+dropped partitions the corpus. Exactness of the
    cell assignment and the boundary decisions is the DuckDB oracle's
    job (tests/test_parity.py); this pins the operator's contract."""
    from data_engineer_8_final_project_spark.operators import similarity
    from data_engineer_8_final_project_spark import catalog

    emb = catalog.tables(spark, sf_dir)["embeddings"]
    verdicts = similarity.semantic_dedup_verdicts(emb, n_cells=16, threshold=0.45)
    rows = verdicts.collect()
    assert len(rows) == emb.count(), "one verdict per vector"
    dropped = {r.vec_id for r in rows if not r.is_kept}
    assert dropped, "fixture must contain within-cell near-dups"
    # soundness: each dropped id appears as the larger side of a
    # global exact near-dup pair (within-cell pairs are a subset)
    global_pairs = {
        (r.vec_a, r.vec_b)
        for r in similarity.cosine_near_dup_pairs(emb, threshold=0.45).collect()
    }
    larger_sides = {b for _, b in global_pairs}
    assert dropped <= larger_sides, (
        "a dropped vector must have an earlier near-dup neighbor"
    )


def test_containment_directional_contract(spark, sf_dir):
    """r14: containment is DIRECTED — C(d->c) = shared/|S_d| — so the
    two orientations of one co-shingle pair score independently, the
    shared count is symmetric, and a doc's containment never exceeds 1.
    The short-inside-long asymmetry is the operator's reason to exist:
    the fixture must contain at least one pair whose two directions
    land on opposite sides of the threshold."""
    from data_engineer_8_final_project_spark.operators import dedup
    from data_engineer_8_final_project_spark import catalog

    docs = catalog.tables(spark, sf_dir)["documents"]
    rows = dedup.containment_pairs(docs, threshold=0.0).collect()
    assert rows, "fixture must produce co-shingle pairs"
    by_pair = {(r.doc_id, r.container_id): r for r in rows}
    for r in rows:
        assert 0.0 <= r.containment <= 1.0
        mirror = by_pair[(r.container_id, r.doc_id)]  # both directions emitted
        assert mirror.shared_shingles == r.shared_shingles  # symmetric count
    asym = [
        r for r in rows
        if by_pair[(r.container_id, r.doc_id)].containment > 0
        and r.containment >= 5 * by_pair[(r.container_id, r.doc_id)].containment
    ]
    assert asym, "fixture must contain an asymmetric (quote-like) pair"


def test_mmr_trades_relevance_for_diversity(spark, sf_dir):
    """r14: MMR's contract versus plain top-k — ranks are 1..k, picks
    are distinct, the first pick is the relevance argmax (no diversity
    term yet), and adjusted scores are non-increasing down the ranking
    (greedy argmax over a shrinking candidate set whose per-candidate
    penalty only grows as picks accumulate)."""
    from data_engineer_8_final_project_spark.operators import similarity
    from data_engineer_8_final_project_spark import catalog

    emb = catalog.tables(spark, sf_dir)["embeddings"]
    got = similarity.mmr_topk(emb, query_vec_id=0, k=5).orderBy("mmr_rank").collect()
    assert [r.mmr_rank for r in got] == [1, 2, 3, 4, 5]
    assert len({r.vec_id for r in got}) == 5
    top1 = similarity.brute_force_topk(emb, query_vec_id=0, k=1).collect()[0]
    assert got[0].vec_id == top1.vec_id, "rank 1 must be the relevance argmax"
    scores = [r.score for r in got]
    assert all(a >= b for a, b in zip(scores, scores[1:])), scores


# ---- r15: laws for the production verdict form and the attrition sweep ----


def test_verdict_frame_is_exactly_corpus_sized_and_keeps_min_id(spark):
    """simhash_dedup_verdicts contract: exactly |documents| rows, and an
    exact-duplicate group keeps precisely its min doc_id (hamming 0 ⇒
    all bands equal ⇒ every in-group pair is a verified candidate)."""
    rows = [
        (10, BASE), (11, BASE), (12, BASE),           # group A: keep 10
        (20, "unrelated corpus of words " * 9),        # singleton: keep
        (30, "zeta omega theta lambda " * 12),
        (31, "zeta omega theta lambda " * 12),         # group B: keep 30
    ]
    out = {r.doc_id: r.is_kept for r in dedup.simhash_dedup_verdicts(
        _docs(spark, rows), max_hamming=3).collect()}
    assert len(out) == len(rows)
    assert out == {10: True, 11: False, 12: False, 20: True, 30: True, 31: False}


def test_verdicts_agree_with_pair_form(spark):
    """The verdict form and the diagnostic all-pairs form must tell the
    same story: dropped == distinct doc_b of the verified pair set."""
    rows = [
        (1, BASE), (2, BASE),
        (3, BASE.replace("lazy", "sleepy")),
        (4, "totally disjoint vocabulary " * 10),
    ]
    df = _docs(spark, rows)
    pairs = dedup.simhash_near_dup_pairs(df, max_hamming=12).collect()
    dropped_by_pairs = {r.doc_b for r in pairs}
    verdicts = dedup.simhash_dedup_verdicts(df, max_hamming=12).collect()
    assert {r.doc_id for r in verdicts if not r.is_kept} == dropped_by_pairs


def test_attrition_curve_is_monotone_in_threshold(spark):
    """Raising the Jaccard threshold can only shrink the firing pair set
    and the dropped-document set — the tuning curve a curation engineer
    reads must be non-increasing or it is lying."""
    rows = [
        (1, BASE), (2, BASE),
        (3, BASE.replace("lazy", "sleepy").replace("quick", "swift")),
        (4, BASE.replace("fox jumps", "cat hops").replace("dog", "cow")),
        (5, "entirely different set of shingles " * 8),
    ]
    curve = {
        r.threshold: (r.n_pairs, r.n_docs_dropped)
        for r in dedup.dedup_attrition_curve(
            _docs(spark, rows), thresholds=[0.2, 0.4, 0.6, 0.8]
        ).collect()
    }
    assert curve, "at least the lowest threshold must fire on exact dups"
    ts = sorted(curve)
    for lo, hi in zip(ts, ts[1:]):
        assert curve[hi][0] <= curve[lo][0], "n_pairs must not grow with threshold"
        assert curve[hi][1] <= curve[lo][1], "n_docs_dropped must not grow with threshold"


def test_mmr_pool_exhaustion_returns_partial_ranking(spark):
    """r15 (ADVICE r14 #1): k larger than the candidate pool must return
    the partial ranking (n-1 rows, the query itself excluded), not
    crash on a None head(); a missing query id must raise clearly."""
    import pytest as _pytest

    from data_engineer_8_final_project_spark.operators import similarity

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    got = similarity.mmr_topk(emb, query_vec_id=0, k=10).collect()
    assert len(got) == 2 and {r.vec_id for r in got} == {1, 2}
    assert sorted(r.mmr_rank for r in got) == [1, 2]
    with _pytest.raises(ValueError, match="query_vec_id"):
        similarity.mmr_topk(emb, query_vec_id=99, k=2)
