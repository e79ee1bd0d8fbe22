"""ANN quality bounds: the sub-quadratic paths must actually find what
brute force finds (the property that matters and that no row-hash shows)."""

from __future__ import annotations

from wordcount_spark.operators.queries_similarity import (
    similarity_ivf_topk,
    similarity_topk_bruteforce,
)


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    exact = [r["vec_id"] for r in similarity_topk_bruteforce(spark, sf_dir).collect()]
    ivf = [r["vec_id"] for r in similarity_ivf_topk(spark, sf_dir).collect()]
    # nProbe=2 of k=8 cells: require ≥ 40% top-10 recall on the synthetic
    # clusters (labels are well-separated, so in practice this is higher;
    # the bound guards regressions, not absolute quality)
    overlap = len(set(exact) & set(ivf))
    assert overlap >= 4, f"IVF recall too low: {overlap}/10 ({ivf} vs {exact})"


def test_lsh_candidates_cover_high_jaccard_pairs(spark, sf_dir):
    """MinHash LSH (8 bands × 4 rows) must surface every pair the exact
    jaccard op scores ≥ 0.7 (collision prob at J=0.7: 1-(1-0.7^4)^8 ≈ 0.90;
    on the test corpus near-dup pairs are far above the S-curve knee)."""
    from wordcount_spark.operators.queries_dedup import (
        dedup_minhash_lsh,
        dedup_ngram_jaccard,
    )

    strong = {
        (r["ida"], r["idb"])
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
        if r["jaccard"] >= 0.7
    }
    cands = {
        (r["ida"], r["idb"]) for r in dedup_minhash_lsh(spark, sf_dir).collect()
    }
    missed = strong - cands
    assert not missed, f"LSH missed high-similarity pairs: {sorted(missed)[:5]}"


def test_pq_recall_vs_bruteforce(spark, sf_dir):
    """PQ (m=8, k=16) ADC top-50 candidates + exact re-rank must recover
    most of the exact top-10 — the candidate set is 25x the final k, so
    quantization error has to be severe to push a true neighbor out."""
    from wordcount_spark.operators.queries_similarity import similarity_pq_topk

    exact = [r["vec_id"] for r in similarity_topk_bruteforce(spark, sf_dir).collect()]
    pq = [r["vec_id"] for r in similarity_pq_topk(spark, sf_dir).collect()]
    overlap = len(set(exact) & set(pq))
    assert overlap >= 6, f"PQ recall too low: {overlap}/10 ({pq} vs {exact})"


def test_pca_variance_ratios_sane(spark, sf_dir):
    """PCA audit: ratios strictly descending-or-equal, in (0, 1], summing
    to ≤ 1; the synthetic label clusters concentrate variance, so the top
    component must dominate the 64-dim average (> 1/64)."""
    from wordcount_spark.operators.queries_similarity import embedding_pca_variance

    rows = embedding_pca_variance(spark, sf_dir).collect()
    ratios = [r["explained_variance_ratio"] for r in rows]
    assert len(ratios) == 8
    assert all(0 < r <= 1 for r in ratios)
    assert all(a >= b - 1e-12 for a, b in zip(ratios, ratios[1:]))
    assert sum(ratios) <= 1 + 1e-9
    assert ratios[0] > 1 / 64
