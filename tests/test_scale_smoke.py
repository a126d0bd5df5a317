"""Regression guard for the scale-headroom invariant behind
tools/scale_smoke.py: inflating the corpus with DISJOINT copies
(every word copy-tagged) must scale every dedup output by EXACTLY K —
the property that makes the K=10 wall-time measurements in SCALE.md
meaningful. Runs at sf0.001 with K=3 so it is test-suite cheap."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from tools.scale_smoke import inflate_documents  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
K = 3


def test_disjoint_inflation_scales_dedup_outputs_exactly_k_times(spark):
    from dug_data_ingest_spark.ext.dedup import (
        duplicate_clusters,
        exact_dedup_groups,
        ngram_jaccard_pairs,
    )

    base = inflate_documents(spark, SF_DIR, 1, "disjoint").localCheckpoint()
    big = inflate_documents(spark, SF_DIR, K, "disjoint").localCheckpoint()

    n1 = base.count()
    assert big.count() == K * n1

    # exact dedup groups: every copy re-creates the same group
    # structure under its own tag, so group count scales exactly K
    assert exact_dedup_groups(big).count() == K * exact_dedup_groups(base).count()

    pairs1 = ngram_jaccard_pairs(base, threshold=0.8)
    pairsK = ngram_jaccard_pairs(big, threshold=0.8)
    assert pairsK.count() == K * pairs1.count()

    # and the components: same clusters, K tagged instances of each
    comp1 = duplicate_clusters(pairs1).count()
    assert duplicate_clusters(pairsK).count() == K * comp1


def test_clique_inflation_creates_cross_copy_duplicates(spark):
    # the other mode's defining property: prefix-only copies of a doc
    # remain mutual near-duplicates, so every doc gains at least the
    # C(K,2) within-clique pairs — the mirrored-crawl stress is real,
    # not an artifact of the measurement
    from dug_data_ingest_spark.ext.dedup import ngram_jaccard_pairs

    base = inflate_documents(spark, SF_DIR, 1, "clique").localCheckpoint()
    big = inflate_documents(spark, SF_DIR, K, "clique").localCheckpoint()
    n_docs = base.count()
    base_pairs = ngram_jaccard_pairs(base, threshold=0.8).count()
    big_pairs = ngram_jaccard_pairs(big, threshold=0.8).count()
    # every original doc long enough to shingle forms a K-clique;
    # allow the short-doc tail to contribute nothing
    assert big_pairs > K * base_pairs
    assert big_pairs >= (K * (K - 1) // 2) * (n_docs // 2)


def test_prefix_jaccard_tracks_base_under_both_inflations(spark):
    # the smoke's prefix-jaccard row measures a path whose OUTPUT must
    # equal the shared-shingle join's under both inflation modes —
    # disjoint (copies share nothing, pairs scale exactly K) and
    # clique (cross-copy near-dups, quadratic true output); if the
    # prefix generator ever went lossy under inflation the wall-time
    # comparison in SCALE.md would be comparing different queries.
    from dug_data_ingest_spark.ext.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    for mode in ("disjoint", "clique"):
        big = inflate_documents(spark, SF_DIR, K, mode).localCheckpoint()
        want = {
            (r.a, r.b, r.jaccard)
            for r in ngram_jaccard_pairs(big, threshold=0.8).collect()
        }
        got = {
            (r.a, r.b, r.jaccard)
            for r in ngram_jaccard_pairs_prefix(big, threshold=0.8).collect()
        }
        assert got == want, mode


def test_stratified_output_is_strata_bounded_under_inflation(spark):
    # k-per-stratum output is bounded by |strata| x k whatever the
    # corpus volume: disjoint inflation grows every stratum K-fold but
    # the kept count per stratum stays min(k, stratum size) — the
    # gauge that the refinement's output (and so its rank window
    # input) does not scale with the corpus.
    import pyspark.sql.functions as F

    from dug_data_ingest_spark.ext.curation import stratified_exact_k

    base = inflate_documents(spark, SF_DIR, 1, "disjoint").localCheckpoint()
    big = inflate_documents(spark, SF_DIR, K, "disjoint").localCheckpoint()

    def expected(df, k=5):
        per = df.groupBy("lang").agg(F.count("*").alias("n")).collect()
        return sum(min(k, r["n"]) for r in per)

    assert stratified_exact_k(base, k=5).count() == expected(base)
    assert stratified_exact_k(big, k=5).count() == expected(big)
