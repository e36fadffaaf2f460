"""Connected-components dedup clustering + end-to-end near_dedup."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_kafka_2_spark.io import read_table
from bigdata_kafka_2_spark.operators import dedup as DD
from tests.conftest import SF_DIR
from tests.test_extensions import _docs_with_near_dups


def test_dedup_clusters_chain_and_singletons(spark):
    # chain 1-2-3, pair 10-11, singletons 20, 21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 20, 21]], ["doc_id"])
    out = {r.doc_id: r.cluster_rep for r in DD.dedup_clusters(pairs, ids).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 21}


def test_dedup_clusters_single_round_after_edge_unpin(spark):
    # the edge pin is released before the plan is returned, so the
    # labels the plan reads must already be materialized, also when
    # the round budget stops the loop early
    import pytest

    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3]], ["doc_id"])
    out = DD.dedup_clusters(pairs, ids, max_iterations=1).collect()
    assert {r.doc_id: r.cluster_rep for r in out} == {1: 1, 2: 1, 3: 2}
    with pytest.raises(ValueError, match="max_iterations"):
        DD.dedup_clusters(pairs, ids, max_iterations=0)


def test_dedup_clusters_long_chain_converges(spark):
    # a 12-node path graph needs several propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], ["id_a", "id_b"]
    )
    ids = spark.createDataFrame([(i,) for i in range(12)], ["doc_id"])
    out = {r.doc_id: r.cluster_rep for r in DD.dedup_clusters(pairs, ids).collect()}
    assert all(v == 0 for v in out.values())
    assert len(out) == 12


def test_near_dedup_end_to_end(spark):
    docs = _docs_with_near_dups(spark)  # driver docs + 20 synthetic dups
    n_before = docs.count()
    kept = DD.near_dedup(docs, est_threshold=0.5)
    n_after = kept.count()
    # at least the 20 synthetic near-dups' worth of rows removed (the
    # driver docs also contain natural near-dup pairs — removed too)
    assert n_before - n_after >= 16
    # survivors must be EXACTLY the cluster representatives (min id per
    # connected component of the pair graph)
    pairs = DD.minhash_lsh_pairs(docs, verify_threshold=0.5)
    clusters = DD.dedup_clusters(pairs, docs.select("doc_id"))
    reps = {
        r.cluster_rep for r in clusters.select("cluster_rep").distinct().collect()
    }
    survivors = {r.doc_id for r in kept.select("doc_id").collect()}
    assert survivors == reps
    # every synthetic dup (offset id) is gone — its original shares the
    # cluster and has the smaller id
    assert not any(s >= 1_000_000 for s in survivors)


def test_lsh_candidates_superset_of_exact_pairs(spark):
    """Banding recall on the fixture is 1: every exact-Jaccard pair at
    the verify threshold must appear among the raw LSH candidates —
    this is the property that makes q42/q44 oracle-checkable."""
    docs = read_table(spark, SF_DIR, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    cand = {
        (r.id_a, r.id_b)
        for r in DD.minhash_lsh_pairs(docs, verify_threshold=None)
        .select("id_a", "id_b")
        .collect()
    }
    assert exact, "fixture must contain true near-dup pairs"
    assert exact <= cand


def test_verified_pairs_equal_exact_pairs(spark):
    docs = read_table(spark, SF_DIR, "documents")
    exact = {
        (r.id_a, r.id_b, r.jaccard)
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    verified = {
        (r.id_a, r.id_b, r.jaccard)
        for r in DD.minhash_lsh_verified_pairs(docs, jaccard_threshold=0.5).collect()
    }
    assert verified == exact


def test_ngram_jaccard_max_doc_freq_cap_binds(spark):
    # ten docs all sharing one stopword-ish prefix phrase; pairwise
    # distinct tails. The shared shingles are heavy hitters (df=10);
    # capping at df<=5 must drop them, leaving zero candidate pairs.
    rows = [
        (i, f"the quick brown fox tail{i} tok{i}a tok{i}b tok{i}c")
        for i in range(10)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = DD.ngram_jaccard_pairs(docs, threshold=0.01)
    capped = DD.ngram_jaccard_pairs(docs, threshold=0.01, max_doc_freq=5)
    assert uncapped.count() == 45  # all pairs share the hot shingles
    assert capped.count() == 0  # hot shingles dropped before the self-join


def test_max_doc_freq_cap_equal_on_clean_data(spark):
    """On a corpus with NO boilerplate (every shingle df <= cap) the
    capped path must return exactly the uncapped result — the cap only
    ever removes pairs whose entire overlap is above-cap boilerplate.
    Asserted for all three operators carrying the cap (module
    docstring's production-guidance table)."""
    docs = read_table(spark, SF_DIR, "documents")
    uncapped = {
        (r.id_a, r.id_b, r.jaccard)
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    capped = {
        (r.id_a, r.id_b, r.jaccard)
        for r in DD.ngram_jaccard_pairs(
            docs, threshold=0.3, max_doc_freq=1000
        ).collect()
    }
    assert capped == uncapped

    w_un = {
        (r.id_a, r.id_b, r.wjaccard)
        for r in DD.weighted_jaccard_pairs(docs, threshold=0.3).collect()
    }
    w_cap = {
        (r.id_a, r.id_b, r.wjaccard)
        for r in DD.weighted_jaccard_pairs(
            docs, threshold=0.3, max_doc_freq=1000
        ).collect()
    }
    assert w_cap == w_un

    half = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    i_un = {
        r.doc_id
        for r in DD.incremental_near_dedup(
            half, delta, k=3, threshold=0.3
        ).collect()
    }
    i_cap = {
        r.doc_id
        for r in DD.incremental_near_dedup(
            half, delta, k=3, threshold=0.3, max_doc_freq=1000
        ).collect()
    }
    assert i_cap == i_un
