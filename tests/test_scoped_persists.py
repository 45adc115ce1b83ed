"""Scoped-persist lifetime: every dedup/ANN operator that persists a
per-call intermediate must register it so release() evicts the cached
blocks once the result is consumed — zero leaked cached RDDs afterwards
(r14 verdict #4 / ADVICE)."""

import pytest

from pyspark.sql import functions as F

from accumulo_wikisearch_spark.operators import _scoped, dedup, similarity


def _cached_rdd_ids(spark) -> set:
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


OPS = [
    ("ngram_jaccard", lambda d, e: dedup.ngram_jaccard_pairs(d)),
    ("minhash_lsh", lambda d, e: dedup.minhash_lsh_pairs(d)),
    ("simhash_pairs", lambda d, e: dedup.simhash_pairs(d)),
    ("embedding_banded", lambda d, e: dedup.embedding_near_dup_pairs(e)),
    ("duplicated_spans", lambda d, e: dedup.duplicated_spans(d)),
    ("remove_spans", lambda d, e: dedup.remove_duplicated_spans(d)),
    (
        "connected_components",
        lambda d, e: dedup.connected_components(
            d.sparkSession.createDataFrame(
                [(1, 2), (2, 3), (7, 8)], "a_id long, b_id long"
            )
        ),
    ),
    ("semdedup_keep", lambda d, e: similarity.semdedup_keep(e)),
    (
        "topk_pq_adc",
        lambda d, e: similarity.topk_pq_adc(e, similarity.self_queries(e)),
    ),
    (
        "topk_ivf_pq",
        lambda d, e: similarity.topk_ivf_pq(e, similarity.self_queries(e)),
    ),
    ("topk_pq_adc_trained", lambda d, e: similarity.topk_pq_adc_trained(e)),
    ("topk_ivf_pq_trained", lambda d, e: similarity.topk_ivf_pq_trained(e)),
    ("topk_ivf_trained", lambda d, e: similarity.topk_ivf_trained(e)),
    ("topk_ivf_lloyd_exact", lambda d, e: similarity.topk_ivf_lloyd_exact(e)),
]


@pytest.mark.parametrize("name,op", OPS, ids=[n for n, _ in OPS])
def test_release_evicts_scoped_caches(spark, docs, emb, name, op):
    before = _cached_rdd_ids(spark)
    result = op(docs, emb)
    result.count()
    assert _scoped.release(result) > 0, f"{name} registered no scoped caches"
    leaked = _cached_rdd_ids(spark) - before
    assert not leaked, f"{name} leaked cached RDDs: {leaked}"


def test_release_all_sweeps_everything(spark, docs):
    before = _cached_rdd_ids(spark)
    r1 = dedup.minhash_lsh_pairs(docs)
    r2 = dedup.simhash_pairs(docs)
    r1.count()
    r2.count()
    assert _scoped.release_all() > 0
    assert not (_cached_rdd_ids(spark) - before)
    # releasing again is a no-op, not an error
    assert _scoped.release(r1) == 0


def test_release_unknown_result_is_noop(spark, docs):
    assert _scoped.release(docs) == 0


def test_release_leaves_an_entry_filed_under_a_reused_id(spark, docs):
    """release() checks the registered referent BEFORE removing the entry:
    an entry under a reused id() belongs to another, live result, and
    dropping it would leak that result's caches for good."""
    live = dedup.minhash_lsh_pairs(docs)
    other = docs.select("*")  # never registered
    entry = _scoped._REGISTRY.pop(id(live))
    _scoped._REGISTRY[id(other)] = entry  # forge the id collision
    try:
        assert _scoped.release(other) == 0
        assert _scoped._REGISTRY.get(id(other)) is entry
    finally:
        _scoped._REGISTRY.pop(id(other), None)
        _scoped._REGISTRY[id(live)] = entry
    assert _scoped.release(live) > 0
