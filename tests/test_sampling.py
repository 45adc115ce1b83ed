"""Unit tests for deterministic hash sampling/splitting."""

import pytest
from pyspark.sql import functions as F

from accumulo_wikisearch_spark.operators.sampling import (
    hash_split,
    stratified_sample,
)


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(0, 2000).select(
        F.col("id").alias("key"),
        F.when(F.col("id") % 3 == 0, "en").otherwise("de").alias("lang"),
    )


def test_split_deterministic_and_total(ids):
    a = hash_split(ids, "key", {"train": 90, "val": 5, "test": 5})
    b = hash_split(ids, "key", {"train": 90, "val": 5, "test": 5})
    assert a.collect() == b.collect()
    counts = {r["split"]: r["n"] for r in a.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000  # every row assigned exactly once
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # roughly proportional (hash-uniform): train within ±5pp of 90%
    assert abs(counts["train"] / 2000 - 0.90) < 0.05


def test_split_rejects_bad_weights(ids):
    with pytest.raises(ValueError):
        hash_split(ids, "key", {"train": 50, "val": 10})


def test_split_stable_under_repartition(ids):
    base = {r["key"]: r["split"] for r in hash_split(ids, "key", {"a": 50, "b": 50}).collect()}
    shuffled = {
        r["key"]: r["split"]
        for r in hash_split(ids.repartition(7), "key", {"a": 50, "b": 50}).collect()
    }
    assert base == shuffled  # membership is a pure function of the key


def test_stratified_fractions(ids):
    out = stratified_sample(ids, "key", "lang", {"en": 60, "de": 10})
    n_en_all = ids.where(F.col("lang") == "en").count()
    n_de_all = ids.where(F.col("lang") == "de").count()
    n_en = out.where(F.col("lang") == "en").count()
    n_de = out.where(F.col("lang") == "de").count()
    assert abs(n_en / n_en_all - 0.60) < 0.08
    assert abs(n_de / n_de_all - 0.10) < 0.08


def test_stratified_default_pct_zero_drops_unlisted(ids):
    out = stratified_sample(ids, "key", "lang", {"en": 100}, default_pct=0)
    assert out.where(F.col("lang") == "de").count() == 0
    assert out.where(F.col("lang") == "en").count() == ids.where(F.col("lang") == "en").count()


def test_salt_changes_membership(ids):
    a = {r["key"] for r in stratified_sample(ids, "key", "lang", {"en": 50, "de": 50}, salt="s1").collect()}
    b = {r["key"] for r in stratified_sample(ids, "key", "lang", {"en": 50, "de": 50}, salt="s2").collect()}
    assert a != b  # different salts draw different (deterministic) samples


def test_write_training_shards_deterministic_manifest(spark, sf_dir, tmp_path):
    from accumulo_wikisearch_spark.operators.sampling import write_training_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    m1 = write_training_shards(docs, str(tmp_path / "a"), n_shards=4)
    m2 = write_training_shards(docs, str(tmp_path / "b"), n_shards=4)
    assert m1 == m2  # membership independent of run/order
    assert sum(s["n_docs"] for s in m1) == docs.count()
    assert {s["shard"] for s in m1} <= set(range(4))
    back = spark.read.parquet(str(tmp_path / "a"))
    assert back.select("doc_id").distinct().count() == docs.count()
    import json
    man = json.loads(open(tmp_path / "a" / "_MANIFEST.json").read())
    assert man == m1


def test_global_shuffle_is_permutation_and_stable(spark):
    from accumulo_wikisearch_spark.operators.sampling import global_shuffle

    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    out = global_shuffle(docs, n_shards=4).collect()
    assert len(out) == 200
    # every row addressed exactly once; pos is 1..count(shard) per shard
    assert len({(r["shard"], r["pos"]) for r in out}) == 200
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # permutation is a pure function of the key: re-running (and reordering
    # the input) yields the identical addressing
    docs_rev = spark.createDataFrame([(i,) for i in reversed(range(200))], "doc_id long")
    again = global_shuffle(docs_rev, n_shards=4).collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in out}
    # and it is NOT the identity order (it actually shuffles)
    shard0 = sorted((r["pos"], r["doc_id"]) for r in out if r["shard"] == 0)
    ids_in_pos_order = [d for _, d in shard0]
    assert ids_in_pos_order != sorted(ids_in_pos_order)


def test_domain_mixture_epoch_counts(spark):
    from accumulo_wikisearch_spark.operators.sampling import domain_mixture

    rows = [(i, "a") for i in range(100)] + [(i + 1000, "b") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = domain_mixture(docs, "source", {"a": 250, "b": 40}).collect()
    a_copies = [r for r in out if r["domain"] == "a"]
    b_copies = [r for r in out if r["domain"] == "b"]
    # every 'a' doc appears at least twice; ~50% a third time
    per_doc = {}
    for r in a_copies:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + 1
    assert all(n in (2, 3) for n in per_doc.values())
    assert len(per_doc) == 100
    assert 30 <= sum(1 for n in per_doc.values() if n == 3) <= 70
    # 'b' downsamples to ~40%, one copy each
    assert all(r["copy"] == 0 for r in b_copies)
    assert 25 <= len(b_copies) <= 55
    # determinism
    again = domain_mixture(docs, "source", {"a": 250, "b": 40}).collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in out}


def test_write_training_shards_of_empty_frame(spark, sf_dir, tmp_path):
    """An empty corpus exports zero shards instead of failing on the
    read-back of a schema-less directory."""
    from accumulo_wikisearch_spark.operators.sampling import write_training_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(F.lit(False))
    assert write_training_shards(docs, str(tmp_path / "empty"), n_shards=4) == []
