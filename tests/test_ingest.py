"""Index-build operator tests — the DataFrame analogues of the reference's
combiner unit tests (GlobalIndexUidTest.java:37-188, TextIndexTest.java:34-183)
plus the two-tier degradation fixtures from FIXTURES.md §4."""

import pytest
from pyspark.sql import functions as F

from accumulo_wikisearch_spark.config import EngineConfig
from accumulo_wikisearch_spark.operators.ingest import build_index


def _articles(spark, rows):
    return spark.createDataFrame(rows, "id long, language string, text string, title string")


@pytest.fixture(scope="module")
def tiny_index(spark):
    # 25 docs share token 'common' (> uid_max=20); 3 docs have 'rare'.
    # One language: the posting key is (value, field, partition, language) —
    # colq=partition\0lang in WikipediaMapper.java:177-191 — so degradation
    # is per-language.
    rows = []
    for i in range(25):
        text = "common " + ("rare " if i < 3 else "") + f"only{i}"
        rows.append((i, "enwiki", text, f"Title {i}"))
    df = _articles(spark, rows)
    return build_index(
        df,
        EngineConfig(num_partitions=1, uid_max=20),
        scalar_fields={"ID": "id", "TITLE": "title"},
    )


def test_uid_degradation_above_max(tiny_index):
    gi = (
        tiny_index.global_index.where(
            (F.col("field") == "TEXT") & (F.col("norm_value") == "common")
        )
        .groupBy("norm_value")
        .agg(
            F.sum("count").alias("n"),
            F.max("ignore").alias("any_ignore"),
            F.sum(F.size("uids")).alias("uid_count"),
        )
        .collect()[0]
    )
    # 25 docs in one partition: count preserved, uids dropped, ignore set
    # (GlobalIndexUidCombiner.java:66-75)
    assert gi["n"] == 25
    assert gi["any_ignore"] is True
    assert gi["uid_count"] == 0


def test_uid_exact_tier_below_max(tiny_index):
    rows = tiny_index.global_index.where(
        (F.col("field") == "TEXT") & (F.col("norm_value") == "rare")
    ).collect()
    total = sum(r["count"] for r in rows)
    uids = sorted(u for r in rows for u in r["uids"])
    assert total == 3
    assert uids == ["0", "1", "2"]
    assert all(not r["ignore"] for r in rows)


def test_uid_boundary_at_exactly_max(spark):
    # exactly uid_max docs → exact tier (boundary per GlobalIndexUidTest)
    rows = [(i, "enwiki", "tok", f"t{i}") for i in range(20)]
    idx = build_index(
        _articles(spark, rows),
        EngineConfig(num_partitions=1, uid_max=20),
        scalar_fields={"ID": "id", "TITLE": "title"},
    )
    r = idx.global_index.where(
        (F.col("field") == "TEXT") & (F.col("norm_value") == "tok")
    ).collect()[0]
    assert r["count"] == 20 and not r["ignore"] and len(r["uids"]) == 20


def test_reverse_index_reverses_values(tiny_index):
    fwd = {
        r["norm_value"]
        for r in tiny_index.global_index.where(F.col("field") == "TEXT")
        .select("norm_value")
        .collect()
    }
    rev = {
        r["norm_value"]
        for r in tiny_index.reverse_index.where(F.col("field") == "TEXT")
        .select("norm_value")
        .collect()
    }
    assert {v[::-1] for v in fwd} == rev


def test_metadata_catalog(tiny_index):
    flds = tiny_index.indexed_fields()
    assert {"ID", "TITLE", "TEXT"} <= flds


def test_term_index_tf_and_offsets(spark):
    rows = [(1, "enwiki", "a b a c a", "t")]
    idx = build_index(
        _articles(spark, rows),
        EngineConfig(num_partitions=1),
        scalar_fields={"ID": "id"},
    )
    r = {
        x["norm_value"]: x
        for x in idx.term_index.where(F.col("doc_id") == 1).collect()
    }
    assert r["a"]["occurrences"] == 3
    assert r["a"]["offsets"] == [0, 2, 4]
    assert abs(r["a"]["tf"] - 3 / 5) < 1e-9
    assert r["b"]["offsets"] == [1]


def test_docs_wide_multivalue(spark):
    # same field name twice per doc → array holds both (EventFields multimap,
    # query/.../parser/EventFields.java:38-41)
    rows = [(1, "enwiki", "x", "A"), (1, "enwiki", "x", "B")]
    df = spark.createDataFrame(rows, "id long, language string, text string, title string")
    idx = build_index(
        df, EngineConfig(num_partitions=1), scalar_fields={"ID": "id", "TITLE": "title"}
    )
    fields = idx.docs_wide.collect()[0]["fields"]
    assert sorted(fields["TITLE"]) == ["a", "b"]


def test_partition_assignment(tiny_index):
    # partition = id % num_partitions (WikipediaMapper.java:114-117)
    rows = tiny_index.field_index.select("partition_id").distinct().collect()
    assert {r["partition_id"] for r in rows} == {0}


def test_serving_width_sizing(spark, tmp_path):
    """Data-sized serving width: tiny corpus -> 1; huge estimate -> capped
    at cores; unknown (non-local path) -> cores, so the only-narrow gate
    makes it a no-op."""
    from accumulo_wikisearch_spark.sources.corpus import _serving_width

    cores = spark.sparkContext.defaultParallelism
    small = tmp_path / "small.parquet"
    small.write_bytes(b"x" * 1024)
    assert _serving_width(str(small), spark) == 1
    big = tmp_path / "big.parquet"
    big.write_bytes(b"x" * (64 << 20))  # 64MB * 4 / 32MB = 8 partitions
    assert _serving_width(str(big), spark) == min(cores, 8)
    assert _serving_width("s3://bucket/table.parquet", spark) == cores


def test_scan_splits_matches_spark(spark):
    """_scan_splits (the file-split arithmetic that replaced the
    rdd.getNumPartitions probe — r14 verdict #1) must agree with Spark's
    actual FilePartition packing on the real corpora, and fall back to
    None off the local filesystem."""
    from accumulo_wikisearch_spark.sources.corpus import _scan_splits

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        for table in ("documents", "events"):
            p = f"/root/testdata/{sf}/{table}.parquet"
            est = _scan_splits(p, spark)
            actual = spark.read.parquet(p).rdd.getNumPartitions()
            assert est == actual, (p, est, actual)
    assert _scan_splits("s3://bucket/table.parquet", spark) is None


def test_widen_stamps_width(spark, sf_dir):
    """load_articles attaches the decided scan width so persist() sizing
    needn't probe the plan via RDD conversion."""
    from accumulo_wikisearch_spark.sources.corpus import load_articles

    arts = load_articles(spark, sf_dir)
    assert arts._ws_partitions == arts.rdd.getNumPartitions()
