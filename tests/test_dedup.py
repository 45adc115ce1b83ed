"""Unit tests for dedup operators (clustering; pair ops are oracle-covered
by the driver gate — tools/check_oracle.py)."""

import pytest
from pyspark.sql import functions as F

from accumulo_wikisearch_spark.operators.dedup import (
    connected_components,
    exact_duplicates,
)


def _components(spark, pairs):
    edges = spark.createDataFrame(pairs, "a_id long, b_id long")
    return {
        r["node"]: r["comp"] for r in connected_components(edges).collect()
    }


def test_components_multi_hop_chain(spark):
    # a-b, b-c, c-d chained: one component labeled by the min id
    comp = _components(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_components_min_flows_against_edge_direction(spark):
    # min id sits at the "far end": must propagate backwards over (5,1)
    comp = _components(spark, [(5, 1), (5, 6), (6, 7)])
    assert comp == {1: 1, 5: 1, 6: 1, 7: 1}


def test_components_star_and_singleton_pair(spark):
    comp = _components(spark, [(100, 2), (100, 3), (100, 4), (8, 9)])
    assert comp[100] == 2 and comp[3] == 2 and comp[4] == 2
    assert comp[8] == 8 and comp[9] == 8


def test_exact_duplicates_canonical_is_min(spark):
    docs = spark.createDataFrame(
        [(1, "same text"), (5, "same text"), (3, "same text"), (7, "other")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["canonical_id"] for r in exact_duplicates(docs).collect()}
    assert out == {3: 1, 5: 1}  # doc 1 is canonical, doc 7 unique


def test_embedding_near_dup_banded_matches_exact(spark):
    """The banded sign-LSH near-dup must find the pairs the brute-force
    all-pairs baseline finds (recall check on a corpus engineered to have
    true near-dups), with no cartesian product in its plan."""
    import random

    from accumulo_wikisearch_spark.operators.dedup import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_exact,
    )

    rng = random.Random(7)
    base = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(20)]
    rows = []
    vid = 0
    for b in base:
        rows.append((vid, b)); vid += 1
        # a tiny perturbation → cosine ≈ 0.999 (a true near-dup)
        rows.append((vid, [x + rng.gauss(0, 0.02) for x in b])); vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sorted(map(tuple, embedding_near_dup_pairs(emb, 95).collect()))
    want = sorted(map(tuple, embedding_near_dup_pairs_exact(emb, 95).collect()))
    assert len(want) >= 20  # every perturbed twin is a true pair
    assert got == want
    plan = embedding_near_dup_pairs(emb, 95)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_df_cap_drops_boilerplate(spark):
    """Shingles above max_df are excluded from the similarity space: two
    docs overlapping ONLY in boilerplate stop pairing once the cap binds."""
    from accumulo_wikisearch_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "terms of service apply here"
    rows = [(i, f"{boiler} unique{i} text{i} body{i}") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # uncapped: the shared 5-token boilerplate yields 3 common shingles of
    # 8 per doc → jaccard 3/13 < 0.8 → no pairs at default threshold, so
    # lower the threshold to see them
    loose = ngram_jaccard_pairs(docs, num=1, den=5, max_df=10_000)
    assert loose.count() == 15  # all pairs share the boilerplate
    capped = ngram_jaccard_pairs(docs, num=1, den=5, max_df=5)
    assert capped.count() == 0  # boilerplate shingles (df=6) dropped


def test_band_bucket_cap_bounds_hot_groups(spark):
    """Adversarial hot bucket: a large cluster of identical items collides
    in EVERY band; the deterministic max_bucket cap drops those groups
    before the self-join (bounding it without AQE), while max_bucket=None
    preserves the full pair set."""
    import random

    from accumulo_wikisearch_spark.operators.dedup import (
        embedding_near_dup_pairs,
        minhash_lsh_pairs,
        simhash_pairs,
    )

    rng = random.Random(11)
    hot_vec = [rng.gauss(0, 1) for _ in range(64)]
    rows = [(i, hot_vec) for i in range(30)]
    # plus one isolated near-dup pair that must SURVIVE the cap
    a = [rng.gauss(0, 1) for _ in range(64)]
    rows += [(100, a), (101, [x + rng.gauss(0, 0.01) for x in a])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = sorted(
        map(tuple, embedding_near_dup_pairs(emb, 95, max_bucket=10).collect())
    )
    assert (100, 101) in capped  # small-bucket pair survives
    assert not any(b < 100 for _, b in capped)  # hot cluster dropped
    full = embedding_near_dup_pairs(emb, 95, max_bucket=None).count()
    assert full >= 30 * 29 // 2  # uncapped finds the whole hot cluster

    text_rows = [(i, "all work and no play makes jack a dull boy " * 3) for i in range(30)]
    # long shared prefix + one differing final word → shingle jaccard ≈ 0.86
    near = "completely different content about sparks embers ash flame glow " * 4
    text_rows += [(100, near + "three"), (101, near + "four")]
    docs = spark.createDataFrame(text_rows, "doc_id long, text string")
    mh = sorted(map(tuple, minhash_lsh_pairs(docs, max_bucket=10).collect()))
    assert (100, 101) in mh
    assert not any(b < 100 for _, b in mh)
    sh = simhash_pairs(docs, max_bucket=10).select("a_id", "b_id").collect()
    assert not any(r["b_id"] < 100 for r in sh)
    assert simhash_pairs(docs, max_bucket=None).count() >= 30 * 29 // 2


def test_exact_vector_duplicates(spark):
    """Bit-identical vectors collapse to min-id canonical; near-identical
    (but not equal) vectors do not."""
    from accumulo_wikisearch_spark.operators.dedup import exact_vector_duplicates

    v = [float(i) for i in range(8)]
    rows = [(3, v), (1, v), (7, v), (9, [x + 1e-6 for x in v]), (2, [0.0] * 8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sorted(map(tuple, exact_vector_duplicates(emb).collect()))
    assert got == [(3, 1), (7, 1)]


def test_duplicated_spans_counts(spark):
    """Known-overlap corpus: docs 1 and 2 share one 8-token run (hence
    8-k+1 = 1 duplicated span each at k=8 would need ≥8 shared; use k=3
    for a readable fixture), doc 3 is disjoint."""
    from accumulo_wikisearch_spark.operators.dedup import duplicated_spans

    shared = "a b c d"  # 4 tokens → two 3-gram spans: "a b c", "b c d"
    docs = spark.createDataFrame(
        [
            (1, shared + " x y"),
            (2, "p q " + shared),
            (3, "u v w z1 z2 z3"),
            (4, "a b"),  # < k tokens: no spans, excluded
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["n_spans"], r["dup_spans"]) for r in duplicated_spans(docs, k=3).collect()}
    # doc1: 6 toks → 4 spans, dup = "a b c","b c d"; doc2: same; doc3: 0 dup
    assert out == {1: (4, 2), 2: (4, 2), 3: (4, 0)}


def test_duplicated_spans_within_doc_repeat_not_duplicated(spark):
    """A span repeated WITHIN one doc only is not corpus-duplicated
    (min_docs counts DISTINCT documents)."""
    from accumulo_wikisearch_spark.operators.dedup import duplicated_spans

    docs = spark.createDataFrame(
        [(1, "r s t r s t"), (2, "m n o p q")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["dup_spans"] for r in duplicated_spans(docs, k=3).collect()}
    assert out == {1: 0, 2: 0}


def test_remove_duplicated_spans_rewrites_text(spark):
    from accumulo_wikisearch_spark.operators.dedup import remove_duplicated_spans

    shared = "a b c d"  # two 3-gram spans shared by docs 1, 2
    docs = spark.createDataFrame(
        [
            (1, shared + " x y"),
            (2, "p q " + shared),
            (3, "u v w z1 z2 z3"),
            (4, "a b"),  # shorter than k: untouched
            (5, ""),     # empty: untouched
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in remove_duplicated_spans(docs, k=3).collect()
    }
    # covered positions = tokens of "a b c d" in both docs; rest survive
    assert out[1] == ("x y", 4)
    assert out[2] == ("p q", 4)
    assert out[3] == ("u v w z1 z2 z3", 0)
    assert out[4] == ("a b", 0)
    assert out[5] == ("", 0)


def test_remove_duplicated_spans_overlap_counts_once(spark):
    """Overlapping duplicated spans cover positions, not multiples — a
    token under two spans is removed (and counted) once."""
    from accumulo_wikisearch_spark.operators.dedup import remove_duplicated_spans

    run = "m n o p q"  # 3 overlapping 3-grams; all duplicated across docs
    docs = spark.createDataFrame(
        [(1, run + " tail1"), (2, run + " tail2")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in remove_duplicated_spans(docs, k=3).collect()
    }
    assert out[1] == ("tail1", 5)
    assert out[2] == ("tail2", 5)


def test_minhash_store_incremental_matches_full_recompute(spark, sf_dir, tmp_path):
    """near_dups_vs_store over (base write + delta1 append) must equal the
    cross-set restriction of the full-corpus minhash pair set — stored
    signatures, appended signatures, and fresh-batch signatures all agree
    with a from-scratch run."""
    from accumulo_wikisearch_spark.operators import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "mstore")
    D.write_minhash_store(docs.where(F.col("doc_id") % 5 != 0), path)
    D.append_minhash_store(docs.where(F.col("doc_id") % 10 == 0), path)
    got = {
        (r["base_id"], r["new_id"])
        for r in D.near_dups_vs_store(
            spark, docs.where(F.col("doc_id") % 10 == 5), path
        ).collect()
    }
    full = {
        frozenset((r["a_id"], r["b_id"]))
        for r in D.minhash_lsh_pairs(docs).collect()
    }
    want = {
        (a, b)
        for pair in full
        for a, b in [tuple(sorted(pair)), tuple(sorted(pair, reverse=True))]
        if a % 10 != 5 and b % 10 == 5
    }
    assert got == want and got  # non-empty on the sf corpus
    # the appended delta1 (doc_id % 10 == 0) contributes base-side pairs:
    # dropping the append must lose exactly those
    path2 = str(tmp_path / "mstore2")
    D.write_minhash_store(docs.where(F.col("doc_id") % 5 != 0), path2)
    got2 = {
        (r["base_id"], r["new_id"])
        for r in D.near_dups_vs_store(
            spark, docs.where(F.col("doc_id") % 10 == 5), path2
        ).collect()
    }
    assert got2 == {(a, b) for a, b in got if a % 10 != 0}


def test_minhash_store_check_is_partition_pruned(spark, sf_dir, tmp_path):
    """The store check must read only the bk/sk partitions the batch can
    collide with — PartitionFilters present on both store scans."""
    from accumulo_wikisearch_spark.operators import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "pstore")
    D.write_minhash_store(docs.where(F.col("doc_id") % 5 != 0), path)
    # materialize=False keeps the lazy plan visible (the production
    # default checkpoints, which truncates the explain output)
    out = D.near_dups_vs_store(
        spark, docs.where(F.col("doc_id") % 5 == 0), path, materialize=False
    )
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    segs = plan.split("PartitionFilters: [")
    pruned = [s.split("]", 1)[0] for s in segs[1:]]
    assert any("bk" in s and "IN" in s.upper() for s in pruned), pruned
    assert any("sk" in s and "IN" in s.upper() for s in pruned), pruned


def test_minhash_store_written_empty_stays_readable(spark, sf_dir, tmp_path):
    """A store written from an empty frame must still be checkable: the
    batch check reads ``bands/``, which a bare partitioned write of no
    rows leaves without a schema."""
    from accumulo_wikisearch_spark.operators import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "empty_store")
    D.write_minhash_store(docs.where(F.lit(False)), path)
    assert D.near_dups_vs_store(spark, docs, path).count() == 0
