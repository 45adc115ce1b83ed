"""Physical-plan regression tests: pin the plan *shapes* that matter at
scale (documented in docs/PLAN_AUDIT.md) so a refactor that silently
introduces a sort-merge join or an extra shuffle fails CI, not the 100 TB
run."""

import pytest

from pyspark.sql import functions as F


def _formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    from accumulo_wikisearch_spark.sources.corpus import get_engine

    return get_engine(spark, sf_dir)


@pytest.fixture(scope="module")
def scan_engine(spark, sf_dir):
    """Engine with the exact-uid literal path disabled — pins the
    field_index SCAN plan shapes (which common/IGNORE-tier terms take at
    real scale) even on the tiny test corpus where every term would
    otherwise fit the uid tier."""
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.sources.corpus import get_engine

    return get_engine(
        spark,
        sf_dir,
        EngineConfig(unevaluated_fields=frozenset({"TEXT"}), exact_uid_total_max=0),
    )


def test_and_query_is_grouped_scan_plus_doc_fetch(scan_engine):
    plan = _formatted(
        scan_engine.query("TEXT == 'key' and TEXT == 'vector' and TEXT == 'the'")
    )
    # three scan-tier eq conjuncts collapse into ONE grouped field_index
    # pass (bit_or mask aggregation) + the final broadcast doc fetch —
    # NOT a per-term semi-join chain (r14: replaces k scans + k-1 join
    # exchanges with one scan + one partial-aggregated exchange)
    assert "bit_or" in plan
    assert plan.count("BroadcastHashJoin LeftSemi") == 1
    assert "SortMergeJoin" not in plan


def test_leaf_scan_pushes_term_predicate(scan_engine):
    plan = _formatted(scan_engine.query("TEXT == 'vector'"))
    # the term literal must reach the field_index scan (cache-scan filter /
    # parquet PushedFilters), not sit in a post-scan Filter only
    assert "norm_value" in plan and "vector" in plan
    assert "SortMergeJoin" not in plan


def test_or_union_has_no_distinct_shuffle(scan_engine):
    plan = _formatted(scan_engine.query("TEXT == 'dup' or TEXT == 'vector'"))
    # the OR is a duplicate-tolerant union: no aggregate-based dedup between
    # the union and the semi-join (HashAggregate would betray a distinct)
    assert "Union" in plan
    assert plan.count("HashAggregate") == 0


def test_index_build_docs_wide_no_shuffle(spark):
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.ingest import build_index

    df = spark.createDataFrame(
        [(1, "enwiki", "alpha beta", "t1")],
        "id long, language string, text string, title string",
    )
    idx = build_index(
        df, EngineConfig(num_partitions=1), {"ID": "id", "TITLE": "title"},
        unique_ids=True,
    )
    plan = _formatted(idx.docs_wide)
    # unique-ids pivot is a pure map over the scan: no exchange at all
    assert "Exchange" not in plan


def test_pricing_summary_pushes_date_filter(spark, sf_dir):
    from accumulo_wikisearch_spark.operators.relational import pricing_summary

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plan = _formatted(pricing_summary(li))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1][:200]
    # single aggregation exchange, no join
    assert "Join" not in plan


def test_written_index_leaf_scan_pushdown(spark, tmp_path):
    """The on-disk layout must give leaf scans parquet pushdown: the term
    predicate reaches PushedFilters and partition pruning applies (the
    sorted-RFile-analogue layout from write_index)."""
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.ingest import build_index, load_index, write_index

    df = spark.createDataFrame(
        [(i, "enwiki", f"tok{i} common", f"t{i}") for i in range(8)],
        "id long, language string, text string, title string",
    )
    cfg = EngineConfig(num_partitions=4)
    write_index(build_index(df, cfg, {"ID": "id", "TITLE": "title"}, unique_ids=True), str(tmp_path / "ix"))
    idx = load_index(spark, str(tmp_path / "ix"), cfg)

    from pyspark.sql import functions as F

    leaf = idx.field_index.where(
        (F.col("field") == "TEXT") & (F.col("norm_value") == "tok3")
    ).select("partition_id", "doc_id")
    plan = _formatted(leaf)
    pushed = plan.split("PushedFilters", 1)[1][:300]
    assert "norm_value" in pushed and "tok3" in pushed
    # correctness of the loaded leaf scan itself
    assert [r["doc_id"] for r in leaf.collect()] == [3]


def test_bucketed_catalog_joins_without_exchange(spark, sf_dir, tmp_path_factory):
    """The at-rest scale layout: field_index + docs_wide bucketed by doc_id
    → the whole optimized AND path (posting intersects + doc fetch) plans
    with ZERO shuffle exchanges even when broadcasts are disabled."""
    from accumulo_wikisearch_spark.api import Wikisearch
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.ingest import (
        load_index_bucketed,
        write_index_bucketed,
    )
    from accumulo_wikisearch_spark.sources.corpus import SCALAR_FIELDS, load_articles

    loc = str(tmp_path_factory.mktemp("bucketed_db"))
    cfg = EngineConfig(broadcast_postings_max=0)  # force merge joins
    idx = Wikisearch.ingest(
        load_articles(spark, sf_dir), cfg, SCALAR_FIELDS, unique_ids=True
    ).index
    write_index_bucketed(idx, spark, db="ws_bucket_test", num_buckets=4, location=loc)
    try:
        eng = Wikisearch(load_index_bucketed(spark, "ws_bucket_test", cfg))
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = eng.query("TEXT == 'dup' and TEXT == 'key'")
            plan = _formatted(df)
            assert "SortMergeJoin" in plan  # broadcasts really disabled
            assert "Exchange" not in plan  # bucketing carries the join keys
            # and the bucketed path returns the same docs as the in-memory one
            from accumulo_wikisearch_spark.sources.corpus import get_engine

            expect = {r["doc_id"] for r in get_engine(spark, sf_dir).query(
                "TEXT == 'dup' and TEXT == 'key'").collect()}
            assert {r["doc_id"] for r in df.collect()} == expect
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP DATABASE IF EXISTS ws_bucket_test CASCADE")


def test_rare_eq_uid_shortcircuit_no_field_index_scan(engine):
    """Exact-uid tier (O4): a rare term's candidates come straight from the
    ≤uid_max posting lists already collected from the global index — the
    plan reads ONLY docs_wide (pruned scan + broadcast literal semi-join),
    never field_index (RangeCalculator.java:683-705)."""
    ex = engine.explain_query("SOURCE == 'src5'")
    assert ex["path"] == "optimized" and ex["uid_shortcircuit"]
    df = engine.query("SOURCE == 'src5'")
    plan = _formatted(df)
    # the whole query is ONE pushed-down filter on docs_wide: no join of
    # any kind, and no field_index leaf scan (its norm_value predicate
    # would betray one — docs_wide carries no norm_value column)
    assert "Join" not in plan
    assert "norm_value" not in plan
    expect = {
        r["doc_id"]
        for r in engine.query("SOURCE == 'src5'", force_path="fullscan").collect()
    }
    assert {r["doc_id"] for r in df.collect()} == expect


def test_uid_shortcircuit_and_or_not_driver_side(engine):
    """Boolean combinations of exact-tier terms resolve entirely in the
    driver (set algebra over uid lists, one Spark job total), including
    the anti-join side of NE — and match the brute-force path."""
    for jexl in [
        "TEXT == 'dup' and SOURCE == 'src3'",
        "SOURCE == 'src5' or SOURCE == 'src7'",
        "TEXT == 'dup' and SOURCE != 'src3'",
    ]:
        ex = engine.explain_query(jexl)
        assert ex["uid_shortcircuit"], jexl
        got = {r["doc_id"] for r in engine.query(jexl).collect()}
        expect = {
            r["doc_id"]
            for r in engine.query(jexl, force_path="fullscan").collect()
        }
        assert got == expect, jexl


def test_tier_boundary_ignore_vs_exact(spark):
    """Two-tier behavior around uid_max, on a corpus built so one term is
    IGNORE-tier and one exact-tier: the common term keeps the field_index
    scan path; an AND mixing tiers uses a literal VALUES relation for the
    exact leaf while the common term stays a pushed scan predicate."""
    from accumulo_wikisearch_spark.api import Wikisearch
    from accumulo_wikisearch_spark.config import EngineConfig

    df = spark.createDataFrame(
        [
            (i, "en", "common " + ("needle" if i % 7 == 3 else "filler"), str(i))
            for i in range(40)
        ],
        "id long, language string, text string, title string",
    )
    eng = Wikisearch.ingest(
        df, EngineConfig(num_partitions=2, uid_max=4), {"ID": "id"}, unique_ids=True
    )
    # 'common': 20 docs per partition > uid_max=4 → IGNORE tier
    ex = eng.explain_query("TEXT == 'common'")
    assert ex["path"] == "optimized" and not ex["uid_shortcircuit"]
    # 'needle': ≤4 docs per partition → exact tier, full short-circuit
    ex2 = eng.explain_query("TEXT == 'needle'")
    assert ex2["uid_shortcircuit"]
    # mixed AND: no full short-circuit, but the rare conjunct ANCHORS the
    # query — docs_wide fetched by its exact posting keys, full predicate
    # re-verified event-side. No field_index scan, no join of any kind.
    jexl = "TEXT == 'needle' and TEXT == 'common'"
    ex3 = eng.explain_query(jexl)
    assert not ex3["uid_shortcircuit"]
    assert ex3["uid_anchor_size"] == 6  # needle docs: i % 7 == 3, i < 40
    plan = _formatted(eng.query(jexl))
    assert "Join" not in plan
    assert "norm_value" not in plan  # no field_index scan
    # and both paths agree with brute force
    for q in ["TEXT == 'needle'", jexl]:
        got = {r["doc_id"] for r in eng.query(q).collect()}
        exp = {r["doc_id"] for r in eng.query(q, force_path="fullscan").collect()}
        assert got == exp, q


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    from accumulo_wikisearch_spark.operators.curation import decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _formatted(decontaminate(docs))
    # both the eval-shingle probe and the hit-flag join must broadcast —
    # the (100 TB) training side never shuffles (formatted mode lists each
    # node twice: tree + detail)
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan


def test_chunk_documents_is_scan_local(spark, sf_dir):
    from accumulo_wikisearch_spark.operators.curation import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _formatted(chunk_documents(docs))
    assert "Exchange" not in plan


def test_repetition_stats_is_scan_local(spark, sf_dir):
    from accumulo_wikisearch_spark.operators.curation import repetition_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _formatted(repetition_stats(docs))
    assert "Exchange" not in plan


def test_vocab_counts_single_token_exchange(spark, sf_dir):
    from accumulo_wikisearch_spark.operators.vocab import vocab_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _formatted(vocab_counts(docs))
    # one token-keyed exchange (×2: formatted tree + detail) fed by a
    # partial (map-side) hash aggregate
    assert plan.count("Exchange") == 2
    assert "HashAggregate" in plan


def test_token_rarity_skew_safe_shape(spark, sf_dir):
    from accumulo_wikisearch_spark.operators.vocab import token_rarity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _formatted(token_rarity(docs))
    # df must flow through an AQE-splittable JOIN, never a token-partitioned
    # count window (a window pins all instances of a hot token in one task);
    # the instance table is cache-reused, not re-scanned
    assert "Window" not in plan
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan


def test_bm25_is_single_scan_single_shuffle(engine):
    plan = _formatted(engine.scored_search_bm25(["dup", "key"]))
    # one posting scan + one groupBy, NO joins: doc lengths ride on the
    # posting rows and df enters as a term→df map literal from the
    # planner's TermInfo cache (r14) — the per-query broadcast df join
    # and its build job are gone
    assert "Join" not in plan
    assert "map(keys: [dup,key]" in plan  # df as a literal map lookup


def test_more_like_this_pushes_top_terms_no_joins(engine):
    plan = _formatted(engine.more_like_this(7))
    # r14: seed terms + df resolve driver-side (TermInfo cache), the
    # rare-term pick is a literal IN list pushed into the candidate scan
    # — no joins anywhere in the serving plan (was 2 broadcast joins)
    assert "Join" not in plan
    assert "norm_value" in plan  # the IN-list filter reached the plan


def test_keys_filter_prunes_partitions_on_written_catalog(spark, sf_dir, tmp_path):
    """The doc-range plan's posting-key filter must reach the parquet scan
    as REAL partition pruning (PartitionFilters on partition_id) plus
    pushed data filters (language/doc_id IN) — the at-rest layout's whole
    point. The old OR-of-conjunctions form mixed partition and data
    columns per disjunct, so neither engaged."""
    from accumulo_wikisearch_spark.api import Wikisearch
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.ingest import (
        build_index,
        load_index,
        write_index,
    )
    from accumulo_wikisearch_spark.sources.corpus import SCALAR_FIELDS, load_articles

    cfg = EngineConfig(unevaluated_fields=frozenset({"TEXT"}))
    write_index(
        build_index(load_articles(spark, sf_dir), cfg, SCALAR_FIELDS, unique_ids=True),
        str(tmp_path / "idx"),
    )
    eng = Wikisearch(load_index(spark, str(tmp_path / "idx"), cfg))
    df = eng.query("TEXT == 'dup' and TEXT == 'key'")
    info = eng.explain_query("TEXT == 'dup' and TEXT == 'key'")
    # at tiny sf both terms may be exact-tier (full short-circuit) instead
    # of anchor — either way the plan is the posting-key docs_wide filter
    assert info["uid_shortcircuit"] or info["uid_anchor_size"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the doc-range path is a single docs_wide scan; its gates must show
    # as partition pruning + pushed data filters
    import re

    # (the Location path may be elided in toString, so don't grep for the
    # table name — the doc-range plan has exactly this one FileScan)
    assert plan.count("FileScan") == 1
    assert re.search(r"PartitionFilters: \[partition_id#\d+ IN \(", plan)
    assert "In(language" in plan and "In(doc_id" in plan


def test_trained_ivf_pq_plan_is_all_broadcast(spark, sf_dir):
    """The trained IVF-PQ query side must stay broadcast-only: probes and
    ADC LUTs are tiny by contract, so a SortMergeJoin anywhere means a
    corpus-sized shuffle crept into the per-query path."""
    from accumulo_wikisearch_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for df in (
        S.topk_ivf_pq_trained(emb),
        S.topk_ivf(emb, S.self_queries(emb)),  # trained default
    ):
        plan = _formatted(df)
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan


def test_band_selfjoin_plans_compute_band_rows_once(spark, sf_dir):
    """The LSH band self-joins (minhash, sign-LSH embedding, simhash) must
    read their band rows from ONE cached relation: AQE's broadcast
    conversion of the self-join defeats exchange reuse, so without the
    scoped persist the band explode + cap window (and for the embedding
    path the whole Arrow signature kernel) runs once PER SIDE — a full
    duplicated corpus pass at scale (r14 plan audit,
    plans/r14/dedup_*_before2.txt vs _after.txt)."""
    import re

    from accumulo_wikisearch_spark.operators import dedup as D

    def live_nodes(plan: str) -> list[tuple[str, str]]:
        """(name, id) pairs of the tree section OUTSIDE InMemoryRelation
        bodies — a materialized cache prints its whole (Initial + Final)
        AQE plan inside the relation, which must not count as live
        recomputation."""
        out, skip_indent = [], None
        for line in plan.split("\n\n", 1)[0].splitlines():
            m = re.search(r"(?:\+-|:-) (\w+) \((\d+)\)", line)
            indent = m.start() if m else None
            if skip_indent is not None:
                if indent is None or indent > skip_indent:
                    continue  # still inside the cached-relation body
                skip_indent = None
            if m:
                if m.group(1) == "InMemoryRelation":
                    skip_indent = indent
                else:
                    out.append((m.group(1), m.group(2)))
        return out

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    results = []
    try:
        for df in (
            D.minhash_lsh_pairs(docs),
            D.embedding_near_dup_pairs(emb),
            D.simhash_pairs(docs),
        ):
            results.append(df)
            plan = _formatted(df)
            nodes = live_nodes(plan)
            windows = {i for name, i in nodes if name == "Window"}
            exchanges = {i for name, i in nodes if name == "Exchange"}
            # the cap window must live INSIDE the cached band-rows relation
            # (computed once when it materializes), never in the live path —
            # one live Exchange remains: the candidate distinct's
            assert not windows, f"cap window recomputed per side: {sorted(windows)}"
            assert len(exchanges) <= 1, f"extra exchanges: {sorted(exchanges)}"
            assert "InMemoryRelation" in plan
    finally:
        # evict the scoped persists: these plans are never executed here,
        # and a later test whose logical plan embeds one of the persisted
        # subtrees would otherwise get an InMemoryRelation substituted —
        # plan-shape assertions become test-order dependent (r14 ADVICE)
        from accumulo_wikisearch_spark.operators import _scoped

        for df in results:
            _scoped.release(df)


def test_hybrid_search_topk_is_take_ordered(spark):
    """hybrid_search's global top-k must compile to TakeOrderedAndProject
    (distributed partial top-k) with the rank window running over <= k
    rows — structurally, not via InferWindowGroupLimit's rank-filter
    pattern (r14 verdict #3)."""
    from accumulo_wikisearch_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cand = emb.select(F.col("vec_id").alias("doc_id"))
    plan = _formatted(similarity.hybrid_search(cand, emb, query_vec_id=7))
    assert "TakeOrderedAndProject" in plan
    # the window sits ABOVE the take (over <= k rows), never below it
    take_pos = plan.index("TakeOrderedAndProject")
    win_pos = plan.index("Window")
    assert win_pos < take_pos


def test_arrow_kernels_run_once_per_row(spark, sf_dir, tmp_path, monkeypatch):
    """Each Arrow kernel application (one UDF over one input column) sits
    in exactly ONE ArrowEvalPython node. A `cell >= 0` / `bucket >= 0`
    filter pushed below the kernel's projection would re-evaluate the
    kernel there — every vector paid two numpy passes."""
    import re
    from collections import Counter

    from accumulo_wikisearch_spark.operators import similarity as S

    def kernel_evals(df) -> Counter:
        plan = _formatted(df)
        args = re.findall(
            r"\(\d+\) ArrowEvalPython\s*\n(?:Input[^\n]*\n)?Arguments: ([^\n]*)",
            plan,
        )
        return Counter(
            k for a in args for k in re.findall(r"\w+\(\w+#\d+\)", a.split("]")[0])
        )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = S.self_queries(emb, 3)
    cents = S.take_centroids(emb, 4)
    written = []
    monkeypatch.setattr(S, "write_layout", lambda df, *a, **k: written.append(df))
    S.write_ivf_pq_index(emb, str(tmp_path / "pq"), n_cells=4, quantizers="seed")
    cases = {
        "ivf_assign": (S.ivf_assign(emb, cents), {"assign": 1}),
        "topk_ivf": (
            S.topk_ivf(emb, q, k=3, n_cells=4, nprobe=2, centroids="seed"),
            {"assign": 1},
        ),
        "topk_lsh": (S.topk_lsh(emb, q, k=3), {"bucket": 2}),
        "write_ivf_pq_index": (written[0], {"assign": 1, "codes": 1}),
    }
    for name, (df, want) in cases.items():
        evals = kernel_evals(df)
        assert all(n == 1 for n in evals.values()), (name, evals)
        kinds = Counter(k.split("(")[0] for k in evals)
        assert kinds == Counter(want), (name, evals)
