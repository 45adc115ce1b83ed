"""Registry of driver-checkable queries: name → (spark, sf_dir) → DataFrame,
plus the equivalent DuckDB oracle SQL for each.

Conventions for oracle hash-stability:
- outputs are integer/string columns only (no floats, no timestamps);
- every computed column is aliased identically in Spark and SQL;
- ratio thresholds are expressed with integer cross-multiplication.

The wikisearch queries run through the engine's optimized index path; their
oracles are brute-force SQL over the raw ``documents`` table — the same
golden pattern as the reference's TestQueryLogic (fixed corpus, exact
doc-set assertions).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from accumulo_wikisearch_spark.session import tune_runtime
from accumulo_wikisearch_spark.sources.corpus import get_engine, get_events_engine

# Oracle twin of the engine's default "word" tokenizer (letters+digits
# runs; see functions/normalize.py). The synthetic corpus is all-lowercase
# alnum + spaces, where this equals whitespace splitting — stated here so
# the oracle stays truthful if the corpus ever grows punctuation.
TOK = "regexp_split_to_array(text, '[^a-z0-9]+')"

# name → (jexl, auths, duckdb_where)
WS_QUERIES: dict[str, tuple[str, list[str] | None, str]] = {
    "ws_eq_rare": ("SOURCE == 'src5'", None, "source='src5'"),
    "ws_eq_common": ("TEXT == 'batch'", None, f"list_contains({TOK},'batch')"),
    "ws_and2": (
        "TEXT == 'dup' and TEXT == 'key'",
        None,
        f"list_contains({TOK},'dup') AND list_contains({TOK},'key')",
    ),
    "ws_and3": (
        "TEXT == 'key' and TEXT == 'vector' and TEXT == 'the'",
        None,
        f"list_contains({TOK},'key') AND list_contains({TOK},'vector') AND list_contains({TOK},'the')",
    ),
    "ws_or2": (
        "SOURCE == 'src3' or SOURCE == 'src7'",
        None,
        "source IN ('src3','src7')",
    ),
    "ws_nested_bool": (
        "TEXT == 'dup' and (TEXT == 'key' or TEXT == 'vector')",
        None,
        f"list_contains({TOK},'dup') AND (list_contains({TOK},'key') OR list_contains({TOK},'vector'))",
    ),
    "ws_baseline_shape": (
        "TEXT == 'fast' and (TEXT == 'slow' or TEXT == 'stream')",
        None,
        f"list_contains({TOK},'fast') AND (list_contains({TOK},'slow') OR list_contains({TOK},'stream'))",
    ),
    "ws_unfielded_term": (
        "'dup'",
        None,
        f"(list_contains({TOK},'dup') OR source='dup' OR lang='dup' OR doc_id::VARCHAR='dup' OR n_chars::VARCHAR='dup')",
    ),
    "ws_neq_antijoin": (
        "TEXT == 'dup' and SOURCE != 'src3'",
        None,
        f"list_contains({TOK},'dup') AND source<>'src3'",
    ),
    "ws_not_subtree": (
        "TEXT == 'dup' and not (LANG == 'en')",
        None,
        f"list_contains({TOK},'dup') AND lang<>'en'",
    ),
    "ws_wildcard_trailing": (
        "SOURCE =~ 'src1.*'",
        None,
        "regexp_full_match(source,'src1.*')",
    ),
    "ws_wildcard_leading": (
        "SOURCE =~ '.*8'",
        None,
        "regexp_full_match(source,'.*8')",
    ),
    "ws_regex_interior": (
        "SOURCE =~ 's.c12'",
        None,
        "regexp_full_match(source,'s.c12')",
    ),
    "ws_range_pair": (
        "SOURCE >= 'src14' and SOURCE <= 'src16'",
        None,
        "source>='src14' AND source<='src16'",
    ),
    "ws_range_unbounded_fullscan": (
        "SOURCE >= 'src18'",
        None,
        "source>='src18'",
    ),
    # OR mixing an indexed term with a non-drivable branch (lone range
    # bound) → dual-path union (index branch + filtered fullscan)
    "ws_mixed_or_dualpath": (
        "TEXT == 'dup' or SOURCE >= 'src18'",
        None,
        f"(list_contains({TOK},'dup') OR source>='src18')",
    ),
    "ws_between_fn": (
        "f:between(NCHARS, 100, 300) and TEXT == 'dup'",
        None,
        f"n_chars BETWEEN 100 AND 300 AND list_contains({TOK},'dup')",
    ),
    "ws_abs_fn": (
        "f:abs(NCHARS) >= 350 and TEXT == 'dup'",
        None,
        f"abs(n_chars)>=350 AND list_contains({TOK},'dup')",
    ),
    "ws_neq_multivalue": (
        "TEXT != 'dup'",
        None,
        f"len(list_filter({TOK}, x -> x<>'dup'))>0",
    ),
    "ws_auths_en_fr": (
        "TEXT == 'dup'",
        ["en", "fr"],
        f"list_contains({TOK},'dup') AND lang IN ('en','fr')",
    ),
    "ws_auths_zh": (
        "SOURCE =~ 'src1.*'",
        ["zh"],
        "regexp_full_match(source,'src1.*') AND lang='zh'",
    ),
}


# Events corpus (second ingest source; TS = ISO string field → string-ordered
# index ranges, the reference's timestamp treatment). name → (jexl, where).
EV_QUERIES: dict[str, tuple[str, str]] = {
    "ev_type_eq": ("EVENT_TYPE == 'purchase'", "event_type='purchase'"),
    "ev_ts_range_pair": (
        "TS >= '2024-01-10 00:00:00' and TS <= '2024-01-12 00:00:00' and EVENT_TYPE == 'error'",
        "ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts <= TIMESTAMP '2024-01-12 00:00:00' AND event_type='error'",
    ),
    "ev_user_and_type": (
        "USER_ID == '42' and EVENT_TYPE == 'click'",
        "user_id = 42 AND event_type='click'",
    ),
    "ev_type_or_negation": (
        "(EVENT_TYPE == 'signup' or EVENT_TYPE == 'error') and USER_ID != '7'",
        "event_type IN ('signup','error') AND user_id <> 7",
    ),
}


def _ev_query(jexl: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        tune_runtime(spark)
        eng = get_events_engine(spark, sf_dir)
        return eng.query(jexl).select(F.col("doc_id").alias("event_id"))

    return run


def _ws_query(jexl: str, auths: list[str] | None) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        tune_runtime(spark)
        eng = get_engine(spark, sf_dir)
        return eng.query(jexl, auths=auths).select(F.col("doc_id").alias("doc_id"))

    return run


def _ws_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_runtime(spark)
    eng = get_engine(spark, sf_dir)
    doc = eng.index.documents.where(F.col("doc_id") == 42).collect()[0]
    ptr = f"DOCUMENT:{doc.partition_id}/{doc.language}/42"
    return eng.content(ptr)


def _ws_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_runtime(spark)
    eng = get_engine(spark, sf_dir)
    return eng.scored_search("dup").select("doc_id", F.col("occurrences").alias("occ"))


def _ws_scored_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_runtime(spark)
    eng = get_engine(spark, sf_dir)
    return eng.scored_search_multi(["dup", "key"]).select("doc_id", "total_occ")


def _ws_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_runtime(spark)
    eng = get_engine(spark, sf_dir)
    return eng.phrase_search(["order", "fast"])


def _ws_term_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_runtime(spark)
    eng = get_engine(spark, sf_dir)
    return eng.term_cardinalities(["dup", "key", "the", "src3"])


def _ws_sql_text_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_runtime(spark)
    eng = get_engine(spark, sf_dir)
    return eng.sql(
        "SELECT doc_id FROM ws_documents "
        "WHERE TEXT_MATCH('TEXT == ''dup'' and TEXT == ''key''') "
        "AND length(text) > 200"
    )


def _ws_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_runtime(spark)
    eng = get_engine(spark, sf_dir)
    return eng.scored_search_tfidf(["dup", "key"]).select("doc_id", "score")


def _ws_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_runtime(spark)
    eng = get_engine(spark, sf_dir)
    return eng.scored_search_bm25(["dup", "key"]).select("doc_id", "score")


def _ws_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_runtime(spark)
    eng = get_engine(spark, sf_dir)
    return eng.more_like_this(7).select("doc_id", "score", "n_shared")


def _ws_count_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_runtime(spark)
    eng = get_engine(spark, sf_dir)
    return eng.count_only("TEXT == 'dup'")


def _ws_query_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_runtime(spark)
    eng = get_engine(spark, sf_dir)
    return eng.query_page("TEXT == 'dup'", after_doc_id=50, page_size=10).select("doc_id")


def _ws_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """createDocument parity: result docs carry fields + content pointer."""
    tune_runtime(spark)
    eng = get_engine(spark, sf_dir)
    docs = eng.fetch_documents(eng.query("TEXT == 'dup'"))
    return docs.select(
        "doc_id",
        "language",
        "pointer",
        F.col("fields")["SOURCE"].alias("source"),
        F.col("fields")["NCHARS"].cast("int").alias("n_chars"),
    )


# written-catalog cache: write_index output per sf_dir, reused across the
# session (the at-rest layout is immutable once written, like the engine
# cache in sources/corpus.py)
_WRITTEN_CATALOGS: dict[str, str] = {}


def _ws_written_and3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION path, driver-proven end-to-end: write the sorted /
    partition-pruned catalog (S8 bulk sorted sink, write_index), re-read
    it from disk, and answer the and3 query from the AT-REST layout —
    partition pruning + row-group skipping on real parquet files, not the
    in-memory session tables every other ws_* entry uses."""
    import tempfile

    from accumulo_wikisearch_spark.api import Wikisearch
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.ingest import load_index, write_index

    tune_runtime(spark)
    path = _WRITTEN_CATALOGS.get(sf_dir)
    cfg = EngineConfig(unevaluated_fields=frozenset({"TEXT"}))
    if path is None:
        eng = get_engine(spark, sf_dir)
        path = tempfile.mkdtemp(prefix="wikisearch-catalog-")
        write_index(eng.index, path)
        _WRITTEN_CATALOGS[sf_dir] = path
    eng_disk = Wikisearch(load_index(spark, path, cfg))
    return eng_disk.query(
        "TEXT == 'key' and TEXT == 'vector' and TEXT == 'the'"
    ).select("doc_id")


_WRITTEN_EV_CATALOGS: dict[str, str] = {}


def _ev_written_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events corpus through the AT-REST path (the ws_written_and3
    twin): write the sorted catalog, re-load it from disk, answer the
    user∧type conjunction from real parquet files — both ingest corpora
    now prove the write → load → query production path."""
    import tempfile

    from accumulo_wikisearch_spark.api import Wikisearch
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.ingest import load_index, write_index

    tune_runtime(spark)
    path = _WRITTEN_EV_CATALOGS.get(sf_dir)
    cfg = EngineConfig()
    if path is None:
        eng = get_events_engine(spark, sf_dir)
        path = tempfile.mkdtemp(prefix="wikisearch-evcatalog-")
        write_index(eng.index, path)
        _WRITTEN_EV_CATALOGS[sf_dir] = path
    eng_disk = Wikisearch(load_index(spark, path, cfg))
    return eng_disk.query("USER_ID == '42' and EVENT_TYPE == 'click'").select(
        F.col("doc_id").alias("event_id")
    )


_ZORDERED_EV_CATALOGS: dict[str, str] = {}


def _ev_zordered_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events corpus through the Z-ORDERED catalog: write the index
    with docs_wide Morton-clustered on (USER_ID, TS-day), re-load it from
    disk (the layout self-describes via _ZLAYOUT.json), and answer a
    two-key box query THROUGH THE ENGINE — the planner routes the
    (user eq × time range) box through zb directory pruning + z
    row-group intervals before the predicate re-verify. The two-key
    generalization of the reference's sorted-shard range pruning
    (RangeCalculator.java:683-705); oracle = the plain filter."""
    import tempfile

    from accumulo_wikisearch_spark.api import Wikisearch
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.ingest import load_index, write_index
    from accumulo_wikisearch_spark.operators.layout import ZLayout

    tune_runtime(spark)
    path = _ZORDERED_EV_CATALOGS.get(sf_dir)
    if path is None:
        eng = get_events_engine(spark, sf_dir)
        tmp = tempfile.mkdtemp(prefix="wikisearch-zcatalog-")
        write_index(eng.index, tmp, zorder=ZLayout("USER_ID", "TS"))
        path = _ZORDERED_EV_CATALOGS[sf_dir] = tmp
    eng_disk = Wikisearch(load_index(spark, path, EngineConfig()))
    return eng_disk.query(
        "USER_ID == '42' and TS >= '2024-01-10 00:00:00'"
        " and TS <= '2024-01-20 00:00:00'"
    ).select(F.col("doc_id").alias("event_id"))


def _ev_zordered_inlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list × time range through the z engine path: a top-level
    ``(USER_ID == a or USER_ID == b or ...)`` conjunct bounds the user
    key by the HULL of the branch keys (layout.zbox_from_query), so the
    second-most-common multi-entity query shape prunes directories too —
    the gaps between the listed users re-verify away. Reuses the
    ev_zordered_box catalog; oracle = the plain IN filter."""
    from accumulo_wikisearch_spark.api import Wikisearch
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.ingest import load_index

    tune_runtime(spark)
    _ev_zordered_box(spark, sf_dir)  # ensure the shared z catalog exists
    path = _ZORDERED_EV_CATALOGS[sf_dir]
    eng_disk = Wikisearch(load_index(spark, path, EngineConfig()))
    return eng_disk.query(
        "(USER_ID == '41' or USER_ID == '42' or USER_ID == '45')"
        " and TS >= '2024-01-10 00:00:00' and TS <= '2024-01-20 00:00:00'"
    ).select(F.col("doc_id").alias("event_id"))


_ZCAT_EV_CATALOGS: dict[str, str] = {}


def _ev_zordered_cat_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (category × time) box through a kind='cat' z layout: EVENT_TYPE
    dictionary-maps into the Morton key domain (sorted distinct values,
    derived at write, persisted in the sidecar), so the second-most-common
    event-store query shape — type eq × time range — prunes at the
    directory level exactly like the (user × time) box. Oracle = the
    plain filter."""
    import tempfile

    from accumulo_wikisearch_spark.api import Wikisearch
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.ingest import load_index, write_index
    from accumulo_wikisearch_spark.operators.layout import ZLayout

    tune_runtime(spark)
    path = _ZCAT_EV_CATALOGS.get(sf_dir)
    if path is None:
        eng = get_events_engine(spark, sf_dir)
        tmp = tempfile.mkdtemp(prefix="wikisearch-zcatcat-")
        write_index(
            eng.index, tmp, zorder=ZLayout("EVENT_TYPE", "TS", "cat", "day")
        )
        path = _ZCAT_EV_CATALOGS[sf_dir] = tmp
    eng_disk = Wikisearch(load_index(spark, path, EngineConfig()))
    return eng_disk.query(
        "EVENT_TYPE == 'error' and TS >= '2024-01-08 00:00:00'"
        " and TS <= '2024-01-18 00:00:00'"
    ).select(F.col("doc_id").alias("event_id"))


_ZDELTA_EV_CATALOGS: dict[str, str] = {}


def _ev_zprune_with_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The z-ordered events catalog with a PENDING (un-compacted) delta:
    90% of the corpus lands in the Morton-clustered base, 10% arrives as
    a flat minor-compaction flush, and the same two-key box query runs
    through the merge-read view — the planner prunes the z base
    (zb directory filter + z intervals) and unions the flat delta rows
    unpruned, so z-pruning stays alive BETWEEN compactions instead of
    degrading to a full scan the moment one delta lands. The reference
    keeps serving indexed scans during minor compactions
    (README.md:206-219); oracle = the plain filter over ALL events."""
    import tempfile

    from accumulo_wikisearch_spark.api import Wikisearch
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.compaction import (
        load_index_with_deltas,
        write_delta,
    )
    from accumulo_wikisearch_spark.operators.ingest import build_index, write_index
    from accumulo_wikisearch_spark.operators.layout import ZLayout
    from accumulo_wikisearch_spark.sources.corpus import (
        EVENT_SCALAR_FIELDS,
        load_event_articles,
    )

    tune_runtime(spark)
    cfg = EngineConfig()
    path = _ZDELTA_EV_CATALOGS.get(sf_dir)
    if path is None:
        arts = load_event_articles(spark, sf_dir)
        base = arts.where(F.col("id") % 10 != 7)
        delta = arts.where(F.col("id") % 10 == 7)
        tmp = tempfile.mkdtemp(prefix="wikisearch-zdeltacat-")
        write_index(
            build_index(base, cfg, EVENT_SCALAR_FIELDS, unique_ids=True),
            tmp,
            zorder=ZLayout("USER_ID", "TS"),
        )
        write_delta(build_index(delta, cfg, EVENT_SCALAR_FIELDS, unique_ids=True), tmp, 0)
        path = _ZDELTA_EV_CATALOGS[sf_dir] = tmp
    eng = Wikisearch(load_index_with_deltas(spark, path, cfg))
    return eng.query(
        "USER_ID == '42' and TS >= '2024-01-10 00:00:00'"
        " and TS <= '2024-01-20 00:00:00'"
    ).select(F.col("doc_id").alias("event_id"))


def _ev_bucketed_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events corpus through the ZERO-exchange bucketed catalog (the
    ws_bucketed_and3 twin): write the events index as tables bucketed on
    the language-qualified posting key, re-load via the metastore, and
    answer the user∧type conjunction with co-partitioned joins."""
    import re as _re
    import tempfile

    from accumulo_wikisearch_spark.api import Wikisearch
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.ingest import (
        load_index_bucketed,
        write_index_bucketed,
    )

    tune_runtime(spark)
    cfg = EngineConfig()
    key = ("ev", spark.sparkContext.applicationId, sf_dir)
    db = _BUCKETED_DBS.get(key)
    if db is None:
        eng = get_events_engine(spark, sf_dir)
        db = "ev_bucket_" + _re.sub(r"\W+", "_", sf_dir).strip("_")
        loc = tempfile.mkdtemp(prefix="wikisearch-evbucketed-")
        write_index_bucketed(eng.index, spark, db=db, num_buckets=8, location=loc)
        _BUCKETED_DBS[key] = db
    eng_b = Wikisearch(load_index_bucketed(spark, db, cfg))
    return eng_b.query("USER_ID == '42' and EVENT_TYPE == 'click'").select(
        F.col("doc_id").alias("event_id")
    )


_BUCKETED_DBS: dict = {}


def _ws_bucketed_and3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ZERO-exchange layout driven through the driver: write the
    catalog as tables bucketed on the language-qualified posting key
    (write_index_bucketed), re-load via the metastore, and answer and3 —
    the posting intersections and doc-fetch semi-join then co-partition
    by bucket with no shuffle exchange (plan-shape pinned in
    tests/test_plan_shape.py::test_bucketed_catalog_joins_without_exchange).
    Metastore registrations are session-scoped, so the cache keys on the
    session too."""
    import tempfile

    from accumulo_wikisearch_spark.api import Wikisearch
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.ingest import (
        load_index_bucketed,
        write_index_bucketed,
    )

    tune_runtime(spark)
    cfg = EngineConfig(unevaluated_fields=frozenset({"TEXT"}))
    # applicationId, not id(spark): object addresses are reused after GC,
    # and metastore registrations only live as long as the application
    key = (spark.sparkContext.applicationId, sf_dir)
    db = _BUCKETED_DBS.get(key)
    if db is None:
        import re as _re

        eng = get_engine(spark, sf_dir)
        # db name per sf_dir: one fixed name would silently serve another
        # scale factor's tables if a session touches two sf_dirs
        db = "ws_bucket_" + _re.sub(r"\W+", "_", sf_dir).strip("_")
        loc = tempfile.mkdtemp(prefix="wikisearch-bucketed-")
        write_index_bucketed(eng.index, spark, db=db, num_buckets=8, location=loc)
        _BUCKETED_DBS[key] = db
    eng_b = Wikisearch(load_index_bucketed(spark, db, cfg))
    return eng_b.query(
        "TEXT == 'key' and TEXT == 'vector' and TEXT == 'the'"
    ).select("doc_id")


_FRESHNESS_CFG_FIELDS = frozenset({"TEXT"})


def _cached_fresh_catalog(spark, sf_dir, cache, prefix, base_pred, flush):
    """Shared scaffold of the facade-freshness entries: write the base
    catalog for ``base_pred`` rows once per sf_dir, run ``flush`` (the
    pending write_delta/write_tombstones event), cache the path. Returns
    a base-only facade over it — whose first query must fold the pending
    batch via the freshness probe."""
    import tempfile

    from accumulo_wikisearch_spark.api import Wikisearch
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.ingest import (
        build_index,
        load_index,
        write_index,
    )
    from accumulo_wikisearch_spark.sources.corpus import SCALAR_FIELDS, load_articles

    cfg = EngineConfig(unevaluated_fields=_FRESHNESS_CFG_FIELDS)
    path = cache.get(sf_dir)
    if path is None:
        arts = load_articles(spark, sf_dir)
        tmp = tempfile.mkdtemp(prefix=prefix)
        write_index(
            build_index(arts.where(base_pred(arts)), cfg, SCALAR_FIELDS, unique_ids=True),
            tmp,
        )
        flush(arts, tmp, cfg)
        path = cache[sf_dir] = tmp
    return Wikisearch(load_index(spark, path, cfg))


_DELTA_FRESH_CATALOGS: dict[str, str] = {}


def _ws_facade_delta_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The facade's pending-delta freshness (r11): 90% of the wiki corpus
    is the at-rest base catalog; the remaining 10% is a pending
    minor-compaction flush (write_delta — which does not bump the
    manifest version; the pending-delta set is the other half of the
    freshness marker). The base-only facade's first
    query's freshness probe must detect the pending-delta name and
    upgrade to the merge-read view with no manual reload — the
    reference's queries see writes DURING ingest (reference
    README.md:206-219). Oracle = the brute-force filter over the FULL
    corpus: a stale facade misses every delta match."""
    from accumulo_wikisearch_spark.operators.compaction import write_delta
    from accumulo_wikisearch_spark.operators.ingest import build_index
    from accumulo_wikisearch_spark.sources.corpus import SCALAR_FIELDS

    tune_runtime(spark)

    def flush(arts, tmp, cfg):
        delta = build_index(
            arts.where(F.col("id") % 10 == 3), cfg, SCALAR_FIELDS, unique_ids=True
        )
        write_delta(delta, tmp, 0)

    eng = _cached_fresh_catalog(
        spark,
        sf_dir,
        _DELTA_FRESH_CATALOGS,
        "wikisearch-freshcat-",
        lambda arts: F.col("id") % 10 != 3,
        flush,
    )
    return eng.query("TEXT == 'dup' and TEXT == 'key'").select("doc_id")


_TOMB_FRESH_CATALOGS: dict[str, str] = {}


def _ws_facade_tombstone_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pending TOMBSTONE flush through the facade (r11): the full wiki
    corpus is the at-rest catalog, a tombstone delta deletes every doc
    with ``id % 20 == 4``, and a base-only facade answers WITHOUT a
    manual reload — its freshness probe sees the pending batch name and
    upgrades to the merge-read view, whose broadcast anti-join shadows
    the deleted docs (Accumulo's delete markers at scan time). Oracle =
    the brute-force filter excluding the deleted ids; a stale facade
    would return them."""
    from accumulo_wikisearch_spark.operators.compaction import write_tombstones

    tune_runtime(spark)

    def flush(arts, tmp, cfg):
        write_tombstones(
            arts.where(F.col("id") % 20 == 4).select(F.col("id").alias("doc_id")),
            tmp,
            "t0",
        )

    eng = _cached_fresh_catalog(
        spark,
        sf_dir,
        _TOMB_FRESH_CATALOGS,
        "wikisearch-tombcat-",
        lambda arts: F.lit(True),
        flush,
    )
    return eng.query("TEXT == 'dup'").select("doc_id")


_TIME_TRAVEL_CATALOGS: dict[str, str] = {}


def _cat_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel snapshot read (r11): the catalog lives through two
    full rewrite cycles — base (80% of the corpus) + a delta (the
    ``id % 10 == 8`` decile) compacted into snapshot v1, then a second
    delta (the ``== 9`` decile) compacted into snapshot v2. Loading
    ``at_version=1`` must see EXACTLY v1's rows: the first folded delta
    included, the later decile invisible, and no self-heal onto v2 —
    the reproducibility pin a training pipeline records so every
    re-read of its corpus is byte-identical regardless of ongoing
    ingest (Iceberg/Delta snapshot-id reads, applied to our
    manifest-pointer catalog). Oracle = the brute-force filter over
    the corpus MINUS the post-snapshot decile."""
    from accumulo_wikisearch_spark.api import Wikisearch
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.ingest import load_index

    tune_runtime(spark)
    cfg = EngineConfig(unevaluated_fields=_FRESHNESS_CFG_FIELDS)
    path = _time_travel_catalog(spark, sf_dir, cfg)
    eng = Wikisearch(load_index(spark, path, cfg, at_version=1))
    return eng.query("TEXT == 'dup'").select("doc_id")


def _time_travel_catalog(spark, sf_dir: str, cfg) -> str:
    """Build (once per sf_dir) the two-snapshot catalog the time-travel /
    changes-feed entries share: base = deciles 0-7, v1 folds the ==8
    delta, v2 folds the ==9 delta."""
    import tempfile

    from accumulo_wikisearch_spark.operators.compaction import (
        compact_index,
        write_delta,
    )
    from accumulo_wikisearch_spark.operators.ingest import build_index, write_index
    from accumulo_wikisearch_spark.sources.corpus import SCALAR_FIELDS, load_articles

    path = _TIME_TRAVEL_CATALOGS.get(sf_dir)
    if path is None:
        arts = load_articles(spark, sf_dir)
        tmp = tempfile.mkdtemp(prefix="wikisearch-timetravel-")
        write_index(
            build_index(
                arts.where(F.col("id") % 10 <= 7),
                cfg,
                SCALAR_FIELDS,
                unique_ids=True,
            ),
            tmp,
        )
        for n, decile in enumerate((8, 9)):
            delta = build_index(
                arts.where(F.col("id") % 10 == decile),
                cfg,
                SCALAR_FIELDS,
                unique_ids=True,
            )
            write_delta(delta, tmp, f"tt-{n}")
            compact_index(spark, tmp, cfg)  # mints snapshot v{n+1}
        path = _TIME_TRAVEL_CATALOGS[sf_dir] = tmp
    return path


def _cat_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental changes feed between two retained snapshots (r11):
    on the same two-snapshot catalog as ``cat_time_travel``,
    ``read_changes(since=1, until=2)`` must return EXACTLY the documents
    the v2 compaction folded (the ``id % 10 == 9`` decile) — read from
    the folded delta dirs alone, O(changed data) not O(catalog). The
    Iceberg incremental-read / Delta table_changes shape on our
    manifest-pointer catalog; a 100 TB downstream consumer (index
    mirror, embedding refresh) taps this instead of diffing snapshots.
    Oracle = the brute-force decile filter."""
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.compaction import read_changes

    tune_runtime(spark)
    cfg = EngineConfig(unevaluated_fields=_FRESHNESS_CFG_FIELDS)
    path = _time_travel_catalog(spark, sf_dir, cfg)
    return read_changes(spark, path, since_version=1, until_version=2).select(
        "version", "change", "doc_id"
    )


def _cat_changes_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC tail (r11): ``stream_changes`` — a real Structured
    Streaming file source over the catalog's published delta dirs
    (availableNow trigger, memory sink) — must deliver EXACTLY the rows
    the two flushed batches carried (the ``id % 10 >= 8`` deciles of the
    two-snapshot catalog), each exactly once, regardless of the batches
    having since been FOLDED by compactions: the tail is a log
    subscription, not a snapshot reader. Oracle = the brute-force decile
    filter."""
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.streaming.analytics import _run_to_table
    from accumulo_wikisearch_spark.streaming.incremental import stream_changes

    tune_runtime(spark)
    cfg = EngineConfig(unevaluated_fields=_FRESHNESS_CFG_FIELDS)
    path = _time_travel_catalog(spark, sf_dir, cfg)
    out = stream_changes(spark, path).select(
        "change", F.col("doc_id").cast("long").alias("doc_id")
    )
    return _run_to_table(spark, out, "cat_changes_stream_sink", "append")


_REPLICA_CATALOGS: dict[str, str] = {}


def _cat_replica_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog replication end-to-end (r11): 90% of the corpus is the
    source's base; the last decile is a published delta batch. The
    replica bootstraps with ``clone_catalog`` (base only — pending
    batches deliberately excluded from the clone) and catches up with
    ``replicate_deltas`` (per-table distributed copy + the same atomic
    publish under the same batch id). A query on the REPLICA must equal
    the brute-force truth over the FULL corpus — base via the clone,
    the last decile via the shipped batch folded by the replica's own
    merge-read. Oracle = the full-corpus filter."""
    from accumulo_wikisearch_spark.api import Wikisearch
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.compaction import write_delta
    from accumulo_wikisearch_spark.operators.ingest import build_index, write_index
    from accumulo_wikisearch_spark.operators.replication import (
        clone_catalog,
        replicate_deltas,
    )
    from accumulo_wikisearch_spark.sources.corpus import SCALAR_FIELDS, load_articles

    tune_runtime(spark)
    cfg = EngineConfig(unevaluated_fields=_FRESHNESS_CFG_FIELDS)
    dst = _REPLICA_CATALOGS.get(sf_dir)
    if dst is None:
        import tempfile

        arts = load_articles(spark, sf_dir)
        src = tempfile.mkdtemp(prefix="wikisearch-repl-src-")
        write_index(
            build_index(
                arts.where(F.col("id") % 10 <= 8), cfg, SCALAR_FIELDS, unique_ids=True
            ),
            src,
        )
        write_delta(
            build_index(
                arts.where(F.col("id") % 10 == 9), cfg, SCALAR_FIELDS, unique_ids=True
            ),
            src,
            "r0",
        )
        dst_tmp = tempfile.mkdtemp(prefix="wikisearch-repl-dst-") + "/replica"
        clone_catalog(spark, src, dst_tmp, cfg)
        replicate_deltas(spark, src, dst_tmp)
        dst = _REPLICA_CATALOGS[sf_dir] = dst_tmp
    eng = Wikisearch.open(spark, dst, cfg)
    return eng.query("TEXT == 'dup'").select("doc_id")


_LAG_STREAM_RESULTS: dict[str, list] = {}


def _cat_changes_stream_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-tail falling-behind guard end-to-end (r12, verdict #1): a tail
    consumes deciles 5-6, stops, and maintenance retires the manifest
    that folded the UNSEEN decile-7 batch (deleting its dir). The
    restart MUST raise the curated fell-behind error — the reference's
    operational model never drops ingested data silently (reference
    README.md:206-219), and read_changes/replicate_deltas already raise
    in the identical situation. The documented remedy (re-bootstrap
    with a fresh checkpoint) then delivers what retention still holds
    (deciles 8-9 in grace dirs). Result = consumed rows across the
    lifecycle; a missed raise injects a poison row so the oracle
    compare fails loudly. Oracle = the decile filter minus the
    legitimately-lost decile 7."""
    import tempfile

    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.compaction import (
        compact_index,
        write_delta,
    )
    from accumulo_wikisearch_spark.operators.ingest import build_index, write_index
    from accumulo_wikisearch_spark.sources.corpus import SCALAR_FIELDS, load_articles
    from accumulo_wikisearch_spark.streaming.incremental import stream_changes

    tune_runtime(spark)
    rows = _LAG_STREAM_RESULTS.get(sf_dir)
    if rows is None:
        cfg = EngineConfig(unevaluated_fields=_FRESHNESS_CFG_FIELDS)
        arts = load_articles(spark, sf_dir)
        tmp = tempfile.mkdtemp(prefix="wikisearch-cdclag-")
        path = f"{tmp}/index"
        write_index(
            build_index(
                arts.where(F.col("id") % 10 <= 4), cfg, SCALAR_FIELDS,
                unique_ids=True,
            ),
            path,
        )

        def flush(decile):
            write_delta(
                build_index(
                    arts.where(F.col("id") % 10 == decile), cfg,
                    SCALAR_FIELDS, unique_ids=True,
                ),
                path,
                f"c{decile}",
            )

        def drain(ckpt):
            got: list = []
            q = (
                stream_changes(spark, path, checkpoint=ckpt)
                .select("change", F.col("doc_id").cast("long").alias("doc_id"))
                .writeStream.foreachBatch(
                    lambda df, _i: got.extend(df.collect())
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return [(r["change"], r["doc_id"]) for r in got]

        flush(5)
        flush(6)
        rows = drain(f"{tmp}/cp")  # the tail keeps up: deciles 5+6
        compact_index(spark, path, cfg)  # v1 folds c5,c6 (consumed)
        flush(7)
        compact_index(spark, path, cfg)  # v2 folds c7 — NEVER consumed
        flush(8)
        compact_index(spark, path, cfg)  # v3 retires v1 (consumed dirs go)
        flush(9)
        compact_index(spark, path, cfg)  # v4 retires v2 → c7 gone UNSEEN
        try:
            drain(f"{tmp}/cp")  # restart of the stopped-too-long tail
            rows.append(("guard-missed", -1))  # poisons the oracle compare
        except RuntimeError as e:
            if "fell behind the retention window" not in str(e):
                raise
        # the remedy: a fresh-checkpoint re-bootstrap tail delivers the
        # batches retention still holds (c8, c9 in reader grace)
        rows = rows + drain(f"{tmp}/cp-rebootstrap")
        _LAG_STREAM_RESULTS[sf_dir] = rows
    return spark.createDataFrame(rows, "change string, doc_id long")


_REPLICA_SYNC_CATALOGS: dict[str, str] = {}


def _cat_replica_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call replica operations loop (r12, verdict #6): 90% of the
    corpus is the source base, cloned to a replica; cycle 1 ships the
    last-decile batch via ``sync_replica``; cycle 2 ships a tombstone
    batch deleting the ``id % 10 == 1`` decile AND (files threshold)
    folds the replica backlog with a replica-side compaction in the
    same call, returning the anchor-vs-retention headroom a scheduler
    alarms on. The replica facade must then equal the brute-force truth
    over the full corpus minus the deleted decile — double-ship,
    missed-batch, or resurrected-delete bugs all diverge."""
    from accumulo_wikisearch_spark.api import Wikisearch
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.compaction import (
        write_delta,
        write_tombstones,
    )
    from accumulo_wikisearch_spark.operators.ingest import build_index, write_index
    from accumulo_wikisearch_spark.operators.replication import (
        clone_catalog,
        sync_replica,
    )
    from accumulo_wikisearch_spark.sources.corpus import SCALAR_FIELDS, load_articles

    tune_runtime(spark)
    cfg = EngineConfig(unevaluated_fields=_FRESHNESS_CFG_FIELDS)
    dst = _REPLICA_SYNC_CATALOGS.get(sf_dir)
    if dst is None:
        import tempfile

        arts = load_articles(spark, sf_dir)
        tmp = tempfile.mkdtemp(prefix="wikisearch-replsync-")
        src = f"{tmp}/src"
        write_index(
            build_index(
                arts.where(F.col("id") % 10 <= 8), cfg, SCALAR_FIELDS,
                unique_ids=True,
            ),
            src,
        )
        dst_path = f"{tmp}/replica"
        clone_catalog(spark, src, dst_path, cfg)
        write_delta(
            build_index(
                arts.where(F.col("id") % 10 == 9), cfg, SCALAR_FIELDS,
                unique_ids=True,
            ),
            src,
            "s9",
        )
        rep = sync_replica(spark, src, dst_path, cfg)
        assert rep["shipped"] == ["s9"] and not rep["compacted"]
        write_tombstones(
            arts.where(F.col("id") % 10 == 1).select(F.col("id").alias("doc_id")),
            src,
            "sdel",
        )
        rep = sync_replica(spark, src, dst_path, cfg, compact_min_files=1)
        assert rep["shipped"] == ["sdel"] and rep["compacted"]
        assert rep["replica_pending_deltas"] == []
        dst = _REPLICA_SYNC_CATALOGS[sf_dir] = dst_path
    eng = Wikisearch.open(spark, dst, cfg)
    return eng.query("TEXT == 'dup'").select("doc_id")


_DELETES_STREAM_RESULTS: dict[str, list] = {}


def _cat_deletes_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dual-tail mirror (r13, verdict #2): a downstream mirror subscribes
    to BOTH CDC feeds — ``stream_changes`` for appends and
    ``stream_deletes`` for tombstones (each with its own checkpoint),
    the topology PIPELINE.md recommends and the reference's delete
    markers imply (deletes shadow at scan time; a mirror that only
    tails appends resurrects deleted docs). Interleaved lifecycle: a
    doc batch is consumed, FOLDED by a compaction (folds must be
    invisible to both tails), then a tombstone batch and a second doc
    batch land and a second drain picks up exactly the new batches
    (checkpointed exactly-once). Result = appends minus deletes — the
    mirror's state. Oracle = the brute-force decile filter minus the
    tombstoned ids."""
    import tempfile

    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.compaction import (
        compact_index,
        write_delta,
        write_tombstones,
    )
    from accumulo_wikisearch_spark.operators.ingest import build_index, write_index
    from accumulo_wikisearch_spark.sources.corpus import SCALAR_FIELDS, load_articles
    from accumulo_wikisearch_spark.streaming.incremental import (
        stream_changes,
        stream_deletes,
    )

    tune_runtime(spark)
    rows = _DELETES_STREAM_RESULTS.get(sf_dir)
    if rows is None:
        cfg = EngineConfig(unevaluated_fields=_FRESHNESS_CFG_FIELDS)
        arts = load_articles(spark, sf_dir)
        tmp = tempfile.mkdtemp(prefix="wikisearch-cdcdel-")
        path = f"{tmp}/index"
        write_index(
            build_index(
                arts.where(F.col("id") % 10 <= 5), cfg, SCALAR_FIELDS,
                unique_ids=True,
            ),
            path,
        )

        def drain(tail, ckpt):
            got: list = []
            q = (
                tail.select(F.col("doc_id").cast("long").alias("doc_id"))
                .writeStream.foreachBatch(
                    lambda df, _i: got.extend(df.collect())
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return [r["doc_id"] for r in got]

        def drain_both():
            return (
                drain(
                    stream_changes(spark, path, checkpoint=f"{tmp}/cp-a"),
                    f"{tmp}/cp-a",
                ),
                drain(
                    stream_deletes(spark, path, checkpoint=f"{tmp}/cp-d"),
                    f"{tmp}/cp-d",
                ),
            )

        write_delta(
            build_index(
                arts.where(F.col("id") % 10 == 6), cfg, SCALAR_FIELDS,
                unique_ids=True,
            ),
            path,
            "d6",
        )
        appends, deletes = drain_both()  # decile 6 lands; no deletes yet
        compact_index(spark, path, cfg)  # v1 folds d6 — invisible to tails
        write_tombstones(
            arts.where(F.col("id") % 20 == 6).select(
                F.col("id").alias("doc_id")
            ),
            path,
            "t1",
        )
        write_delta(
            build_index(
                arts.where(F.col("id") % 10 == 7), cfg, SCALAR_FIELDS,
                unique_ids=True,
            ),
            path,
            "d7",
        )
        a2, d2 = drain_both()  # exactly the NEW batches: d7 + t1
        appends, deletes = appends + a2, deletes + d2
        dead = set(deletes)
        rows = _DELETES_STREAM_RESULTS[sf_dir] = [
            (i,) for i in appends if i not in dead
        ]
    return spark.createDataFrame(rows, "doc_id long")


_DELETES_LAG_RESULTS: dict[str, list] = {}


def _cat_deletes_stream_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-tail falling-behind guard (r13, verdict #2 — the
    ``table='tombstones'`` mirror of ``cat_changes_stream_lag``): the
    tombstone tail consumes one delete batch, stops, and maintenance
    retires the manifest that folded an UNSEEN tombstone batch. The
    restart MUST raise the curated fell-behind error — a mirror that
    silently skipped a retired tombstone batch would resurrect deleted
    documents downstream, strictly worse than a missing append. The
    re-bootstrap tail then delivers the tombstone batches retention
    still holds. Oracle = the tombstoned deciles minus the one
    legitimately lost."""
    import tempfile

    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.compaction import (
        compact_index,
        write_tombstones,
    )
    from accumulo_wikisearch_spark.operators.ingest import build_index, write_index
    from accumulo_wikisearch_spark.sources.corpus import SCALAR_FIELDS, load_articles
    from accumulo_wikisearch_spark.streaming.incremental import stream_deletes

    tune_runtime(spark)
    rows = _DELETES_LAG_RESULTS.get(sf_dir)
    if rows is None:
        cfg = EngineConfig(unevaluated_fields=_FRESHNESS_CFG_FIELDS)
        arts = load_articles(spark, sf_dir)
        tmp = tempfile.mkdtemp(prefix="wikisearch-cdcdellag-")
        path = f"{tmp}/index"
        write_index(
            build_index(
                arts.where(F.col("id") % 10 <= 4), cfg, SCALAR_FIELDS,
                unique_ids=True,
            ),
            path,
        )

        def flush_tomb(decile):
            write_tombstones(
                arts.where(F.col("id") % 10 == decile).select(
                    F.col("id").alias("doc_id")
                ),
                path,
                f"t{decile}",
            )

        def drain(ckpt):
            got: list = []
            q = (
                stream_deletes(spark, path, checkpoint=ckpt)
                .select("change", F.col("doc_id").cast("long").alias("doc_id"))
                .writeStream.foreachBatch(
                    lambda df, _i: got.extend(df.collect())
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return [(r["change"], r["doc_id"]) for r in got]

        flush_tomb(5)
        rows = drain(f"{tmp}/cp")  # the tail keeps up: decile-5 deletes
        compact_index(spark, path, cfg)  # v1 folds t5 (consumed)
        flush_tomb(6)
        compact_index(spark, path, cfg)  # v2 folds t6 — NEVER consumed
        flush_tomb(7)
        compact_index(spark, path, cfg)  # v3 retires v1 (consumed dir goes)
        flush_tomb(8)
        compact_index(spark, path, cfg)  # v4 retires v2 → t6 gone UNSEEN
        try:
            drain(f"{tmp}/cp")  # restart of the stopped-too-long tail
            rows.append(("guard-missed", -1))  # poisons the oracle compare
        except RuntimeError as e:
            if "fell behind the retention window" not in str(e):
                raise
        # the remedy: a fresh-checkpoint re-bootstrap tail delivers the
        # tombstone batches retention still holds (t7, t8 in grace)
        rows = rows + drain(f"{tmp}/cp-rebootstrap")
        _DELETES_LAG_RESULTS[sf_dir] = rows
    return spark.createDataFrame(rows, "change string, doc_id long")


_MAINTAIN_CATALOGS: dict[str, str] = {}


def _cat_maintain_primary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-catalog one-call ops loop (r13, verdict #6): 80% of the
    corpus is the source base; a data batch (decile 9) and a tombstone
    batch (decile 3) are pending; a replica and a CDC tail are
    REGISTERED consumers. ``maintain_catalog(compact_min_files=1)``
    must fold the backlog (one compaction), and its per-consumer report
    must carry the exact anchor-vs-retention headroom arithmetic —
    both consumers anchored at v0 against current v1 with a one-version
    window ⇒ headroom 0 (alarm); after the consumers catch up ⇒
    headroom 1. A wrong compaction, a wrong anchor resolve, or wrong
    arithmetic trips the in-entry asserts (driver records the error);
    the final facade query proves the maintenance itself was correct —
    decile 9 folded in, decile 3 deleted. Oracle = brute force over the
    full corpus minus the tombstoned decile."""
    from accumulo_wikisearch_spark.api import Wikisearch
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.compaction import (
        maintain_catalog,
        write_delta,
        write_tombstones,
    )
    from accumulo_wikisearch_spark.operators.ingest import build_index, write_index
    from accumulo_wikisearch_spark.operators.replication import (
        clone_catalog,
        sync_replica,
    )
    from accumulo_wikisearch_spark.sources.corpus import SCALAR_FIELDS, load_articles
    from accumulo_wikisearch_spark.streaming.incremental import stream_changes

    tune_runtime(spark)
    cfg = EngineConfig(unevaluated_fields=_FRESHNESS_CFG_FIELDS)
    path = _MAINTAIN_CATALOGS.get(sf_dir)
    if path is None:
        import tempfile

        arts = load_articles(spark, sf_dir)
        tmp = tempfile.mkdtemp(prefix="wikisearch-maint-")
        src = f"{tmp}/src"
        write_index(
            build_index(
                arts.where(F.col("id") % 10 <= 8), cfg, SCALAR_FIELDS,
                unique_ids=True,
            ),
            src,
        )
        dst = f"{tmp}/replica"
        clone_catalog(spark, src, dst, cfg)
        write_delta(
            build_index(
                arts.where(F.col("id") % 10 == 9), cfg, SCALAR_FIELDS,
                unique_ids=True,
            ),
            src,
            "m9",
        )
        cp = f"{tmp}/cp"

        def drain():
            q = (
                stream_changes(spark, src, checkpoint=cp)
                .writeStream.format("noop")
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        drain()  # the tail consumes m9; its anchor sits at v0
        write_tombstones(
            arts.where(F.col("id") % 10 == 3).select(F.col("id").alias("doc_id")),
            src,
            "mdel",
        )
        rep = maintain_catalog(
            spark,
            src,
            cfg,
            compact_min_files=1,
            consumers=[
                {"kind": "replica", "ref": dst},
                {"kind": "cdc", "ref": cp},
            ],
        )
        assert rep["compacted"] and rep["current_version"] == 1
        by_kind = {r["kind"]: r for r in rep["consumers"]}
        # window=1, current=1, both anchors at v0 ⇒ headroom 0: the
        # NEXT rewrite would strand either consumer — the alarm fires
        assert by_kind["replica"]["headroom_rewrites"] == 0
        assert by_kind["cdc"]["headroom_rewrites"] == 0
        assert rep["min_headroom_rewrites"] == 0
        # consumers catch up; headroom recovers to the window size
        drain()  # reconcile observes v1 (m9 consumed) → cdc anchor 1
        sync_replica(spark, src, dst, cfg)  # replica anchor → 1
        rep = maintain_catalog(spark, src, cfg, compact_min_files=1)
        assert not rep["compacted"] and rep["pending_deltas"] == []
        assert rep["min_headroom_rewrites"] == 1
        path = _MAINTAIN_CATALOGS[sf_dir] = src
    eng = Wikisearch.open(spark, path, cfg)
    return eng.query("TEXT == 'dup'").select("doc_id")


_REGISTRY_CATALOGS: dict[str, str] = {}


def _cat_consumer_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-registry lifecycle (r14, r13 verdict #5 + ADVICE): one
    consumer is ONE row — upsert matches on (kind, ref) regardless of
    names and on name (the old key accumulated duplicates when the same
    consumer registered once named and once unnamed, double-counting it
    in every headroom report); `unregister_consumer` retires rows; a
    consumer stuck at status no-anchor for `no_anchor_grace` consecutive
    maintain_catalog reports surfaces in `stale_consumers` (reported,
    never auto-pruned); a crashed publish's staging debris neither
    corrupts reads nor survives maintenance (the CAS publish keeps a
    complete registry on disk at every crash point). All mechanics are
    assert-checked in-entry (a violation errors the row); the final
    facade query proves the catalog itself stayed intact. Oracle =
    brute force over the even-id half corpus."""
    import os

    from accumulo_wikisearch_spark.api import Wikisearch
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.compaction import (
        _registered_consumers,
        maintain_catalog,
        register_consumer,
        unregister_consumer,
    )
    from accumulo_wikisearch_spark.operators.ingest import build_index, write_index
    from accumulo_wikisearch_spark.sources.corpus import SCALAR_FIELDS, load_articles

    tune_runtime(spark)
    cfg = EngineConfig(unevaluated_fields=_FRESHNESS_CFG_FIELDS)
    path = _REGISTRY_CATALOGS.get(sf_dir)
    if path is None:
        import tempfile

        tmp = tempfile.mkdtemp(prefix="wikisearch-registry-")
        src = f"{tmp}/src"
        write_index(
            build_index(
                load_articles(spark, sf_dir).where(F.col("id") % 2 == 0),
                cfg,
                SCALAR_FIELDS,
                unique_ids=True,
            ),
            src,
        )
        # upsert: the same (kind, ref) registered unnamed then named is
        # ONE row carrying the name
        register_consumer(spark, src, "replica", f"{tmp}/replica")
        rows = register_consumer(
            spark, src, "replica", f"{tmp}/replica", name="dr"
        )
        assert len(rows) == 1 and rows[0].get("name") == "dr", rows
        # ...and unregisters by (kind, ref) even though it is named now
        rows = unregister_consumer(
            spark, src, kind="replica", ref=f"{tmp}/replica"
        )
        assert rows == [], rows
        # a named version tap re-binds its ref in place
        register_consumer(spark, src, "version", 0, name="pin")
        rows = register_consumer(spark, src, "version", 1, name="pin")
        assert len(rows) == 1 and rows[0]["ref"] == 1, rows
        # a cdc consumer that never constructs ages into stale_consumers
        # after no_anchor_grace consecutive reports; crashed-publish
        # staging debris is invisible to reads and swept by maintenance
        register_consumer(spark, src, "cdc", f"{tmp}/cp-never", name="ghost")
        open(f"{src}/._consumers_tmp_crashed", "w").write("{")
        for i in range(3):
            rep = maintain_catalog(spark, src, cfg, no_anchor_grace=3)
            assert (rep["stale_consumers"] == []) == (i < 2), (i, rep)
        assert [c["name"] for c in rep["stale_consumers"]] == ["ghost"], rep
        assert len(rep["consumers"]) == 2, rep  # reported, never pruned
        assert not os.path.exists(f"{src}/._consumers_tmp_crashed")
        rows = unregister_consumer(spark, src, name="ghost")
        assert [r.get("name") for r in rows] == ["pin"], rows
        assert [
            r.get("name") for r in _registered_consumers(spark, src)
        ] == ["pin"]
        path = _REGISTRY_CATALOGS[sf_dir] = src
    eng = Wikisearch.open(spark, path, cfg)
    return eng.query("TEXT == 'dup'").select("doc_id")


_FOLDCOUNT_CATALOGS: dict[str, str] = {}


def _cat_fold_file_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold-time file counts (r14, r13 verdict #2): compact_index
    records each folded batch's per-table visible file counts in its
    manifest, and the CDC reconcile guard judges consumption against
    THOSE counts — exact even after retention deletes the batch dirs.
    Lifecycle: a TWO-file data batch (decile 9) is HALF-consumed under
    maxFilesPerTrigger=1 (injected mid-batch stop), completed by an
    in-window restart, then folded together with a tombstone batch
    (decile 3); the manifest must carry {f9: {documents: 2}} and
    {fdel: {tombstones: n}}; two more compactions retire the fold and
    the next guarded construction must PASS with its anchor advanced
    through the retired version (fully-consumed proof from the
    recorded counts, no dir probes) — all assert-checked in-entry. The
    final facade query proves the maintenance itself: decile 9 folded
    in, decile 3 deleted."""
    import json as _json

    from accumulo_wikisearch_spark.api import Wikisearch
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.compaction import (
        _CDC_ANCHOR,
        _count_files,
        compact_index,
        write_delta,
        write_tombstones,
    )
    from accumulo_wikisearch_spark.operators.ingest import build_index, write_index
    from accumulo_wikisearch_spark.operators.manifest import (
        read_manifest,
        read_replaced_json,
    )
    from accumulo_wikisearch_spark.sources.corpus import SCALAR_FIELDS, load_articles
    from accumulo_wikisearch_spark.streaming.incremental import stream_changes

    tune_runtime(spark)
    cfg = EngineConfig(unevaluated_fields=_FRESHNESS_CFG_FIELDS)
    path = _FOLDCOUNT_CATALOGS.get(sf_dir)
    if path is None:
        import tempfile

        arts = load_articles(spark, sf_dir)
        tmp = tempfile.mkdtemp(prefix="wikisearch-foldcount-")
        src = f"{tmp}/src"
        write_index(
            build_index(
                arts.where(F.col("id") % 10 != 9), cfg, SCALAR_FIELDS,
                unique_ids=True,
            ),
            src,
        )
        write_delta(
            build_index(
                arts.where(F.col("id") % 10 == 9).repartition(2),
                cfg,
                SCALAR_FIELDS,
                unique_ids=True,
            ),
            src,
            "f9",
        )
        assert _count_files(spark, f"{src}/deltas/f9/documents") == 2
        cp = f"{tmp}/cp"

        def drain(stop_after=None):
            got: list = []
            calls = [0]

            def fb(df, _bid):
                calls[0] += 1
                if stop_after is not None and calls[0] > stop_after:
                    raise RuntimeError("injected mid-batch stop")
                got.extend(r["doc_id"] for r in df.collect())

            q = (
                stream_changes(
                    spark, src, max_files_per_trigger=1, checkpoint=cp
                )
                .writeStream.foreachBatch(fb)
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
            except Exception as e:
                if "injected mid-batch stop" not in str(e):
                    raise
            return got

        nine = {
            r["id"]
            for r in arts.where(F.col("id") % 10 == 9).select("id").collect()
        }
        first = drain(stop_after=1)  # one committed file, then a crash
        assert 0 < len(first) < len(nine), (len(first), len(nine))
        rest = drain()  # in-window restart completes the batch
        assert set(first + rest) == nine and not set(first) & set(rest)
        write_tombstones(
            arts.where(F.col("id") % 10 == 3).select(F.col("id").alias("doc_id")),
            src,
            "fdel",
        )
        n_tomb = _count_files(spark, f"{src}/deltas/fdel/tombstones")
        compact_index(spark, src, cfg)  # v1 folds f9 + fdel
        m = read_manifest(spark, src)
        assert m["folded_files"] == {
            "f9": {"documents": 2},
            "fdel": {"tombstones": n_tomb},
        }, m["folded_files"]
        drain()  # construction observes v1; nothing new to deliver
        compact_index(spark, src, cfg)  # v2
        compact_index(spark, src, cfg)  # v3: retires v1 -> dirs gone
        # the fold was fully consumed, so the restart passes and the
        # anchor advances THROUGH the retired version on recorded counts
        assert drain() == []
        state = read_replaced_json(spark, cp, _CDC_ANCHOR)
        assert state["version"] == 3 and state["folds"] == {}, _json.dumps(
            state
        )
        path = _FOLDCOUNT_CATALOGS[sf_dir] = src
    eng = Wikisearch.open(spark, path, cfg)
    return eng.query("TEXT == 'dup'").select("doc_id")


def _ws_distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniqFieldNameValueIterator parity: distinct values in a range."""
    tune_runtime(spark)
    eng = get_engine(spark, sf_dir)
    return eng.distinct_values("SOURCE", "src10", "src16")


def _ws_metadata_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata `f` column (SummingCombiner): event-cell counts per field."""
    tune_runtime(spark)
    eng = get_engine(spark, sf_dir)
    return eng.index.metadata.where(F.col("freq") > 0).select(
        "field", "language", "freq"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, (jexl, auths, _sql) in WS_QUERIES.items():
        out[name] = _ws_query(jexl, auths)
    out["ws_content_fetch"] = _ws_content
    out["ws_scored_search"] = _ws_scored
    out["ws_scored_multi"] = _ws_scored_multi
    out["ws_tfidf_rank"] = _ws_tfidf
    out["ws_bm25_rank"] = _ws_bm25
    out["ws_more_like_this"] = _ws_more_like_this
    out["ws_count_fast"] = _ws_count_fast
    out["ws_query_page"] = _ws_query_page
    out["ws_phrase_search"] = _ws_phrase
    out["ws_term_cardinalities"] = _ws_term_cards
    out["ws_sql_text_match"] = _ws_sql_text_match
    out["ws_result_assembly"] = _ws_assembly
    out["ws_distinct_values"] = _ws_distinct_values
    out["ws_metadata_freq"] = _ws_metadata_freq
    out["ws_written_and3"] = _ws_written_and3
    out["ws_bucketed_and3"] = _ws_bucketed_and3
    out["ws_facade_delta_freshness"] = _ws_facade_delta_freshness
    out["ws_facade_tombstone_freshness"] = _ws_facade_tombstone_freshness
    out["cat_time_travel"] = _cat_time_travel
    out["cat_changes_feed"] = _cat_changes_feed
    out["cat_changes_stream"] = _cat_changes_stream
    out["cat_changes_stream_lag"] = _cat_changes_stream_lag
    out["cat_deletes_stream"] = _cat_deletes_stream
    out["cat_deletes_stream_lag"] = _cat_deletes_stream_lag
    out["cat_replica_query"] = _cat_replica_query
    out["cat_replica_sync"] = _cat_replica_sync
    out["cat_maintain_primary"] = _cat_maintain_primary
    out["cat_consumer_registry"] = _cat_consumer_registry
    out["cat_fold_file_counts"] = _cat_fold_file_counts
    for name, (jexl, _sql) in EV_QUERIES.items():
        out[name] = _ev_query(jexl)
    out["ev_written_and"] = _ev_written_and
    out["ev_zordered_box"] = _ev_zordered_box
    out["ev_zordered_cat_box"] = _ev_zordered_cat_box
    out["ev_zordered_inlist"] = _ev_zordered_inlist
    out["ev_zprune_with_deltas"] = _ev_zprune_with_deltas
    out["ev_bucketed_and"] = _ev_bucketed_and

    from accumulo_wikisearch_spark.operators import (
        analytics,
        curation,
        dedup,
        layout,
        multimodal,
        pipeline,
        relational,
        sampling,
        similarity,
        sketches,
        temporal,
        textstats,
        vocab,
    )

    from accumulo_wikisearch_spark.streaming import analytics as streaming_analytics

    out.update(curation.queries())
    out.update(vocab.queries())
    out.update(dedup.queries())
    out.update(similarity.queries())
    out.update(textstats.queries())
    out.update(multimodal.queries())
    out.update(analytics.queries())
    out.update(relational.queries())
    out.update(temporal.queries())
    out.update(sampling.queries())
    out.update(pipeline.queries())
    out.update(sketches.queries())
    out.update(layout.queries())
    out.update(streaming_analytics.queries())

    from accumulo_wikisearch_spark.sources import jsonl as src_jsonl
    from accumulo_wikisearch_spark.sources import warc as src_warc

    from accumulo_wikisearch_spark.sources import csv as src_csv
    from accumulo_wikisearch_spark.sources import orc as src_orc
    from accumulo_wikisearch_spark.sources import xml as src_xml

    out.update(src_jsonl.queries())
    out.update(src_warc.queries())
    out.update(src_csv.queries())
    out.update(src_orc.queries())
    out.update(src_xml.queries())
    # The driver's correctness gate checks registry entries in insertion
    # order and truncates (50 entries per round in r01/r02, vs 86
    # registered).  Order the registry as a freshness scheduler so the
    # window sweeps ALL entries across rounds instead of re-checking the
    # same prefix forever:
    #   1. entries whose most recent driver check failed or errored
    #      (must be re-verified before anything else),
    #   2. entries never driver-checked,
    #   3. everything else, stalest check first (so a green entry rotates
    #      to the back and comes around again within ~2 rounds).
    # The ranking is recomputed from the CORRECTNESS_r*.json files on
    # every call — nothing is hardcoded, renamed/new entries land in
    # class 2 automatically.
    order = _verification_order(list(out.keys()), set(oracle_sql().keys()))
    return {k: out[k] for k in order}


def _verification_order(names: list[str], has_oracle: frozenset | set = frozenset()) -> list[str]:
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    last_checked: dict[str, int] = {}
    last_green: dict[str, bool] = {}
    rounds = sorted(
        root.glob("CORRECTNESS_r*.json"),
        key=lambda p: int(re.search(r"r(\d+)", p.name).group(1)),
    )
    for p in rounds:
        n = int(re.search(r"r(\d+)", p.name).group(1))
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            last_checked[name] = n
            err = row.get("err")
            # err == "no_oracle" is the driver's intentional rows-only
            # check succeeding, not a failure — UNLESS the entry now HAS
            # an oracle_sql twin: then the oracle has never been
            # driver-verified and the entry must lead the window until a
            # real hash-checked row lands (the ann_topk_lsh/ivf case).
            rows_only_pending = err == "no_oracle" and name in has_oracle
            failed = (
                (err is not None and err != "no_oracle")
                or rows_only_pending
                or row.get("rows_match") is False
                or row.get("schema_match") is False
                or row.get("hash_match") is False
            )
            last_green[name] = not failed

    def rank(item: tuple[int, str]):
        idx, name = item
        if name in last_checked and not last_green[name]:
            cls = 0
        elif name not in last_checked:
            cls = 1
        else:
            cls = 2
        return (cls, last_checked.get(name, 0), idx)

    return [name for _, name in sorted(enumerate(names), key=rank)]


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for name, (_jexl, _auths, where) in WS_QUERIES.items():
        out[name] = f"SELECT doc_id FROM documents WHERE {where}"
    out["ws_content_fetch"] = "SELECT doc_id, text FROM documents WHERE doc_id=42"
    out["ws_scored_search"] = (
        f"SELECT doc_id, len(list_filter({TOK}, x -> x='dup')) AS occ "
        f"FROM documents WHERE list_contains({TOK},'dup')"
    )
    out["ws_scored_multi"] = (
        f"SELECT doc_id, (len(list_filter({TOK}, x -> x='dup')) + "
        f"len(list_filter({TOK}, x -> x='key')))::BIGINT AS total_occ "
        f"FROM documents WHERE list_contains({TOK},'dup') AND list_contains({TOK},'key')"
    )
    # same rational-idf integer formula as scored_search_tfidf; df/N from a
    # brute-force recount of the corpus (the golden-oracle pattern)
    out["ws_tfidf_rank"] = f"""
WITH d AS (SELECT doc_id, {TOK} AS toks FROM documents),
n AS (SELECT count(*) AS n FROM documents),
t(term) AS (VALUES ('dup'), ('key')),
df AS (
  SELECT term, count(*) AS df FROM d, t WHERE list_contains(toks, term) GROUP BY term
),
occ AS (
  SELECT doc_id, term, len(list_filter(toks, x -> x = term)) AS occ
  FROM d, t WHERE list_contains(toks, term)
)
SELECT o.doc_id,
       SUM((o.occ * (n.n + 1) * 1000) // (df.df + 1))::BIGINT AS score
FROM occ o JOIN df ON df.term = o.term CROSS JOIN n
GROUP BY o.doc_id
HAVING count(*) = 2
"""
    # BM25 in the same exact-integer rational form as the Spark side:
    # (2200·(N+1)·A·occ) // ((df+1)·(10A·occ + 3A + 9·N·L)) summed per doc
    out["ws_bm25_rank"] = f"""
WITH d AS (
  SELECT doc_id, list_filter({TOK}, x -> x != '') AS toks FROM documents
),
s AS (SELECT count(*) AS n, sum(len(toks)) AS a FROM d),
t(term) AS (VALUES ('dup'), ('key')),
df AS (
  SELECT term, count(*) AS df FROM d, t WHERE list_contains(toks, term) GROUP BY term
),
occ AS (
  SELECT doc_id, len(toks) AS dl, term, len(list_filter(toks, x -> x = term)) AS occ
  FROM d, t WHERE list_contains(toks, term)
),
w AS (
  SELECT o.doc_id,
         (2200 * (s.n + 1) * s.a * o.occ)
           // ((df.df + 1) * (10 * s.a * o.occ + 3 * s.a + 9 * s.n * o.dl)) AS w
  FROM occ o JOIN df ON df.term = o.term CROSS JOIN s
)
SELECT doc_id, SUM(w)::BIGINT AS score FROM w GROUP BY doc_id HAVING count(*) = 2
"""
    # keyset page: 10 docs strictly after doc 50, ordered by doc_id
    out["ws_query_page"] = (
        f"SELECT doc_id FROM documents WHERE list_contains({TOK},'dup') "
        "AND doc_id > 50 ORDER BY doc_id LIMIT 10"
    )
    # index-only count: must equal a brute-force recount of the corpus
    out["ws_count_fast"] = (
        f"SELECT count(*)::BIGINT AS n FROM documents WHERE list_contains({TOK},'dup')"
    )
    # more-like-this: seed doc 7's 16 rarest terms (df, term tie-break),
    # candidates ranked by summed rational idf of shared terms
    out["ws_more_like_this"] = f"""
WITH d AS (
  SELECT doc_id, list_filter({TOK}, x -> x != '') AS toks FROM documents
),
n AS (SELECT count(*) AS n FROM documents),
seed AS (SELECT DISTINCT unnest(toks) AS term FROM d WHERE doc_id = 7),
tok_docs AS (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM d),
df AS (
  SELECT term, count(*) AS df FROM tok_docs
  WHERE term IN (SELECT term FROM seed) GROUP BY term
),
top AS (SELECT term, df FROM df ORDER BY df, term LIMIT 16),
cand AS (
  SELECT d.doc_id, t.df FROM d JOIN top t ON list_contains(d.toks, t.term)
  WHERE d.doc_id != 7
)
SELECT doc_id,
       SUM(((n.n + 1) * 1000) // (df + 1))::BIGINT AS score,
       count(*)::BIGINT AS n_shared
FROM cand CROSS JOIN n GROUP BY doc_id
"""
    # phrase = adjacent-position pairs; brute-force recount over the raw text
    out["ws_phrase_search"] = f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text,' '), x -> len(x) > 0) AS toks
  FROM documents
), m AS (
  SELECT doc_id,
    len(list_filter(range(1, len(toks)), i ->
        toks[i] = 'order' AND toks[i+1] = 'fast')) AS n_matches
  FROM t WHERE len(toks) >= 2
)
SELECT doc_id, n_matches::BIGINT AS n_matches FROM m WHERE n_matches > 0
"""
    out["ws_sql_text_match"] = (
        f"SELECT doc_id FROM documents WHERE list_contains({TOK},'dup') "
        f"AND list_contains({TOK},'key') AND len(text) > 200"
    )
    # brute-force per-field doc counts (README.md:141-163 cardinality table)
    out["ws_term_cardinalities"] = f"""
WITH t(term) AS (VALUES ('dup'), ('key'), ('the'), ('src3')),
c AS (
  SELECT term, 'TEXT' AS field,
         (SELECT count(*) FROM documents WHERE list_contains({TOK}, term)) AS n_docs FROM t
  UNION ALL
  SELECT term, 'SOURCE', (SELECT count(*) FROM documents WHERE source = term) FROM t
  UNION ALL
  SELECT term, 'LANG', (SELECT count(*) FROM documents WHERE lang = term) FROM t
  UNION ALL
  SELECT term, 'ID', (SELECT count(*) FROM documents WHERE doc_id::VARCHAR = term) FROM t
  UNION ALL
  SELECT term, 'NCHARS', (SELECT count(*) FROM documents WHERE n_chars::VARCHAR = term) FROM t
)
SELECT term, field, n_docs::BIGINT AS n_docs FROM c WHERE n_docs > 0
"""
    out["ws_result_assembly"] = (
        "SELECT doc_id, lang AS language, "
        "'DOCUMENT:' || (doc_id % 8)::VARCHAR || '/' || lang || '/' || doc_id::VARCHAR AS pointer, "
        "source, n_chars::INTEGER AS n_chars "
        f"FROM documents WHERE list_contains({TOK},'dup')"
    )
    out["ws_distinct_values"] = (
        "SELECT DISTINCT source AS norm_value FROM documents "
        "WHERE source BETWEEN 'src10' AND 'src16'"
    )
    # same truth as ws_and3 — the entry differs only in the physical path
    # (at-rest catalog scan instead of in-memory session tables)
    out["ws_written_and3"] = (
        f"SELECT doc_id FROM documents WHERE list_contains({TOK},'key') "
        f"AND list_contains({TOK},'vector') AND list_contains({TOK},'the')"
    )
    out["ws_bucketed_and3"] = out["ws_written_and3"]
    # same truth as ws_and2 over the FULL corpus — the entry differs in
    # the physical path (base catalog + pending delta folded by the
    # facade's freshness probe); a stale facade would miss the ~10% of
    # matches that live in the flushed delta
    out["ws_facade_delta_freshness"] = (
        f"SELECT doc_id FROM documents WHERE list_contains({TOK},'dup') "
        f"AND list_contains({TOK},'key')"
    )
    # the tombstoned ids (doc_id % 20 = 4) must NOT come back — a stale
    # facade (or unapplied delete markers) would return them
    out["ws_facade_tombstone_freshness"] = (
        f"SELECT doc_id FROM documents WHERE list_contains({TOK},'dup') "
        f"AND doc_id % 20 <> 4"
    )
    # snapshot v1 = everything folded by the FIRST compaction (base 80% +
    # the id%10==8 delta); the id%10==9 decile landed after v1 and must be
    # invisible to the pinned read even though the CURRENT catalog has it
    out["cat_time_travel"] = (
        f"SELECT doc_id FROM documents WHERE list_contains({TOK},'dup') "
        f"AND doc_id % 10 <> 9"
    )
    # the changes feed between snapshot v1 and v2 is exactly the decile
    # the second compaction folded — appends only, read from the folded
    # delta dirs (O(changed data), never a snapshot diff)
    out["cat_changes_feed"] = (
        "SELECT 2::BIGINT AS version, 'append' AS change, doc_id "
        "FROM documents WHERE doc_id % 10 = 9"
    )
    # the streaming tail delivers every published batch's rows exactly
    # once — both flushed deciles, independent of their later folding
    out["cat_changes_stream"] = (
        "SELECT 'append' AS change, doc_id "
        "FROM documents WHERE doc_id % 10 >= 8"
    )
    # lifecycle of a lagging tail: deciles 5-6 consumed before the stop,
    # 8-9 recovered by the re-bootstrap tail from retained grace dirs;
    # decile 7 is the batch retention legitimately retired while the
    # consumer was stopped — the guard's RAISE (not a silent skip) is
    # what the entry proves, and a missed raise injects a poison row
    out["cat_changes_stream_lag"] = (
        "SELECT 'append' AS change, doc_id "
        "FROM documents WHERE doc_id % 10 IN (5, 6, 8, 9)"
    )
    # the dual-tail mirror's state: both tailed doc deciles minus the
    # tombstoned ids — appends and deletes each delivered exactly once
    # across drains, folds invisible to both tails
    out["cat_deletes_stream"] = (
        "SELECT doc_id FROM documents"
        " WHERE doc_id % 10 IN (6, 7) AND doc_id % 20 <> 6"
    )
    # lifecycle of a lagging DELETE tail: decile-5 tombstones consumed
    # before the stop, 7-8 recovered by the re-bootstrap tail from
    # retained grace dirs; decile 6 is the tombstone batch retention
    # legitimately retired while the consumer was stopped — the guard's
    # RAISE is what the entry proves (poison row on a missed raise)
    out["cat_deletes_stream_lag"] = (
        "SELECT 'delete' AS change, doc_id "
        "FROM documents WHERE doc_id % 10 IN (5, 7, 8)"
    )
    # the replica (clone of the 90% base + the shipped last-decile
    # batch) must answer with the FULL corpus truth — a clone that
    # leaked pending batches or a shipper that missed/double-shipped
    # one diverges
    out["cat_replica_query"] = (
        f"SELECT doc_id FROM documents WHERE list_contains({TOK},'dup')"
    )
    # two sync_replica cycles: the shipped last decile is present, the
    # shipped tombstone decile is gone (and stays gone through the
    # replica-side compaction the files threshold triggered)
    out["cat_replica_sync"] = (
        f"SELECT doc_id FROM documents WHERE list_contains({TOK},'dup') "
        f"AND doc_id % 10 <> 1"
    )
    # maintain_catalog folded the pending data batch (decile 9 present)
    # and the tombstone batch (decile 3 gone); the headroom arithmetic
    # is assert-checked inside the entry (a violation errors the row)
    out["cat_maintain_primary"] = (
        f"SELECT doc_id FROM documents WHERE list_contains({TOK},'dup') "
        f"AND doc_id % 10 <> 3"
    )
    # registry lifecycle (upsert/unregister/no-anchor aging/CAS debris)
    # is assert-checked inside the entry; the returned query proves the
    # even-id half catalog survived the registry churn intact
    out["cat_consumer_registry"] = (
        f"SELECT doc_id FROM documents WHERE list_contains({TOK},'dup') "
        f"AND doc_id % 2 = 0"
    )
    # manifest fold-file-count record + guard anchor advance across a
    # retired version are assert-checked in-entry; the final facade
    # query proves the maintenance: decile 9 folded in, decile 3 deleted
    out["cat_fold_file_counts"] = (
        f"SELECT doc_id FROM documents WHERE list_contains({TOK},'dup') "
        f"AND doc_id % 10 <> 3"
    )
    out["ws_metadata_freq"] = (
        "SELECT f.field, lang AS language, count(*)::BIGINT AS freq "
        "FROM documents, (VALUES ('ID'),('SOURCE'),('NCHARS'),('LANG')) AS f(field) "
        "GROUP BY f.field, lang"
    )
    for name, (_jexl, where) in EV_QUERIES.items():
        out[name] = f"SELECT event_id FROM events WHERE {where}"
    # same truth as ev_user_and_type — only the physical path differs
    # (at-rest catalog scan instead of the in-memory session tables)
    out["ev_written_and"] = (
        "SELECT event_id FROM events WHERE user_id = 42 AND event_type='click'"
    )
    out["ev_bucketed_and"] = out["ev_written_and"]
    # same truth as a plain two-key filter — the entry differs in the
    # physical path (z-ordered at-rest catalog, box-pruned scan)
    out["ev_zordered_box"] = (
        "SELECT event_id FROM events WHERE user_id = 42"
        " AND ts >= TIMESTAMP '2024-01-10 00:00:00'"
        " AND ts <= TIMESTAMP '2024-01-20 00:00:00'"
    )
    # base(90%) + pending delta(10%) together hold the WHOLE corpus, so
    # the merge-read answer must equal the plain filter over all events
    out["ev_zprune_with_deltas"] = out["ev_zordered_box"]
    out["ev_zordered_cat_box"] = (
        "SELECT event_id FROM events WHERE event_type = 'error'"
        " AND ts >= TIMESTAMP '2024-01-08 00:00:00'"
        " AND ts <= TIMESTAMP '2024-01-18 00:00:00'"
    )
    out["ev_zordered_inlist"] = (
        "SELECT event_id FROM events WHERE user_id IN (41, 42, 45)"
        " AND ts >= TIMESTAMP '2024-01-10 00:00:00'"
        " AND ts <= TIMESTAMP '2024-01-20 00:00:00'"
    )

    from accumulo_wikisearch_spark.operators import (
        analytics,
        curation,
        dedup,
        layout,
        multimodal,
        pipeline,
        relational,
        sampling,
        similarity,
        sketches,
        temporal,
        textstats,
        vocab,
    )

    from accumulo_wikisearch_spark.streaming import analytics as streaming_analytics

    out.update(curation.oracle_sql())
    out.update(vocab.oracle_sql())
    out.update(dedup.oracle_sql())
    out.update(similarity.oracle_sql())
    out.update(textstats.oracle_sql())
    out.update(multimodal.oracle_sql())
    out.update(analytics.oracle_sql())
    out.update(relational.oracle_sql())
    out.update(temporal.oracle_sql())
    out.update(sampling.oracle_sql())
    out.update(pipeline.oracle_sql())
    out.update(sketches.oracle_sql())
    out.update(layout.oracle_sql())
    out.update(streaming_analytics.oracle_sql())

    from accumulo_wikisearch_spark.sources import jsonl as src_jsonl
    from accumulo_wikisearch_spark.sources import warc as src_warc

    from accumulo_wikisearch_spark.sources import csv as src_csv
    from accumulo_wikisearch_spark.sources import orc as src_orc
    from accumulo_wikisearch_spark.sources import xml as src_xml

    out.update(src_jsonl.oracle_sql())
    out.update(src_warc.oracle_sql())
    out.update(src_csv.oracle_sql())
    out.update(src_orc.oracle_sql())
    out.update(src_xml.oracle_sql())
    return out
