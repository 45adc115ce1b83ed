"""Index build: articles → the reference's four-table catalog, as DataFrames.

Reference dataflow being reproduced (semantics, not mechanism):
- event cells + fi cells + global/reverse index cells + metadata per article:
  ``WikipediaMapper.java:121-221`` (S6 in SURVEY.md §2.1)
- posting-list merge with degradation past uid_max=20 distinct docs:
  ``GlobalIndexUidCombiner.java:38-96`` (A1)
- term-frequency/offset merge for scored TEXT search:
  ``TextIndexCombiner.java:40-106`` (A2)
- reverse index for leading wildcards: ``WikipediaMapper.java:193-197``
- metadata catalog: ``WikipediaMapper.java:144-151,199-208``

Scale posture (100 TB):
- Everything is ``select/explode/groupBy/agg`` — map-side partial
  aggregation and AQE do the reference's LRUOutputCombiner/compaction work
  (SURVEY.md §4 O17/O18) for free.
- The global index bounds its collected UID set *before* the final
  aggregation using a window ranked on the same keys as the groupBy: the
  sort/shuffle is reused (one exchange), and no executor ever materializes
  more than ``uid_max+1`` uids per (term, field, partition, language) — the
  same degradation the reference's combiner applies at LSM compaction.
- ``write()`` lays tables out partitioned by ``partition_id`` and sorted by
  (field, norm_value) within partitions — the analogue of the reference's
  sorted RFile bulk load (``SortingRFileOutputFormat.java``), which is what
  makes per-term scans partition-pruned + min/max-skipped at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from accumulo_wikisearch_spark.config import EngineConfig
from accumulo_wikisearch_spark.functions.normalize import normalize_col, tokenize_col
from accumulo_wikisearch_spark.operators.layout import (
    write_layout,
    write_zordered_docs,
)

# Default mapping of article scalar columns → field names (the reference's
# event fields ID/TITLE/TIMESTAMP/COMMENTS, ArticleExtractor.java:81-88).
DEFAULT_SCALAR_FIELDS = {"ID": "id"}


#: serving tables ``WikisearchIndex.persist()`` caches, in persist order.
#: Cache-eviction sites (``bench.py``'s fresh_index_build, tests) iterate
#: THIS list via :meth:`WikisearchIndex.unpersist_serving` instead of
#: hard-coding names — a renamed or newly-persisted serving table would
#: otherwise silently survive an evict and turn the next timed rebuild
#: into a cache no-op (r13 ADVICE).
SERVING_TABLES = (
    "field_index",
    "global_index",
    "docs_wide",
    "metadata",
    "term_index",
)


class WikisearchIndex:
    """The engine's catalog: five DataFrames + config.

    Tables:
    - doc_fields     (partition_id, language, doc_id, field, value)
    - field_index    (partition_id, field, norm_value, language, doc_id)
    - global_index   (norm_value, field, partition_id, language, count, uids, ignore)
    - reverse_index  same, norm_value reversed
    - metadata       (field, language, indexed, normalizer)
    - term_index     (partition_id, language, doc_id, norm_value, occurrences, tf, offsets, doc_len)
    - docs_wide      (partition_id, language, doc_id, fields MAP<STRING,ARRAY<STRING>>)
    - documents      (partition_id, language, doc_id, text)

    ``metadata`` and ``term_index`` may be handed in as THUNKS
    (``metadata_thunk`` / ``term_index_thunk``): neither is touched by the
    boolean/build hot path (term_index serves ranked queries only, the
    metadata catalog is first read by the planner's indexed_fields
    lookup), and constructing their DataFrame graphs eagerly cost ~8
    driver ops (~0.1-0.2 s at 8-20 ms py4j/analysis each) on EVERY
    build_index call — index builds, compaction staging, and the
    streaming fold loop all paid it (r15; guide §7.3 driver-side
    planning). The property materializes on first access, applying
    persist() if the serving set was persisted meanwhile.

    Other attributes (same semantics as the r14 dataclass fields):

    - zlayout: set when docs_wide was loaded from a z-ordered store
      (layout.ZLayout): the planner then prunes docs_wide scans by query
      box (zb directory filter + z row-group interval) before the
      predicate re-verify. Read ONCE at load: a published generation is
      immutable — its files and its sidecar never change in place — so
      the load-time layout describes the files for the index's whole
      lifetime.
    - catalog_path: catalog root when loaded from disk — lets the facade
      RELOAD the whole index (fresh file listings + caches) when its
      freshness probe sees a new manifest version or pending-delta set;
      None for in-memory catalogs (immutable by construction) and
      time-travel snapshots.
    - manifest_version: the catalog's manifest version at load time
      (operators/manifest.py): None for legacy never-rewritten catalogs
      and in-memory ones. The facade compares it per query against the
      on-disk manifest — every rewrite (compaction, and so every
      ``stream_ingest`` batch) publishes a new version atomically, and
      ``write_index`` refuses to overwrite an existing catalog, so the
      version (with the pending-delta set below) is the ONLY freshness
      marker a catalog needs.
    - merged_deltas: PENDING delta batches folded into this view at load
      time: () for a plain load (base only), the folded batch names for a
      merge-read, None for in-memory catalogs. The facade's freshness
      probe compares it per query against the on-disk pending set —
      write_delta / stream_ingest_deltas flush batches WITHOUT bumping
      the manifest (that's the point: O(batch) work, no rewrite), so the
      manifest version alone misses them and a long-lived facade would
      serve stale results until the next compaction; the reference's
      queries see writes DURING ingest (README.md:206-219).
    - _gi_from_fi: True only for indexes whose global_index is the
      PRISTINE build_index derivation of field_index (no LSM merges
      folded in): persist() may then rebuild the global/reverse plans on
      top of the narrowed field_index cache so they materialize FROM it
      instead of re-deriving the union from the token cache. Merged views
      (_fold_deltas) keep False — merge_global_index's degradation is
      sticky, so a rebuild-from-fi could UN-degrade rows and change
      results.
    - docs_wide_parts: merge-read views of a z catalog with pending
      deltas set this to (z_base, flat_extra): the z-ordered base
      docs_wide WITH its physical layout columns, and the unioned flat
      delta rows. The planner then box-prunes the (huge) base side and
      unions the (small) delta side unpruned — z-pruning stays alive
      BETWEEN compactions instead of degrading every query to an
      unpruned scan the moment one delta lands (the reference keeps
      serving indexed scans during minor compactions; README.md:206-219).
      ``docs_wide`` itself remains the demoted flat union for every
      non-planner consumer.
    - _tokenized: the tokenized article base shared by field_index and
      docs_wide; caching it makes the expensive tokenize pass run once
      across their materializations (None when the index was loaded from
      disk).
    """

    def __init__(
        self,
        config: EngineConfig,
        doc_fields: DataFrame,
        field_index: DataFrame,
        global_index: DataFrame,
        reverse_index: DataFrame,
        metadata: DataFrame | None = None,
        term_index: DataFrame | None = None,
        docs_wide: DataFrame | None = None,
        documents: DataFrame | None = None,
        zlayout: object | None = None,
        catalog_path: str | None = None,
        manifest_version: int | None = None,
        merged_deltas: tuple | None = None,
        _gi_from_fi: bool = False,
        docs_wide_parts: tuple | None = None,
        _tokenized: DataFrame | None = None,
        metadata_thunk=None,
        term_index_thunk=None,
    ):
        assert metadata is not None or metadata_thunk is not None
        assert term_index is not None or term_index_thunk is not None
        self.config = config
        self.doc_fields = doc_fields
        self.field_index = field_index
        self.global_index = global_index
        self.reverse_index = reverse_index
        self._metadata = metadata
        self._metadata_thunk = metadata_thunk
        self._term_index = term_index
        self._term_index_thunk = term_index_thunk
        self.docs_wide = docs_wide
        self.documents = documents
        self.zlayout = zlayout
        self.catalog_path = catalog_path
        self.manifest_version = manifest_version
        self.merged_deltas = merged_deltas
        self._gi_from_fi = _gi_from_fi
        self.docs_wide_parts = docs_wide_parts
        self._tokenized = _tokenized
        self._persisted = False
        self._indexed_cache: set[str] | None = None
        self._doc_count: int | None = None
        self._token_count: int | None = None

    @property
    def metadata(self) -> DataFrame:
        if self._metadata is None:
            df = self._metadata_thunk()
            self._metadata = df.persist() if self._persisted else df
        return self._metadata

    @metadata.setter
    def metadata(self, df: DataFrame) -> None:
        self._metadata = df
        self._metadata_thunk = None

    @property
    def term_index(self) -> DataFrame:
        if self._term_index is None:
            df = self._term_index_thunk()
            self._term_index = df.persist() if self._persisted else df
        return self._term_index

    @term_index.setter
    def term_index(self, df: DataFrame) -> None:
        self._term_index = df
        self._term_index_thunk = None

    def persist(
        self,
        serving_partitions: int | None = None,
        current_partitions: int | None = None,
    ) -> "WikisearchIndex":
        """Cache the serving tables.  ``serving_partitions`` right-sizes the
        per-query docs_wide scan: the BUILD wants full-width parallelism
        (tokenize is CPU-bound), but a small corpus served at build width
        pays ~cores fixed task costs per query — latency and multi-client
        throughput both degrade (measured 6× on 8 clients at width 32 vs
        4).  One tiny shuffle here narrows only the cached copy; the wide
        build lineage is untouched.  Only ever narrows — at real scale the
        caller passes a width ≥ the data's own split count and this is a
        no-op.  ``current_partitions`` lets the caller supply the known
        input width (docs_wide inherits it through the narrow pivot) —
        probing ``docs_wide.rdd.getNumPartitions()`` here would force a
        full driver-side analysis of the pivot plan (~3 s with the
        Unicode translate literals) just to read a number the caller
        already has.  A z view caches only the flat delta side of its
        docs_wide (see ``docs_wide_parts``)."""

        def narrow(df: DataFrame, cur: int | None) -> DataFrame:
            if serving_partitions is None:
                return df
            if cur is None:
                cur = df.rdd.getNumPartitions()
            return df.repartition(serving_partitions) if serving_partitions < cur else df

        if not self._persisted:
            if self._tokenized is not None:
                self._tokenized = self._tokenized.persist()
            # field_index is a UNION of the scalar and TEXT branches —
            # two build-width legs, no shuffle anywhere in its lineage,
            # so AQE never coalesces it and every per-query leaf scan
            # pays 2×build-width tasks (128 at local[32] over a few MB;
            # measured ~45% of warm AND-query latency at sf0.1). One
            # tiny exchange here narrows only the cached copy; the
            # only-narrow gate makes this a no-op at real scale, where
            # the data's own split count exceeds the serving cap —
            # same posture as the docs_wide narrowing below.
            fi = narrow(
                self.field_index,
                2 * current_partitions if current_partitions is not None else None,
            )
            if fi is not self.field_index:
                self.field_index = fi
                if self._gi_from_fi:
                    # re-derive global/reverse over the narrowed plan
                    # so their materialization cache-hits the narrowed
                    # field_index instead of re-deriving the union
                    # from the token cache (identical rows: same
                    # derivation, repartition only moves them)
                    self.global_index = _global_index_from_fi(
                        self.field_index, self.config.uid_max
                    )
                    self.reverse_index = self.global_index.withColumn(
                        "norm_value", F.reverse(F.col("norm_value"))
                    )
            self.field_index = self.field_index.persist()
            self.global_index = self.global_index.persist()
            if self.zlayout is None:
                self.docs_wide = narrow(self.docs_wide, current_partitions).persist()
            elif self.docs_wide_parts is not None:
                # a z view keeps its base side the pruned FILE scan — a
                # cached relation has no files to prune, so caching it
                # would lose the zb PartitionFilter that makes the layout
                # worth having — and caches only the flat delta side
                from accumulo_wikisearch_spark.operators.layout import demote_docs

                zbase, extra = self.docs_wide_parts
                extra = narrow(extra, None).persist()
                self.docs_wide_parts = (zbase, extra)
                self.docs_wide = demote_docs(zbase).unionByName(extra)
            # metadata / term_index may still be lazy thunks: persist at
            # construction time instead of forcing ~8 graph ops here
            # (term_index is a serving table too — scored/BM25/phrase
            # search re-read it per query; without persistence every
            # ranked query re-tokenizes the corpus)
            if self._metadata is not None:
                self._metadata = self._metadata.persist()
            if self._term_index is not None:
                self._term_index = self._term_index.persist()
            self._persisted = True
        return self

    def _serving_frames(self) -> list[DataFrame]:
        """The DataFrames :meth:`persist` caches, in :data:`SERVING_TABLES`
        order: a z view's docs_wide is replaced by its flat delta side
        (absent when it has none). The lazy tables are read from their
        PRIVATE slot, so listing a cold index forces no graph."""
        docs = (
            self.docs_wide
            if self.zlayout is None
            else (self.docs_wide_parts or (None, None))[1]
        )
        frames = (
            self.field_index,
            self.global_index,
            docs,
            self._metadata,
            self._term_index,
        )
        return [df for df in frames if df is not None]

    def materialize(self) -> "WikisearchIndex":
        """Force-build the persisted serving tables.

        A BUILT index materializes in dependency order: field_index first
        (fills the shared tokenized-base cache in the same job), then
        global_index and docs_wide concurrently — both read only cached
        inputs, so Spark runs the two independent jobs in parallel.
        term_index stays lazy: it persists on the FIRST ranked query (warm
        protocol) instead of taxing every index build with its occurrence
        shuffle — boolean-only workloads never pay for it.

        A LOADED or merged view (no tokenized base — the facade's heal
        builds one) builds its whole serving set, term_index included,
        in one concurrent pass: its tables are independent scans."""
        from concurrent.futures import ThreadPoolExecutor

        self.persist()
        if self._tokenized is None:
            frames = self._serving_frames()
            with ThreadPoolExecutor(max_workers=len(frames)) as ex:
                list(ex.map(lambda df: df.count(), frames))
            return self
        self.field_index.count()
        with ThreadPoolExecutor(max_workers=2) as ex:
            list(ex.map(lambda df: df.count(), [self.global_index, self.docs_wide]))
        # downstream tables are now cached themselves; drop the
        # intermediate token cache
        self._tokenized.unpersist()
        return self

    def unpersist_serving(self) -> "WikisearchIndex":
        """Evict every serving table :meth:`persist` caches (the
        :data:`SERVING_TABLES` list, plus the shared tokenized base when
        present), leaving the index usable but cold. The one honest way
        to reset cache state between benchmark reps — callers iterating
        their own attribute lists drifted when the serving set changed
        (r13 ADVICE). Spark releases a cache entry by plan, so this also
        evicts another view's entry for an identical plan (two facades
        healed onto one catalog in one session)."""
        for df in self._serving_frames():
            try:
                df.unpersist()
            except Exception:
                pass
        if self._tokenized is not None:
            try:
                self._tokenized.unpersist()
            except Exception:
                pass
        self._persisted = False
        return self

    def doc_count(self) -> int:
        """Corpus size N (for IDF weighting) — counted once per catalog."""
        if self._doc_count is None:
            self._doc_count = self.documents.count()
        return self._doc_count

    def token_count(self) -> int:
        """Total corpus tokens A (for BM25 length normalization) — one
        partial-aggregated scan of the TermWeight index, once per catalog."""
        if self._token_count is None:
            row = self.term_index.agg(F.sum("occurrences")).collect()[0]
            self._token_count = int(row[0] or 0)
        return self._token_count

    def indexed_fields(self) -> set[str]:
        """Catalog lookup: which fields are indexed (findIndexedTerms,
        AbstractQueryLogic.java:500-524). Metadata is tiny — collected once
        and cached for the life of the catalog (the reference likewise scans
        the metadata table per query but keeps an LRU of parsed plans)."""
        if self._indexed_cache is None:
            rows = (
                self.metadata.where(F.col("indexed")).select("field").distinct().collect()
            )
            self._indexed_cache = {r["field"] for r in rows}
        return self._indexed_cache


def serving_width(spark: SparkSession, nbytes: int | None) -> int:
    """Partition count for a cached serving set, sized by DATA: ≈32 MB
    of uncompressed corpus per partition (``nbytes`` is the corpus'
    parquet size, assumed ~4× compressed), capped at the core count. A
    5k-doc corpus lands on 1; a 100 TB corpus saturates the cap, where
    the data's own split count already exceeds it and persist()'s
    only-narrow gate makes this a no-op. ``nbytes`` None (size unknown,
    e.g. on an object store) returns the cap."""
    cores = spark.sparkContext.defaultParallelism
    if nbytes is None:
        return cores
    return max(1, min(cores, (nbytes * 4) // (32 << 20)))


def _global_index_from_fi(field_index: DataFrame, uid_max: int) -> DataFrame:
    """Global index from a field_index: two-tier uid degradation (A1,
    GlobalIndexUidCombiner.java:38-96). The window is ranked on the same
    keys as the groupBy, so the sort/shuffle is reused (one exchange) and
    no executor ever materializes more than uid_max+1 uids per group."""
    gi_keys = ["norm_value", "field", "partition_id", "language"]
    w = Window.partitionBy(*gi_keys).orderBy("doc_id")
    ranked = field_index.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy(*gi_keys)
        .agg(
            F.count("*").alias("count"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("rn") <= uid_max, F.col("doc_id").cast("string"))
                )
            ).alias("_uids"),
        )
        .select(
            *gi_keys,
            "count",
            F.when(F.col("count") > uid_max, F.array().cast("array<string>"))
            .otherwise(F.col("_uids"))
            .alias("uids"),
            (F.col("count") > uid_max).alias("ignore"),
        )
    )


def build_index(
    articles: DataFrame,
    config: EngineConfig | None = None,
    scalar_fields: dict[str, str] | None = None,
    text_col: str = "text",
    unique_ids: bool = False,
) -> WikisearchIndex:
    """Build the full catalog from an articles DataFrame.

    ``articles`` must have ``id`` (long), ``language`` (string), ``text_col``
    (string, nullable), plus the columns named in ``scalar_fields``
    (field name → source column).

    ``unique_ids=True`` declares that (id, language) pairs are unique in the
    batch (true for all bundled corpus adapters). That makes field-index
    rows unique by construction, so the dedup shuffle and the docs_wide
    merge shuffle are both skipped — the scale path. With the default
    (False), repeated (id, language) rows are the multi-valued-field
    mechanism (EventFields SetMultimap, query/.../parser/EventFields.java:
    38-41): values for the same field union per document.
    """
    config = config or EngineConfig()
    scalar_fields = scalar_fields or DEFAULT_SCALAR_FIELDS

    # Single select instead of two withColumns: every DataFrame op runs
    # the analyzer eagerly over the whole subtree (the plans here carry
    # the BMP translate literals), so the build graph is kept to the
    # minimum op count — ~16 sequential transformations cost ~0.5-1.2 s
    # of pure driver time per index build (r14 verdict #1, guide §7.3).
    base = articles.select(
        "*",
        (F.col("id") % config.num_partitions).cast("int").alias("partition_id"),
        F.col("id").cast("long").alias("doc_id"),
    )

    # --- event cells (doc_fields): raw scalar field values -----------------
    fv_structs = [
        F.struct(F.lit(fname).alias("field"), F.col(col).cast("string").alias("value"))
        for fname, col in scalar_fields.items()
    ]
    # null values filtered INSIDE the array (before the explode) — one op
    # fewer, and fewer generated rows than explode-then-filter
    doc_fields = base.select(
        "partition_id",
        "language",
        "doc_id",
        F.explode(
            F.filter(F.array(*fv_structs), lambda s: s["value"].isNotNull())
        ).alias("fv"),
    ).select("partition_id", "language", "doc_id", "fv.field", "fv.value")

    # --- fi cells (field_index): normalized values, incl. tokenized TEXT ---
    scalar_fi = doc_fields.select(
        "partition_id",
        "field",
        normalize_col("value").alias("norm_value"),
        "language",
        "doc_id",
    )
    # one tokenize pass, shared: text_fi explodes _toks and docs_wide maps
    # it, so caching `tokenized` (persist()) tokenizes the corpus once
    tokenized = base.select(
        "*", tokenize_col(F.col(text_col), mode=config.tokenizer).alias("_toks")
    )
    # one select: the generator rides inline with the final column order
    text_fi = tokenized.select(
        "partition_id",
        F.lit("TEXT").alias("field"),
        F.explode(F.col("_toks")).alias("norm_value"),
        "language",
        "doc_id",
    )
    # With unique_ids, tokenize_col's distinct tokens + one row per
    # (doc, scalar field) make field_index rows unique by construction — no
    # dedup shuffle of the largest intermediate. Otherwise repeated
    # (id, language) article rows require a distinct() for set semantics
    # (duplicate postings would inflate global-index counts).
    assert "TEXT" not in scalar_fields, "TEXT is reserved for tokenized body text"
    field_index = scalar_fi.unionByName(text_fi)
    if not unique_ids:
        field_index = field_index.distinct()

    # --- global index with two-tier degradation (A1) -----------------------
    global_index = _global_index_from_fi(field_index, config.uid_max)

    # --- reverse index (leading wildcards, WikipediaMapper.java:193-197) ---
    reverse_index = global_index.withColumn("norm_value", F.reverse(F.col("norm_value")))

    # --- metadata catalog (LAZY) -------------------------------------------
    # field existence (colf `e`, WikipediaMapper.java:144-151), indexed flag
    # + normalizer (colf `i`, :199-208), and the summed frequency column
    # (colf `f`, SummingCombiner attached at WikipediaIngester.java:129-136).
    # Constructed as a thunk: the planner first reads metadata at its
    # indexed_fields lookup, never during the build/materialize hot path —
    # eager construction cost 5 driver ops on every build_index call.
    def metadata_thunk() -> DataFrame:
        all_fields = field_index.select("field", "language").distinct()
        if config.indexed_fields is None:
            indexed_expr = F.lit(True)
        else:
            indexed_expr = F.col("field").isin(*sorted(config.indexed_fields))
        freq = doc_fields.groupBy("field", "language").agg(
            F.count("*").alias("freq")
        )
        return all_fields.join(freq, ["field", "language"], "left").select(
            "field",
            "language",
            indexed_expr.alias("indexed"),
            F.lit(config.normalizer).alias("normalizer"),
            F.coalesce(F.col("freq"), F.lit(0)).alias("freq"),
        )

    # --- term index for scored TEXT search (TermWeight, A2; LAZY) ---------
    # offsets = word positions; tf = occurrences / doc token count
    # (TermWeight.proto:25-28, TextIndexCombiner.java:40-106).
    # doc length rides along from before the explode (size of the token
    # array) instead of a second groupBy + join over the exploded rows —
    # one shuffle total for the term index. Thunk for the same reason as
    # metadata: only ranked/phrase queries touch it.
    def term_index_thunk() -> DataFrame:
        all_toks = tokenize_col(
            F.col(text_col), distinct=False, mode=config.tokenizer
        )
        tokens_pos = base.select(
            "partition_id",
            "language",
            "doc_id",
            F.size(all_toks).alias("_len"),
            F.posexplode(all_toks).alias("pos", "norm_value"),
        )
        return (
            tokens_pos.groupBy("partition_id", "language", "doc_id", "norm_value")
            .agg(
                F.count("*").alias("occurrences"),
                F.sort_array(F.collect_list("pos")).alias("offsets"),
                F.first("_len").alias("_len"),
            )
            .select(
                "partition_id",
                "language",
                "doc_id",
                "norm_value",
                "occurrences",
                (F.col("occurrences") / F.col("_len")).alias("tf"),
                "offsets",
                # per-doc token count, denormalized onto every posting row:
                # BM25 length normalization reads it for free instead of
                # re-aggregating doc lengths at query time (the standard
                # doc-length sidecar of an IR index, folded into the
                # posting rows)
                F.col("_len").cast("long").alias("doc_len"),
            )
        )

    # --- pivoted doc view for predicate evaluation (P7) --------------------
    # Reference: EvaluatingIterator aggregates a doc's cells into EventFields
    # then evaluates the full JEXL expr (AbstractEvaluatingIterator.java:138-157).
    # Built straight from the article row — map_from_entries over per-row
    # arrays — NOT by re-aggregating the exploded field_index: that shape
    # costs two wide shuffles (collect_list × 2) for data each doc already
    # holds. Zero shuffles this way; values are the same normalized strings
    # the field_index carries, so index path and evaluator stay symmetric.
    entry_structs = [
        F.struct(
            F.lit("TEXT").alias("field"),
            F.col("_toks").alias("vals"),
        )
    ] + [
        F.struct(
            F.lit(fname).alias("field"),
            F.filter(
                F.array(normalize_col(F.col(col).cast("string"))),
                lambda x: x.isNotNull(),
            ).alias("vals"),
        )
        for fname, col in scalar_fields.items()
    ]
    fields_map = F.map_from_entries(
        F.filter(
            F.array(*entry_structs),
            lambda e: e["vals"].isNotNull() & (F.size(e["vals"]) > 0),
        )
    )
    per_row = tokenized.select(
        "partition_id", "language", "doc_id", fields_map.alias("fields")
    ).where(F.size(F.map_keys(F.col("fields"))) > 0)
    if unique_ids:
        docs_wide = per_row  # zero-shuffle pivot
    else:
        # one shuffle: union duplicate-id rows' maps key-by-key with set
        # semantics (SetMultimap). Still cheaper than re-aggregating the
        # exploded EAV rows (one exchange of article-count rows vs two
        # exchanges of token-count rows).
        empty_arr = F.array().cast("array<string>")
        docs_wide = (
            per_row.groupBy("partition_id", "language", "doc_id")
            .agg(F.collect_list("fields").alias("_maps"))
            .select(
                "partition_id",
                "language",
                "doc_id",
                F.aggregate(
                    F.col("_maps"),
                    F.create_map().cast("map<string,array<string>>"),
                    lambda acc, m: F.map_zip_with(
                        acc,
                        m,
                        lambda _k, v1, v2: F.array_distinct(
                            F.concat(
                                F.coalesce(v1, empty_arr), F.coalesce(v2, empty_arr)
                            )
                        ),
                    ),
                ).alias("fields"),
            )
        )

    # --- document blobs (the `d` locality group, WikipediaMapper.java:210-214)
    documents = base.select(
        "partition_id", "language", "doc_id", F.col(text_col).alias("text")
    )

    return WikisearchIndex(
        config=config,
        doc_fields=doc_fields,
        field_index=field_index,
        global_index=global_index,
        reverse_index=reverse_index,
        metadata_thunk=metadata_thunk,
        term_index_thunk=term_index_thunk,
        docs_wide=docs_wide,
        documents=documents,
        _tokenized=tokenized,
        _gi_from_fi=True,
    )


#: catalogs whose on-disk bytes are below this write each table from ONE
#: task (`coalesce(1)` instead of the partition_id exchange): at that size
#: every table is a couple of row groups, so multi-task writes buy nothing
#: and each extra exchange+stage costs a job-latency round trip — the
#: compaction lane's dominant cost at small scale. Keyed on BYTES, never
#: on partition counts: a real corpus (GBs+) never trips it, keeping the
#: scale path's one-writer-task-per-shard layout (r14 verdict #7).
SMALL_CATALOG_BYTES = 256 << 20


def _docs_wide_writer(index: "WikisearchIndex", path: str, zorder, small: bool):
    """The docs_wide write job for :func:`write_index` — flat
    partition_id layout, or the Morton layout when ``zorder`` is set."""
    if zorder is None:
        d = index.docs_wide.coalesce(1) if small else index.docs_wide.repartition(
            "partition_id"
        )
        return lambda: write_layout(
            d, f"{path}/docs_wide", ("partition_id",), ("doc_id",)
        )
    return lambda: write_zordered_docs(
        index.docs_wide, f"{path}/docs_wide", zorder
    )


def _write_tables(index: WikisearchIndex, writes: list) -> None:
    """Run ``writes`` (zero-argument table writes over ``index``) as
    overlapping jobs over the tokenized base, persisted ONCE for all of
    them (released afterwards unless the caller had cached it)."""
    from concurrent.futures import ThreadPoolExecutor

    tok = index._tokenized
    own = tok is not None and not tok.storageLevel.useMemory
    try:
        if own:
            # materialize BEFORE the parallel writes: concurrent first-touch
            # of a lazy cache makes each thread compute its own partitions
            tok.persist().count()
        # one thread per table: a small write's serial cost is its DRIVER-
        # side planning/commit (4 workers paid two planning waves, ~0.4 s
        # of the sf0.1 compaction lane); on a cluster FIFO scheduling
        # backfills idle executors. Leaving the pool waits for every write.
        with ThreadPoolExecutor(max_workers=len(writes)) as ex:
            list(ex.map(lambda w: w(), writes))
    finally:
        if own:
            tok.unpersist()


def _refuse_existing_catalog(spark: SparkSession, path: str) -> None:
    """Raise when ``path`` already holds a catalog: a manifest, a
    generation directory, or any table directory."""
    from accumulo_wikisearch_spark.operators.manifest import (
        _GEN_RE,
        _MANIFEST_RE,
        _listing,
    )

    for n in _listing(spark, path):
        if _MANIFEST_RE.match(n) or _GEN_RE.match(n) or n in _CATALOG_TABLES:
            raise ValueError(
                f"write_index: {path} already holds a catalog ({n}). "
                "Catalogs are never rewritten in place — readers resolve "
                "the manifest's generation and would never see the new "
                "files. Fold new rows with write_delta + compact_index, "
                "or write the new catalog to a fresh staging path and "
                "adopt it with swap_in_catalog."
            )


def write_index(
    index: WikisearchIndex, path: str, zorder=None, catalog_bytes: int | None = None
) -> None:
    """Persist the catalog, laid out for 100 TB reads: partition-pruned by
    ``partition_id``, sorted within files by (field, norm_value) so per-term
    scans hit few row groups (sorted bulk load analogue, SURVEY §4 O19).

    Every table goes through :func:`layout.write_layout`, which keeps
    the declared within-file order on disk and leaves an empty table
    readable.

    ``catalog_bytes`` (the caller's measured on-disk size, when known)
    opts tables below :data:`SMALL_CATALOG_BYTES` into one-task writes —
    see the constant's note; None keeps the scale layout unconditionally.

    ``zorder`` (a :class:`layout.ZLayout`) opts docs_wide into the Morton
    layout instead: clustered on two scalar doc fields so two-key range
    boxes prune directories + row groups without the term index — the
    two-key generalization of the reference's sorted-shard range pruning
    (RangeCalculator.java:683-705). Trade: docs_wide's directory key
    becomes the z bucket, so the doc-range path's partition_id pruning
    degrades to row-group stats there; choose per catalog by its dominant
    query shape.

    The eight table writes go through :func:`_write_tables`, the
    concurrent, tokenize-once fan-out ``write_delta`` shares.

    ``path`` must not already hold a catalog (an empty directory is
    fine): a published generation is immutable and the manifest version
    is the catalog's only freshness marker, so an in-place rewrite
    would be invisible to readers. Raises ``ValueError`` then."""
    _refuse_existing_catalog(index.field_index.sparkSession, path)
    small = catalog_bytes is not None and catalog_bytes < SMALL_CATALOG_BYTES

    def shard(df: DataFrame) -> DataFrame:
        # one task when the catalog is measured tiny (drops an exchange +
        # stage per write job); one writer task per shard otherwise
        return df.coalesce(1) if small else df.repartition("partition_id")

    def by_field(df: DataFrame) -> DataFrame:
        return df.coalesce(1) if small else df.repartition(F.col("field"))

    pid = ("partition_id",)
    writes = [
        lambda: write_layout(
            shard(index.field_index),
            f"{path}/field_index",
            pid,
            ("field", "norm_value"),
        ),
        lambda: write_layout(
            by_field(index.global_index),
            f"{path}/global_index",
            sort_by=("field", "norm_value"),
        ),
        lambda: write_layout(
            by_field(index.reverse_index),
            f"{path}/reverse_index",
            sort_by=("field", "norm_value"),
        ),
        lambda: write_layout(index.metadata.coalesce(1), f"{path}/metadata"),
        lambda: write_layout(
            shard(index.doc_fields), f"{path}/doc_fields", pid, ("doc_id",)
        ),
        lambda: write_layout(
            shard(index.term_index), f"{path}/term_index", pid, ("norm_value",)
        ),
        _docs_wide_writer(index, path, zorder, small),
        lambda: write_layout(
            shard(index.documents), f"{path}/documents", pid, ("doc_id",)
        ),
    ]
    _write_tables(index, writes)


def write_index_bucketed(
    index: WikisearchIndex,
    spark: SparkSession,
    db: str = "wikisearch",
    num_buckets: int = 32,
    location: str | None = None,
) -> None:
    """Persist the catalog as BUCKETED tables: ``field_index`` and
    ``docs_wide`` bucketed by ``(partition_id, language, doc_id)`` — the
    exact language-qualified posting key every posting intersection and the
    final doc-fetch semi-join cluster on (Spark's default co-partition check
    requires ALL cluster keys, so bucketing on any subset would still
    shuffle) — with one shared bucket count. The whole optimized query path then runs with ZERO shuffle
    exchanges (only cheap in-partition sorts for the merge joins).

    This is the 100 TB layout: the reference gets the same effect from
    Accumulo's shard-row co-location (one tablet holds a partition's fi cells
    AND event cells, README.md:76-86); bucketing is Spark's native form of
    it. Within each bucket, files sort by (field, norm_value) so leaf
    predicates still skip row groups. ``num_buckets`` sizes to ~executor
    count at the target scale."""
    loc = f" LOCATION '{location}'" if location else ""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}{loc}")
    (
        index.field_index.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, "partition_id", "language", "doc_id")
        .sortBy("field", "norm_value")
        .saveAsTable(f"{db}.field_index")
    )
    (
        index.docs_wide.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, "partition_id", "language", "doc_id")
        .sortBy("doc_id")
        .saveAsTable(f"{db}.docs_wide")
    )
    for name, df in [
        ("global_index", index.global_index),
        ("reverse_index", index.reverse_index),
        ("metadata", index.metadata),
        ("term_index", index.term_index),
        ("doc_fields", index.doc_fields),
        ("documents", index.documents),
    ]:
        df.write.mode("overwrite").format("parquet").saveAsTable(f"{db}.{name}")


def load_index_bucketed(
    spark: SparkSession, db: str = "wikisearch", config: EngineConfig | None = None
) -> WikisearchIndex:
    """Load a catalog written by :func:`write_index_bucketed`; joins on
    ``doc_id`` between the bucketed tables plan with no shuffle exchange."""
    config = config or EngineConfig()
    t = lambda n: spark.table(f"{db}.{n}")
    return WikisearchIndex(
        config=config,
        doc_fields=t("doc_fields"),
        field_index=t("field_index"),
        global_index=t("global_index"),
        reverse_index=t("reverse_index"),
        metadata=t("metadata"),
        term_index=t("term_index"),
        docs_wide=t("docs_wide"),
        documents=t("documents"),
    )


#: table dirs a catalog load opens — read order is irrelevant (independent
#: paths), so loads fan the footer/schema reads out over a thread pool
_CATALOG_TABLES = (
    "doc_fields",
    "field_index",
    "global_index",
    "reverse_index",
    "metadata",
    "term_index",
    "docs_wide",
    "documents",
)


def _read_tables(spark: SparkSession, root: str) -> dict[str, DataFrame]:
    """Open every catalog table under ``root`` CONCURRENTLY. Each
    ``spark.read.parquet`` pays a blocking file-listing + footer
    schema-read round-trip (~50-100 ms locally, more on object stores);
    eight sequential opens made catalog load latency-bound on pure
    metadata I/O (measured ~40% of load_index_with_deltas at sf0.1).
    Threads each take their own DataFrameReader; plan construction is
    independent per table."""
    from concurrent.futures import ThreadPoolExecutor

    def rd(name: str):
        return name, spark.read.parquet(f"{root}/{name}")

    with ThreadPoolExecutor(max_workers=len(_CATALOG_TABLES)) as ex:
        return dict(ex.map(rd, _CATALOG_TABLES))


def load_index(
    spark: SparkSession,
    path: str,
    config: EngineConfig | None = None,
    at_version: int | None = None,
) -> WikisearchIndex:
    """Open a catalog — current state, or a pinned snapshot.

    ``at_version=N`` is time travel: resolve through ``_MANIFEST.N.json``
    to the exact generation the rewrite at version N published (its
    folded deltas included; anything flushed or rewritten later
    excluded). Published generations are immutable, so the returned
    index is a FROZEN snapshot — the facade's freshness probe and the
    merge-read delta fold are deliberately disabled (``catalog_path``
    None), and a query plan never pays an FS probe. This is the
    reproducibility pin a training pipeline needs: record
    ``manifest.list_versions()[-1]`` when a run starts and every re-read
    of the corpus sees byte-identical data regardless of ongoing ingest.
    A snapshot stays readable while its manifest is retained
    (``retain_generations`` on the maintenance ops sizes that history);
    loading a retired version raises with the retained list."""
    from accumulo_wikisearch_spark.operators.layout import load_zlayout
    from accumulo_wikisearch_spark.operators.manifest import (
        read_manifest_at,
        resolve_root,
    )

    config = config or EngineConfig()
    if at_version is not None:
        m = read_manifest_at(spark, path, at_version)
        root, version = f"{path}/{m['generation']}", int(m["version"])
    else:
        # a rewritten catalog resolves through its manifest pointer to the
        # current generation directory; never-rewritten catalogs keep their
        # flat legacy layout (root == path, version None)
        root, version = resolve_root(spark, path)
    live = at_version is None
    t = _read_tables(spark, root)
    return WikisearchIndex(
        config=config,
        **t,
        # a z-ordered store self-describes via _ZLAYOUT.json; the planner
        # then box-prunes docs_wide scans (layout.zprune_docs). Flat
        # stores have no sidecar → None.
        zlayout=load_zlayout(spark, f"{root}/docs_wide"),
        # a snapshot gets catalog_path None: the facade then treats it
        # like an in-memory index — no freshness probe, no self-heal, no
        # pending-delta fold — so it never drifts
        catalog_path=path if live else None,
        manifest_version=version,
        # a plain load folds NO pending deltas; the facade probe compares
        # this against the on-disk pending set and upgrades to the
        # merge-read view on first query when batches are waiting
        merged_deltas=() if live else None,
    )
