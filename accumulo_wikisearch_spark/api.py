"""Engine facade — the Spark equivalent of the reference's REST/EJB surface.

- ``Wikisearch.ingest`` ≙ the ingest MR job (``WikipediaIngester.run``)
- ``Wikisearch.query`` ≙ ``Query.query(query, auths)``
  (``query/.../query/Query.java:214-248`` → ``AbstractQueryLogic.runQuery``)
- ``Wikisearch.content`` ≙ ``Query.content`` / ``ContentLogic.runQuery``
  (``query/.../logic/ContentLogic.java:66-107``)
- ``Wikisearch.scored_search`` — ranked text search over the TermWeight
  index (``TermWeight.proto``, ``TextIndexCombiner.java``), the reference
  stores scores but never ranks; we expose the natural ranked query.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from accumulo_wikisearch_spark.config import EngineConfig
from accumulo_wikisearch_spark.operators.ingest import WikisearchIndex, build_index
from accumulo_wikisearch_spark.plans import parser
from accumulo_wikisearch_spark.plans.planner import run_query
from accumulo_wikisearch_spark.functions.normalize import normalize_str

# DOCUMENT:partition/lang/id — pointer grammar at ContentLogic.java:56
_POINTER_RE = re.compile(r"^DOCUMENT:(\d+)/([^/]+)/(\d+)$")

# TEXT_MATCH('<jexl>') / TEXT_MATCH("<jexl>") inside a SQL string
_TEXT_MATCH_RE = re.compile(
    r"TEXT_MATCH\(\s*(?:'((?:[^']|'')*)'|\"([^\"]*)\")\s*\)", re.IGNORECASE
)


def _ranked_and(
    term_index: DataFrame,
    ts: list[str],
    auths: list[str] | None,
    weight: Column,
    name: str,
    limit: int | None,
    df_map: Column | None = None,
) -> DataFrame:
    """THE ranked-AND plan every ``scored_search_*`` builds: one posting
    scan for the terms ``ts``, the per-row ``weight`` summed per doc as
    ``name``, the AND as a distinct-term-count filter, then the rank
    order and the limit. ``df_map`` (a term→document-frequency map)
    adds the ``_df`` column ``weight`` may read."""
    keys = ["partition_id", "language", "doc_id"]
    ti = term_index.where(F.col("norm_value").isin(*ts))
    if auths:
        ti = ti.where(F.col("language").isin(*auths))
    if df_map is not None:
        ti = ti.withColumn("_df", df_map[F.col("norm_value")])
    g = (
        ti.withColumn("w", weight)
        .groupBy(*keys)
        .agg(
            F.sum("w").alias(name),
            # (doc, term) posting rows are unique by construction (build
            # groupBy / compaction re-fold), so a plain count IS the
            # distinct-term count — avoids the two-phase distinct
            # aggregation
            F.count("*").alias("_n_terms"),
        )
        .where(F.col("_n_terms") == len(ts))
        .select(*keys, name)
        .orderBy(F.desc(name), "doc_id")
    )
    return g.limit(limit) if limit else g


class Wikisearch:
    """Facade over ONE catalog. The cardinality/uid-posting and plan
    caches assume the index does not change underneath them; in-memory
    indexes (``build_index`` / ``incremental_update`` results) are
    immutable by construction, so updating one means wrapping the new
    WikisearchIndex in a fresh Wikisearch.

    DISK catalogs self-heal — the facade's answers track the store with
    the reference's queries-see-writes-during-ingest freshness
    (README.md:206-219): every compaction (including the one each
    ``stream_ingest`` batch runs after its flush) bumps the catalog's
    manifest version atomically (``operators/manifest.py``), every
    ``write_delta`` / ``stream_ingest_deltas`` / ``stream_ingest`` flush
    changes the pending-delta name set,
    and ``_fresh`` compares BOTH per query (two FS listings). On change
    the facade HEALS (``_heal``): it reloads the catalog through the
    merge-read view (fresh file listings, pending deltas folded), caches
    the new view's serving set once, releases the replaced view's
    caches, and starts fresh plan and cardinality caches. That
    pair is the ONLY freshness marker: a published generation is
    immutable (``write_index`` refuses to overwrite a catalog), so a z
    catalog's layout — and every prune literal a cached plan embeds —
    is a function of the manifest version.

    A healed view holds one cached copy of the serving set (field,
    global, term and metadata indexes and docs_wide; a z catalog's base
    stays a file scan) until the next heal or :meth:`close`. The heal
    request pays that copy; ``Wikisearch.open`` itself caches nothing."""

    def __init__(
        self,
        index: WikisearchIndex,
        multi_value_fields: frozenset[str] = frozenset({"TEXT"}),
        probe_ttl_s: float = 0.0,
    ):
        import threading

        self.index = index
        self.multi_value_fields = multi_value_fields
        # > 0 trades freshness for probe amortization: a probe result is
        # reused for this many seconds, so a facade serving thousands of
        # q/s against an object store pays LIST twice per TTL instead of
        # twice per query — at the cost of serving results up to TTL
        # seconds stale after a flush/rewrite. The default 0 probes every
        # query (the reference's queries-see-writes-during-ingest
        # freshness); staleness is BOUNDED either way, and a heal always
        # resolves the newest state.
        self.probe_ttl_s = probe_ttl_s
        # monotonic time of the last full probe; -inf = never probed
        # (monotonic()'s epoch is undefined — on a freshly-booted host
        # 0.0 would read as "probed uptime seconds ago" and silently
        # serve the construction epoch through the first TTL window)
        self._probe_stamp = float("-inf")
        # shared cardinality cache across queries (plan-cache analogue, O12)
        self._card_cache: dict = {}
        # full plan cache: (expr, auths, force_path) → (DataFrame, path).
        # DataFrames are immutable logical plans, so re-serving one skips
        # parse + planner round-trips + py4j plan construction entirely —
        # the reference's LRU of parsed queries (QueryParser cache, R1)
        # extended to the whole plan. Bounded FIFO.
        self._plan_cache: dict = {}
        self._plan_cache_max = 256
        # serializes the self-heal (reload + cache clears) against
        # concurrent query threads — the throughput/during-ingest shape:
        # without it, racing threads trigger redundant reloads and the
        # FIFO eviction can race a clear() into a KeyError
        self._heal_lock = threading.Lock()
        # (manifest_version, frozenset of folded delta names): manifests
        # are immutable and retention only changes the set when a new
        # version publishes, so the folded exclusion set is cacheable per
        # version — the pending-delta probe then costs ONE listStatus of
        # {path}/deltas instead of re-opening every manifest per query
        self._folded_cache: tuple | None = None

    def _pending_deltas(self, spark, path: str, mv: int | None, raw) -> frozenset:
        """Names of PENDING delta batches among the already-listed ``raw``
        set (the folded-name exclusion set is served from the
        per-manifest-version cache — zero extra listings here). Called
        lock-free: two threads racing the cache recompute both derive the
        same value for the same version, and the tuple assignment is
        atomic."""
        from accumulo_wikisearch_spark.operators.manifest import folded_deltas

        cached = self._folded_cache
        if cached is not None and cached[0] == mv:
            folded = cached[1]
        else:
            # capped at mv: a fold recorded by a manifest NEWER than the
            # version this probe read must not hide its batches from the
            # pending set, or the stale version would compare clean while
            # the batches disappear — with the cap, the value is a pure
            # function of mv (manifests are immutable), which is also
            # what makes this cache exact under racing threads
            folded = frozenset(
                folded_deltas(
                    spark, path, max_version=mv if mv is not None else 0
                )
            )
            self._folded_cache = (mv, folded)
        return frozenset(raw) - folded

    @classmethod
    def open(
        cls,
        spark,
        path: str,
        config: EngineConfig | None = None,
        at_version: int | None = None,
        probe_ttl_s: float = 0.0,
        multi_value_fields: frozenset[str] = frozenset({"TEXT"}),
    ) -> "Wikisearch":
        """One-call facade over a written catalog: live (self-healing,
        sees flushed writes per query) by default, or a FROZEN snapshot
        with ``at_version`` — the reproducibility pin
        (``load_index(at_version=...)``) behind the same serving API."""
        from accumulo_wikisearch_spark.operators.compaction import (
            load_index_with_deltas,
        )
        from accumulo_wikisearch_spark.operators.ingest import load_index

        if at_version is not None:
            index = load_index(spark, path, config, at_version=at_version)
        else:
            # the merge-read view directly: a base-only load of a catalog
            # under ingest would be thrown away by the first query's
            # freshness probe (pending != ()) — two full catalog loads
            # where one suffices (r11 review). Reduces to a plain load
            # when no deltas are pending.
            index = load_index_with_deltas(spark, path, config)
        return cls(
            index,
            multi_value_fields=multi_value_fields,
            probe_ttl_s=probe_ttl_s,
        )

    @classmethod
    def ingest(
        cls,
        articles: DataFrame,
        config: EngineConfig | None = None,
        scalar_fields: dict[str, str] | None = None,
        text_col: str = "text",
        unique_ids: bool = False,
    ) -> "Wikisearch":
        return cls(build_index(articles, config, scalar_fields, text_col, unique_ids))

    def _fresh(self):
        """Probe-and-heal, the single freshness gate EVERY serving path
        goes through — one facade must never answer ``query()`` from the
        merge-read view and ``count_only()``/``scored_search()`` from a
        stale one. Returns a consistent
        ``(index, card_cache, plan_cache, manifest_version)``.

        The probe runs LOCK-FREE: it is FS I/O (two listStatus calls),
        and serializing every caller on it capped a facade at the
        object store's LIST latency (~20-50 ms → ~20-50
        plans/s regardless of cluster size). The heal lock is taken only
        when staleness is actually detected, and the heal (``_heal``:
        reload, cache and build the new view, release the old one) runs
        under it — concurrent requests wait for the built
        view instead of each filling part of its cache. In-memory
        catalogs (catalog_path None) skip the FS work entirely."""
        import time

        with self._heal_lock:
            index = self.index
            plan_cache, card_cache = self._plan_cache, self._card_cache
        if (
            self.probe_ttl_s > 0
            and time.monotonic() - self._probe_stamp < self.probe_ttl_s
        ):
            # inside the TTL: serve the last-probed epoch as-is. Stale by
            # at most probe_ttl_s after a flush/rewrite — the documented
            # trade. (Attribute reads are GIL-atomic; a racing full probe
            # only makes this window end sooner.) The mv returned must be
            # what the FULL probe returns for this index — for probeless
            # indexes (time-travel snapshots carry a manifest_version but
            # catalog_path None) that is None, or the plan-cache key
            # would alternate between the two paths' keys and re-plan
            # every TTL lapse (r11 review).
            mv_key = (
                index.manifest_version if index.catalog_path is not None else None
            )
            return index, card_cache, plan_cache, mv_key
        mv = None
        if index.catalog_path is not None:
            # the universal freshness probe: every catalog rewrite
            # bumps the manifest version atomically, so ONE listing
            # detects compaction/streaming rewrites; a SECOND listing
            # of {path}/deltas catches newly-flushed PENDING batches,
            # which do not bump the version — without
            # it a long-lived facade over a stream_ingest_deltas
            # catalog misses streamed rows until the next compaction
            # (the reference's queries see writes DURING ingest,
            # README.md:206-219).
            #
            # ORDER MATTERS (r11 review): list the raw delta names
            # FIRST, the manifest version SECOND. A compaction that
            # completes between the two reads then shows up in the
            # version comparison (version read last = newest). The
            # reverse order had a one-query read-your-writes hole:
            # version read as N, compaction folds batch b and
            # publishes N+1, then the delta listing sees b already
            # folded — pending and version BOTH compare clean and a
            # write that durably completed before the query began is
            # invisible until the next probe. Folded batch dirs stay
            # on disk as reader grace until their manifest retires,
            # so a raw listing taken before the fold still contains
            # b either way — the stale raw set can only ADD names,
            # never hide one.
            from accumulo_wikisearch_spark.operators.compaction import (
                raw_delta_names,
            )
            from accumulo_wikisearch_spark.operators.manifest import (
                manifest_version,
            )

            spark = index.docs_wide.sparkSession
            raw = raw_delta_names(spark, index.catalog_path)
            mv = manifest_version(spark, index.catalog_path)
            pending = self._pending_deltas(spark, index.catalog_path, mv, raw)
        if index.catalog_path is not None and (
            mv != index.manifest_version
            or pending != frozenset(index.merged_deltas or ())
        ):
            with self._heal_lock:
                cur = self.index
                # another thread may have healed while we probed — its
                # reload is adoptable ONLY if it is at least as fresh as
                # what OUR probe observed: a winner that loaded before a
                # delta published (but before we probed it) would make a
                # client miss its own completed write (r11 review). A
                # mismatch in either direction just reloads — newest
                # state wins, and a redundant reload is rare and cheap
                # next to serving a stale answer.
                if (
                    cur is index
                    or cur.manifest_version != mv
                    or frozenset(cur.merged_deltas or ()) != pending
                ):
                    self._heal(spark, cur)
                # take the version the adopted reload resolved — a second
                # probe could race yet another rewrite and chase its tail
                index = self.index
                mv = index.manifest_version
                plan_cache, card_cache = self._plan_cache, self._card_cache
        self._probe_stamp = time.monotonic()
        return index, card_cache, plan_cache, mv

    def _heal(self, spark, cur: WikisearchIndex) -> None:
        """Replace the served view ``cur`` (caller holds the heal lock).

        The store changed underneath it: a rewrite flipped the manifest,
        or a delta batch was flushed. ``load_index_with_deltas`` reloads
        the catalog (fresh file listings, pending deltas folded). The new
        view's serving set is then persisted at a width sized from its
        documents and built in one concurrent pass HERE, so the heal
        request pays it once and the requests after it scan memory
        instead of re-running the combiner folds over base ∪ deltas.
        ``cur``'s caches are released only after that, so no request
        between the two runs uncached. A thread still holding a plan on
        ``cur`` recomputes it from files that reader grace keeps.

        Both derived caches are REPLACED (not cleared): a query thread
        that planned against ``cur`` may still insert its results after
        this point — with fresh dict objects its late writes land in the
        ORPHANED dicts and are never served (the r10 review's
        stale-plan-after-heal race).

        A session should hold ONE live facade per catalog: Spark keys a
        cache entry by plan, two facades healed onto one catalog build
        identical plans and so share entries, and one facade's release
        then leaves the other serving uncached until its own next heal."""
        from accumulo_wikisearch_spark.operators.compaction import (
            _catalog_bytes,
            load_index_with_deltas,
        )
        from accumulo_wikisearch_spark.operators.ingest import serving_width

        new = load_index_with_deltas(spark, cur.catalog_path, cur.config)
        if cur._persisted and (new.manifest_version, frozenset(new.merged_deltas)) == (
            cur.manifest_version,
            frozenset(cur.merged_deltas),
        ):
            # a racing heal already built this state (our probe predates
            # it): rebuilding would plan the same tables, share their
            # cache entries, and releasing ``cur`` would then drop them
            return
        width = serving_width(spark, _catalog_bytes(new.documents.inputFiles()))
        try:
            new.persist(width).materialize()
        except BaseException:
            # nothing will ever serve (or release) the half-built view
            new.unpersist_serving()
            raise
        self.index = new
        if cur._persisted:
            cur.unpersist_serving()
        self._card_cache = {}
        self._plan_cache = {}

    def close(self) -> None:
        """Release the serving caches of the view this facade holds — a
        healed disk view, or an in-memory index (``get_engine``,
        :meth:`ingest`) — and its plan and cardinality caches. The facade
        stays usable; its next requests read cold. The release is by plan
        (see :meth:`_heal`): it also evicts the same entries of another
        facade over the same catalog in this session."""
        with self._heal_lock:
            self.index.unpersist_serving()
            self._card_cache = {}
            self._plan_cache = {}

    def _planned(
        self, expr: str, auths: list[str] | None, force_path: str | None
    ) -> tuple[DataFrame, str]:
        return self._plan_with(self._fresh(), expr, auths, force_path)

    def _plan_with(
        self, state, expr: str, auths: list[str] | None, force_path: str | None
    ) -> tuple[DataFrame, str]:
        """Plan ``expr`` against an ALREADY-PROBED epoch (a ``_fresh()``
        tuple). Callers that compose several plans or pair a plan with
        direct table reads (``sql``'s views, ``count_only``'s fallback)
        pass one state so every piece answers from the same epoch — a
        second probe could heal mid-composition and silently mix epochs
        (r11 review)."""
        auths_key = tuple(sorted(auths)) if auths else None
        return self._memo_plan(
            state,
            (expr, auths_key, force_path),
            lambda index, card_cache: run_query(
                index,
                parser.parse(expr),
                auths,
                force_path,
                self.multi_value_fields,
                card_cache,
            ),
        )

    def _memo_plan(self, state, key: tuple, build):
        """THE plan cache insert: serve a repeated plan — boolean
        (``_plan_with``) or ranked/phrase — from the epoch-keyed bounded
        FIFO. This is plan caching — the reference's parsed-plan LRU —
        never result caching: the cached object is the lazy DataFrame
        and every execution still computes from the (cached) index
        tables. The manifest version joins the key so a plan built
        against generation N is never served to a generation-M query;
        the captured cache OBJECT pins late inserts to the epoch they
        were planned in. Dict reads are GIL-atomic — no lock needed."""
        index, card_cache, plan_cache, mv = state
        full_key = key + (mv,)
        hit = plan_cache.get(full_key)
        if hit is None:
            hit = build(index, card_cache)
            with self._heal_lock:
                if len(plan_cache) >= self._plan_cache_max:
                    # snapshot a key: a racing replace must not KeyError
                    k0 = next(iter(plan_cache), None)
                    if k0 is not None:
                        plan_cache.pop(k0, None)
                plan_cache[full_key] = hit
        return hit

    def query(
        self,
        expr: str,
        auths: list[str] | None = None,
        force_path: str | None = None,
    ) -> DataFrame:
        """Boolean query → matching docs (partition_id, language, doc_id)."""
        return self._planned(expr, auths, force_path)[0]

    def query_with_path(
        self, expr: str, auths: list[str] | None = None
    ) -> tuple[DataFrame, str]:
        return self._planned(expr, auths, None)

    def explain_query(self, expr: str, auths: list[str] | None = None) -> dict:
        """Planner introspection: which path a query takes and why (index
        tree, exact-coverage flag, per-term cardinality estimates). See
        ``plans/planner.py:explain_plan``."""
        from accumulo_wikisearch_spark.plans.planner import explain_plan

        index, card_cache = self._snapshot()
        return explain_plan(
            index,
            parser.parse(expr),
            auths,
            self.multi_value_fields,
            card_cache,
        )

    def _snapshot(self):
        """(index, card_cache) as a consistent PAIR, freshness probe
        applied (``_fresh``). An unlocked two-step attribute read could
        pair the pre-heal index with the post-heal cache — priming it
        with stale postings that later queries would serve as literal
        candidate relations (r10 review); and before r11 this path did
        not probe at all, so count_only/explain answered stale while
        query() answered fresh from the SAME facade."""
        index, card_cache, *_ = self._fresh()
        return index, card_cache

    def count_only(self, expr: str, auths: list[str] | None = None) -> DataFrame:
        """Count matching docs, answering from the global index ALONE when
        possible: a single exact-covering equality leaf needs only the
        O(#partitions × #languages) posting rows for that term — sum their
        counts, never touching postings or documents. An index-only
        aggregate the reference cannot do (its counts live in the same scan
        as the doc fetch); at 100 TB this is the difference between reading
        a few KB and running the query.

        Requires the engine's unique-ids corpus contract (duplicate article
        ids inflate global-index counts — the multimap semantics); any other
        query shape falls back to counting the full query result. Returns a
        one-row DataFrame (n BIGINT) either way."""
        from accumulo_wikisearch_spark.plans.planner import (
            IxLeaf,
            Planner,
            reduce_to_index_tree,
            to_nnf,
        )

        node = parser.parse(expr)
        state = self._fresh()  # ONE probe; the fallback plans on the same epoch
        index, card_cache = state[0], state[1]
        planner = Planner(index, self.multi_value_fields, card_cache)
        nnf = planner.expand_unfielded(to_nnf(node), auths)
        tree, exact = reduce_to_index_tree(
            nnf, planner.indexed_fields(), self.multi_value_fields
        )
        if exact and isinstance(tree, IxLeaf) and tree.kind == "eq" and not tree.negated:
            gi = index.global_index.where(
                (F.col("field") == tree.field) & (F.col("norm_value") == tree.value)
            )
            if auths:
                gi = gi.where(F.col("language").isin(*auths))
            return gi.agg(F.coalesce(F.sum("count"), F.lit(0)).cast("long").alias("n"))
        if exact and tree is not None:
            # any exact-covering tree whose leaves all sit in the exact-uid
            # tier: the boolean algebra already ran driver-side — the count
            # is the key-set size, ZERO Spark jobs (beyond the cached
            # metadata lookup)
            keys = planner.driver_candidates(tree, auths)
            if keys is not None:
                spark = index.global_index.sparkSession
                return spark.sql(f"SELECT CAST({len(keys)} AS BIGINT) AS n")
        return self._plan_with(state, expr, auths, None)[0].agg(
            F.count("*").cast("long").alias("n")
        )

    def query_page(
        self,
        expr: str,
        auths: list[str] | None = None,
        after_doc_id: int | None = None,
        page_size: int = 100,
    ) -> DataFrame:
        """Keyset pagination over query results: docs ordered by doc_id,
        strictly after ``after_doc_id``. Keyset (not OFFSET) because a page
        deep into OFFSET re-ranks everything before it; the keyset predicate
        composes with the index path and prunes like any other filter. The
        reference's web UI pages the same way implicitly (Accumulo scans
        resume from the last returned key)."""
        df = self.query(expr, auths=auths)
        if after_doc_id is not None:
            df = df.where(F.col("doc_id") > after_doc_id)
        return df.orderBy("doc_id").limit(page_size)

    def content(self, pointer: str, auths: list[str] | None = None) -> DataFrame:
        """Fetch a document body by DOCUMENT:partition/lang/id pointer —
        a partition-pruned point read (ContentLogic.java:66-107)."""
        m = _POINTER_RE.match(pointer)
        if not m:
            raise ValueError(f"bad content pointer {pointer!r}")
        part, lang, doc = int(m.group(1)), m.group(2), int(m.group(3))
        cond = (
            (F.col("partition_id") == part)
            & (F.col("language") == lang)
            & (F.col("doc_id") == doc)
        )
        if auths:
            cond = cond & F.col("language").isin(*auths)
        index = self._snapshot()[0]  # freshness probe, like every path
        return index.documents.where(cond).select("doc_id", "text")

    def fetch_documents(self, results: DataFrame) -> DataFrame:
        """Assemble result documents: id + fields + DOCUMENT content pointer
        — the reference's ``createDocument`` (AbstractQueryLogic.java:400-430),
        where each returned Document carries its event fields plus a
        ``DOCUMENT:partition/lang/id`` pointer for body retrieval.

        ``results`` is a query() output (partition_id, language, doc_id).
        """
        pointer = F.concat_ws(
            "/",
            F.concat(F.lit("DOCUMENT:"), F.col("partition_id").cast("string")),
            F.col("language"),
            F.col("doc_id").cast("string"),
        )
        assembled = self._snapshot()[0].doc_fields.groupBy(
            "partition_id", "language", "doc_id"
        ).agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("field"), F.col("value")))
            ).alias("fields")
        )
        return (
            results.join(assembled, ["partition_id", "language", "doc_id"])
            .withColumn("pointer", pointer)
            .select("doc_id", "language", "partition_id", "fields", "pointer")
        )

    def distinct_values(
        self,
        field: str,
        lo: str,
        hi: str,
        auths: list[str] | None = None,
    ) -> DataFrame:
        """Distinct indexed values of a field within [lo, hi] — the
        UniqFieldNameValueIterator (query/.../iterator/
        UniqFieldNameValueIterator.java:38-342), which feeds the reference's
        range→OR expansion; here it is a pushed-down distinct scan."""
        from accumulo_wikisearch_spark.functions.normalize import normalize_str

        fi = self._snapshot()[0].field_index.where(
            (F.col("field") == field.upper())
            & F.col("norm_value").between(normalize_str(lo), normalize_str(hi))
        )
        if auths:
            fi = fi.where(F.col("language").isin(*auths))
        return fi.select("norm_value").distinct()

    def scored_search(
        self, term: str, auths: list[str] | None = None, limit: int | None = None
    ) -> DataFrame:
        """Ranked search on the TermWeight index: docs containing ``term``
        ordered by term frequency (occurrences, tf)."""
        t = normalize_str(term)
        ti = self._snapshot()[0].term_index.where(F.col("norm_value") == t)
        if auths:
            ti = ti.where(F.col("language").isin(*auths))
        out = ti.select(
            "partition_id", "language", "doc_id", "occurrences", "tf", "offsets"
        ).orderBy(F.desc("occurrences"), "doc_id")
        return out.limit(limit) if limit else out

    def scored_search_multi(
        self, terms: list[str], auths: list[str] | None = None, limit: int | None = None
    ) -> DataFrame:
        """Ranked AND search: docs containing ALL terms, ordered by total
        term frequency (SURVEY §7 item 11 — TermWeight scoring composed
        over terms). One posting scan + one groupBy on doc; the n_terms
        equality filter is the AND, so no per-term join chain is needed —
        the right shape when terms share the ranking aggregation anyway."""
        ts = sorted({normalize_str(t) for t in terms})
        auths_key = tuple(sorted(auths)) if auths else None

        def build(index, _card_cache):
            return _ranked_and(
                index.term_index, ts, auths, F.col("occurrences"), "total_occ", limit
            )

        return self._memo_plan(
            self._fresh(), ("__multi__", tuple(ts), auths_key, limit), build
        )

    def phrase_search(
        self, terms: list[str], auths: list[str] | None = None
    ) -> DataFrame:
        """Exact phrase search via consecutive word offsets — the capability
        the reference's TermWeight.Info word-offset lists exist to serve
        (``ingest/src/main/protobuf/TermWeight.proto:25-28``,
        ``TextIndexCombiner.java:40-106``); our term_index carries the same
        offsets as a column.

        Plan (r14): ONE term_index scan filtered to the phrase's distinct
        terms (per-term IN list — parquet-pushable), grouped per doc into
        a term→offsets map, then the positional intersection evaluated
        row-locally over that map — the AndIterator intersection plus
        position arithmetic as a single grouped pass, replacing k pushed
        leaf scans + (k-1) keyed joins with one scan + one aggregation
        (same restructure as the planner's grouped eq-conjunct pass).
        (doc, term) posting rows are unique by construction, so the group
        row count IS the distinct-matched-term count. Returns
        (doc_id, n_matches)."""
        ts = [normalize_str(t) for t in terms]
        uts = sorted(set(ts))
        keys = ["partition_id", "language", "doc_id"]
        auths_key = tuple(sorted(auths)) if auths else None

        def build(index, _card_cache):
            ti = index.term_index
            if auths:
                ti = ti.where(F.col("language").isin(*auths))
            g = (
                ti.where(F.col("norm_value").isin(*uts))
                .groupBy(*keys)
                .agg(
                    F.map_from_entries(
                        F.collect_list(F.struct("norm_value", "offsets"))
                    ).alias("_om"),
                    F.count("*").alias("_nt"),
                )
                .where(F.col("_nt") == len(uts))
            )

            def _alive(s):
                # phrase-start offset s survives iff every later term has
                # an occurrence at s + its position (single-parameter
                # lambda: a second one would receive the ARRAY INDEX)
                cond = None
                for i in range(1, len(ts)):
                    c = F.array_contains(F.col("_om")[ts[i]], s + F.lit(i))
                    cond = c if cond is None else cond & c
                return cond

            o = F.col("_om")[ts[0]]
            if len(ts) > 1:
                o = F.filter(o, _alive)
            return (
                g.withColumn("o", o)
                .where(F.size("o") > 0)
                .select("doc_id", F.size("o").cast("long").alias("n_matches"))
            )

        return self._memo_plan(
            self._fresh(), ("__phrase__", tuple(ts), auths_key), build
        )

    def sql(self, query: str, auths: list[str] | None = None) -> DataFrame:
        """``spark.sql`` over the catalog with ``TEXT_MATCH('<jexl>')``
        predicate rewriting — the transparent-SQL integration SURVEY §4
        flags as the optional stretch beyond plan-construction. A true
        Catalyst rule would need Scala; the same effect is achieved by
        rewriting the SQL text: each ``TEXT_MATCH`` call runs through the
        full index planner (optimized path, cardinality ordering, auths) and
        is substituted with a ``doc_id IN (SELECT …)`` semi-join against the
        resulting candidate view — Catalyst then plans the IN-subquery as a
        left-semi join like any other.

        Catalog tables are exposed as views ``ws_documents``, ``ws_docs_wide``,
        ``ws_field_index``, ``ws_global_index``, ``ws_metadata``,
        ``ws_term_index``. JEXL single quotes are doubled per SQL convention:
        ``TEXT_MATCH('TEXT == ''dup''')`` or use double quotes
        ``TEXT_MATCH("TEXT == 'dup'")``.
        """
        # ONE probe: the registered views AND every TEXT_MATCH plan come
        # from the same state tuple — re-probing inside the substitution
        # callback could heal to a newer epoch mid-statement, semi-joining
        # delta doc_ids against views that don't contain them
        state = self._fresh()
        index = state[0]
        spark = index.documents.sparkSession
        for name, df in [
            ("ws_documents", index.documents),
            ("ws_docs_wide", index.docs_wide),
            ("ws_field_index", index.field_index),
            ("ws_global_index", index.global_index),
            ("ws_metadata", index.metadata),
            ("ws_term_index", index.term_index),
        ]:
            df.createOrReplaceTempView(name)

        counter = [0]

        def repl(m: re.Match) -> str:
            jexl = m.group(1) if m.group(1) is not None else m.group(2)
            jexl = jexl.replace("''", "'")
            res = self._plan_with(state, jexl, auths, None)[0]
            counter[0] += 1
            view = f"_ws_text_match_{counter[0]}"
            res.select("doc_id").createOrReplaceTempView(view)
            return f"doc_id IN (SELECT doc_id FROM {view})"

        return spark.sql(_TEXT_MATCH_RE.sub(repl, query))

    def term_cardinalities(
        self, terms: list[str], auths: list[str] | None = None
    ) -> DataFrame:
        """(term, field, n_docs) for each term across every field it appears
        in — the corpus statistics table the reference publishes
        (README.md:141-163: per-term cardinalities backing its benchmark) and
        the same global-index aggregate the planner's AND-ordering uses (O3,
        RangeCalculator.java:664-672). One pushed-down scan of the tiny
        global-index slice; no corpus access."""
        norm = sorted({normalize_str(t) for t in terms})
        gi = self._snapshot()[0].global_index.where(F.col("norm_value").isin(*norm))
        if auths:
            gi = gi.where(F.col("language").isin(*auths))
        return gi.groupBy(
            F.col("norm_value").alias("term"), "field"
        ).agg(F.sum("count").alias("n_docs"))

    def _text_df_map(self, index, card_cache, ts: list[str]) -> Column:
        """term→document-frequency map literal for ranked search: df per
        TEXT term resolved through the planner's TermInfo cache (the same
        global-index counts boolean planning batches and caches — O3), so
        a warm ranked query runs ZERO metadata jobs where it used to pay a
        ≤|terms|-row aggregate + broadcast build per call. df is summed
        over all partitions AND languages (auths never filtered the df
        side — idf is a corpus-wide statistic), which is exactly
        TermInfo.count under the no-auths context."""
        from accumulo_wikisearch_spark.plans.planner import IxAnd, IxLeaf, Planner

        planner = Planner(index, self.multi_value_fields, card_cache)
        infos = planner.eq_term_info(
            IxAnd(tuple(IxLeaf("TEXT", "eq", value=t) for t in ts)), None
        )
        return F.create_map(
            *[
                x
                for t in ts
                for x in (F.lit(t), F.lit(infos[("TEXT", t)].count).cast("long"))
            ]
        )

    def scored_search_tfidf(
        self, terms: list[str], auths: list[str] | None = None, limit: int | None = None
    ) -> DataFrame:
        """Ranked AND search with IDF weighting: docs containing ALL terms,
        scored by Σ_t floor(occ_t · (N+1) · 1000 / (df_t + 1)) — a
        rational-idf TF-IDF kept in exact int64 arithmetic (no transcendental
        functions), so scores are deterministic across engines.

        df_t comes from the global index (posting counts summed over
        partitions — the cardinalities the planner already uses, O3), N from
        the cached corpus count. r14: df enters the plan as a term→df map
        LITERAL resolved through the planner's TermInfo cache (one batched
        tiny collect on first use, shared with boolean-query planning)
        instead of a per-query broadcast join — the ≤|terms|-row aggregate
        job and the join node both disappear from every warm query."""
        ts = sorted({normalize_str(t) for t in terms})
        auths_key = tuple(sorted(auths)) if auths else None

        def build(index, card_cache):
            n_total = index.doc_count()
            return _ranked_and(
                index.term_index,
                ts,
                auths,
                F.expr(f"(occurrences * {(n_total + 1) * 1000}L) div (_df + 1)"),
                "score",
                limit,
                self._text_df_map(index, card_cache, ts),
            )

        return self._memo_plan(
            self._fresh(), ("__tfidf__", tuple(ts), auths_key, limit), build
        )

    def scored_search_bm25(
        self, terms: list[str], auths: list[str] | None = None, limit: int | None = None
    ) -> DataFrame:
        """Ranked AND search with BM25 weighting (k1=1.2, b=0.75), kept in
        exact int64 arithmetic. With A = total corpus tokens, N = corpus
        docs, L = doc token count, the per-term contribution

            idf · occ·(k1+1) / (occ + k1·(1-b+b·L·N/A))

        clears denominators (×10A, rational idf (N+1)/(df+1) at scale 100)
        into the single integer division

            (2200·(N+1)·A·occ) div ((df+1)·(10A·occ + 3A + 9·N·L))

        — no floats, no ln, so scores are bit-identical across engines. At
        true 100 TB scale the constants outgrow int64; the same expression
        runs in DECIMAL(38,0) unchanged.

        Plan: ONE scan of the TermWeight index for the query terms (doc
        lengths ride on the posting rows — the index's doc-length sidecar),
        one groupBy on doc. The AND is the n-distinct-terms filter on the
        same aggregation. r14: df enters as a term→df map literal from the
        planner's TermInfo cache (see scored_search_tfidf) — no per-query
        broadcast-join job."""
        ts = sorted({normalize_str(t) for t in terms})
        auths_key = tuple(sorted(auths)) if auths else None

        def build(index, card_cache):
            n_total = index.doc_count()
            a_total = index.token_count()
            c1 = 2200 * (n_total + 1) * a_total
            return _ranked_and(
                index.term_index,
                ts,
                auths,
                F.expr(
                    f"({c1}L * occurrences) div "
                    f"((_df + 1) * ({10 * a_total}L * occurrences"
                    f" + {3 * a_total}L + {9 * n_total}L * doc_len))"
                ),
                "score",
                limit,
                self._text_df_map(index, card_cache, ts),
            )

        return self._memo_plan(
            self._fresh(), ("__bm25__", tuple(ts), auths_key, limit), build
        )

    def more_like_this(
        self,
        doc_id: int,
        auths: list[str] | None = None,
        top_terms: int = 16,
        limit: int | None = None,
    ) -> DataFrame:
        """Similar-document retrieval over the inverted index: take the seed
        doc's ``top_terms`` rarest TEXT terms (lowest document frequency —
        the most discriminative ones, deterministic tie-break on the term),
        then rank other docs by the summed rational idf of the terms they
        share: Σ ((N+1)·1000) div (df+1). The shared-rare-term candidate
        join is the classic more-like-this construction (Lucene's MLT shape)
        on our global/TermWeight index.

        r15 shape (r14 verdict #6 — no unbounded collect in any query
        path): the rare-term pick happens DF-SIDE. The seed doc's distinct
        terms (one pushed term_index point scan) broadcast-semi-join the
        global index's TEXT slice, df is aggregated per term, and
        ``orderBy(df, term).limit(top_terms)`` picks the winners — the
        only driver collect is those ≤ top_terms rows. df is summed over
        all partitions AND languages with NO auth filter (idf is a
        corpus-wide statistic), identical to the TermInfo.count the r14
        driver-side pick used; term_index ⊆ global_index by construction
        (build, merge, compaction all derive them from the same postings;
        tombstones shrink term_index only), so the inner join loses no
        seed term. The candidate fetch is then a term_index scan with the
        top-terms IN list PUSHED TO PARQUET — at scale, row-group pruning
        instead of a broadcast join over the full TEXT posting stream."""
        index, _card_cache = self._snapshot()
        n_total = index.doc_count()
        ti = index.term_index
        if auths:
            ti = ti.where(F.col("language").isin(*auths))
        seed_terms = (
            ti.where(F.col("doc_id") == doc_id).select("norm_value").distinct()
        )
        top_rows = (
            index.global_index.where(F.col("field") == "TEXT")
            .join(F.broadcast(seed_terms), "norm_value")
            .groupBy("norm_value")
            .agg(F.sum("count").alias("_df"))
            .orderBy(F.asc("_df"), F.asc("norm_value"))
            .limit(top_terms)
            .collect()
        )
        if not top_rows:
            return (
                ti.where(F.lit(False))
                .select("partition_id", "language", "doc_id")
                .withColumn("score", F.lit(0).cast("long"))
                .withColumn("n_shared", F.lit(0).cast("long"))
            )
        top = [r["norm_value"] for r in top_rows]
        w_map = F.create_map(
            *[
                x
                for r in top_rows
                for x in (
                    F.lit(r["norm_value"]),
                    F.lit((n_total + 1) * 1000 // (int(r["_df"]) + 1)).cast("long"),
                )
            ]
        )
        cand = ti.where(F.col("norm_value").isin(*top)).where(
            F.col("doc_id") != doc_id
        )
        g = (
            cand.withColumn("w", w_map[F.col("norm_value")])
            .groupBy("partition_id", "language", "doc_id")
            .agg(F.sum("w").alias("score"), F.count("*").alias("n_shared"))
            .orderBy(F.desc("score"), "doc_id")
        )
        return g.limit(limit) if limit else g
