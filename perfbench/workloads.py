"""The benchmark's workloads. Each runs in one process with one client:
requests, flushes and compactions interleave in one fixed order, with no
background threads, so a given seed makes every run do the same work.

- ``search_hot``: read-only serving over the cached in-memory index; every
  timed request is a plan-cache hit.
- ``ingest_live``: flushes, keyword requests and compactions against a
  live on-disk catalog; each flush drops the facade's caches, so reads
  take the merge-read (cache-bypassing) path.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

import gen
from oracle import Oracle
from tracing import Tracer, spark_layer

# A run does a fixed amount of work for a given --seconds, whatever the
# host's speed: --seconds / NOMINAL_* whole units (at least one), where a
# unit is one pass over the search_hot pool, or one ingest_live period, and
# NOMINAL_* is roughly its time on 4 cores. Time-bounded loops would do
# one unit more or less depending on the host's speed, and units late in
# a fresh process run faster than early ones.
NOMINAL_ROUND_S = 5.0
NOMINAL_PERIOD_S = 30.0
# ingest_live shape: a period is K_FLUSHES flushes of BATCH articles, each
# followed by KEYWORD_PER_FLUSH keyword and HYBRID_PER_FLUSH hybrid
# requests, then one compaction
BATCH = 200
K_FLUSHES = 2
KEYWORD_PER_FLUSH = 4
HYBRID_PER_FLUSH = 2
ID_BASE = 1_000_000
CATALOG_TABLES = (
    "docs_wide", "documents", "doc_fields", "field_index", "global_index",
    "metadata", "reverse_index", "term_index",
)
CURATE_STAGES = (
    "textstats.text_quality", "curation.canonical_docs",
    "dedup.minhash_lsh_pairs", "dedup.connected_components",
    "curation.decontaminate_bloom", "curation.domain_cap",
    "sampling.domain_mixture", "sampling.write_training_shards",
)
KEYWORD_KINDS = {"query", "count", "bm25", "tfidf", "phrase"}
VECTOR_KINDS = {"hybrid"}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
    )


def _units(seconds: float, nominal: float) -> int:
    return max(1, round(seconds / nominal))


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Run:
    """State of one benchmark run: inputs, the session, the answers seen."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.tr = Tracer(trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.latency: dict[str, list[float]] = {}
        self.query_s = 0.0
        self.answered = 0
        self.last_plan: dict[str, object] = {}
        self.sf = os.path.join(work, "sf")
        os.makedirs(self.sf)
        self.docs = gen.make_docs(seed)
        gen.write_docs(self.docs, f"{self.sf}/documents.parquet")
        self.vecs = gen.make_embeddings(seed)
        gen.write_embeddings(self.vecs, f"{self.sf}/embeddings.parquet")
        self.oracle = Oracle(self.docs, self.vecs)
        self.pool = gen.make_pool(seed)

    # -- session -----------------------------------------------------------

    def start_session(self):
        from accumulo_wikisearch_spark.session import get_spark

        with self.tr.span("session.start"):
            self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tr.sc = self.spark.sparkContext
        return self.spark

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def peak_rss_mb(self) -> float:
        rss = _vm_hwm_mb("self")
        pid = self.jvm_pid()
        if pid is not None:
            rss += _vm_hwm_mb(pid)
        return rss

    def stop_session(self) -> None:
        """Stop Spark and wait until its JVM (and with it every Python
        worker it forked) has exited."""
        import subprocess

        from pyspark import SparkContext

        if self.spark is None:
            return
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            self.spark.stop()
        finally:
            self.spark = None
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- requests ----------------------------------------------------------

    def _plan(self, eng, kind: str, arg, timed: bool):
        """The facade call up to the lazy plan (``api.plan``)."""
        with self.tr.span("api.plan"):
            if kind == "query":
                df = eng.query(arg)
            elif kind == "count":
                df = eng.count_only(arg)
            elif kind == "bm25":
                df = eng.scored_search_bm25(arg)
            elif kind == "tfidf":
                df = eng.scored_search_tfidf(arg)
            else:
                df = eng.phrase_search(arg)
        if self.tr.on and kind == "query":
            if timed:
                self.tr.add("api.plan_calls")
                if self.last_plan.get(arg) is df:
                    self.tr.add("api.plan_cache_hits")
            self.last_plan[arg] = df
        return df

    def _answer(self, eng, req, ctx, timed: bool):
        from pyspark.sql import functions as F

        from accumulo_wikisearch_spark.operators import similarity

        kind, args = req["kind"], req["args"]
        if kind in KEYWORD_KINDS:
            df = self._plan(eng, kind, args[0], timed)
            if kind == "count":
                return df.collect()[0]["n"]
            return df.count()
        if kind == "hybrid":
            with self.tr.span("similarity.hybrid"):
                cand = eng.query(f"TEXT == '{args[0]}'").select("doc_id")
                rows = similarity.hybrid_search(cand, ctx["emb"], args[1]).collect()
            return [r["doc_id"] for r in sorted(rows, key=lambda r: r["rank"])]
        qs = similarity.self_queries_q8(ctx["emb"], n=gen.N_VECS).where(
            F.col("query_id") == args[0]
        )
        with self.tr.span("similarity.ivfpq"):
            rows = similarity.topk_ivf_pq_on_disk(
                self.spark, ctx["ivf"], ctx["cents"], ctx["books"], qs
            ).collect()
        return [r["neighbor_id"] for r in sorted(rows, key=lambda r: r["rank"])]

    def _check(self, req, got) -> bool:
        kind, args = req["kind"], req["args"]
        if kind in KEYWORD_KINDS:
            return got == self.oracle.count(req["where"])
        if kind == "hybrid":
            return self.oracle.hybrid_ok(req["where"], args[1], got)
        # IVF-PQ is approximate: check the shape of the answer here and
        # report recall against the exact top-k in the traced run
        qid = args[0]
        ok = (
            len(got) == 10
            and len(set(got)) == 10
            and qid not in got
            and all(0 <= g < gen.N_VECS for g in got)
        )
        if ok and self.tr.on:
            self.tr.spans["similarity.ivfpq_recall"].append(
                self.oracle.recall_at_k(qid, got)
            )
        return ok

    def serve(self, eng, req, ctx, timed: bool = True) -> float:
        """One request: answer, check, record. Returns its latency (s).
        An exception or a wrong answer counts as a failure; neither stops
        the run."""
        if req["where"]:
            self.oracle.ids(req["where"])  # expected answer, untimed
        before = eng.index if eng is not None else None
        self.attempted += 1
        ok = False
        t0 = time.perf_counter()
        try:
            with self.tr.group(req["kind"] if timed else "warm"):
                got = self._answer(eng, req, ctx, timed)
            dt = time.perf_counter() - t0
            ok = self._check(req, got)
        except Exception:
            dt = time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
        if not ok:
            self.failed += 1
            _log(f"wrong or failed answer: {req['key']}")
        if timed:
            self.query_s += dt
            if ok:
                self.answered += 1
                self.latency.setdefault(req["kind"], []).append(dt)
            if eng is not None and eng.index is not before:
                self.tr.add("api.heals")
            if self.tr.on and req["kind"] == "query":
                self._trace_plans(eng, req["args"][0], ctx)
        return dt

    def _trace_plans(self, eng, expr: str, ctx) -> None:
        """Untimed extra calls that attribute planning cost to its layers."""
        from accumulo_wikisearch_spark.operators import compaction, manifest
        from accumulo_wikisearch_spark.plans import parser, planner

        tr = self.tr
        with tr.span("plans.parse"):
            node = parser.parse(expr)
        with tr.span("plans.plan"):
            planner.run_query(
                eng.index, node, multi_value_fields=eng.multi_value_fields,
                card_cache={},
            )
        tr.add(f"plans.tier.{eng.explain_query(expr)['path']}")
        if ctx.get("catalog"):
            with tr.span("manifest.probe"):
                compaction.raw_delta_names(self.spark, ctx["catalog"])
                manifest.manifest_version(self.spark, ctx["catalog"])

    # -- results -----------------------------------------------------------

    def _lat_ms(self, kinds: set[str]) -> list[float]:
        return [x * 1000 for k in kinds for x in self.latency.get(k, [])]

    def e2e(self, setup_s: float, articles: int, write_s: float) -> dict:
        return {
            "setup_s": setup_s,
            "queries_per_s": self.answered / self.query_s,
            "search_p50_ms": statistics.median(self._lat_ms(KEYWORD_KINDS)),
            "vector_p50_ms": statistics.median(self._lat_ms(VECTOR_KINDS)),
            "articles_per_s": articles / write_s,
            "peak_rss_mb": self.peak_rss_mb(),
        }


UNITS = {
    "setup_s": "s",
    "queries_per_s": "req/s",
    "search_p50_ms": "ms",
    "vector_p50_ms": "ms",
    "articles_per_s": "articles/s",
    "peak_rss_mb": "MB",
}


def _layer_units() -> dict[str, str]:
    u = {
        "session.start_s": "s",
        "ingest.build_s": "s",
        "ingest.write_index_s": "s",
        **{f"ingest.catalog_bytes.{t}": "B" for t in CATALOG_TABLES},
        "catalog.bytes_per_input_byte": "ratio",
        "api.plan_ms": "ms",
        "api.plan_cache_hit_ratio": "ratio",
        "api.heals": "count",
        "api.first_after_flush_ms": "ms",
        "plans.parse_ms": "ms",
        "plans.plan_ms": "ms",
        "plans.tier.optimized": "count",
        "plans.tier.fullscan": "count",
        "plans.tier.dualpath": "count",
        "manifest.probe_ms": "ms",
        "compaction.write_delta_ms": "ms",
        "compaction.delta_bytes": "B",
        "compaction.load_with_deltas_ms": "ms",
        "compaction.pending_deltas": "count",
        "compaction.compact_ms": "ms",
        "compaction.files_before": "count",
        "compaction.files_after": "count",
        "compaction.rewrite_bytes": "B",
        "similarity.hybrid_ms": "ms",
        "similarity.ivfpq_ms": "ms",
        "similarity.ivfpq_recall_at_10": "ratio",
        "similarity.write_ivf_pq_s": "s",
        **{f"{s}_ms": "ms" for s in CURATE_STAGES},
        "dedup.lsh_pairs": "count",
        "pipeline.kept_docs": "count",
        "spark.exec_ms": "ms",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.executor_cpu_ms": "ms",
        "spark.gc_ms": "ms",
        "spark.input_bytes": "B",
        "spark.shuffle_write_bytes": "B",
        "spark.driver_only_ms": "ms",
    }
    u.update({f"traced.{k}": v for k, v in UNITS.items() if k != "setup_s"})
    return u


LAYER_UNITS = _layer_units()


def search_hot(r: Run) -> dict:
    """Setup: index build + materialize, one untimed warm pass over the
    request pool. Then seeded permutations of the pool, closed loop. The
    traced run then also writes an IVF-PQ index and serves single-vector
    top-k requests from it."""
    from accumulo_wikisearch_spark.sources.corpus import get_engine

    tr = r.tr
    t0 = time.perf_counter()
    spark = r.start_session()
    t = time.perf_counter()
    eng = get_engine(spark, r.sf)
    eng.index.materialize()
    build_s = time.perf_counter() - t
    setup_s = time.perf_counter() - t0
    tr.record("ingest.build", build_s)
    ctx = {"emb": spark.read.parquet(f"{r.sf}/embeddings.parquet")}

    t_warm = time.perf_counter()
    for req in r.pool:
        r.serve(eng, req, ctx, timed=False)
    _log(f"setup {setup_s:.1f} s, warm pass {time.perf_counter() - t_warm:.1f} s")
    t_start = time.perf_counter()
    rounds = _units(r.seconds, NOMINAL_ROUND_S)
    for req in gen.make_stream(r.seed, r.pool, rounds):
        r.serve(eng, req, ctx)
    _log(f"{rounds} rounds in {time.perf_counter() - t_start:.1f} s")
    out = r.e2e(setup_s, gen.N_DOCS, build_s)
    if tr.on:
        ivf_pq(r, ctx)
    return out


def ivf_pq(r: Run, ctx: dict) -> None:
    """IVF-PQ write and single-vector top-k requests (traced run only)."""
    from accumulo_wikisearch_spark.operators import similarity

    ctx["ivf"] = os.path.join(r.work, "ivfpq")
    with r.tr.span("similarity.write_ivf_pq"):
        ctx["cents"], ctx["books"] = similarity.write_ivf_pq_index(ctx["emb"], ctx["ivf"])
    for qid in gen.make_vector_queries(r.seed):
        req = {"kind": "ivfpq", "args": [qid], "where": "", "key": f"ivfpq:{qid}"}
        r.serve(None, req, ctx, timed=False)


def ingest_live(r: Run) -> dict:
    """Setup: write a base catalog, open a live facade on it. Then
    periods; a period is ``K_FLUSHES`` times (flush one seeded batch, serve
    ``KEYWORD_PER_FLUSH`` keyword and ``HYBRID_PER_FLUSH`` hybrid
    requests), then one compaction."""
    from accumulo_wikisearch_spark.api import Wikisearch
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators import compaction
    from accumulo_wikisearch_spark.operators.ingest import build_index, write_index
    from accumulo_wikisearch_spark.sources.corpus import SCALAR_FIELDS, load_articles

    tr = r.tr
    cfg = EngineConfig(unevaluated_fields=frozenset({"TEXT"}))
    cat = os.path.join(r.work, "catalog")
    t0 = time.perf_counter()
    spark = r.start_session()
    with tr.span("ingest.build"):
        idx = build_index(
            load_articles(spark, r.sf), cfg, SCALAR_FIELDS, unique_ids=True
        )
    with tr.span("ingest.write_index"):
        write_index(idx, cat)
    eng = Wikisearch.open(spark, cat, cfg)
    setup_s = time.perf_counter() - t0
    if tr.on:
        for t in CATALOG_TABLES:
            if os.path.isdir(f"{cat}/{t}"):
                tr.set(f"ingest.catalog_bytes.{t}", _dir_bytes(f"{cat}/{t}"))
    ctx = {"emb": spark.read.parquet(f"{r.sf}/embeddings.parquet"), "catalog": cat}
    keyword = [q for q in r.pool if q["kind"] in KEYWORD_KINDS]
    hybrid = [q for q in r.pool if q["kind"] == "hybrid"]
    input_bytes = sum(len(d["text"].encode()) for d in r.docs)
    write_s, articles, batch_no = 0.0, 0, 0
    t_start = time.perf_counter()
    periods = _units(r.seconds, NOMINAL_PERIOD_S)
    for period in range(periods):
        for c in range(K_FLUSHES):
            batch = gen.make_batch(r.seed, r.docs, batch_no, BATCH, ID_BASE)
            bdir = os.path.join(r.work, "batches", str(batch_no))
            os.makedirs(bdir)
            gen.write_docs(batch, f"{bdir}/documents.parquet")
            r.oracle.add(batch)
            input_bytes += sum(len(d["text"].encode()) for d in batch)
            t = time.perf_counter()
            delta = build_index(
                load_articles(spark, bdir), cfg, SCALAR_FIELDS, unique_ids=True
            )
            t1 = time.perf_counter()
            compaction.write_delta(delta, cat, batch_no)
            t2 = time.perf_counter()
            write_s += t2 - t
            articles += BATCH
            tr.record("compaction.write_delta", t2 - t1)
            if tr.on:
                tr.spans["compaction.delta_bytes"].append(
                    _dir_bytes(f"{cat}/deltas/{batch_no}")
                )
                with tr.span("compaction.load_with_deltas"):
                    compaction.load_index_with_deltas(spark, cat, cfg)
            batch_no += 1
            # the same request shapes at the same places in every run (the
            # pool lists its shapes in a fixed order; the seed picks terms);
            # a stride of 5 over the 16 keyword requests mixes the shapes
            n = period * K_FLUSHES + c
            reqs = [
                keyword[(n * KEYWORD_PER_FLUSH + i) * 5 % len(keyword)]
                for i in range(KEYWORD_PER_FLUSH)
            ]
            for i in range(HYBRID_PER_FLUSH):
                h = hybrid[(n * HYBRID_PER_FLUSH + i) % len(hybrid)]
                reqs.insert(2 + 2 * i, h)
            for i, req in enumerate(reqs):
                dt = r.serve(eng, req, ctx)
                if i == 0:
                    tr.record("api.first_after_flush", dt)
        wall0 = time.time()
        t = time.perf_counter()
        stats = compaction.compact_index(spark, cat, cfg)
        dt = time.perf_counter() - t
        write_s += dt
        tr.record("compaction.compact", dt)
        if tr.on:
            tr.spans["compaction.pending_deltas"].append(stats["n_deltas"])
            tr.spans["compaction.files_before"].append(stats["files_before"])
            tr.spans["compaction.files_after"].append(stats["files_after"])
            tr.spans["compaction.rewrite_bytes"].append(
                sum(
                    os.path.getsize(os.path.join(dp, f))
                    for dp, _, fs in os.walk(cat)
                    for f in fs
                    if os.path.getmtime(os.path.join(dp, f)) >= wall0
                )
            )
    _log(
        f"setup {setup_s:.1f} s, {periods} periods in "
        f"{time.perf_counter() - t_start:.1f} s"
    )
    out = r.e2e(setup_s, articles, write_s)
    tr.set("catalog.bytes_per_input_byte", _dir_bytes(cat) / input_bytes)
    if tr.on:
        r.attempted += 1
        try:
            ok = curate_stages(r, spark)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            r.failed += 1
            _log("curation stages failed or their shard manifest differs from the oracle")
    return out


def curate_stages(r: Run, spark) -> bool:
    """Each stage of ``pipeline.pipeline_e2e`` timed alone over the base
    corpus, its output materialized by an eager local checkpoint (the
    sink). Returns whether the shard manifest equals the package's own
    DuckDB oracle for the pipeline."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from accumulo_wikisearch_spark.operators import (
        curation, dedup, pipeline, sampling, textstats,
    )

    tr = r.tr

    def stage(name: str, df):
        with tr.span(name):
            return df.localCheckpoint()

    docs = spark.read.parquet(f"{r.sf}/documents.parquet")
    q = stage("textstats.text_quality", textstats.text_quality(docs))
    kept = docs.join(
        q.where(F.col("keep") == 1).select("doc_id"), "doc_id", "left_semi"
    ).localCheckpoint()
    canon_ids = stage("curation.canonical_docs", curation.canonical_docs(kept))
    canon = kept.join(
        canon_ids.select(F.col("canonical_id").alias("doc_id")), "doc_id", "left_semi"
    ).localCheckpoint()
    pairs = stage("dedup.minhash_lsh_pairs", dedup.minhash_lsh_pairs(canon))
    tr.set("dedup.lsh_pairs", pairs.count())
    comp = stage("dedup.connected_components", dedup.connected_components(pairs))
    drop = comp.where(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )
    surv = canon.join(drop, "doc_id", "left_anti").localCheckpoint()
    dec = stage("curation.decontaminate_bloom", curation.decontaminate_bloom(surv))
    clean = surv.join(
        dec.where(F.col("contaminated") == 0).select("doc_id"), "doc_id", "left_semi"
    ).localCheckpoint()
    capped = stage(
        "curation.domain_cap",
        curation.domain_cap(clean, max_per_domain=pipeline._CAP),
    )
    mix = stage(
        "sampling.domain_mixture",
        sampling.domain_mixture(capped, "source", sampling._MIX_WEIGHTS),
    )
    n = F.size(curation._toks()).cast("long")
    mixed = mix.join(docs.select("doc_id", "text"), "doc_id").select(
        (F.col("doc_id") * 4 + F.col("copy")).alias("mid"), "domain", n.alias("n_tokens")
    )
    w = Window.partitionBy("domain").orderBy("mid")
    rows = mixed.select(
        F.concat_ws(
            ":",
            F.col("mid"),
            ((F.sum("n_tokens").over(w) - F.col("n_tokens")) / pipeline._BUDGET).cast("long"),
        ).alias("mid_seq")
    )
    with tr.span("sampling.write_training_shards"):
        manifest = sampling.write_training_shards(
            rows, os.path.join(r.work, "shards"), n_shards=pipeline._N_SHARDS,
            key="mid_seq",
        )
    tr.set("pipeline.kept_docs", sum(m["n_docs"] for m in manifest))
    base = Oracle(r.docs, r.vecs)
    try:
        want = sorted(base.sql(pipeline.oracle_sql()["pipeline_e2e"]))
    finally:
        base.close()
    return sorted((m["shard"], m["n_docs"], m["checksum"]) for m in manifest) == want


def _layers(r: Run, e2e: dict) -> dict:
    tr = r.tr
    L = {name: 0.0 for name in LAYER_UNITS}
    L.update({k: float(v) for k, v in tr.values.items() if k in L})

    def first(name: str) -> float:
        xs = tr.spans.get(name)
        return xs[0] if xs else 0.0

    def med(name: str) -> float:
        xs = tr.spans.get(name)
        return float(statistics.median(xs)) if xs else 0.0

    L["session.start_s"] = first("session.start")
    L["ingest.build_s"] = first("ingest.build")
    L["ingest.write_index_s"] = first("ingest.write_index")
    L["similarity.write_ivf_pq_s"] = first("similarity.write_ivf_pq")
    for name in (
        "api.plan", "api.first_after_flush", "plans.parse", "plans.plan",
        "manifest.probe", "compaction.write_delta", "compaction.load_with_deltas",
        "compaction.compact", "similarity.hybrid", "similarity.ivfpq",
        *CURATE_STAGES,
    ):
        L[f"{name}_ms"] = tr.median_ms(name)
    for name in (
        "compaction.delta_bytes", "compaction.pending_deltas",
        "compaction.files_before", "compaction.files_after",
        "compaction.rewrite_bytes",
    ):
        L[name] = med(name)
    xs = tr.spans.get("similarity.ivfpq_recall")
    L["similarity.ivfpq_recall_at_10"] = statistics.fmean(xs) if xs else 0.0
    calls = tr.values.get("api.plan_calls", 0)
    L["api.plan_cache_hit_ratio"] = tr.values.get("api.plan_cache_hits", 0) / calls if calls else 0.0
    L.update(spark_layer(tr, os.path.join(r.work, "eventlog"), KEYWORD_KINDS | VECTOR_KINDS))
    for k, v in e2e.items():
        if f"traced.{k}" in L:
            L[f"traced.{k}"] = v
    return L


WORKLOADS = {"search_hot": search_hot, "ingest_live": ingest_live}


def run(workload: str, work: str, seed: int, seconds: float, trace: bool) -> dict:
    r = Run(work, seed, seconds, trace)
    try:
        e2e = WORKLOADS[workload](r)
    finally:
        r.stop_session()
        r.oracle.close()
    metrics, units = (_layers(r, e2e), LAYER_UNITS) if trace else (e2e, UNITS)
    return {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
