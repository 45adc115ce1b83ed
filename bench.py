"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON line (the driver captures a 2,000-char stdout
tail — r13's per-rep detail on the line truncated the artifact to
parsed:null, losing the headline; verdict r13 #1):
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {lane: median_sec, ...},
   "floors": [floor_sec, ...]  # parallel to queries key order
   "sf": ..., "detail": "tools/bench_detail_rNN.json"}
The full per-lane protocol detail ({median, floor, reps, times} per
lane) is written to the committed ``detail`` file instead of stdout.

Query set mirrors the reference's benchmark shape (README.md:127-134 —
multi-term AND and AND-of-OR keyword queries, warm) plus the pipeline
operators (dedup, ANN, text stats).

Noise protocol (r13, r12 verdict #1): EVERY lane runs multiple times in
the one session and reports the MEDIAN (headline ``value`` and the
``queries`` map = sum/map of medians) plus the FLOOR and the raw per-rep
wall times — three consecutive rounds of single-shot-per-lane artifacts
swung up to 2.5x on shared-host draw and needed manual warmfloor A/B
adjudication. Cheap lanes: one warm run + 3 timed reps. Expensive lanes
(index_build, compaction_2deltas) run 2 identical reps with no separate
warm pass; per-rep state is reset (engine cache evicted / a fresh
catalog staged) so each rep measures the same work, not a cache no-op.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from pyspark.sql import functions as F

    from accumulo_wikisearch_spark.session import get_spark
    from accumulo_wikisearch_spark.sources import corpus as corpus_mod
    from accumulo_wikisearch_spark.sources.corpus import get_engine
    from accumulo_wikisearch_spark.operators import dedup, similarity, textstats

    spark = get_spark("wikisearch-bench")
    spark.sparkContext.setLogLevel("ERROR")

    times: dict[str, float] = {}
    lanes: dict[str, dict] = {}

    def record(name: str, xs: list[float]) -> None:
        times[name] = round(statistics.median(xs), 3)
        lanes[name] = {
            "median": times[name],
            "floor": round(min(xs), 3),
            "reps": len(xs),
            "times": [round(x, 3) for x in xs],
        }

    def timed(name, thunk, reps: int = 3, warm: bool = True):
        """Warm once (unless the lane is expensive and self-warming),
        then report median+floor of ``reps`` timed runs — single-shot
        numbers at these latencies (0.1-0.5 s) carry ±50% GC/scheduler
        noise, and on a contended host whole-artifact multipliers of
        2-2.5x (r10-r12) made regressions indistinguishable from
        drift."""
        if warm:
            thunk()
        xs = []
        for _ in range(reps):
            t = time.time()
            thunk()
            xs.append(time.time() - t)
        record(name, xs)

    # JVM/session warm-up (classloading, codegen JIT, parquet footer reads)
    # before any timing — the baseline protocol is warm (README.md:122-134).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    def fresh_index_build():
        # identical work per rep: evict the cached engine and unpersist
        # its serving tables (the index's OWN list — a hard-coded name
        # list here drifted when the serving set changed; r13 ADVICE),
        # then build + materialize from scratch
        for key, old in list(corpus_mod._ENGINES.items()):
            if key[0] == "documents" and key[1] == sf_dir:
                old.index.unpersist_serving()
                del corpus_mod._ENGINES[key]
        get_engine(spark, sf_dir).index.materialize()

    timed("index_build", fresh_index_build, reps=2, warm=False)
    eng = get_engine(spark, sf_dir)  # the last rep's engine, cached

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    ws = {
        "q_and3": "TEXT == 'key' and TEXT == 'vector' and TEXT == 'the'",
        "q_and4": "TEXT == 'key' and TEXT == 'fast' and TEXT == 'line' and TEXT == 'the'",
        "q_rare_and": "TEXT == 'dup' and TEXT == 'key'",
        "q_and_or": "TEXT == 'fast' and (TEXT == 'slow' or TEXT == 'stream')",
        "q_rare_pair": "TEXT == 'dup' and SOURCE == 'src3'",
        "q_or_eq": "SOURCE == 'src3' or SOURCE == 'src7'",
        "q_wildcard": "SOURCE =~ 'src1.*'",
        "q_unfielded": "'dup'",
        # dual-path mixed OR: indexed branch + filtered fullscan union
        "q_mixed_or": "TEXT == 'dup' or SOURCE >= 'src18'",
    }

    for name, jexl in ws.items():
        timed(name, lambda jexl=jexl: eng.query(jexl).count())

    timed(
        "q_tfidf_rank",
        lambda: eng.scored_search_tfidf(["dup", "key"]).count(),
    )
    timed("q_phrase", lambda: eng.phrase_search(["order", "fast"]).count())
    timed("q_bm25_rank", lambda: eng.scored_search_bm25(["dup", "key"]).count())
    timed("q_count_fast", lambda: eng.count_only("TEXT == 'the'").collect())

    from accumulo_wikisearch_spark.operators import temporal

    tq = temporal.queries()
    timed("ev_asof_last_click", lambda: tq["ev_asof_last_click"](spark, sf_dir).count())

    timed("dedup_exact", lambda: dedup.exact_duplicates(docs).count())
    timed("dedup_minhash_lsh", lambda: dedup.minhash_lsh_pairs(docs).count())
    timed("dedup_simhash", lambda: dedup.simhash(docs).count())
    timed(
        "ann_topk",
        lambda: similarity.topk_bruteforce(emb, similarity.self_queries(emb)).count(),
    )
    timed(
        "dedup_embedding_banded",
        lambda: dedup.embedding_near_dup_pairs(emb).count(),
    )
    # Scaling witness (r14 verdict #8): every other lane at sf0.1 is
    # driver/latency-bound, so the 8c/32c scaling block reads ≈1 across
    # the board and a parallelism regression would be invisible. This
    # lane is compute-bound BY CONSTRUCTION: the minhash signature kernel
    # (shingle explode + 64 np.minimum.reduceat permutations, the corpus
    # pass every LSH dedup pays) over an 8x-replicated corpus, partitioned
    # to the session's core count, through the noop sink (guide §1.4 —
    # count() would let Catalyst prune the signature column away). The
    # replication is plan-side (explode of a literal range), so every rep
    # computes from the parquet input; nothing is cached.
    sig_rep = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", "text", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("r"))
        .select(
            (F.col("doc_id") + F.col("r") * F.lit(10_000_000)).alias("doc_id"),
            "text",
        )
    )
    timed(
        "minhash_sigs_8x",
        lambda: dedup._minhash_sets(sig_rep, 3, 64)
        .write.format("noop")
        .mode("overwrite")
        .save(),
    )

    timed("text_quality", lambda: textstats.text_quality(docs).count())
    timed("text_repetition", lambda: textstats.text_repetition(docs).count())
    timed("text_embed_hashing", lambda: textstats.hashing_embed(docs).count())
    timed("doc_fingerprint", lambda: textstats.doc_fingerprint(docs).count())

    from accumulo_wikisearch_spark.operators import multimodal

    mm_media = multimodal.queries()["mm_decode_image"]
    timed("mm_decode_image", lambda: mm_media(spark, sf_dir).count())

    from accumulo_wikisearch_spark.operators import curation, vocab

    timed("cur_pack_sequences", lambda: curation.pack_sequences(docs).count())
    timed(
        "dedup_exact_embedding", lambda: dedup.exact_vector_duplicates(emb).count()
    )
    timed(
        "dedup_exact_substring", lambda: dedup.duplicated_spans(docs).count()
    )
    timed(
        "dedup_remove_spans", lambda: dedup.remove_duplicated_spans(docs).count()
    )
    timed(
        "dedup_semdedup", lambda: similarity.semdedup_keep(emb).count()
    )
    timed(
        "ann_pq_adc",
        lambda: similarity.topk_pq_adc(emb, similarity.self_queries(emb)).count(),
    )
    timed(
        "ann_ivf_pq",
        lambda: similarity.topk_ivf_pq(emb, similarity.self_queries(emb)).count(),
    )
    # trained-quantizer configuration, training INSIDE the timed region
    # (like dedup_semdedup since r6) — at production scale training is a
    # one-time index-build cost, amortized across queries
    timed("ann_pq_adc_trained", lambda: similarity.topk_pq_adc_trained(emb).count())

    # WARM twins: quantizer/codebooks pre-trained OUTSIDE the timed
    # region (the production shape — training is index-build time, the
    # rows below are pure serve latency). Keeps the cold rows above
    # comparable round-over-round while exposing the serve cost alone.
    n_cells_w = similarity.auto_n_cells(emb.count())
    cents_w = similarity.take_centroids_trained(emb, n_cells_w)
    books_w = similarity.pq_books_trained(emb)
    timed(
        "dedup_semdedup_warm",
        lambda: similarity.semdedup_keep(
            emb, n_cells=n_cells_w, cents=cents_w
        ).count(),
    )
    timed(
        "ann_pq_adc_warm",
        lambda: similarity.topk_pq_adc_trained(emb, books=books_w).count(),
    )

    from accumulo_wikisearch_spark.operators import sampling

    timed(
        "sample_global_shuffle", lambda: sampling.global_shuffle(docs).count()
    )
    timed("cur_chunk", lambda: curation.chunk_documents(docs).count())
    timed("cur_domain_cap", lambda: curation.domain_cap(docs).count())
    timed("cur_decontaminate", lambda: curation.decontaminate(docs).count())
    timed("vocab_counts", lambda: vocab.vocab_counts(docs).count())
    timed(
        "ann_hybrid",
        lambda: similarity.hybrid_search(
            eng.query("TEXT == 'dup'").select("doc_id"), emb, query_vec_id=7
        ).count(),
    )

    from accumulo_wikisearch_spark.operators import analytics, relational

    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    events = analytics.load_events(spark, sf_dir)
    timed("rel_pricing_summary", lambda: relational.pricing_summary(lineitem).count())
    timed(
        "ev_windowed_counts",
        lambda: analytics.windowed_event_counts(events).count(),
    )

    # z-order layout win: the SAME two-key box query (user eq × time
    # range) through the flat at-rest events catalog vs the z-ordered
    # one — the pruned row reads ~1/2^bucket_bits of the directories
    # plus a z row-group interval. Catalog writes are untimed (layout
    # choice is index-build time, like quantizer training).
    import tempfile as _tempfile

    from accumulo_wikisearch_spark.api import Wikisearch
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.ingest import load_index
    from accumulo_wikisearch_spark.operators.ingest import write_index as _wix
    from accumulo_wikisearch_spark.operators.layout import ZLayout
    from accumulo_wikisearch_spark.sources.corpus import get_events_engine

    ev_eng = get_events_engine(spark, sf_dir)
    zroot = _tempfile.mkdtemp(prefix="wikisearch-zbench-")
    _wix(ev_eng.index, f"{zroot}/flat")
    _wix(ev_eng.index, f"{zroot}/z", zorder=ZLayout("USER_ID", "TS"))
    flat_eng = Wikisearch(load_index(spark, f"{zroot}/flat", EngineConfig()))
    z_eng = Wikisearch(load_index(spark, f"{zroot}/z", EngineConfig()))
    box_q = (
        "USER_ID == '42' and TS >= '2024-01-10 00:00:00'"
        " and TS <= '2024-01-20 00:00:00'"
    )
    timed("ev_box_flat_catalog", lambda: flat_eng.query(box_q).count())
    timed("ev_box_zordered", lambda: z_eng.query(box_q).count())
    # scan-path twins (force_path=fullscan): no index assist, the layout
    # IS the whole story — the 100 TB case where the win is structural
    # (directory + row-group pruning vs a full docs_wide scan)
    timed(
        "ev_boxscan_flat",
        lambda: flat_eng.query(box_q, force_path="fullscan").count(),
    )
    timed(
        "ev_boxscan_zordered",
        lambda: z_eng.query(box_q, force_path="fullscan").count(),
    )

    # pending-deltas twins: 90% of the corpus in the base catalog, 10%
    # un-compacted as a flat minor-compaction flush — the continuous-
    # ingest steady state. The z side must keep its base-side pruning
    # through the merge-read view (prune base ∪ flat deltas), not
    # degrade to the flat side's full scan. force_path=fullscan so the
    # row isolates the layout effect (no index assist).
    from pyspark.sql import functions as F

    from accumulo_wikisearch_spark.operators.compaction import (
        load_index_with_deltas,
        write_delta,
    )
    from accumulo_wikisearch_spark.operators.ingest import build_index as _bix
    from accumulo_wikisearch_spark.sources.corpus import (
        EVENT_SCALAR_FIELDS,
        load_event_articles,
    )

    _arts = load_event_articles(spark, sf_dir)
    _base_idx = _bix(
        _arts.where(F.col("id") % 10 != 7), EngineConfig(), EVENT_SCALAR_FIELDS,
        unique_ids=True,
    )
    _wix(_base_idx, f"{zroot}/flatd")
    _wix(_base_idx, f"{zroot}/zd", zorder=ZLayout("USER_ID", "TS"))
    _delta_idx = _bix(
        _arts.where(F.col("id") % 10 == 7), EngineConfig(), EVENT_SCALAR_FIELDS,
        unique_ids=True,
    )
    write_delta(_delta_idx, f"{zroot}/flatd", 0)
    write_delta(_delta_idx, f"{zroot}/zd", 0)
    flatd_eng = Wikisearch(load_index_with_deltas(spark, f"{zroot}/flatd", EngineConfig()))
    zd_eng = Wikisearch(load_index_with_deltas(spark, f"{zroot}/zd", EngineConfig()))
    timed(
        "ev_boxscan_flat_deltas",
        lambda: flatd_eng.query(box_q, force_path="fullscan").count(),
    )
    timed(
        "ev_boxscan_z_deltas",
        lambda: zd_eng.query(box_q, force_path="fullscan").count(),
    )

    # random-query load (BASELINE.md "1000 queries, 10 clients" analogue,
    # scaled down): 24 distinct 2-3-term AND queries over 8 client threads;
    # reported seconds → q/s = 24 / value. Spark's scheduler interleaves the
    # independent jobs exactly like the reference's parallel BatchScanners.
    import itertools
    import random as _random
    from concurrent.futures import ThreadPoolExecutor

    pool = ["the", "key", "fast", "line", "vector", "slow", "stream", "data",
            "value", "index", "dup", "point", "node", "graph", "set", "map"]
    rng = _random.Random(42)
    batch = []
    for terms in itertools.islice(itertools.combinations(pool, 3), 200):
        batch.append(" and ".join(f"TEXT == '{t}'" for t in rng.sample(terms, rng.choice([2, 3]))))
    rng.shuffle(batch)
    batch = batch[:24]

    def run_one(jexl):
        return eng.query(jexl).count()

    def thr_batch():
        with ThreadPoolExecutor(max_workers=8) as ex:
            list(ex.map(run_one, batch))

    # warm pass over the FULL batch (24 distinct plans — warming only 8
    # left the first rep paying 16 plan compilations)
    timed("throughput_24q_8clients", thr_batch, reps=3, warm=True)

    # disk-catalog twin (r11): the same 24 queries × 8 threads against an
    # AT-REST catalog facade, where EVERY query pays the freshness probe
    # (manifest + pending-delta listings, lock-free). Measures that
    # concurrent clients don't serialize on the probe — the lane the
    # under-lock probe would cap at the FS's LIST latency. Catalog write
    # is untimed (index-build cost, measured elsewhere).
    import tempfile as _tf

    from accumulo_wikisearch_spark.api import Wikisearch as _WS
    from accumulo_wikisearch_spark.config import EngineConfig as _EC
    from accumulo_wikisearch_spark.operators.ingest import (
        load_index as _li,
        write_index as _wi,
    )

    _thr_dir = _tf.mkdtemp(prefix="wikisearch-thrdisk-")
    _wi(eng.index, _thr_dir)
    disk_eng = _WS(
        _li(spark, _thr_dir, _EC(unevaluated_fields=frozenset({"TEXT"})))
    )

    def run_one_disk(jexl):
        return disk_eng.query(jexl).count()

    def thr_batch_disk():
        with ThreadPoolExecutor(max_workers=8) as ex:
            list(ex.map(run_one_disk, batch))

    timed("throughput_24q_8clients_disk", thr_batch_disk, reps=3, warm=True)

    # queries during ingest (reference README.md:206-219: concurrent
    # ingest@132 articles/s slowed queries to 1.5-12.2s): a writer thread
    # continuously folds fresh article deltas into the global index (the
    # LSM-combiner work) while the 8 headline queries run.
    import threading

    from accumulo_wikisearch_spark.operators.compaction import merge_global_index
    from accumulo_wikisearch_spark.operators.ingest import build_index
    from accumulo_wikisearch_spark.sources.corpus import SCALAR_FIELDS, load_articles
    from pyspark.sql import functions as F

    stop = threading.Event()

    def ingest_loop():
        # ONE memoized delta plan, re-executed per fold (r14 verdict #5):
        # the merged result is discarded each iteration, so every fold
        # does identical LSM-combiner work whether the id shift varies or
        # not — but rebuilding the build_index graph per iteration spent
        # ~0.5 s of pure driver time between folds, halving the ingest
        # pressure the queries race against. Each count() re-executes the
        # merge from the (cached) base + fresh delta scan — plan reuse,
        # never result caching.
        arts = load_articles(spark, sf_dir).limit(500)
        fresh = arts.withColumn("id", F.col("id") + 10_000_000)
        delta = build_index(fresh, eng.index.config, SCALAR_FIELDS, unique_ids=True)
        merged = merge_global_index(eng.index.global_index, delta.global_index)
        while not stop.is_set():
            merged.count()

    def headline_queries():
        for jexl in ws.values():
            eng.query(jexl).count()

    writer = threading.Thread(target=ingest_loop, daemon=True)
    writer.start()
    # reps run against the SAME continuously-folding writer session (the
    # queries are already warm from the headline lanes above)
    timed("during_ingest_8q", headline_queries, reps=3, warm=False)
    stop.set()
    writer.join(timeout=120)

    # major compaction (reference README.md:94-99: full compaction ≈ 35 min
    # for the loaded corpus): base catalog + 2 flushed deltas folded and
    # rewritten into the sorted layout. Timed once, like the reference's
    # one-shot number; corpus bounded so the entry stays proportionate.
    import shutil
    import tempfile

    from accumulo_wikisearch_spark.operators import compaction

    arts = load_articles(spark, sf_dir).limit(2000)
    from accumulo_wikisearch_spark.operators.ingest import write_index

    def stage_compaction_catalog() -> tuple[str, str]:
        """Fresh base + 2 flushed deltas per rep (setup untimed — only
        the fold is the lane)."""
        cdir = tempfile.mkdtemp(prefix="wikisearch-compact-")
        cpath = f"{cdir}/index"
        write_index(
            build_index(arts, eng.index.config, SCALAR_FIELDS, unique_ids=True),
            cpath,
        )
        for b in range(2):
            fresh = arts.limit(250).withColumn(
                "id", F.col("id") + 20_000_000 + b * 1000
            )
            compaction.write_delta(
                build_index(fresh, eng.index.config, SCALAR_FIELDS, unique_ids=True),
                cpath,
                b,
            )
        return cpath, cdir

    cdirs: list[str] = []
    try:
        xs = []
        for _rep in range(2):
            cpath, cdir = stage_compaction_catalog()
            cdirs.append(cdir)
            t = time.time()
            compaction.compact_index(spark, cpath, eng.index.config)
            xs.append(time.time() - t)
        record("compaction_2deltas", xs)
    finally:
        for cdir in cdirs:
            shutil.rmtree(cdir, ignore_errors=True)

    total = round(sum(times.values()), 3)
    try:
        detail_path = write_detail(times, lanes, total, sf)
    except OSError as e:
        # the stdout artifact must survive a detail-write failure
        # (read-only checkout, missing tools/) — the driver's tail
        # capture is the round's headline record and losing it to a
        # side-file error would recreate the r13 parsed:null failure
        print(f"bench: detail write failed: {e}", file=sys.stderr)
        detail_path = None
    print(final_line(times, lanes, total, sf, detail_path))


def _round_number() -> int:
    """Which round's detail file to write: 1 + the highest BENCH_r*.json
    already recorded (the driver writes BENCH_r{N}.json AFTER running
    bench, so during round N the newest artifact on disk is N-1).
    SPARK_GRAFT_ROUND overrides."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return int(env)
    here = Path(__file__).resolve().parent
    ns = [
        int(m.group(1))
        for p in here.glob("BENCH_r*.json")
        if (m := re.match(r"BENCH_r(\d+)\.json$", p.name))
    ]
    return (max(ns) if ns else 0) + 1


def write_detail(times, lanes, total, sf) -> str:
    """Full per-rep protocol detail goes to a committed repo file — the
    stdout line must stay under the driver's 2,000-char tail capture
    (BENCH_r13.json truncated to parsed:null when per-rep times arrays
    for ~53 lanes rode the one line; r13 verdict #1)."""
    here = Path(__file__).resolve().parent
    rel = f"tools/bench_detail_r{_round_number():02d}.json"
    (here / rel).write_text(
        json.dumps(
            {
                "metric": "wikisearch_spark_headline_total",
                "value": total,
                "unit": "sec",
                "queries": times,
                "lanes": lanes,
                "protocol": {
                    "headline": "sum of per-lane medians",
                    "reps_default": 3,
                    "reps_expensive": 2,
                },
                "sf": sf,
            },
            indent=1,
        )
        + "\n"
    )
    return rel

# stdout budget for the final JSON line: the driver captures a 2,000-char
# tail; stay clear of it with margin for a few extra lanes in future
# rounds. Checked by tests/test_bench_emission.py against the REAL lane
# list so a lane-name growth that would re-truncate the artifact fails in
# CI, not in the round artifact.
LINE_BUDGET = 1950


def final_line(times, lanes, total, sf, detail_path) -> str:
    """ONE compact JSON line: headline + per-lane MEDIANS (the `queries`
    map) + a parallel `floors` array in the same key order (arrays carry
    no key overhead — a second named map does not fit the budget).
    Graduated degradation if lane growth overflows the budget — a
    parseable artifact beats a complete one (r13: parsed:null cost the
    round its headline):
    1. full `floors` array, parallel to the queries key order;
    2. `floors_dev` map of only the lanes whose floor deviates >7% from
       the median — exactly the lanes floor-based adjudication needs
       (quiet-host lanes have floor ≈ median and carry no information);
    3. medians alone (floors stay in the detail file)."""
    body = {
        "metric": "wikisearch_spark_headline_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "floors": [lanes[k]["floor"] for k in times],
        "sf": sf,
        "detail": detail_path,
    }
    if detail_path is None:
        body.pop("detail")
    line = json.dumps(body)
    if len(line) > LINE_BUDGET:
        body.pop("floors")
        body["floors_dev"] = {
            k: lanes[k]["floor"]
            for k in times
            if lanes[k]["floor"] < 0.93 * lanes[k]["median"]
        }
        line = json.dumps(body)
    if len(line) > LINE_BUDGET:
        body.pop("floors_dev")
        line = json.dumps(body)
    return line


if __name__ == "__main__":
    main()
