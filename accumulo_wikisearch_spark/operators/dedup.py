"""Deduplication operators for large-scale training-data pipelines.

Four tiers, from exact to approximate — each a pure DataFrame plan:

- exact duplicates: hash-groupBy on md5(text). One shuffle on the hash; at
  100 TB this is the cheapest possible dedup (map-side partial agg + AQE).
- n-gram (word-shingle) Jaccard: the exact near-dup baseline. Candidate
  pairs via an inverted shingle join — quadratic on hot shingles, so this
  is the *verifier*; the scale path is minhash below.
- MinHash + LSH: 64 portable hash permutations over 3-word shingles, banded
  into 16×4; candidate pairs from band-bucket self-join; candidates verified
  with exact Jaccard. At 100 TB the band join shuffles only (band, sig)
  keys — linear in corpus size — and verification touches candidate pairs
  only.
- SimHash: 60-bit signature per doc (token-frequency weighted bit-majority
  vote); near-dup pairs findable by hamming distance on signature bands.

Hashes whose VALUES are oracle-checked (simhash, fingerprints) use the
portable md5-based ``hash60`` that DuckDB reproduces exactly; minhash's
internal shingle hash is native ``xxhash64`` (only its pair SET is checked,
against exact Jaccard SQL). Jaccard thresholds are integer
cross-multiplications (no float equality).

Algorithms follow the published constructions: MinHash resemblance sketches
(Broder, "On the resemblance and containment of documents", 1997) with LSH
banding (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets ch. 3), and
SimHash (Charikar, "Similarity estimation techniques from rounding
algorithms", STOC 2002; Manku et al., WWW 2007 for the hamming search).
"""

from __future__ import annotations

import random
from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from accumulo_wikisearch_spark.functions.normalize import HASH60_DUCKDB, hash60_col
from accumulo_wikisearch_spark.operators.layout import write_layout
from accumulo_wikisearch_spark.operators.similarity import _as_double, _cosine
from accumulo_wikisearch_spark.session import tune_runtime

TOK = "string_split(text,' ')"

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Docs that are byte-identical to an earlier doc: (doc_id, canonical_id).

    canonical = min doc_id of the identical-text group.
    """
    w = Window.partitionBy(F.md5("text"))
    return (
        docs.select("doc_id", F.min("doc_id").over(w).alias("canonical_id"))
        .where(F.col("doc_id") != F.col("canonical_id"))
        .select("doc_id", "canonical_id")
    )


# ---------------------------------------------------------------------------
# shingles
# ---------------------------------------------------------------------------


def _shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct word k-grams; docs with < k tokens drop out."""
    w = F.split(F.col("text"), " ")
    idx = F.sequence(F.lit(0), F.size(w) - k)
    sh = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", *[F.element_at(w, i + j + 1) for j in range(k)]))
    )
    return (
        docs.where(F.size(w) >= k)
        .select("doc_id", F.explode(sh).alias("shingle"))
    )


def _pairs_with_jaccard(sh: DataFrame, num: int, den: int) -> DataFrame:
    """Pairs (a<b) whose shingle-set Jaccard ≥ num/den, via inverted join.

    Integer filter: den*common ≥ num*(|A|+|B|-common).

    ``sh`` is referenced four times (both self-join sides + two count
    legs) and — when the caller capped hot shingles — each reference
    re-runs TWO shingle explodes (the table and its hot-set anti-join
    subquery): 8 Generate nodes in the uncached plan. The scoped persist
    makes it one explode pass, same as the banded paths (r14 plan
    audit). What is CACHED is ``xxhash64(shingle)``, not the shingle
    text: the join and the set counts only need equality, and the text
    cache was corpus-scale bytes (sum of all k-gram text) where the
    hashed rows are 16 B each (r14 ADVICE). Within-pair-union collisions
    (≈|A∪B|²/2⁶⁴) are the same accepted tolerance as minhash's internal
    shingle hash. Release the cache via ``_scoped.release(result)``."""
    from accumulo_wikisearch_spark.operators._scoped import Scope

    scope = Scope()
    sh = scope.persist(
        sh.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    )
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(F.count("*").alias("common"))
    )
    return scope.attach(
        common.join(counts.withColumnsRenamed({"doc_id": "a_id", "n": "a_n"}), "a_id")
        .join(counts.withColumnsRenamed({"doc_id": "b_id", "n": "b_n"}), "b_id")
        .where(
            F.lit(den) * F.col("common")
            >= F.lit(num) * (F.col("a_n") + F.col("b_n") - F.col("common"))
        )
        .select("a_id", "b_id")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    num: int = 4,
    den: int = 5,
    max_df: int | None = 10_000,
) -> DataFrame:
    """Near-dup pairs: word-k-gram Jaccard ≥ num/den (default 0.8), computed
    over shingles with document frequency ≤ ``max_df``.

    The df cap is the standard MMDS guard against hot-shingle pair
    explosion: one boilerplate header shared by 1M docs would otherwise
    emit ~10^12 rows from the inverted self-join. Dropping shingles above
    ``max_df`` BEFORE the join (and from the per-doc set sizes, so Jaccard
    stays a true set similarity on the filtered space) bounds the join at
    O(sum df²) with df ≤ max_df. NOTE the cap changes the similarity being
    measured, in both directions: removing a hot shingle shrinks numerator
    AND union, so filtered-space Jaccard can be higher or lower than raw
    Jaccard — pairs may be added as well as dropped relative to
    ``max_df=None``. Pass ``max_df=None`` for exact raw-Jaccard semantics
    (quadratic in hot-shingle df — unsafe at scale). The cap is a
    deterministic part of the operator's definition and is replayed
    identically by the SQL oracle."""
    sh = _shingles(docs, k)
    if max_df is None:
        return _pairs_with_jaccard(sh, num, den)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > max_df)
        .select("shingle")
    )
    # hot set is tiny by construction (few shingles exceed the cap) →
    # broadcast anti-join, no shuffle of the shingle table
    sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    return _pairs_with_jaccard(sh, num, den)


# ---------------------------------------------------------------------------
# minhash + LSH
# ---------------------------------------------------------------------------

_MERSENNE31 = (1 << 31) - 1


def _perm_coeffs(num_hashes: int, seed: int = 1337) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
        for _ in range(num_hashes)
    ]


def _shingle_hash_sets(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, hs ARRAY<BIGINT>, n INT) — per-doc distinct shingle hashes,
    computed row-locally (split → transform → distinct), NO shuffle: the
    whole shingling pipeline is a narrow map over the corpus scan.

    Hashing is native ``xxhash64`` (one JVM long op per shingle) rather than
    the md5-hex→conv chain: the hash is internal to minhash — the oracle
    verifies the resulting PAIR SET against exact Jaccard SQL, not the hash
    values — so portability is not needed and the string codec cost is."""
    w = F.split(F.col("text"), " ")
    idx = F.sequence(F.lit(0), F.size(w) - k)
    sh = F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(" ", *[F.element_at(w, i + j + 1) for j in range(k)]),
        )
    )
    hs = F.array_distinct(F.transform(sh, lambda s: F.xxhash64(s)))
    return docs.where(F.size(w) >= k).select(
        "doc_id", hs.alias("hs"), F.size(hs).alias("n")
    )


def _sig_from_sets(num_hashes: int):
    """num_hashes-permutation minhash signature over a (ragged) shingle-hash
    array column, as ONE Arrow-vectorized numpy kernel.

    History: v1 composed per-permutation Columns (~1.5 s of py4j driver
    time per plan); v2 was one ``F.expr`` SQL string (cheap to build, but
    higher-order ``array_min(transform(...))`` is INTERPRETED per element
    — num_hashes × |hs| lambda dispatches per row, the dominant task-side
    cost of minhash_lsh_pairs). v3 flattens the batch's hash sets into one
    int64 vector and runs num_hashes ``np.minimum.reduceat`` passes —
    all-integer arithmetic ((pmod(x,M)·a + b) mod M fits int64: operands
    < 2³¹ so products < 2⁶²), so the signatures are BIT-IDENTICAL to the
    expression form under JVM long semantics. Built lazily (pandas_udf
    needs an active session)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    coeffs = np.array(_perm_coeffs(num_hashes), dtype=np.int64)  # (H, 2)
    M = np.int64(_MERSENNE31)

    @pandas_udf("array<long>")
    def sig(hs):
        if len(hs) == 0:
            return pd.Series([], dtype=object)
        arrs = [np.asarray(x, dtype=np.int64) for x in hs]
        lens = np.array([len(a) for a in arrs])
        if lens.min() <= 0:
            # explicit raise, NOT assert: under `python -O` an assert
            # vanishes and reduceat over an empty group (offsets[i] ==
            # offsets[i+1]) silently returns the NEXT doc's first hash —
            # a wrong signature instead of an error. _shingle_hash_sets
            # filters size-0 sets; this guards callers that bypass it.
            raise ValueError("empty shingle set reached minhash")
        flat = np.mod(np.concatenate(arrs), M)  # pmod: non-negative
        offsets = np.zeros(len(arrs), dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        out = np.empty((len(arrs), num_hashes), dtype=np.int64)
        for j in range(num_hashes):
            vals = (flat * coeffs[j, 0] + coeffs[j, 1]) % M
            out[:, j] = np.minimum.reduceat(vals, offsets)
        return pd.Series(list(out))

    return sig


def _cap_band_groups(
    banded: DataFrame, keys: list[str], max_bucket: int | None
) -> DataFrame:
    """Deterministic skew guard for band self-joins: drop rows of any band
    group larger than ``max_bucket`` BEFORE the join, bounding it at
    O(rows · max_bucket) without relying on AQE skew handling. The window
    shuffles on the same keys the join uses, so the partitioning is
    reused, not an extra exchange."""
    if max_bucket is None:
        return banded
    w = Window.partitionBy(*keys)
    return (
        banded.withColumn("_bsz", F.count("*").over(w))
        .where(F.col("_bsz") <= max_bucket)
        .drop("_bsz")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    num: int = 4,
    den: int = 5,
    max_bucket: int | None = 4096,
) -> DataFrame:
    """Near-dup pairs via MinHash banding, verified with exact Jaccard.

    band-bucket self-join emits candidates (linear shuffle at scale); each
    candidate pair is then exactly verified, so precision is 1.0 and recall
    is the LSH catch probability (≈0.9998 at j=0.8 with 16×4 bands).

    ``max_bucket`` deterministically drops (band, bsig) groups above the
    cap before the self-join (see :func:`_cap_band_groups`). A group that
    hot is near-always mass near-duplication — a cluster of >max_bucket
    mutually-similar docs collides in EVERY band, so the cap loses it
    entirely; byte-identical mass dups belong to the exact-dedup pre-pass.
    The sf-scale oracle corpus never approaches the cap, so the exact-
    Jaccard oracle (which cannot replay the cap) stays consistent at check
    scale; at production scale the cap is part of the operator contract.
    """
    from accumulo_wikisearch_spark.operators._scoped import Scope

    scope = Scope()
    sets = _shingle_hash_sets(docs, k).withColumn(
        "sig", _sig_from_sets(num_hashes)(F.col("hs"))
    )
    # sets are computed once and reused by both the band join and the exact
    # verification (the persist is scoped to this plan's lifetime —
    # released via _scoped.release(result))
    sets = scope.persist(sets)
    banded = _band_rows(sets, num_hashes, bands)
    banded = _cap_band_groups(banded, ["band", "bsig"], max_bucket)
    # persist the capped band rows too: the self-join's two sides are NOT
    # served by exchange reuse once AQE converts one side to a broadcast
    # (the canonical subtrees differ), so without the cache the band
    # explode + cap window (its Exchange + Sort over bands·n rows) runs
    # once PER SIDE — r14 plan audit, plans/r14/dedup_minhash_lsh_*.txt
    banded = scope.persist(banded)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, ["band", "bsig"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    # exact verification on candidates only, via 60-bit shingle-hash sets
    # (collision probability within a pair union ≈ |A∪B|²/2^61 — negligible)
    return scope.attach(
        cand.join(
            sets.select(F.col("doc_id").alias("a_id"), F.col("hs").alias("a_s"), F.col("n").alias("a_n")),
            "a_id",
        )
        .join(
            sets.select(F.col("doc_id").alias("b_id"), F.col("hs").alias("b_s"), F.col("n").alias("b_n")),
            "b_id",
        )
        .withColumn("common", F.size(F.array_intersect("a_s", "b_s")))
        .where(
            F.lit(den) * F.col("common")
            >= F.lit(num) * (F.col("a_n") + F.col("b_n") - F.col("common"))
        )
        .select("a_id", "b_id")
    )


def _band_rows(sets: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, band, bsig) LSH band rows from a signature table — one
    hash per band over its signature slice, exploded row-locally."""
    rows = num_hashes // bands
    band_cols = [
        F.struct(
            F.lit(bi).alias("band"),
            F.hash(*[F.col("sig")[bi * rows + r] for r in range(rows)]).alias("bsig"),
        )
        for bi in range(bands)
    ]
    return sets.select("doc_id", F.explode(F.array(*band_cols)).alias("b")).select(
        "doc_id", "b.band", "b.bsig"
    )


# ---------------------------------------------------------------------------
# incremental near-dup: at-rest signature store + delta checks
# ---------------------------------------------------------------------------


def _minhash_sets(docs: DataFrame, k: int, num_hashes: int) -> DataFrame:
    """(doc_id, hs, n, sig) — the signature table both store halves share."""
    return _shingle_hash_sets(docs, k).withColumn(
        "sig", _sig_from_sets(num_hashes)(F.col("hs"))
    )


_STORE_BUCKETS = 64


def _store_tables(sets: DataFrame, num_hashes: int, bands: int, max_bucket):
    """(bands_df, sets_df) in the store layout: band rows carry a
    ``bk = pmod(bsig, N)`` partition column and shingle sets an
    ``sk = pmod(doc_id, N)`` one, so a batch's check reads only the
    partitions its collisions/candidates can live in."""
    banded = _cap_band_groups(
        _band_rows(sets, num_hashes, bands), ["band", "bsig"], max_bucket
    )
    banded = banded.withColumn("bk", F.pmod(F.col("bsig"), F.lit(_STORE_BUCKETS)))
    s = sets.select(
        "doc_id",
        "hs",
        "n",
        F.pmod(F.col("doc_id"), F.lit(_STORE_BUCKETS)).alias("sk"),
    )
    return banded, s


def write_minhash_store(
    docs: DataFrame,
    path: str,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int | None = 4096,
) -> None:
    """Persist the at-rest near-dup signature store — the dedup analogue
    of the LSM base (operators/compaction.py): two tables under ``path``:

    - ``bands/`` (doc_id, band, bsig), partitioned by ``bk = pmod(bsig,
      64)``: the LSH candidate index, skew-capped at write
      (:func:`_cap_band_groups`, same contract as minhash_lsh_pairs);
    - ``sets/`` (doc_id, hs, n), partitioned by ``sk = pmod(doc_id,
      64)``: the shingle-hash sets for the exact-Jaccard verification.

    The partition columns are what keep a batch check SUB-corpus-cost:
    the batch's band signatures select which ``bk`` directories can hold
    collisions, and its candidates which ``sk`` directories hold the
    sets to verify — both bounded `isin` partition filters (the
    topk_ivf_on_disk pruning pattern), so small batches touch a small
    fraction of a 100 TB store instead of scanning it. A new ingest
    batch near-dup-checks against the existing corpus without
    recomputing any stored signature (:func:`near_dups_vs_store`) and
    appends itself (:func:`append_minhash_store`) — signatures are
    computed exactly once per document over the corpus's lifetime."""
    sets = _minhash_sets(docs, k, num_hashes).persist()
    banded, s = _store_tables(sets, num_hashes, bands, max_bucket)
    write_layout(banded.repartition("bk"), f"{path}/bands", ("bk",))
    write_layout(s.repartition("sk"), f"{path}/sets", ("sk",))
    sets.unpersist()


def append_minhash_store(
    new_docs: DataFrame,
    path: str,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> None:
    """Fold a checked batch into the store (the minor flush): signatures
    and band rows of the NEW docs only, appended into the same
    partitioned layout — the base is never rewritten. (The write-time
    skew cap is per-batch; a periodic rewrite via
    :func:`write_minhash_store` is the 'major compaction' that
    re-applies it globally.)"""
    sets = _minhash_sets(new_docs, k, num_hashes).persist()
    banded, s = _store_tables(sets, num_hashes, bands, max_bucket=None)
    write_layout(banded.repartition("bk"), f"{path}/bands", ("bk",), mode="append")
    write_layout(s.repartition("sk"), f"{path}/sets", ("sk",), mode="append")
    sets.unpersist()


def near_dups_vs_store(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    num: int = 4,
    den: int = 5,
    max_bucket: int | None = 4096,
    materialize: bool = True,
) -> DataFrame:
    """(base_id, new_id) exact-verified near-dup pairs between a NEW batch
    and the stored corpus — the incremental form of
    :func:`minhash_lsh_pairs`, with identical banding/verify semantics:

    - the stored side is NEVER recomputed: candidates come from the
      (band, bsig) equi-join of the batch's band rows against ``bands/``,
      with the batch's ``pmod(bsig, 64)`` values as a PARTITION FILTER —
      only store directories that can hold a collision are read;
    - verification reads only the ``pmod(doc_id, 64)`` partitions of
      ``sets/`` that can hold a candidate, then joins on the candidate
      ids;
    - the batch side is skew-capped like the at-rest side, so one
      boilerplate-heavy delta cannot quadratize the band join;
    - both partition-filter value sets are collected driver-side but
      BOUNDED by the bucket count (≤ 64 values each, never by batch or
      corpus size) — the same contract as topk_ivf_on_disk's probe-cell
      collect.

    Cost ∝ |batch| + |collisions| + the pruned store partitions — a
    small batch touches a small fraction of a 100 TB store, which is
    what makes per-batch dedup-on-ingest viable."""
    sets_new = _minhash_sets(new_docs, k, num_hashes).persist()
    banded_new = _cap_band_groups(
        _band_rows(sets_new, num_hashes, bands), ["band", "bsig"], max_bucket
    ).withColumn("bk", F.pmod(F.col("bsig"), F.lit(_STORE_BUCKETS)))
    banded_new = banded_new.persist()

    def _cleanup(*extra: DataFrame) -> None:
        # per-batch caches must not outlive the call: a long-running
        # ingest stream invokes this once per micro-batch, and leaked
        # cached blocks accumulate without bound (r6 ADVICE)
        for d in (sets_new, banded_new, *extra):
            d.unpersist()

    bks = sorted(r["bk"] for r in banded_new.select("bk").distinct().collect())
    if not bks:  # empty/short batch: no band rows, hence no candidates
        _cleanup()
        return spark.createDataFrame([], "base_id bigint, new_id bigint")
    store_bands = spark.read.parquet(f"{path}/bands").where(
        F.col("bk").isin(*bks)
    )
    cand = (
        store_bands.alias("a")
        .join(banded_new.alias("b"), ["bk", "band", "bsig"])
        .select(
            F.col("a.doc_id").alias("base_id"), F.col("b.doc_id").alias("new_id")
        )
        .distinct()
        .withColumn("sk", F.pmod(F.col("base_id"), F.lit(_STORE_BUCKETS)))
        .persist()
    )
    sks = sorted(r["sk"] for r in cand.select("sk").distinct().collect())
    if not sks:
        _cleanup(cand)
        return spark.createDataFrame([], "base_id bigint, new_id bigint")
    store_sets = spark.read.parquet(f"{path}/sets").where(F.col("sk").isin(*sks))
    out = (
        cand.join(
            store_sets.select(
                F.col("doc_id").alias("base_id"),
                F.col("hs").alias("a_s"),
                F.col("n").alias("a_n"),
            ),
            "base_id",
        )
        .join(
            sets_new.select(
                F.col("doc_id").alias("new_id"),
                F.col("hs").alias("b_s"),
                F.col("n").alias("b_n"),
            ),
            "new_id",
        )
        .withColumn("common", F.size(F.array_intersect("a_s", "b_s")))
        .where(
            F.lit(den) * F.col("common")
            >= F.lit(num) * (F.col("a_n") + F.col("b_n") - F.col("common"))
        )
        .select("base_id", "new_id")
    )
    # materialize before dropping the caches the plan depends on; the
    # checkpoint blocks are tied to the returned DataFrame and are freed
    # by the ContextCleaner once the caller drops it.  materialize=False
    # skips the barrier and leaves the caches live (plan inspection /
    # composition into a larger lazy job — caller owns cleanup).
    # CAVEAT: localCheckpoint blocks are NOT fault-tolerant — on a
    # cluster that loses an executor mid-stream, the eager result is gone
    # and the query fails instead of recomputing. For long-running ingest
    # on preemptible/spot executors, use reliable checkpoint() (HDFS/S3
    # checkpoint dir) or persist-count-unpersist at the call site.
    if not materialize:
        from accumulo_wikisearch_spark.operators._scoped import Scope

        scope = Scope()
        for d in (sets_new, banded_new, cand):
            scope.adopt(d)
        return scope.attach(out)
    out = out.localCheckpoint(eager=True)
    _cleanup(cand)
    return out


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60


def _simhash_udf():
    """Arrow-vectorized 60-bit simhash.  The earlier pure-Catalyst form
    built a 60-branch expression tree (one filter+when per bit) whose
    per-JOB analysis alone cost ~2 s — plan size, not data, was the
    bottleneck, so task parallelism couldn't help.  One small UDF node
    keeps analysis O(1); inside, the bit-majority is a numpy matrix op.
    hash60 (md5 → first 15 hex chars → int) is reproduced bit-exactly by
    hashlib, so the VALUES stay oracle-checkable.  Built lazily
    (pandas_udf needs an active session)."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(SIMHASH_BITS, dtype=np.int64)

    @pandas_udf("long")
    def sh(texts):
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            toks = [w for w in t.split(" ") if w]
            hs = np.fromiter(
                (
                    int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)
                    for w in toks
                ),
                dtype=np.int64,
                count=len(toks),
            )
            ones = ((hs[:, None] >> shifts) & 1).sum(axis=0)
            out[i] = (((2 * ones > len(hs)).astype(np.int64)) << shifts).sum()
        return pd.Series(out)

    return sh


def simhash(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash BIGINT) — 60-bit frequency-weighted bit-majority
    signature over tokens, portable (md5-based) for oracle checking.

    Shuffle-free: one Arrow-batched map over the corpus scan (the right
    shape for a 100 TB pass); empty-token docs are dropped JVM-side before
    the UDF sees them."""
    toks = F.filter(F.split(F.col("text"), " "), lambda t: F.length(t) > 0)
    return docs.where(F.size(toks) > 0).select(
        "doc_id", _simhash_udf()(F.col("text")).alias("simhash")
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    band_bits: int = 15,
    max_bucket: int | None = 4096,
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance ≤ max_hamming.

    Banding: split the 60-bit signature into 4×15-bit bands — any pair with
    hamming ≤ 3 agrees exactly on ≥1 band (pigeonhole), so the band join is
    a complete candidate generator; candidates are verified with popcount.
    ``max_bucket`` is the deterministic skew guard (:func:`_cap_band_groups`
    — same mass-dup caveat as minhash), replayed identically by the SQL
    oracle's QUALIFY clause.
    """
    from accumulo_wikisearch_spark.operators._scoped import Scope

    scope = Scope()
    # persist the signatures: the self-join references them on BOTH sides
    # and projection collapse would otherwise inline the 60-bit majority
    # expression into every band branch of each side (~10× recompute —
    # measured 22 s vs 2 s at sf0.1); same scoped-persist as minhash's sets
    sig = scope.persist(simhash(docs))
    nbands = SIMHASH_BITS // band_bits
    mask = (1 << band_bits) - 1
    band_cols = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftright(F.col("simhash"), i * band_bits).bitwiseAND(F.lit(mask)).alias("bsig"),
        )
        for i in range(nbands)
    ]
    banded = sig.select("doc_id", "simhash", F.explode(F.array(*band_cols)).alias("b")).select(
        "doc_id", "simhash", "b.band", "b.bsig"
    )
    banded = _cap_band_groups(banded, ["band", "bsig"], max_bucket)
    # persist the capped band rows (narrow: doc_id, simhash, band, bsig):
    # as in minhash_lsh_pairs, AQE's broadcast conversion of the self-join
    # defeats exchange reuse, so the explode + cap window (Exchange + Sort
    # over nbands·n rows) would otherwise run once per side
    banded = scope.persist(banded)
    a = banded.alias("a")
    b = banded.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    return scope.attach(
        a.join(b, ["band", "bsig"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.bit_count(xor).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


# ---------------------------------------------------------------------------
# dedup clustering (connected components over near-dup pairs)
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame, a: str = "a_id", b: str = "b_id", max_iter: int = 25
) -> DataFrame:
    """(node, component) for every pair endpoint, component = min node id
    reachable — turns pairwise near-dup edges into canonical clusters (keep
    one doc per component, drop the rest).

    Iterative min-label propagation: each round every node takes the min of
    its own label and its neighbors' labels; converges in O(component
    diameter) rounds (near-dup clusters are shallow — a handful). Each round
    is one shuffle on node id. For graphs with deep paths, switch to the
    O(log n)-round star contractions of Kiveris et al., "Connected
    Components in MapReduce and Beyond" (SoCC 2014); the driver loop
    structure is identical.
    """
    sym = edges.select(F.col(a).alias("src"), F.col(b).alias("dst")).unionByName(
        edges.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    )
    sym = sym.persist()
    labels = (
        sym.select(F.col("src").alias("node")).distinct().withColumn("comp", F.col("node"))
    ).persist()
    for it in range(max_iter):
        msgs = sym.join(
            labels.withColumnRenamed("node", "src"), "src"
        ).select(F.col("dst").alias("node"), "comp")
        new_labels = (
            labels.unionByName(msgs).groupBy("node").agg(F.min("comp").alias("comp"))
        ).persist()
        # convergence probe every OTHER round: the count() is a driver
        # action, and "did the last round change anything" stays a valid
        # monotone stopping rule when sampled — at worst one extra cheap
        # round runs before the break. (No probe on the final round: its
        # only possible effect is a break the loop does anyway.)
        if it % 2 == 1 and it != max_iter - 1:
            changed = (
                new_labels.withColumnRenamed("comp", "new_comp")
                .join(labels, "node")
                .where(F.col("new_comp") != F.col("comp"))
                .count()
            )
        else:
            changed = -1
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    from accumulo_wikisearch_spark.operators._scoped import Scope

    # the surviving labels cache outlives the loop on purpose (the caller
    # consumes the result); register it so release() can evict it
    scope = Scope()
    scope.adopt(labels)
    return scope.attach(labels.select("node", "comp"))


def dedup_clusters(
    docs: DataFrame, k: int = 3, num: int = 4, den: int = 5, edges: str = "minhash"
) -> DataFrame:
    """(doc_id, cluster_id) over near-dup components.

    .. note:: **semantics changed in r4** — the default edge source is now
       the APPROXIMATE-recall scale path. Components are exact only up to
       LSH banding recall; callers that need the exhaustive edge set must
       pass ``edges="ngram"`` explicitly.

    The edge source DEFAULTS to the scale path — :func:`minhash_lsh_pairs`
    (banded candidates + exact-Jaccard verify, linear shuffle) — so the
    default wiring survives 100 TB; ``edges="ngram"`` selects the
    quadratic exact verifier (:func:`ngram_jaccard_pairs`), kept as the
    oracle twin. The minhash path verifies candidates exactly (precision
    1.0), so the two edge sets — and hence the components — coincide
    whenever LSH recall catches every true pair (≈0.9998 per pair at
    j=0.8 with 16×4 bands — i.e. ~2e-4 of true edges are missed in
    expectation on arbitrary corpora; an edge miss can split a component.
    The driver's hash gate proves equality at check scale, not in
    general)."""
    pairs = (
        ngram_jaccard_pairs(docs, k, num, den)
        if edges == "ngram"
        else minhash_lsh_pairs(docs, k, num=num, den=den)
    )
    comp = connected_components(pairs)
    return comp.select(
        F.col("node").alias("doc_id"), F.col("comp").cast("long").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# exact-substring (duplicated span) dedup
# ---------------------------------------------------------------------------


def duplicated_spans(docs: DataFrame, k: int = 8, min_docs: int = 2) -> DataFrame:
    """Per-doc duplicated-span stats — the exact-substring dedup signal of
    Lee et al., "Deduplicating Training Data Makes Language Models Better"
    (ACL 2022), re-expressed as a relational plan (their suffix array is a
    single-machine construction; the distributed equivalent is rolling
    k-gram hashing).

    A *span* is a window of ``k`` consecutive whitespace tokens. A span is
    *duplicated* when its text occurs in ≥ ``min_docs`` DISTINCT documents.
    Output (docs with ≥1 span, i.e. ≥ k tokens):

      (doc_id, n_spans, dup_spans) — total k-gram positions and how many of
      them are corpus-duplicated. dup_spans/n_spans is the "fraction of the
      doc that is boilerplate copied elsewhere" filter signal.

    Scale shape: tokenize+slide is scan-local (explode is linear — Σ tokens
    rows, same order as the inverted-index build); spans shuffle ONCE on the
    portable 60-bit span hash (8-byte key, never the span text); the
    duplicated-hash set joins back hash-keyed (sort-merge; it is NOT
    broadcastable at 100 TB where boilerplate is abundant). Map-side partial
    counts keep the hot-span skew bounded — a span shared by 1M docs is one
    (hash, count) row after partial agg, not 1M shuffled rows, because
    count(*)/count_distinct(doc_id) aggregate BEFORE the join-back."""
    from accumulo_wikisearch_spark.operators._scoped import Scope

    scope = Scope()
    toks = F.filter(F.split(F.col("text"), " "), lambda x: F.length(x) > 0)
    base = docs.select("doc_id", toks.alias("toks")).where(F.size("toks") >= k)
    inst = scope.persist(
        base.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - F.lit(k - 1)),
                    lambda i: hash60_col(F.array_join(F.slice("toks", i, k), " ")),
                )
            ).alias("g"),
        )
    )
    dup = (
        inst.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("g")
    )
    dup_per_doc = (
        inst.join(dup, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("int").alias("dup_spans"))
    )
    totals = inst.groupBy("doc_id").agg(F.count("*").cast("int").alias("n_spans"))
    return scope.attach(
        totals.join(dup_per_doc, "doc_id", "left").select(
            "doc_id",
            "n_spans",
            F.coalesce(F.col("dup_spans"), F.lit(0)).cast("int").alias("dup_spans"),
        )
    )


def remove_duplicated_spans(
    docs: DataFrame, k: int = 8, min_docs: int = 2
) -> DataFrame:
    """The exact-substring dedup TRANSFORM: rewrite each document with every
    corpus-duplicated k-token span removed (all copies — the conservative
    variant of Lee et al. ACL 2022, who drop one span occurrence; removing
    all copies needs no cross-doc coordination, which is what makes it a
    pure relational plan).

    A token is removed when ANY duplicated span covers its position; the
    surviving tokens re-join with single spaces (whitespace-normalizing,
    same token model as :func:`duplicated_spans`). Output:
    (doc_id, clean_text, n_removed) for EVERY document — docs shorter than
    ``k`` tokens pass through untouched.

    Scale shape: same single span-hash shuffle as duplicated_spans, plus a
    per-doc covered-position fold (collect_list of k-long ranges bounded by
    the doc's own span count — state is O(doc tokens), never corpus-sized)
    and one doc-keyed join back to the token arrays."""
    toks = F.filter(F.split(F.col("text"), " "), lambda x: F.length(x) > 0)
    base = docs.select("doc_id", toks.alias("toks"))
    grams = F.when(
        F.size("toks") >= k,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - F.lit(k - 1)),
            lambda i: hash60_col(F.array_join(F.slice("toks", i, k), " ")),
        ),
    ).otherwise(F.array().cast("array<long>"))
    from accumulo_wikisearch_spark.operators._scoped import Scope

    scope = Scope()
    inst = scope.persist(
        base.select("doc_id", F.posexplode(grams).alias("i", "g"))
    )
    dup = (
        inst.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("g")
    )
    cov = (
        inst.join(dup, "g", "left_semi")
        .groupBy("doc_id")
        .agg(
            F.array_distinct(
                F.flatten(
                    F.collect_list(F.sequence(F.col("i"), F.col("i") + F.lit(k - 1)))
                )
            ).alias("cov")
        )
    )
    covered = F.coalesce(F.col("cov"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("toks"), lambda t, i: ~F.array_contains(covered, i.cast("int"))
    )
    return scope.attach(
        base.join(cov, "doc_id", "left").select(
            "doc_id",
            F.array_join(kept, " ").alias("clean_text"),
            (F.size("toks") - F.size(kept)).cast("int").alias("n_removed"),
        )
    )


# ---------------------------------------------------------------------------
# embedding near-dups
# ---------------------------------------------------------------------------


def exact_vector_duplicates(emb: DataFrame) -> DataFrame:
    """Byte-identical embedding vectors: (vec_id, canonical_id) — the
    exact-dedup PRE-PASS the banded near-dup's ``max_bucket`` caveat
    points at (a >cap cluster of identical vectors collides in every LSH
    band and must be removed here first).

    canonical = min vec_id of the identical-vector group; rows whose
    vector is unique are not emitted (same contract as
    :func:`exact_duplicates` on text). Grouping is on the raw float
    array — exact bit equality, no tolerance. At 100 TB pre-hash the
    vector bytes (xxhash64) so the shuffle key is 8 bytes instead of the
    vector; the window below shuffles the full vector, correct and
    simplest at oracle scale."""
    w = Window.partitionBy(F.col("embedding"))
    return (
        emb.select(
            "vec_id", F.min("vec_id").over(w).alias("canonical_id")
        )
        .where(F.col("vec_id") != F.col("canonical_id"))
        .select("vec_id", "canonical_id")
    )


_EXACT_VEC_SQL = """
SELECT vec_id, canonical_id FROM (
  SELECT vec_id, min(vec_id) OVER (PARTITION BY embedding) AS canonical_id
  FROM embeddings
) WHERE vec_id <> canonical_id
"""


def embedding_near_dup_pairs_exact(emb: DataFrame, threshold_pct: int = 90) -> DataFrame:
    """Pairs of embeddings with cosine ≥ threshold_pct/100 — brute-force
    all-pairs. O(n²): the correctness oracle and recall baseline ONLY; the
    scale path is :func:`embedding_near_dup_pairs` (banded sign-LSH)."""
    v = emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    a = v.alias("a")
    b = v.alias("b")
    # NULL (not ANSI DIVIDE_BY_ZERO) for zero-norm vectors: a threshold
    # compare on NULL is NULL → the pair drops, the job survives
    cos = _cosine(F.col("a.v"), F.col("b.v"))
    return (
        a.crossJoin(b)
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .where(F.lit(100.0) * cos >= F.lit(float(threshold_pct)))
        .select(F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id"))
    )


_EMB_BANDS, _EMB_RBITS, _EMB_DIM = 16, 12, 64


@lru_cache(maxsize=1)
def _dedup_planes() -> tuple:
    """Seeded sign-LSH hyperplanes for near-dup banding, rounded to 6 dp so
    their decimal repr round-trips identically into Spark literals and the
    DuckDB oracle SQL."""
    rng = random.Random(4242)
    return tuple(
        tuple(round(rng.gauss(0.0, 1.0), 6) for _ in range(_EMB_DIM))
        for _ in range(_EMB_BANDS * _EMB_RBITS)
    )


def _band_buckets_udf():
    """Arrow-vectorized band signatures: ONE float64 matmul per batch
    against the (bands·rbits)×dim plane matrix, then bit-packed per band.
    The earlier per-plane ``aggregate(zip_with(...))`` Catalyst expression
    evaluated bands·rbits·dim interpreted lambda calls per ROW (~12k) —
    higher-order functions don't codegen their lambdas, so this is the
    documented pandas-UDF exception, ~100× the throughput.  Built lazily
    (pandas_udf needs an active session)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    planes_t = np.array(_dedup_planes(), dtype=np.float64).T  # (dim, b·r)

    # no pd.Series annotations: postponed evaluation (future annotations)
    # turns them into strings pandas_udf can't resolve
    @pandas_udf("array<long>")
    def buckets(vs):
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        V = np.array(vs.tolist(), dtype=np.float64)  # (n, dim)
        S = (V @ planes_t) > 0  # (n, bands·rbits)
        S = S.reshape(len(V), _EMB_BANDS, _EMB_RBITS)
        B = np.zeros((len(V), _EMB_BANDS), dtype=np.int64)
        for r in range(_EMB_RBITS):
            B |= S[:, :, r].astype(np.int64) << r
        return pd.Series(list(B))

    return buckets


def _cos_pairs_udf():
    """Vectorized exact-cosine verify over candidate pairs (two array
    columns → double), Arrow-batched."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(a, b):
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.array(a.tolist(), dtype=np.float64)
        B = np.array(b.tolist(), dtype=np.float64)
        num = (A * B).sum(axis=1)
        den = np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))
        return pd.Series(num / den)

    return cos


def embedding_near_dup_pairs(
    emb: DataFrame, threshold_pct: int = 90, max_bucket: int | None = 4096
) -> DataFrame:
    """Pairs with cosine ≥ threshold_pct/100 via banded sign-LSH candidates
    + exact cosine verification (Charikar 2002 banding; same construction
    as minhash_lsh_pairs).

    Scale shape: signatures are a narrow Arrow-vectorized map (no
    shuffle); the candidate self-join keys on (band, bucket) — linear in
    collisions instead of the n² cross product; the exact verify runs only
    on candidates. r=12 bits/band (4096 buckets) keeps random collisions
    ≈ n²/2¹² per band; recall for cos ≥ 0.9 pairs is 1-(1-p^r)^b ≈ 0.93
    (p ≈ 0.857), ≈ 0.996 at cos ≥ 0.95. ``max_bucket`` is the
    deterministic skew guard: any (band, bucket) group larger than the cap
    is dropped from THAT band before the self-join (other bands still see
    its members), bounding the join at O(b · n · max_bucket) regardless of
    data — no reliance on AQE skew handling. Caveat: a cluster of
    near-identical vectors larger than the cap collides in EVERY band and
    is lost entirely — identical-payload mass duplication belongs to the
    exact-dedup pre-pass (hash the vector bytes), not the LSH path. The
    banding and the cap are deterministic and replayed identically by the
    SQL oracle, so the driver check stays hash-exact at any recall."""
    v = emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    sig = v.select("vec_id", _band_buckets_udf()(F.col("v")).alias("bks"))
    e = sig.select("vec_id", F.posexplode("bks").alias("band", "bucket"))
    if max_bucket is not None:
        w = Window.partitionBy("band", "bucket")
        e = (
            e.withColumn("_bsz", F.count("*").over(w))
            .where(F.col("_bsz") <= max_bucket)
            .drop("_bsz")
        )
    # persist the capped band rows: without the cache the ENTIRE signature
    # leg — corpus scan, Arrow matmul UDF, explode, cap window with its
    # Exchange + Sort — ran once PER SELF-JOIN SIDE (AQE's broadcast
    # conversion defeats exchange reuse; r14 plan audit, nodes (1)-(13)
    # vs (14)-(26) in plans/r14/dedup_embedding_banded_before2.txt). The
    # cached rows are narrow (vec_id, band, bucket) — the vectors
    # themselves are re-read from the source only for the candidate
    # verify, the §8 "move heavy bytes once" shape.
    from accumulo_wikisearch_spark.operators._scoped import Scope

    scope = Scope()
    e = scope.persist(e)
    a = e.alias("a")
    b = e.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id"))
        .distinct()
    )
    va = v.select(F.col("vec_id").alias("a_id"), F.col("v").alias("av"))
    vb = v.select(F.col("vec_id").alias("b_id"), F.col("v").alias("bv"))
    return scope.attach(
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .where(
            F.lit(100.0) * _cos_pairs_udf()(F.col("av"), F.col("bv"))
            >= F.lit(float(threshold_pct))
        )
        .select("a_id", "b_id")
    )


# ---------------------------------------------------------------------------
# driver registry
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_runtime(spark)
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_runtime(spark)
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def queries():
    return {
        "dedup_exact": lambda s, d: exact_duplicates(_docs(s, d)),
        "dedup_ngram_jaccard": lambda s, d: ngram_jaccard_pairs(_docs(s, d)),
        "dedup_minhash_lsh": lambda s, d: minhash_lsh_pairs(_docs(s, d)),
        "dedup_simhash_sig": lambda s, d: simhash(_docs(s, d)),
        "dedup_simhash_pairs": lambda s, d: simhash_pairs(_docs(s, d)),
        "dedup_embedding_cosine": lambda s, d: embedding_near_dup_pairs(_emb(s, d)),
        "dedup_exact_embedding": lambda s, d: exact_vector_duplicates(_emb(s, d)),
        "dedup_cluster_components": lambda s, d: dedup_clusters(_docs(s, d)),
        "dedup_exact_substring": lambda s, d: duplicated_spans(_docs(s, d)),
        "dedup_remove_spans": lambda s, d: remove_duplicated_spans(_docs(s, d)),
        "dedup_minhash_incremental": _minhash_store_entry,
    }


# written signature-store cache per sf_dir (immutable once built)
_MINHASH_STORES: dict = {}


def _minhash_store_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup driven end-to-end: the signature store is
    written from the base corpus (doc_id % 5 != 0), the first delta
    (doc_id % 10 == 0) is APPENDED (the minor flush), and the second
    delta (doc_id % 10 == 5) is checked against base+delta1 — stored
    signatures are never recomputed. The oracle recomputes the exact
    cross-set Jaccard pairs from raw text over the same split, so a
    stale store, a broken append, or a banding bug all hash-mismatch."""
    import tempfile

    tune_runtime(spark)
    docs = _docs(spark, sf_dir)
    path = _MINHASH_STORES.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="wikisearch-minhash-store-")
        write_minhash_store(docs.where(F.col("doc_id") % 5 != 0), path)
        append_minhash_store(docs.where(F.col("doc_id") % 10 == 0), path)
        _MINHASH_STORES[sf_dir] = path
    return near_dups_vs_store(spark, docs.where(F.col("doc_id") % 10 == 5), path)


_H = HASH60_DUCKDB

def _ngram_sql(
    k: int = 3, num: int = 4, den: int = 5, max_df: int = 10_000
) -> str:
    """Exact word-k-gram Jaccard pairs with the df cap, parameterized —
    the oracle twin of ngram_jaccard_pairs (and, at high thresholds, of
    minhash_lsh_pairs' exact-verified output) at ANY (k, num/den)."""
    gram = "||' '||".join(f"wl[i+{j}]" for j in range(k))
    return f"""
WITH w AS (SELECT doc_id, string_split(text,' ') AS wl FROM documents),
sh0 AS (
  SELECT doc_id, unnest(list_distinct([{gram} for i in range(1, len(wl) - {k - 2})])) AS shingle
  FROM w WHERE len(wl) >= {k}
),
-- df cap: hot boilerplate shingles are excluded from the similarity
-- space, replaying ngram_jaccard_pairs' definition exactly
hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > {max_df}),
sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id FROM common
JOIN cnt ca ON ca.doc_id = a_id
JOIN cnt cb ON cb.doc_id = b_id
WHERE {den} * common >= {num} * (ca.n + cb.n - common)
"""


_SHINGLE_SQL = _ngram_sql()

_SIMHASH_SQL = f"""
WITH t AS (
  SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents
),
h AS (SELECT doc_id, {_H.format(expr='tok')} AS hv FROM t WHERE len(tok) > 0),
b AS (
  SELECT doc_id, j, SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, generate_series(0, 59) AS g(j)
  GROUP BY doc_id, j
)
SELECT doc_id, SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
FROM b GROUP BY doc_id
"""

def _emb_lsh_sql(threshold_pct: int = 90, max_bucket: int | None = 4096) -> str:
    """Replay of embedding_near_dup_pairs in SQL: same rounded plane
    literals, same band/bit indexing (band = i // rbits, bit = i % rbits),
    same per-(band, bucket) size cap, same exact-cosine verify —
    deterministic at any recall."""
    planes = _dedup_planes()
    vals = ",\n  ".join(
        f"({i}, [{', '.join(repr(x) for x in p)}]::DOUBLE[])"
        for i, p in enumerate(planes)
    )
    cos = (
        f"list_sum(list_transform(range(1, {_EMB_DIM + 1}), j -> ea.v[j] * eb.v[j]))"
        " / (sqrt(list_sum(list_transform(ea.v, x -> x*x)))"
        " * sqrt(list_sum(list_transform(eb.v, x -> x*x))))"
    )
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
p(i, pv) AS (VALUES
  {vals}),
dots AS (
  SELECT e.vec_id, p.i,
    list_sum(list_transform(range(1, {_EMB_DIM + 1}), j -> e.v[j] * p.pv[j])) AS dot
  FROM e CROSS JOIN p
),
bb0 AS (
  SELECT vec_id, i // {_EMB_RBITS} AS band,
    sum(CASE WHEN dot > 0 THEN (1::BIGINT << (i % {_EMB_RBITS})) ELSE 0 END)::BIGINT AS bucket
  FROM dots GROUP BY vec_id, i // {_EMB_RBITS}
),
bb AS (
  SELECT vec_id, band, bucket FROM bb0
  QUALIFY count(*) OVER (PARTITION BY band, bucket) <= {max_bucket if max_bucket is not None else 1 << 62}
),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT a_id, b_id FROM cand
JOIN e ea ON ea.vec_id = a_id
JOIN e eb ON eb.vec_id = b_id
WHERE 100.0 * ({cos}) >= {float(threshold_pct)}
"""


_SIMHASH_PAIRS_SQL = f"""
WITH t AS (
  SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents
),
h AS (SELECT doc_id, {_H.format(expr='tok')} AS hv FROM t WHERE len(tok) > 0),
bm AS (
  SELECT doc_id, j, SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, generate_series(0, 59) AS g(j)
  GROUP BY doc_id, j
),
sigs AS (
  SELECT doc_id, SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS sh
  FROM bm GROUP BY doc_id
),
banded0 AS (
  SELECT doc_id, sh, j AS band, (sh >> (j * 15)) & 32767 AS bsig
  FROM sigs, generate_series(0, 3) AS g(j)
),
banded AS (
  SELECT doc_id, sh, band, bsig FROM banded0
  QUALIFY count(*) OVER (PARTITION BY band, bsig) <= 4096
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.sh AS sa, b.sh AS sb
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
)
SELECT a_id, b_id, bit_count(xor(sa, sb))::INTEGER AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


# transitive closure by recursive CTE: comp labels flow along (symmetric)
# edges; min reachable label per node = the component id — the same fixpoint
# label propagation converges to.
_CLUSTER_SQL = f"""
WITH RECURSIVE
p AS ({_SHINGLE_SQL}),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM p
  UNION
  SELECT b_id, a_id FROM p
),
reach(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, min(comp)::BIGINT AS cluster_id FROM reach GROUP BY node
"""


def _dup_spans_sql(k: int = 8, min_docs: int = 2) -> str:
    """Replay of duplicated_spans: same k-gram windows (1-based inclusive
    slice of the empty-filtered whitespace tokens), same portable hash60 of
    the joined span text, same distinct-doc threshold."""
    g = _H.format(expr=f"array_to_string(toks[i:i+{k - 1}],' ')")
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text,' '), x -> len(x) > 0) AS toks
  FROM documents
),
inst AS (
  SELECT doc_id, {g} AS g
  FROM t, unnest(range(1, len(toks) - {k} + 2)) AS u(i)
  WHERE len(toks) >= {k}
),
dup AS (SELECT g FROM inst GROUP BY g HAVING count(DISTINCT doc_id) >= {min_docs}),
d AS (
  SELECT doc_id, count(*) AS dup_spans FROM inst
  WHERE g IN (SELECT g FROM dup) GROUP BY doc_id
),
tot AS (SELECT doc_id, count(*) AS n_spans FROM inst GROUP BY doc_id)
SELECT tot.doc_id, tot.n_spans::INTEGER AS n_spans,
       COALESCE(d.dup_spans, 0)::INTEGER AS dup_spans
FROM tot LEFT JOIN d USING (doc_id)
"""


def _remove_spans_sql(k: int = 8, min_docs: int = 2) -> str:
    """Replay of remove_duplicated_spans (1-based positions internally;
    only the rebuilt text is position-sensitive and it round-trips)."""
    g = _H.format(expr=f"array_to_string(toks[i:i+{k - 1}],' ')")
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text,' '), x -> len(x) > 0) AS toks
  FROM documents
),
inst AS (
  SELECT doc_id, i, {g} AS g
  FROM t, unnest(range(1, len(toks) - {k} + 2)) AS u(i)
  WHERE len(toks) >= {k}
),
dup AS (SELECT g FROM inst GROUP BY g HAVING count(DISTINCT doc_id) >= {min_docs}),
cov AS (
  SELECT doc_id, list_distinct(flatten(list(range(i, i + {k})))) AS cov
  FROM inst WHERE g IN (SELECT g FROM dup) GROUP BY doc_id
),
pos AS (
  SELECT t.doc_id, u.j, t.toks[u.j] AS tok,
         COALESCE(list_contains(cov.cov, u.j), FALSE) AS rm
  FROM t LEFT JOIN cov USING (doc_id), unnest(range(1, len(t.toks) + 1)) AS u(j)
),
agg AS (
  SELECT doc_id,
    COALESCE(array_to_string(list(tok ORDER BY j) FILTER (WHERE NOT rm), ' '), '') AS clean_text,
    count(*) FILTER (WHERE rm) AS n_removed
  FROM pos GROUP BY doc_id
)
SELECT t.doc_id, COALESCE(agg.clean_text, '') AS clean_text,
       COALESCE(agg.n_removed, 0)::INTEGER AS n_removed
FROM t LEFT JOIN agg USING (doc_id)
"""


def oracle_sql():
    return {
        "dedup_exact": (
            "SELECT doc_id, canonical_id FROM ("
            "  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id"
            "  FROM documents) WHERE doc_id <> canonical_id"
        ),
        "dedup_ngram_jaccard": _SHINGLE_SQL,
        # minhash verified against the *exact* pair set: precision 1.0 by
        # construction, recall ≈1 at these jaccard levels (16 bands × 4 rows)
        "dedup_minhash_lsh": _SHINGLE_SQL,
        "dedup_simhash_sig": _SIMHASH_SQL,
        "dedup_simhash_pairs": _SIMHASH_PAIRS_SQL,
        "dedup_embedding_cosine": _emb_lsh_sql(),
        "dedup_exact_embedding": _EXACT_VEC_SQL,
        "dedup_cluster_components": _CLUSTER_SQL,
        "dedup_exact_substring": _dup_spans_sql(),
        "dedup_remove_spans": _remove_spans_sql(),
        "dedup_minhash_incremental": _minhash_store_sql(),
    }


def _minhash_store_sql(k: int = 3, num: int = 4, den: int = 5) -> str:
    """Exact cross-set Jaccard replay of the incremental store entry:
    a-side = base + appended delta1 (doc_id % 10 <> 5), b-side = the
    checked delta2 (doc_id % 10 = 5). No df cap — the store path's skew
    control is the band-group cap, inert at check scale (same contract
    as dedup_minhash_lsh's oracle)."""
    gram = "||' '||".join(f"wl[i+{j}]" for j in range(k))
    return f"""
WITH w AS (SELECT doc_id, string_split(text,' ') AS wl FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct([{gram} for i in range(1, len(wl) - {k - 2})])) AS shingle
  FROM w WHERE len(wl) >= {k}
),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS base_id, b.doc_id AS new_id, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle
  WHERE a.doc_id % 10 <> 5 AND b.doc_id % 10 = 5
  GROUP BY 1, 2
)
SELECT base_id, new_id FROM common
JOIN cnt ca ON ca.doc_id = base_id
JOIN cnt cb ON cb.doc_id = new_id
WHERE {den} * common >= {num} * (ca.n + cb.n - common)
"""
