"""Similarity search over embedding columns.

- ``topk_bruteforce``: exact cosine top-k — the correctness baseline. The
  query side is tiny and broadcast; the corpus side streams, so at 100 TB
  this is one scan + a per-partition top-k (window) with no full sort.
- ``topk_lsh``: random-hyperplane LSH buckets + exact re-rank within the
  probed buckets — the scale path (candidates ∝ bucket size, not corpus).

Cosines are computed JVM-side with ``zip_with``/``aggregate`` over
double-cast arrays — no Python UDF.

The IVF variant follows the inverted-file construction of Sivic & Zisserman
("Video Google", ICCV 2003) as popularized by FAISS (Johnson et al.,
"Billion-scale similarity search with GPUs", 2017): coarse k-means cells +
per-query nprobe probing; LSH is sign-random-projection (Charikar 2002).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from accumulo_wikisearch_spark.functions.normalize import HASH60_DUCKDB
from accumulo_wikisearch_spark.operators.layout import write_layout
from accumulo_wikisearch_spark.operators.manifest import _fs, _open_json
from accumulo_wikisearch_spark.session import tune_runtime


def _as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _empty_topk(spark: SparkSession) -> DataFrame:
    """The (query_id, neighbor_id, rank) shape with zero rows — the
    empty-query-set short-circuit of the on-disk ANN paths."""
    return spark.createDataFrame([], "query_id bigint, neighbor_id bigint, rank int")


def _rank_topk(scored: DataFrame, k: int, order: Column) -> DataFrame:
    """Per-query top-k — the shared tail of every ANN operator: rank the
    scored candidates by ``order`` with ties to the LOWER neighbor_id,
    keep rank ≤ k. One window; Spark inserts WindowGroupLimit below the
    exchange, so each partition keeps only its local top-k before the
    query-keyed shuffle (no full sort)."""
    w = Window.partitionBy("query_id").orderBy(order, F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
    )


def _cosine(a: Column, b: Column) -> Column:
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    n = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda s, x: s + x * x))
    # zero-norm vectors score NULL, not DIVIDE_BY_ZERO: under ANSI mode a
    # single degenerate row would otherwise fail the whole job; NULL scores
    # sort last (desc) so such candidates lose deterministically
    return dot / F.nullif(n(a) * n(b), F.lit(0.0))


def _qv(queries: DataFrame) -> DataFrame:
    """(query_id, qv DOUBLE[]) — the float query side of the ANN paths."""
    return queries.select("query_id", _as_double(F.col("qv")).alias("qv"))


def _score_rank(cands: DataFrame, k: int, m: int | None = None) -> DataFrame:
    """Score and rank candidate pairs — the one tail of every cosine and
    ADC top-k (partition-local scoring, then the shared :func:`_rank_topk`
    merge). ``cands`` holds one row per (query_id, candidate vec_id);
    self-matches are dropped. Without ``m`` the score is the cosine of
    (qv, v), best first; with ``m`` it is the ADC distance over the LUT
    columns l0… and the codes code_0…code_{m-1}, smallest first, and
    uncoded (malformed-vector) rows are dropped — their NULL distance
    would rank first."""
    if m is None:
        score, order = _cosine(F.col("qv"), F.col("v")), F.desc
    else:
        cands = cands.where(F.col("code_0").isNotNull())
        score, order = _adc_lut_dist(m), F.asc
    scored = cands.where(F.col("vec_id") != F.col("query_id")).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), score.alias("score")
    )
    return _rank_topk(scored, k, order("score"))


def topk_bruteforce(
    emb: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``queries``: (query_id, qv ARRAY<FLOAT/DOUBLE>). Output:
    (query_id, neighbor_id, rank) with deterministic tie-break on
    neighbor_id. Self-matches (same id) are excluded.
    """
    corpus = emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    return _score_rank(corpus.join(F.broadcast(_qv(queries))), k)


def self_queries(emb: DataFrame, n: int = 5) -> DataFrame:
    """First n corpus vectors as the query set (deterministic).

    Uses ``vec_id < n`` — engine and SQL oracles rely on the test corpus's
    contiguous-from-0 vec_id contract here (TESTDATA embeddings satisfy
    it); centroid CELL labels do NOT assume it (row_number both sides)."""
    return emb.where(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (scale path)
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, nbits: int, seed: int = 2024) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(nbits)]


def lsh_bucket(col: Column, planes: list[list[float]]) -> Column:
    """Sign-random-projection bucket id of an (double[]) embedding column.
    Plane literals ride in as single-expression SQL strings (_dvec_expr) —
    one py4j call per plane instead of one per coefficient. Kept as the
    expression-form reference; the hot path uses :func:`_lsh_bucket_udf`."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(col, F.expr(_dvec_expr(p)), lambda a, b: a * b),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def _lsh_bucket_udf(planes: list[list[float]]):
    """Arrow-vectorized sign-LSH bucketing — one numpy pass per batch
    instead of nbits interpreted ``aggregate(zip_with(...))`` dots per
    row (the `_assign_cells_udf` pattern). Bit-exact with
    :func:`lsh_bucket`: the dot accumulates as the SAME sequential
    per-dim fold, the sign test compares the identical doubles, and the
    bucket is a sum of distinct powers of two (exact in int64). Built
    lazily (pandas_udf needs an active session)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    P = np.array(planes, dtype=np.float64)  # (nbits, dim)
    nbits, dim = P.shape
    weights = (1 << np.arange(nbits)).astype(np.int64)

    @pandas_udf("long")
    def bucket(vs):
        if len(vs) == 0:
            return pd.Series([], dtype="int64")
        # NULL / wrong-dimension vectors bucket to -1 (a valid bucket is a
        # sum of non-negative powers, so ≥ 0) and the caller filters them
        # out — one malformed row must never kill the job (the expression
        # form degraded gracefully; np.array on ragged input raises)
        vals = list(vs)
        ok = [i for i, x in enumerate(vals) if x is not None and len(x) == dim]
        out = np.full(len(vals), -1, dtype=np.int64)
        if ok:
            V = np.array([vals[i] for i in ok], dtype=np.float64)  # (m, dim)
            dot = np.zeros((len(ok), nbits))
            for j in range(dim):  # sequential fold == F.aggregate order
                dot += V[:, j : j + 1] * P[None, :, j]
            out[ok] = ((dot > 0).astype(np.int64) * weights).sum(axis=1)
        return pd.Series(out)

    # marked nondeterministic ONLY so Catalyst cannot push the caller's
    # `bucket >= 0` filter below the projection, which re-evaluates the
    # kernel there: one Arrow pass per row instead of two
    return bucket.asNondeterministic()


def topk_lsh(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nbits: int = 8,
    dim: int = 64,
) -> DataFrame:
    """ANN top-k: exact re-rank restricted to the query's LSH bucket.

    Recall < 1 by construction (single-probe); at scale the bucket join
    replaces the full cross product — candidates shrink by ~2^nbits.
    """
    return _lsh_topk(emb, queries, k, nbits, dim, n_flip=0)


def topk_lsh_multiprobe(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nbits: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al., "Multi-probe LSH: efficient
    indexing for high-dimensional similarity search", VLDB 2007): probe
    the query's exact bucket PLUS every Hamming-1 neighbor (each of the
    ``nbits`` sign bits flipped), then exact-cosine re-rank over the
    union of candidates.

    Single-probe LSH misses a true neighbor whenever ANY hyperplane
    separates the pair; probing the 1-bit flips recovers every neighbor
    that disagrees on exactly one plane — candidates grow ~(1+nbits)×
    while recall jumps toward 1 (the standard trade for fewer tables).
    The probe set is a deterministic expression (no ranking state), so
    the oracle replays it verbatim. A corpus vector lives in exactly one
    bucket and the 1+nbits probed buckets are distinct, so no candidate
    dedup is needed."""
    return _lsh_topk(emb, queries, k, nbits, dim, n_flip=nbits)


def _lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    nbits: int,
    dim: int,
    n_flip: int,
) -> DataFrame:
    """Shared LSH body: bucket both sides (Arrow kernel), probe the exact
    bucket plus the first ``n_flip`` single-bit flips, exact-cosine
    re-rank."""
    planes = _hyperplanes(dim, nbits)
    bucket = _lsh_bucket_udf(planes)
    corpus = emb.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("v"),
        bucket(F.col("embedding")).alias("bucket"),
    ).where(F.col("bucket") >= 0)  # drop NULL/ragged vectors, not the job
    q = queries.select(
        "query_id",
        _as_double(F.col("qv")).alias("qv"),
        bucket(F.col("qv")).alias("bucket"),
    ).where(F.col("bucket") >= 0)
    if n_flip:
        probe_set = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("long"))
                for i in range(n_flip)
            ],
        )
        q = q.select("query_id", "qv", F.explode(probe_set).alias("bucket"))
    return _score_rank(corpus.join(F.broadcast(q), "bucket"), k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse quantizer + probed-cell re-rank
# ---------------------------------------------------------------------------


def _dvec_expr(xs: list[float]) -> str:
    """A double-array literal as ONE SQL expression string. repr() is the
    shortest round-trip decimal and Double.parseDouble returns the nearest
    double, so the value is bit-exact — same convention the DuckDB oracles
    use. One F.expr beats element-wise F.lit trees: each py4j Column call
    costs ~1 ms driver-side, so a 16×16×16 codebook built from F.lit is
    seconds of pure driver overhead before the job even starts."""
    return "array(" + ",".join(f"CAST({x!r} AS DOUBLE)" for x in xs) + ")"


def _cached_expr(cache: dict, key, build) -> Column:
    """Session-scoped, bounded memo for parsed Column objects. py4j Columns
    hold JavaObject refs that die with the JVM, so entries are keyed to the
    active SparkSession and dropped wholesale on session change (a stale
    ref would otherwise surface as a confusing py4j error after a
    restart); the cache is also size-bounded so long-lived services with
    many centroid/codebook sets don't grow without bound.

    Identity is held as a WEAKREF to the session object — ``id()`` alone
    is unsafe (CPython reuses a dead session's address, which would
    false-hit and serve a Column holding a dead JavaObject). A dead
    weakref dereferences to None ≠ any live session, forcing the clear.
    No active session (rare; e.g. a bare helper call before any builder)
    → build uncached."""
    import weakref

    from pyspark.sql import SparkSession

    sess = SparkSession.getActiveSession()
    if sess is None:
        return build()
    ref = cache.get("__sess__")
    if ref is None or ref() is not sess or len(cache) > 64:
        cache.clear()
        cache["__sess__"] = weakref.ref(sess)
    if key not in cache:
        cache[key] = build()
    return cache[key]


def _centroid_lit(centroids: list[tuple[int, list[float]]]) -> Column:
    """Centroid set as ONE array<struct<cell,cvec>> literal. Kept to a single
    compact expression (n_cells × dim literal leaves) so the Catalyst tree
    stays small — a chained-``when`` argmax over per-centroid cosines
    duplicates the cosine subtree per branch and blows up analysis — and
    built as ONE SQL string → ONE py4j call (see _dvec_expr). The parsed
    Column is cached per (session, centroid set) — reusable across
    DataFrames."""
    key = tuple((int(cid), tuple(cvec)) for cid, cvec in centroids)
    return _cached_expr(
        _CENTROID_LIT_CACHE,
        key,
        lambda: F.expr(
            "array("
            + ",".join(
                f"struct({int(cid)} AS cell, {_dvec_expr(cvec)} AS cvec)"
                for cid, cvec in centroids
            )
            + ")"
        ),
    )


_CENTROID_LIT_CACHE: dict = {}


def _assign_cells_udf(centroids: list[tuple[int, list[float]]]):
    """Arrow-vectorized argmax-cosine cell assignment — ONE numpy pass per
    batch instead of n_cells interpreted ``aggregate(zip_with(...))``
    cosines per ROW (higher-order lambdas don't codegen; at 16 cells ×
    64 dims that was ~3k interpreted calls/row — the same justification
    as dedup._band_buckets_udf, which measured ~100×).

    Bit-exact with the `_cell_scores` + `array_max` expression it
    replaces: every reduction is the SAME left-to-right IEEE-double fold
    (vectorized across rows, sequential over dims — numpy's pairwise
    ``sum`` would drift in the last ulp), and ties break to the HIGHER
    cell exactly like array_max over (score, cell) structs. Built lazily
    (pandas_udf needs an active session).

    NULL / wrong-dimension / zero-norm vectors assign to cell -1 (valid
    cells are ≥ 0) and callers drop them — one malformed row must never
    kill the job (the `_lsh_bucket_udf` contract; ``np.array`` on ragged
    input raises, and a zero norm would raise DIVIDE_BY_ZERO in the
    expression form under ANSI mode, either failing the whole task)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    Cm = np.array([cvec for _cid, cvec in centroids], dtype=np.float64)  # (k, dim)
    cell_ids = np.array([int(cid) for cid, _ in centroids], dtype=np.int64)
    # the reversed-argmax tie-break below returns the highest INDEX; it
    # equals the highest cell id only if ids ascend with index
    assert all(a < b for a, b in zip(cell_ids, cell_ids[1:]))
    k, dim = Cm.shape

    @pandas_udf("int")
    def assign(vs):
        if len(vs) == 0:
            return pd.Series([], dtype="int32")
        vals = list(vs)
        ok = [i for i, x in enumerate(vals) if x is not None and len(x) == dim]
        out = np.full(len(vals), -1, dtype=np.int64)
        if ok:
            V = np.array([vals[i] for i in ok], dtype=np.float64)  # (m, dim)
            dot = np.zeros((len(V), k))
            nv = np.zeros(len(V))
            nc = np.zeros(k)
            for j in range(dim):  # sequential folds == F.aggregate order
                dot += V[:, j : j + 1] * Cm[None, :, j]
                nv += V[:, j] * V[:, j]
                nc += Cm[:, j] * Cm[:, j]
            if not np.all(nc > 0):
                # a zero-norm CENTROID is a broken index, not broken data
                raise ValueError("zero-norm centroid in coarse quantizer")
            den = np.sqrt(nv)[:, None] * np.sqrt(nc)[None, :]
            valid = (den > 0).all(axis=1)  # zero/underflow-norm row → -1
            with np.errstate(invalid="ignore", divide="ignore"):
                s = np.where(den > 0, dot / np.where(den > 0, den, 1.0), -np.inf)
            best = (k - 1) - np.argmax(s[:, ::-1], axis=1)  # ties → higher cell
            res = cell_ids[best]
            res[~valid] = -1
            out[ok] = res
        return pd.Series(out.astype("int32"))

    # nondeterministic for the `_lsh_bucket_udf` reason: `_assigned`'s
    # `cell >= 0` filter must stay above the projection, so the kernel
    # runs once per row. (The PQ `codes` kernel stays deterministic:
    # `_code_select` reads it m times and relies on Spark deduplicating
    # repeated references to ONE deterministic UDF.)
    return assign.asNondeterministic()


def _cell_scores(v: Column, cents: Column) -> Column:
    """array<struct<s,cell>>: cosine of ``v`` against every centroid.
    Higher-order ``transform`` — evaluated per row JVM-side, one cosine
    expression in the plan regardless of n_cells."""
    return F.transform(
        cents,
        lambda c: F.struct(_cosine(v, c["cvec"]).alias("s"), c["cell"].alias("cell")),
    )


def _probes(
    qv: DataFrame, cents: list[tuple[int, list[float]]], nprobe: int
) -> DataFrame:
    """(query_id, qv, cell): one row per probed cell — the ``nprobe``
    centroids nearest each query by cosine, ties to the higher cell
    (array_sort over (score, cell) structs, reversed). ``qv`` is a
    (query_id, qv DOUBLE[]) frame."""
    scores = _cell_scores(F.col("qv"), _centroid_lit(cents))
    nearest = F.slice(F.reverse(F.array_sort(scores)), 1, nprobe)
    return qv.select("query_id", "qv", F.explode(nearest["cell"]).alias("cell"))


def _assigned(
    vecs: DataFrame, by: Column, cents: list[tuple[int, list[float]]], *cols: Column
) -> DataFrame:
    """(vec_id, *cols, cell): each row's cell is the nearest centroid of
    ``by`` (the Arrow kernel); rows the kernel cannot assign (NULL,
    ragged or zero-norm vectors → cell -1) are dropped, not the job."""
    return vecs.select(
        "vec_id", *cols, _assign_cells_udf(cents)(by).alias("cell")
    ).where(F.col("cell") >= 0)


def ivf_assign(emb: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """Assign each vector to its nearest centroid (coarse quantizer).

    The centroid set is tiny and rides into the Arrow kernel as a numpy
    constant — a narrow map over the corpus, NO shuffle. At 100 TB the
    assignment is one pass; a partitioned-by-cell layout then makes each
    query touch only probed cells.
    """
    v = _as_double(F.col("embedding")).alias("v")
    return _assigned(emb, F.col("embedding"), centroids, v)


def take_centroids(emb: DataFrame, n_cells: int = 16) -> list[tuple[int, list[float]]]:
    """Deterministic seed centroids: the first n_cells corpus vectors by
    vec_id, verbatim, labelled 0..n_cells-1 (a k-means|| stand-in the SQL
    oracles replay; the refined quantizers are
    :func:`take_centroids_trained` and :func:`take_centroids_lloyd_exact`)."""
    rows = emb.orderBy("vec_id").limit(n_cells).collect()
    return [(i, [float(x) for x in r["embedding"]]) for i, r in enumerate(rows)]


def _coarse_cents(
    emb: DataFrame,
    n_cells: int,
    lloyd_iters: int,
    centroids: str,
    sample_cap: int = 2048,
) -> list[tuple[int, list[float]]]:
    """Centroid-selection switch shared by the IVF and SemDeDup entry
    points: ``"trained"`` (the DEFAULT everywhere) = hash-sample +
    farthest-point + integer-exact Lloyd on the int8 grid
    (:func:`take_centroids_trained` — seed rows degrade recall as the
    corpus outgrows its first n rows); ``"seed"`` = the first n rows
    (:func:`take_centroids`; ``lloyd_iters`` is ignored), kept as the
    simpler SQL-replayable twin."""
    if centroids == "trained":
        return take_centroids_trained(emb, n_cells, lloyd_iters, sample_cap)
    return take_centroids(emb, n_cells)


def topk_ivf(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    lloyd_iters: int = 2,
    centroids: str = "trained",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """ANN top-k probing the ``nprobe`` nearest cells per query.

    corpus→cell assignment shuffles once on cell; queries broadcast with
    their probe lists; candidates ∝ corpus × (nprobe / n_cells).

    ``candidates`` (optional) restricts the SEARCHED rows to a filtered
    slice of the corpus — metadata-filtered vector search. The quantizer
    and probe lists still come from the full ``emb`` (the index layout is
    filter-agnostic, like a partitioned ANN index serving many filters);
    the predicate rides the candidate-side parquet scan, so a selective
    filter cuts both IO and scoring cost instead of post-filtering
    results (which would silently return < k hits).

    ``centroids="trained"`` (the DEFAULT) uses the sampled
    farthest-point + exact-Lloyd quantizer — deterministic end-to-end
    (the ann_topk_ivf_default oracle replays it against the float
    corpus). ``centroids="seed"`` keeps the first n_cells vectors
    verbatim and ignores ``lloyd_iters`` — the simplest ANSI-SQL twin;
    the deterministic refined-seed path with its own oracle is
    :func:`topk_ivf_lloyd_exact`.
    """
    cents = _coarse_cents(emb, n_cells, lloyd_iters, centroids)
    corpus = ivf_assign(emb if candidates is None else candidates, cents)
    probes = _probes(_qv(queries), cents, nprobe)
    return _score_rank(corpus.join(F.broadcast(probes), "cell"), k)


def _write_quantizer(
    spark: SparkSession,
    path: str,
    cents: list[tuple[int, list[float]]],
    books: list[list[tuple[int, list[float]]]] | None = None,
) -> None:
    """Persist the quantizer metadata beside the index as
    ``_QUANTIZER.json`` (underscore-prefixed → invisible to Spark's data-
    file listing, like ``_tombstones``; written through the Hadoop FS API
    so s3/hdfs index roots work — the ``_MANIFEST.json`` pattern of
    sampling.write_training_shards). JSON serializes doubles via repr
    (shortest round-trip decimal), so a reopened quantizer is bit-
    identical and query results match the warm process exactly."""
    import json

    meta: dict = {
        "centroids": [[int(c), [float(x) for x in v]] for c, v in cents]
    }
    if books is not None:
        meta["codebooks"] = [
            [[int(c), [float(x) for x in v]] for c, v in book] for book in books
        ]
    fs, p, _ = _fs(spark, f"{path}/_QUANTIZER.json")
    out = fs.create(p, True)
    out.write(bytearray(json.dumps(meta).encode()))
    out.close()


def read_quantizer(
    spark: SparkSession, path: str
) -> tuple[
    list[tuple[int, list[float]]], list[list[tuple[int, list[float]]]] | None
]:
    """(centroids, codebooks-or-None) reopened from ``_QUANTIZER.json`` —
    a cold serving process can answer queries against a written IVF /
    IVF-PQ index without retraining or any in-memory state from the
    build (the serving-restart gap: the write_* return values used to be
    the only copy of the quantizer)."""
    fs, _, jvm = _fs(spark, path)
    meta = _open_json(fs, jvm, f"{path}/_QUANTIZER.json")
    if meta is None:
        raise FileNotFoundError(f"{path} has no _QUANTIZER.json")
    cents = [(int(c), [float(x) for x in v]) for c, v in meta["centroids"]]
    books = None
    if "codebooks" in meta:
        books = [
            [(int(c), [float(x) for x in v]) for c, v in book]
            for book in meta["codebooks"]
        ]
    return cents, books


def write_ivf_index(
    emb: DataFrame,
    path: str,
    n_cells: int = 16,
    lloyd_iters: int = 2,
    centroids: str = "trained",
) -> list[tuple[int, list[float]]]:
    """Persist the IVF layout: corpus partitioned by cell on disk, so a
    query's nprobe cells are partition-pruned file reads (the ANN analogue
    of the shard table's partition pruning). The coarse quantizer is
    TRAINED by default (:func:`_coarse_cents`). Returns the centroids, and
    ALSO persists them beside the index as ``_QUANTIZER.json`` (they are
    the 'coarse quantizer' metadata — see :func:`read_quantizer`)."""
    cents = _coarse_cents(emb, n_cells, lloyd_iters, centroids)
    write_layout(
        ivf_assign(emb, cents).repartition("cell"), path, ("cell",), ("vec_id",)
    )
    _write_quantizer(emb.sparkSession, path, cents)
    return cents


def append_ivf_index(
    emb_delta: DataFrame, path: str, cents: list[tuple[int, list[float]]]
) -> None:
    """Incremental upsert into a written IVF layout — the ANN analogue of
    the LSM minor flush: assign the delta batch to the EXISTING (frozen)
    coarse quantizer and append, partitioned by cell. One narrow pass
    over the delta; the append touches only the delta's cell directories
    and never rewrites the base. Query results over the appended layout
    are IDENTICAL to a from-scratch build with the same centroids (the
    driver entry ann_ivf_append_equiv proves it) — retraining the
    quantizer and rebuilding is the 'major compaction', run when drift
    warrants it."""
    write_layout(
        ivf_assign(emb_delta, cents).repartition("cell"),
        path,
        ("cell",),
        ("vec_id",),
        mode="append",
    )


def delete_ivf_vectors(spark: SparkSession, path: str, vec_ids) -> None:
    """Tombstone delete for a written IVF or IVF-PQ layout — the delete
    half of the LSM maintenance pair (append_ivf_index is the insert
    half): appends ids to ``_tombstones`` under the index root.
    Underscore-prefixed paths are invisible to Spark's file listing, so
    the main corpus read is untouched; both on-disk readers
    (:func:`topk_ivf_on_disk`, :func:`topk_ivf_pq_on_disk`) anti-join
    the (broadcast, tiny) tombstone set out at query time. A rewrite
    without tombstoned rows is the 'major compaction', exactly as in
    operators/compaction.py."""
    spark.createDataFrame(
        [(int(v),) for v in vec_ids], "vec_id bigint"
    ).coalesce(1).write.mode("append").parquet(f"{path}/_tombstones")


def _ivf_tombstones(spark: SparkSession, path: str) -> DataFrame | None:
    """The ``_tombstones`` set of an index root, or None when nothing was
    ever deleted. One Hadoop FS existence call per query (s3/hdfs URIs
    work too) — far cheaper than failing a read of the missing dir. Any
    FS error propagates: swallowing it would silently serve deleted
    vectors."""
    fs, p, _ = _fs(spark, f"{path}/_tombstones")
    return spark.read.parquet(f"{path}/_tombstones") if fs.exists(p) else None


def _read_probed_cells(
    spark: SparkSession, path: str, probes: DataFrame
) -> DataFrame | None:
    """The live rows of a written cell-partitioned layout (IVF or IVF-PQ)
    that ``probes`` reach. The (tiny) union of probed cells is collected
    so the ``isin`` filter prunes partitions at scan time (verify
    PartitionFilters in the plan); tombstoned vec_ids
    (:func:`delete_ivf_vectors`) are anti-joined out. None for an empty
    query set: isin() with no values would throw."""
    cells = sorted({r["cell"] for r in probes.select("cell").distinct().collect()})
    if not cells:
        return None
    corpus = spark.read.parquet(path).where(F.col("cell").isin(*cells))
    tombs = _ivf_tombstones(spark, path)
    if tombs is not None:
        corpus = corpus.join(F.broadcast(tombs), "vec_id", "left_anti")
    return corpus


def topk_ivf_on_disk(
    spark: SparkSession,
    path: str,
    cents: list[tuple[int, list[float]]],
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """ANN top-k against a written IVF layout: only the probed cells'
    files are read, tombstoned vec_ids are skipped
    (:func:`_read_probed_cells`)."""
    probes = _probes(_qv(queries), cents, nprobe)
    corpus = _read_probed_cells(spark, path, probes)
    if corpus is None:
        return _empty_topk(spark)
    return _score_rank(corpus.join(F.broadcast(probes), "cell"), k)


# ---------------------------------------------------------------------------
# Lloyd-refined IVF, integer-exact — the driver-checkable refinement path
# ---------------------------------------------------------------------------


def _quantize_arr(col: Column) -> Column:
    """int8 quantization of ONE array column as whole-number doubles
    (quantize_int8's formula: scale = max|x|/127, q = round(x/scale)).
    Kept as a JVM expression (not numpy): Spark/DuckDB ``round`` is
    half-away-from-zero while np.round is half-to-even, and the hash gate
    is bit-exact."""
    v = _as_double(col)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = mx / F.lit(127.0)
    # Branch on the COMPUTED scale, not mx: for a vector whose max
    # |component| is subnormal (< ~6.4e-322), mx/127 UNDERFLOWS to exactly
    # 0.0 while mx != 0 — an mx==0 guard would then evaluate x/0.0 and
    # abort the whole job under ANSI mode. All-subnormal vectors quantize
    # to the zero vector (the only representable grid).
    return F.when(scale == 0, F.transform(v, lambda x: F.lit(0.0))).otherwise(
        F.transform(v, lambda x: F.round(x / scale))
    )


def _quantize_udf():
    """Arrow-vectorized int8 quantization — ONE numpy pass per batch
    instead of ~3 interpreted lambda calls per ELEMENT (the transform/
    round/array_max tree measured ~0.65 ms/row at 64 dims — it was the
    dominant cost of every quantized-corpus path).

    Bit-exact with the :func:`_quantize_arr` expression it replaces
    (property-tested side by side): Spark/DuckDB ``round`` on DOUBLE is
    half-away-from-zero ON THE EXACT DOUBLE VALUE (halfway points n+0.5
    are exactly representable below 2^52, so no decimal-repr ambiguity),
    and np.round (half-to-even) or ``floor(x+0.5)`` (the 0.49999999999999994
    pitfall: the +0.5 ADDITION rounds up to 1.0) both get it wrong — so
    the kernel computes the fractional part EXACTLY (``m - floor(m)`` is
    exact for 0 ≤ m < 2^52: Sterbenz for m ≥ 1, trivial below) and
    compares it to 0.5. NULL rows stay NULL (the `_lsh_bucket_udf`
    malformed-row contract); lengths may vary (quantization is per-row),
    so rows are batched by length."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def q(vs):
        vals = list(vs)
        res: list = [None] * len(vals)
        by_len: dict[int, list[int]] = {}
        for i, x in enumerate(vals):
            if x is not None:
                by_len.setdefault(len(x), []).append(i)
        for ln, idxs in by_len.items():
            if ln == 0:
                for i in idxs:
                    res[i] = np.array([], dtype=np.float64)
                continue
            X = np.array([vals[i] for i in idxs], dtype=np.float64)
            mx = np.max(np.abs(X), axis=1)
            # Guard on the COMPUTED scale: mx/127 underflows to 0.0 for
            # subnormal-max vectors (mx < ~6.4e-322) — an mx==0 guard
            # would emit inf codes here and DIVERGE from _quantize_arr.
            scale = mx / 127.0
            A = X / np.where(scale == 0.0, 1.0, scale)[:, None]
            M = np.abs(A)
            Fl = np.floor(M)
            R = Fl + (M - Fl >= 0.5)  # exact frac ⇒ exact half-away
            Q = np.where(A < 0, -R, R)
            Q[scale == 0.0, :] = 0.0
            for r, i in enumerate(idxs):
                res[i] = Q[r]
        return pd.Series(res)

    return q


def _quantized_vecs(emb: DataFrame) -> DataFrame:
    """int8-quantized corpus vectors. Whole-number inputs make every
    downstream sum EXACT in double (|Σ| « 2⁵³, no rounding), so
    aggregation order stops mattering — the property that lets Lloyd
    refinement be deterministic across engines and partitionings."""
    return emb.select("vec_id", _quantize_udf()(F.col("embedding")).alias("v"))


def _lloyd_refine_exact(
    q8: DataFrame, cents: list[tuple[int, list[float]]], lloyd_iters: int
) -> list[tuple[int, list[float]]]:
    """The integer-exact distributed Lloyd loop of
    :func:`take_centroids_lloyd_exact`: assign (Arrow kernel, narrow),
    per-(cell, dim) floor(sum/count) means (exact over whole-number
    inputs), empty cells keep their previous centroid. Each step is one
    distributed pass; only the n_cells × dim centroid matrix is ever
    collected. Malformed rows are dropped, so they never pollute means."""
    for _ in range(lloyd_iters):
        assigned = _assigned(q8, F.col("v"), cents, F.col("v"))
        means = (
            assigned.select("cell", F.posexplode(F.col("v")).alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(F.floor(F.sum("x") / F.count("*")).alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("ms"))
            .select("cell", F.col("ms.m").alias("mean"))
            .collect()
        )
        new = dict(cents)
        for r in means:
            new[r["cell"]] = [float(x) for x in r["mean"]]
        cents = sorted(new.items())
    return cents


def _lloyd_refine_sample(V, cents, lloyd_iters: int):
    """SAMPLE-side integer-exact Lloyd — the numpy twin of
    :func:`_lloyd_refine_exact`, run on the driver over the bounded
    training sample instead of as distributed passes over the corpus.
    This is how FAISS trains: k-means over a capped sample, never the
    full collection — at 100 TB the distributed form costs
    O(corpus × lloyd_iters) scans for a quantizer whose quality is set
    by the sample anyway, while this form costs O(sample_cap × k × dim)
    driver flops (microseconds).

    Bit-compatible with the distributed form's per-row math: assignment
    replicates :func:`_assign_cells_udf` exactly (sequential dim folds —
    exact anyway over the whole-number grid — ties to the HIGHER cell,
    zero-norm rows excluded), means are floor(sum/count) per (cell, dim)
    over exact integer sums, and empty cells keep their previous
    centroid. The SQL oracle replays the same loop over its sample CTE.
    """
    import numpy as np

    for _ in range(lloyd_iters):
        Cm = np.array([cvec for _cid, cvec in cents], dtype=np.float64)
        if not np.all((Cm * Cm).sum(axis=1) > 0):
            raise ValueError("zero-norm centroid in coarse quantizer")
        k = len(Cm)
        # exact integer sums (quantized grid) → any summation order works
        dot = V @ Cm.T
        nv = (V * V).sum(axis=1)
        den = np.sqrt(nv)[:, None] * np.sqrt((Cm * Cm).sum(axis=1))[None, :]
        with np.errstate(invalid="ignore", divide="ignore"):
            s = np.where(den > 0, dot / np.where(den > 0, den, 1.0), -np.inf)
        best = (k - 1) - np.argmax(s[:, ::-1], axis=1)  # ties → higher cell
        valid = nv > 0  # zero-norm rows never contribute to means
        new = dict(cents)
        for cell in range(k):
            mask = valid & (best == cell)
            cnt = int(mask.sum())
            if cnt:
                new[cell] = [
                    float(np.floor(x / cnt)) for x in V[mask].sum(axis=0)
                ]
        cents = sorted(new.items())
    return cents


def take_centroids_lloyd_exact(
    q8: DataFrame, n_cells: int = 16, lloyd_iters: int = 2
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd refinement over quantized vectors.

    Float k-means means are partial-aggregation-order dependent, so a
    refined-centroid plan can't be replayed bit-exactly by a SQL oracle.
    Quantized (whole-number) vectors fix that: per-(cell, dim) sums are
    exact, and the centroid component is floor(sum / count) — integer
    math both engines agree on (see :func:`_lloyd_refine_exact`)."""
    rows = q8.orderBy("vec_id").limit(n_cells).collect()
    cents = [(i, [float(x) for x in r["v"]]) for i, r in enumerate(rows)]
    return _lloyd_refine_exact(q8, cents, lloyd_iters)


def take_centroids_trained(
    emb: DataFrame,
    n_cells: int = 16,
    lloyd_iters: int = 2,
    sample_cap: int = 2048,
) -> list[tuple[int, list[float]]]:
    """TRAINED coarse quantizer, fully deterministic — the k-means‖-style
    init the seed-centroid stand-in lacked (FAISS likewise trains its
    coarse quantizer on a sample; seed centroids degrade recall as the
    corpus outgrows whatever its first n_cells rows looked like).

    1. hash-sample ~``sample_cap`` quantized vectors: a scan-local
       PORTABLE hash threshold (``hash60_col`` — md5-based, the same hash
       the SQL oracle computes) — no RNG state, identical under any
       partitioning; ONE bounded collect (the same driver boundary every
       centroid path crosses).
    2. greedy farthest-point seeding over the sample (Gonzalez 1985
       max-min 2-approximation — the deterministic analogue of
       k-means++'s D² sampling): start at the lowest vec_id, repeatedly
       add the un-chosen candidate farthest from its nearest chosen
       center, ties to the lowest vec_id. Over QUANTIZED (whole-number)
       vectors every squared-L2 is an exact integer in double, so the
       greedy is bit-replayable by the oracle's recursive CTE.
    3. ``lloyd_iters`` integer-exact SAMPLE-side refinement steps
       (:func:`_lloyd_refine_sample` — FAISS-style train-on-sample; the
       corpus is never scanned beyond the count + the pushed-down sample
       filter, so training cost is O(sample_cap), not O(corpus)).
    """
    # no persist needed: the hash filter is on vec_id only, so Catalyst
    # pushes it below the quantize projection — only sampled rows are
    # ever quantized, in ONE scan
    V = _hash_sample_q8(_quantized_vecs(emb), sample_cap)
    return _trained_cents(V, n_cells, lloyd_iters)


def _trained_cents(
    V, n_cells: int, lloyd_iters: int
) -> list[tuple[int, list[float]]]:
    """Coarse centroids trained on the hash sample ``V``: greedy
    farthest-point seeds labelled 0.. in pick order, then
    ``lloyd_iters`` sample-side Lloyd steps."""
    seeds = _greedy_farthest(V, min(n_cells, len(V)))
    cents = [(j, [float(x) for x in V[i]]) for j, i in enumerate(seeds)]
    return _lloyd_refine_sample(V, cents, lloyd_iters)


def _trained_books(
    V, m: int, sub_dim: int, n_codes: int, lloyd_iters: int
) -> list[list[tuple[int, list[float]]]]:
    """PQ codebooks trained on the hash sample ``V``: per subspace, greedy
    farthest-point seed codewords over that slice (the subvector
    distributions differ, so the seeds do too), then ``lloyd_iters``
    sample-side Lloyd steps (:func:`_pq_books_refine_sample`)."""
    books = []
    for s in range(m):
        X = V[:, s * sub_dim : (s + 1) * sub_dim]
        seeds = _greedy_farthest(X, min(n_codes, len(X)))
        books.append([(c, [float(x) for x in X[i]]) for c, i in enumerate(seeds)])
    return _pq_books_refine_sample(V, books, sub_dim, lloyd_iters)


def _hash_sample_q8(q8: DataFrame, sample_cap: int):
    """Portable-hash sample of ~``sample_cap`` quantized vectors as a numpy
    matrix sorted by vec_id — the shared training sample of the trained
    coarse quantizer and the trained PQ codebooks. The threshold hash is
    ``hash60_col`` (md5-based, the same hash the SQL oracle computes), so
    the sample is identical under any partitioning; ONE bounded collect."""
    import numpy as np

    from accumulo_wikisearch_spark.functions.normalize import hash60_col

    n = q8.count()
    if n == 0:
        raise ValueError("trained quantizer: empty corpus")
    frac_ppm = min(1_000_000, (1_000_000 * sample_cap) // n + 1)
    cand = (
        q8.where(
            hash60_col(F.col("vec_id").cast("string")) % F.lit(1_000_000)
            < F.lit(frac_ppm)
        )
        .select("vec_id", "v")
        .collect()
    )
    # NULL / wrong-dimension vectors are excluded from training (the
    # malformed-row contract: degrade, never kill the job). The reference
    # dimension is the lowest-vec_id sampled row's — deterministic under
    # any partitioning, and a no-op on well-formed corpora (which is what
    # the SQL oracle replays).
    cand = sorted(
        (r for r in cand if r["v"] is not None), key=lambda r: r["vec_id"]
    )
    if not cand:
        raise ValueError("trained quantizer: no well-formed sampled vectors")
    dim = len(cand[0]["v"])
    return np.array(
        [[float(x) for x in r["v"]] for r in cand if len(r["v"]) == dim]
    )


def _greedy_farthest(V, k: int) -> list[int]:
    """Gonzalez-1985 greedy max-min seeding over sample rows (exact
    integers on the quantized grid → bit-replayable by the oracle's
    recursive CTE): start at the lowest vec_id, repeatedly add the
    un-chosen candidate farthest from its nearest chosen center, ties to
    the lowest vec_id."""
    import numpy as np

    chosen = [0]
    d2 = ((V - V[0]) ** 2).sum(axis=1)
    d2[0] = -1.0  # chosen candidates leave the pool
    while len(chosen) < k:
        i = int(np.argmax(d2))  # ties → first occurrence (lowest vec_id)
        chosen.append(i)
        d2 = np.minimum(d2, ((V - V[i]) ** 2).sum(axis=1))
        d2[i] = -1.0
    return chosen


def topk_ivf_trained(
    emb: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    lloyd_iters: int = 2,
    nq: int = 5,
    sample_cap: int = 2048,
) -> DataFrame:
    """IVF top-k with the TRAINED quantizer: same probe/re-rank shape as
    :func:`topk_ivf_lloyd_exact`, centroids from
    :func:`take_centroids_trained`. Deterministic end-to-end, covered by
    the recall pytest on a clustered fixture (the greedy init is an
    iterative driver-side construction, so no static SQL oracle)."""
    from accumulo_wikisearch_spark.operators._scoped import Scope

    scope = Scope()
    # ONE persisted quantized view feeds training AND the probe/re-rank
    q8 = scope.persist(_quantized_vecs(emb))
    cents = _trained_cents(_hash_sample_q8(q8, sample_cap), n_cells, lloyd_iters)
    corpus = _assigned(q8, F.col("v"), cents, F.col("v"))
    probes = _probes(_q8_queries(q8, nq), cents, nprobe)
    return scope.attach(_score_rank(corpus.join(F.broadcast(probes), "cell"), k))


def topk_ivf_lloyd_exact(
    emb: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    lloyd_iters: int = 2,
    nq: int = 5,
) -> DataFrame:
    """IVF top-k with Lloyd-REFINED centroids, end-to-end deterministic:
    quantized corpus (int8 grid), integer-exact refinement
    (:func:`take_centroids_lloyd_exact`), then the same probe/re-rank
    shape as :func:`topk_ivf`. Everything downstream of the exact sums is
    a fixed-order expression (sequential-fold cosines both engines
    evaluate identically), so the whole operator is SQL-replayable —
    closing the lloyd_iters>0 oracle gap."""
    from accumulo_wikisearch_spark.operators._scoped import Scope

    scope = Scope()
    q8 = scope.persist(_quantized_vecs(emb))  # see topk_ivf_trained
    cents = take_centroids_lloyd_exact(q8, n_cells, lloyd_iters)
    corpus = _assigned(q8, F.col("v"), cents, F.col("v"))
    probes = _probes(_q8_queries(q8, nq), cents, nprobe)
    return scope.attach(_score_rank(corpus.join(F.broadcast(probes), "cell"), k))


# ---------------------------------------------------------------------------
# SemDeDup — cluster-then-dedup in embedding space
# ---------------------------------------------------------------------------


def auto_n_cells(n: int, target_cell: int = 500, min_cells: int = 16) -> int:
    """cells ≈ ⌈corpus / target_cell⌉ (floored at ``min_cells``) so
    within-cell quadratic cost Σ|cell|² stays ≈ n·target_cell — LINEAR in
    the corpus. Fixed cell counts re-quadratize as the corpus grows
    (SemDeDup uses ~100k clusters at web scale for exactly this reason).
    Integer ceiling division, so the SQL oracle replays it exactly."""
    return max(min_cells, (n + target_cell - 1) // target_cell)


def semdedup_keep(
    emb: DataFrame,
    n_cells: int | None = None,
    threshold_pct: int = 90,
    target_cell: int = 500,
    centroids: str = "trained",
    lloyd_iters: int = 2,
    sample_cap: int = 2048,
    cents: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Semantic dedup keep-list (SemDeDup — Abbas et al., "SemDeDup: Data-
    efficient learning at web-scale through semantic deduplication", 2023):
    cluster embeddings with the coarse quantizer, then inside each cluster
    mark a vector as a semantic duplicate when some LOWER-id vector of the
    same cluster has cosine ≥ threshold; keep = the un-dominated vectors
    (min-id canonical, the same convention as exact text dedup).

    Output: (vec_id, cell, keep) for every vector, keep ∈ {0, 1}.

    Scale shape: this is the clustered restriction of the all-pairs
    near-dup — candidate pairs are within-cell only, so cost is
    Σ |cell|² instead of n². ``n_cells`` defaults to
    :func:`auto_n_cells` — COMPUTED from the corpus count (one count()
    job) so cells stay ~``target_cell``-sized as the corpus grows
    (SemDeDup uses ~100k clusters at web scale); the cell self-join
    shuffles once on cell. Deterministic end-to-end: TRAINED centroids
    by default (``centroids="trained"`` — hash-sample + farthest-point +
    integer-exact Lloyd on the int8 grid, assignment by the quantized
    vector, domination cosine on the float vector), which keeps cells
    BALANCED: seed centroids (first n_cells rows) collapse when the
    corpus head is homogeneous, re-quadratizing Σ|cell|² in the hot cell
    even with auto-sized n_cells. ``centroids="seed"`` keeps the
    first-n-rows quantizer as the simpler twin. Both modes are RNG-free,
    so the keep-list is replayable and oracle-checkable (the oracle
    replays the same ceiling-division sizing and, for trained mode, the
    same recursive-greedy + Lloyd construction). Pathological
    >cell-sized masses of IDENTICAL vectors should be removed by the
    exact-vector pre-pass first (dedup.exact_vector_duplicates)."""
    # persist: both sides of the cell self-join and the final keep-flag
    # read the assignment — without the barrier the centroid argmax runs
    # three times over the corpus.  ``cents`` (optional) is a pre-trained
    # quantizer: at production scale training is a one-time index-build
    # cost amortized across serves, so the serve path accepts it directly
    # (and benches time the two separately). n_cells only feeds training,
    # so the auto-sizing count() is skipped entirely on the warm path —
    # it would be a full wasted corpus pass.
    if cents is None:
        if n_cells is None:
            n_cells = auto_n_cells(emb.count(), target_cell)
        cents = _coarse_cents(emb, n_cells, lloyd_iters, centroids, sample_cap)
    from accumulo_wikisearch_spark.operators._scoped import Scope

    scope = Scope()
    assign = _trained_assign if centroids == "trained" else ivf_assign
    asn = scope.persist(assign(emb, cents))
    dom = _dominated_lower_id(asn, threshold_pct).withColumn("_dom", F.lit(0))
    return scope.attach(
        asn.join(dom, "vec_id", "left").select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            F.coalesce(F.col("_dom"), F.lit(1)).cast("int").alias("keep"),
        )
    )


def _trained_assign(
    emb: DataFrame, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """(vec_id, v FLOAT, cell) — assignment by the QUANTIZED vector
    against trained (int8-grid) centroids, float vector carried for the
    domination cosine; malformed rows dropped."""
    v = _as_double(F.col("embedding")).alias("v")
    return _assigned(emb, _quantize_udf()(F.col("embedding")), cents, v)


def _dominated_lower_id(asn: DataFrame, threshold_pct: int) -> DataFrame:
    """(vec_id) of vectors dominated within their cell by a LOWER-id
    vector at cosine ≥ threshold — the SemDeDup drop set."""
    a, b = asn.alias("a"), asn.alias("b")
    return (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(
            F.lit(100.0) * _cosine(F.col("a.v"), F.col("b.v"))
            >= F.lit(float(threshold_pct))
        )
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# incremental SemDeDup — at-rest keep-state + delta checks
# ---------------------------------------------------------------------------


def write_semdedup_store(
    emb: DataFrame,
    path: str,
    n_cells: int | None = None,
    threshold_pct: int = 90,
    target_cell: int = 500,
    lloyd_iters: int = 2,
    sample_cap: int = 2048,
) -> list[tuple[int, list[float]]]:
    """Persist the at-rest SemDeDup state — the embedding-space analogue
    of dedup.write_minhash_store: the trained coarse quantizer
    (``_QUANTIZER.json``) plus the KEPT canonical vectors partitioned by
    cell (``kept/``). A new batch then semantic-dedups against the whole
    corpus by touching only its own cells' directories
    (:func:`semdedup_check_vs_store`) and appends its surviving vectors
    (:func:`append_semdedup_store`) — cells and centroids are computed
    once over the store's lifetime; retraining + rewrite is the major
    compaction, run when drift warrants."""
    if n_cells is None:
        n_cells = auto_n_cells(emb.count(), target_cell)
    cents = take_centroids_trained(emb, n_cells, lloyd_iters, sample_cap)
    asn = _trained_assign(emb, cents).persist()
    kept = asn.join(
        _dominated_lower_id(asn, threshold_pct), "vec_id", "left_anti"
    )
    write_layout(kept.repartition("cell"), f"{path}/kept", ("cell",))
    _write_quantizer(emb.sparkSession, path, cents)
    asn.unpersist()
    return cents


def semdedup_check_vs_store(
    spark: SparkSession,
    new_emb: DataFrame,
    path: str,
    threshold_pct: int = 90,
    prune_max_cells: int = 1024,
    materialize: bool = True,
) -> DataFrame:
    """(vec_id, cell, keep) over a NEW batch against the stored state:
    a batch vector is a semantic duplicate (keep=0) when a stored KEPT
    vector of its cell dominates it at cosine ≥ threshold (store
    precedence — no id comparison), or a LOWER-id batch vector of the
    same cell does (the same non-transitive within-batch rule as the
    streaming near-dup ingest).

    Scale shape: the batch assigns against the reopened quantizer (one
    narrow kernel pass), and the ``kept/`` read is PARTITION-PRUNED to
    the batch's cells (bounded `isin`; skipped beyond
    ``prune_max_cells`` values, where the filter would outgrow its
    benefit); domination joins shuffle on cell only."""
    cents, _books = read_quantizer(spark, path)
    asn_new = _trained_assign(new_emb, cents).persist()
    cells = sorted(r["cell"] for r in asn_new.select("cell").distinct().collect())
    if not cells:
        asn_new.unpersist()
        return spark.createDataFrame([], "vec_id bigint, cell int, keep int")
    kept = spark.read.parquet(f"{path}/kept")
    if len(cells) <= prune_max_cells:
        kept = kept.where(F.col("cell").isin(*cells))
    dom_store = (
        asn_new.alias("n")
        .join(
            kept.select(
                F.col("cell"), F.col("v").alias("kv")
            ).alias("s"),
            "cell",
        )
        .where(
            F.lit(100.0) * _cosine(F.col("kv"), F.col("n.v"))
            >= F.lit(float(threshold_pct))
        )
        .select(F.col("n.vec_id").alias("vec_id"))
        .distinct()
    )
    dom = (
        dom_store.unionByName(_dominated_lower_id(asn_new, threshold_pct))
        .distinct()
        .withColumn("_dom", F.lit(0))
    )
    out = asn_new.join(dom, "vec_id", "left").select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.coalesce(F.col("_dom"), F.lit(1)).cast("int").alias("keep"),
    )
    # per-batch cache must not outlive the call (streaming ingest runs
    # this once per micro-batch — leaked blocks accumulate, r6 ADVICE);
    # materialize first, then drop the cache the plan depends on.
    # materialize=False keeps the lazy plan (inspection / composition;
    # caller owns the cache cleanup).
    # CAVEAT: localCheckpoint blocks are NOT fault-tolerant — an executor
    # loss drops them and fails the query instead of recomputing; on
    # preemptible clusters use reliable checkpoint() or
    # persist-count-unpersist at the call site.
    if not materialize:
        from accumulo_wikisearch_spark.operators._scoped import Scope

        scope = Scope()
        scope.adopt(asn_new)
        return scope.attach(out)
    out = out.localCheckpoint(eager=True)
    asn_new.unpersist()
    return out


def append_semdedup_store(
    spark: SparkSession,
    new_emb: DataFrame,
    path: str,
    threshold_pct: int = 90,
) -> None:
    """Fold a checked batch's SURVIVORS into ``kept/`` (the minor flush):
    re-derives the keep flags via :func:`semdedup_check_vs_store` and
    appends the kept vectors into the cell-partitioned layout — the base
    is never rewritten."""
    cents, _books = read_quantizer(spark, path)
    keep = semdedup_check_vs_store(spark, new_emb, path, threshold_pct)
    survivors = _trained_assign(new_emb, cents).join(
        keep.where(F.col("keep") == 1).select("vec_id"), "vec_id", "left_semi"
    )
    write_layout(
        survivors.repartition("cell"), f"{path}/kept", ("cell",), mode="append"
    )


# ---------------------------------------------------------------------------
# product quantization (PQ) — compressed-domain codes + ADC search
# ---------------------------------------------------------------------------

_PQ_M, _PQ_SUB, _PQ_CODES = 4, 16, 16


def _pq_codebooks(
    emb: DataFrame, m: int = _PQ_M, sub_dim: int = _PQ_SUB, n_codes: int = _PQ_CODES
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace codebooks: the first ``n_codes`` corpus vectors' s-th
    subvectors, code-labeled 0..n_codes-1 in vec_id order (the same
    deterministic seed convention as take_centroids — a k-means stand-in
    that keeps the operator bit-replayable by the SQL oracle)."""
    rows = emb.orderBy("vec_id").limit(n_codes).collect()
    return _books_from_rows(rows, m, sub_dim)


def _books_from_rows(
    rows, m: int, sub_dim: int
) -> list[list[tuple[int, list[float]]]]:
    return [
        [
            (i, [float(x) for x in r["embedding"][s * sub_dim : (s + 1) * sub_dim]])
            for i, r in enumerate(rows)
        ]
        for s in range(m)
    ]


def _seed_rows_shared(
    emb: DataFrame, n_cells: int, m: int, sub_dim: int, n_codes: int
):
    """(centroids, codebooks) of the seeded IVF-PQ from ONE TakeOrdered
    job (both read the same first-n corpus vectors; collecting twice
    doubled the driver-job count of every IVF-PQ call)."""
    rows = emb.orderBy("vec_id").limit(max(n_cells, n_codes)).collect()
    cents = [
        (i, [float(x) for x in r["embedding"]])
        for i, r in enumerate(rows[:n_cells])
    ]
    return cents, _books_from_rows(rows[:n_codes], m, sub_dim)


def pq_codes(
    emb: DataFrame, m: int = _PQ_M, sub_dim: int = _PQ_SUB, n_codes: int = _PQ_CODES
) -> DataFrame:
    """Product-quantization codes (Jégou/Douze/Schmid, "Product quantization
    for nearest neighbor search", IEEE TPAMI 2011): split each vector into
    ``m`` ``sub_dim``-dim subvectors, code each by its nearest codebook
    entry (squared-L2 argmin, ties to the lower code). Output:
    (vec_id, code_0..code_{m-1}) — m log2(n_codes)-bit codes replace the
    full vector: 64 floats → 4 nibbles here, 64× compression.

    One narrow scan-local pass: codebooks ride into the Arrow kernel as a
    numpy constant, argmin is a vectorized matrix op — no shuffle."""
    books = _pq_codebooks(emb, m, sub_dim, n_codes)
    return emb.select(F.col("vec_id"), *_code_select(books, sub_dim))


def _pq_code_udf(books: list[list[tuple[int, list[float]]]], sub_dim: int):
    """Arrow-vectorized PQ coding: squared-L2 argmin of every subvector
    against its codebook, ONE numpy pass per batch, returned as an
    array<int> of the m codes.

    History: v1 used transform/aggregate lambdas (interpreted per element,
    ~100 µs/row); v2 used explicit ``t1 + t2 + …`` expression chains
    (~20 µs/row) — but the generated code exceeded janino's 64 KB method
    limit, so Spark logged `ERROR CodeGenerator: Failed to compile` on
    every plan and fell back to INTERPRETED evaluation anyway. This numpy
    kernel is the `dedup._band_buckets_udf` pattern (~100× interpreted
    lambdas) and keeps whole-stage codegen clean.

    NULL / wrong-dimension vectors code to NULL (the `_lsh_bucket_udf`
    contract: one malformed row must never kill the job) — scoring
    callers drop null-coded rows before ranking (an ASC rank over null
    distances would otherwise float them to the top).

    Bit-exact with both predecessors and the DuckDB oracle: the distance
    accumulates as the SAME left-to-right IEEE fold (acc = acc + (x-c)²,
    sequential over dims, vectorized over rows×codes), and np.argmin's
    first-minimum tie-break equals array_min's (d, code)-struct ordering
    (ties to the LOWER code)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.array(
        [[cvec for _code, cvec in book] for book in books], dtype=np.float64
    )  # (m, n_codes, sub_dim)
    m, n_codes = C.shape[0], C.shape[1]

    dim = m * sub_dim

    @pandas_udf("array<int>")
    def codes(vs):
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        vals = list(vs)
        ok = [i for i, x in enumerate(vals) if x is not None and len(x) >= dim]
        res: list = [None] * len(vals)
        if ok:
            V = np.array(
                [vals[i][:dim] for i in ok], dtype=np.float64
            )  # (n_ok, dim)
            out = np.empty((len(V), m), dtype=np.int32)
            for s in range(m):
                X = V[:, s * sub_dim : (s + 1) * sub_dim]
                acc = np.zeros((len(V), n_codes))
                for j in range(sub_dim):  # sequential fold == the chain's order
                    d = X[:, j : j + 1] - C[s, None, :, j]
                    acc += d * d
                out[:, s] = np.argmin(acc, axis=1)  # first min == lower code
            for r, i in enumerate(ok):
                res[i] = out[r]
        return pd.Series(res)

    return codes


def _code_select(
    books: list[list[tuple[int, list[float]]]],
    sub_dim: int,
    col: str = "embedding",
) -> list[Column]:
    """code_0..code_{m-1} projection columns over ``col`` via the Arrow
    kernel (the UDF runs ONCE per row — Spark deduplicates the repeated
    references inside its ArrowEvalPython node)."""
    codes = _pq_code_udf(books, sub_dim)(F.col(col))
    return [
        codes[s].cast("int").alias(f"code_{s}") for s in range(len(books))
    ]


def topk_pq_adc(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = _PQ_M,
    sub_dim: int = _PQ_SUB,
    n_codes: int = _PQ_CODES,
) -> DataFrame:
    """ANN top-k by asymmetric distance computation (ADC) over PQ codes:
    approximate dist(q, x) = Σ_s ‖q_s − codebook_s[code_s(x)]‖² — the query
    stays exact, the corpus is its reconstruction from codes. Ranking is
    ascending ADC distance, ties to the lower neighbor_id.

    Scale shape: the corpus side carries only the m small codes (the scan
    reads codes, not vectors — at 100 TB that is the difference between
    scanning 256 B/vec and 4 B/vec); reconstruction is m literal-array
    lookups per row; queries broadcast. The distance is an explicit
    d_0 + d_1 + … + d_{m-1} chain (fixed order) so engine and oracle agree
    bit-for-bit."""
    books = _pq_codebooks(emb, m, sub_dim, n_codes)
    # persist: the codes table is the at-rest artifact of PQ (stored once,
    # scanned per query). Without the barrier CollapseProject inlines the
    # per-subspace argmin chains INTO the query join, re-coding every
    # corpus row once PER QUERY (m×n_codes×sub_dim ops × |queries| — the
    # difference between 0.5 s and 3 s at sf0.1 already).
    from accumulo_wikisearch_spark.operators._scoped import Scope

    scope = Scope()
    codes = scope.persist(emb.select("vec_id", *_code_select(books, sub_dim)))
    luts = _adc_luts(emb.sparkSession, queries, books, sub_dim)
    return scope.attach(_score_rank(codes.join(F.broadcast(luts)), k, m))


def _adc_luts(
    spark: SparkSession,
    queries: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    sub_dim: int,
) -> DataFrame:
    """Per-query ADC distance lookup tables — the standard PQ trick: for
    each (query, subspace) precompute the n_codes squared-L2s to every
    codeword ONCE, so the per-candidate distance is m array lookups instead
    of m × sub_dim arithmetic ops. Queries are small by contract (they
    broadcast), so collecting them is the same driver boundary
    take_centroids already crosses. The Python accumulation below is the
    identical left-to-right IEEE-double chain the engines fold, and the
    values re-enter the plan via repr round-trip — bit-exact vs the oracle.
    Built as one VALUES LocalRelation (no Python-RDD scan). An empty
    query set short-circuits to an empty relation (a bare ``VALUES`` is a
    SQL syntax error)."""
    qrows = _qv(queries).collect()
    if not qrows:
        lut_cols = ", ".join(f"l{s} array<double>" for s in range(len(books)))
        return spark.createDataFrame([], f"query_id bigint, {lut_cols}")
    rows = []
    for r in qrows:
        qv = [float(x) for x in r["qv"]]
        cells = [str(int(r["query_id"]))]
        for s, book in enumerate(books):
            lut = []
            for _code, cvec in book:
                acc = 0.0
                for j in range(sub_dim):
                    t = qv[s * sub_dim + j] - cvec[j]
                    acc = acc + t * t
                lut.append(acc)
            cells.append(_dvec_expr(lut))
        rows.append("(" + ",".join(cells) + ")")
    names = ",".join(f"l{s}" for s in range(len(books)))
    return spark.sql(
        f"SELECT CAST(query_id AS BIGINT) AS query_id, {names} "
        f"FROM (VALUES {','.join(rows)}) AS t(query_id, {names})"
    )


def _adc_lut_dist(m: int) -> Column:
    """ADC distance from LUT columns: the explicit l0[c0] + l1[c1] + …
    chain — same subspace order as the oracle's conditional-max pivot."""
    dist = None
    for s in range(m):
        d_s = F.element_at(F.col(f"l{s}"), F.col(f"code_{s}") + 1)
        dist = d_s if dist is None else dist + d_s
    return dist


def topk_ivf_pq(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = _PQ_M,
    sub_dim: int = _PQ_SUB,
    n_codes: int = _PQ_CODES,
) -> DataFrame:
    """IVF-PQ top-k — the canonical billion-vector ANN configuration
    (FAISS IVFADC; Jégou et al. TPAMI 2011 §V): a coarse quantizer prunes
    the corpus to ``nprobe``/``n_cells`` cells AND product quantization
    compresses what is scanned to m codes/vector, with ADC distances
    against the exact query.

    One corpus pass computes (cell, code_0..code_{m-1}) together — cell
    assignment and coding are both literal-table maps, so the index build
    is a single narrow scan with NO shuffle; at rest, write it partitioned
    by cell (see write_ivf_index) and a query touches nprobe partitions of
    a 4-byte-per-subvector table. Probes broadcast; ranking is ascending
    ADC distance with lower-id tie-break. Deterministic end-to-end (seed
    centroids + seed codebooks), hence oracle-checkable."""
    cents, books = _seed_rows_shared(emb, n_cells, m, sub_dim, n_codes)
    # persist = the at-rest IVF-PQ index (cells + codes computed once, not
    # once per query — see topk_pq_adc's note); write_ivf_pq_index is the
    # durable form
    from accumulo_wikisearch_spark.operators._scoped import Scope

    scope = Scope()
    corpus = scope.persist(_ivf_pq_coded(emb, "embedding", cents, books, sub_dim))
    probes = _probes(_qv(queries), cents, nprobe)
    luts = _adc_luts(emb.sparkSession, queries, books, sub_dim)
    cands = corpus.join(F.broadcast(probes), "cell").join(F.broadcast(luts), "query_id")
    return scope.attach(_score_rank(cands, k, m))


def _ivf_pq_coded(
    vecs: DataFrame, col: str, cents, books, sub_dim: int
) -> DataFrame:
    """(vec_id, code_0..code_{m-1}, cell) of ``vecs[col]`` — cell
    assignment and PQ coding in ONE narrow pass (both kernels are
    literal-table maps, no shuffle); unassignable rows are dropped."""
    return _assigned(vecs, F.col(col), cents, *_code_select(books, sub_dim, col))


def write_ivf_pq_index(
    emb: DataFrame,
    path: str,
    n_cells: int = 16,
    m: int = _PQ_M,
    sub_dim: int = _PQ_SUB,
    n_codes: int = _PQ_CODES,
    quantizers: str = "trained",
    lloyd_iters: int = 2,
    sample_cap: int = 2048,
) -> tuple[list[tuple[int, list[float]]], list[list[tuple[int, list[float]]]]]:
    """Persist the at-rest IVF-PQ layout: (vec_id, code_0..code_{m-1})
    partitioned by cell on disk — a query reads nprobe partition
    directories of a table whose rows are m small ints, the FAISS IVFADC
    storage shape.

    ``quantizers="trained"`` (the DEFAULT, like every index build): both
    the coarse cells and the codebooks come from the shared hash-sample
    farthest-point + exact-Lloyd training over the int8 grid, and the
    CODED CORPUS IS the quantized view (query with quantized query
    vectors — :func:`self_queries_q8`); ``"seed"`` keeps the
    first-n-rows float construction as the simpler twin. Returns
    (centroids, codebooks) — also persisted beside the index as
    ``_QUANTIZER.json``."""
    if quantizers == "trained":
        vecs, col = _quantized_vecs(emb).persist(), "v"
        V = _hash_sample_q8(vecs, sample_cap)
        cents = _trained_cents(V, n_cells, lloyd_iters)
        books = _trained_books(V, m, sub_dim, n_codes, lloyd_iters)
    else:
        vecs, col = emb, "embedding"
        cents, books = _seed_rows_shared(emb, n_cells, m, sub_dim, n_codes)
    coded = _ivf_pq_coded(vecs, col, cents, books, sub_dim)
    write_layout(coded.repartition("cell"), path, ("cell",), ("vec_id",))
    _write_quantizer(emb.sparkSession, path, cents, books)
    if quantizers == "trained":
        # the quantized view served its writes; drop the cache now instead
        # of leaning on the context cleaner (r14 verdict #4)
        vecs.unpersist()
    return cents, books


def self_queries_q8(emb: DataFrame, n: int = 5) -> DataFrame:
    """First n QUANTIZED corpus vectors as the query set — the query-side
    twin of the trained (int8-grid) index builds."""
    return _q8_queries(_quantized_vecs(emb), n)


def _q8_queries(q8: DataFrame, nq: int) -> DataFrame:
    """(query_id, qv): the quantized vectors with vec_id < nq — the query
    side of the int8-grid paths (see :func:`self_queries`)."""
    return q8.where(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )


def topk_ivf_pq_on_disk(
    spark: SparkSession,
    path: str,
    cents: list[tuple[int, list[float]]],
    books: list[list[tuple[int, list[float]]]],
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    sub_dim: int = _PQ_SUB,
) -> DataFrame:
    """ADC top-k against a written IVF-PQ layout: only the probed cells'
    files are read and tombstoned vec_ids are skipped
    (:func:`_read_probed_cells`); the scan reads only the code columns.
    Query-side work is the LUT build (driver) plus m lookups per
    candidate."""
    probes = _probes(_qv(queries), cents, nprobe)
    corpus = _read_probed_cells(spark, path, probes)
    if corpus is None:
        return _empty_topk(spark)
    luts = _adc_luts(spark, queries, books, sub_dim)
    cands = corpus.join(F.broadcast(probes), "cell").join(F.broadcast(luts), "query_id")
    return _score_rank(cands, k, len(books))


def topk_ivf_on_disk_cold(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Cold-open IVF query: reopen the coarse quantizer from the index's
    ``_QUANTIZER.json`` (no in-memory state from the build) and serve —
    what a restarted serving process does."""
    cents, _books = read_quantizer(spark, path)
    return topk_ivf_on_disk(spark, path, cents, queries, k, nprobe)


def topk_ivf_pq_on_disk_cold(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    sub_dim: int = _PQ_SUB,
) -> DataFrame:
    """Cold-open IVF-PQ query: centroids AND codebooks reopened from
    ``_QUANTIZER.json``; bit-identical to the warm-process answer (repr
    round-trip)."""
    cents, books = read_quantizer(spark, path)
    if books is None:
        raise ValueError(f"{path}: _QUANTIZER.json has no codebooks")
    return topk_ivf_pq_on_disk(spark, path, cents, books, queries, k, nprobe, sub_dim)


# ---------------------------------------------------------------------------
# trained product quantization — per-subspace sampled-Lloyd codebooks
# ---------------------------------------------------------------------------


def _pq_books_refine_sample(
    V,
    books: list[list[tuple[int, list[float]]]],
    sub_dim: int,
    lloyd_iters: int,
):
    """SAMPLE-side per-subspace Lloyd refinement of PQ codebooks (FAISS
    trains them with per-subspace k-means), run on the driver over the
    bounded training sample (the :func:`_lloyd_refine_sample` rationale:
    FAISS trains PQ codebooks on a capped sample; a distributed form
    costs O(corpus × lloyd_iters) scans for books whose fit is set by
    the sample anyway). Bit-compatible per-row math: coding replicates
    :func:`_pq_code_udf` (squared-L2 argmin, first-min tie → lower code —
    exact integers on the quantized grid), means are floor(sum/count)
    per (subspace, code, dim), empty codes keep their previous codeword.
    The SQL oracle replays the same loop over its sample CTE."""
    import numpy as np

    m = len(books)
    for _ in range(lloyd_iters):
        new = []
        for s in range(m):
            X = V[:, s * sub_dim : (s + 1) * sub_dim]
            C = np.array([cv for _c, cv in books[s]], dtype=np.float64)
            # exact integer sums → summation order free
            d2 = (
                (X * X).sum(axis=1)[:, None]
                - 2.0 * (X @ C.T)
                + (C * C).sum(axis=1)[None, :]
            )
            code = np.argmin(d2, axis=1)  # first min == lower code
            book = dict(books[s])
            for c in range(len(C)):
                mask = code == c
                cnt = int(mask.sum())
                if cnt:
                    book[c] = [
                        float(np.floor(x / cnt)) for x in X[mask].sum(axis=0)
                    ]
            new.append(sorted(book.items()))
        books = new
    return books


def pq_books_trained(
    emb: DataFrame,
    m: int = _PQ_M,
    sub_dim: int = _PQ_SUB,
    n_codes: int = _PQ_CODES,
    lloyd_iters: int = 2,
    sample_cap: int = 2048,
) -> list[list[tuple[int, list[float]]]]:
    """TRAINED per-subspace PQ codebooks, fully deterministic — the
    codebook-quality upgrade over the first-n seed rows of
    :func:`_pq_codebooks` (ADC recall lives on codebook fit; FAISS
    likewise trains per-subspace k-means): hash-sample the quantized
    corpus (:func:`_hash_sample_q8`), greedy farthest-point seeds per
    subspace, then ``lloyd_iters`` integer-exact SAMPLE-side refinement
    steps (:func:`_pq_books_refine_sample`). Every quantity is
    whole-number arithmetic, so the books — and everything coded with
    them — are bit-replayable by the SQL oracle."""
    V = _hash_sample_q8(_quantized_vecs(emb), sample_cap)
    return _trained_books(V, m, sub_dim, n_codes, lloyd_iters)


def topk_pq_adc_trained(
    emb: DataFrame,
    k: int = 10,
    m: int = _PQ_M,
    sub_dim: int = _PQ_SUB,
    n_codes: int = _PQ_CODES,
    lloyd_iters: int = 2,
    nq: int = 5,
    sample_cap: int = 2048,
    books: list[list[tuple[int, list[float]]]] | None = None,
) -> DataFrame:
    """ADC top-k with TRAINED codebooks over the quantized corpus: same
    LUT/ranking shape as :func:`topk_pq_adc`, but codebooks from
    :func:`pq_books_trained` and both sides on the int8 grid — every ADC
    distance is an exact integer in double, so ranking is aggregation-
    order independent and the whole operator is SQL-replayable.

    ``books`` (optional) is a pre-trained codebook set (from
    :func:`pq_books_trained`): training is a one-time index-build cost
    at production scale, so the serve path accepts it directly."""
    from accumulo_wikisearch_spark.operators._scoped import Scope

    scope = Scope()
    # ONE persisted quantized view feeds coding and queries (training
    # reads only its pushed-down sample slice of it)
    q8 = scope.persist(_quantized_vecs(emb))
    if books is None:
        V = _hash_sample_q8(q8, sample_cap)
        books = _trained_books(V, m, sub_dim, n_codes, lloyd_iters)
    # persist = the at-rest codes table (see topk_pq_adc's note)
    codes = scope.persist(q8.select("vec_id", *_code_select(books, sub_dim, "v")))
    luts = _adc_luts(emb.sparkSession, _q8_queries(q8, nq), books, sub_dim)
    return scope.attach(_score_rank(codes.join(F.broadcast(luts)), k, len(books)))


def topk_ivf_pq_trained(
    emb: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = _PQ_M,
    sub_dim: int = _PQ_SUB,
    n_codes: int = _PQ_CODES,
    lloyd_iters: int = 2,
    nq: int = 5,
    sample_cap: int = 2048,
) -> DataFrame:
    """IVF-PQ top-k with BOTH quantizers trained — trained coarse cells
    (:func:`take_centroids_trained`'s construction) AND trained codebooks
    (:func:`pq_books_trained`), sharing one hash-sample. The full
    FAISS-IVFADC shape with its production training story, deterministic
    end-to-end on the int8 grid."""
    from accumulo_wikisearch_spark.operators._scoped import Scope

    scope = Scope()
    q8 = scope.persist(_quantized_vecs(emb))  # shared by corpus + queries
    V = _hash_sample_q8(q8, sample_cap)
    cents = _trained_cents(V, n_cells, lloyd_iters)
    books = _trained_books(V, m, sub_dim, n_codes, lloyd_iters)
    corpus = scope.persist(_ivf_pq_coded(q8, "v", cents, books, sub_dim))
    qv = _q8_queries(q8, nq)
    luts = _adc_luts(emb.sparkSession, qv, books, sub_dim)
    probes = _probes(qv, cents, nprobe)
    cands = corpus.join(F.broadcast(probes), "cell").join(F.broadcast(luts), "query_id")
    return scope.attach(_score_rank(cands, k, m))


# ---------------------------------------------------------------------------
# int8 quantization — the storage/compute scale path for embeddings
# ---------------------------------------------------------------------------


def quantize_int8(emb: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|x| / 127,
    q[i] = round(x[i] / scale). 4× smaller storage and int-dot-product
    re-rank at scale; one narrow pass, JVM-side (no UDF).

    ``scale_e6`` is the scale in integer micro-units and ``q_csv`` the
    quantized vector as a comma-joined integer string, so the operator stays
    hash-exact against the SQL oracle (float or array columns would
    hash-drift — the driver's canonicalizer cannot hash array cells)."""
    v = _as_double(F.col("embedding"))
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = mx / F.lit(127.0)
    # scale==0 (not mx==0) also catches the subnormal-max underflow —
    # mirrors _QUANT_SQL's `CASE WHEN scale = 0` exactly.
    q = F.when(
        scale == 0, F.transform(v, lambda x: F.lit(0).cast("int"))
    ).otherwise(F.transform(v, lambda x: F.round(x / scale).cast("int")))
    return emb.select(
        "vec_id",
        F.round(scale * 1_000_000).cast("long").alias("scale_e6"),
        F.array_join(q.cast("array<string>"), ",").alias("q_csv"),
    )


def topk_int8(
    emb: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Top-k by INTEGER dot product of int8-quantized vectors — the
    compute-side payoff of :func:`quantize_int8`: the ranking signal is an
    exact int64, so it is aggregation-order independent (no float-fold
    caveats anywhere) and the scan reads 64 bytes/vec instead of 256.

    The int8 grid drops per-vector scales from the ordering (each side's
    scale is a per-vector positive constant), so ranks approximate cosine
    up to quantization error — the standard int8 retrieval trade. Ties
    break on neighbor_id. Deterministic under any partitioning by
    construction.

    The ``qv`` column of ``queries`` is quantized DIRECTLY (same formula
    as the corpus side) — query vectors need not exist in the corpus, and
    every query row survives. (Earlier versions joined query_id back to
    the corpus and silently dropped unknown ids.)"""
    q8 = _quantized_vecs(emb)
    corpus = q8.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))
    qv = queries.select("query_id", _quantize_arr(F.col("qv")).alias("qv8"))
    dot = F.aggregate(
        F.zip_with(F.col("qv8"), F.col("cv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    ).cast("long")
    scored = (
        corpus.join(F.broadcast(qv))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", dot.alias("idot"))
    )
    return _rank_topk(scored, k, F.desc("idot"))


_INT8_TOPK_SQL = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
q8 AS (
  SELECT vec_id,
    CASE WHEN (list_max(list_transform(v, x -> abs(x))) / 127.0) = 0
         THEN list_transform(v, x -> 0.0)
         ELSE list_transform(v, x -> round(x / (list_max(list_transform(v, y -> abs(y))) / 127.0)))
    END AS v
  FROM e
),
q AS (SELECT vec_id AS query_id, v AS qv FROM q8 WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
    list_sum(list_transform(range(1, 65), j -> qv[j] * c.v[j]))::BIGINT AS idot
  FROM q8 c, q WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
    row_number() OVER (PARTITION BY query_id ORDER BY idot DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank::INTEGER AS rank FROM ranked WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# recall measurement — the ANN quality gate
# ---------------------------------------------------------------------------


def ann_recall(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """(query_id, hits): per-query overlap |approx ∩ exact| of the two
    top-k result sets — recall@k × k as an INTEGER (hash-stable). Every
    query of ``exact`` appears (0 hits included), so a silently-empty
    approx path cannot masquerade as a missing query. Both inputs are
    tiny (nq × k rows), so the join is driver-trivial at any corpus
    scale."""
    a = approx.select("query_id", "neighbor_id")
    e = exact.select("query_id", "neighbor_id")
    qids = e.select("query_id").distinct()
    hits = (
        e.join(a, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("h"))
    )
    return qids.join(hits, "query_id", "left").select(
        "query_id", F.coalesce(F.col("h"), F.lit(0)).cast("int").alias("hits")
    )


def topk_bruteforce_q8(emb: DataFrame, k: int = 10, nq: int = 5) -> DataFrame:
    """Exact cosine top-k over the QUANTIZED corpus — the ground truth the
    int8-grid ANN variants (trained IVF/PQ) approximate; comparing them
    against the float brute force would conflate quantization error with
    index recall."""
    q8 = _quantized_vecs(emb)
    return _score_rank(q8.join(F.broadcast(_q8_queries(q8, nq))), k)


def _recall_lsh_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = self_queries(emb)
    return ann_recall(topk_lsh_multiprobe(emb, q), topk_bruteforce(emb, q))


def _recall_ivf_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return ann_recall(topk_ivf_trained(emb), topk_bruteforce_q8(emb))


def _recall_pq_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return ann_recall(topk_pq_adc_trained(emb), topk_bruteforce_q8(emb))


def _recall_filtered_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the metadata-FILTERED IVF path against the filtered
    brute force — where IVF recall actually degrades at scale: a
    selective predicate thins the probed cells, so fewer true neighbors
    sit inside the nprobe lists. Same construction pair as
    ann_topk_filtered / ann_topk_filtered_exact."""
    emb = _emb(spark, sf_dir)
    filt = emb.where(F.col("label") % 2 == 0)
    return ann_recall(
        topk_ivf(
            emb,
            self_queries(emb),
            lloyd_iters=0,
            centroids="seed",
            candidates=filt,
        ),
        topk_bruteforce(filt, self_queries(emb)),
    )


# ---------------------------------------------------------------------------
# hybrid search (keyword index filter → embedding re-rank)
# ---------------------------------------------------------------------------


def hybrid_search(
    candidates: DataFrame, emb: DataFrame, query_vec_id: int, k: int = 10
) -> DataFrame:
    """Top-k by cosine among ``candidates`` (doc_id set from the keyword
    index path) against the query doc's embedding — the composite
    "similarity search over the inverted index" operator.

    Scale shape: the candidate set is the OUTPUT of the boolean-index plan
    (broadcast left-semi pruning already applied), so the cosine pass runs
    over the filtered slice only; the single query vector is a broadcast
    nested-loop of one row. One window top-k on a k-bounded slice.
    """
    q = emb.where(F.col("vec_id") == query_vec_id).select(
        _as_double(F.col("embedding")).alias("qv")
    )
    corpus = emb.join(
        candidates.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    ).where(F.col("vec_id") != query_vec_id)
    scored = corpus.crossJoin(F.broadcast(q)).select(
        F.col("vec_id").alias("doc_id"),
        _cosine(F.col("qv"), _as_double(F.col("embedding"))).alias("cos"),
    )
    # Global top-k as orderBy().limit(k) — compiles to TakeOrderedAndProject
    # (distributed per-partition partial top-k), where the old
    # row_number() over an UNPARTITIONED window funnelled every candidate
    # through one task (r14 verdict #3; guide §2.5). (cos, doc_id) is a
    # total order (doc_id unique), so the k rows and their ranks are
    # identical; the rank window now runs over ≤k rows.
    top = scored.orderBy(F.desc("cos"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("cos"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("doc_id", F.col("rank").cast("int").alias("rank"))
    )


_HYBRID_SQL = """
WITH cand AS (
  SELECT doc_id FROM documents
  WHERE list_contains(string_split(text,' '), 'dup')
), q AS (
  SELECT list_transform(embedding, x -> x::DOUBLE) AS qv FROM embeddings WHERE vec_id = 7
), scored AS (
  SELECT e.vec_id AS doc_id,
    list_sum(list_transform(range(1, len(e.embedding)+1), i -> qv[i] * e.embedding[i]::DOUBLE))
    / (sqrt(list_sum([x * x for x in qv]))
       * sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in e.embedding]))) AS c
  FROM embeddings e JOIN cand ON cand.doc_id = e.vec_id CROSS JOIN q
  WHERE e.vec_id <> 7
), ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY c DESC, doc_id ASC) AS rank FROM scored
)
SELECT doc_id, rank::INTEGER AS rank FROM ranked WHERE rank <= 10
"""


def _hybrid_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accumulo_wikisearch_spark.sources.corpus import get_engine

    tune_runtime(spark)
    eng = get_engine(spark, sf_dir)
    return hybrid_search(
        eng.query("TEXT == 'dup'").select("doc_id"), _emb(spark, sf_dir), query_vec_id=7
    )


# ---------------------------------------------------------------------------
# driver registry
# ---------------------------------------------------------------------------


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_runtime(spark)
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def queries():
    return {
        "ann_topk_bruteforce": lambda s, d: topk_bruteforce(
            _emb(s, d), self_queries(_emb(s, d))
        ),
        # LSH/IVF are approximate vs brute force but fully DETERMINISTIC
        # given the seeded planes / seed centroids — their oracles replay
        # the same construction in SQL (plane literals, lloyd_iters=0).
        "ann_topk_lsh": lambda s, d: topk_lsh(_emb(s, d), self_queries(_emb(s, d))),
        "ann_topk_lsh_multiprobe": lambda s, d: topk_lsh_multiprobe(
            _emb(s, d), self_queries(_emb(s, d))
        ),
        "ann_topk_ivf": lambda s, d: topk_ivf(
            _emb(s, d), self_queries(_emb(s, d)), lloyd_iters=0, centroids="seed"
        ),
        # metadata-filtered vector search: candidates restricted to half
        # the corpus (label % 2 = 0); index layout + probes stay full
        "ann_topk_filtered": lambda s, d: topk_ivf(
            _emb(s, d),
            self_queries(_emb(s, d)),
            lloyd_iters=0,
            centroids="seed",
            candidates=_emb(s, d).where(F.col("label") % 2 == 0),
        ),
        # exact filtered twin: the brute-force baseline under the same
        # predicate (what the filtered IVF recall is judged against)
        "ann_topk_filtered_exact": lambda s, d: topk_bruteforce(
            _emb(s, d).where(F.col("label") % 2 == 0), self_queries(_emb(s, d))
        ),
        # the un-overridden DEFAULT path (trained quantizer, float corpus)
        "ann_topk_ivf_default": lambda s, d: topk_ivf(
            _emb(s, d), self_queries(_emb(s, d))
        ),
        # Lloyd-REFINED IVF is driver-checkable via the integer-exact
        # variant: quantized corpus makes the per-cell means deterministic,
        # so 2 refinement steps unroll into oracle CTEs
        "ann_topk_ivf_lloyd": lambda s, d: topk_ivf_lloyd_exact(_emb(s, d)),
        # TRAINED quantizer: hash-sampled farthest-point init + exact
        # Lloyd — the greedy is replayed by a recursive CTE in the oracle
        "ann_topk_ivf_trained": lambda s, d: topk_ivf_trained(_emb(s, d)),
        "emb_quantize_int8": lambda s, d: quantize_int8(_emb(s, d)),
        "emb_quantize_pq": lambda s, d: pq_codes(_emb(s, d)),
        "ann_topk_pq_adc": lambda s, d: topk_pq_adc(
            _emb(s, d), self_queries(_emb(s, d))
        ),
        "ann_topk_ivf_pq": lambda s, d: topk_ivf_pq(
            _emb(s, d), self_queries(_emb(s, d))
        ),
        # TRAINED codebooks (and, for ivf_pq, trained coarse cells too):
        # per-subspace hash-sample → farthest-point greedy → exact Lloyd,
        # replayed by recursive-CTE oracles on the int8 grid
        "ann_topk_pq_adc_trained": lambda s, d: topk_pq_adc_trained(_emb(s, d)),
        "ann_topk_ivf_pq_trained": lambda s, d: topk_ivf_pq_trained(_emb(s, d)),
        "ann_topk_int8": lambda s, d: topk_int8(
            _emb(s, d), self_queries(_emb(s, d))
        ),
        # default = TRAINED centroids (balanced cells at scale); the seed
        # twin keeps the simpler first-n-rows construction driver-checked
        "dedup_semdedup_keep": lambda s, d: semdedup_keep(_emb(s, d)),
        "dedup_semdedup_seed": lambda s, d: semdedup_keep(
            _emb(s, d), centroids="seed"
        ),
        # incremental semantic dedup: store written from the base slice,
        # batch checked against the stored kept set (cell-pruned reads)
        "dedup_semdedup_incremental": _semdedup_incremental_entry,
        "ann_hybrid_keyword": _hybrid_entry,
        # recall GATES: integer per-query overlap of the approximate path
        # vs the matching brute-force truth — the driver hash-checks the
        # recall VALUES, not just the approximation's determinism
        "ann_recall_lsh": _recall_lsh_entry,
        "ann_recall_ivf": _recall_ivf_entry,
        "ann_recall_pq": _recall_pq_entry,
        "ann_recall_filtered": _recall_filtered_entry,
        # AT-REST layout driven end-to-end (the ANN analogue of
        # ws_written_and3): write the partitioned IVF-PQ index, re-read it
        # from disk, and answer via partition-pruned code scans. Same
        # truth as ann_topk_ivf_pq — only the physical path differs.
        "ann_topk_ivf_pq_disk": _ivf_pq_disk_entry,
        # COLD reopen: quantizer metadata comes from _QUANTIZER.json on
        # disk, not the build's return values — the serving-restart proof
        "ann_topk_ivf_pq_cold": _ivf_pq_cold_entry,
        # LSM-style ANN maintenance: base write + frozen-quantizer delta
        # APPEND must answer queries identically to one full build — the
        # oracle is ann_topk_ivf's full-corpus replay (seed centroids are
        # the first n_cells by vec_id, same set either way).
        "ann_ivf_append_equiv": _ivf_append_entry,
        # delete half: tombstoned ids vanish from results; oracle is the
        # full-build replay with those ids excluded from the candidates
        "ann_ivf_delete_equiv": _ivf_delete_entry,
    }


# written SemDeDup-store cache per sf_dir (immutable once written)
_SEMDEDUP_STORES: dict = {}


def _semdedup_incremental_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    tune_runtime(spark)
    emb = _emb(spark, sf_dir)
    path = _SEMDEDUP_STORES.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="wikisearch-semdedup-store-")
        write_semdedup_store(emb.where(F.col("vec_id") % 5 != 0), path)
        _SEMDEDUP_STORES[sf_dir] = path
    return semdedup_check_vs_store(
        spark, emb.where(F.col("vec_id") % 5 == 0), path
    )


# 20..119: non-seed (seeds are 0..15), non-query (queries are 0..4) ids
# whose deletion visibly reshuffles ~35 of the 50 result rows at check
# scale — a broken tombstone path cannot hash-match by luck
_DELETED_IDS = list(range(20, 120))
_WRITTEN_IVF_DELETE: dict = {}
_WRITTEN_IVF_APPEND: dict = {}


def _ivf_maintained_entry(
    spark: SparkSession,
    sf_dir: str,
    cache: dict,
    prefix: str,
    deleted_ids: list[int] | None,
) -> DataFrame:
    """Shared body of the LSM-maintenance entries: base write (vec_id <
    400), frozen-quantizer delta append, optional tombstone delete, then
    query the maintained on-disk layout."""
    import tempfile

    tune_runtime(spark)
    cached = cache.get(sf_dir)
    if cached is None:
        emb = _emb(spark, sf_dir)
        path = tempfile.mkdtemp(prefix=prefix)
        cents = write_ivf_index(
            emb.where(F.col("vec_id") < 400),
            path,
            lloyd_iters=0,
            centroids="seed",  # the equivalence oracles replay seed cents
        )
        append_ivf_index(emb.where(F.col("vec_id") >= 400), path, cents)
        if deleted_ids:
            delete_ivf_vectors(spark, path, deleted_ids)
        cached = cache[sf_dir] = (path, cents)
    path, cents = cached
    return topk_ivf_on_disk(spark, path, cents, self_queries(_emb(spark, sf_dir)))


def _ivf_delete_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_maintained_entry(
        spark, sf_dir, _WRITTEN_IVF_DELETE, "wikisearch-ivf-del-", _DELETED_IDS
    )


def _ivf_append_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_maintained_entry(
        spark, sf_dir, _WRITTEN_IVF_APPEND, "wikisearch-ivf-append-", None
    )


# written IVF-PQ index cache per sf_dir (immutable once written, like the
# written-catalog cache in entry_queries)
_WRITTEN_IVF_PQ: dict = {}


def _written_ivf_pq(spark: SparkSession, sf_dir: str):
    import tempfile

    cached = _WRITTEN_IVF_PQ.get(sf_dir)
    if cached is None:
        path = tempfile.mkdtemp(prefix="wikisearch-ivfpq-")
        cents, books = write_ivf_pq_index(_emb(spark, sf_dir), path)
        cached = _WRITTEN_IVF_PQ[sf_dir] = (path, cents, books)
    return cached


def _ivf_pq_disk_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED at-rest layout (the write_ivf_pq_index default) queried
    with quantized self-queries; oracle = the full trained replay."""
    tune_runtime(spark)
    path, cents, books = _written_ivf_pq(spark, sf_dir)
    return topk_ivf_pq_on_disk(
        spark, path, cents, books, self_queries_q8(_emb(spark, sf_dir))
    )


def _ivf_pq_cold_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-restart path: the in-memory quantizer from the build is
    deliberately DISCARDED; centroids + codebooks come back from the
    index's _QUANTIZER.json and must answer identically (same oracle as
    the warm disk entry)."""
    tune_runtime(spark)
    path, _cents, _books = _written_ivf_pq(spark, sf_dir)
    return topk_ivf_pq_on_disk_cold(
        spark, path, self_queries_q8(_emb(spark, sf_dir))
    )


_TOPK_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    list_sum(list_transform(range(1, len(e.embedding)+1), i -> qv[i]::DOUBLE * e.embedding[i]::DOUBLE))
    / (sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in qv]))
       * sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in e.embedding]))) AS c
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank::INTEGER AS rank FROM ranked WHERE rank <= 10
"""


_QUANT_SQL = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
),
s AS (
  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM v
)
SELECT vec_id,
  round(scale * 1000000)::BIGINT AS scale_e6,
  array_to_string(
    CASE WHEN scale = 0 THEN list_transform(v, x -> 0::INTEGER)
         ELSE list_transform(v, x -> round(x / scale)::INTEGER) END,
    ',') AS q_csv
FROM s
"""


def _cos_sql(a: str, b: str, dim: int = 64) -> str:
    """DuckDB cosine matching ``_cosine`` term-for-term: same element order,
    same left-to-right summation (list_sum ≡ F.aggregate left fold), so the
    doubles are bit-identical across engines (proven by ann_topk_bruteforce
    hash-matching its oracle)."""
    return (
        f"list_sum(list_transform(range(1, {dim + 1}), j -> {a}[j] * {b}[j]))"
        f" / (sqrt(list_sum(list_transform({a}, x -> x*x)))"
        f" * sqrt(list_sum(list_transform({b}, x -> x*x))))"
    )


def _lsh_sql(
    nbits: int = 8,
    dim: int = 64,
    k: int = 10,
    nq: int = 5,
    multiprobe: bool = False,
    final: bool = True,
) -> str:
    """Replay of topk_lsh in SQL: the seeded hyperplanes enter as literals
    (repr() round-trips doubles exactly), buckets as sign-bit sums.
    ``multiprobe=True`` replays topk_lsh_multiprobe — the query bucket
    plus every 1-bit flip."""
    planes = _hyperplanes(dim, nbits)
    vals = ",\n  ".join(
        f"({i}, [{', '.join(repr(x) for x in p)}]::DOUBLE[])"
        for i, p in enumerate(planes)
    )
    if multiprobe:
        q_cte = f"""q0 AS (SELECT vec_id AS query_id, v AS qv, bucket FROM eb WHERE vec_id < {nq}),
q AS (
  SELECT query_id, qv,
    unnest([bucket] || list_transform(range(0, {nbits}), i -> xor(bucket, (1::BIGINT << i)))) AS bucket
  FROM q0
)"""
    else:
        q_cte = f"q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM eb WHERE vec_id < {nq})"
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
p(i, pv) AS (VALUES
  {vals}),
dots AS (
  SELECT e.vec_id, p.i,
    list_sum(list_transform(range(1, {dim + 1}), j -> e.v[j] * p.pv[j])) AS dot
  FROM e CROSS JOIN p
),
b AS (
  SELECT vec_id, sum(CASE WHEN dot > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS bucket
  FROM dots GROUP BY vec_id
),
eb AS (SELECT e.vec_id, e.v, b.bucket FROM e JOIN b USING (vec_id)),
{q_cte},
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, {_cos_sql("q.qv", "c.v", dim)} AS cos
  FROM eb c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
){"" if not final else f'''
SELECT query_id, neighbor_id, rank::INTEGER AS rank FROM ranked WHERE rank <= {k}
'''}"""


def _ivf_sql(
    n_cells: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    k: int = 10,
    nq: int = 5,
    exclude: list[int] | None = None,
    candidate_pred: str | None = None,
    final: bool = True,
) -> str:
    """Replay of topk_ivf(lloyd_iters=0): seed centroids are the first
    n_cells corpus vectors ORDERED BY vec_id, labeled 0..n_cells-1 exactly
    as take_centroids enumerates them (row_number, NOT the raw vec_id —
    the two only coincide for contiguous-from-0 id spaces); cell
    assignment is argmax cosine with Spark's array_max tie-break (higher
    score, then higher cell). ``exclude`` removes vec_ids from the
    CANDIDATE side only (the tombstone-delete replay — assignments and
    seed centroids are per-vector, so deleting non-seed rows changes
    nothing else)."""
    excl = (
        f" WHERE a.vec_id NOT IN ({','.join(str(int(v)) for v in exclude)})"
        if exclude
        else ""
    )
    if candidate_pred:
        # metadata filter on the CANDIDATE side only (quantizer and probe
        # lists stay full-corpus, matching topk_ivf(candidates=...))
        kw = " AND" if excl else " WHERE"
        excl += (
            f"{kw} a.vec_id IN (SELECT vec_id FROM embeddings"
            f" WHERE {candidate_pred})"
        )
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
c AS (
  SELECT cell, cvec FROM (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cvec FROM e
  ) WHERE cell < {n_cells}
),
sc AS (
  SELECT e.vec_id, e.v, c.cell, {_cos_sql("e.v", "c.cvec", dim)} AS s
  FROM e CROSS JOIN c
),
asn AS (
  SELECT vec_id, v, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
    FROM sc
  ) WHERE rn = 1
),
qp AS (
  SELECT vec_id AS query_id, v AS qv, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
    FROM sc WHERE vec_id < {nq}
  ) WHERE rn <= {nprobe}
),
scored AS (
  SELECT qp.query_id, a.vec_id AS neighbor_id, {_cos_sql("qp.qv", "a.v", dim)} AS cos
  FROM asn a JOIN qp ON a.cell = qp.cell AND a.vec_id <> qp.query_id{excl}
),
ranked AS (
  SELECT query_id, neighbor_id,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
)""" + (
        f"""
SELECT query_id, neighbor_id, rank::INTEGER AS rank FROM ranked WHERE rank <= {k}
"""
        if final
        else ""
    )


def _q8_header(recursive: bool) -> str:
    """Shared WITH-prefix: float view ``e`` + int8-grid view ``q8`` (the
    quantize formula of :func:`_quantize_arr`)."""
    return f"""
WITH {"RECURSIVE " if recursive else ""}e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
q8 AS (
  SELECT vec_id,
    CASE WHEN (list_max(list_transform(v, x -> abs(x))) / 127.0) = 0
         THEN list_transform(v, x -> 0.0)
         ELSE list_transform(v, x -> round(x / (list_max(list_transform(v, y -> abs(y))) / 127.0)))
    END AS v
  FROM e
),"""


def _cand_ctes(sample_cap: int, vtab: str = "q8") -> str:
    """Shared portable-hash training sample (replays :func:`_hash_sample_q8`).
    ``vtab`` selects the quantized view trained over (a filtered slice for
    the incremental-store oracles)."""
    return f"""
frac AS (
  SELECT least(1000000, (1000000 * {sample_cap}) // count(*) + 1) AS ppm FROM {vtab}
),
cand AS (
  SELECT vec_id, v FROM {vtab}, frac
  WHERE ({HASH60_DUCKDB.format(expr="vec_id::VARCHAR")}) % 1000000 < frac.ppm
),"""


def _coarse_ctes(
    n_cells: int | str,
    dim: int,
    lloyd_iters: int,
    trained: bool,
    vtab: str = "q8",
) -> tuple[str, str]:
    """Coarse-quantizer CTE chain over ``vtab`` (and ``cand`` when
    trained): seeds (first-n row_number labels, or the recursive
    farthest-point greedy) + ``lloyd_iters`` unrolled integer-exact
    refinement steps. ``n_cells`` may be a scalar-subquery SQL string
    (the auto-sized SemDeDup cell count) instead of an int literal.
    Returns (sql_fragment, final_centroid_cte_name)."""
    n_lim = f"({n_cells})" if isinstance(n_cells, str) else str(n_cells)
    # trained mode refines over the SAMPLE (cand) — the engine's
    # _lloyd_refine_sample; seed/lloyd-exact mode keeps the full-corpus
    # refinement of _lloyd_refine_exact
    ltab = "cand" if trained else vtab

    def assign(prev: str) -> str:
        cos = _cos_sql(f"{ltab}.v", f"{prev}.cvec", dim)
        return f"""(
    SELECT vec_id, v, cell FROM (
      SELECT {ltab}.vec_id, {ltab}.v, {prev}.cell,
        row_number() OVER (PARTITION BY {ltab}.vec_id ORDER BY {cos} DESC, {prev}.cell DESC) AS rn
      FROM {ltab} CROSS JOIN {prev}
    ) WHERE rn = 1
  )"""

    if trained:
        d2 = f"list_sum(list_transform(range(1, {dim + 1}), j -> (c.v[j] - c2.v[j]) * (c.v[j] - c2.v[j])))"
        sql = f"""
sel AS (
  SELECT 1 AS step, [(SELECT min(vec_id) FROM cand)] AS chosen
  UNION ALL
  SELECT step + 1, list_append(chosen, (
    SELECT vec_id FROM (
      SELECT c.vec_id AS vec_id, min({d2}) AS d
      FROM cand c, cand c2
      WHERE list_contains(sel.chosen, c2.vec_id)
        AND NOT list_contains(sel.chosen, c.vec_id)
      GROUP BY c.vec_id
    ) ORDER BY d DESC, vec_id ASC LIMIT 1
  ))
  FROM sel WHERE step < {n_lim}
),
ch AS (SELECT chosen FROM sel WHERE step = {n_lim}),
c0 AS (
  -- list_position is safe: the greedy never re-picks, so chosen is unique.
  -- (range(1, len+1) would be cleaner but DuckDB's range() accepts neither
  -- lateral columns nor subqueries, and n_cells may be a scalar subquery.)
  SELECT list_position(ch.chosen, u.cid) - 1 AS cell, cand.v AS cvec
  FROM ch, unnest(ch.chosen) AS u(cid)
  JOIN cand ON cand.vec_id = u.cid
)"""
    else:
        sql = f"""
c0 AS (
  SELECT cell, cvec FROM (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cvec FROM {vtab}
  ) WHERE cell < {n_lim}
)"""
    prev = "c0"
    for it in range(1, lloyd_iters + 1):
        sql += f""",
a{it} AS {assign(prev)},
m{it} AS (
  SELECT cell, j, floor(sum(v[j]) / count(*)) AS m
  FROM a{it}, range(1, {dim + 1}) AS r(j) GROUP BY cell, j
),
c{it} AS (
  SELECT {prev}.cell, COALESCE(mm.cvec, {prev}.cvec) AS cvec
  FROM {prev} LEFT JOIN (
    SELECT cell, list(m ORDER BY j) AS cvec FROM m{it} GROUP BY cell
  ) mm ON mm.cell = {prev}.cell
)"""
        prev = f"c{it}"
    return sql, prev


def _ivf_probe_tail(
    prev: str,
    nprobe: int,
    dim: int,
    k: int,
    nq: int,
    final: bool = True,
    vtab: str = "q8",
) -> str:
    """Final assignment + probe + exact-cosine re-rank tail shared by the
    Lloyd/trained IVF oracles (``prev`` = final centroid CTE). ``vtab``
    selects the corpus view the assignment/re-rank runs over (``q8`` for
    the int8-grid variants, ``e`` for the float-corpus trained default).
    ``final=False`` stops after the ``ranked`` CTE so callers (the recall
    oracle) can compose further CTEs."""
    cosf = _cos_sql(f"{vtab}.v", f"{prev}.cvec", dim)
    return f""",
fa AS (
    SELECT vec_id, v, cell FROM (
      SELECT {vtab}.vec_id, {vtab}.v, {prev}.cell,
        row_number() OVER (PARTITION BY {vtab}.vec_id ORDER BY {cosf} DESC, {prev}.cell DESC) AS rn
      FROM {vtab} CROSS JOIN {prev}
    ) WHERE rn = 1
  ),
qp AS (
  SELECT vec_id AS query_id, v AS qv, cell FROM (
    SELECT {vtab}.vec_id, {vtab}.v, {prev}.cell,
      row_number() OVER (PARTITION BY {vtab}.vec_id ORDER BY {cosf} DESC, {prev}.cell DESC) AS rn
    FROM {vtab} CROSS JOIN {prev} WHERE {vtab}.vec_id < {nq}
  ) WHERE rn <= {nprobe}
),
scored AS (
  SELECT qp.query_id, a.vec_id AS neighbor_id, {_cos_sql("qp.qv", "a.v", dim)} AS cos
  FROM fa a JOIN qp ON a.cell = qp.cell AND a.vec_id <> qp.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
)""" + (
        f"""
SELECT query_id, neighbor_id, rank::INTEGER AS rank FROM ranked WHERE rank <= {k}
"""
        if final
        else ""
    )


def _ivf_lloyd_sql(
    n_cells: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    k: int = 10,
    nq: int = 5,
    lloyd_iters: int = 2,
    trained: bool = False,
    sample_cap: int = 2048,
) -> str:
    """Replay of topk_ivf_lloyd_exact: quantize (round(x/(max|x|/127))),
    seed centroids = first n_cells quantized vectors (row_number labels),
    then ``lloyd_iters`` refinement steps unrolled as CTE pairs
    (assign → per-dim floor(sum/count) mean, empty cells keep the previous
    centroid), final assignment + probe + exact re-rank. All sums are over
    whole-number doubles → exact → engine-order-independent.

    ``trained=True`` replays :func:`take_centroids_trained` instead: the
    portable-hash sample and the greedy farthest-point seeding as a
    RECURSIVE CTE (one chosen vec_id appended per step; max-min squared-L2,
    ties to the lower vec_id — exact integers over the quantized grid, so
    the greedy argmax is engine-independent), then the same Lloyd tail."""
    sql = _q8_header(trained)
    if trained:
        sql += _cand_ctes(sample_cap)
    coarse, prev = _coarse_ctes(n_cells, dim, lloyd_iters, trained)
    return sql + coarse + _ivf_probe_tail(prev, nprobe, dim, k, nq)


def _ivf_default_sql(
    n_cells: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    k: int = 10,
    nq: int = 5,
    lloyd_iters: int = 2,
    sample_cap: int = 2048,
) -> str:
    """Replay of topk_ivf's TRAINED DEFAULT: the coarse quantizer trains
    on the int8 grid (sample + recursive greedy + exact Lloyd), while
    assignment, probing and re-rank run over the FLOAT corpus — exactly
    the engine's default path."""
    coarse, prev = _coarse_ctes(n_cells, dim, lloyd_iters, trained=True)
    return (
        _q8_header(recursive=True)
        + _cand_ctes(sample_cap)
        + coarse
        + _ivf_probe_tail(prev, nprobe, dim, k, nq, vtab="e")
    )


def _pq_books_ctes(
    m: int, sub_dim: int, n_codes: int, lloyd_iters: int
) -> tuple[str, str]:
    """Trained-codebook CTE chain (replays :func:`pq_books_trained`) over
    ``q8`` + ``cand``: per-subspace slices ``cs``, the per-subspace
    farthest-point greedy as ONE recursive CTE (state = (s, step, chosen);
    the correlated ``psel.s`` lives in the derived table's WHERE — DuckDB
    cannot correlate it inside aggregate arguments, hence the pre-sliced
    ``cs``), seed books ``pcb0``, then ``lloyd_iters`` unrolled
    integer-exact refinement steps (code → per-(s, code, dim)
    floor(sum/count); empty codes keep the previous codeword).
    Returns (sql_fragment, final_book_cte_name)."""
    sql = f"""
cs AS (
  SELECT cand.vec_id, u.s::INTEGER AS s,
         list_slice(v, u.s * {sub_dim} + 1, (u.s + 1) * {sub_dim}) AS sv
  FROM cand, range(0, {m}) AS u(s)
),
psel AS (
  SELECT r.s::INTEGER AS s, 1 AS step, [(SELECT min(vec_id) FROM cand)] AS chosen
  FROM range(0, {m}) AS r(s)
  UNION ALL
  SELECT psel.s, step + 1, list_append(chosen, (
    SELECT vec_id FROM (
      SELECT c.vec_id AS vec_id,
        min(list_sum(list_transform(range(1, {sub_dim + 1}), j -> (c.sv[j] - c2.sv[j]) * (c.sv[j] - c2.sv[j])))) AS d
      FROM cs c, cs c2
      WHERE c.s = psel.s AND c2.s = psel.s
        AND list_contains(psel.chosen, c2.vec_id)
        AND NOT list_contains(psel.chosen, c.vec_id)
      GROUP BY c.vec_id
    ) ORDER BY d DESC, vec_id ASC LIMIT 1
  ))
  FROM psel WHERE step < {n_codes}
),
pch AS (SELECT s, chosen FROM psel WHERE step = {n_codes}),
pcb0 AS (
  SELECT pch.s, r.j - 1 AS code,
    list_slice(cand.v, pch.s * {sub_dim} + 1, (pch.s + 1) * {sub_dim}) AS cv
  FROM pch, range(1, {n_codes + 1}) AS r(j)
  JOIN cand ON cand.vec_id = pch.chosen[r.j]
)"""
    prev = "pcb0"
    # refinement runs over the SAMPLE (cand) — the engine's
    # _pq_books_refine_sample trains on the capped sample, never the corpus
    d_expr = (
        f"list_sum(list_transform(range(1, {sub_dim + 1}), "
        f"j -> (cand.v[b.s * {sub_dim} + j] - b.cv[j]) * (cand.v[b.s * {sub_dim} + j] - b.cv[j])))"
    )
    for it in range(1, lloyd_iters + 1):
        sql += f""",
pa{it} AS (
  SELECT vec_id, s, code FROM (
    SELECT cand.vec_id, b.s, b.code,
      row_number() OVER (PARTITION BY cand.vec_id, b.s ORDER BY {d_expr} ASC, b.code ASC) AS rn
    FROM cand CROSS JOIN {prev} b
  ) WHERE rn = 1
),
pm{it} AS (
  SELECT a.s, a.code, r.j, floor(sum(cand.v[a.s * {sub_dim} + r.j]) / count(*)) AS m
  FROM pa{it} a, cand, range(1, {sub_dim + 1}) AS r(j)
  WHERE cand.vec_id = a.vec_id
  GROUP BY a.s, a.code, r.j
),
pcb{it} AS (
  SELECT p.s, p.code, COALESCE(mm.cv, p.cv) AS cv
  FROM {prev} p LEFT JOIN (
    SELECT s, code, list(m ORDER BY j) AS cv FROM pm{it} GROUP BY s, code
  ) mm ON mm.s = p.s AND mm.code = p.code
)"""
        prev = f"pcb{it}"
    return sql, prev


def _pq_best_adc_tail(
    book: str,
    m: int,
    sub_dim: int,
    k: int,
    nq: int,
    cand_cte: str | None = None,
    final: bool = True,
) -> str:
    """Coding + ADC ranking tail over the final book CTE: per-(vec, s)
    best code (squared-L2 argmin, ties lower code) with its codeword,
    query subvectors from the quantized grid, fixed-order distance chain,
    rank by d ASC / neighbor ASC. ``cand_cte`` (query_id, neighbor_id)
    optionally restricts candidates (the IVF probe composition)."""
    d_expr = (
        f"list_sum(list_transform(range(1, {sub_dim + 1}), "
        f"j -> (q8.v[b.s * {sub_dim} + j] - b.cv[j]) * (q8.v[b.s * {sub_dim} + j] - b.cv[j])))"
    )
    dsum = " + ".join(f"max(CASE WHEN s = {s} THEN ds END)" for s in range(m))
    if cand_cte:
        ds_from = f"""FROM {cand_cte} cd
  JOIN pq ON pq.query_id = cd.query_id
  JOIN pbest b ON b.vec_id = cd.neighbor_id AND b.s = pq.s"""
        ds_sel = "cd.query_id, cd.neighbor_id"
    else:
        ds_from = "FROM pq JOIN pbest b ON b.vec_id <> pq.query_id AND b.s = pq.s"
        ds_sel = "pq.query_id, b.vec_id AS neighbor_id"
    return f""",
pbest AS (
  SELECT vec_id, s, code, cv FROM (
    SELECT q8.vec_id, b.s, b.code, b.cv,
      row_number() OVER (PARTITION BY q8.vec_id, b.s ORDER BY {d_expr} ASC, b.code ASC) AS rn
    FROM q8 CROSS JOIN {book} b
  ) WHERE rn = 1
),
pq AS (
  SELECT vec_id AS query_id, u.s::INTEGER AS s,
    list_slice(v, u.s * {sub_dim} + 1, (u.s + 1) * {sub_dim}) AS qs
  FROM q8, range(0, {m}) AS u(s) WHERE vec_id < {nq}
),
ds AS (
  SELECT {ds_sel}, pq.s,
    list_sum(list_transform(range(1, {sub_dim + 1}), j -> (qs[j] - b.cv[j]) * (qs[j] - b.cv[j]))) AS ds
  {ds_from}
),
tot AS (
  SELECT query_id, neighbor_id, {dsum} AS d
  FROM ds GROUP BY query_id, neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id,
    row_number() OVER (PARTITION BY query_id ORDER BY d ASC, neighbor_id ASC) AS rank
  FROM tot
)""" + (
        f"""
SELECT query_id, neighbor_id, rank::INTEGER AS rank FROM ranked WHERE rank <= {k}
"""
        if final
        else ""
    )


def _pq_adc_trained_sql(
    m: int = _PQ_M,
    sub_dim: int = _PQ_SUB,
    n_codes: int = _PQ_CODES,
    k: int = 10,
    nq: int = 5,
    lloyd_iters: int = 2,
    sample_cap: int = 2048,
) -> str:
    """Replay of :func:`topk_pq_adc_trained`: quantize, hash-sample,
    per-subspace recursive greedy + exact Lloyd books, code, ADC rank."""
    books, book = _pq_books_ctes(m, sub_dim, n_codes, lloyd_iters)
    return (
        _q8_header(recursive=True)
        + _cand_ctes(sample_cap)
        + books
        + _pq_best_adc_tail(book, m, sub_dim, k, nq)
    )


def _ivf_pq_trained_sql(
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = _PQ_M,
    sub_dim: int = _PQ_SUB,
    n_codes: int = _PQ_CODES,
    dim: int = 64,
    k: int = 10,
    nq: int = 5,
    lloyd_iters: int = 2,
    sample_cap: int = 2048,
) -> str:
    """Replay of :func:`topk_ivf_pq_trained`: BOTH trained quantizers from
    the shared hash-sample — the coarse recursive greedy + Lloyd cells
    gate the candidates, the per-subspace recursive greedy + Lloyd books
    supply the ADC distances."""
    coarse, cprev = _coarse_ctes(n_cells, dim, lloyd_iters, trained=True)
    books, book = _pq_books_ctes(m, sub_dim, n_codes, lloyd_iters)
    cosf = _cos_sql("q8.v", f"{cprev}.cvec", dim)
    probe = f""",
fa AS (
    SELECT vec_id, cell FROM (
      SELECT q8.vec_id, {cprev}.cell,
        row_number() OVER (PARTITION BY q8.vec_id ORDER BY {cosf} DESC, {cprev}.cell DESC) AS rn
      FROM q8 CROSS JOIN {cprev}
    ) WHERE rn = 1
  ),
qp AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT q8.vec_id, {cprev}.cell,
      row_number() OVER (PARTITION BY q8.vec_id ORDER BY {cosf} DESC, {cprev}.cell DESC) AS rn
    FROM q8 CROSS JOIN {cprev} WHERE q8.vec_id < {nq}
  ) WHERE rn <= {nprobe}
),
candset AS (
  SELECT qp.query_id, a.vec_id AS neighbor_id
  FROM fa a JOIN qp ON a.cell = qp.cell AND a.vec_id <> qp.query_id
)"""
    return (
        _q8_header(recursive=True)
        + _cand_ctes(sample_cap)
        + coarse
        + ","
        + books.lstrip()  # books fragment starts "\ncs AS (" — join after coarse
        + probe
        + _pq_best_adc_tail(book, m, sub_dim, k, nq, cand_cte="candset")
    )


def _semdedup_sql(
    threshold_pct: int = 90, dim: int = 64, target_cell: int = 500, min_cells: int = 16
) -> str:
    """Replay of semdedup_keep: row_number seed centroids, array_max
    assignment tie-break (score DESC, cell DESC), within-cell lower-id
    domination at the same exact-cosine threshold. n_cells is the SAME
    corpus-count ceiling division as :func:`auto_n_cells`, computed by
    the oracle from its own view of the table."""
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
nc AS (
  SELECT greatest({min_cells}, (count(*) + {target_cell - 1}) // {target_cell}) AS n_cells
  FROM e
),
c AS (
  SELECT cell, cvec FROM (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cvec FROM e
  ) WHERE cell < (SELECT n_cells FROM nc)
),
asn AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
      row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY {_cos_sql("e.v", "c.cvec", dim)} DESC, c.cell DESC
      ) AS rn
    FROM e CROSS JOIN c
  ) WHERE rn = 1
),
dom AS (
  SELECT DISTINCT b.vec_id
  FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE 100.0 * ({_cos_sql("a.v", "b.v", dim)}) >= {float(threshold_pct)}
)
SELECT asn.vec_id, asn.cell::INTEGER AS cell,
  (CASE WHEN asn.vec_id IN (SELECT vec_id FROM dom) THEN 0 ELSE 1 END)::INTEGER AS keep
FROM asn
"""


_RECALL_TAIL = """,
approx AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= {k}),
branked AS (
  SELECT query_id, neighbor_id,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM bscored
),
exact AS (SELECT query_id, neighbor_id FROM branked WHERE rank <= {k}),
qs AS (SELECT DISTINCT query_id FROM exact),
h AS (
  SELECT e.query_id, count(*) AS hits
  FROM exact e JOIN approx a
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
)
SELECT qs.query_id, COALESCE(h.hits, 0)::INTEGER AS hits
FROM qs LEFT JOIN h USING (query_id)
"""


def _lsh_recall_sql(
    nbits: int = 8, dim: int = 64, k: int = 10, nq: int = 5
) -> str:
    """Replay of ann_recall(topk_lsh_multiprobe, topk_bruteforce): the
    multiprobe ranking CTEs, a float brute-force ranking, and the integer
    per-query overlap — recall@k × k, hash-checked by the driver."""
    body = _lsh_sql(nbits, dim, k, nq, multiprobe=True, final=False)
    return (
        body
        + f""",
bscored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_cos_sql("q.v", "c.v", dim)} AS cos
  FROM e c, (SELECT vec_id, v FROM e WHERE vec_id < {nq}) q
  WHERE c.vec_id <> q.vec_id
)"""
        + _RECALL_TAIL.format(k=k)
    )


def _ivf_recall_sql(
    n_cells: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    k: int = 10,
    nq: int = 5,
    lloyd_iters: int = 2,
    sample_cap: int = 2048,
) -> str:
    """Replay of ann_recall(topk_ivf_trained, topk_bruteforce_q8): the
    trained-quantizer IVF ranking CTEs, an int8-grid brute-force ranking
    (the matching ground truth), and the integer per-query overlap."""
    coarse, prev = _coarse_ctes(n_cells, dim, lloyd_iters, trained=True)
    return (
        _q8_header(recursive=True)
        + _cand_ctes(sample_cap)
        + coarse
        + _ivf_probe_tail(prev, nprobe, dim, k, nq, final=False)
        + f""",
bscored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_cos_sql("q.v", "c.v", dim)} AS cos
  FROM q8 c, (SELECT vec_id, v FROM q8 WHERE vec_id < {nq}) q
  WHERE c.vec_id <> q.vec_id
)"""
        + _RECALL_TAIL.format(k=k)
    )


def _pq_recall_sql(
    m: int = _PQ_M,
    sub_dim: int = _PQ_SUB,
    n_codes: int = _PQ_CODES,
    k: int = 10,
    nq: int = 5,
    lloyd_iters: int = 2,
    sample_cap: int = 2048,
    dim: int = 64,
) -> str:
    """Replay of ann_recall(topk_pq_adc_trained, topk_bruteforce_q8): the
    trained-codebook ADC ranking CTEs, an int8-grid brute-force ranking,
    and the integer per-query overlap."""
    books, book = _pq_books_ctes(m, sub_dim, n_codes, lloyd_iters)
    return (
        _q8_header(recursive=True)
        + _cand_ctes(sample_cap)
        + books
        + _pq_best_adc_tail(book, m, sub_dim, k, nq, final=False)
        + f""",
bscored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_cos_sql("q.v", "c.v", dim)} AS cos
  FROM q8 c, (SELECT vec_id, v FROM q8 WHERE vec_id < {nq}) q
  WHERE c.vec_id <> q.vec_id
)"""
        + _RECALL_TAIL.format(k=k)
    )


def _filtered_recall_sql(
    pred: str = "label % 2 = 0", dim: int = 64, k: int = 10, nq: int = 5
) -> str:
    """Replay of ann_recall(topk_ivf(candidates=filtered),
    topk_bruteforce(filtered)): the candidate-filtered IVF ranking CTEs
    and a float brute force restricted to the same predicate."""
    body = _ivf_sql(candidate_pred=pred, final=False)
    return (
        body
        + f""",
bscored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_cos_sql("q.v", "c.v", dim)} AS cos
  FROM e c, (SELECT vec_id, v FROM e WHERE vec_id < {nq}) q
  WHERE c.vec_id <> q.vec_id
    AND c.vec_id IN (SELECT vec_id FROM embeddings WHERE {pred})
)"""
        + _RECALL_TAIL.format(k=k)
    )


def _semdedup_trained_sql(
    threshold_pct: int = 90,
    dim: int = 64,
    target_cell: int = 500,
    min_cells: int = 16,
    lloyd_iters: int = 2,
    sample_cap: int = 2048,
) -> str:
    """Replay of semdedup_keep(centroids='trained'): auto-sized n_cells
    (the same ceiling division, as a scalar subquery feeding the
    recursive greedy's stop condition), trained centroids on the int8
    grid, assignment by QUANTIZED cosine (ties cell DESC), domination by
    FLOAT cosine within cells at the same threshold."""
    coarse, prev = _coarse_ctes(
        "SELECT n_cells FROM nc", dim, lloyd_iters, trained=True
    )
    cosq = _cos_sql("q8.v", f"{prev}.cvec", dim)
    return (
        _q8_header(recursive=True)
        + f"""
nc AS (
  SELECT greatest({min_cells}, (count(*) + {target_cell - 1}) // {target_cell}) AS n_cells
  FROM e
),"""
        + _cand_ctes(sample_cap)
        + coarse
        + f""",
asn AS (
  SELECT vec_id, cell FROM (
    SELECT q8.vec_id, {prev}.cell,
      row_number() OVER (PARTITION BY q8.vec_id ORDER BY {cosq} DESC, {prev}.cell DESC) AS rn
    FROM q8 CROSS JOIN {prev}
  ) WHERE rn = 1
),
av AS (SELECT asn.vec_id, asn.cell, e.v FROM asn JOIN e USING (vec_id)),
dom AS (
  SELECT DISTINCT b.vec_id
  FROM av a JOIN av b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE 100.0 * ({_cos_sql("a.v", "b.v", dim)}) >= {float(threshold_pct)}
)
SELECT av.vec_id, av.cell::INTEGER AS cell,
  (CASE WHEN av.vec_id IN (SELECT vec_id FROM dom) THEN 0 ELSE 1 END)::INTEGER AS keep
FROM av
"""
    )


def _semdedup_incremental_sql(
    threshold_pct: int = 90,
    dim: int = 64,
    target_cell: int = 500,
    min_cells: int = 16,
    lloyd_iters: int = 2,
    sample_cap: int = 2048,
) -> str:
    """Replay of write_semdedup_store(base) + semdedup_check_vs_store(batch):
    the trained quantizer and the kept canonical set derive from the BASE
    slice (vec_id % 5 <> 0) only; a batch vector (vec_id % 5 = 0) is
    dominated by any kept base vector of its cell (store precedence, no
    id comparison) or by a lower-id batch vector of its cell."""
    coarse, prev = _coarse_ctes(
        "SELECT n_cells FROM nc", dim, lloyd_iters, trained=True, vtab="bq8"
    )
    cosb = _cos_sql("bq8.v", f"{prev}.cvec", dim)
    cosn = _cos_sql("nq8.v", f"{prev}.cvec", dim)
    return (
        _q8_header(recursive=True)
        + f"""
bq8 AS (SELECT * FROM q8 WHERE vec_id % 5 <> 0),
nq8 AS (SELECT * FROM q8 WHERE vec_id % 5 = 0),
nc AS (
  SELECT greatest({min_cells}, (count(*) + {target_cell - 1}) // {target_cell}) AS n_cells
  FROM bq8
),"""
        + _cand_ctes(sample_cap, vtab="bq8")
        + coarse
        + f""",
asn_b AS (
  SELECT vec_id, cell FROM (
    SELECT bq8.vec_id, {prev}.cell,
      row_number() OVER (PARTITION BY bq8.vec_id ORDER BY {cosb} DESC, {prev}.cell DESC) AS rn
    FROM bq8 CROSS JOIN {prev}
  ) WHERE rn = 1
),
avb AS (SELECT asn_b.vec_id, asn_b.cell, e.v FROM asn_b JOIN e USING (vec_id)),
dom_b AS (
  SELECT DISTINCT b.vec_id
  FROM avb a JOIN avb b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE 100.0 * ({_cos_sql("a.v", "b.v", dim)}) >= {float(threshold_pct)}
),
kept_b AS (
  SELECT vec_id, cell, v FROM avb
  WHERE vec_id NOT IN (SELECT vec_id FROM dom_b)
),
asn_n AS (
  SELECT vec_id, cell FROM (
    SELECT nq8.vec_id, {prev}.cell,
      row_number() OVER (PARTITION BY nq8.vec_id ORDER BY {cosn} DESC, {prev}.cell DESC) AS rn
    FROM nq8 CROSS JOIN {prev}
  ) WHERE rn = 1
),
avn AS (SELECT asn_n.vec_id, asn_n.cell, e.v FROM asn_n JOIN e USING (vec_id)),
dom_n AS (
  SELECT DISTINCT n.vec_id FROM avn n JOIN kept_b s ON s.cell = n.cell
  WHERE 100.0 * ({_cos_sql("s.v", "n.v", dim)}) >= {float(threshold_pct)}
  UNION
  SELECT DISTINCT b.vec_id
  FROM avn a JOIN avn b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE 100.0 * ({_cos_sql("a.v", "b.v", dim)}) >= {float(threshold_pct)}
)
SELECT avn.vec_id, avn.cell::INTEGER AS cell,
  (CASE WHEN avn.vec_id IN (SELECT vec_id FROM dom_n) THEN 0 ELSE 1 END)::INTEGER AS keep
FROM avn
"""
    )


def _pq_base_sql(m: int = _PQ_M, sub_dim: int = _PQ_SUB, n_codes: int = _PQ_CODES) -> str:
    """Shared CTE prefix: subvector slices of corpus and codebook (first
    n_codes vectors, row_number code labels), per-(vec, subspace) best code
    by squared-L2 (ties to the lower code) — the exact argmin pq_codes'
    array_min over (d, code) structs computes."""
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
cb AS (
  SELECT code, v FROM (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v FROM e
  ) WHERE code < {n_codes}
),
sub AS (
  SELECT e.vec_id, u.s, list_slice(e.v, u.s * {sub_dim} + 1, (u.s + 1) * {sub_dim}) AS sv
  FROM e, unnest(range(0, {m})) AS u(s)
),
cbs AS (
  SELECT cb.code, u.s, list_slice(cb.v, u.s * {sub_dim} + 1, (u.s + 1) * {sub_dim}) AS cv
  FROM cb, unnest(range(0, {m})) AS u(s)
),
d AS (
  SELECT sub.vec_id, sub.s, cbs.code, cbs.cv,
    list_sum(list_transform(range(1, {sub_dim + 1}), j -> (sv[j] - cv[j]) * (sv[j] - cv[j]))) AS d
  FROM sub JOIN cbs USING (s)
),
best AS (
  SELECT vec_id, s, code, cv FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, code ASC) AS rn
    FROM d
  ) WHERE rn = 1
)"""


def _pq_codes_sql(m: int = _PQ_M) -> str:
    pivot = ",\n  ".join(
        f"max(CASE WHEN s = {s} THEN code END)::INTEGER AS code_{s}" for s in range(m)
    )
    return f"""{_pq_base_sql()}
SELECT vec_id,
  {pivot}
FROM best GROUP BY vec_id
"""


def _pq_adc_sql(
    m: int = _PQ_M, sub_dim: int = _PQ_SUB, k: int = 10, nq: int = 5
) -> str:
    """Replay of topk_pq_adc: per-(neighbor, subspace) reconstructed
    codeword from ``best``, query subvectors exact, distance as the same
    explicit d_0 + … + d_{m-1} chain (conditional-max pivot keeps the
    addition order fixed, matching Spark's expression)."""
    dsum = " + ".join(f"max(CASE WHEN s = {s} THEN ds END)" for s in range(m))
    return f"""{_pq_base_sql()},
q AS (
  SELECT vec_id AS query_id, u.s,
    list_slice(v, u.s * {sub_dim} + 1, (u.s + 1) * {sub_dim}) AS qs
  FROM e, unnest(range(0, {m})) AS u(s) WHERE vec_id < {nq}
),
ds AS (
  SELECT q.query_id, b.vec_id AS neighbor_id, q.s,
    list_sum(list_transform(range(1, {sub_dim + 1}), j -> (qs[j] - cv[j]) * (qs[j] - cv[j]))) AS ds
  FROM q JOIN best b ON b.vec_id <> q.query_id AND b.s = q.s
),
tot AS (
  SELECT query_id, neighbor_id, {dsum} AS d
  FROM ds GROUP BY query_id, neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id,
    row_number() OVER (PARTITION BY query_id ORDER BY d ASC, neighbor_id ASC) AS rank
  FROM tot
)
SELECT query_id, neighbor_id, rank::INTEGER AS rank FROM ranked WHERE rank <= {k}
"""


def _ivf_pq_sql(
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = _PQ_M,
    sub_dim: int = _PQ_SUB,
    n_codes: int = _PQ_CODES,
    dim: int = 64,
    k: int = 10,
    nq: int = 5,
) -> str:
    """Replay of topk_ivf_pq: the _ivf_sql cell assignment/probe CTEs
    composed with the _pq_base_sql code CTEs; candidates = probed cells;
    distance = the fixed-order conditional-max ADC chain."""
    dsum = " + ".join(f"max(CASE WHEN s = {s} THEN ds END)" for s in range(m))
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
c AS (
  SELECT cell, cvec FROM (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cvec FROM e
  ) WHERE cell < {n_cells}
),
sc AS (
  SELECT e.vec_id, e.v, c.cell, {_cos_sql("e.v", "c.cvec", dim)} AS s
  FROM e CROSS JOIN c
),
asn AS (
  SELECT vec_id, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
    FROM sc
  ) WHERE rn = 1
),
qp AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
    FROM sc WHERE vec_id < {nq}
  ) WHERE rn <= {nprobe}
),
cb AS (
  SELECT code, v FROM (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v FROM e
  ) WHERE code < {n_codes}
),
sub AS (
  SELECT e.vec_id, u.s, list_slice(e.v, u.s * {sub_dim} + 1, (u.s + 1) * {sub_dim}) AS sv
  FROM e, unnest(range(0, {m})) AS u(s)
),
cbs AS (
  SELECT cb.code, u.s, list_slice(cb.v, u.s * {sub_dim} + 1, (u.s + 1) * {sub_dim}) AS cv
  FROM cb, unnest(range(0, {m})) AS u(s)
),
dmat AS (
  SELECT sub.vec_id, sub.s, cbs.code, cbs.cv,
    list_sum(list_transform(range(1, {sub_dim + 1}), j -> (sv[j] - cv[j]) * (sv[j] - cv[j]))) AS d
  FROM sub JOIN cbs USING (s)
),
best AS (
  SELECT vec_id, s, code, cv FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, code ASC) AS rn
    FROM dmat
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, u.s,
    list_slice(v, u.s * {sub_dim} + 1, (u.s + 1) * {sub_dim}) AS qs
  FROM e, unnest(range(0, {m})) AS u(s) WHERE vec_id < {nq}
),
cand AS (
  SELECT qp.query_id, a.vec_id AS neighbor_id
  FROM asn a JOIN qp ON a.cell = qp.cell AND a.vec_id <> qp.query_id
),
ds AS (
  SELECT cd.query_id, cd.neighbor_id, q.s,
    list_sum(list_transform(range(1, {sub_dim + 1}), j -> (qs[j] - cv[j]) * (qs[j] - cv[j]))) AS ds
  FROM cand cd
  JOIN q ON q.query_id = cd.query_id
  JOIN best b ON b.vec_id = cd.neighbor_id AND b.s = q.s
),
tot AS (
  SELECT query_id, neighbor_id, {dsum} AS d
  FROM ds GROUP BY query_id, neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id,
    row_number() OVER (PARTITION BY query_id ORDER BY d ASC, neighbor_id ASC) AS rank
  FROM tot
)
SELECT query_id, neighbor_id, rank::INTEGER AS rank FROM ranked WHERE rank <= {k}
"""


def oracle_sql():
    return {
        "ann_topk_bruteforce": _TOPK_SQL,
        "ann_topk_lsh": _lsh_sql(),
        "ann_topk_lsh_multiprobe": _lsh_sql(multiprobe=True),
        "ann_topk_ivf": _ivf_sql(),
        "ann_topk_filtered": _ivf_sql(candidate_pred="label % 2 = 0"),
        "ann_topk_filtered_exact": _TOPK_SQL.replace(
            "WHERE e.vec_id <> q.query_id",
            "WHERE e.vec_id <> q.query_id AND e.label % 2 = 0",
        ),
        "ann_topk_ivf_default": _ivf_default_sql(),
        "ann_topk_ivf_lloyd": _ivf_lloyd_sql(),
        "ann_topk_ivf_trained": _ivf_lloyd_sql(trained=True),
        "emb_quantize_int8": _QUANT_SQL,
        "emb_quantize_pq": _pq_codes_sql(),
        "ann_topk_pq_adc": _pq_adc_sql(),
        "ann_topk_ivf_pq": _ivf_pq_sql(),
        "ann_topk_pq_adc_trained": _pq_adc_trained_sql(),
        "ann_topk_ivf_pq_trained": _ivf_pq_trained_sql(),
        # the disk/cold twins run the TRAINED at-rest build (the write
        # default) — their oracle is the full trained replay
        "ann_topk_ivf_pq_disk": _ivf_pq_trained_sql(),
        "ann_topk_ivf_pq_cold": _ivf_pq_trained_sql(),
        "ann_ivf_append_equiv": _ivf_sql(),
        "ann_ivf_delete_equiv": _ivf_sql(exclude=_DELETED_IDS),
        "ann_topk_int8": _INT8_TOPK_SQL,
        "ann_recall_lsh": _lsh_recall_sql(),
        "ann_recall_ivf": _ivf_recall_sql(),
        "ann_recall_pq": _pq_recall_sql(),
        "ann_recall_filtered": _filtered_recall_sql(),
        "dedup_semdedup_keep": _semdedup_trained_sql(),
        "dedup_semdedup_seed": _semdedup_sql(),
        "dedup_semdedup_incremental": _semdedup_incremental_sql(),
        "ann_hybrid_keyword": _HYBRID_SQL,
    }
