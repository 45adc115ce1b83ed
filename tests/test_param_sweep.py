"""Parameter-sweep oracle checks: the driver's correctness gate runs every
operator at its DEFAULT parameters only; these sweeps re-prove the
Spark-vs-DuckDB hash equivalence at OTHER parameter points (different cell
counts, probe widths, bit budgets, thresholds, refinement depths), so the
oracle parity is a property of the operator, not of one configuration.

Comparison = the SAME canon as tools/check_oracle.py (its norm_cell is
imported, not re-implemented): dtype-strict cells — int64 123 vs DOUBLE
123.0 is a mismatch, exactly as the driver's hash gate treats it — and a
null-safe sort key.
"""

import pytest

from tools.check_oracle import norm_cell

from accumulo_wikisearch_spark.operators import similarity as S


def _key(rows, cols):
    cell = lambda v: (v is None, 0 if v is None else v)
    return sorted(
        tuple(cell(x[1]) for x in sorted(zip(cols, r))) for r in rows
    )


def _rows(df):
    cols = df.columns
    return cols, _key(
        [tuple(norm_cell(v) for v in r) for r in df.collect()], cols
    )


def _oracle_rows(duck, sql):
    res = duck.execute(sql)
    cols = [d[0] for d in res.description]
    return cols, _key(
        [tuple(norm_cell(v) for v in r) for r in res.fetchall()], cols
    )


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _check(spark_df, duck, sql):
    cols, rows = _rows(spark_df)
    ocols, orows = _oracle_rows(duck, sql)
    assert sorted(cols) == sorted(ocols)
    assert rows == orows


@pytest.mark.parametrize("n_cells,nprobe,k", [(8, 2, 5), (32, 8, 3)])
def test_ivf_param_sweep(spark, sf_dir, duck, n_cells, nprobe, k):
    emb = _emb(spark, sf_dir)
    # seed mode against the seed oracle (the default is now trained —
    # its non-default sweep is test_ivf_trained_default_sweep below)
    got = S.topk_ivf(emb, S.self_queries(emb), k=k, n_cells=n_cells,
                     nprobe=nprobe, lloyd_iters=0, centroids="seed")
    _check(got, duck, S._ivf_sql(n_cells=n_cells, nprobe=nprobe, k=k))


def test_ivf_trained_default_sweep(spark, sf_dir, duck):
    """The TRAINED default at non-default (n_cells, nprobe, k) must still
    hash-match its float-corpus recursive-CTE oracle."""
    emb = _emb(spark, sf_dir)
    got = S.topk_ivf(emb, S.self_queries(emb), k=7, n_cells=8, nprobe=3)
    _check(got, duck, S._ivf_default_sql(n_cells=8, nprobe=3, k=7))


@pytest.mark.parametrize("nbits,k", [(6, 5), (10, 8)])
def test_lsh_param_sweep(spark, sf_dir, duck, nbits, k):
    emb = _emb(spark, sf_dir)
    got = S.topk_lsh(emb, S.self_queries(emb), k=k, nbits=nbits)
    _check(got, duck, S._lsh_sql(nbits=nbits, k=k))
    got_mp = S.topk_lsh_multiprobe(emb, S.self_queries(emb), k=k, nbits=nbits)
    _check(got_mp, duck, S._lsh_sql(nbits=nbits, k=k, multiprobe=True))


@pytest.mark.parametrize("threshold_pct,target_cell", [(80, 100), (95, 50)])
def test_semdedup_param_sweep(spark, sf_dir, duck, threshold_pct, target_cell):
    emb = _emb(spark, sf_dir)
    # seed mode against the seed oracle (the default is now trained — its
    # non-default sweep is test_semdedup_trained_sweep below)
    got = S.semdedup_keep(
        emb,
        threshold_pct=threshold_pct,
        target_cell=target_cell,
        centroids="seed",
    )
    _check(
        got,
        duck,
        S._semdedup_sql(threshold_pct=threshold_pct, target_cell=target_cell),
    )


def test_semdedup_trained_sweep(spark, sf_dir, duck):
    """The TRAINED default at a non-default threshold/cell sizing must
    still hash-match its recursive-CTE oracle."""
    emb = _emb(spark, sf_dir)
    got = S.semdedup_keep(emb, threshold_pct=80, target_cell=100)
    _check(got, duck, S._semdedup_trained_sql(threshold_pct=80, target_cell=100))


@pytest.mark.parametrize("lloyd_iters", [1, 3])
def test_ivf_lloyd_depth_sweep(spark, sf_dir, duck, lloyd_iters):
    emb = _emb(spark, sf_dir)
    got = S.topk_ivf_lloyd_exact(emb, lloyd_iters=lloyd_iters)
    _check(got, duck, S._ivf_lloyd_sql(lloyd_iters=lloyd_iters))


# The PQ family at one non-default point: 8 cells, 3 probes, k=7, 3
# queries; the trained quantizers take one Lloyd step over a 128-vector
# hash sample (below the corpus size, so the sampling threshold bites).
_PQ_SWEEP = {
    "pq_adc": (
        lambda emb: S.topk_pq_adc(emb, S.self_queries(emb, 3), k=7),
        lambda: S._pq_adc_sql(k=7, nq=3),
    ),
    "ivf_pq": (
        lambda emb: S.topk_ivf_pq(
            emb, S.self_queries(emb, 3), k=7, n_cells=8, nprobe=3
        ),
        lambda: S._ivf_pq_sql(n_cells=8, nprobe=3, k=7, nq=3),
    ),
    "pq_adc_trained": (
        lambda emb: S.topk_pq_adc_trained(
            emb, k=7, lloyd_iters=1, nq=3, sample_cap=128
        ),
        lambda: S._pq_adc_trained_sql(k=7, nq=3, lloyd_iters=1, sample_cap=128),
    ),
    "ivf_pq_trained": (
        lambda emb: S.topk_ivf_pq_trained(
            emb, k=7, n_cells=8, nprobe=3, lloyd_iters=1, nq=3, sample_cap=128
        ),
        lambda: S._ivf_pq_trained_sql(
            n_cells=8, nprobe=3, k=7, nq=3, lloyd_iters=1, sample_cap=128
        ),
    ),
}


@pytest.mark.parametrize("case", sorted(_PQ_SWEEP))
def test_pq_family_param_sweep(spark, sf_dir, duck, case):
    """Seed and trained ADC, with and without the coarse cells, must
    hash-match their oracles away from the registry's default point."""
    engine, oracle = _PQ_SWEEP[case]
    _check(engine(_emb(spark, sf_dir)), duck, oracle())


from accumulo_wikisearch_spark.operators import dedup as D


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.mark.parametrize("k,num,den", [(2, 1, 2), (4, 9, 10)])
def test_ngram_jaccard_param_sweep(spark, sf_dir, duck, k, num, den):
    got = D.ngram_jaccard_pairs(_docs(spark, sf_dir), k=k, num=num, den=den)
    _check(got, duck, D._ngram_sql(k=k, num=num, den=den))


def test_minhash_lsh_high_threshold_sweep(spark, sf_dir, duck):
    """At j ≥ 0.9 the 16×4 banding catch probability is ≈1-4e-8, so the
    exact-verified minhash pair set must equal the exact-Jaccard oracle
    at check scale (at LOW thresholds recall genuinely drops — that
    regime is covered by the precision-1.0 contract, not set equality)."""
    got = D.minhash_lsh_pairs(_docs(spark, sf_dir), k=4, num=9, den=10)
    _check(got, duck, D._ngram_sql(k=4, num=9, den=10, max_df=10**9))


@pytest.mark.parametrize("k,min_docs", [(4, 3), (12, 2)])
def test_span_dedup_param_sweep(spark, sf_dir, duck, k, min_docs):
    got = D.duplicated_spans(_docs(spark, sf_dir), k=k, min_docs=min_docs)
    _check(got, duck, D._dup_spans_sql(k=k, min_docs=min_docs))
    got_rm = D.remove_duplicated_spans(_docs(spark, sf_dir), k=k, min_docs=min_docs)
    _check(got_rm, duck, D._remove_spans_sql(k=k, min_docs=min_docs))


@pytest.mark.parametrize("threshold_pct", [80, 97])
def test_embedding_near_dup_threshold_sweep(spark, sf_dir, duck, threshold_pct):
    got = D.embedding_near_dup_pairs(
        _emb(spark, sf_dir), threshold_pct=threshold_pct
    )
    _check(got, duck, D._emb_lsh_sql(threshold_pct=threshold_pct))


from accumulo_wikisearch_spark.operators import curation as C


@pytest.mark.parametrize("size,stride", [(16, 16), (32, 8)])
def test_chunking_param_sweep(spark, sf_dir, duck, size, stride):
    got = C.chunk_documents(_docs(spark, sf_dir), size=size, stride=stride)
    _check(got, duck, C._chunk_sql(size=size, stride=stride))
