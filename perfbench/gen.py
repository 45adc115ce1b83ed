"""Seeded inputs for the benchmark: an sf0.1-shaped corpus, embeddings,
the search request pool and the ingest batches.

Everything here is a pure function of the seed, so a given seed yields the
same files, the same request stream and the same batches on every run.
The corpus mirrors the shape of the package's sf0.1 test table: 5,000
documents of 10-100 tokens over a 30-word vocabulary plus the rare token
``dup`` (about 5% of documents), 20 sources, 5 languages, a handful of
exact and near duplicates, and 2,000 clustered unit-norm embeddings of
dimension 64 whose ``vec_id`` equals a ``doc_id``.
"""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch",
]
RARE = "dup"
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
N_DOCS = 5000
N_VECS = 2000
DIM = 64
N_CLUSTERS = 10


def make_docs(seed: int, n: int = N_DOCS, id_offset: int = 0) -> list[dict]:
    """``n`` documents with ids ``id_offset .. id_offset + n - 1``."""
    rng = random.Random(seed)
    docs = []
    for i in range(n):
        toks = [rng.choice(VOCAB) for _ in range(rng.randint(10, 100))]
        if rng.random() < 0.05:
            toks.insert(rng.randrange(len(toks) + 1), RARE)
        docs.append(
            {
                "doc_id": id_offset + i,
                "lang": rng.choices(LANGS, LANG_P)[0],
                "source": f"src{i % N_SOURCES}",
                "text": " ".join(toks),
            }
        )
    # exact duplicates (curation's canonical-doc stage) and near
    # duplicates differing in one token (the MinHash-LSH stage)
    for _ in range(8):
        a, b = rng.sample(range(n), 2)
        docs[b]["text"] = docs[a]["text"]
    for _ in range(8):
        a, b = rng.sample(range(n), 2)
        toks = docs[a]["text"].split(" ")
        toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
        docs[b]["text"] = " ".join(toks)
    for d in docs:
        d["n_chars"] = len(d["text"])
    return docs


def docs_table(docs: list[dict]) -> pa.Table:
    """Documents in the package's ``documents.parquet`` schema."""
    return pa.table(
        {
            "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
            "text": [d["text"] for d in docs],
            "lang": [d["lang"] for d in docs],
            "source": [d["source"] for d in docs],
            "n_chars": pa.array([d["n_chars"] for d in docs], pa.int64()),
        }
    )


def write_docs(docs: list[dict], path: str) -> None:
    pq.write_table(docs_table(docs), path)


def make_embeddings(seed: int, n: int = N_VECS) -> np.ndarray:
    """``n`` x ``DIM`` float32 unit vectors around ``N_CLUSTERS`` centres."""
    rs = np.random.RandomState(seed)
    centres = rs.normal(size=(N_CLUSTERS, DIM))
    labels = rs.randint(0, N_CLUSTERS, size=n)
    vecs = centres[labels] + 0.8 * rs.normal(size=(n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32)


def write_embeddings(vecs: np.ndarray, path: str) -> None:
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(len(vecs)), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, path)


def _terms(rng: random.Random, k: int) -> list[str]:
    return rng.sample(VOCAB, k)


# the oracle's token-list column (see oracle.TOKENIZE)
TOK = "toks"


def _eq(t: str) -> tuple[str, str]:
    return f"TEXT == '{t}'", f"list_contains({TOK}, '{t}')"


def _and(parts: list[tuple[str, str]]) -> tuple[str, str]:
    return (
        " and ".join(p[0] for p in parts),
        " AND ".join(f"({p[1]})" for p in parts),
    )


def make_pool(seed: int) -> list[dict]:
    """19 distinct requests, one per shape the engine plans differently:
    11 boolean JEXL (``query``), 2 ``count``, ``bm25`` and ``tfidf``
    ranked search, ``phrase`` search, and 3 ``hybrid`` keyword-then-cosine
    vector requests. The shapes come in a fixed order; the seed picks the
    terms.

    Each request is ``{"kind", "args", "where", "key"}``: ``where`` is the
    DuckDB predicate over ``documents`` that selects exactly the documents
    the request must return; ``key`` is unique."""
    rng = random.Random(seed * 7919 + 1)
    reqs: list[dict] = []

    def add(kind: str, args: list, where: str) -> None:
        reqs.append({"kind": kind, "args": args, "where": where})

    def q(jexl_sql: tuple[str, str]) -> None:
        add("query", [jexl_sql[0]], jexl_sql[1])

    for k in (2, 3, 4):
        q(_and([_eq(t) for t in _terms(rng, k)]))
    q(_and([_eq(RARE), _eq(rng.choice(VOCAB))]))
    a, b, c = _terms(rng, 3)
    q(
        (
            f"TEXT == '{a}' and (TEXT == '{b}' or TEXT == '{c}')",
            f"({_eq(a)[1]}) AND (({_eq(b)[1]}) OR ({_eq(c)[1]}))",
        )
    )
    # non-text literals are chosen so each matches the same number of
    # sources for every seed; the seed varies terms, not selectivity
    s = rng.randrange(N_SOURCES)
    q((f"SOURCE == 'src{s}'", f"source = 'src{s}'"))
    lang, t = rng.choice(LANGS[1:]), rng.choice(VOCAB)
    q((f"LANG == '{lang}' and TEXT == '{t}'", f"lang = '{lang}' AND ({_eq(t)[1]})"))
    lo = rng.randrange(10, N_SOURCES - 2)
    q(
        (
            f"SOURCE >= 'src{lo}' and SOURCE <= 'src{lo + 2}'",
            f"source >= 'src{lo}' AND source <= 'src{lo + 2}'",
        )
    )
    d = rng.randrange(10)
    q((f"SOURCE =~ 'src1{d}.*'", f"regexp_full_match(source, 'src1{d}.*')"))
    q(
        (
            f"'{RARE}'",
            f"({_eq(RARE)[1]}) OR source = '{RARE}' OR lang = '{RARE}' "
            f"OR doc_id::VARCHAR = '{RARE}' OR n_chars::VARCHAR = '{RARE}'",
        )
    )
    q(
        (
            f"TEXT == '{RARE}' or SOURCE >= 'src9'",
            f"({_eq(RARE)[1]}) OR source >= 'src9'",
        )
    )
    a, b, c = _terms(rng, 3)
    for terms in ([a], [b, c]):
        expr, where = _and([_eq(t) for t in terms])
        add("count", [expr], where)
    terms = [RARE, rng.choice(VOCAB)]
    add("bm25", [terms], _and([_eq(t) for t in terms])[1])
    terms = _terms(rng, 2)
    add("tfidf", [terms], _and([_eq(t) for t in terms])[1])
    a, b = _terms(rng, 2)
    add(
        "phrase",
        [[a, b]],
        f"len(list_filter(range(1, len({TOK})), i -> {TOK}[i] = '{a}' "
        f"AND {TOK}[i + 1] = '{b}')) > 0",
    )
    for t in _terms(rng, 3):
        add("hybrid", [t, rng.randrange(N_VECS)], _eq(t)[1])
    for r in reqs:
        r["key"] = f"{r['kind']}:{r['args']!r}"
    return reqs


def make_vector_queries(seed: int, n: int = 3) -> list[int]:
    """Query vector ids for the traced run's IVF-PQ top-k requests."""
    return random.Random(seed * 31 + 3).sample(range(N_VECS), n)


def make_stream(seed: int, pool: list[dict], rounds: int) -> list[dict]:
    """The timed request stream: ``rounds`` seeded permutations of the
    pool, so every prefix of whole rounds has the pool's request mix."""
    rng = random.Random(seed * 104729 + 2)
    out: list[dict] = []
    for _ in range(rounds):
        out.extend(rng.sample(pool, len(pool)))
    return out


def make_batch(
    seed: int, base: list[dict], batch_no: int, size: int, id_base: int
) -> list[dict]:
    """Ingest batch ``batch_no``: ``size`` base rows re-ingested under
    fresh ids ``id_base + batch_no * size + i`` (ids never collide with
    the base or with each other)."""
    rng = random.Random(seed * 15485863 + batch_no)
    rows = rng.sample(base, size)
    return [
        dict(r, doc_id=id_base + batch_no * size + i) for i, r in enumerate(rows)
    ]
