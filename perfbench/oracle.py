"""Expected answers, computed untimed: DuckDB over the generated documents
for keyword, count, ranked and phrase requests, numpy for vector ones."""

from __future__ import annotations

import duckdb
import numpy as np

from gen import docs_table

# cosine ties closer than this may come back in either order
COS_TIE = 1e-9
# DuckDB twin of the engine's word tokenizer on this all-lowercase corpus,
# stored once per row as ``documents.toks``
TOKENIZE = "regexp_split_to_array(text, '[^a-z0-9]+')"


class Oracle:
    """Answers over a growing document set; ``add`` appends an ingest
    batch, after which counts reflect base plus every batch added."""

    def __init__(self, docs: list[dict], vecs: np.ndarray):
        self.con = duckdb.connect()
        self.con.register("_base", docs_table(docs))
        self.con.execute(
            f"CREATE TABLE documents AS SELECT *, {TOKENIZE} AS toks FROM _base"
        )
        self.con.unregister("_base")
        self.vecs = vecs.astype(np.float64)
        self.generation = 0
        self._ids: dict[tuple[int, str], np.ndarray] = {}

    def add(self, docs: list[dict]) -> None:
        self.con.register("_batch", docs_table(docs))
        self.con.execute(f"INSERT INTO documents SELECT *, {TOKENIZE} FROM _batch")
        self.con.unregister("_batch")
        self.generation += 1

    def ids(self, where: str) -> np.ndarray:
        key = (self.generation, where)
        if key not in self._ids:
            rows = self.con.execute(
                f"SELECT doc_id FROM documents WHERE {where} ORDER BY doc_id"
            ).fetchall()
            self._ids[key] = np.array([r[0] for r in rows], dtype=np.int64)
        return self._ids[key]

    def count(self, where: str) -> int:
        return len(self.ids(where))

    def _cosines(self, qid: int, cand: np.ndarray) -> np.ndarray:
        v = self.vecs
        q = v[qid]
        return (v[cand] @ q) / (np.linalg.norm(v[cand], axis=1) * np.linalg.norm(q))

    def exact_topk(self, qid: int, cand: np.ndarray, k: int = 10) -> list[tuple[int, float]]:
        cand = cand[(cand < len(self.vecs)) & (cand != qid)]
        cos = self._cosines(qid, cand)
        order = np.lexsort((cand, -cos))[:k]
        return [(int(cand[i]), float(cos[i])) for i in order]

    def hybrid_ok(self, where: str, qid: int, got: list[int], k: int = 10) -> bool:
        """``got`` (doc ids by rank) are distinct keyword candidates whose
        cosines equal the exact top-k's rank by rank, so near-equal
        cosines may come back in either order."""
        cand = self.ids(where)
        want = self.exact_topk(qid, cand, k)
        if len(got) != len(want) or len(set(got)) != len(got) or qid in got:
            return False
        if not set(got) <= set(cand[cand < len(self.vecs)].tolist()):
            return False
        got_cos = self._cosines(qid, np.array(got, dtype=np.int64))
        return bool(np.all(np.abs(got_cos - np.array([c for _, c in want])) < COS_TIE))

    def recall_at_k(self, qid: int, got: list[int], k: int = 10) -> float:
        exact = self.exact_topk(qid, np.arange(len(self.vecs)), k)
        return len(set(got) & {d for d, _ in exact}) / k

    def sql(self, query: str) -> list[tuple]:
        return self.con.execute(query).fetchall()

    def close(self) -> None:
        self.con.close()
