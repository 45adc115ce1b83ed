"""Query planner: path choice + index-driven candidate plan.

Reproduces the reference's planning pipeline (SURVEY.md §3.1, §4) with
DataFrame plan construction instead of Accumulo iterators:

1. NNF rewrite — NOTs pushed to leaves with De Morgan, flipping operators;
   the reference tracks negation context while visiting the JEXL AST
   (``QueryParser.java:489-514``, ``:684-700``).
2. Unfielded-term expansion — a bare term becomes an OR over every indexed
   field that contains the value, discovered from the global index
   (``AbstractQueryLogic.java:601-633``, ``QueryLogic.getTermIndexInformation``).
3. Index-tree reduction — decides which leaves can drive the index:
   negated leaves never do (``QueryParser.java:491-514``); unbounded ranges
   are rejected, bounded pairs under an AND are fused
   (``RangeCalculator.java:495-498``, ``FieldIndexQueryReWriter.java:96-111``);
   function terms (f:between/f:abs) are event-side only; non-indexed fields
   are dropped from AND contexts but poison OR contexts — the optimized-path
   criteria of ``AbstractQueryLogic.java:560-587``.
4. Candidate build — each leaf is a pushed-down scan of ``field_index``;
   AND = join on (partition_id, doc_id) ordered cheapest-first using
   global-index cardinalities (``RangeCalculator.java:784-843``), with a
   broadcast hint when a side is tiny — the Spark analogue of the two-tier
   doc-range/shard-range plan (``RangeCalculator.java:683-705``); OR = union
   + dedup; single-valued negated leaves become anti-joins
   (``AndIterator`` notFlag, ``AndIterator.java:72-80``).
5. Fetch + verify — left-semi join of ``docs_wide`` against the candidates,
   then the FULL predicate re-evaluated event-side
   (``OptimizedQueryIterator.java:119-162``); row-level security is a
   mandatory ``language ∈ auths`` conjunct (``AbstractQueryLogic.java:445-448``).

Scale notes: every step is a declarative DataFrame op — leaf scans push
(field, norm_value) predicates into parquet (partition pruning + min/max
skipping on the sorted layout written by ``write_index``); Catalyst/AQE pick
broadcast vs sort-merge joins per candidate-set size, which is exactly the
reference's doc-ranges-vs-partition-scan decision made adaptively.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from accumulo_wikisearch_spark.plans import ast
from accumulo_wikisearch_spark.plans.evaluator import (
    compile_predicate,
    regex_full,
    _norm_literal,
)
from accumulo_wikisearch_spark.operators.ingest import WikisearchIndex


# ---------------------------------------------------------------------------
# NNF rewrite
# ---------------------------------------------------------------------------

_NEG = {
    ast.EQ: ast.NE,
    ast.NE: ast.EQ,
    ast.LT: ast.GE,
    ast.GE: ast.LT,
    ast.GT: ast.LE,
    ast.LE: ast.GT,
    ast.MATCH: ast.NMATCH,
    ast.NMATCH: ast.MATCH,
}


def to_nnf(node: ast.Node, negate: bool = False) -> ast.Node:
    if isinstance(node, ast.Not):
        return to_nnf(node.child, not negate)
    if isinstance(node, ast.And):
        kids = tuple(to_nnf(c, negate) for c in node.children)
        return ast.Or(kids) if negate else ast.And(kids)
    if isinstance(node, ast.Or):
        kids = tuple(to_nnf(c, negate) for c in node.children)
        return ast.And(kids) if negate else ast.Or(kids)
    if isinstance(node, ast.Cmp):
        return ast.Cmp(node.field, _NEG[node.op], node.literal, node.abs) if negate else node
    # Between / Term have no operator dual — keep a Not wrapper
    return ast.Not(node) if negate else node


# ---------------------------------------------------------------------------
# Index tree
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class IxLeaf:
    field: str
    kind: str  # 'eq' | 'range' | 'regex'
    value: str | None = None
    lo: str | None = None
    hi: str | None = None
    lo_incl: bool = True
    hi_incl: bool = True
    pattern: str | None = None
    negated: bool = False  # only as anti-join member of an IxAnd


@dataclass(frozen=True)
class IxAnd:
    children: tuple


@dataclass(frozen=True)
class IxOr:
    children: tuple


IxNode = object


_TRAILING_WILD = re.compile(r"^([a-z0-9 _\-]+)\.\*$")
_LEADING_WILD = re.compile(r"^\.\*([a-z0-9 _\-]+)$")


def _leaf_to_ix(n: ast.Node, indexed: set[str], multi_value: frozenset[str]) -> Optional[IxNode]:
    """One positive leaf → index leaf, or None if it cannot drive the index."""
    if isinstance(n, ast.Term):
        return None  # expanded earlier; unexpanded Term can't drive the index
    if isinstance(n, ast.Between):
        return None  # functions are event-side only (QueryFunctions.java)
    if not isinstance(n, ast.Cmp) or n.abs:
        return None
    if n.field not in indexed:
        return None
    if n.op == ast.EQ:
        return IxLeaf(n.field, "eq", value=_norm_literal(n.literal))
    if n.op == ast.MATCH:
        return IxLeaf(n.field, "regex", pattern=str(n.literal).lower())
    # lone range bounds are unbounded → rejected (RangeCalculator.java:495-498);
    # pairing happens in the And reduction.
    return None


def _negated_ix(n: ast.Node, indexed: set[str], multi_value: frozenset[str]) -> Optional[IxLeaf]:
    """Negated leaf usable as an anti-join: only for single-valued indexed
    fields (any-match semantics make index-level NOT unsafe for multi-valued
    fields; the event-side re-check cannot resurrect dropped candidates)."""
    if not isinstance(n, ast.Cmp):
        return None
    if n.field not in indexed or n.field in multi_value:
        return None
    if n.op == ast.NE and not n.abs and isinstance(n.literal, str):
        return IxLeaf(n.field, "eq", value=_norm_literal(n.literal), negated=True)
    return None


_RANGE_OPS = {ast.GT: ("lo", False), ast.GE: ("lo", True), ast.LT: ("hi", False), ast.LE: ("hi", True)}


def reduce_to_index_tree(
    n: ast.Node, indexed: set[str], multi_value: frozenset[str]
) -> tuple[Optional[IxNode], bool]:
    """AND: keep drivable children (≥1 required); OR: all children must be
    drivable, else the whole OR is not (AbstractQueryLogic.java:560-587).

    Returns ``(tree, exact)``: ``exact`` means the candidate set the tree
    produces equals this subtree's true match set — no child was demoted to
    event-side-only, no lone range bound dropped, no approximate leaf. When
    the WHOLE query is exact, predicates on ``unevaluated_fields`` can be
    trusted from the index and skipped at re-evaluation (Q15 —
    AbstractQueryLogic.java:536-539, AbstractEvaluatingIterator.java:293-301).
    """
    if isinstance(n, ast.And):
        pos: list[IxNode] = []
        neg: list[IxLeaf] = []
        exact = True
        # fuse bounded range pairs per field (O8)
        bounds: dict[str, dict[str, tuple[str, bool]]] = {}
        for c in n.children:
            if (
                isinstance(c, ast.Cmp)
                and c.op in _RANGE_OPS
                and not c.abs
                and isinstance(c.literal, str)
                and c.field in indexed
            ):
                side, incl = _RANGE_OPS[c.op]
                b = bounds.setdefault(c.field, {})
                if side in b:
                    # repeated same-side bound: the index leaf keeps only
                    # one, so coverage is a superset — not exact
                    exact = False
                b[side] = (_norm_literal(c.literal), incl)
                continue
            sub, sub_exact = reduce_to_index_tree(c, indexed, multi_value)
            if sub is not None:
                pos.append(sub)
                exact = exact and sub_exact
            else:
                nleaf = _negated_ix(c, indexed, multi_value)
                if nleaf is not None:
                    neg.append(nleaf)  # anti-join enforces NE exactly
                else:
                    exact = False  # demoted to event-side post-filter
        for fld, b in bounds.items():
            if "lo" in b and "hi" in b:
                (lo, lo_i), (hi, hi_i) = b["lo"], b["hi"]
                pos.append(
                    IxLeaf(fld, "range", lo=lo, hi=hi, lo_incl=lo_i, hi_incl=hi_i)
                )
            else:
                # unbounded side → event-side only (RangeCalculator.java:495-498)
                exact = False
        if not pos:
            return None, False
        tree = IxAnd(tuple(pos + neg)) if (len(pos) + len(neg)) > 1 else pos[0]
        return tree, exact
    if isinstance(n, ast.Or):
        kids = []
        exact = True
        for c in n.children:
            sub, sub_exact = reduce_to_index_tree(c, indexed, multi_value)
            if sub is None:
                return None, False
            kids.append(sub)
            exact = exact and sub_exact
        return (IxOr(tuple(kids)) if len(kids) > 1 else kids[0]), exact
    if isinstance(n, ast.Not):
        return None, False
    leaf = _leaf_to_ix(n, indexed, multi_value)
    if leaf is None:
        return None, False
    # regex leaves are conservatively inexact (evaluator DOTALL/anchoring
    # nuances); eq and fused ranges compare the same normalized values the
    # evaluator sees, so they are exact
    return leaf, leaf.kind != "regex"


# ---------------------------------------------------------------------------
# Candidate plan construction
# ---------------------------------------------------------------------------

# Candidate postings are language-qualified: the reference's fi/global-index
# keys carry value\0language\0id, so a doc id shared across languages never
# cross-matches (e.g. a same-id doc in another language must not satisfy an
# unevaluated-field predicate proved only for one language).
_POSTING_KEY = ("partition_id", "language", "doc_id")

_POSTING_SCHEMA = "partition_id int, language string, doc_id long"


def _sql_str(s: str) -> str:
    """Escape an arbitrary string for splicing into a Spark SQL single-quoted
    literal.  Spark's default parser (escapedStringLiterals=false) treats
    backslash as an escape character, so a trailing ``\\`` in data would eat
    the closing quote if only quotes were doubled — escape backslashes FIRST,
    then single quotes.  Language values come from data, so they are
    arbitrary."""
    return s.replace("\\", "\\\\").replace("'", "\\'")


def _literal_postings_df(spark, keys) -> DataFrame:
    """Posting keys as a pure-JVM VALUES LocalRelation. createDataFrame from
    a Python list plans as Scan ExistingRDD — every use launches a Python
    worker round-trip; a SQL VALUES literal stays a LocalRelation, folds
    into broadcasts for free, and runs no job at all."""
    rows = ",".join(
        "({},'{}',{})".format(p, _sql_str(lang), d) for p, lang, d in keys
    )
    return spark.sql(
        "SELECT CAST(p AS INT) AS partition_id, l AS language, "
        f"CAST(d AS BIGINT) AS doc_id FROM (VALUES {rows}) AS t(p, l, d)"
    )


def _keys_filter(keys):
    """Pushable predicate matching exactly a driver-side posting-key set.

    Shape: three SIMPLE single-column IN gates (each independently
    pushable — ``partition_id IN`` prunes partitions, ``doc_id IN`` skips
    row groups via parquet min/max, ``language IN`` prunes the colf) plus,
    only when the gates' cartesian product over-approximates the key set,
    one exact tuple-membership check ``(partition_id, language, doc_id)
    IN ((...))`` that OptimizeIn turns into a single InSet hash probe.
    The earlier per-(partition, language) OR-of-conjunction chain was
    neither pushable (mixed partition/data columns per disjunct) nor
    cheap to evaluate (O(groups) branch tests per row); the gate+InSet
    form is O(1) per row after the gates. Built as ONE SQL string → ONE
    py4j call; composing it from Column objects marshals every literal
    individually (~1 ms each — 0.5 s of pure driver overhead for a
    500-key set)."""
    if not keys:
        return F.lit(False)
    ks = sorted(set(keys))
    parts = sorted({p for p, _, _ in ks})
    langs = sorted({l for _, l, _ in ks})
    ids = sorted({d for _, _, d in ks})
    gates = [
        "partition_id IN ({})".format(",".join(str(p) for p in parts)),
        "language IN ({})".format(",".join(f"'{_sql_str(l)}'" for l in langs)),
        "doc_id IN ({})".format(",".join(str(d) for d in ids)),
    ]
    if len(parts) * len(langs) * len(ids) > len(ks):
        # struct IN does not coerce element-wise: doc_id literals must be
        # BIGINT (L suffix) to match the column struct's type exactly
        tuples = ",".join(
            f"({p},'{_sql_str(l)}',{d}L)" for p, l, d in ks
        )
        gates.append(f"(partition_id, language, doc_id) IN ({tuples})")
    return F.expr(" AND ".join(gates))


@dataclass(frozen=True)
class TermInfo:
    """Per-(field, value) global-index summary for one auths context.

    ``postings`` is the EXACT posting set — (partition_id, language,
    doc_id) tuples straight from the ≤uid_max uid lists — when every
    matching global-index row is in the exact tier (``ignore=false``,
    GlobalIndexUidCombiner.java:38-96) and the total stays under
    ``EngineConfig.exact_uid_total_max``; ``None`` means the term is in
    the IGNORE tier (or over the cap) and candidates must come from a
    field_index scan (RangeCalculator.java:683-705's two-tier choice)."""

    count: int
    postings: tuple | None


class Planner:
    def __init__(
        self,
        index: WikisearchIndex,
        multi_value_fields: frozenset[str] = frozenset({"TEXT"}),
        card_cache: dict | None = None,
    ):
        self.index = index
        self.multi_value = multi_value_fields
        self._indexed: set[str] | None = None
        # (field, value, auths_key) → estimated posting count; shared across
        # queries by the engine facade (plan-cache analogue of O12)
        self.card_cache = card_cache if card_cache is not None else {}

    def indexed_fields(self) -> set[str]:
        if self._indexed is None:
            self._indexed = self.index.indexed_fields()
        return self._indexed

    # -- unfielded-term expansion ------------------------------------------
    def expand_unfielded(self, node: ast.Node, auths: list[str] | None) -> ast.Node:
        terms = {n.value for n in ast.walk(node) if isinstance(n, ast.Term)}
        if not terms:
            return node
        norm = {t: _norm_literal(t) for t in terms}
        auths_key = tuple(sorted(auths)) if auths else None
        need = sorted(
            v
            for v in set(norm.values())
            if ("__unfielded__", v, auths_key) not in self.card_cache
        )
        if need:
            # ONE job serves both field discovery and the count/uid prefetch
            # for every (field, value) pair the expansion can produce: the
            # rows prime the cardinality cache, so estimate_eq_cardinalities
            # finds everything cached and the query runs no second metadata
            # job (the reference batches the same lookups in
            # getTermIndexInformation, AbstractQueryLogic.java:601-633).
            rows = self._gi_rows(
                F.col("norm_value").isin(*need), auths
            )  # tiny: ≤ #fields × #partitions × #languages × #terms rows
            self._prime_cache(rows, auths)
            fields_of: dict[str, set[str]] = {v: set() for v in need}
            for r in rows:
                fields_of[r["norm_value"]].add(r["field"])
            for v, flds in fields_of.items():
                self.card_cache[("__unfielded__", v, auths_key)] = tuple(
                    sorted(flds)
                )
        by_val = {
            v: self.card_cache[("__unfielded__", v, auths_key)]
            for v in set(norm.values())
        }

        def rewrite(n: ast.Node) -> ast.Node:
            if isinstance(n, ast.Term):
                flds = sorted(by_val.get(norm[n.value], []))
                if not flds:
                    # term occurs nowhere → matches nothing
                    return ast.Cmp("__NONE__", ast.EQ, "__none__")
                leaves = tuple(ast.Cmp(f, ast.EQ, n.value) for f in flds)
                return leaves[0] if len(leaves) == 1 else ast.Or(leaves)
            if isinstance(n, ast.And):
                return ast.And(tuple(rewrite(c) for c in n.children))
            if isinstance(n, ast.Or):
                return ast.Or(tuple(rewrite(c) for c in n.children))
            if isinstance(n, ast.Not):
                return ast.Not(rewrite(n.child))
            return n

        return rewrite(node)

    # -- cardinality + exact-uid estimates (O3 + O4) ------------------------
    def _gi_rows(self, cond, auths: list[str] | None) -> list:
        if auths:
            cond = cond & F.col("language").isin(*auths)
        return (
            self.index.global_index.where(cond)
            .select(
                "field", "norm_value", "partition_id", "language",
                "count", "uids", "ignore",
            )
            .collect()
        )

    def _prime_cache(self, rows: list, auths: list[str] | None) -> None:
        """Fold collected global-index rows into TermInfo cache entries.
        Postings come straight from the exact-uid tier when every row for
        the (field, value) has ignore=false and the total is under the cap."""
        auths_key = tuple(sorted(auths)) if auths else None
        cap = self.index.config.exact_uid_total_max
        agg: dict[tuple[str, str], list] = {}
        for r in rows:
            agg.setdefault((r["field"], r["norm_value"]), []).append(r)
        for (f, v), rs in agg.items():
            if (f, v, auths_key) in self.card_cache:
                continue
            total = int(sum(r["count"] for r in rs))
            postings = None
            if total <= cap and all(not r["ignore"] for r in rs):
                postings = tuple(
                    (r["partition_id"], r["language"], int(u))
                    for r in rs
                    for u in r["uids"]
                )
            self.card_cache[(f, v, auths_key)] = TermInfo(total, postings)

    def eq_term_info(
        self, tree: IxNode, auths: list[str] | None
    ) -> dict[tuple[str, str], TermInfo]:
        """TermInfo for every eq leaf (negated included — the anti-join side
        profits from literal postings the same way). One batched collect for
        all uncached pairs; a pair absent from the global index caches as an
        exact-empty posting set (matches nothing)."""
        pairs = set()

        def collect(n):
            if isinstance(n, IxLeaf):
                if n.kind == "eq":
                    pairs.add((n.field, n.value))
            elif isinstance(n, (IxAnd, IxOr)):
                for c in n.children:
                    collect(c)

        collect(tree)
        if not pairs:
            return {}
        auths_key = tuple(sorted(auths)) if auths else None
        missing = [
            p for p in sorted(pairs) if (p[0], p[1], auths_key) not in self.card_cache
        ]
        if missing:
            cond = F.concat_ws("\u0000", "field", "norm_value").isin(
                *[f"{f}\u0000{v}" for f, v in missing]
            )
            self._prime_cache(self._gi_rows(cond, auths), auths)
            for f, v in missing:
                self.card_cache.setdefault((f, v, auths_key), TermInfo(0, ()))
        return {(f, v): self.card_cache[(f, v, auths_key)] for f, v in pairs}

    def estimate_eq_cardinalities(
        self, tree: IxNode, auths: list[str] | None
    ) -> dict[tuple[str, str], int]:
        return {k: t.count for k, t in self.eq_term_info(tree, auths).items()}

    # -- driver-side candidates from the exact-uid tier (O4) ----------------
    def driver_candidates(self, tree: IxNode, auths: list[str] | None) -> set | None:
        """Candidate keys computed entirely from exact-uid posting lists —
        boolean set algebra over the already-collected uids, no Spark job.
        Returns None when any leaf needs a field_index scan (IGNORE tier,
        range/regex leaf) or the result outgrows the cap; otherwise this is
        the reference's doc-range path (RangeCalculator.java:683-705,
        QueryLogic.java:171-186) and the query needs no posting joins.

        Gated on ``broadcast_postings_max > 0``: literal candidate sets are
        a broadcast-family strategy, and disabling broadcasts (bucketed
        merge-join-only deployments) disables them too."""
        if self.index.config.broadcast_postings_max <= 0:
            return None
        infos = self.eq_term_info(tree, auths)
        out = self._driver_keys(tree, infos)
        if out is None or len(out) > self.index.config.exact_uid_total_max:
            return None
        return out

    def best_exact_anchor(self, tree: IxNode, auths: list[str] | None) -> set | None:
        """Smallest fully-exact positive conjunct of a top-level AND.

        Its posting keys are a SUPERSET of the query's match set, so the
        query can run as one docs_wide fetch-by-keys with the FULL predicate
        re-verified event-side — the reference's shape for a rare term ANDed
        with common terms: rare-term doc ranges drive the scan, the
        EvaluatingIterator applies the whole expression
        (RangeCalculator.java:683-705 + AbstractEvaluatingIterator.java:138-157).
        Returns None when no conjunct resolves from the exact-uid tier."""
        if self.index.config.broadcast_postings_max <= 0:
            return None
        if not isinstance(tree, IxAnd):
            return None
        infos = self.eq_term_info(tree, auths)
        best = None
        for c in tree.children:
            if _is_neg(c):
                continue
            s = self._driver_keys(c, infos)
            if s is not None and (best is None or len(s) < len(best)):
                best = s
        if best is None or len(best) > self.index.config.exact_uid_total_max:
            return None
        return best

    def _driver_keys(self, n: IxNode, infos: dict) -> set | None:
        if isinstance(n, IxLeaf):
            if n.kind != "eq" or n.negated:
                return None
            info = infos.get((n.field, n.value))
            if info is None or info.postings is None:
                return None
            return set(info.postings)
        if isinstance(n, IxAnd):
            pos: list[set] = []
            neg: list[set] = []
            for c in n.children:
                if _is_neg(c):
                    info = infos.get((c.field, c.value))
                    if info is None or info.postings is None:
                        return None
                    neg.append(set(info.postings))
                else:
                    s = self._driver_keys(c, infos)
                    if s is None:
                        return None
                    pos.append(s)
            if not pos:
                return None
            out = set.intersection(*pos)
            for s in neg:
                out -= s
            return out
        if isinstance(n, IxOr):
            parts = []
            for c in n.children:
                s = self._driver_keys(c, infos)
                if s is None:
                    return None
                parts.append(s)
            return set().union(*parts)
        return None

    # -- leaf postings ------------------------------------------------------
    def _leaf_postings(self, leaf: IxLeaf, auths: list[str] | None) -> DataFrame:
        fi = self.index.field_index
        cond = F.col("field") == leaf.field
        if auths:
            cond = cond & F.col("language").isin(*auths)
        v = F.col("norm_value")
        if leaf.kind == "eq":
            # exact-uid tier: the posting list is already in the driver —
            # emit it as a literal local relation instead of scanning
            # field_index (zero scan tasks; trivially broadcast-able).
            # Skipped when broadcasts are disabled: a literal side would
            # need an Exchange, breaking bucketed zero-shuffle plans.
            auths_key = tuple(sorted(auths)) if auths else None
            info = self.card_cache.get((leaf.field, leaf.value, auths_key))
            if (
                self.index.config.broadcast_postings_max > 0
                and isinstance(info, TermInfo)
                and info.postings is not None
            ):
                if not info.postings:
                    return fi.where(F.lit(False)).select(*_POSTING_KEY)
                return _literal_postings_df(fi.sparkSession, info.postings)
            cond = cond & (v == leaf.value)
            return fi.where(cond).select(*_POSTING_KEY)
        if leaf.kind == "range":
            lo = (v >= leaf.lo) if leaf.lo_incl else (v > leaf.lo)
            hi = (v <= leaf.hi) if leaf.hi_incl else (v < leaf.hi)
            out = fi.where(cond & lo & hi)
        else:  # regex, with wildcard routing (O7)
            pat = leaf.pattern
            m_trail = _TRAILING_WILD.match(pat)
            m_lead = _LEADING_WILD.match(pat)
            anchored = regex_full(pat)
            if m_trail:
                out = fi.where(cond & v.startswith(m_trail.group(1)))
            elif m_lead:
                # reverse-index lookup: values ending with the suffix
                # (WikipediaMapper.java:193-197; RangeCalculator.java:358-420)
                suffix_rev = m_lead.group(1)[::-1]
                ri = self.index.reverse_index.where(
                    (F.col("field") == leaf.field)
                    & F.col("norm_value").startswith(suffix_rev)
                )
                vals = ri.select(
                    F.reverse(F.col("norm_value")).alias("norm_value")
                ).distinct()
                out = fi.where(cond).join(F.broadcast(vals), "norm_value", "left_semi")
            else:
                out = fi.where(cond & v.rlike(anchored))
            out = out.where(v.rlike(anchored))
        # no dedup: duplicates (multi-valued matches) are absorbed by the
        # left-semi joins downstream — a shuffle saved per leaf
        return out.select(*_POSTING_KEY)

    def _est(self, n: IxNode, infos: dict) -> int:
        big = 1 << 60
        if isinstance(n, IxLeaf):
            if n.kind == "eq":
                info = infos.get((n.field, n.value))
                return info.count if info is not None else 0
            return big
        if isinstance(n, IxAnd):
            ests = [self._est(c, infos) for c in n.children if not _is_neg(c)]
            return min(ests) if ests else big
        if isinstance(n, IxOr):
            return sum(self._est(c, infos) for c in n.children)
        return big

    def candidates(self, tree: IxNode, auths: list[str] | None) -> DataFrame:
        infos = self.eq_term_info(tree, auths)
        return self._build(tree, auths, infos)

    # -- grouped eq-conjunct scan (one pass + one aggregation) --------------
    def _grouped_eq_candidates(
        self, units: list[tuple], auths: list[str] | None, keys
    ) -> DataFrame:
        """≥2 scan-tier eq conjuncts of an AND collapse into ONE
        field_index pass: filter to the union of their (field, value)
        pairs (per-field IN lists — parquet-pushable), tag each posting
        row with the bitmask of the conjunct units its pair satisfies,
        and keep doc keys whose bit_or over rows is complete. Replaces k
        leaf scans + (k-1) semi-join exchanges with one scan + one
        partially-aggregated exchange of posting KEYS (~20 bytes/row) —
        the AndIterator leapfrog as a single grouped pass. bit_or is
        idempotent, so duplicate posting rows (multi-valued fields,
        merged deltas) cannot over-count, and a pair shared by several
        units carries the OR of their bits. On the bucketed at-rest
        layout the groupBy keys equal the bucket keys, so the
        aggregation plans with no exchange at all.

        A unit is a tuple of eq leaves: a single leaf (the bit requires
        its pair) or the members of an all-eq IxOr (any member's pair
        sets the bit — any-match)."""
        fi = self.index.field_index
        pair_mask: dict[tuple[str, str], int] = {}
        for j, unit in enumerate(units):
            for leaf in unit:
                k = (leaf.field, leaf.value)
                pair_mask[k] = pair_mask.get(k, 0) | (1 << j)
        by_field: dict[str, list[str]] = {}
        for f, v in pair_mask:
            by_field.setdefault(f, []).append(v)
        cond = None
        for f in sorted(by_field):
            c = (F.col("field") == f) & F.col("norm_value").isin(
                *sorted(by_field[f])
            )
            cond = c if cond is None else cond | c
        if auths:
            cond = cond & F.col("language").isin(*auths)
        scan = fi.where(cond)
        if keys is not None:
            # exact-tier intersection pushed INTO the one scan (same
            # superset-filter role it plays on the chain's first leaf)
            scan = scan.where(_keys_filter(keys))
        mask = None
        for (f, v), m in sorted(pair_mask.items()):
            c = (F.col("field") == f) & (F.col("norm_value") == v)
            mask = F.when(c, F.lit(m)) if mask is None else mask.when(c, F.lit(m))
        mask = mask.otherwise(F.lit(0)).cast("long")
        need = (1 << len(units)) - 1
        return (
            scan.select(*_POSTING_KEY, mask.alias("_m"))
            .groupBy(*_POSTING_KEY)
            .agg(F.bit_or("_m").alias("_m"))
            .where(F.col("_m") == F.lit(need))
            .select(*_POSTING_KEY)
        )

    def _empty_postings(self) -> DataFrame:
        return self.index.field_index.where(F.lit(False)).select(*_POSTING_KEY)

    def _build(self, n: IxNode, auths, infos) -> DataFrame:
        if isinstance(n, IxLeaf):
            return self._leaf_postings(n, auths)
        if isinstance(n, IxOr):
            parts = [self._build(c, auths, infos) for c in n.children]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            # union kept duplicate-tolerant: the final docs_wide left-semi
            # join dedups for free (each doc emitted at most once), so the
            # OR needs no distinct shuffle (heap-merge union analogue, P4)
            return out
        assert isinstance(n, IxAnd), n
        pos = [c for c in n.children if not _is_neg(c)]
        neg = [c for c in n.children if _is_neg(c)]
        use_exact = self.index.config.broadcast_postings_max > 0

        # split positive conjuncts: subtrees fully resolved from the
        # exact-uid tier intersect DRIVER-SIDE; the rest scan field_index
        exact_sets: list[set] = []
        scan_children: list = []
        for c in pos:
            s = self._driver_keys(c, infos) if use_exact else None
            if s is not None:
                exact_sets.append(s)
            else:
                scan_children.append(c)
        keys = set.intersection(*exact_sets) if exact_sets else None

        # negated leaves with exact postings subtract driver-side (or as a
        # pushed NOT-filter); the rest stay anti-joins
        neg_scan: list = []
        neg_keys: set = set()
        for c in neg:
            info = infos.get((c.field, c.value)) if use_exact else None
            if info is not None and info.postings is not None:
                neg_keys |= set(info.postings)
            else:
                neg_scan.append(c)
        if keys is not None:
            keys -= neg_keys
            neg_keys = set()
            if not keys:
                return self._empty_postings()

        if not scan_children:
            # everything exact: a single literal relation (run_query's
            # driver_candidates usually short-circuits before this point)
            out = _literal_postings_df(
                self.index.field_index.sparkSession, sorted(keys)
            )
        else:
            # ≥2 scan-tier eq conjuncts (incl. all-eq OR conjuncts)
            # collapse into one grouped field_index pass; anything left
            # (range/regex leaves, deeper subtrees) joins onto it.
            units, rest = _grouped_units(scan_children)
            grouped = None
            if 2 <= len(units) <= _GROUPED_MAX_UNITS:
                grouped = self._grouped_eq_candidates(units, auths, keys)
                # the intersection is at most as large as its rarest unit
                # (an OR unit's est = sum of member counts, like _est)
                est_g = min(
                    sum(self._est(leaf, infos) for leaf in u) for u in units
                )
                if keys is not None:
                    est_g = min(est_g, len(keys))
                    keys = None  # consumed: pushed into the grouped scan
            if grouped is not None:
                est0, out = est_g, grouped
                chain = sorted(rest, key=lambda c: self._est(c, infos))
            else:
                # cheapest scan conjunct first (RangeCalculator.java:784-843);
                # the driver-exact intersection pushes INTO that scan as a
                # filter, so the exact terms cost no join at all — the AND
                # collapses into the leaf scan (doc-range semantics, O4)
                scan_children.sort(key=lambda c: self._est(c, infos))
                est0 = self._est(scan_children[0], infos)
                out = self._build(scan_children[0], auths, infos)
                chain = scan_children[1:]
            if keys is not None:
                out = out.where(_keys_filter(keys))
                est0 = min(est0, len(keys))
            small = est0 <= self.index.config.broadcast_postings_max
            if small:
                out = F.broadcast(out)
            for c in chain:
                out = self._build(c, auths, infos).join(
                    out, list(_POSTING_KEY), "left_semi"
                )
                # keep the running side broadcast-able while it stays tiny
                if small:
                    out = F.broadcast(out)
            if neg_keys:
                out = out.where(~_keys_filter(neg_keys))
        for c in neg_scan:
            out = out.join(
                self._leaf_postings(IxLeaf(c.field, c.kind, value=c.value), auths),
                list(_POSTING_KEY),
                "left_anti",
            )
        return out


def _is_neg(n) -> bool:
    return isinstance(n, IxLeaf) and n.negated


#: bitmask width cap for the grouped eq-conjunct pass (long = 63 usable
#: bits; queries with more conjuncts fall back to the semi-join chain)
_GROUPED_MAX_UNITS = 60


def _grouped_units(children: list) -> tuple[list[tuple], list]:
    """Split an AND's scan-tier children into groupable units and the
    rest. A unit is a positive eq leaf, or an IxOr whose children are ALL
    positive eq leaves (its bit is any-match over the member pairs).
    Range/regex leaves and deeper subtrees stay on the join chain."""
    units: list[tuple] = []
    rest: list = []
    for c in children:
        if isinstance(c, IxLeaf) and c.kind == "eq" and not c.negated:
            units.append((c,))
        elif isinstance(c, IxOr) and all(
            isinstance(k, IxLeaf) and k.kind == "eq" and not k.negated
            for k in c.children
        ):
            units.append(tuple(c.children))
        else:
            rest.append(c)
    return units, rest


# ---------------------------------------------------------------------------
# Top-level query execution
# ---------------------------------------------------------------------------


def explain_plan(
    index: WikisearchIndex,
    node: ast.Node,
    auths: list[str] | None = None,
    multi_value_fields: frozenset[str] = frozenset({"TEXT"}),
    card_cache: dict | None = None,
) -> dict:
    """Describe the plan :func:`run_query` would choose, without executing:
    chosen path, rewritten NNF, reduced index tree, exact-coverage flag
    (gates the Q15 unevaluated-fields skip), and per-term cardinality
    estimates from the global index (the numbers driving AND ordering and
    broadcast decisions — the observable analogue of the reference's
    RangeCalculator plan state, RangeCalculator.java:281-556)."""
    planner = Planner(index, multi_value_fields, card_cache)
    nnf = planner.expand_unfielded(to_nnf(node), auths)
    tree, exact = reduce_to_index_tree(
        nnf, planner.indexed_fields(), multi_value_fields
    )
    path = "fullscan" if tree is None else "optimized"
    if tree is None and isinstance(nnf, ast.Or):
        kinds = {
            reduce_to_index_tree(c, planner.indexed_fields(), multi_value_fields)[0]
            is not None
            for c in nnf.children
        }
        if kinds == {True, False}:
            path = "dualpath"
    out = {
        "path": path,
        "nnf": repr(nnf),
        "index_tree": None if tree is None else repr(tree),
        "exact_coverage": bool(exact),
        "cardinalities": {},
        # True when every leaf resolves from the exact-uid tier and the
        # query will run as ONE pruned filter on docs_wide — no posting
        # joins, no field_index scan (the doc-range plan, O4)
        "uid_shortcircuit": False,
    }
    zl = index.zlayout
    if zl is not None:
        # z-ordered catalog: report the box the planner will prune
        # docs_wide with (None = no usable top-level bound → full scan of
        # the layout), the directory fraction it reads, and the z-interval
        # cover — the observable form of zprune_docs' decision
        from accumulo_wikisearch_spark.operators.layout import (
            zbox_from_query,
            zbuckets_for_box,
            zranges_for_box,
        )

        box = zbox_from_query(nnf, zl)
        info = {"fields": [zl.x_field, zl.y_field], "box": box}
        if getattr(index, "docs_wide_parts", None) is not None:
            # merge-read view: the prune applies to the z base side only;
            # pending flat delta rows union in unpruned
            info["pending_deltas"] = True
        if box is not None and box[0] <= box[1] and box[2] <= box[3]:
            bks = zbuckets_for_box(*box, zl.bits, zl.bucket_bits)
            info["buckets"] = len(bks)
            info["buckets_total"] = 1 << zl.bucket_bits
            info["z_ranges"] = len(zranges_for_box(*box, zl.bits))
        elif box is not None:
            info["empty"] = True  # constant-folds to zero rows
        out["zlayout"] = info
    if tree is not None:
        infos = planner.eq_term_info(tree, auths)
        out["cardinalities"] = {
            f"{f}=={v}": t.count for (f, v), t in sorted(infos.items())
        }
        out["uid_shortcircuit"] = planner.driver_candidates(tree, auths) is not None
        anchor = (
            None
            if out["uid_shortcircuit"]
            else planner.best_exact_anchor(tree, auths)
        )
        # an AND anchored on a rare conjunct's exact postings: one pruned
        # docs_wide fetch + full event-side re-verify, no posting joins
        out["uid_anchor_size"] = None if anchor is None else len(anchor)
    return out


def run_query(
    index: WikisearchIndex,
    node: ast.Node,
    auths: list[str] | None = None,
    force_path: str | None = None,
    multi_value_fields: frozenset[str] = frozenset({"TEXT"}),
    card_cache: dict | None = None,
) -> tuple[DataFrame, str]:
    """Execute a parsed query; returns (result_df, path) where path is
    'optimized' or 'fullscan'. Result = (partition_id, language, doc_id)."""
    planner = Planner(index, multi_value_fields, card_cache)
    nnf = to_nnf(node)
    nnf = planner.expand_unfielded(nnf, auths)
    docs = index.docs_wide
    zl = index.zlayout
    if zl is not None:
        # z-ordered catalog: a two-key query box prunes docs_wide at the
        # directory + row-group level BEFORE any path below touches it —
        # a pure superset prune (full predicate still re-verifies), so
        # it composes with fullscan, doc-range, anchor, and semi-join
        # alike (layout.ZLayout; RangeCalculator.java:683-705 is the
        # single-key analogue this generalizes)
        from accumulo_wikisearch_spark.operators.layout import (
            demote_docs,
            zprune_docs,
        )

        parts = getattr(index, "docs_wide_parts", None)
        if parts is not None:
            # merge-read with pending deltas: prune the (huge) z base,
            # union the (small) flat delta rows UNpruned — per-side
            # superset semantics, so the full predicate re-verify below
            # stays the only correctness authority. The prune lands
            # directly on the base scan (clean zb partition filter), not
            # on the union, where the delta side's null layout columns
            # would force the OR through every directory.
            zbase, extra = parts
            docs = demote_docs(zprune_docs(zbase, nnf, zl)).unionByName(extra)
        else:
            docs = zprune_docs(docs, nnf, zl)
    sec = F.col("language").isin(*auths) if auths else F.lit(True)

    tree, exact = None, False
    if force_path != "fullscan":
        tree, exact = reduce_to_index_tree(
            nnf, planner.indexed_fields(), multi_value_fields
        )
    if tree is None and force_path != "fullscan" and isinstance(nnf, ast.Or):
        # Dual-path mixed OR (AbstractQueryLogic.java:560-587, :826-908):
        # instead of demoting the whole query, run the index path for the
        # drivable branches and a fullscan filtered to ONLY the non-indexed
        # predicate, then union + dedup. At scale the fullscan side is
        # unavoidable (the predicate has no index), but the indexed
        # branches stop paying for it.
        drivable, rest = [], []
        for c in nnf.children:
            sub, _ = reduce_to_index_tree(
                c, planner.indexed_fields(), multi_value_fields
            )
            (drivable if sub is not None else rest).append(c)
        if drivable and rest:
            # The branch node is ALREADY normalized+expanded; re-running it
            # through run_query would apply to_nnf a second time, and the
            # Not(Or(eq...)) wrappers unfielded expansion leaves behind
            # would flip into any-match NE leaves — a DIFFERENT truth table
            # for multi-valued fields ("none matches" vs "some other value
            # exists"). Execute the branch inline instead.
            ix_node = drivable[0] if len(drivable) == 1 else ast.Or(tuple(drivable))
            ix_tree, ix_exact = reduce_to_index_tree(
                ix_node, planner.indexed_fields(), multi_value_fields
            )
            ix_df = _optimized_result(
                planner, index, docs, sec, ix_tree, ix_node, ix_exact, auths
            ).select("partition_id", "language", "doc_id")
            rest_node = rest[0] if len(rest) == 1 else ast.Or(tuple(rest))
            rest_df = docs.where(sec & compile_predicate(rest_node)).select(
                "partition_id", "language", "doc_id"
            )
            return ix_df.unionByName(rest_df).distinct(), "dualpath"
    if tree is None or force_path == "fullscan":
        result = docs.where(sec & compile_predicate(nnf))
        path = "fullscan"
    else:
        result = _optimized_result(planner, index, docs, sec, tree, nnf, exact, auths)
        path = "optimized"
    return result.select("partition_id", "language", "doc_id"), path


def _optimized_result(
    planner: Planner,
    index: WikisearchIndex,
    docs: DataFrame,
    sec,
    tree: IxNode,
    node: ast.Node,
    exact: bool,
    auths: list[str] | None,
) -> DataFrame:
    """Index-path execution for a reduced tree + its (normalized, expanded)
    predicate node — shared by the main optimized path and each dual-path
    branch."""
    # Q15: when the index tree covers the query exactly, predicates on
    # unevaluated fields are trusted from the semi-join and skipped in
    # the re-verify — the reference's TEXT optimization
    # (AbstractQueryLogic.java:777-790)
    skip = index.config.unevaluated_fields if exact else frozenset()
    pred = compile_predicate(node, skip_fields=skip)
    keys = planner.driver_candidates(tree, auths)
    if keys is not None:
        # O4 doc-range plan: every leaf resolved from the exact-uid
        # tier, so the candidate set is already in the driver. The
        # query is ONE job — a pushed-down filter on docs_wide (the
        # per-(partition, language) doc_id IN-lists prune partitions
        # and skip row groups); no field_index scan, no join, no
        # shuffle (RangeCalculator.java:683-705 turning ≤uid_max
        # posting lists into direct doc ranges).
        if not keys:
            return docs.where(F.lit(False))
        return docs.where(_keys_filter(keys) & sec & pred)
    anchor = planner.best_exact_anchor(tree, auths)
    if anchor is not None:
        # rare-conjunct anchor: candidates = the rare term's exact
        # postings (a superset of the matches); ONE pruned fetch of
        # docs_wide with the FULL predicate re-verified — no Q15
        # skip here, the other conjuncts are only proven event-side
        if not anchor:
            return docs.where(F.lit(False))
        return docs.where(_keys_filter(anchor) & sec & compile_predicate(node))
    cand = planner.candidates(tree, auths)
    return docs.join(cand, list(_POSTING_KEY), "left_semi").where(sec & pred)
