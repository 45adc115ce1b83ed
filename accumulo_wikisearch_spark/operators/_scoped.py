"""Scoped-persist registry: explicit lifetime for per-call caches.

Several dedup/ANN operators persist a narrow intermediate (minhash sets,
band rows, signatures, quantized views, PQ codes) that BOTH sides of the
returned lazy plan share — without the cache the kernel pass runs once
per plan reference (r14 plan audit). Those persists are scoped to the
returned plan's lifetime, but ``persist()`` alone leaves the cached
blocks registered in Spark's CacheManager until something unpersists
them; on a long-lived serving session that is executor storage churn
(guide §5, r14 verdict #4 / ADVICE).

This module gives every such persist an explicit handle:

- operators create a :class:`Scope`, route their persists through
  ``scope.persist(df)``, and return ``scope.attach(result)``;
- callers that consume the result and want the blocks gone NOW call
  :func:`release(result)`; a facade/session teardown calls
  :func:`release_all()`;
- entries hold only weak references to results, so a dropped result's
  ENTRY ages out of the registry — but its blocks do NOT: garbage
  collection never unpersists a cached Dataset, so a scoped cache that
  was not released stays cached until ``spark.catalog.clearCache()``.

``release`` is deliberately NOT automatic at operator entry: benchmark
reps and repeated serving calls build plan-identical intermediates that
Spark's CacheManager dedups, and an implicit cross-call unpersist would
evict a sibling invocation's live cache.
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
#: id(result DataFrame) → (weakref to result, tuple of persisted deps)
_REGISTRY: dict[int, tuple] = {}


class Scope:
    """Collects one operator invocation's scoped persists."""

    def __init__(self) -> None:
        self._cached: list[DataFrame] = []

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._cached.append(df)
        return df

    def adopt(self, df: DataFrame) -> DataFrame:
        """Track an ALREADY-persisted DataFrame (e.g. the survivor of an
        iterative persist/unpersist loop)."""
        self._cached.append(df)
        return df

    def attach(self, result: DataFrame) -> DataFrame:
        """Register ``result`` as the owner of this scope's caches and
        return it unchanged. No-op when nothing was persisted."""
        if not self._cached:
            return result
        key = id(result)

        def _drop(_ref, _key=key) -> None:
            with _LOCK:
                _REGISTRY.pop(_key, None)

        with _LOCK:
            _REGISTRY[key] = (weakref.ref(result, _drop), tuple(self._cached))
        return result


def release(result: DataFrame) -> int:
    """Unpersist the scoped caches registered for ``result`` (a DataFrame
    previously returned by a scope-attached operator). Returns the number
    of cache entries released; 0 for unregistered results.

    CacheManager shares one cache among plan-identical persists, so this
    can also evict the cache of a plan-identical SIBLING result (which
    then recomputes on its next use)."""
    with _LOCK:
        entry = _REGISTRY.get(id(result))
        # an entry under a reused id() belongs to another (live) result:
        # leave it registered
        if entry is None or entry[0]() is not result:
            return 0
        del _REGISTRY[id(result)]
    n = 0
    for df in entry[1]:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


def release_all() -> int:
    """Unpersist every registered scoped cache (facade/session teardown)."""
    with _LOCK:
        entries = list(_REGISTRY.values())
        _REGISTRY.clear()
    n = 0
    for _ref, cached in entries:
        for df in cached:
            try:
                df.unpersist()
                n += 1
            except Exception:
                pass
    return n
