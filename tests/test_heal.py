"""A live facade heals a flush or a rewrite by reloading the catalog,
caching the new view's serving set once and releasing the view it
replaced (``Wikisearch._heal``). Pinned here: every healed view equals a
cold reload, table by table and answer by answer; the session cache
holds one view, a failed heal leaves nothing cached, and ``close()``
empties it; a plan built before a heal still answers as of its epoch."""

import shutil
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType

from accumulo_wikisearch_spark.api import Wikisearch
from accumulo_wikisearch_spark.config import EngineConfig
from accumulo_wikisearch_spark.operators.compaction import (
    compact_index,
    write_delta,
    write_tombstones,
)
from accumulo_wikisearch_spark.operators.ingest import (
    SERVING_TABLES,
    WikisearchIndex,
    build_index,
    write_index,
)

# uid_max 3: a term crosses it within a few docs
CFG = EngineConfig(num_partitions=1, uid_max=3)
SF = {"ID": "id", "TITLE": "title"}
SCHEMA = "id long, language string, text string, title string"
TABLES = (
    "doc_fields",
    "field_index",
    "global_index",
    "reverse_index",
    "metadata",
    "term_index",
    "docs_wide",
    "documents",
)


def _idx(spark, rows):
    arts = spark.createDataFrame(
        [(i, "enwiki", text, f"t{i}") for i, text in rows], SCHEMA
    )
    return build_index(arts, CFG, SF)


def _ids(df):
    return sorted(r["doc_id"] for r in df.collect())


def _cache_entries(spark) -> int:
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def _canon(df):
    """Rows as comparable text: maps become sorted entry arrays and
    arrays are sorted — a posting's ``uids`` is a set, and its list
    order follows row arrival, which differs between plans."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, MapType):
            c = F.array_sort(F.map_entries(c))
        elif isinstance(f.dataType, ArrayType):
            c = F.array_sort(c)
        cols.append(c.alias(f.name))
    return df.select(F.to_json(F.struct(*cols)).alias("row"))


def _tables(view) -> Counter:
    """Every row of the eight tables of ``view`` as (table, canonical
    row), in ONE job."""
    df = None
    for t in TABLES:
        d = _canon(getattr(view, t)).withColumn("t", F.lit(t))
        df = d if df is None else df.unionByName(d)
    return Counter((r["t"], r["row"]) for r in df.collect())


def _answers(eng) -> dict:
    """Every kind of answer of ``eng``, all requests concurrent."""

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    calls = {
        "query": lambda: _ids(eng.query("TEXT == 'alpha' or TEXT == 'zeta'")),
        "count_only": lambda: eng.count_only("TEXT == 'zeta'").collect()[0]["n"],
        "scored": lambda: rows(eng.scored_search("alpha")),
        "multi": lambda: rows(eng.scored_search_multi(["alpha", "beta"])),
        "tfidf": lambda: rows(eng.scored_search_tfidf(["alpha", "zeta"])),
        "bm25": lambda: rows(eng.scored_search_bm25(["alpha", "beta"])),
        "phrase": lambda: rows(eng.phrase_search(["alpha", "beta"])),
    }
    with ThreadPoolExecutor(max_workers=4) as ex:
        return dict(zip(calls, ex.map(lambda f: f(), calls.values())))


def _served(eng) -> tuple:
    """Tables, answers and corpus counts of ``eng``'s current view."""
    view = eng.index
    with ThreadPoolExecutor(max_workers=1) as ex:
        rows = ex.submit(_tables, view)
        answers = _answers(eng)
    return rows.result(), answers, (view.doc_count(), view.token_count())


# the template batches every test publishes by copying (one write each)
_BATCHES = {
    "b0": [(10, "alpha beta"), (11, "alpha gamma")],
    "b1": [(20, "zeta"), (21, "zeta beta")],  # zeta: 2 → 4 docs > uid_max
}


@pytest.fixture(scope="module")
def _base(spark, tmp_path_factory):
    """A catalog of six docs ('zeta' in two of them, below uid_max) and,
    beside it, the template batches and the tombstone batch t0."""
    root = tmp_path_factory.mktemp("heal")
    path = str(root / "cat")
    write_index(
        _idx(
            spark,
            [
                (1, "alpha beta"),
                (2, "alpha beta gamma"),
                (3, "beta zeta"),
                (4, "zeta alpha"),
                (5, "gamma"),
                (6, "alpha gamma beta"),
            ],
        ),
        path,
    )
    stage = str(root / "stage")
    for name, rows in _BATCHES.items():
        write_delta(_idx(spark, rows), stage, name)
    write_tombstones(spark.createDataFrame([(10,), (3,)], "doc_id long"), stage, "t0")
    return path, stage


@pytest.fixture()
def cat(_base, tmp_path):
    path = str(tmp_path / "cat")
    shutil.copytree(_base[0], path)
    return path


@pytest.fixture()
def flush(_base):
    """Publish template batch ``name`` into catalog ``path`` (as
    ``as_name``): a copy of a published batch directory."""

    def go(path, name, as_name=None):
        shutil.copytree(f"{_base[1]}/deltas/{name}", f"{path}/deltas/{as_name or name}")

    return go


def test_healed_view_equals_cold_reload(spark, cat, flush):
    """Each step, the healed (cached) view equals a cold
    ``Wikisearch.open`` in all eight tables, every kind of answer and its
    corpus counts: fresh ids, a term crossing ``uid_max``, a re-ingested
    id, a tombstone batch and a compaction."""
    path = cat
    eng = Wikisearch.open(spark, path, CFG)
    steps = [
        ("fresh ids", lambda: flush(path, "b0")),
        ("zeta crosses uid_max", lambda: flush(path, "b1")),
        ("re-ingested ids", lambda: flush(path, "b0", "b2")),
        ("tombstones", lambda: flush(path, "t0")),
        ("compaction", lambda: compact_index(spark, path, CFG)),
    ]
    for name, act in steps:
        act()
        eng.query("TEXT == 'alpha'")  # heals
        assert eng.index._persisted, name
        got = _served(eng)
        # a cold open plans what the healed view cached: release that
        # cache first, or the cold side would read it
        eng.close()
        assert got == _served(Wikisearch.open(spark, path, CFG)), name


def test_healed_z_view_keeps_base_pruned(spark, tmp_path):
    """On a z catalog the heal caches only the flat delta side of
    ``docs_wide_parts``: the base side stays the physical z scan, keeps
    its zb PartitionFilter and is never cached; answers match a cold
    open."""
    from accumulo_wikisearch_spark.operators.layout import ZLayout
    from tests.conftest import zb_partition_filtered

    zsf = {"ID": "id", "UID": "uid", "DAY": "day"}
    schema = "id long, language string, text string, uid string, day string"

    def zidx(rows):
        return build_index(spark.createDataFrame(rows, schema), CFG, zsf)

    path = str(tmp_path / "z")
    write_index(
        zidx(
            [
                (i, "enwiki", "tok", str(i % 20), f"2024-01-{(i % 9) + 1:02d} 08:00:00")
                for i in range(40)
            ]
        ),
        path,
        zorder=ZLayout("UID", "DAY", "int", "day"),
    )
    eng = Wikisearch.open(spark, path, CFG)
    box = "UID == '7' and DAY >= '2024-01-01 00:00:00' and DAY <= '2024-01-09 23:59:59'"
    write_delta(zidx([(100, "enwiki", "tok", "7", "2024-01-03 09:00:00")]), path, "b0")
    for b in range(2):
        if b:  # the same batch once more: doc 100 is re-ingested
            shutil.copytree(f"{path}/deltas/b0", f"{path}/deltas/b1")
        got = _ids(eng.query(box))
        zbase, extra = eng.index.docs_wide_parts
        assert not zbase.storageLevel.useMemory and extra.storageLevel.useMemory
        assert zb_partition_filtered(eng.query(box, force_path="fullscan"))
    cold = Wikisearch.open(spark, path, CFG)
    assert got == _ids(cold.query(box)) == [7, 27, 100, 100]
    assert _ids(eng.query("TEXT == 'tok'")) == _ids(cold.query("TEXT == 'tok'"))
    eng.close()


def test_cache_stays_one_view_deep_and_close_releases_it(spark, cat, flush):
    """Ten flush → query cycles and a compaction on one disk facade leave
    at most one view's serving set in the session cache, also when a
    heal finds its state already served; ``close()`` releases it, and
    the serving set of an in-memory facade too."""
    before = _cache_entries(spark)
    eng = Wikisearch.open(spark, cat, CFG)
    for b in range(11):
        if b < 10:
            flush(cat, "b0", f"c{b}")  # doc 11 'gamma' once more each time
        else:
            compact_index(spark, cat, CFG)
        n = eng.count_only("TEXT == 'gamma'").collect()[0]["n"]
        assert n == 3 + min(b + 1, 10)
        assert _cache_entries(spark) - before <= len(SERVING_TABLES)
    assert eng.index._persisted and eng.index.merged_deltas == ()
    # a heal whose probe predates a racing heal reloads the state that
    # is already served: it keeps that view and its cache entries
    view, n = eng.index, _cache_entries(spark)
    eng._heal(spark, view)
    assert eng.index is view and _cache_entries(spark) == n > before
    eng.close()
    assert _cache_entries(spark) == before
    assert set(_ids(eng.query("TEXT == 'gamma'"))) == {2, 5, 6, 11}  # cold

    mem = Wikisearch(_idx(spark, [(1, "alpha")]))
    mem.index.persist().materialize()
    assert _cache_entries(spark) > before
    mem.close()
    assert _cache_entries(spark) == before


def test_plan_from_before_a_heal_answers_its_epoch(spark, cat, flush):
    """Plans built on a served view — one already executed, one not —
    still return that view's answer after a flush healed the facade and
    released the view's caches: they recompute from files that reader
    grace keeps."""
    eng = Wikisearch.open(spark, cat, CFG)
    flush(cat, "b0")
    ran = eng.query("TEXT == 'beta'")  # heals onto a cached view
    assert eng.index._persisted
    assert _ids(ran) == [1, 2, 3, 6, 10]
    unrun = eng.query("TEXT == 'zeta'")
    flush(cat, "b1")
    assert _ids(eng.query("TEXT == 'beta'")) == [1, 2, 3, 6, 10, 21]  # heal 2
    assert _ids(ran) == [1, 2, 3, 6, 10]
    assert _ids(unrun) == [3, 4]
    eng.close()


def test_failed_heal_releases_the_view_it_was_building(spark, cat, flush, monkeypatch):
    """A heal whose build fails raises to its request and leaves nothing
    cached: the half-built view is released, the facade keeps serving
    the view it had, and the next request heals again."""
    before = _cache_entries(spark)
    eng = Wikisearch.open(spark, cat, CFG)
    flush(cat, "b0")

    def boom(self):
        raise RuntimeError("materialize failed")

    monkeypatch.setattr(WikisearchIndex, "materialize", boom)
    with pytest.raises(RuntimeError, match="materialize failed"):
        eng.query("TEXT == 'beta'")
    assert _cache_entries(spark) == before
    assert eng.index.merged_deltas == ()
    monkeypatch.undo()
    assert _ids(eng.query("TEXT == 'beta'")) == [1, 2, 3, 6, 10]
    assert eng.index.merged_deltas == ("b0",)
    eng.close()
    assert _cache_entries(spark) == before
