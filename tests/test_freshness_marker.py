"""The manifest version plus the pending-delta set is every catalog's only
freshness marker: published generations are immutable, ``write_index``
refuses to rewrite a catalog in place, and a facade over a z catalog
prunes with the layout it loaded instead of re-reading the sidecar per
query. Also pins the crash-safe replace of the replica marker."""

import os
import shutil

import pytest

from accumulo_wikisearch_spark.api import Wikisearch
from accumulo_wikisearch_spark.config import EngineConfig
from accumulo_wikisearch_spark.operators.compaction import compact_index, write_delta
from accumulo_wikisearch_spark.operators.ingest import build_index, write_index

CFG = EngineConfig(num_partitions=1, uid_max=20)
SF = {"ID": "id", "TITLE": "title"}
SCHEMA = "id long, language string, text string, title string"


def _idx(spark, rows):
    arts = spark.createDataFrame(
        [(i, "enwiki", text, f"t{i}") for i, text in rows], SCHEMA
    )
    return build_index(arts, CFG, SF)


def _ids(eng, expr):
    return sorted(r["doc_id"] for r in eng.query(expr).collect())


@pytest.fixture(scope="module")
def _base(spark, tmp_path_factory):
    """A legacy catalog holding doc 1 ("alpha") with doc 2 ("beta")
    pending in delta batch b0; each test mutates its own copy."""
    path = str(tmp_path_factory.mktemp("fresh") / "cat")
    os.mkdir(path)  # an existing EMPTY directory is accepted
    write_index(_idx(spark, [(1, "alpha")]), path)
    write_delta(_idx(spark, [(2, "beta")]), path, "b0")
    return path


@pytest.fixture()
def cat(_base, tmp_path):
    path = str(tmp_path / "cat")
    shutil.copytree(_base, path)
    return path


def test_write_index_refuses_inplace_rewrite(spark, cat):
    path = cat
    compact_index(spark, path, CFG)  # mints _MANIFEST.000001 + gen-000001
    with pytest.raises(ValueError, match="compact_index"):
        write_index(_idx(spark, [(3, "gamma")]), path)
    eng = Wikisearch.open(spark, path, CFG)
    assert _ids(eng, "TEXT == 'alpha' or TEXT == 'beta'") == [1, 2]
    assert _ids(eng, "TEXT == 'gamma'") == []


def test_compact_index_replaces_crashed_staging(spark, cat):
    """A crashed compaction leaves a partial ``_compact_tmp``; the next
    run must start from a clean staging directory, fold the pending
    batch, and adopt none of the leftover files."""
    path = cat
    tmp = f"{path}/_compact_tmp"
    shutil.copytree(f"{path}/field_index", f"{tmp}/field_index")
    os.makedirs(f"{tmp}/stray")
    open(f"{tmp}/stray/part-0.parquet", "w").close()
    out = compact_index(spark, path, CFG)
    assert out["n_deltas"] == 1
    assert not os.path.exists(tmp)
    assert "stray" not in os.listdir(f"{path}/gen-000001")
    eng = Wikisearch.open(spark, path, CFG)
    assert _ids(eng, "TEXT == 'alpha' or TEXT == 'beta'") == [1, 2]


def test_z_facade_reads_no_sidecar_per_query(spark, tmp_path, monkeypatch):
    """Queries on a z catalog prune with the layout loaded with the
    generation: zero sidecar reads per query. After a compaction the
    next query heals with ONE read, of the new generation's sidecar,
    and answers like a cold open."""
    from accumulo_wikisearch_spark.operators import layout
    from accumulo_wikisearch_spark.operators.layout import ZLayout

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
    reads = []
    real = layout.read_meta
    monkeypatch.setattr(
        layout, "read_meta", lambda s, p: reads.append(p) or real(s, p)
    )
    box = "UID == '{}' and DAY >= '2024-01-01 00:00:00' and DAY <= '2024-01-09 23:59:59'"
    for uid in (3, 7, 11):
        assert _ids(eng, box.format(uid)) == [uid, uid + 20]
    assert reads == []

    write_delta(zidx([(100, "enwiki", "tok", "7", "2024-01-03 09:00:00")]), path, "b0")
    compact_index(spark, path, CFG)
    reads.clear()
    got = _ids(eng, box.format(7))
    assert reads == [f"{path}/gen-000001/docs_wide"]
    assert got == [7, 27, 100]
    assert got == _ids(Wikisearch.open(spark, path, CFG), box.format(7))


class _NoMarkerRename:
    """A Hadoop FileSystem whose rename onto ``_REPLICA.json`` fails —
    the crash point between staging a new marker and publishing it."""

    def __init__(self, fs):
        self._fs = fs

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def rename(self, src, dst):
        if dst.getName() == "_REPLICA.json":
            return False
        return self._fs.rename(src, dst)


def test_replica_marker_survives_failed_final_rename(spark, cat, tmp_path, monkeypatch):
    from accumulo_wikisearch_spark.operators import manifest, replication
    from accumulo_wikisearch_spark.operators.compaction import describe_catalog
    from accumulo_wikisearch_spark.operators.replication import (
        clone_catalog,
        replicate_deltas,
    )

    src, dst = cat, str(tmp_path / "dst")
    clone_catalog(spark, src, dst, CFG)  # the base only; b0 ships below

    real = manifest._fs

    def failing(spark_, path):
        fs, p, jvm = real(spark_, path)
        return _NoMarkerRename(fs), p, jvm

    with monkeypatch.context() as m:
        m.setattr(manifest, "_fs", failing)
        m.setattr(replication, "_fs", failing)
        with pytest.raises(RuntimeError):
            replicate_deltas(spark, src, dst)
    # the ledger update (b0 received) survived the failed publish
    assert describe_catalog(spark, dst)["replica_of"]["received"] == ["b0"]
    assert replicate_deltas(spark, src, dst) == []
    assert _ids(Wikisearch.open(spark, dst, CFG), "TEXT == 'beta'") == [2]
