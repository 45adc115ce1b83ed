"""Time-travel snapshot reads over the manifest-pointer catalog:
``load_index(..., at_version=N)`` pins the exact generation the rewrite
at version N published — the reproducibility pin a training pipeline
records so re-reads are byte-identical regardless of ongoing ingest.
Snapshot history is sized by the same ``retain_generations`` knob as
reader grace; reading a retired version raises with the retained list.
"""

import shutil

import pytest
from pyspark.sql import functions as F

from accumulo_wikisearch_spark.api import Wikisearch
from accumulo_wikisearch_spark.config import EngineConfig
from accumulo_wikisearch_spark.operators.compaction import (
    compact_index,
    read_changes,
    write_delta,
    write_tombstones,
)
from accumulo_wikisearch_spark.operators.ingest import build_index, load_index, write_index
from accumulo_wikisearch_spark.operators.manifest import list_versions

CFG = EngineConfig(num_partitions=1, uid_max=20)
SF = {"ID": "id", "TITLE": "title"}
SCHEMA = "id long, language string, text string, title string"


def _arts(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _delta(spark, path, ids, batch):
    d = _arts(spark, [(i, "enwiki", "tok wave", f"t{i}") for i in ids])
    write_delta(build_index(d, CFG, SF), path, batch)


@pytest.fixture(scope="module")
def versioned_template(spark, tmp_path_factory):
    """Catalog with two snapshots: v1 = docs 0-9, v2 = docs 0-14, built
    once per module."""
    path = str(tmp_path_factory.mktemp("versioned") / "tt")
    base = _arts(spark, [(i, "enwiki", "tok base", f"t{i}") for i in range(5)])
    write_index(build_index(base, CFG, SF), path)
    _delta(spark, path, range(5, 10), "b0")
    compact_index(spark, path, CFG)  # v1
    _delta(spark, path, range(10, 15), "b1")
    compact_index(spark, path, CFG)  # v2
    return path


@pytest.fixture()
def versioned_catalog(versioned_template, tmp_path):
    """A private copy of the template (manifests hold relative generation
    paths, so a copied tree is a valid catalog)."""
    path = str(tmp_path / "tt")
    shutil.copytree(versioned_template, path)
    return path


def test_list_versions(spark, versioned_catalog, tmp_path):
    assert list_versions(spark, versioned_catalog) == [1, 2]
    # legacy catalog: no manifest yet
    legacy = str(tmp_path / "legacy")
    write_index(build_index(_arts(spark, [(0, "enwiki", "x", "t")]), CFG, SF), legacy)
    assert list_versions(spark, legacy) == []


def test_snapshot_reads_exact_generation(spark, versioned_catalog):
    v1 = load_index(spark, versioned_catalog, CFG, at_version=1)
    v2 = load_index(spark, versioned_catalog, CFG, at_version=2)
    cur = load_index(spark, versioned_catalog, CFG)
    assert sorted(r["doc_id"] for r in v1.documents.select("doc_id").collect()) == list(range(10))
    assert v2.documents.count() == 15
    assert cur.documents.count() == 15
    assert v1.manifest_version == 1 and v2.manifest_version == 2
    # global index is the snapshot's own fold, not the current one
    tok = v1.global_index.where(
        (F.col("field") == "TEXT") & (F.col("norm_value") == "tok")
    ).collect()[0]
    assert tok["count"] == 10


def test_snapshot_query_through_facade(spark, versioned_catalog):
    eng = Wikisearch(load_index(spark, versioned_catalog, CFG, at_version=1))
    assert eng.query("TEXT == 'tok'").count() == 10
    assert sorted(
        r["doc_id"] for r in eng.query("TEXT == 'wave'").collect()
    ) == list(range(5, 10))


def test_snapshot_is_frozen_against_later_writes(spark, versioned_catalog):
    """A pinned snapshot must NOT self-heal: flush a new delta (which the
    live facade's freshness probe would fold) and the snapshot keeps
    answering from its generation."""
    eng = Wikisearch(load_index(spark, versioned_catalog, CFG, at_version=1))
    assert eng.query("TEXT == 'tok'").count() == 10
    _delta(spark, versioned_catalog, range(20, 25), "b2")
    # live view folds the pending delta via the probe...
    live = Wikisearch(load_index(spark, versioned_catalog, CFG))
    assert live.query("TEXT == 'tok'").count() == 20
    # ...the snapshot does not move
    assert eng.query("TEXT == 'tok'").count() == 10
    assert eng.index.catalog_path is None


def test_retired_version_raises_with_retained_list(spark, versioned_catalog):
    # third rewrite with the default retain_generations=2 retires v1
    _delta(spark, versioned_catalog, range(15, 18), "b2")
    compact_index(spark, versioned_catalog, CFG)  # v3; retention drops v1
    assert list_versions(spark, versioned_catalog) == [2, 3]
    with pytest.raises(ValueError, match=r"no retained version 1.*\[2, 3\]"):
        load_index(spark, versioned_catalog, CFG, at_version=1)


def test_retain_generations_extends_snapshot_history(spark, tmp_path):
    path = str(tmp_path / "tt3")
    write_index(
        build_index(_arts(spark, [(0, "enwiki", "tok", "t0")]), CFG, SF), path
    )
    for n, batch in enumerate(["b0", "b1", "b2"]):
        _delta(spark, path, [n + 1], batch)
        compact_index(spark, path, CFG, retain_generations=3)
    assert list_versions(spark, path) == [1, 2, 3]
    for v in (1, 2, 3):
        snap = load_index(spark, path, CFG, at_version=v)
        assert snap.documents.count() == 1 + v


def test_changes_feed_appends(spark, versioned_catalog):
    ch = read_changes(spark, versioned_catalog, since_version=1, until_version=2)
    rows = ch.collect()
    assert all(r["change"] == "append" and r["version"] == 2 for r in rows)
    assert sorted(r["doc_id"] for r in rows) == list(range(10, 15))
    # default until = current version
    assert read_changes(spark, versioned_catalog, 1).count() == 5
    # an empty (since == until) range is a valid, empty feed
    assert read_changes(spark, versioned_catalog, 2, 2).count() == 0


def test_changes_feed_deletes_and_pending_excluded(spark, versioned_catalog):
    write_tombstones(
        spark.range(3).select(F.col("id").alias("doc_id")),
        versioned_catalog,
        "del0",
    )
    _delta(spark, versioned_catalog, [30], "b9")
    # pending (unfolded) batches belong to no snapshot → unchanged feed
    assert read_changes(spark, versioned_catalog, 1).count() == 5
    compact_index(spark, versioned_catalog, CFG)  # v3 folds del0 + b9
    ch = read_changes(spark, versioned_catalog, 2, 3).collect()
    dels = sorted(r["doc_id"] for r in ch if r["change"] == "delete")
    adds = sorted(r["doc_id"] for r in ch if r["change"] == "append")
    assert dels == [0, 1, 2] and adds == [30]
    for r in ch:
        assert r["version"] == 3
        if r["change"] == "delete":
            assert r["text"] is None and r["language"] is None


def test_changes_feed_schema_is_stable_when_empty(spark, versioned_catalog):
    empty = read_changes(spark, versioned_catalog, 2, 2)
    assert empty.columns == [
        "version", "batch", "change", "partition_id", "language", "doc_id", "text",
    ]
    full = read_changes(spark, versioned_catalog, 1, 2)
    assert full.columns == empty.columns


def test_changes_feed_bad_anchors_raise(spark, versioned_catalog, tmp_path):
    with pytest.raises(ValueError, match="since_version 2 > until_version 1"):
        read_changes(spark, versioned_catalog, 2, 1)
    with pytest.raises(ValueError, match="no retained version 0"):
        read_changes(spark, versioned_catalog, 0, 2)
    legacy = str(tmp_path / "legacy3")
    write_index(build_index(_arts(spark, [(0, "enwiki", "x", "t")]), CFG, SF), legacy)
    with pytest.raises(ValueError, match="legacy"):
        read_changes(spark, legacy, 1)


def test_changes_feed_refuses_full_rewrite_versions(spark, versioned_catalog, tmp_path):
    """r11 review F2: a generation minted by a full rewrite (streaming
    swap) can change arbitrary content no delta dir records — the feed
    must refuse to span it rather than silently report no changes."""
    from accumulo_wikisearch_spark.operators.compaction import swap_in_catalog
    from accumulo_wikisearch_spark.operators.ingest import load_index as _load

    staged = str(tmp_path / "staged_rewrite")
    write_index(
        build_index(
            _arts(spark, [(i, "enwiki", "tok new", f"t{i}") for i in range(3)]),
            CFG,
            SF,
        ),
        staged,
    )
    # keep v1 readable through the third adoption so the fold-only
    # prefix check below can still anchor on it
    swap_in_catalog(
        spark, staged, versioned_catalog, retain_generations=3
    )  # v3, kind="rewrite"
    assert _load(spark, versioned_catalog, CFG).documents.count() == 3
    # spanning the rewrite refuses loudly...
    with pytest.raises(ValueError, match="version 3 .*'rewrite' generation"):
        read_changes(spark, versioned_catalog, 1)
    # ...while the fold-only prefix still serves
    assert read_changes(spark, versioned_catalog, 1, 2).count() == 5


@pytest.mark.slow
def test_changes_feed_plan_is_flat_at_many_batches(spark, tmp_path):
    """r12 (verdict #5): the feed builds ONE multi-path parquet read per
    change kind with a broadcast batch→version map — plan construction
    must not grow a union/scan node per folded batch (at a 100 TB
    cadence a feed tap can span hundreds of folded batches, and an
    O(batches) plan makes driver-side analysis the bottleneck)."""
    from accumulo_wikisearch_spark.operators.ingest import build_index as _bix

    path = str(tmp_path / "many")
    write_index(build_index(_arts(spark, [(0, "enwiki", "tok", "t0")]), CFG, SF), path)
    _delta(spark, path, [1], "seed")
    compact_index(spark, path, CFG)  # v1, the feed anchor
    # 20 data batches (identical content, distinct ids — the feed
    # attributes rows per batch dir) + 2 tombstone batches, all folded
    # by ONE compaction into v2
    one = _bix(_arts(spark, [(100, "enwiki", "tok wave", "t100")]), CFG, SF)
    for i in range(20):
        write_delta(one, path, f"m{i:02d}")
    for i in range(2):
        write_tombstones(
            spark.createDataFrame([(50 + i,)], "doc_id long"), path, f"del{i}"
        )
    compact_index(spark, path, CFG)  # v2 folds all 22
    ch = read_changes(spark, path, 1, 2)
    plan = ch._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("parquet") == 2, plan  # one scan per change kind
    assert plan.count("Union") <= 1, plan
    rows = ch.collect()
    adds = [r for r in rows if r["change"] == "append"]
    dels = [r for r in rows if r["change"] == "delete"]
    assert len(adds) == 20 and len(dels) == 2
    assert sorted({r["batch"] for r in adds}) == [f"m{i:02d}" for i in range(20)]
    assert all(r["version"] == 2 and r["doc_id"] == 100 for r in adds)
    assert sorted(r["doc_id"] for r in dels) == [50, 51]


def test_changes_feed_exotic_batch_ids_fall_back_exactly(spark, tmp_path):
    """A batch id that would percent-encode in ``input_file_name()``
    (spaces are legal ids) must still be attributed exactly — via the
    per-batch fallback, not a silently-empty extract-join."""
    path = str(tmp_path / "exotic")
    write_index(build_index(_arts(spark, [(0, "enwiki", "tok", "t0")]), CFG, SF), path)
    _delta(spark, path, [1], "seed")
    compact_index(spark, path, CFG)  # v1
    _delta(spark, path, [2], "has space")
    compact_index(spark, path, CFG)  # v2
    rows = read_changes(spark, path, 1, 2).collect()
    assert len(rows) == 1
    assert rows[0]["batch"] == "has space" and rows[0]["doc_id"] == 2


def test_never_published_version_raises(spark, versioned_catalog, tmp_path):
    with pytest.raises(ValueError, match="no retained version 99"):
        load_index(spark, versioned_catalog, CFG, at_version=99)
    legacy = str(tmp_path / "legacy2")
    write_index(build_index(_arts(spark, [(0, "enwiki", "x", "t")]), CFG, SF), legacy)
    with pytest.raises(ValueError, match="legacy catalog"):
        load_index(spark, legacy, CFG, at_version=1)


def test_describe_catalog_reports_lifecycle_state(spark, versioned_catalog, tmp_path):
    from accumulo_wikisearch_spark.operators.compaction import describe_catalog

    d = describe_catalog(spark, versioned_catalog)
    assert d["current_version"] == 2
    assert [r["version"] for r in d["versions"]] == [1, 2]
    assert all(r["kind"] == "fold" for r in d["versions"])
    assert d["versions"][0]["folded_deltas"] == ["b0"]
    assert d["versions"][1]["folded_deltas"] == ["b1"]
    assert d["pending_deltas"] == []
    assert d["generations_on_disk"] == ["gen-000001", "gen-000002"]
    assert d["legacy_tables_present"] is False  # retired by retention

    _delta(spark, versioned_catalog, [50], "b7")
    assert describe_catalog(spark, versioned_catalog)["pending_deltas"] == ["b7"]

    legacy = str(tmp_path / "legacy4")
    write_index(build_index(_arts(spark, [(0, "enwiki", "x", "t")]), CFG, SF), legacy)
    dl = describe_catalog(spark, legacy)
    assert dl["current_version"] is None and dl["versions"] == []
    assert dl["legacy_tables_present"] is True


def test_stream_deletes_tails_tombstone_batches(spark, versioned_catalog, tmp_path):
    from accumulo_wikisearch_spark.streaming.incremental import stream_deletes

    write_tombstones(
        spark.range(4).selectExpr("id AS doc_id"), versioned_catalog, "del0"
    )
    got: list = []
    q = (
        stream_deletes(spark, versioned_catalog)
        .writeStream.foreachBatch(lambda df, _i: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(r["doc_id"] for r in got) == [0, 1, 2, 3]
    assert {(r["batch"], r["change"]) for r in got} == {("del0", "delete")}


def test_changes_feed_attribution_under_nested_deltas_path(spark, tmp_path):
    """r13 (r12 ADVICE, low): a catalog ROOTED under a path that itself
    contains a /deltas/<x>/documents/ segment must still attribute feed
    rows to the catalog's OWN batch segment — the extraction is anchored
    to the filename end, so the outer segment can't hijack it (which
    would silently drop or mis-version every row through the vmap
    join). The streaming tail shares the same anchored extraction."""
    path = str(tmp_path / "deltas" / "x" / "documents" / "cat")
    base = _arts(spark, [(i, "enwiki", "tok base", f"t{i}") for i in range(3)])
    write_index(build_index(base, CFG, SF), path)
    _delta(spark, path, range(3, 6), "b0")
    compact_index(spark, path, CFG)  # v1
    _delta(spark, path, range(6, 9), "b1")
    compact_index(spark, path, CFG)  # v2
    ch = read_changes(spark, path, since_version=1, until_version=2).collect()
    assert sorted((r["version"], r["batch"], r["doc_id"]) for r in ch) == [
        (2, "b1", i) for i in range(6, 9)
    ]
    # the streaming tail's extraction under the same nested root
    from accumulo_wikisearch_spark.streaming.analytics import _run_to_table
    from accumulo_wikisearch_spark.streaming.incremental import stream_changes

    got = _run_to_table(
        spark,
        stream_changes(spark, path).select("batch", "doc_id"),
        "nested_tail_sink",
        "append",
    ).collect()
    assert sorted((r["batch"], r["doc_id"]) for r in got) == [
        ("b0", i) for i in range(3, 6)
    ] + [("b1", i) for i in range(6, 9)]
