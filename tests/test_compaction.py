"""LSM catalog maintenance tests: delta flush, scan-time merge-read, and
major compaction (the reference's minor/major compaction cycle with the
combiner scopes of WikipediaIngester.java:98-135)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from accumulo_wikisearch_spark.api import Wikisearch
from accumulo_wikisearch_spark.config import EngineConfig
from accumulo_wikisearch_spark.operators.compaction import (
    catalog_stats,
    compact_index,
    write_tombstones,
    delta_batches,
    load_index_with_deltas,
    merge_term_index,
    stream_ingest_deltas,
    write_delta,
)
from accumulo_wikisearch_spark.operators.ingest import build_index, load_index, write_index

CFG = EngineConfig(num_partitions=1, uid_max=20)
SF = {"ID": "id", "TITLE": "title"}
SCHEMA = "id long, language string, text string, title string"


def _arts(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _current_sidecar(spark, path):
    """The CURRENT generation's z sidecar: rewrites land in a new
    manifest-pointed generation, and the legacy/previous generation's
    sidecar is retained for reader grace — reading it would observe
    the pre-rewrite layout."""
    from accumulo_wikisearch_spark.operators.layout import load_zlayout
    from accumulo_wikisearch_spark.operators.manifest import resolve_root

    root, _ = resolve_root(spark, path)
    return load_zlayout(spark, f"{root}/docs_wide")


@pytest.fixture(scope="module")
def catalog_template(spark, tmp_path_factory):
    """Base index (docs 0-14, all containing 'tok') + two flushed deltas
    (docs 15-24 'tok', doc 99 'alpha'), built once per module."""
    path = str(tmp_path_factory.mktemp("catalog") / "index")
    base = _arts(spark, [(i, "enwiki", "tok common", f"t{i}") for i in range(15)])
    write_index(build_index(base, CFG, SF), path)
    d1 = _arts(spark, [(i, "enwiki", "tok", f"t{i}") for i in range(15, 25)])
    write_delta(build_index(d1, CFG, SF), path, 0)
    d2 = _arts(spark, [(99, "enwiki", "alpha common", "t99")])
    write_delta(build_index(d2, CFG, SF), path, 1)
    return path


@pytest.fixture()
def catalog(catalog_template, tmp_path):
    """A private copy of the template catalog (a catalog holds only
    relative paths, so a copied tree is a valid catalog)."""
    path = str(tmp_path / "index")
    shutil.copytree(catalog_template, path)
    return path


def test_merge_read_sees_all_batches(spark, catalog):
    idx = load_index_with_deltas(spark, catalog, CFG)
    assert idx.documents.count() == 26
    eng = Wikisearch(idx)
    assert sorted(r["doc_id"] for r in eng.query("TEXT == 'alpha'").collect()) == [99]
    assert eng.query("TEXT == 'tok'").count() == 25


def test_merge_read_folds_combiner_state(spark, catalog):
    # 'tok' crosses uid_max across base+delta → degraded at scan time
    # (GlobalIndexUidCombiner algebra applied by the merge-read)
    gi = load_index_with_deltas(spark, catalog, CFG).global_index
    tok = gi.where((F.col("field") == "TEXT") & (F.col("norm_value") == "tok")).collect()[0]
    assert tok["count"] == 25 and tok["ignore"] and tok["uids"] == []
    com = gi.where((F.col("field") == "TEXT") & (F.col("norm_value") == "common")).collect()[0]
    assert com["count"] == 16 and not com["ignore"] and len(com["uids"]) == 16


def test_compact_rewrites_and_drops_deltas(spark, catalog):
    stats = compact_index(spark, catalog, CFG)
    assert stats["n_deltas"] == 2
    assert delta_batches(spark, catalog) == []
    idx = load_index(spark, catalog, CFG)
    assert idx.documents.count() == 26
    tok = idx.global_index.where(
        (F.col("field") == "TEXT") & (F.col("norm_value") == "tok")
    ).collect()[0]
    assert tok["count"] == 25 and tok["ignore"]
    # compacted catalog answers queries identically to the merge-read view
    eng = Wikisearch(idx)
    assert eng.query("TEXT == 'tok'").count() == 25
    assert sorted(r["doc_id"] for r in eng.query("TEXT == 'common'").collect()) == sorted(
        list(range(15)) + [99]
    )


def test_compact_is_idempotent(spark, catalog):
    compact_index(spark, catalog, CFG)
    stats = compact_index(spark, catalog, CFG)  # no deltas → pure rewrite
    assert stats["n_deltas"] == 0
    assert load_index(spark, catalog, CFG).documents.count() == 26


def test_term_index_offsets_fold_sorted(spark):
    # same (doc, term) across two flushes: offsets merge sorted, tf sums
    # (TextIndexCombiner.java:40-106)
    schema = (
        "partition_id int, language string, doc_id long, norm_value string, "
        "occurrences bigint, tf double, offsets array<int>, doc_len long"
    )
    a = spark.createDataFrame([(0, "enwiki", 1, "tok", 2, 0.5, [5, 9], 4)], schema)
    b = spark.createDataFrame([(0, "enwiki", 1, "tok", 1, 0.25, [1, 7], 4)], schema)
    r = merge_term_index(a, b).collect()[0]
    assert r["occurrences"] == 3 and r["tf"] == 0.75 and r["offsets"] == [1, 5, 7, 9]
    assert r["doc_len"] == 8


def test_compacted_catalog_serves_scored_search(spark, catalog):
    # term_index survives the compaction fold with its full schema
    compact_index(spark, catalog, CFG)
    eng = Wikisearch(load_index(spark, catalog, CFG))
    rows = eng.scored_search("common").collect()
    assert len(rows) == 16 and all(r["tf"] > 0 for r in rows)


def test_catalog_stats_reports_all_tables(spark, catalog):
    stats = {s["table"]: s for s in catalog_stats(spark, catalog)}
    assert set(stats) == {
        "doc_fields", "field_index", "docs_wide", "documents",
        "global_index", "reverse_index", "metadata", "term_index",
    }
    assert stats["documents"]["n_rows"] == 15  # base only; deltas not counted
    assert all(s["bytes"] > 0 and s["files"] >= 1 for s in stats.values())
    # compaction folds deltas in and the stats see the merged base
    compact_index(spark, catalog, CFG)
    after = {s["table"]: s for s in catalog_stats(spark, catalog)}
    assert after["documents"]["n_rows"] == 26


def test_stream_ingest_deltas_flushes_per_batch(spark):
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/index"
        base = _arts(spark, [(1, "enwiki", "alpha beta", "t1")])
        write_index(build_index(base, CFG, SF), path)
        _arts(spark, [(2, "enwiki", "alpha gamma", "t2")]).write.parquet(
            f"{tmp}/incoming/b0"
        )
        q = (
            stream_ingest_deltas(
                spark.readStream.schema(SCHEMA).parquet(f"{tmp}/incoming/*"),
                path,
                CFG,
                SF,
                checkpoint=f"{tmp}/ckpt",
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "stream did not finish in time"
        assert len(delta_batches(spark, path)) == 1
        idx = load_index_with_deltas(spark, path, CFG)
        got = sorted(r["doc_id"] for r in Wikisearch(idx).query("TEXT == 'alpha'").collect())
        assert got == [1, 2]
        alpha = idx.global_index.where(F.col("norm_value") == "alpha").collect()[0]
        assert alpha["count"] == 2 and sorted(alpha["uids"]) == ["1", "2"]


def test_tombstones_shadow_docs_and_compaction_rebuilds_exact(spark, catalog):
    # delete doc 3 (base, has tok+common) and doc 99 (delta, alpha+common)
    write_tombstones(spark.createDataFrame([(3,), (99,)], "doc_id long"), catalog, 2)
    idx = load_index_with_deltas(spark, catalog, CFG)
    eng = Wikisearch(idx)
    assert eng.query("TEXT == 'alpha'").count() == 0
    assert 3 not in {r["doc_id"] for r in eng.query("TEXT == 'tok'").collect()}
    assert idx.documents.count() == 24
    # scored search no longer surfaces deleted docs
    assert 3 not in {r["doc_id"] for r in eng.scored_search("common").collect()}

    compact_index(spark, catalog, CFG)
    idx2 = load_index(spark, catalog, CFG)
    gi = idx2.global_index
    com = gi.where((F.col("field") == "TEXT") & (F.col("norm_value") == "common")).collect()[0]
    # advisory postings rebuilt EXACTLY: 16 - both deleted docs = 14
    assert com["count"] == 14 and not com["ignore"] and len(com["uids"]) == 14
    tok = gi.where((F.col("field") == "TEXT") & (F.col("norm_value") == "tok")).collect()[0]
    assert tok["count"] == 24 and tok["ignore"] and tok["uids"] == []
    assert gi.where(F.col("norm_value") == "alpha").count() == 0
    # reverse index rebuilt too (reversed 'alpha' gone)
    assert idx2.reverse_index.where(F.col("norm_value") == "ahpla").count() == 0
    assert Wikisearch(idx2).query("TEXT == 'common'").count() == 14


def test_zordered_catalog_merge_read_and_compaction(spark, tmp_path):
    """A Morton-clustered base catalog through the LSM cycle: merge-read
    demotes to flat (pruning a union with unclustered delta rows would
    drop delta matches), and major compaction re-derives + RESTORES the
    layout over the folded data — the OPTIMIZE ZORDER compaction shape."""
    from accumulo_wikisearch_spark.operators.layout import ZLayout, load_zlayout

    zsf = {"ID": "id", "UID": "uid", "DAY": "day"}
    schema = "id long, language string, text string, uid string, day string"

    def rows(lo, hi):
        return [
            (i, "enwiki", "tok", str(i % 40), f"2024-01-{(i % 9) + 1:02d} 08:00:00")
            for i in range(lo, hi)
        ]

    path = str(tmp_path / "zindex")
    base = spark.createDataFrame(rows(0, 60), schema)
    write_index(
        build_index(base, CFG, zsf),
        path,
        zorder=ZLayout("UID", "DAY", "int", "day"),
    )
    assert load_zlayout(spark, f"{path}/docs_wide") is not None

    # flat delta extends BOTH key domains (uid 70..99, later days)
    d = spark.createDataFrame(
        [
            (i, "enwiki", "tok", str(i), f"2024-02-{(i % 9) + 1:02d} 08:00:00")
            for i in range(70, 100)
        ],
        schema,
    )
    write_delta(build_index(d, CFG, zsf), path, 0)

    box_q = "UID == '7' and DAY >= '2024-01-01 00:00:00' and DAY <= '2024-01-09 23:59:59'"
    # merge-read: the layout SURVIVES — the planner prunes the z base and
    # unions the flat delta rows unpruned, so every row stays visible
    # while the base side keeps its zb directory filter
    idx = load_index_with_deltas(spark, path, CFG)
    assert idx.zlayout is not None and idx.docs_wide_parts is not None
    eng = Wikisearch(idx)
    assert eng.query("TEXT == 'tok'").count() == 90
    from tests.conftest import zb_partition_filtered

    assert zb_partition_filtered(
        eng.query(box_q, force_path="fullscan")
    ), "base-side scan lost its zb partition filter under pending deltas"
    want = sorted(r["doc_id"] for r in eng.query(box_q).collect())
    assert want == [7, 47]  # uid '7' repeats at i=7 and 47 in-base
    # a box matching ONLY delta rows — uid 75 lies outside the base's key
    # domain, so the base side prunes to NOTHING (empty box) and the flat
    # delta side must still serve the match
    feb_q = (
        "UID == '75' and DAY >= '2024-02-01 00:00:00'"
        " and DAY <= '2024-02-09 23:59:59'"
    )
    assert sorted(r["doc_id"] for r in eng.query(feb_q).collect()) == [75]

    # compaction restores the layout over the folded (wider) domain
    compact_index(spark, path, CFG)
    zl = _current_sidecar(spark, path)
    assert zl is not None and zl.x_field == "UID"
    idx2 = load_index(spark, path, CFG)
    assert idx2.zlayout is not None
    eng2 = Wikisearch(idx2)
    assert eng2.query("TEXT == 'tok'").count() == 90
    assert sorted(r["doc_id"] for r in eng2.query(box_q).collect()) == want
    # delta keys (uid 99, February days) fit the re-derived domain
    assert eng2.query("UID == '99' and TEXT == 'tok'").count() == 1


def test_compaction_preserves_custom_bucket_bits(spark, tmp_path):
    from accumulo_wikisearch_spark.operators.layout import ZLayout, load_zlayout

    zsf = {"ID": "id", "UID": "uid", "DAY": "day"}
    schema = "id long, language string, text string, uid string, day string"
    base = spark.createDataFrame(
        [(i, "enwiki", "tok", str(i % 30), "2024-01-05 08:00:00") for i in range(40)],
        schema,
    )
    path = str(tmp_path / "zb6")
    write_index(
        build_index(base, CFG, zsf),
        path,
        zorder=ZLayout("UID", "DAY", "int", "day", bucket_bits=6),
    )
    d = spark.createDataFrame(
        [(99, "enwiki", "tok", "35", "2024-01-07 08:00:00")], schema
    )
    write_delta(build_index(d, CFG, zsf), path, 0)
    compact_index(spark, path, CFG)
    zl = _current_sidecar(spark, path)
    # the user's directory fan-out survives every compaction
    assert zl is not None and zl.bucket_bits == 6


def test_stream_ingest_into_zordered_catalog_keeps_layout(spark, tmp_path):
    """The code-review finding: continuous ingest on a z catalog used to
    die on unionByName (layout columns vs flat delta) and would have
    flattened the store on rewrite. Now each batch folds cleanly and the
    rewrite re-clusters with the same fields/bucket_bits."""
    import tempfile

    from accumulo_wikisearch_spark.operators.layout import ZLayout, load_zlayout

    zsf = {"ID": "id", "UID": "uid", "DAY": "day"}
    schema = "id long, language string, text string, uid string, day string"
    base = spark.createDataFrame(
        [(i, "enwiki", "tok", str(i % 20), "2024-01-03 09:00:00") for i in range(30)],
        schema,
    )
    path = str(tmp_path / "zstream")
    write_index(build_index(base, CFG, zsf), path, zorder=ZLayout("UID", "DAY", "int", "day"))

    stage = tempfile.mkdtemp(prefix="zing-")
    spark.createDataFrame(
        [(100 + i, "enwiki", "tok fresh", str(25 + i), "2024-01-20 09:00:00") for i in range(5)],
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(stage)
    stream = spark.readStream.schema(schema).parquet(stage)
    from accumulo_wikisearch_spark.streaming.incremental import stream_ingest

    sq = (
        stream_ingest(stream, path, CFG, zsf)
        .trigger(availableNow=True)
        .start()
    )
    assert sq.awaitTermination(300), "stream did not finish in time"
    zl = _current_sidecar(spark, path)
    assert zl is not None and zl.x_field == "UID"
    spark.catalog.refreshByPath(path)
    idx = load_index(spark, path, CFG)
    assert idx.zlayout is not None
    eng = Wikisearch(idx)
    assert eng.query("TEXT == 'tok'").count() == 35
    # the fresh batch's keys (uid 25-29, Jan 20) fit the re-derived domain
    assert (
        eng.query(
            "UID == '27' and DAY >= '2024-01-15 00:00:00' and DAY <= '2024-01-25 00:00:00'"
        ).count()
        == 1
    )


def test_plan_cache_replans_after_compaction_relayout(spark, tmp_path):
    """A long-lived facade over a z catalog must NOT replay a cached
    plan's zb/z-interval literals after a compaction re-layout: compaction
    re-derives bits/offsets into a NEW generation, so the old literals
    describe a different clustering. The manifest version moves with the
    generation — the second query below must scan the new generation's
    directory and see the delta row the old clustering never held."""
    from accumulo_wikisearch_spark.operators.layout import ZLayout

    zsf = {"ID": "id", "UID": "uid", "DAY": "day"}
    schema = "id long, language string, text string, uid string, day string"
    base = spark.createDataFrame(
        [
            (i, "enwiki", "tok", str(i % 40), f"2024-01-{(i % 9) + 1:02d} 08:00:00")
            for i in range(60)
        ],
        schema,
    )
    path = str(tmp_path / "zlive")
    write_index(
        build_index(base, CFG, zsf), path, zorder=ZLayout("UID", "DAY", "int", "day")
    )
    eng = Wikisearch(load_index(spark, path, CFG))
    box_q = (
        "UID == '7' and DAY >= '2024-01-01 00:00:00'"
        " and DAY <= '2024-01-09 23:59:59'"
    )
    # force_path=fullscan keeps the posting caches (documented as
    # immutable-catalog-only) out of the picture; zprune applies anyway
    first = sorted(
        r["doc_id"] for r in eng.query(box_q, force_path="fullscan").collect()
    )
    assert first == [7, 47]

    # domain-widening delta (uid up to 99 → bits grow) PLUS one more row
    # inside the query box, then a compaction re-layout
    d = spark.createDataFrame(
        [(100, "enwiki", "tok", "7", "2024-01-03 09:00:00")]
        + [
            (i, "enwiki", "tok", str(i), f"2024-02-{(i % 9) + 1:02d} 08:00:00")
            for i in range(70, 100)
        ],
        schema,
    )
    write_delta(build_index(d, CFG, zsf), path, 0)
    compact_index(spark, path, CFG)
    zl2 = _current_sidecar(spark, path)
    assert zl2 is not None

    df = eng.query(box_q, force_path="fullscan")  # SAME facade, SAME expr
    # the plan's scans list their files; the executed-plan string
    # abbreviates scan locations, so it cannot show the directory
    files = df.inputFiles()
    assert files and all("/gen-000001/" in f for f in files), (
        "facade replayed a pre-rewrite cached plan"
    )
    assert sorted(r["doc_id"] for r in df.collect()) == [7, 47, 100]


def test_compact_fully_tombstoned_cat_catalog(spark, tmp_path):
    """Major compaction of a cat-kind z catalog whose docs are ALL
    tombstoned: the refit derives an EMPTY dictionary, which must write
    an empty store instead of raising — otherwise the catalog is
    permanently un-compactable."""
    from accumulo_wikisearch_spark.operators.layout import ZLayout, load_zlayout

    zsf = {"ID": "id", "KIND": "kind", "DAY": "day"}
    schema = "id long, language string, text string, kind string, day string"
    base = spark.createDataFrame(
        [(i, "enwiki", "tok", ["a", "b"][i % 2], "2024-01-05 08:00:00") for i in range(6)],
        schema,
    )
    path = str(tmp_path / "zcat_tomb")
    write_index(
        build_index(base, CFG, zsf),
        path,
        zorder=ZLayout("KIND", "DAY", "cat", "day"),
    )
    write_tombstones(
        spark.createDataFrame([(i,) for i in range(6)], "doc_id long"), path, 0
    )
    compact_index(spark, path, CFG)
    idx = load_index(spark, path, CFG)
    assert idx.documents.count() == 0
    zl = _current_sidecar(spark, path)
    assert zl is not None and zl.x_dict == ()  # layout survives, empty dict
    # and the empty catalog still answers queries (no pruning crash)
    assert Wikisearch(idx).query("KIND == 'a'").count() == 0


def test_concurrent_queries_during_compaction(spark, catalog):
    """The r10 manifest-pointer guarantee (reference parity: Accumulo
    serves consistent scans THROUGH major compactions, README.md:206-219):
    a facade queried in a loop while compact_index runs concurrently must
    see zero errors and zero mixed-generation reads — every answer is the
    full 25-doc 'tok' set, whether served from the pre-swap merge-read view
    (base + 2 deltas) or the post-swap compacted generation. The old
    per-table delete+rename could serve FILE_NOT_FOUND or a catalog with
    table A new and table B old mid-swap."""
    import threading

    eng = Wikisearch(load_index_with_deltas(spark, catalog, CFG))
    assert eng.query("TEXT == 'tok'").count() == 25  # warm: base+deltas

    errors = []

    def compact():
        try:
            compact_index(spark, catalog, CFG)
        except Exception as e:  # surfaced in the main thread's assert
            errors.append(e)

    t = threading.Thread(target=compact)
    t.start()
    counts = []
    while t.is_alive():
        counts.append(eng.query("TEXT == 'tok'").count())
    t.join()
    # a few more after the swap: the facade must self-heal onto gen-1
    for _ in range(3):
        counts.append(eng.query("TEXT == 'tok'").count())
    assert not errors, errors
    assert counts and set(counts) == {25}, sorted(set(counts))
    assert eng.index.manifest_version == 1  # healed onto the new generation


def test_manifest_versions_retention_and_flat_catalog_self_heal(spark, tmp_path):
    """Manifest mechanics end-to-end: (1) a FLAT catalog facade self-heals
    after an in-place rewrite — the r9 gap where only z catalogs carried a
    freshness marker; (2) adoption is crash-tolerant (an orphan gen dir
    from a writer that died before publishing is skipped past and cleaned
    up); (3) retention keeps current + previous generations and drops the
    legacy root tables once two versioned generations exist."""
    from accumulo_wikisearch_spark.operators.manifest import (
        manifest_version,
        read_manifest,
        resolve_root,
    )

    path = str(tmp_path / "flat")
    base = _arts(
        spark, [(i, "enwiki", "tok", f"t{i}") for i in range(8)]
    )
    write_index(build_index(base, CFG, SF), path)
    eng = Wikisearch(load_index(spark, path, CFG))
    assert eng.index.manifest_version is None  # legacy layout, no manifest
    assert eng.query("TEXT == 'tok'").count() == 8

    # simulate a writer that crashed after staging gen-3 but before
    # publishing its manifest: an unreferenced orphan directory
    import os

    os.makedirs(f"{path}/gen-000003/junk")

    d = _arts(spark, [(100, "enwiki", "tok", "t100")])
    write_delta(build_index(d, CFG, SF), path, 0)
    compact_index(spark, path, CFG)
    v1 = manifest_version(spark, path)
    assert v1 == 4  # numbering skipped past the orphan
    root, _ = resolve_root(spark, path)
    assert root == f"{path}/{read_manifest(spark, path)['generation']}"
    # the SAME facade sees the folded delta without a manual reload —
    # flat catalogs now self-heal exactly like z ones
    assert eng.query("TEXT == 'tok'").count() == 9
    assert eng.index.manifest_version == v1
    # legacy root tables are still there (reader grace for gen-None)
    assert os.path.isdir(f"{path}/documents")

    compact_index(spark, path, CFG)
    v2 = manifest_version(spark, path)
    assert v2 == v1 + 1
    names = set(os.listdir(path))
    # orphan cleaned, current+previous generations retained, legacy gone
    assert f"gen-{v1:06d}" in names and f"gen-{v2:06d}" in names
    assert "gen-000003" not in names
    assert "documents" not in names
    assert {n for n in names if n.startswith("_MANIFEST")} == {
        f"_MANIFEST.{v1:06d}.json",
        f"_MANIFEST.{v2:06d}.json",
    }
    assert eng.query("TEXT == 'tok'").count() == 9


def test_write_delta_rejects_retired_batch_ids(spark, tmp_path):
    """r10 review: after a compaction folds batch '0', its directory is
    retained reader grace whose NAME every new load excludes — a re-flush
    under the same id (a restarted stream's fresh checkpoint restarts
    batchIds at 0) would be silently invisible and later deleted by
    retention. write_delta must raise loudly on retired ids; a replay of
    a PUBLISHED pending id is an immutable no-op (r11: rewriting its
    part files would strand live facades that folded the batch)."""
    path = str(tmp_path / "reuse")
    base = _arts(spark, [(i, "enwiki", "tok", f"t{i}") for i in range(6)])
    write_index(build_index(base, CFG, SF), path)
    d = build_index(_arts(spark, [(50, "enwiki", "tok", "t50")]), CFG, SF)
    write_delta(d, path, 0)
    with pytest.raises(ValueError, match="already PUBLISHED"):
        write_delta(d, path, 0)  # manual duplicate id: loud by default
    assert write_delta(d, path, 0, on_folded="skip") is False  # replay no-op
    compact_index(spark, path, CFG)
    with pytest.raises(ValueError, match="already FOLDED"):
        write_delta(d, path, 0)
    # fresh id works and is visible to the merge-read
    d2 = build_index(_arts(spark, [(51, "enwiki", "tok", "t51")]), CFG, SF)
    write_delta(d2, path, "restart1-0")
    idx = load_index_with_deltas(spark, path, CFG)
    assert idx.documents.count() == 8  # 6 base + folded 50 + pending 51


def test_write_tombstones_rejects_retired_batch_ids(spark, tmp_path):
    """r10 ADVICE: write_tombstones needs the same folded-id guard as
    write_delta — a tombstone flush under a retired id lands in reader
    grace space every new load excludes, so the deletes silently never
    apply (the documents RESURFACE, worse than a missing data delta)."""
    path = str(tmp_path / "treuse")
    base = _arts(spark, [(i, "enwiki", "tok", f"t{i}") for i in range(6)])
    write_index(build_index(base, CFG, SF), path)
    d = build_index(_arts(spark, [(50, "enwiki", "tok", "t50")]), CFG, SF)
    write_delta(d, path, 0)
    compact_index(spark, path, CFG)

    tombs = spark.createDataFrame([(50,)], "doc_id long")
    with pytest.raises(ValueError, match="already FOLDED"):
        write_tombstones(tombs, path, 0)
    assert write_tombstones(tombs, path, 0, on_folded="skip") is False
    # fresh id applies: doc 50 shadowed out of the merge-read view
    assert write_tombstones(tombs, path, "restart1-0") is True
    eng = Wikisearch(load_index_with_deltas(spark, path, CFG))
    assert 50 not in {r["doc_id"] for r in eng.query("TEXT == 'tok'").collect()}


def test_folded_deltas_tolerates_vanished_manifest(spark, catalog, monkeypatch):
    """r10 ADVICE: folded_deltas lists manifests then opens each — a
    concurrent adoption's retention can delete the oldest manifest in
    that window. A lock-free reader must skip the vanished file (its
    folded delta dirs are deleted with it), not crash with
    FileNotFoundException mid-self-heal."""
    from accumulo_wikisearch_spark.operators import manifest

    compact_index(spark, catalog, CFG)  # mints one real manifest

    real_listing = manifest._listing

    def phantom_listing(spark_, path_):
        # simulate the race: the listing saw a manifest that a concurrent
        # retention deleted before our open
        return real_listing(spark_, path_) + ["_MANIFEST.000099.json"]

    monkeypatch.setattr(manifest, "_listing", phantom_listing)
    folded = manifest.folded_deltas(spark, catalog)
    assert folded == {"0", "1"}  # the real manifest's record, phantom skipped


def test_compact_files_before_counts_pending_deltas_once(spark, catalog):
    """r10 ADVICE: on a legacy (never-rewritten) catalog root == path, so
    a recursive root count swept in deltas/ and then added the pending
    batches AGAIN — files_before must equal table files + each pending
    delta counted exactly once."""
    from accumulo_wikisearch_spark.operators.compaction import (
        _ALL_TABLES,
        _count_files,
    )

    tables = sum(_count_files(spark, f"{catalog}/{t}") for t in _ALL_TABLES)
    deltas = sum(
        _count_files(spark, f"{catalog}/deltas/{b}")
        for b in delta_batches(spark, catalog)
    )
    stats = compact_index(spark, catalog, CFG)
    assert stats["files_before"] == tables + deltas
    assert stats["files_after"] > 0


def test_stream_ingest_deltas_fresh_checkpoint_after_compaction(spark):
    """r10 ADVICE: delta ids are namespaced per stream INCARNATION (the
    checkpoint's persisted query id), so an at-least-once replay within
    one checkpoint still skips, but a FRESH-checkpoint restart whose
    batchIds begin at 0 again with NEW content does not collide with an
    id an earlier compaction folded — without the namespace, the new
    stream's first batch is silently skip-dropped."""
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/index"
        write_index(
            build_index(_arts(spark, [(1, "enwiki", "alpha", "t1")]), CFG, SF), path
        )

        def run_stream(src: str, ckpt: str):
            q = (
                stream_ingest_deltas(
                    spark.readStream.schema(SCHEMA).parquet(f"{src}/*"),
                    path,
                    CFG,
                    SF,
                    checkpoint=ckpt,
                )
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(300), "stream did not finish in time"

        _arts(spark, [(2, "enwiki", "alpha", "t2")]).write.parquet(f"{tmp}/in1/b0")
        run_stream(f"{tmp}/in1", f"{tmp}/ckpt1")
        assert len(delta_batches(spark, path)) == 1
        compact_index(spark, path, CFG)  # folds incarnation1's batch 0

        # new stream, fresh checkpoint, NEW content — Spark batchId 0 again
        _arts(spark, [(3, "enwiki", "alpha", "t3")]).write.parquet(f"{tmp}/in2/b0")
        run_stream(f"{tmp}/in2", f"{tmp}/ckpt2")
        assert len(delta_batches(spark, path)) == 1  # landed, not skip-dropped
        eng = Wikisearch(load_index_with_deltas(spark, path, CFG))
        got = sorted(r["doc_id"] for r in eng.query("TEXT == 'alpha'").collect())
        assert got == [1, 2, 3]


def test_facade_sees_pending_deltas_without_reload(spark, catalog):
    """r10 verdict lead item: write_delta / stream_ingest_deltas flush
    batches WITHOUT bumping the manifest, so the facade's freshness probe
    must also compare the pending-delta NAME SET — a long-lived facade
    serves every flushed batch on its next query, not only after the next
    compaction (reference: queries see writes DURING ingest,
    README.md:206-219)."""
    eng = Wikisearch(load_index(spark, catalog, CFG))
    # first query upgrades the base-only load to the merge-read view
    assert eng.query("TEXT == 'tok'").count() == 25  # base 15 + delta 10
    assert eng.query("TEXT == 'alpha'").count() == 1
    # a delta flushed AFTER the facade warmed is seen on the next query
    d3 = build_index(_arts(spark, [(200, "enwiki", "tok", "t200")]), CFG, SF)
    write_delta(d3, catalog, 5)
    assert eng.query("TEXT == 'tok'").count() == 26
    # EVERY serving path shares the probe epoch — the same facade must
    # not answer query() from the merge-read view but count_only /
    # scored_search from a stale one
    assert eng.count_only("TEXT == 'tok'").collect()[0]["n"] == 26
    assert eng.scored_search("tok").count() == 26
    # tombstone flushes are freshness events too
    write_tombstones(spark.createDataFrame([(200,)], "doc_id long"), catalog, 6)
    assert eng.query("TEXT == 'tok'").count() == 25
    # compaction folds everything; the facade follows the manifest flip
    compact_index(spark, catalog, CFG)
    assert eng.query("TEXT == 'tok'").count() == 25
    assert eng.index.manifest_version == 1


def test_facade_queries_during_stream_ingest_deltas(spark):
    """The streaming twin of test_concurrent_queries_during_compaction:
    a facade queried in a loop while stream_ingest_deltas flushes batches
    observes each batch's rows WITHOUT a manual reload — counts grow
    monotonically through the valid prefix set, zero errors. Atomic batch
    publish (_publish_delta) guarantees no count reflects half a flush."""
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/index"
        base = _arts(spark, [(i, "enwiki", "tok base", f"t{i}") for i in range(5)])
        write_index(build_index(base, CFG, SF), path)
        eng = Wikisearch(load_index(spark, path, CFG))
        assert eng.query("TEXT == 'tok'").count() == 5

        for b in range(3):
            _arts(
                spark,
                [(100 + b * 10 + j, "enwiki", "tok", f"n{b}{j}") for j in range(2)],
            ).coalesce(1).write.parquet(f"{tmp}/incoming/b{b}")

        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/incoming/*")
        )
        q = (
            stream_ingest_deltas(
                stream, path, CFG, SF, checkpoint=f"{tmp}/ckpt"
            )
            .trigger(availableNow=True)
            .start()
        )
        errors, counts = [], []
        try:
            while q.isActive:
                counts.append(eng.query("TEXT == 'tok'").count())
        except Exception as e:  # pragma: no cover - the assertion target
            errors.append(e)
        assert q.awaitTermination(300), "stream did not finish in time"
        for _ in range(3):
            counts.append(eng.query("TEXT == 'tok'").count())
        assert not errors, errors
        valid = {5, 7, 9, 11}  # prefixes of the flushed batch sequence
        assert set(counts) <= valid, sorted(set(counts))
        assert counts[-1] == 11  # every flushed batch visible, no reload
        assert counts == sorted(counts), "doc count must grow monotonically"


def test_reader_grace_across_back_to_back_rewrites(spark, tmp_path):
    """Pins the documented reader-grace guarantee and the r11 knob: by
    default _retain keeps current+previous generations, so a reader
    planned against generation N survives ONE full rewrite completing
    mid-scan; retain_generations=3 extends the window through TWO
    back-to-back rewrites (the long-scan × aggressive-compaction shape
    that is real at 100 TB). Values below 2 are rejected outright."""
    import os

    from accumulo_wikisearch_spark.operators.compaction import swap_in_catalog

    path = str(tmp_path / "grace")
    base = _arts(spark, [(i, "enwiki", "tok", f"t{i}") for i in range(8)])
    write_index(build_index(base, CFG, SF), path)
    compact_index(spark, path, CFG)  # mints gen 1
    reader = load_index(spark, path, CFG).documents.select("doc_id")
    assert reader.count() == 8  # planned against gen 1's files

    compact_index(spark, path, CFG)  # gen 2; default grace keeps gen 1
    assert reader.count() == 8  # one rewrite completed mid-scan: covered

    compact_index(spark, path, CFG, retain_generations=3)  # gen 3, keeps {3,2,1}
    assert reader.count() == 8  # TWO rewrites since planning: knob covers it

    compact_index(spark, path, CFG, retain_generations=3)  # gen 4, keeps {4,3,2}
    names = set(os.listdir(path))
    assert "gen-000001" not in names  # now out of even the widened window
    assert {"gen-000002", "gen-000003", "gen-000004"} <= names

    with pytest.raises(ValueError, match="retain_generations"):
        swap_in_catalog(spark, f"{path}/_nope", path, retain_generations=1)


def test_batch_ids_that_listings_cannot_see_are_rejected(spark, tmp_path):
    """r11 review: delta listings hide names starting with '.' or '_'
    (staging convention), so a flush under such an id would publish
    'successfully' and then never be merge-read, folded, or compacted —
    silent data loss with a success return. Both flush kinds and the
    stream incarnation must reject them eagerly."""
    path = str(tmp_path / "badid")
    write_index(build_index(_arts(spark, [(1, "enwiki", "tok", "t1")]), CFG, SF), path)
    d = build_index(_arts(spark, [(2, "enwiki", "tok", "t2")]), CFG, SF)
    tombs = spark.createDataFrame([(1,)], "doc_id long")
    for bad in ("_backfill", ".hidden", "a/b", ""):
        with pytest.raises(ValueError, match="invalid batch id"):
            write_delta(d, path, bad)
        with pytest.raises(ValueError, match="invalid batch id"):
            write_tombstones(tombs, path, bad)
    (tmp_path / "none").mkdir()
    with pytest.raises(ValueError, match="invalid batch id"):
        stream_ingest_deltas(
            spark.readStream.schema(SCHEMA).parquet(str(tmp_path / "none")),
            path,
            CFG,
            SF,
            incarnation="_job1",
        )


def test_one_batch_id_one_flush_kind(spark, tmp_path):
    """r11 second review: a tombstone flush 'joining' a pending data
    batch under the same id is INVISIBLE to the facade's freshness probe
    (the batch NAME set doesn't change), and a later data crash-retry
    would delete the joined deletes — so each id belongs to exactly one
    flush kind, both directions raise, and fresh ids keep every flush a
    probe-visible event."""
    path = str(tmp_path / "join")
    write_index(build_index(_arts(spark, [(1, "enwiki", "tok", "t1")]), CFG, SF), path)
    d = build_index(
        _arts(spark, [(2, "enwiki", "tok", "t2"), (3, "enwiki", "tok", "t3")]), CFG, SF
    )
    write_delta(d, path, 0)
    tombs = spark.createDataFrame([(2,)], "doc_id long")
    with pytest.raises(ValueError, match="already holds a DATA"):
        write_tombstones(tombs, path, 0)
    # a LIVE facade warmed on the pre-delete epoch...
    eng = Wikisearch(load_index_with_deltas(spark, path, CFG))
    assert eng.query("TEXT == 'tok'").count() == 3
    write_tombstones(tombs, path, 1)  # fresh id: probe-visible, applies
    with pytest.raises(ValueError, match="already holds a TOMBSTONE"):
        write_delta(d, path, 1)
    # ...sees the deletes on its next query (batch '1' joins the name set)
    got = sorted(r["doc_id"] for r in eng.query("TEXT == 'tok'").collect())
    assert got == [1, 3]  # doc 2 shadowed, no manual reload


def _comparable(df):
    """``df`` with map columns as sorted entry arrays (set operations
    reject map types)."""
    return df.select(
        *(
            F.array_sort(F.map_entries(f.name)).alias(f.name)
            if f.dataType.typeName() == "map"
            else F.col(f.name)
            for f in df.schema.fields
        )
    )


def test_write_delta_flushes_every_table_concurrently(spark, tmp_path, monkeypatch):
    """write_delta writes its tables through write_index's concurrent,
    tokenize-once fan-out: every staged table holds exactly the delta's
    rows, the tokenized cache is released, and one failing table write
    publishes nothing (the batch stays hidden, the cache still released)."""
    import os

    from accumulo_wikisearch_spark.operators.compaction import (
        _ALL_TABLES,
        raw_delta_names,
    )

    path = str(tmp_path / "flush")
    write_index(build_index(_arts(spark, [(1, "enwiki", "tok", "t1")]), CFG, SF), path)
    rows = [(i, "enwiki", f"tok w{i % 3} common", f"t{i}") for i in range(2, 40)]
    d = build_index(_arts(spark, rows), CFG, SF)
    assert write_delta(d, path, 0) is True
    assert not d._tokenized.storageLevel.useMemory
    for name in _ALL_TABLES:
        want = _comparable(getattr(d, name))
        got = _comparable(spark.read.parquet(f"{path}/deltas/0/{name}"))
        assert got.exceptAll(want).count() == 0, name
        assert want.exceptAll(got).count() == 0, name

    class _FailingWrite:
        @property
        def write(self):
            raise RuntimeError("table write failed")

    bad = build_index(_arts(spark, rows[:5]), CFG, SF)
    monkeypatch.setattr(bad, "reverse_index", _FailingWrite())
    with pytest.raises(RuntimeError, match="table write failed"):
        write_delta(bad, path, 1)
    assert not bad._tokenized.storageLevel.useMemory
    assert not os.path.exists(f"{path}/deltas/1")
    assert raw_delta_names(spark, path) == {"0"}


def test_compaction_sweeps_crashed_staging_leftovers(spark, tmp_path):
    """r11 review: a flush that crashed between staging and publish
    leaves a hidden ._staged_* dir no listing can see — compaction (the
    single-writer maintenance point) must sweep it or the dead parquet
    accumulates invisibly forever."""
    import os

    path = str(tmp_path / "sweep")
    write_index(build_index(_arts(spark, [(1, "enwiki", "tok", "t1")]), CFG, SF), path)
    orphan = f"{path}/deltas/._staged_data_crashed"
    os.makedirs(orphan)
    with open(f"{orphan}/junk", "w") as f:
        f.write("x")
    assert delta_batches(spark, path) == []  # hidden from listings
    compact_index(spark, path, CFG)
    assert not os.path.exists(orphan)


def test_probe_ttl_amortizes_listings_with_bounded_staleness(spark, tmp_path):
    """probe_ttl_s > 0 trades freshness for probe amortization: inside
    the TTL the facade serves the last-probed epoch (a flush is NOT yet
    visible — bounded staleness, documented); once the TTL lapses the
    next query probes and folds it. Default 0 keeps per-query probing."""
    path = str(tmp_path / "ttl")
    base = _arts(spark, [(i, "enwiki", "tok", f"t{i}") for i in range(4)])
    write_index(build_index(base, CFG, SF), path)
    eng = Wikisearch(load_index(spark, path, CFG), probe_ttl_s=300.0)
    assert eng.query("TEXT == 'tok'").count() == 4  # full probe, stamps TTL
    write_delta(build_index(_arts(spark, [(9, "enwiki", "tok", "t9")]), CFG, SF), path, 0)
    assert eng.query("TEXT == 'tok'").count() == 4  # inside TTL: stale-by-design
    eng._probe_stamp = float("-inf")  # TTL lapses
    assert eng.query("TEXT == 'tok'").count() == 5  # next probe folds the batch


def test_published_batches_are_immutable(spark, tmp_path):
    """r11 third review: an existing batch dir proves a COMPLETED atomic
    publish, and rewriting it would swap part files out from under a
    live facade that folded the batch — probe-invisible (same name, same
    manifest version), stranding the facade on deleted files. Replays
    are no-ops; a legacy joined dir (data + tombstones) refuses a
    tombstone overwrite that would destroy its data tables."""
    import os

    path = str(tmp_path / "immut")
    write_index(build_index(_arts(spark, [(1, "enwiki", "tok", "t1")]), CFG, SF), path)
    d = build_index(_arts(spark, [(2, "enwiki", "tok", "t2")]), CFG, SF)
    assert write_delta(d, path, 0) is True
    eng = Wikisearch(load_index(spark, path, CFG))
    assert eng.query("TEXT == 'tok'").count() == 2  # facade folded batch 0

    d_other = build_index(_arts(spark, [(9, "enwiki", "tok", "t9")]), CFG, SF)
    with pytest.raises(ValueError, match="already PUBLISHED"):
        write_delta(d_other, path, 0)  # NEW content under a used id: loud
    assert write_delta(d_other, path, 0, on_folded="skip") is False  # replay
    assert eng.query("TEXT == 'tok'").count() == 2  # facade unharmed, files intact

    tombs = spark.createDataFrame([(2,)], "doc_id long")
    assert write_tombstones(tombs, path, 5) is True
    with pytest.raises(ValueError, match="already PUBLISHED"):
        write_tombstones(tombs, path, 5)  # manual duplicate id: loud
    assert write_tombstones(tombs, path, 5, on_folded="skip") is False  # replay
    # legacy joined dir (pre-r11 merge path): data tables + tombstones
    os.rename(f"{path}/deltas/5/tombstones", f"{path}/deltas/0/tombstones")
    with pytest.raises(ValueError, match="already holds a DATA"):
        write_tombstones(tombs, path, 0)


def test_probe_sees_compaction_completing_mid_probe(spark, tmp_path, monkeypatch):
    """r11 review F1: the freshness probe lists raw delta names FIRST and
    reads the manifest version SECOND, so a compaction that completes
    between the two reads is caught by the version comparison. The old
    order (version first) had a one-query read-your-writes hole: the
    compaction folded the batch after the version read, the delta
    listing then saw it folded, and both comparisons came up clean while
    the batch's rows vanished from the served view."""
    import accumulo_wikisearch_spark.operators.compaction as C

    path = str(tmp_path / "race")
    base = _arts(spark, [(i, "enwiki", "tok", f"t{i}") for i in range(5)])
    write_index(build_index(base, CFG, SF), path)
    d = _arts(spark, [(i, "enwiki", "tok", f"t{i}") for i in range(5, 10)])
    write_delta(build_index(d, CFG, SF), path, "b0")
    eng = Wikisearch(load_index(spark, path, CFG))  # base-only, b0 pending

    real = C.raw_delta_names
    state = {"fired": False}

    def compaction_lands_between_the_two_reads(s, p):
        raw = real(s, p)
        if not state["fired"]:
            state["fired"] = True
            compact_index(s, p, CFG)  # folds b0, publishes v1 mid-probe
        return raw

    monkeypatch.setattr(C, "raw_delta_names", compaction_lands_between_the_two_reads)
    # the probe's version read happens AFTER the compaction published, so
    # staleness is detected and the heal serves the fully-folded catalog
    assert eng.query("TEXT == 'tok'").count() == 10
    assert state["fired"]
    assert eng.index.manifest_version == 1


def test_folded_exclusion_is_capped_at_probed_version(spark, tmp_path):
    """r11 review F1 (second entry point): the folded-name exclusion the
    probe applies must come from manifests ≤ the version it probed — a
    NEWER manifest's folds must not hide their batches from the pending
    comparison while the stale version still compares clean."""
    from accumulo_wikisearch_spark.operators.manifest import folded_deltas

    path = str(tmp_path / "cap")
    write_index(build_index(_arts(spark, [(0, "enwiki", "tok", "t0")]), CFG, SF), path)
    write_delta(build_index(_arts(spark, [(1, "enwiki", "tok", "t1")]), CFG, SF), path, "b0")
    compact_index(spark, path, CFG)  # v1 folds b0
    assert folded_deltas(spark, path) == {"b0"}
    # as-of "no manifest yet" (the epoch a legacy-loaded facade probed):
    # v1's fold is invisible, so b0 stays in the pending comparison
    assert folded_deltas(spark, path, max_version=0) == set()
    assert folded_deltas(spark, path, max_version=1) == {"b0"}


def test_unrecognized_hidden_delta_dir_is_loud(spark, tmp_path):
    """r11 review F3: a batch dir published under a hidden name (legal
    before batch-id validation existed) must raise, not silently vanish
    from every listing forever; our own staging prefix stays skipped."""
    import os

    from accumulo_wikisearch_spark.operators.compaction import raw_delta_names

    path = str(tmp_path / "hidden")
    write_index(build_index(_arts(spark, [(0, "enwiki", "tok", "t0")]), CFG, SF), path)
    write_delta(build_index(_arts(spark, [(1, "enwiki", "tok", "t1")]), CFG, SF), path, "b0")
    os.makedirs(f"{path}/deltas/._staged_crashed")  # crashed flush: skipped
    assert raw_delta_names(spark, path) == {"b0"}
    os.makedirs(f"{path}/deltas/_backfill")
    with pytest.raises(ValueError, match="_backfill"):
        raw_delta_names(spark, path)
    with pytest.raises(ValueError, match="_backfill"):
        delta_batches(spark, path)
    # the DIAGNOSTIC surface must still render in this bad state and
    # report the stray dir (r12, ADVICE: one hidden dir otherwise broke
    # describe_catalog together with every query)
    from accumulo_wikisearch_spark.operators.compaction import describe_catalog

    d = describe_catalog(spark, path)
    assert d["unrecognized_hidden"] == ["_backfill"]
    assert d["pending_deltas"] == ["b0"]


def test_snapshot_facade_plan_cache_is_stable_under_ttl(spark, tmp_path):
    """r11 review F4: with probe_ttl_s > 0 a time-travel snapshot facade
    (manifest_version set, catalog_path None) must key plans identically
    on the TTL fast path and the full-probe path — the mismatch re-planned
    every query and duplicated cache entries."""
    path = str(tmp_path / "ttlsnap")
    write_index(build_index(_arts(spark, [(0, "enwiki", "tok", "t0")]), CFG, SF), path)
    write_delta(build_index(_arts(spark, [(1, "enwiki", "tok", "t1")]), CFG, SF), path, "b0")
    compact_index(spark, path, CFG)  # v1
    eng = Wikisearch(load_index(spark, path, CFG, at_version=1), probe_ttl_s=300.0)
    for _ in range(3):
        assert eng.query("TEXT == 'tok'").count() == 2
    assert len(eng._plan_cache) == 1


def test_rewrite_warn_counts_table_files_only(spark, tmp_path):
    """r11 review F5: the stream_ingest scale-trap warning must measure
    the catalog it would rewrite (the table dirs), not pending deltas —
    a legacy root with many flushed batches produced false warnings."""
    from accumulo_wikisearch_spark.operators.compaction import _ALL_TABLES, _count_files
    from accumulo_wikisearch_spark.streaming.incremental import _warn_if_large_rewrite

    path = str(tmp_path / "warnsz")
    write_index(build_index(_arts(spark, [(0, "enwiki", "tok", "t0")]), CFG, SF), path)
    n_base = sum(_count_files(spark, f"{path}/{t}") for t in _ALL_TABLES)
    for b in ("b0", "b1"):
        write_delta(
            build_index(_arts(spark, [(1, "enwiki", "tok", "t1")]), CFG, SF),
            path,
            b,
            on_folded="raise",
        )
    # pending batches would tip a recursive root count past n_base
    assert _warn_if_large_rewrite(spark, path, n_base) is False
    import pytest as _pytest

    with _pytest.warns(RuntimeWarning, match="rewrites the ENTIRE catalog"):
        assert _warn_if_large_rewrite(spark, path, n_base - 1) is True
