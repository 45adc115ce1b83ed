"""One fold for every catalog write path: ``incremental_update`` (in
memory), ``stream_ingest`` (flush + compaction per batch) and
``stream_ingest_deltas`` + ``compact_index`` all fold new rows through
``compaction._fold_deltas``, so re-ingesting an existing doc id gives the
same catalog and the same answers on every path. Also pins
``stream_ingest``'s replay safety and its changes feed, which follow from
each batch being a delta flush folded by a compaction."""

import os
import shutil

import pytest

from accumulo_wikisearch_spark.api import Wikisearch
from accumulo_wikisearch_spark.config import EngineConfig
from accumulo_wikisearch_spark.operators.compaction import (
    compact_index,
    read_changes,
    stream_ingest_deltas,
)
from accumulo_wikisearch_spark.operators.ingest import build_index, load_index, write_index
from accumulo_wikisearch_spark.operators.manifest import manifest_version
from accumulo_wikisearch_spark.streaming.incremental import (
    incremental_update,
    stream_ingest,
)

CFG = EngineConfig(num_partitions=1, uid_max=20)
SF = {"ID": "id", "TITLE": "title"}
SCHEMA = "id long, language string, text string, title string"
BASE = [(1, "enwiki", "alpha beta", "t1"), (2, "enwiki", "alpha gamma", "t2")]
# doc 1 again, with new content: multimap semantics append it
REINGEST = [(1, "enwiki", "alpha delta", "t1b")]


def _arts(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _run(writer):
    q = writer.trigger(availableNow=True).start()
    assert q.awaitTermination(300), "stream did not finish in time"


def _source(spark, src):
    return spark.readStream.schema(SCHEMA).parquet(f"{src}/*")


def _stage(spark, root):
    src = str(root / "incoming")
    _arts(spark, REINGEST).coalesce(1).write.parquet(f"{src}/b0")
    return src


def _term_rows(index):
    return sorted(
        (
            r["doc_id"],
            r["norm_value"],
            r["occurrences"],
            round(r["tf"], 9),
            tuple(r["offsets"]),
            r["doc_len"],
        )
        for r in index.term_index.collect()
    )


def _gi_rows(index):
    return sorted(
        (r["field"], r["norm_value"], r["count"], tuple(sorted(r["uids"])), r["ignore"])
        for r in index.global_index.collect()
    )


def _answers(eng):
    def cell(v):
        if isinstance(v, float):
            return round(v, 9)
        return tuple(v) if isinstance(v, list) else v

    def rows(df):
        return sorted(tuple(cell(v) for v in r) for r in df.collect())

    return {
        "scored_search": rows(eng.scored_search("alpha")),
        "multi_hit": rows(eng.scored_search_multi(["alpha", "beta"])),
        "multi_miss": rows(eng.scored_search_multi(["alpha", "zzz"])),
        "tfidf": rows(eng.scored_search_tfidf(["alpha", "delta"])),
        "bm25": rows(eng.scored_search_bm25(["alpha", "beta"])),
        "phrase": rows(eng.phrase_search(["alpha", "delta"])),
        "query": sorted(r["doc_id"] for r in eng.query("TEXT == 'alpha'").collect()),
    }


@pytest.fixture(scope="module")
def base_template(spark, tmp_path_factory):
    """Docs 1 and 2, compacted once so the catalog has a manifest
    (read_changes anchors on a retained version). Built once per module;
    tests copy it (a catalog holds only relative paths)."""
    path = str(tmp_path_factory.mktemp("fold_base") / "index")
    write_index(build_index(_arts(spark, BASE), CFG, SF), path)
    compact_index(spark, path, CFG)
    return path


@pytest.fixture(scope="module")
def streamed(spark, base_template, tmp_path_factory):
    """The base plus one checkpointed ``stream_ingest`` batch that
    re-ingests doc 1. Returns (catalog, source dir, checkpoint, version
    before the batch); tests that mutate it work on copies."""
    root = tmp_path_factory.mktemp("fold_streamed")
    path = str(root / "index")
    shutil.copytree(base_template, path)
    src = _stage(spark, root)
    ckpt = str(root / "ckpt")
    v0 = manifest_version(spark, path)
    _run(stream_ingest(_source(spark, src), path, CFG, SF, checkpoint=ckpt))
    return path, src, ckpt, v0


def test_reingest_matches_across_write_paths(spark, base_template, streamed, tmp_path):
    base = load_index(spark, base_template, CFG)
    in_memory = incremental_update(base, _arts(spark, REINGEST), SF)
    # still an in-memory view: a disk probe must not heal it back
    assert in_memory.catalog_path is None
    assert in_memory.manifest_version is None
    assert in_memory.merged_deltas is None

    path = str(tmp_path / "index")
    shutil.copytree(base_template, path)
    src = _stage(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    _run(stream_ingest_deltas(_source(spark, src), path, CFG, SF, checkpoint=ckpt))
    compact_index(spark, path, CFG)

    views = {
        "incremental_update": in_memory,
        "stream_ingest": load_index(spark, streamed[0], CFG),
        "stream_ingest_deltas+compact_index": load_index(spark, path, CFG),
    }
    terms = {name: _term_rows(idx) for name, idx in views.items()}
    for name, rows in terms.items():
        keys = [(doc, term) for doc, term, *_ in rows]
        assert len(keys) == len(set(keys)), f"{name}: duplicate (doc, term) rows"
    assert terms["incremental_update"] == terms["stream_ingest"]
    assert terms["incremental_update"] == terms["stream_ingest_deltas+compact_index"]
    # doc 1's two contents folded into one row
    assert (1, "alpha", 2, 1.0, (0, 0), 4) in terms["incremental_update"]

    answers = {name: _answers(Wikisearch(idx)) for name, idx in views.items()}
    assert answers["incremental_update"] == answers["stream_ingest"]
    assert answers["incremental_update"] == answers["stream_ingest_deltas+compact_index"]
    got = answers["incremental_update"]
    assert sorted(set(got["query"])) == [1, 2]
    assert got["multi_miss"] == []  # no doc holds zzz
    assert [(r[2], r[3]) for r in got["multi_hit"]] == [(1, 3)]
    assert [(r[2], r[3]) for r in got["scored_search"]] == [(1, 2), (2, 1)]


def test_stream_ingest_replay_counts_once(spark, streamed, tmp_path):
    """A crash after the batch's compaction swapped in, but before the
    streaming commit, makes Spark re-run the batch under the same id on
    restart. The replayed flush is skipped as already folded, so the
    counts and term rows stay as they were."""
    path0, src, ckpt0, _ = streamed
    path, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    shutil.copytree(path0, path)
    shutil.copytree(ckpt0, ckpt)
    before = load_index(spark, path, CFG)
    gi, ti, v = _gi_rows(before), _term_rows(before), manifest_version(spark, path)

    commits = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    _run(stream_ingest(_source(spark, src), path, CFG, SF, checkpoint=ckpt))

    # the batch did re-run: its compaction minted one more version
    assert manifest_version(spark, path) == v + 1
    after = load_index(spark, path, CFG)
    assert _gi_rows(after) == gi
    assert _term_rows(after) == ti


def test_read_changes_across_stream_ingest(spark, streamed):
    """Each stream_ingest batch mints a compaction (fold) generation that
    records its delta, so the changes feed spans it."""
    path, _, _, v0 = streamed
    rows = read_changes(spark, path, since_version=v0).collect()
    assert [(r["change"], r["doc_id"], r["text"]) for r in rows] == [
        ("append", 1, "alpha delta")
    ]
