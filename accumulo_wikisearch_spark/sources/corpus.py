"""Corpus adapters: structured tables → the engine's ``articles`` contract.

The reference ingests Wikipedia XML (ArticleExtractor.java); our test corpus
is the driver's ``documents.parquet`` (doc_id, text, lang, source, n_chars).
Mapping: id=doc_id, language=lang, scalar fields ID/SOURCE/NCHARS, and TEXT
tokenized from ``text``. The engine itself is corpus-agnostic — any
DataFrame with (id, language, text, scalars) ingests the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from accumulo_wikisearch_spark.api import Wikisearch
from accumulo_wikisearch_spark.config import EngineConfig
from accumulo_wikisearch_spark.operators.ingest import serving_width

SCALAR_FIELDS = {"ID": "id", "SOURCE": "source", "NCHARS": "n_chars", "LANG": "language"}


def _serving_width(parquet_path: str, spark: SparkSession) -> int:
    """:func:`serving_width` of the corpus parquet at ``parquet_path`` (a
    file or a directory); a non-local path sizes as unknown."""
    from accumulo_wikisearch_spark.operators.compaction import _catalog_bytes

    return serving_width(spark, _catalog_bytes([parquet_path]))


def _parse_bytes(v: str) -> int:
    """Parse a Spark byte-size conf value ("128m", "4MB", "134217728",
    "134217728b") into bytes."""
    s = str(v).strip().lower()
    mult = 1
    for suf, m in (
        ("kb", 1 << 10), ("k", 1 << 10),
        ("mb", 1 << 20), ("m", 1 << 20),
        ("gb", 1 << 30), ("g", 1 << 30),
        ("b", 1),
    ):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    return int(s) * mult


def _scan_splits(parquet_path: str, spark: SparkSession) -> int | None:
    """Scan partition count of a parquet path WITHOUT converting the plan
    to an RDD: replicates Spark's FilePartition packing arithmetic
    (maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    (Σ size + #files·openCost) / minPartitionNum)); files split into
    ≤maxSplitBytes chunks, sorted desc, bin-packed with openCost per
    chunk). The old ``df.rdd.getNumPartitions()`` probe forced plan
    analysis + RDD conversion (~0.1 s per index build — r14 verdict #1);
    this is one local stat walk. Returns None off the local filesystem
    (s3/hdfs), where the caller falls back to the probe.
    ``tests/test_ingest.py`` pins the arithmetic against Spark's actual
    split count on the bundled corpora."""
    import os

    p = parquet_path
    try:
        if os.path.isdir(p):
            sizes = [
                os.path.getsize(os.path.join(dp, f))
                for dp, _dns, fs in os.walk(p)
                for f in fs
                if not f.startswith(("_", "."))
            ]
        elif os.path.isfile(p):
            sizes = [os.path.getsize(p)]
        else:
            return None
    except OSError:
        return None
    if not sizes:
        return 0
    conf = spark.conf
    max_pb = _parse_bytes(conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    open_cost = _parse_bytes(conf.get("spark.sql.files.openCostInBytes", "4194304"))
    min_pn = int(
        conf.get(
            "spark.sql.files.minPartitionNum",
            str(spark.sparkContext.defaultParallelism),
        )
    )
    total = sum(s + open_cost for s in sizes)
    bytes_per_core = total / max(1, min_pn)
    max_split = min(max_pb, max(open_cost, int(bytes_per_core)))
    chunks: list[int] = []
    for s in sizes:
        while s > max_split:
            chunks.append(max_split)
            s -= max_split
        if s > 0:
            chunks.append(s)
    chunks.sort(reverse=True)
    n, cur = 0, 0
    for c in chunks:
        if cur + c > max_split and cur > 0:
            n += 1
            cur = 0
        cur += c + open_cost
    return n + (1 if cur > 0 else 0)


def _widen(df: DataFrame, splits: int | None = None) -> DataFrame:
    """Repartition an under-parallel scan up to the session's core count.

    A small corpus arrives as ONE parquet split (<maxPartitionBytes), which
    would serialize the tokenize pass, the docs_wide pivot, and every
    per-query docs_wide scan on a single task. One tiny shuffle at load
    buys full-width parallelism everywhere downstream. At real scale the
    input has ≥cores splits already and this is a no-op — the gate makes
    the local/bench case match the cluster execution shape instead of
    penalizing it.

    ``splits`` is the scan's split count when the caller computed it via
    :func:`_scan_splits` (local files); otherwise the RDD probe decides.
    The resulting width rides on the returned DataFrame as
    ``_ws_partitions`` so downstream persist() sizing needn't re-probe."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if splits is None:
        # probe fallback (non-local store): the plan here is a bare
        # scan+select, so the .rdd conversion costs ~ms (unlike probing a
        # built index plan)
        splits = df.rdd.getNumPartitions()
    if splits < target:
        df = df.repartition(target)
        splits = target
    df._ws_partitions = splits
    return df


def load_articles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return _widen(
        docs.select(
            F.col("doc_id").alias("id"),
            F.col("lang").alias("language"),
            "text",
            "source",
            "n_chars",
        ),
        splits=_scan_splits(f"{sf_dir}/documents.parquet", spark),
    )


# Engine cache keyed by (corpus, sf_dir, config) so a batch of queries
# against the same scale factor builds the index once (the reference's
# ingest is likewise a one-time batch; queries share the built tables).
_ENGINES: dict[tuple, Wikisearch] = {}


def get_engine(
    spark: SparkSession, sf_dir: str, config: EngineConfig | None = None
) -> Wikisearch:
    # TEXT is unevaluated (trusted from the index when coverage is exact),
    # matching the reference's query setup (Query.java:245 sets TEXT)
    config = config or EngineConfig(unevaluated_fields=frozenset({"TEXT"}))
    key = ("documents", sf_dir, config)
    eng = _ENGINES.get(key)
    if eng is None:
        articles = load_articles(spark, sf_dir)
        # doc_id is unique in documents.parquet → zero-shuffle pivot path
        eng = Wikisearch.ingest(articles, config, SCALAR_FIELDS, unique_ids=True)
        # docs_wide inherits articles' width through the narrow pivot —
        # pass it so persist() needn't analyze the pivot plan to learn it.
        # _widen stamped the width on the DataFrame (file-split arithmetic,
        # no RDD-conversion probe — r14 verdict #1).
        eng.index.persist(
            _serving_width(f"{sf_dir}/documents.parquet", spark),
            current_partitions=getattr(
                articles, "_ws_partitions", None
            ) or articles.rdd.getNumPartitions(),
        )
        _ENGINES[key] = eng
    return eng


# --- events corpus: a second ingest source with timestamp-bearing fields ---
# Demonstrates the engine is corpus-agnostic (any structured table ingests);
# TS is an ISO-format string field, so string-ordered index ranges match the
# reference's treatment of timestamps as normalized strings
# (ArticleExtractor.java:40 parses ISO-8601; index stores strings).

EVENT_SCALAR_FIELDS = {
    "ID": "id",
    "EVENT_TYPE": "event_type",
    "USER_ID": "user_id",
    "TS": "ts_str",
}


def load_event_articles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accumulo_wikisearch_spark.sources.events import read_events

    ev = read_events(spark, sf_dir)
    ts = F.col("ts")
    return _widen(
        ev.select(
            F.col("event_id").alias("id"),
            F.lit("default").alias("language"),
            F.col("event_type").alias("text"),  # TEXT = the type token
            "event_type",
            "user_id",
            F.date_format(ts, "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        ),
        splits=_scan_splits(f"{sf_dir}/events.parquet", spark),
    )


def get_events_engine(
    spark: SparkSession, sf_dir: str, config: EngineConfig | None = None
) -> Wikisearch:
    config = config or EngineConfig()
    key = ("events", sf_dir, config)
    eng = _ENGINES.get(key)
    if eng is None:
        arts = load_event_articles(spark, sf_dir)
        eng = Wikisearch.ingest(arts, config, EVENT_SCALAR_FIELDS, unique_ids=True)
        eng.index.persist(
            _serving_width(f"{sf_dir}/events.parquet", spark),
            current_partitions=getattr(arts, "_ws_partitions", None)
            or arts.rdd.getNumPartitions(),
        )
        _ENGINES[key] = eng
    return eng
