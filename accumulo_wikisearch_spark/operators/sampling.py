"""Deterministic sampling / splitting for training-data pipelines.

All operators key off the portable 60-bit hash (functions/normalize.py:
hash60_col), so they are (a) reproducible across runs and cluster sizes —
membership depends only on the key value, never on partitioning or row
order — and (b) exactly oracle-checkable in DuckDB with the same md5-prefix
expression. This is the standard "hash the stable id" technique for
train/holdout splits and per-source subsampling at corpus scale: a pure
scan-local projection + filter, no shuffle, fully pushdown-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from accumulo_wikisearch_spark.functions.normalize import HASH60_DUCKDB, hash60_col
from accumulo_wikisearch_spark.operators.layout import write_layout
from accumulo_wikisearch_spark.operators.manifest import _fs

BUCKETS = 100


def hash_bucket(key: Column | str, salt: str = "") -> Column:
    """Deterministic bucket in [0, 100): portable-hash of (salt ++ key)."""
    c = F.col(key) if isinstance(key, str) else key
    return hash60_col(F.concat(F.lit(salt), c.cast("string"))) % BUCKETS


def hash_bucket_duckdb(key_expr: str, salt: str = "") -> str:
    """DuckDB twin of :func:`hash_bucket` (for oracle SQL)."""
    h = HASH60_DUCKDB.format(expr=f"concat('{salt}', ({key_expr})::VARCHAR)")
    return f"({h} % {BUCKETS})"


def hash_split(
    df: DataFrame,
    key: str,
    weights: dict[str, int],
    salt: str = "split",
) -> DataFrame:
    """Add a ``split`` column assigning each row to a named split with the
    given integer percentages (must sum to 100). Assignment is a pure
    function of the key value — stable under reprocessing, new data lands
    in the same proportions."""
    if sum(weights.values()) != BUCKETS:
        raise ValueError(f"weights must sum to {BUCKETS}: {weights}")
    bucket = hash_bucket(key, salt)
    expr = None
    acc = 0
    for name, w in weights.items():
        acc += w
        expr = F.when(bucket < acc, name) if expr is None else expr.when(bucket < acc, name)
    return df.withColumn("split", expr)


def stratified_sample(
    df: DataFrame,
    key: str,
    stratum: str,
    fractions: dict[str, int],
    default_pct: int = 0,
    salt: str = "sample",
) -> DataFrame:
    """Keep ``fractions[stratum]`` percent of each stratum (integer percent
    per stratum value; unlisted strata keep ``default_pct``). Deterministic
    per-key membership — the per-source/per-language downsampling step of a
    corpus-mixing pipeline, as a scan-local filter."""
    bucket = hash_bucket(key, salt)
    pct = F.lit(default_pct)
    for value, p in sorted(fractions.items()):
        pct = F.when(F.col(stratum) == value, p).otherwise(pct)
    return df.where(bucket < pct)


def global_shuffle(
    df: DataFrame,
    key: str = "doc_id",
    n_shards: int = 8,
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic global shuffle for training dataloaders: every row gets
    a (shard, pos) address — shard by portable-hash mod ``n_shards``, pos by
    rank of the hash within the shard (ties broken by key). Reading shards
    in order and rows by pos yields the same pseudorandom permutation of the
    corpus on every run, independent of cluster size, partitioning, or input
    row order — the reproducibility contract a resumable training run needs.

    Scale shape: ONE shuffle (hash-partition on shard) and a per-shard sort
    for the rank — no global orderBy (a total sort would range-partition
    over a single key space; per-shard ranks parallelize across shards, and
    the training loader only ever needs within-shard order anyway)."""
    h = hash60_col(F.concat(F.lit(salt), F.col(key).cast("string")))
    from pyspark.sql import Window

    shard = (h % n_shards).cast("int")
    out = df.withColumn("_h", h).withColumn("shard", shard)
    w = Window.partitionBy("shard").orderBy("_h", key)
    return out.select(
        key, "shard", F.row_number().over(w).cast("int").alias("pos")
    )


def domain_mixture(
    df: DataFrame,
    domain: str,
    weights: dict[str, int],
    default_pct: int = 100,
    key: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Epoch-weighted domain mixing: replicate each row of domain d
    ``weights[d]`` percent times — 250 ⇒ every doc appears twice and half
    of them (chosen by deterministic hash bucket) a third time; 40 ⇒ a 40%
    downsample. This is the static mixture-reweighting step of an LLM data
    pipeline (domain weights from scaling-law / DoReMi-style tuning applied
    as integer epoch counts), expressed as a scan-local explode — no
    shuffle, no RNG state, replayable on any cluster shape.

    Output: (key, domain, copy) with copy = 0..n_copies-1; rows whose
    domain downsamples to zero copies are dropped."""
    pct = F.lit(default_pct)
    for value, p in sorted(weights.items()):
        pct = F.when(F.col(domain) == value, p).otherwise(pct)
    extra = (hash_bucket(key, salt) < pct % BUCKETS).cast("int")
    ncop = (pct / BUCKETS).cast("int") + extra
    copies = F.when(
        ncop > 0, F.sequence(F.lit(0).cast("int"), (ncop - 1).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    return df.select(
        key,
        F.col(domain).alias("domain"),
        F.explode(copies).alias("copy"),
    )


# ---------------------------------------------------------------------------
# driver registry
# ---------------------------------------------------------------------------

_SPLIT_WEIGHTS = {"train": 98, "val": 1, "test": 1}
_STRATA_PCT = {"en": 50, "es": 25, "de": 20, "fr": 10, "zh": 5}


def _split_entry(spark, sf_dir: str) -> DataFrame:
    from accumulo_wikisearch_spark.session import tune_runtime

    tune_runtime(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return hash_split(docs, "doc_id", _SPLIT_WEIGHTS).select("doc_id", "split")


def _stratified_entry(spark, sf_dir: str) -> DataFrame:
    from accumulo_wikisearch_spark.session import tune_runtime

    tune_runtime(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_sample(
        docs, "doc_id", "lang", _STRATA_PCT, default_pct=2
    ).select("doc_id", "lang")


def write_training_shards(
    docs: DataFrame,
    path: str,
    n_shards: int = 16,
    key: str = "doc_id",
    salt: str = "shard",
) -> list[dict]:
    """Export a curated corpus as deterministic training shards: shard =
    portable-hash(key) % n_shards, written as ``shard=<i>/`` parquet
    partitions, plus a manifest (per-shard doc count and an order-invariant
    content checksum — the XOR-fold of row key-hashes). Re-running on
    the same corpus reproduces byte-identical shard membership regardless of
    cluster size or row order — the property a resumable training-data
    delivery needs. One hash projection + one shuffle on the shard key."""
    h = hash60_col(F.concat(F.lit(salt), F.col(key).cast("string")))
    sharded = docs.withColumn("shard", (h % n_shards).cast("int"))
    write_layout(sharded.repartition("shard"), path, ("shard",))
    written = (
        sharded.sparkSession.read.parquet(path)
        .select("shard", hash60_col(F.col(key).cast("string")).alias("_h"))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            # XOR-fold: order-invariant and overflow-free
            F.expr("bit_xor(_h)").alias("checksum"),
        )
        .orderBy("shard")
        .collect()
    )
    manifest = [
        {"shard": r["shard"], "n_docs": r["n_docs"], "checksum": r["checksum"]}
        for r in written
    ]
    import json

    fs, p, _ = _fs(sharded.sparkSession, f"{path}/_MANIFEST.json")
    out = fs.create(p, True)
    out.write(bytearray(json.dumps(manifest, indent=1).encode()))
    out.close()
    return manifest


_MIX_WEIGHTS = {"src1": 250, "src3": 120, "src7": 40}


def _shuffle_entry(spark, sf_dir: str) -> DataFrame:
    from accumulo_wikisearch_spark.session import tune_runtime

    tune_runtime(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return global_shuffle(docs)


def _mixture_entry(spark, sf_dir: str) -> DataFrame:
    from accumulo_wikisearch_spark.session import tune_runtime

    tune_runtime(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return domain_mixture(docs, "source", _MIX_WEIGHTS)


# written-shard cache per sf_dir (immutable once written)
_WRITTEN_SHARDS: dict = {}


def _shards_entry(spark, sf_dir: str) -> DataFrame:
    """Training-shard export driven end-to-end: write the shard=<i>/
    partitions, re-read THE FILES, and return the manifest (per-shard doc
    count + order-invariant XOR-fold checksum) — the oracle recomputes
    both independently from the source table, so a dropped row, a
    misrouted shard, or a corrupted write all hash-mismatch."""
    import tempfile

    from accumulo_wikisearch_spark.session import tune_runtime

    tune_runtime(spark)
    manifest = _WRITTEN_SHARDS.get(sf_dir)
    if manifest is None:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        path = tempfile.mkdtemp(prefix="wikisearch-shards-")
        manifest = write_training_shards(docs, path)
        _WRITTEN_SHARDS[sf_dir] = manifest
    return spark.createDataFrame(
        [(m["shard"], m["n_docs"], m["checksum"]) for m in manifest],
        "shard int, n_docs bigint, checksum bigint",
    )


def _shards_sql(n_shards: int = 16) -> str:
    shard_h = HASH60_DUCKDB.format(expr="concat('shard', doc_id::VARCHAR)")
    key_h = HASH60_DUCKDB.format(expr="doc_id::VARCHAR")
    return f"""
SELECT ({shard_h} % {n_shards})::INTEGER AS shard,
  count(*)::BIGINT AS n_docs,
  bit_xor({key_h})::BIGINT AS checksum
FROM documents GROUP BY 1
"""


def queries():
    return {
        "sample_train_split": _split_entry,
        "sample_stratified": _stratified_entry,
        "sample_global_shuffle": _shuffle_entry,
        "sample_domain_mixture": _mixture_entry,
        "sample_shards_roundtrip": _shards_entry,
    }


def _split_sql() -> str:
    b = hash_bucket_duckdb("doc_id", "split")
    branches = []
    acc = 0
    for name, w in _SPLIT_WEIGHTS.items():
        acc += w
        branches.append(f"WHEN {b} < {acc} THEN '{name}'")
    case = "CASE " + " ".join(branches) + " END"
    return f"SELECT doc_id, {case} AS split FROM documents"


def _stratified_sql() -> str:
    b = hash_bucket_duckdb("doc_id", "sample")
    pct = str(2)
    for value, p in sorted(_STRATA_PCT.items()):
        pct = f"CASE WHEN lang = '{value}' THEN {p} ELSE {pct} END"
    return f"SELECT doc_id, lang FROM documents WHERE {b} < ({pct})"


def _shuffle_sql(n_shards: int = 8) -> str:
    h = HASH60_DUCKDB.format(expr="concat('shuffle', doc_id::VARCHAR)")
    return f"""
WITH s AS (SELECT doc_id, {h} AS h FROM documents)
SELECT doc_id, (h % {n_shards})::INTEGER AS shard,
  row_number() OVER (PARTITION BY h % {n_shards} ORDER BY h, doc_id)::INTEGER AS pos
FROM s
"""


def _mixture_sql() -> str:
    b = hash_bucket_duckdb("doc_id", "mix")
    pct = str(100)
    for value, p in sorted(_MIX_WEIGHTS.items()):
        pct = f"CASE WHEN source = '{value}' THEN {p} ELSE {pct} END"
    return f"""
WITH w AS (
  SELECT doc_id, source AS domain,
    ({pct}) // {BUCKETS} + CASE WHEN {b} < ({pct}) % {BUCKETS} THEN 1 ELSE 0 END AS n
  FROM documents
)
SELECT doc_id, domain, u.copy::INTEGER AS copy
FROM w, unnest(range(0, n)) AS u(copy)
"""


def oracle_sql():
    return {
        "sample_train_split": _split_sql(),
        "sample_stratified": _stratified_sql(),
        "sample_global_shuffle": _shuffle_sql(),
        "sample_domain_mixture": _mixture_sql(),
        "sample_shards_roundtrip": _shards_sql(),
    }
