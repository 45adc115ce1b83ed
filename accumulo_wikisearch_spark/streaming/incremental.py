"""Incremental index maintenance — the reference's LSM-combiner semantics
(A4/O18 in SURVEY.md §2.2/§4) re-expressed for Spark.

In the reference, new writes merge with existing index state at compaction
time: ``GlobalIndexUidCombiner`` re-folds Uid.Lists on every scan/compaction
(scopes attached at ``WikipediaIngester.java:98-135``), so re-ingesting
articles grows counts and may flip a posting into the IGNORE tier.

Here every write path goes through ONE fold,
``operators/compaction.py:_fold_deltas``: append tables union, the
aggregated tables re-run their combiner algebra (``merge_global_index``:
sum COUNT, union UID set, IGNORE past uid_max —
``GlobalIndexUidCombiner.java:66-75``; ``merge_term_index``: sum tf,
merge-sort offsets — ``TextIndexCombiner.java:40-106``;
``merge_metadata``). :func:`incremental_update` applies it in memory;
:func:`stream_ingest` flushes each micro-batch as a delta and compacts,
which applies it on disk. This module also holds the CDC tails
(:func:`stream_changes`, :func:`stream_deletes`) and their reconcile
guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from accumulo_wikisearch_spark.config import EngineConfig
from accumulo_wikisearch_spark.operators.compaction import (
    _ALL_TABLES,
    _CDC_ANCHOR,
    _count_files,
    _flush_stream,
    _fold_deltas,
    _visible_file_count,
    compact_index,
    raw_delta_names,
)
from accumulo_wikisearch_spark.operators.ingest import WikisearchIndex, build_index
from accumulo_wikisearch_spark.operators.manifest import (
    _fs,
    read_replaced_json,
    replace_json,
    resolve_root,
)


def incremental_update(
    index: WikisearchIndex,
    new_articles: DataFrame,
    scalar_fields: dict[str, str],
    text_col: str = "text",
) -> WikisearchIndex:
    """Batch-merge newly arrived articles into an existing catalog, in
    memory: ``build_index`` of the new articles folded in by
    ``_fold_deltas`` — the same fold a merge-read or a compaction applies
    to a flushed delta, so the answers match.

    The result is an in-memory view (``catalog_path``,
    ``manifest_version`` and ``merged_deltas`` are None): a facade over
    it never probes the disk, so it cannot be "healed" back to the
    stored state without the new articles."""
    delta = build_index(new_articles, index.config, scalar_fields, text_col)
    merged = _fold_deltas(index, lambda name: getattr(delta, name), index.config)
    merged.catalog_path = merged.manifest_version = None
    return merged


# part-file count past which stream_ingest warns per batch that it is
# rewriting a catalog big enough to want the delta path instead
REWRITE_WARN_FILES = 64


def _warn_if_large_rewrite(spark, index_path: str, threshold: int) -> bool:
    """Emit a RuntimeWarning when the catalog stream_ingest is about to
    rewrite IN FULL is already large — the O(catalog)-per-batch write
    amplification is a scale trap if this path was picked for continuous
    ingest of a big store. Returns whether it warned (tested directly;
    the per-batch listing is one recursive listFiles, trivial next to the
    full rewrite it gates)."""
    import warnings

    root, _ = resolve_root(spark, index_path)
    # count the TABLE directories only: on a legacy catalog root == path,
    # where a recursive root count sweeps in deltas/ part files and any
    # orphan gen-* dir — pending deltas are not part of what the full
    # rewrite rewrites, and counting them produced false scale-trap
    # warnings (same miscount compact_index's files_before had)
    n = sum(_count_files(spark, f"{root}/{t}") for t in _ALL_TABLES)
    if n <= threshold:
        return False
    warnings.warn(
        f"stream_ingest rewrites the ENTIRE catalog every micro-batch and"
        f" {index_path} already holds {n} part files (> {threshold}) — for"
        f" continuous ingest use operators.compaction.stream_ingest_deltas"
        f" (O(batch) flushes + periodic compaction); stream_ingest earns"
        f" its keep as the periodic RE-CLUSTERING rewrite for z-ordered"
        f" catalogs, not as the steady-state ingest path.",
        RuntimeWarning,
        stacklevel=2,
    )
    return True


def stream_ingest(
    stream_articles: DataFrame,
    index_path: str,
    config: EngineConfig,
    scalar_fields: dict[str, str],
    text_col: str = "text",
    checkpoint: str | None = None,
):
    """Full-rewrite streaming ingest: readStream → foreachBatch(flush +
    compaction). Each micro-batch is flushed as a delta exactly as
    :func:`~accumulo_wikisearch_spark.operators.compaction.stream_ingest_deltas`
    does, then :func:`~accumulo_wikisearch_spark.operators.compaction.compact_index`
    folds it and rewrites the WHOLE catalog. This is the RE-CLUSTERING
    variant: a z-ordered store gets re-clustered with refit bits/offsets
    every batch.

    Every batch mints one compaction (``kind="fold"``) generation that
    records the batch it folded, so ``read_changes``, the CDC tails and
    ``replicate_deltas`` work across it. Replays are safe: the delta id
    is ``{query id}-{batchId}``, so a batch Spark re-runs after a crash
    between the compaction and the streaming commit is skipped as
    already folded (the compaction still runs — a replayed batch may
    still be pending).

    **Scale warning — O(catalog) write amplification per batch.** Over a
    day of micro-batches the bytes written are quadratic in catalog
    size; for CONTINUOUS ingest use ``stream_ingest_deltas`` (O(batch)
    delta flushes, scan-time merge-read, periodic compaction — the
    reference's own minor/major-compaction shape, README.md:206-219).
    This path earns its keep only when every batch should leave the
    store fully re-clustered and the catalog is small, or as a scheduled
    re-layout job. A per-batch RuntimeWarning fires once the catalog
    exceeds ``REWRITE_WARN_FILES`` part files.

    ``stream_articles`` is a streaming DataFrame with the articles
    contract.
    """

    def compact(spark) -> None:
        _warn_if_large_rewrite(spark, index_path, REWRITE_WARN_FILES)
        compact_index(spark, index_path, config)

    return _flush_stream(
        "stream_ingest",
        stream_articles,
        index_path,
        config,
        scalar_fields,
        text_col,
        checkpoint,
        after_flush=compact,
    )


# batch names in a checkpoint's file-source log: any path segment under
# deltas/ followed by one of the two flush-kind table dirs, anchored to
# the FILENAME end — a catalog rooted under a path that itself contains
# a /deltas/<x>/documents/ segment must not attribute entries to the
# outer segment (r12 ADVICE, same class as compaction.kind_feed)
_SEEN_BATCH_RE = None  # compiled lazily (module keeps import cheap)
_BATCHID_RE = None

# last sweep's work counters, for the O(lag) pytest
# (test_cdc_guard_restart_sweep_is_o_lag): files_opened = source-log
# files actually read (files whose name-id is ≤ the anchor's log_pos
# are skipped whole), entries_parsed = JSON entries decoded (entries at
# batch ids ≤ log_pos are regex-skipped inside compacted log files
# without a decode). THREAD-LOCAL, not module-global: two tails
# reconciling concurrently in one driver (each construction runs in its
# caller's thread) must not interleave writes to shared counters (r13
# verdict #7) — test-only instrumentation, zero effect on the guard.
import threading as _threading

_SWEEP_LOCAL = _threading.local()


def _sweep_stats() -> dict:
    """This thread's last-sweep work counters (reset per sweep)."""
    d = getattr(_SWEEP_LOCAL, "stats", None)
    if d is None:
        d = _SWEEP_LOCAL.stats = {"files_opened": 0, "entries_parsed": 0}
    return d


def _seen_batches(
    spark, checkpoint: str, after_batch_id: int = -1
) -> tuple[dict[str, set], int]:
    """Per-batch sets of consumed FILE paths this checkpoint's
    file-source log recorded in a COMMITTED micro-batch with id strictly
    greater than ``after_batch_id``, plus the highest committed
    micro-batch id. File-level (not name-level) granularity is
    load-bearing (r13): with ``maxFilesPerTrigger`` a batch dir's files
    can span micro-batches, and a consumer stopped mid-batch has
    consumed SOME of the batch — a name-level seen set would mark it
    fully consumed and let retention retire the half-read dir silently.
    Planned-but-uncommitted files are excluded on purpose: a restart
    reprocesses them, so counting them as consumed would let the
    reconcile guard (:func:`reconcile_cdc_tail`) advance past data that
    was never actually delivered downstream.

    ``after_batch_id`` is the guard's O(lag) bound (r12 verdict #3): the
    anchor file persists the committed id its consumed/pending sets
    already reflect, so this sweep skips log FILES named ≤ that id
    outright (a plain file N holds only batch N's entries; a compacted
    ``N.compact`` holds everything ≤ N) and, inside a compacted file
    that does span the bound, regex-skips old entries without a JSON
    decode. Work is then proportional to the tail's consumer lag, not
    its all-time consumption."""
    import json as _json
    import re as _re
    from urllib.parse import unquote

    global _SEEN_BATCH_RE, _BATCHID_RE
    if _SEEN_BATCH_RE is None:
        _SEEN_BATCH_RE = _re.compile(
            r"/deltas/([^/]+)/(?:documents|tombstones)/[^/]+$"
        )
        _BATCHID_RE = _re.compile(r'"batchId"\s*:\s*(-?\d+)')
    stats = _sweep_stats()
    stats["files_opened"] = 0
    stats["entries_parsed"] = 0
    fs, _, jvm = _fs(spark, checkpoint)
    HPath = jvm.org.apache.hadoop.fs.Path
    committed = -1
    commits = HPath(f"{checkpoint}/commits")
    if fs.exists(commits):
        for st in fs.listStatus(commits):
            n = st.getPath().getName()
            if n.isdigit():
                committed = max(committed, int(n))
    sources = HPath(f"{checkpoint}/sources")
    if committed < 0 or not fs.exists(sources):
        return {}, committed
    out: dict[str, set] = {}
    it = fs.listFiles(sources, True)
    while it.hasNext():
        p = it.next().getPath()
        name = p.getName()
        if name.startswith("."):
            continue
        # file-name bound: log file N (or N.compact) carries no entry
        # with batchId > N, so nothing past the already-reflected id
        base_id = name[: -len(".compact")] if name.endswith(".compact") else name
        if base_id.isdigit() and int(base_id) <= after_batch_id:
            continue
        stats["files_opened"] += 1
        stream = fs.open(p)
        try:
            data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()
        for line in data.decode().splitlines():
            if not line.startswith("{"):
                continue  # the v1 version header
            # cheap pre-filter before the JSON decode: a compacted file
            # re-carries ALL history; entries at ids the anchor already
            # reflects are skipped without parsing (stay conservative —
            # an entry whose id the regex can't find is parsed)
            bm = _BATCHID_RE.search(line)
            if bm is not None:
                bid = int(bm.group(1))
                if bid <= after_batch_id or bid > committed:
                    continue
            try:
                e = _json.loads(line)
            except ValueError:
                continue
            stats["entries_parsed"] += 1
            bid = int(e.get("batchId", -1))
            if bid > committed or bid <= after_batch_id:
                continue
            epath = e.get("path", "")
            m = _SEEN_BATCH_RE.search(epath)
            if m:
                # paths dedupe within the window (a compacted log file
                # re-carries delta-file entries verbatim); windows are
                # disjoint by batchId, so cross-window COUNTS add
                out.setdefault(unquote(m.group(1)), set()).add(epath)
    return out, committed


def reconcile_cdc_tail(
    spark, path: str, checkpoint: str, table: str = "documents"
) -> None:
    """Fail LOUDLY when a restarting CDC tail may have missed retired
    batches — the guard that makes the tails' exactly-once claim honest
    across stops (r11 verdict #1).

    The hole without it: a published batch dir stays on disk only while
    the manifest that folded it is retained; a tail stopped across
    ``retain_generations`` source compactions restarts and the file
    source simply never lists the deleted dirs — no error, no gap
    marker. ``read_changes`` raises in the identical situation (via
    ``read_manifest_at``) and ``replicate_deltas`` raises re-clone; the
    streaming tail was the one lifecycle consumer with a silent hole.
    The reference's operational model never drops ingested data on the
    floor (reference README.md:206-219 — scans see all writes; Accumulo
    replication blocks WAL GC until shipped).

    Mechanism — pure metadata, one catalog listing + one small JSON
    read per retained manifest plus one checkpoint-log sweep, never a
    data scan. The checkpoint carries a ``_cdc_anchor.json`` with the
    source identity, an anchor version A (every relevant batch folded
    at versions ≤ A is in the committed seen-file log), and the
    OBSERVED fold sets of versions still above A — persisting what each
    version folded is what makes the guard exact: a version whose folds
    were observed at some construction stays checkable against the
    seen log even after retention retires its manifest, so a consumed
    batch never false-alarms and an unconsumed one is never silently
    skipped (including by a stream constructed but never run — its
    owed folds are already in the anchor file). Only ``table``-relevant
    batches are owed (a documents tail never consumes tombstone
    batches; kind comes from one existence check per newly observed
    batch). On every construction:

    1. the source identity must match (a checkpoint reused across
       catalogs would silently mix seen-file logs);
    2. fold sets of retained versions above A merge into the observed
       map; a version in (A, current] in NEITHER the map nor the
       retained set was minted AND retired entirely between
       constructions — its folds are unknowable: raise;
    3. every owed batch above A must be FULLY consumed (all of its
       files in the COMMITTED seen-file log — file-level, because
       ``maxFilesPerTrigger`` can split a batch across micro-batches
       and a mid-batch stop leaves it half-read) or still on disk
       (deliverable) — otherwise data is gone unread: raise;
    4. A advances through versions whose owed batches are all fully
       consumed (not merely on disk — disk can retire before the next
       run); entries ≤ the new A are trimmed from the map.

    A fresh checkpoint owes exactly what is still deliverable: the
    retained versions' folds (on disk by definition) enter the map and
    history older than that is not owed. A pre-guard checkpoint (seen
    files, no anchor) starts the same way; losses that predate its
    first guarded start are undetectable.

    A retained generation whose manifest ``kind != 'fold'`` (a full
    rewrite — a direct ``swap_in_catalog`` of a staged catalog, or a
    manifest predating the kind marker) changed content no
    delta dir records, so the tail cannot represent it: a rewrite ABOVE
    the anchor of a resumed tail raises the re-bootstrap error
    (``read_changes`` and ``replicate_deltas`` raise on exactly this
    condition; r12 ADVICE closed the tail's silent hole). On a FIRST
    guarded construction a retained rewrite is tolerated and owes
    nothing: it predates the subscription, and the consumer's bootstrap
    snapshot (the documented re-bootstrap protocol) already contains
    its effect.

    Restart cost is O(consumer lag), not O(all-time consumption) (r12
    verdict #3): the anchor file persists the committed micro-batch id
    its knowledge reflects (``log_pos``), the per-owed-version consumed
    subsets, and the consumed-but-not-yet-folded names (bounded by the
    on-disk pending set) — so the seen-file sweep skips log files and
    entries at ids ≤ ``log_pos`` instead of re-parsing the full history
    at every construction.

    Residual constraint (shared with ``read_changes`` and sized by the
    same knob): the guard runs at construction — it cannot stop
    retention from outrunning a hung consumer MID-run, it can only
    detect it at the next start. Size ``retain_generations`` to the
    slowest consumer's drain-and-restart cadence."""
    from accumulo_wikisearch_spark.operators.replication import (
        _qualified,
        _source_manifests,
    )

    q_src = _qualified(spark, path)
    manifests = _source_manifests(spark, path)
    current = max(manifests) if manifests else 0
    state = read_replaced_json(spark, checkpoint, _CDC_ANCHOR)
    if state is not None:
        if state.get("source") != q_src:
            raise ValueError(
                f"reconcile_cdc_tail: checkpoint {checkpoint} was anchored"
                f" to source {state.get('source')!r}, not {q_src!r} — one"
                " tail checkpoint tracks one catalog (its seen-file log"
                " is meaningless against any other)"
            )
    def batch_file_count(b: str) -> int:
        """Visible file count of this tail's table dir in batch ``b`` —
        published dirs are immutable, so the count observed at ANY
        construction is the count forever. -1 = dir already gone (count
        unknowable; degrade to name-level any-consumption semantics).
        Delegates to the ONE implementation of the file source's
        hidden-file rule (``compaction._visible_file_count``) — the
        same rule the fold records into the manifest, so recorded owed
        counts and observed counts can never drift (r14 review)."""
        return _visible_file_count(spark, f"{path}/deltas/{b}/{table}")

    def fold_count(ver: int, b: str) -> int:
        """Exact file count of batch ``b`` folded at ``ver``: prefer the
        count the FOLD recorded in its manifest (captured while the dir
        certainly existed — r13 verdict #2), fall back to probing the
        (immutable) dir for legacy manifests. -1 only when both are
        unavailable (pre-r14 manifest AND dir already retired)."""
        rec = ((manifests.get(ver) or {}).get("folded_files") or {}).get(b)
        if rec is not None and table in rec:
            return int(rec[table])
        return batch_file_count(b)

    if state is not None:
        anchor = int(state.get("version", 0))
        # pre-r13 anchors persisted name LISTS; dirs are immutable, so a
        # still-on-disk batch upgrades to an exact count on first read
        # (or to the fold-recorded count when the manifest carries one)
        owed = {}
        for k, v in state.get("folds", {}).items():
            owed[int(k)] = (
                {b: int(n) for b, n in v.items()}
                if isinstance(v, dict)
                else {b: fold_count(int(k), b) for b in v}
            )
        consumed = {}
        for k, v in state.get("consumed", {}).items():
            consumed[int(k)] = (
                {b: int(n) for b, n in v.items()}
                if isinstance(v, dict)
                else {b: -1 for b in v}  # legacy: name-seen = complete
            )
        pend = state.get("pending_seen", [])
        pending = (
            {b: int(n) for b, n in pend.items()}
            if isinstance(pend, dict)
            else {b: -1 for b in pend}
        )
        log_pos = int(state.get("log_pos", -1))
    else:
        # first guarded construction: owe what is still deliverable —
        # the retained versions' folds; versions already retired
        # predate the subscription (or, for a pre-guard checkpoint,
        # are undetectable) and are not owed
        anchor = min(manifests) - 1 if manifests else 0
        owed = {}
        consumed = {}
        pending = {}
        log_pos = -1
    new_seen, committed = _seen_batches(spark, checkpoint, log_pos)
    gained = {b: len(paths) for b, paths in new_seen.items()}

    def _addc(a: int, b: int) -> int:
        return -1 if (a == -1 or b == -1) else a + b

    def _complete(n_files: int, c: int) -> bool:
        # c == -1: legacy complete marker; n_files == -1: count
        # unknowable (dir retired before observation) — any consumption
        # passes, the pre-r13 name-level rule
        if c == -1:
            return True
        if n_files >= 0:
            return c >= n_files
        return c > 0

    def batch_kind(b: str) -> str | None:
        dfs, dh, _ = _fs(spark, f"{path}/deltas/{b}")
        if not dfs.exists(dh):
            return None  # gone already — kind unknowable, stay conservative
        djvm = spark.sparkContext._jvm
        tomb = djvm.org.apache.hadoop.fs.Path(f"{path}/deltas/{b}/tombstones")
        return "tombstones" if dfs.exists(tomb) else "documents"

    remedy = (
        " Re-bootstrap the consumer (snapshot read or clone_catalog, then"
        " a FRESH-checkpoint tail), or raise retain_generations on the"
        " source's maintenance ops / restart the tail at least once per"
        " retention window."
    )
    # merge newly observed retained fold sets (kind-filtered: this tail
    # owes only its own table's batches, WITH their immutable file counts
    # — a batch is consumed only when every file is in the committed log,
    # not when its name first appears (maxFilesPerTrigger can split a
    # batch across micro-batches); unknown-kind stays owed so the
    # pathological dir-vanished-early case fails loud, not silent). A
    # non-fold generation above a RESUMED tail's anchor is the silent
    # hole the guard exists to close — raise, mirroring read_changes.
    for v, body in sorted(manifests.items()):
        if v > anchor and v not in owed:
            if body.get("kind") != "fold":
                if state is not None:
                    raise RuntimeError(
                        f"CDC tail cannot cross a full-rewrite generation of"
                        f" {path}: version {v} is a"
                        f" '{body.get('kind', 'unmarked')}' generation, not a"
                        " compaction fold — a full rewrite changed content no"
                        " delta batch records, so the tail has no batches to"
                        " deliver for it and would silently diverge."
                        + remedy
                    )
                # predates a FRESH subscription: the bootstrap snapshot
                # already contains the rewrite's effect; nothing is owed
                owed[v] = {}
            else:
                owed[v] = {}
                recs = body.get("folded_files") or {}
                for b in sorted(body.get("folded_deltas", [])):
                    rec = recs.get(b)
                    if rec is not None:
                        # fold-time record: exact count even when the
                        # dir is already gone, and kind attribution
                        # without an existence probe — a batch with no
                        # entry for this tail's table is the other
                        # flush kind, not owed (r13 verdict #2)
                        if table in rec:
                            owed[v][b] = int(rec[table])
                    else:
                        # legacy (pre-r14) manifest: probe the dir
                        k = batch_kind(b)
                        if k == table:
                            owed[v][b] = batch_file_count(b)
                        elif k is None:
                            owed[v][b] = -1
    unknowable = [
        v for v in range(anchor + 1, current + 1) if v not in owed
    ]
    if unknowable:
        raise RuntimeError(
            f"CDC tail fell behind the retention window of {path}: source"
            f" versions {unknowable} after this checkpoint's reconcile"
            f" anchor (v{anchor}) were minted AND retired while the tail"
            " was stopped — what they folded is unknowable, so batches"
            " this tail never consumed may be gone." + remedy
        )
    # attribute consumed-file counts to their owed versions (each batch
    # is folded exactly once, so attribution is unambiguous); persisted
    # counts from prior constructions cover log entries now skipped by
    # the log_pos bound, and pending counts cover consumption that
    # predates the batch's fold
    for v in owed:
        cm = consumed.setdefault(v, {})
        for b in owed[v]:
            got = _addc(pending.get(b, 0), gained.get(b, 0))
            if got:
                cm[b] = _addc(cm.get(b, 0), got)
    on_disk = raw_delta_names(spark, path)
    for v in sorted(owed):
        missing = [
            b
            for b, n in owed[v].items()
            if not _complete(n, consumed[v].get(b, 0)) and b not in on_disk
        ]
        if missing:
            raise RuntimeError(
                f"CDC tail fell behind the retention window of {path}:"
                f" batch dirs {missing} folded at version {v} are gone and"
                " this checkpoint's committed seen-file log never consumed"
                " them in full (a partially-read batch counts: its unread"
                " files are unrecoverable)." + remedy
            )
    # advance through fully-CONSUMED versions only: an on-disk-but-
    # unfinished batch stays owed (with its fold map persisted) so its
    # retirement before the next run is caught exactly, never passed
    attributed = set().union(*(set(bs) for bs in owed.values())) if owed else set()
    new_anchor = anchor
    while new_anchor + 1 in owed and all(
        _complete(n, consumed[new_anchor + 1].get(b, 0))
        for b, n in owed[new_anchor + 1].items()
    ):
        new_anchor += 1
        del owed[new_anchor]
        consumed.pop(new_anchor, None)
    # consumed-but-not-yet-folded counts: kept until a future fold
    # attributes them (the dir must still exist for that fold to happen,
    # so intersecting with on_disk bounds the map by the pending backlog
    # instead of growing with history)
    new_pending = {
        b: _addc(pending.get(b, 0), gained.get(b, 0))
        for b in set(pending) | set(gained)
        if b not in attributed and b in on_disk
    }
    # crash-safe replace: a lost anchor would re-initialize the guard as
    # a fresh checkpoint and silently discard the persisted fold sets,
    # turning a detectable fell-behind into a silent pass
    replace_json(
        spark,
        checkpoint,
        _CDC_ANCHOR,
        {
            "source": q_src,
            "version": new_anchor,
            "folds": {str(v): owed[v] for v in sorted(owed)},
            "consumed": {
                str(v): {
                    b: c
                    for b, c in consumed.get(v, {}).items()
                    if b in owed[v]
                }
                for v in sorted(owed)
            },
            "pending_seen": new_pending,
            "log_pos": max(log_pos, committed),
        },
    )


def stream_changes(
    spark,
    path: str,
    max_files_per_trigger: int | None = None,
    checkpoint: str | None = None,
) -> DataFrame:
    """Streaming tail of the catalog's APPEND feed — the CDC twin of
    ``operators.compaction.read_changes`` for consumers that want every
    flushed batch as it lands instead of polling between snapshots.

    A Structured Streaming file source over
    ``{path}/deltas/[^._]*/documents``: ``write_delta`` /
    ``stream_ingest_deltas`` publish each batch dir with ONE atomic
    rename out of a hidden ``._staged_*`` name, and the glob's negated
    class excludes hidden names AT THE BATCH SEGMENT — the default
    hidden-file filter does NOT apply to glob-matched intermediate dirs
    (``*`` matches dot-names; verified live), so a plain ``*`` tailed
    in-flight staging dirs and then re-delivered the same rows after
    the publish rename (new path = new seen-file entry): phantom rows
    of never-published batches plus double delivery. Published batch
    ids can never start with '.'/'_' (``_check_batch_id``), so the
    class is exact. The checkpoint's seen-file log then makes delivery
    exactly-once across restarts; a compaction FOLDING a batch is
    invisible to the tail (the fold does not touch the batch dir), and
    retention deleting the dir after its folding manifest retires is
    covered by the reconcile guard below — a tail stopped across the
    retention window must fail LOUDLY, not skip the retired batches.
    At 100 TB this is a log subscription: each trigger lists the delta
    area and reads only new files, never the catalog.

    ``checkpoint`` — pass the SAME checkpoint location the consuming
    ``writeStream`` uses to arm :func:`reconcile_cdc_tail` at every
    stream construction: it compares the checkpoint's committed
    seen-file log and reconcile anchor against the catalog's retained
    manifests and raises the curated fell-behind error when retention
    may have deleted batches this tail never consumed (the same loud
    behavior as ``read_changes`` and ``replicate_deltas``). Without it
    the exactly-once claim holds only for consumers restarted at least
    once per source retention window — and a violation is silent.

    Returns (batch, change='append', partition_id, language, doc_id,
    text). Appends only — deletes ride tombstone batches with a
    different shape; consume those between snapshots via
    ``read_changes`` (which also reports them with exact versions).
    ``max_files_per_trigger`` caps per-micro-batch intake for a bounded
    blast radius on catch-up."""
    from pyspark.sql import functions as F

    if checkpoint is not None:
        reconcile_cdc_tail(spark, path, checkpoint)
    # the documents schema is engine-fixed; take it from the base
    # catalog's own table (schema-only read, no data scan)
    root, _ = resolve_root(spark, path)
    schema = spark.read.parquet(f"{root}/documents").schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(f"{path}/deltas/[^._]*/documents")
    # extraction anchored to the filename end: a catalog rooted under a
    # path that itself contains a /deltas/<x>/documents/ segment must
    # not attribute rows to the outer segment (r12 ADVICE)
    return docs.select(
        F.regexp_extract(
            F.input_file_name(), r"/deltas/([^/]+)/documents/[^/]+$", 1
        ).alias("batch"),
        F.lit("append").alias("change"),
        *[F.col(f.name) for f in schema.fields],
    )


def stream_deletes(
    spark,
    path: str,
    max_files_per_trigger: int | None = None,
    checkpoint: str | None = None,
) -> DataFrame:
    """Streaming tail of the catalog's DELETE feed — the tombstone twin
    of :func:`stream_changes`, over ``{path}/deltas/[^._]*/tombstones``
    (the same hidden-segment exclusion: in-flight ``._staged_tomb_*``
    dirs must neither deliver phantom deletes nor double-deliver after
    the publish rename). The same guarantees hold (atomic batch
    publish, exactly-once via the checkpoint's seen-file log, folds
    invisible to the tail, and the same ``checkpoint``-armed
    :func:`reconcile_cdc_tail` guard against retention outrunning a
    stopped consumer); the shape differs because a delete carries only
    its id. Returns (batch, change='delete', doc_id). A downstream
    mirror subscribes to both tails — each with its OWN checkpoint
    (and so its own reconcile anchor), with ``max_files_per_trigger``
    bounding catch-up on each — while cross-snapshot consumers that
    need exact version attribution use ``read_changes`` instead."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    if checkpoint is not None:
        reconcile_cdc_tail(spark, path, checkpoint, table="tombstones")
    # the tombstones schema is fixed by write_tombstones: (doc_id long)
    schema = StructType([StructField("doc_id", LongType())])
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    tombs = reader.parquet(f"{path}/deltas/[^._]*/tombstones")
    return tombs.select(
        F.regexp_extract(
            F.input_file_name(), r"/deltas/([^/]+)/tombstones/[^/]+$", 1
        ).alias("batch"),
        F.lit("delete").alias("change"),
        F.col("doc_id").cast("long").alias("doc_id"),
    )
