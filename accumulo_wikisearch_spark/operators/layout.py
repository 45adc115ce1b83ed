"""Z-order (Morton-curve) data layout — multi-column pruning for scans
that filter on TWO keys at once.

A single `partitionBy(col)` layout prunes scans on that column only; a
100 TB event store queried by BOTH `(user_id range)` and `(shard/time
range)` forces a full scan for one of them. Interleaving the bits of the
two keys (Morton 1966; the same technique behind Delta/Iceberg OPTIMIZE
ZORDER) makes points close in EITHER dimension close on the curve, so
partitioning by the z-value's top bits yields directories that are
axis-aligned RECTANGLES in (x, y) — a range box on either or both keys
maps to a small, exactly-computable set of directories.

Everything here is plain integer bit arithmetic (shift/and/or), so the
z-values are engine-exact and the driver entry hash-checks them against
a DuckDB replay; the query-side bucket enumeration is a driver-side loop
over at most ``2^bucket_bits`` buckets (bounded, like the IVF probe-cell
collect), NOT a scan.

No reference analogue: the reference's only layout is the single-key
sorted Accumulo table (partitioner.RangePartitioner); this is part of
the engine's Spark-native scale surface.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from accumulo_wikisearch_spark.operators.manifest import _fs, _open_json

ZBITS = 10  # per-dimension bits → z in [0, 2^20)
BUCKET_BITS = 4  # top z-bits used as the partition directory key
_META = "_ZLAYOUT.json"  # layout sidecar beside the store (the _QUANTIZER.json pattern)


def zvalue_col(c1: Column, c2: Column, bits: int = ZBITS) -> Column:
    """Morton z-value of the low ``bits`` of two non-negative integer
    columns: bit j of x lands at z-bit 2j, bit j of y at 2j+1. A flat
    ±-chain of 2·bits shift/and terms — whole-stage codegen, no UDF."""
    x = F.pmod(c1.cast("long"), F.lit(1 << bits))
    y = F.pmod(c2.cast("long"), F.lit(1 << bits))
    z = F.lit(0).cast("long")
    for j in range(bits):
        z = z + F.shiftleft(F.shiftright(x, j).bitwiseAND(F.lit(1)), 2 * j)
        z = z + F.shiftleft(
            F.shiftright(y, j).bitwiseAND(F.lit(1)), 2 * j + 1
        )
    return z


def zvalue_sql(x: str, y: str, bits: int = ZBITS) -> str:
    """DuckDB replay of :func:`zvalue_col` (same shift/and terms)."""
    m = 1 << bits
    xs = f"((({x}) % {m} + {m}) % {m})"
    ys = f"((({y}) % {m} + {m}) % {m})"
    terms = []
    for j in range(bits):
        terms.append(f"((({xs} >> {j}) & 1) << {2 * j})")
        terms.append(f"((({ys} >> {j}) & 1) << {2 * j + 1})")
    return "(" + " + ".join(terms) + ")"


def zvalue_int(x: int, y: int, bits: int = ZBITS) -> int:
    """Pure-Python :func:`zvalue_col` (same interleave) — for the driver-
    side z-range bound of a query box and for tests."""
    z = 0
    for j in range(bits):
        z |= ((x >> j) & 1) << (2 * j)
        z |= ((y >> j) & 1) << (2 * j + 1)
    return z


def _check_bucket_bits(bits: int, bucket_bits: int) -> None:
    """A bucket_bits above 2*bits would index z-bits that don't exist —
    negative shifts and silently-garbage rectangles; fail loudly instead."""
    if not 0 < bucket_bits <= 2 * bits:
        raise ValueError(
            f"bucket_bits={bucket_bits} must satisfy 0 < bucket_bits <= "
            f"2*bits ({2 * bits})"
        )


def ensure_readable_store(df: DataFrame, path: str) -> None:
    """A ``partitionBy`` write of an EMPTY DataFrame leaves a directory
    with no data files, which cannot be read back (no schema to infer) —
    a fully-tombstoned catalog would become permanently unloadable after
    compaction. Detect that (one FS listing, no job) and rewrite the
    store as one schema-only parquet file with the partition columns as
    regular columns: identical read schema, trivially empty."""
    fs, p, _ = _fs(df.sparkSession, path)
    if fs.exists(p):
        it = fs.listFiles(p, True)
        while it.hasNext():
            name = it.next().getPath().getName()
            if not name.startswith("_") and not name.startswith("."):
                return  # data files exist: nothing to do
    df.limit(0).write.mode("overwrite").parquet(path)


def write_layout(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    sort_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """THE writer for every partitioned parquet store (the sorted bulk
    load of SURVEY §4 O19): sort each task's rows by ``(*partition_by,
    *sort_by)``, write them ``partitionBy(*partition_by)``, then
    :func:`ensure_readable_store`. The caller picks the distribution
    (``repartition``, ``coalesce(1)``, ``repartitionByRange``).

    The PARTITION COLUMNS lead the sort: Spark's file writer requires
    rows ordered by the partition columns and silently inserts its own
    (unstable) sort when they are not — which destroyed the declared
    within-file order (discovered r15: written field_index files were
    NOT norm_value-sorted, so row-group min/max skipping was ineffective
    on disk catalogs). Leading with them satisfies the writer's required
    ordering, so ``sort_by`` survives into the files. With no
    ``sort_by`` the only sort is the partition-column one the writer
    would insert anyway."""
    keys = (*partition_by, *sort_by)
    out = df.sortWithinPartitions(*keys) if keys else df
    out.write.mode(mode).partitionBy(*partition_by).parquet(path)
    ensure_readable_store(df, path)


def _write_meta(spark: SparkSession, path: str, meta: dict) -> None:
    """Persist the store's layout parameters beside it (underscore-prefixed
    → invisible to Spark's data-file listing; Hadoop FS API so s3/hdfs
    roots work — the _QUANTIZER.json pattern)."""
    fs, p, _ = _fs(spark, f"{path}/{_META}")
    out = fs.create(p, True)
    out.write(bytearray(json.dumps(meta).encode()))
    out.close()


def read_meta(spark: SparkSession, path: str) -> dict | None:
    """The store's persisted layout parameters, or None for a pre-metadata
    store (caller must then supply them)."""
    fs, _, jvm = _fs(spark, path)
    return _open_json(fs, jvm, f"{path}/{_META}")


def _bucket_rects(bits: int, bucket_bits: int):
    """bucket id → its (x, y) prefix rectangle [x0, x1) × [y0, y1).

    The top ``bucket_bits`` z-bits are, from the top: y_{bits-1},
    x_{bits-1}, y_{bits-2}, … — alternating dimensions. Decoding them
    back gives per-dimension prefixes, i.e. an axis-aligned rectangle."""
    out = {}
    nx = bucket_bits // 2  # x-prefix bits (x holds the EVEN z-bits)
    ny = bucket_bits - nx
    for b in range(1 << bucket_bits):
        xp = yp = 0
        # walk the bucket's bits from the top of z downward
        for i in range(bucket_bits):
            zbit_index = 2 * bits - 1 - i
            bit = (b >> (bucket_bits - 1 - i)) & 1
            if zbit_index % 2:  # odd z-bit → y dimension
                yp = (yp << 1) | bit
            else:
                xp = (xp << 1) | bit
        xw = 1 << (bits - nx)
        yw = 1 << (bits - ny)
        out[b] = (xp * xw, (xp + 1) * xw, yp * yw, (yp + 1) * yw)
    return out


def zbuckets_for_box(
    x_lo: int,
    x_hi: int,
    y_lo: int,
    y_hi: int,
    bits: int = ZBITS,
    bucket_bits: int = BUCKET_BITS,
) -> list[int]:
    """Bucket ids whose rectangle intersects the query box
    [x_lo, x_hi] × [y_lo, y_hi] — exact (rectangles are prefix-aligned),
    driver-side, O(2^bucket_bits)."""
    _check_bucket_bits(bits, bucket_bits)
    hits = []
    for b, (x0, x1, y0, y1) in _bucket_rects(bits, bucket_bits).items():
        if x0 <= x_hi and x_lo < x1 and y0 <= y_hi and y_lo < y1:
            hits.append(b)
    return hits


def zranges_for_box(
    x_lo: int,
    x_hi: int,
    y_lo: int,
    y_hi: int,
    bits: int = ZBITS,
    max_ranges: int = 32,
) -> list[tuple[int, int]]:
    """Disjoint, sorted z-value intervals covering every point of the box
    [x_lo, x_hi] × [y_lo, y_hi] — the multi-interval refinement of the
    single corner bound [z(x_lo,y_lo), z(x_hi,y_hi)] (which is valid by
    per-coordinate monotonicity but loose: most of a thin box's corner
    interval is off-box curve).

    Method: quadtree descent over prefix-aligned squares in z order
    (the interval-splitting idea behind Tropf–Herzog 1981's BIGMIN).
    A square fully inside the box emits its whole contiguous z interval;
    a disjoint square is skipped; a straddling square recurses into its
    4 z-ordered children. Adjacent intervals merge as they are emitted,
    and once the budget is reached, straddling squares emit their FULL
    interval instead of recursing — coverage degrades toward the coarse
    corner bound but never loses a point, so the result is always a
    SUPERSET of the box's z set (callers re-verify exactly). Driver-side,
    O(max_ranges · bits) squares visited."""
    if max_ranges < 1:
        raise ValueError("max_ranges must be >= 1")
    out: list[list[int]] = []

    def emit(z0: int, z1: int) -> None:
        if out and out[-1][1] + 1 >= z0:
            out[-1][1] = max(out[-1][1], z1)
        else:
            out.append([z0, z1])

    def visit(qx: int, qy: int, level: int) -> None:
        # square = [qx, qx + 2^level) × [qy, qy + 2^level)
        side = 1 << level
        if qx > x_hi or qx + side <= x_lo or qy > y_hi or qy + side <= y_lo:
            return
        z0 = zvalue_int(qx, qy, bits)
        if (
            x_lo <= qx
            and qx + side - 1 <= x_hi
            and y_lo <= qy
            and qy + side - 1 <= y_hi
        ) or level == 0:
            emit(z0, z0 + side * side - 1)
            return
        if len(out) >= max_ranges:
            # budget: cover the whole straddling square (superset)
            emit(z0, z0 + side * side - 1)
            return
        half = side >> 1
        # children in z order: (lo,lo), (hi_x,lo), (lo,hi_y), (hi_x,hi_y)
        visit(qx, qy, level - 1)
        visit(qx + half, qy, level - 1)
        visit(qx, qy + half, level - 1)
        visit(qx + half, qy + half, level - 1)

    visit(0, 0, bits)
    # the budget check stops REFINEMENT, but siblings still on the
    # recursion stack emit afterwards — enforce the cap exactly by
    # merging the smallest inter-interval gaps (still a superset)
    while len(out) > max_ranges:
        gaps = [out[i + 1][0] - out[i][1] for i in range(len(out) - 1)]
        i = gaps.index(min(gaps))
        out[i][1] = out[i + 1][1]
        del out[i + 1]
    return [(a, b) for a, b in out]


def write_zordered(
    df: DataFrame,
    path: str,
    c1: str,
    c2: str,
    bits: int | None = ZBITS,
    bucket_bits: int = BUCKET_BITS,
) -> int:
    """Write ``df`` partitioned by the z-value's top ``bucket_bits`` bits
    and z-sorted within each directory (row-group min/max clustering for
    the bits below the directory key).

    The shuffle RANGE-partitions on the full z-value, not the directory
    key: hash-partitioning on ``zb`` would cap write parallelism at
    2^bucket_bits tasks (a wall at 100 TB), while a z-range split keeps
    parallelism at ``spark.sql.shuffle.partitions`` — each task covers a
    contiguous z interval, so it still lands in only one or two
    directories and stays sorted.

    Keys MUST lie in [0, 2^bits): the interleave wraps values modulo
    2^bits, which would silently route an out-of-domain key into the
    wrong rectangle and make box reads MISS it. The write therefore
    raises per-row on violation — the check rides the same scan, no
    extra pass. Size ``bits`` to the key domain of the LARGEST corpus the
    store will ever hold (sf0.1's user_id 1499 overflowed the old bits=10
    default), or pass ``bits=None`` to derive it from the data with one
    cheap max() agg. The chosen (bits, bucket_bits) are persisted beside
    the store so readers can't silently mis-prune with mismatched
    parameters."""
    bits = _write_z(df, path, c1, c2, bits, bucket_bits)
    _write_meta(
        df.sparkSession,
        path,
        {"c1": c1, "c2": c2, "bits": bits, "bucket_bits": bucket_bits},
    )
    return bits


def _write_z(
    df: DataFrame, path: str, c1: str, c2: str, bits: int | None, bucket_bits: int
) -> int:
    """:func:`write_zordered`'s data files alone, no sidecar — each
    caller writes its own sidecar once. Returns the resolved bits."""
    _check_bucket_bits(bits if bits is not None else 64, bucket_bits)
    if bits is None:
        mx = df.select(
            F.greatest(
                F.max(F.col(c1).cast("long")), F.max(F.col(c2).cast("long"))
            ).alias("m")
        ).first()["m"]
        bits = max(int(mx or 0).bit_length(), (bucket_bits + 1) // 2, 1)
    _check_bucket_bits(bits, bucket_bits)
    lim = 1 << bits

    def _checked(name: str) -> Column:
        c = F.col(name).cast("long")
        return F.when((c >= 0) & (c < lim), c).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"z-order key {name} outside [0, {lim}): "
                    ),
                    c.cast("string"),
                )
            )
        )

    z = zvalue_col(_checked(c1), _checked(c2), bits)
    shift = 2 * bits - bucket_bits
    staged = df.withColumn("z", z).withColumn(
        "zb", F.shiftright(F.col("z"), shift).cast("int")
    )
    # zb is z's top bits, so the (zb, z) sort write_layout runs is the
    # same total order the range partitioner established.
    write_layout(
        staged.repartitionByRange(F.col("z")),
        path,
        partition_by=("zb",),
        sort_by=("z",),
    )
    return bits


def read_zordered_box(
    spark: SparkSession,
    path: str,
    c1: str,
    x_lo: int,
    x_hi: int,
    c2: str,
    y_lo: int,
    y_hi: int,
    bits: int | None = None,
    bucket_bits: int | None = None,
) -> DataFrame:
    """Scan a z-ordered store for a two-sided range box: the bucket list
    becomes a PARTITION FILTER (only intersecting directories are read)
    and a coarse z interval [z(x_lo,y_lo), z(x_hi,y_hi)] skips row groups
    inside them (the interleave is monotone per coordinate, so every
    in-box point's z lies in that corner interval and the files are
    z-sorted); then the exact predicates re-verify — prune-then-verify,
    the same contract as every sketch path here.

    Layout parameters come from the store's own ``_ZLAYOUT.json``
    (written by :func:`write_zordered`): a caller-supplied bits that
    disagrees with the layout the store was actually written with would
    silently mis-prune and DROP rows, so explicit arguments are only
    validated against the sidecar, never trusted over it.

    The box must lie inside the store's key domain [0, 2^bits) (the
    write path enforces the same bound on the stored keys); a box
    reaching outside it would prune against wrapped coordinates and
    silently miss rows, so it raises."""
    meta = read_meta(spark, path)
    if meta is not None:
        for name, given in (("bits", bits), ("bucket_bits", bucket_bits)):
            if given is not None and given != meta[name]:
                raise ValueError(
                    f"{name}={given} does not match the store's persisted "
                    f"layout ({name}={meta[name]}); reading with the wrong "
                    f"{name} silently drops rows"
                )
        # the COLUMN ORDER matters as much as the bit widths: swapped
        # c1/c2 transpose the box against the interleave and silently
        # mis-prune (c1 is the x/even-bit dimension)
        if (c1, c2) != (meta["c1"], meta["c2"]):
            raise ValueError(
                f"key columns ({c1}, {c2}) do not match the store's "
                f"persisted layout ({meta['c1']}, {meta['c2']}); a "
                "swapped or wrong column pair silently drops rows"
            )
        bits, bucket_bits = meta["bits"], meta["bucket_bits"]
    elif bits is None or bucket_bits is None:
        raise ValueError(
            f"{path} has no {_META} sidecar; pass bits and bucket_bits "
            "explicitly (pre-metadata store)"
        )
    lim = 1 << bits
    if not (0 <= x_lo and x_hi < lim and 0 <= y_lo and y_hi < lim):
        raise ValueError(
            f"query box [{x_lo}, {x_hi}] x [{y_lo}, {y_hi}] outside the "
            f"z-store key domain [0, {lim})"
        )
    buckets = zbuckets_for_box(x_lo, x_hi, y_lo, y_hi, bits, bucket_bits)
    df = spark.read.parquet(path)
    if buckets:
        df = df.where(F.col("zb").isin(*buckets)).where(
            _zranges_pred(x_lo, x_hi, y_lo, y_hi, bits)
        )
    else:
        df = df.where(F.lit(False))
    return df.where(
        F.col(c1).between(x_lo, x_hi) & F.col(c2).between(y_lo, y_hi)
    )


def _zranges_pred(
    x_lo: int, x_hi: int, y_lo: int, y_hi: int, bits: int
) -> Column:
    """OR-of-betweens on the sorted ``z`` column from the box's z-interval
    cover — each interval skips row groups via parquet min/max stats; the
    (bounded) disjunction is a pure codegen comparison chain."""
    pred = F.lit(False)
    for z0, z1 in zranges_for_box(x_lo, x_hi, y_lo, y_hi, bits):
        pred = pred | F.col("z").between(z0, z1)
    return pred


# ---------------------------------------------------------------------------
# engine integration: z-ordered docs_wide catalogs
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ZLayout:
    """Opt-in z-order layout for the engine's ``docs_wide`` table: the
    catalog's event records are clustered on the Morton interleave of two
    scalar doc FIELDS, so `(field1 box) AND (field2 box)` queries prune at
    the directory level without touching the term index — the two-key
    generalization of the reference's single-key sorted shard pruning
    (RangeCalculator.java:683-705).

    Field kinds map the (string) field value to the integer z key:
    - ``int``  — the value parses as a base-10 integer (e.g. USER_ID).
      Query bounds come from ``==`` and ``f:between`` conjuncts only:
      the engine's ``<=``/``>=`` on strings are LEXICOGRAPHIC, which does
      not bound an integer key ('100' < '40' as strings).
    - ``day``  — an ISO timestamp string's epoch-day (e.g. TS). ISO
      strings order chronologically, so ``==``/``<``/``<=``/``>``/``>=``
      conjuncts all contribute day bounds.
    - ``cat``  — a low-cardinality categorical field (EVENT_TYPE-class):
      values dictionary-map to dense integer codes (SORTED distinct
      values, derived at write, persisted in the sidecar). ``==``
      conjuncts bound the code exactly — the (category × time) box is
      the most common event-store query shape after (user × time) —
      and because the dictionary is sorted, code order equals the
      engine's lexicographic string order, so ``<``/``<=``/``>``/``>=``
      conjuncts bound codes too (via bisect). An ``==`` against a value
      NOT in the dictionary constant-folds the box empty: the write
      contract guarantees every stored value is in the dictionary, so
      no stored row can match.

    CONTRACT (enforced per-row at write): every row has BOTH fields,
    single-valued, parseable under its kind, with offset-rebased keys in
    [0, 2^bits). That makes box pruning sound even for one-sided boxes —
    there is no "key unknown" directory a matching row could hide in.

    Offsets rebase each dimension to its corpus minimum (derived at write
    when None): without them an epoch-day key (~19 700 for 2024 data)
    parks every row under the same constant top bits and directory
    pruning degenerates to one bucket. ``bits`` then sizes to the LARGER
    rebased dimension — size it to the largest corpus the store will
    ever hold when pinning it by hand (the sf0.1 lesson)."""

    x_field: str
    y_field: str
    x_kind: str = "int"
    y_kind: str = "day"
    bits: int | None = None  # None → derived from the data at write
    bucket_bits: int = BUCKET_BITS
    x_off: int | None = None  # None → per-dimension min at write
    y_off: int | None = None
    # cat-kind dictionaries (sorted distinct values; code = position).
    # None → derived from the data at write; tuples keep the frozen
    # layout hashable.
    x_dict: tuple | None = None
    y_dict: tuple | None = None


_CAT_DICT_MAX = 4096  # cat dictionaries compile into an array literal


def _cat_dict(docs_wide: DataFrame, fname: str) -> tuple:
    """The sorted distinct values of a cat-kind layout field — a bounded
    collect (raises past ``_CAT_DICT_MAX``: a cat key must be genuinely
    low-cardinality; a high-cardinality field belongs under ``int``)."""
    rows = (
        docs_wide.select(
            F.explode(F.col("fields")[fname]).alias("v")
        )
        .distinct()
        .limit(_CAT_DICT_MAX + 1)
        .collect()
    )
    if len(rows) > _CAT_DICT_MAX:
        raise ValueError(
            f"cat z-layout field {fname} has more than {_CAT_DICT_MAX} "
            "distinct values — use kind='int' or a coarser field"
        )
    return tuple(sorted(r["v"] for r in rows))


def _field_key_col(
    fields: Column, fname: str, kind: str, cat_dict: tuple | None = None
) -> Column:
    """Integer z key of one layout field from the docs_wide fields map —
    raising per-row on a missing / multi-valued / unparseable value (the
    write-side contract check; rides the write scan, no extra pass)."""
    arr = fields[fname]
    bad = F.raise_error(
        F.concat(
            F.lit(
                f"z-layout field {fname} must be present, single-valued, "
                f"and {kind}-parseable; got: "
            ),
            F.coalesce(arr.cast("string"), F.lit("NULL")),
        )
    )
    v = F.when(F.size(arr) == 1, F.element_at(arr, 1)).otherwise(bad)
    if kind == "int":
        k = v.try_cast("long")
    elif kind == "day":
        # day-kind prune soundness needs lexicographic == chronological,
        # which only the canonical zero-padded shape guarantees: a value
        # like '999-01-01 …' parses via to_date yet sorts AFTER '2024-…',
        # so it would match a string-compare predicate while its day key
        # falls outside the box — require the 4-2-2 shape structurally
        canon = v.rlike(r"^\d{4}-\d{2}-\d{2}")
        k = F.when(
            canon,
            F.datediff(
                F.to_date(F.substring(v, 1, 10)), F.to_date(F.lit("1970-01-01"))
            ).cast("long"),
        )
    elif kind == "cat":
        if cat_dict is None:
            raise ValueError(f"cat z-layout field {fname} needs a dictionary")
        if not cat_dict:
            # a legitimately EMPTY corpus derives an empty dictionary
            # (major compaction after full tombstoning): vacuously fine —
            # no row can have a key, and any actual row hits the contract
            # raise below instead of a write-time crash that would leave
            # the catalog permanently un-compactable
            k = F.lit(None).cast("long")
        else:
            # dictionary code via ONE array literal (a per-value F.lit
            # chain would cost ~1 ms py4j each); values outside the
            # dictionary go NULL → the contract raise below
            pos = F.array_position(F.lit(list(cat_dict)), v)
            k = F.when(pos >= 1, (pos - 1).cast("long"))
    else:
        raise ValueError(f"unknown z-layout field kind: {kind}")
    return F.when(k.isNotNull(), k).otherwise(bad)


# the characters Spark's string→numeric cast trims from both ends
# (java.lang.Character.isWhitespace ∪ isISOControl as applied by
# UTF8String.trimAll): ASCII controls, space, DEL..APC controls
_TRIMMED_BY_SPARK_CAST = "".join(
    chr(c) for c in list(range(0x21)) + list(range(0x7F, 0xA0))
)


def _literal_key(value, kind: str, cat_dict: tuple | None = None) -> int | None:
    """Query-literal → integer z key under ``kind``; None if the literal
    cannot be a key (then it contributes no bound — a query like
    USER_ID == 'abc' simply gets no pruning from that conjunct; cat-kind
    callers instead fold the box empty, see :func:`zbox_from_query`).

    SOUNDNESS INVARIANT (cross-language parser parity): returning None
    asserts "no STORED row can string-match this literal". That holds
    because (a) the write contract rejects any value the Spark-side key
    derivation can't parse (``_field_key_col`` raises per row), and (b)
    every string Spark's ``try_cast(… AS LONG)`` / canon-shape
    ``to_date`` accepts, the Python parser here accepts WITH THE SAME
    KEY — int(s, 10) trims whitespace and takes signs exactly like
    Spark's cast, and both reject decimals/scientific/hex; fromisoformat
    over the first 10 chars mirrors the canon ``\\d{4}-\\d{2}-\\d{2}`` +
    to_date pair on the same Gregorian calendar. Python accepting MORE
    (unicode digits, '4_000', beyond-int64) only widens the OR-hull —
    sound. The reverse (Spark accepting a literal Python drops) would
    silently tighten the hull past a matchable branch and LOSE ROWS;
    ``tests/test_layout.py::test_literal_key_parser_parity_with_spark``
    pins the alignment over the edge shapes (signed, padded, decimal,
    unicode-digit, overflow, malformed dates)."""
    import datetime

    s = str(value)
    if kind == "cat":
        # the dictionary holds NORMALIZED stored values and the engine's
        # evaluation is case-insensitive (QueryEvaluator normalizes
        # literals the same way) — the lookup must normalize too, or
        # EVENT_TYPE == 'ERROR' would fold the box empty while the
        # evaluator matches stored 'error'
        from accumulo_wikisearch_spark.functions.normalize import normalize_str

        try:
            return cat_dict.index(normalize_str(s)) if cat_dict else None
        except ValueError:
            return None
    if kind == "int":
        try:
            # Spark's string→long cast trims WHITESPACE AND ISO CONTROL
            # characters (UTF8String.trimAll: 0x00-0x20 plus 0x7f-0x9f),
            # while int(s, 10) only tolerates whitespace — a literal like
            # '\\x004' is STORABLE (cast gives 4) yet int() raises, which
            # would drop a matchable OR-hull branch (r10 review finding,
            # reproduced empirically). Strip the same set before parsing;
            # over-stripping is sound (it can only widen the hull).
            return int(s.strip(_TRIMMED_BY_SPARK_CAST), 10)
        except ValueError:
            return None
    try:
        return (
            datetime.date.fromisoformat(s[:10]) - datetime.date(1970, 1, 1)
        ).days
    except ValueError:
        return None


def write_zordered_docs(docs_wide: DataFrame, path: str, zl: ZLayout) -> ZLayout:
    """Write a docs_wide table z-ordered on ``zl``'s two fields (same
    shuffle shape as :func:`write_zordered`: range-partition on the full
    z — parallelism scales with shuffle partitions, not 2^bucket_bits —
    z-sort within tasks, directory per top-bits bucket). Returns the
    layout with ``bits``/offsets resolved (one cheap min/max agg when
    unset), all persisted in the store's ``_ZLAYOUT.json``."""
    x_dict, y_dict = zl.x_dict, zl.y_dict
    if zl.x_kind == "cat" and x_dict is None:
        x_dict = _cat_dict(docs_wide, zl.x_field)
    if zl.y_kind == "cat" and y_dict is None:
        y_dict = _cat_dict(docs_wide, zl.y_field)
    xk = _field_key_col(F.col("fields"), zl.x_field, zl.x_kind, x_dict)
    yk = _field_key_col(F.col("fields"), zl.y_field, zl.y_kind, y_dict)
    raw = docs_wide.withColumn("_zx", xk).withColumn("_zy", yk)
    x_off, y_off, bits = zl.x_off, zl.y_off, zl.bits
    if x_off is None or y_off is None or bits is None:
        r = raw.select(
            F.min("_zx"), F.max("_zx"), F.min("_zy"), F.max("_zy")
        ).first()
        x_off = int(r[0] or 0) if x_off is None else x_off
        y_off = int(r[2] or 0) if y_off is None else y_off
        if bits is None:
            span = max(int(r[1] or 0) - x_off, int(r[3] or 0) - y_off, 0)
            bits = max(span.bit_length(), (zl.bucket_bits + 1) // 2, 1)
    staged = raw.withColumn("_zx", F.col("_zx") - F.lit(x_off)).withColumn(
        "_zy", F.col("_zy") - F.lit(y_off)
    )
    _write_z(staged, path, "_zx", "_zy", bits, zl.bucket_bits)
    resolved = ZLayout(
        zl.x_field,
        zl.y_field,
        zl.x_kind,
        zl.y_kind,
        bits,
        zl.bucket_bits,
        x_off,
        y_off,
        x_dict,
        y_dict,
    )
    _write_meta(
        docs_wide.sparkSession,
        path,
        {
            "c1": "_zx",
            "c2": "_zy",
            "bits": bits,
            "bucket_bits": zl.bucket_bits,
            "x_field": zl.x_field,
            "y_field": zl.y_field,
            "x_kind": zl.x_kind,
            "y_kind": zl.y_kind,
            "x_off": x_off,
            "y_off": y_off,
            "x_dict": list(x_dict) if x_dict is not None else None,
            "y_dict": list(y_dict) if y_dict is not None else None,
        },
    )
    return resolved


def load_zlayout(spark: SparkSession, path: str) -> ZLayout | None:
    """The ZLayout a docs_wide store was written with, from its sidecar;
    None for a flat (non-z-ordered) store."""
    meta = read_meta(spark, path)
    if meta is None or "x_field" not in meta:
        return None
    return ZLayout(
        meta["x_field"],
        meta["y_field"],
        meta["x_kind"],
        meta["y_kind"],
        meta["bits"],
        meta["bucket_bits"],
        meta["x_off"],
        meta["y_off"],
        tuple(meta["x_dict"]) if meta.get("x_dict") is not None else None,
        tuple(meta["y_dict"]) if meta.get("y_dict") is not None else None,
    )


def refit(zl: ZLayout) -> ZLayout:
    """The rewrite-time layout for a store that already has ``zl``: keep
    the user's choices (fields, kinds, bucket_bits), re-derive bits,
    offsets, and cat dictionaries from the data being written — new rows
    may have widened the key domain or added categories. The ONE place
    this rule lives; major compaction (and so every ``stream_ingest``
    batch) calls it."""
    return ZLayout(
        zl.x_field, zl.y_field, zl.x_kind, zl.y_kind, bucket_bits=zl.bucket_bits
    )


def demote_docs(docs_wide: DataFrame) -> DataFrame:
    """Strip a z-store's physical layout columns (z, zb, and the rebased
    integer keys _zx/_zy) down to docs_wide's logical schema — required
    before unioning with flat delta tables, and the single definition of
    which columns are layout-derived."""
    return docs_wide.drop("z", "zb", "_zx", "_zy")


def zbox_from_query(node, zl: ZLayout) -> tuple[int, int, int, int] | None:
    """Conservative query box on (x_field, y_field) from the TOP-LEVEL
    conjuncts of a normalized query AST — or None when neither field is
    usefully constrained (no pruning; never unsound).

    Only direct children of a root And (or a root leaf itself) may
    contribute: a bound under an Or / Not does not have to hold for every
    result row. Per-kind operator admission is in :class:`ZLayout`; every
    contributed bound is a SUPERSET bound (e.g. ``TS > v`` still admits
    v's own day). The box is clamped to the store domain — the write path
    guarantees no stored key lies outside it."""
    from accumulo_wikisearch_spark.plans import ast

    lim = 1 << zl.bits
    lo = {zl.x_field: 0, zl.y_field: 0}
    hi = {zl.x_field: lim - 1, zl.y_field: lim - 1}
    kind = {zl.x_field: zl.x_kind, zl.y_field: zl.y_kind}
    off = {zl.x_field: zl.x_off or 0, zl.y_field: zl.y_off or 0}
    cdict = {zl.x_field: zl.x_dict, zl.y_field: zl.y_dict}
    conjuncts = node.children if isinstance(node, ast.And) else (node,)
    touched = False
    for c in conjuncts:
        if isinstance(c, ast.Or):
            # IN-list shape: a top-level conjunct that is an Or of ==
            # leaves ALL on the same key field bounds that key by the
            # HULL of the branch keys — every result row satisfies one
            # branch, so its key lies in [min, max] (superset; the gaps
            # re-verify away). Branches whose literal cannot be a stored
            # value (unparseable int/day string, category outside the
            # dictionary) are dropped from the hull; if every branch is
            # impossible the box folds empty. Any branch that is not a
            # plain string == on the shared field (ranges, other fields,
            # negation, numeric literals with their coercion semantics)
            # makes the conjunct contribute nothing — never unsound.
            fields = {
                b.field
                for b in c.children
                if isinstance(b, ast.Cmp)
            }
            if len(fields) != 1:
                continue
            (f,) = fields
            if f not in kind or (kind[f] == "cat" and not cdict[f]):
                continue
            ks, usable = [], True
            for b in c.children:
                if (
                    not isinstance(b, ast.Cmp)
                    or b.op != ast.EQ
                    or b.abs
                    or not isinstance(b.literal, str)
                ):
                    usable = False
                    break
                # dropping a None branch from the hull is sound ONLY
                # under _literal_key's parser-parity invariant: None
                # must mean "no stored row can match this branch" (the
                # write contract + Spark/Python parse alignment pinned
                # by test_literal_key_parser_parity_with_spark) — if
                # Spark's cast accepted a literal Python rejects, the
                # hull would tighten past a matchable branch
                k = _literal_key(b.literal, kind[f], cdict[f])
                if k is not None:
                    ks.append(k - off[f])
            if not usable:
                continue
            if not ks:  # every branch impossible: no stored row matches
                lo[f], hi[f] = 1, 0
            else:
                lo[f] = max(lo[f], min(ks))
                hi[f] = min(hi[f], max(ks))
            touched = True
        elif isinstance(c, ast.Between) and c.field in kind:
            if kind[c.field] != "int":
                continue
            import math

            lo[c.field] = max(lo[c.field], math.ceil(c.lo) - off[c.field])
            hi[c.field] = min(hi[c.field], math.floor(c.hi) - off[c.field])
            touched = True
        elif isinstance(c, ast.Cmp) and c.field in kind and not c.abs:
            if kind[c.field] == "cat" and (
                not isinstance(c.literal, str) or not cdict[c.field]
            ):
                # numeric literals take the evaluator's NUMERIC-coercion
                # path (stored '04' matches FIELD == 4), which the
                # string-ordered dictionary cannot bound; and a missing
                # dictionary means "unknown", not "no values exist" —
                # either way this conjunct contributes NO bound
                continue
            if kind[c.field] == "cat" and c.op in (ast.GE, ast.GT, ast.LE, ast.LT):
                # the dictionary is SORTED, so code order == lexicographic
                # order == the engine's string-compare order: range
                # conjuncts bound codes exactly via bisect (superset: the
                # strict ops admit the equal value too)
                import bisect

                from accumulo_wikisearch_spark.functions.normalize import (
                    normalize_str,
                )

                # same normalizer the evaluator applies to the literal —
                # the dictionary is sorted over normalized values
                s, d = normalize_str(str(c.literal)), cdict[c.field] or ()
                if c.op in (ast.GE, ast.GT):
                    lo[c.field] = max(
                        lo[c.field], bisect.bisect_left(d, s) - off[c.field]
                    )
                else:
                    hi[c.field] = min(
                        hi[c.field],
                        bisect.bisect_right(d, s) - 1 - off[c.field],
                    )
                touched = True
                continue
            k = _literal_key(c.literal, kind[c.field], cdict[c.field])
            if k is None:
                if kind[c.field] == "cat" and c.op == ast.EQ:
                    # the dictionary covers EVERY stored value (write
                    # contract), so an == against an unknown category
                    # matches no stored row: fold the box empty
                    lo[c.field], hi[c.field] = 1, 0
                    touched = True
                continue
            k -= off[c.field]
            if c.op == ast.EQ:
                lo[c.field] = max(lo[c.field], k)
                hi[c.field] = min(hi[c.field], k)
                touched = True
            elif kind[c.field] == "day":
                # lexicographic == chronological for ISO strings only
                if c.op in (ast.GE, ast.GT):
                    lo[c.field] = max(lo[c.field], k)
                    touched = True
                elif c.op in (ast.LE, ast.LT):
                    hi[c.field] = min(hi[c.field], k)
                    touched = True
    if not touched:
        return None
    return (
        max(lo[zl.x_field], 0),
        min(hi[zl.x_field], lim - 1),
        max(lo[zl.y_field], 0),
        min(hi[zl.y_field], lim - 1),
    )


def zprune_docs(docs: DataFrame, node, zl: ZLayout) -> DataFrame:
    """Prune a z-ordered docs_wide scan for one query: directory filter
    (``zb isin``) + coarse z interval (row-group skip) from the query
    box, leaving the full predicate re-verify to the caller — a pure
    superset prune, safe under every planner path (fullscan, doc-range,
    anchor, posting semi-join). No-op when the query gives no box; an
    empty box folds to an empty relation.

    ``zl`` always describes the files under ``docs``: a published
    generation's data files and its sidecar never change in place
    (rewrites land in a new manifest-pointed generation), so the layout
    read at load time stays valid for the index's whole lifetime."""
    box = zbox_from_query(node, zl)
    if box is None:
        return docs
    x_lo, x_hi, y_lo, y_hi = box
    buckets = (
        zbuckets_for_box(x_lo, x_hi, y_lo, y_hi, zl.bits, zl.bucket_bits)
        if x_lo <= x_hi and y_lo <= y_hi
        else []
    )
    if not buckets:
        return docs.where(F.lit(False))
    return docs.where(F.col("zb").isin(*buckets)).where(
        _zranges_pred(x_lo, x_hi, y_lo, y_hi, zl.bits)
    )


# ---------------------------------------------------------------------------
# driver registry
# ---------------------------------------------------------------------------


# at-rest z-store per sf_dir (immutable once written, like the written-
# catalog caches in entry_queries)
_ZSTORES: dict = {}


def queries():
    from accumulo_wikisearch_spark.session import tune_runtime

    def _zvalue(spark, sf_dir):
        # z-values over (user_id, value-bucket) per event — pure integer
        # bit interleave, hash-checked bit for bit. bits=11 covers the
        # real key domain at every corpus SF (user_id 1499 at sf0.1 would
        # ALIAS under the bits=10 default — same wrap class the box scan
        # hit in r7)
        tune_runtime(spark)
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        # floor, not cast: double→BIGINT casts truncate in Spark but
        # round in DuckDB — floor is identical in both
        return events.select(
            "event_id",
            zvalue_col(
                F.col("user_id"), F.floor(F.col("value")).cast("long"), bits=11
            ).alias("zval"),
        )

    def _box_scan(spark, sf_dir):
        # write the z-ordered store once, then answer a two-sided range
        # box THROUGH the partition-pruned read path — the at-rest
        # layout proof (the oracle is the plain filter over raw events).
        # bits=11 covers every corpus SF's key domain (user_id < 1500 at
        # sf0.1, value buckets < 600); the write raises if that ever
        # stops holding. The cache is set only AFTER the write succeeds
        # so a failed write cannot poison later invocations.
        import tempfile

        tune_runtime(spark)
        path = _ZSTORES.get(sf_dir)
        if path is None:
            events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
                "event_id",
                "user_id",
                F.floor("value").cast("long").alias("vb"),
            )
            tmp = tempfile.mkdtemp(prefix="wikisearch-z-")
            write_zordered(events, tmp, "user_id", "vb", bits=11)
            path = _ZSTORES[sf_dir] = tmp
        return read_zordered_box(
            spark, path, "user_id", 10, 40, "vb", 5, 30, bits=11
        ).select("event_id")

    return {"layout_zvalue": _zvalue, "layout_box_scan": _box_scan}


def oracle_sql():
    return {
        "layout_zvalue": (
            "SELECT event_id, "
            + zvalue_sql("user_id", "floor(value)::BIGINT", bits=11)
            + " AS zval FROM events"
        ),
        "layout_box_scan": (
            "SELECT event_id FROM events WHERE user_id BETWEEN 10 AND 40"
            " AND floor(value)::BIGINT BETWEEN 5 AND 30"
        ),
    }
