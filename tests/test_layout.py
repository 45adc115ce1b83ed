"""Z-order layout: Morton value correctness, exact bucket enumeration,
and partition-pruned two-sided range scans."""

import pytest

from pyspark.sql import functions as F

from accumulo_wikisearch_spark.operators.layout import (
    ZBITS,
    zbuckets_for_box,
    zvalue_col,
    read_zordered_box,
    write_zordered,
)


def _z_py(x, y, bits=ZBITS):
    z = 0
    for j in range(bits):
        z |= ((x >> j) & 1) << (2 * j)
        z |= ((y >> j) & 1) << (2 * j + 1)
    return z


def test_zvalue_matches_python_interleave(spark):
    rows = spark.range(0, 500).select(
        (F.col("id") * 7 % 1024).alias("x"), (F.col("id") * 13 % 1024).alias("y")
    )
    got = {
        (r["x"], r["y"]): r["z"]
        for r in rows.select(
            "x", "y", zvalue_col(F.col("x"), F.col("y")).alias("z")
        ).collect()
    }
    for (x, y), z in got.items():
        assert z == _z_py(x, y)


def test_zbuckets_cover_exactly_the_intersecting_rectangles():
    # the full domain must map to all buckets; a point to exactly one
    assert sorted(zbuckets_for_box(0, 1023, 0, 1023)) == list(range(16))
    assert len(zbuckets_for_box(5, 5, 7, 7)) == 1
    # a thin x-slab crosses every y-prefix but one x-prefix: with
    # bucket_bits=4 (2 x-bits × 2 y-bits) that is 4 buckets
    assert len(zbuckets_for_box(0, 200, 0, 1023)) == 4


def test_zordered_scan_prunes_and_matches_plain_filter(spark, sf_dir, tmp_path):
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", F.floor("value").cast("long").alias("vb")
    )
    path = str(tmp_path / "zstore")
    write_zordered(events, path, "user_id", "vb")
    got = read_zordered_box(spark, path, "user_id", 0, 200, "vb", 0, 100)
    want = events.where(
        F.col("user_id").between(0, 200) & F.col("vb").between(0, 100)
    )
    assert sorted(r["event_id"] for r in got.collect()) == sorted(
        r["event_id"] for r in want.collect()
    )
    # the bucket list must reach the scan as a PartitionFilter, and the
    # selective box must touch a strict subset of directories
    plan = got._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:200]
    assert "zb" in seg
    assert len(zbuckets_for_box(0, 200, 0, 100)) < 16


def test_zvalue_stays_in_codegen_no_python_udf(spark):
    df = spark.range(0, 10).select(
        zvalue_col(F.col("id"), F.col("id") + 1).alias("z")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # "*(1)" is the WholeStageCodegen marker in the toString form
    assert "*(1)" in plan


def test_out_of_domain_keys_raise_instead_of_aliasing(spark, tmp_path):
    import pytest as _pytest
    from pyspark.errors import PySparkException

    df = spark.range(0, 5).select(
        F.col("id").alias("a"), (F.col("id") + 2000).alias("b")  # b >= 2^10
    )
    with _pytest.raises(PySparkException, match="outside"):
        write_zordered(df, str(tmp_path / "bad"), "a", "b")
    # wider domain: same data writes fine
    write_zordered(df, str(tmp_path / "ok"), "a", "b", bits=11)
    got = read_zordered_box(
        spark, str(tmp_path / "ok"), "a", 0, 10, "b", 2000, 2010, bits=11
    )
    assert got.count() == 5
    # a box outside the domain raises rather than pruning against wraps
    with _pytest.raises(ValueError, match="outside the"):
        read_zordered_box(
            spark, str(tmp_path / "ok"), "a", 0, 10, "b", 2000, 5000, bits=11
        )


def test_read_rejects_mismatched_layout_params(spark, tmp_path):
    import pytest as _pytest

    df = spark.range(0, 50).select(
        (F.col("id") % 40).alias("a"), (F.col("id") % 30).alias("b")
    )
    write_zordered(df, str(tmp_path / "s"), "a", "b", bits=11)
    # reading a bits=11 store as bits=10 would silently mis-prune — the
    # persisted sidecar wins and the mismatch raises
    with _pytest.raises(ValueError, match="does not match"):
        read_zordered_box(spark, str(tmp_path / "s"), "a", 0, 10, "b", 0, 10, bits=10)
    # omitting the params entirely uses the sidecar
    got = read_zordered_box(spark, str(tmp_path / "s"), "a", 0, 39, "b", 0, 29)
    assert got.count() == 50


def test_bucket_bits_bounds_validated(spark, tmp_path):
    import pytest as _pytest

    df = spark.range(0, 4).select(F.col("id").alias("a"), F.col("id").alias("b"))
    with _pytest.raises(ValueError, match="bucket_bits"):
        write_zordered(df, str(tmp_path / "x"), "a", "b", bits=2, bucket_bits=5)
    with _pytest.raises(ValueError, match="bucket_bits"):
        zbuckets_for_box(0, 1, 0, 1, bits=2, bucket_bits=5)


def test_auto_bits_derived_from_data(spark, tmp_path):
    from accumulo_wikisearch_spark.operators.layout import read_meta

    df = spark.range(0, 10).select(
        F.col("id").alias("a"), (F.col("id") + 300).alias("b")
    )
    bits = write_zordered(df, str(tmp_path / "auto"), "a", "b", bits=None)
    assert bits == 9  # max key 309 → 9 bits
    meta = read_meta(spark, str(tmp_path / "auto"))
    assert meta["bits"] == 9 and meta["bucket_bits"] == 4
    got = read_zordered_box(spark, str(tmp_path / "auto"), "a", 0, 511, "b", 300, 305)
    assert got.count() == 6


def _flat_and_z_engines(spark, sf_dir, tmp_path):
    from accumulo_wikisearch_spark.api import Wikisearch
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.ingest import load_index, write_index
    from accumulo_wikisearch_spark.operators.layout import ZLayout
    from accumulo_wikisearch_spark.sources.corpus import get_events_engine

    eng = get_events_engine(spark, sf_dir)
    zpath = str(tmp_path / "zcat")
    write_index(eng.index, zpath, zorder=ZLayout("USER_ID", "TS"))
    zeng = Wikisearch(load_index(spark, zpath, EngineConfig()))
    assert zeng.index.zlayout is not None
    return eng, zeng


def test_engine_zordered_catalog_matches_flat_engine(spark, sf_dir, tmp_path):
    """The z-ordered catalog must answer EVERY query shape identically to
    the in-memory engine — box-prunable conjunctions, Or roots (no
    pruning), negations, and non-key literals alike."""
    eng, zeng = _flat_and_z_engines(spark, sf_dir, tmp_path)
    queries = [
        # two-key box: eq x day-range — the layout's target shape
        "USER_ID == '42' and TS >= '2024-01-05 00:00:00' and TS <= '2024-01-20 00:00:00'",
        # one-sided box (time only)
        "TS >= '2024-01-10 00:00:00' and TS <= '2024-01-12 00:00:00' and EVENT_TYPE == 'error'",
        # user eq only
        "USER_ID == '7' and EVENT_TYPE == 'click'",
        # Or root: NO pruning may apply (bounds under Or are unsound)
        "USER_ID == '42' or EVENT_TYPE == 'signup'",
        # negation on a key field contributes nothing
        "USER_ID != '42' and EVENT_TYPE == 'purchase'",
        # unparseable key literal contributes nothing
        "USER_ID == 'nosuch' or EVENT_TYPE == 'error'",
    ]
    for q in queries:
        want = sorted(r["doc_id"] for r in eng.query(q).collect())
        got = sorted(r["doc_id"] for r in zeng.query(q).collect())
        assert got == want, q


def test_engine_zprune_empty_box_reads_zero_files(spark, sf_dir, tmp_path):
    """A box entirely outside the store's key domain (user 42 does not
    exist at sf0.001, so auto-bits sized the domain below it) prunes to
    a literal False, so the scan lists zero files."""
    _eng, zeng = _flat_and_z_engines(spark, sf_dir, tmp_path)
    df = zeng.query("USER_ID == '4242' and EVENT_TYPE == 'click'")
    # the optimizer folds the whole query to an empty relation before
    # any file is read
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation <empty>" in optimized
    assert df.count() == 0


def test_engine_zprune_reaches_scan_as_partition_filter(spark, sf_dir, tmp_path):
    _eng, zeng = _flat_and_z_engines(spark, sf_dir, tmp_path)
    from tests.conftest import zb_partition_filtered

    # some docs_wide scan in the plan is directory-pruned on zb
    assert zb_partition_filtered(
        zeng.query(
            "USER_ID == '7' and TS >= '2024-01-05 00:00:00'"
            " and TS <= '2024-01-20 00:00:00'"
        )
    )


def test_zbox_from_query_offsets_and_kinds():
    from accumulo_wikisearch_spark.operators.layout import ZLayout, zbox_from_query
    from accumulo_wikisearch_spark.plans import ast

    zl = ZLayout("U", "T", "int", "day", bits=8, bucket_bits=4, x_off=100, y_off=19700)
    # eq on int key + day range, rebased by the offsets
    node = ast.And(
        (
            ast.Cmp("U", ast.EQ, "142"),
            ast.Cmp("T", ast.GE, "2023-12-13 00:00:00"),  # epoch day 19704
            ast.Cmp("T", ast.LE, "2023-12-20 23:59:59"),  # epoch day 19711
        )
    )
    assert zbox_from_query(node, zl) == (42, 42, 4, 11)
    # lexicographic >= on an int key must NOT contribute ('100' < '40')
    node2 = ast.And((ast.Cmp("U", ast.GE, "140"), ast.Cmp("T", ast.EQ, "2023-12-13")))
    assert zbox_from_query(node2, zl) == (0, 255, 4, 4)
    # f:between IS numeric, so it bounds an int key
    node3 = ast.Between("U", 110.5, 119.2)
    assert zbox_from_query(node3, zl) == (11, 19, 0, 255)
    # nothing touching the key fields → no box
    assert zbox_from_query(ast.Cmp("OTHER", ast.EQ, "x"), zl) is None
    # eq below the offset → empty box (lo > hi), not a wrap
    empty = zbox_from_query(ast.Cmp("U", ast.EQ, "5"), zl)
    assert empty is not None and empty[0] > empty[1]


def test_zranges_exact_cover_small_domain_bruteforce():
    """With budget to spare, the interval cover is EXACTLY the box's
    z set; under a tight budget it is a superset. Brute-forced over
    every box of a 16x16 domain."""
    from accumulo_wikisearch_spark.operators.layout import (
        zranges_for_box,
        zvalue_int,
    )

    bits = 4
    for (x0, x1, y0, y1) in [
        (0, 15, 0, 15), (3, 3, 7, 7), (0, 15, 5, 5), (2, 9, 4, 13),
        (0, 0, 0, 0), (15, 15, 15, 15), (1, 14, 1, 1), (5, 6, 5, 6),
    ]:
        want = {
            zvalue_int(x, y, bits)
            for x in range(x0, x1 + 1)
            for y in range(y0, y1 + 1)
        }
        ranges = zranges_for_box(x0, x1, y0, y1, bits, max_ranges=10_000)
        got = set()
        for a, b in ranges:
            got.update(range(a, b + 1))
        assert got == want, (x0, x1, y0, y1)
        # sorted, disjoint, non-adjacent (maximally merged)
        for (a1, b1), (a2, b2) in zip(ranges, ranges[1:]):
            assert b1 + 1 < a2
        # tight budget: still a superset, count bounded
        tight = zranges_for_box(x0, x1, y0, y1, bits, max_ranges=3)
        tgot = set()
        for a, b in tight:
            tgot.update(range(a, b + 1))
        assert tgot >= want
        assert len(tight) <= 3  # the cap is exact (gap-merge pass)


def test_zranges_property_random_boxes():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from accumulo_wikisearch_spark.operators.layout import (
        zranges_for_box,
        zvalue_int,
    )

    bits = 5
    lim = 1 << bits

    @settings(max_examples=200, deadline=None)
    @given(
        x=st.tuples(st.integers(0, lim - 1), st.integers(0, lim - 1)),
        y=st.tuples(st.integers(0, lim - 1), st.integers(0, lim - 1)),
        budget=st.integers(1, 64),
    )
    def check(x, y, budget):
        x0, x1 = min(x), max(x)
        y0, y1 = min(y), max(y)
        want = {
            zvalue_int(a, b, bits)
            for a in range(x0, x1 + 1)
            for b in range(y0, y1 + 1)
        }
        ranges = zranges_for_box(x0, x1, y0, y1, bits, max_ranges=budget)
        assert len(ranges) <= budget  # the cap is exact
        got = set()
        for a, b in ranges:
            got.update(range(a, b + 1))
        assert got >= want  # never loses a point at ANY budget
        full = zranges_for_box(x0, x1, y0, y1, bits, max_ranges=10_000)
        fgot = set()
        for a, b in full:
            fgot.update(range(a, b + 1))
        assert fgot == want  # unbounded budget is exact

    check()


def test_zranges_tighter_than_corner_interval(spark, sf_dir, tmp_path):
    """A thin-in-y box: the corner interval spans nearly the whole store,
    the interval cover reads a fraction of it. Checked through the real
    pruned read (row counts BEFORE the exact re-verify)."""
    from pyspark.sql import functions as F

    from accumulo_wikisearch_spark.operators.layout import (
        zranges_for_box,
        zvalue_int,
        read_zordered_box,
    )

    bits = 6
    # thin slab y in [32, 33]: 2x2-quad-aligned, so the cover is EXACT
    # (32 intervals of 4 points) while the corner interval drags in a
    # big swath of off-box curve
    z_corner = zvalue_int(63, 33, bits) - zvalue_int(0, 32, bits) + 1
    z_cover = sum(
        b - a + 1 for a, b in zranges_for_box(0, 63, 32, 33, bits)
    )
    assert z_cover == 128  # exactly the box's points
    assert z_cover < z_corner / 4
    # the adversarial twin y in [31, 32] straddles the central bit
    # boundary (every y bit flips): the budgeted cover degrades
    # gracefully — still a bounded interval list, still a superset,
    # still tighter than the corner bound
    z_cover_bad = sum(
        b - a + 1 for a, b in zranges_for_box(0, 63, 31, 32, bits)
    )
    z_corner_bad = zvalue_int(63, 32, bits) - zvalue_int(0, 31, bits) + 1
    assert 128 <= z_cover_bad < z_corner_bad
    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("a"), (F.col("id") / 64).cast("long").alias("b")
    )
    from accumulo_wikisearch_spark.operators.layout import write_zordered

    write_zordered(df, str(tmp_path / "thin"), "a", "b", bits=bits)
    got = read_zordered_box(spark, str(tmp_path / "thin"), "a", 0, 63, "b", 31, 32)
    assert got.count() == 128  # exact after re-verify


@pytest.mark.slow
def test_engine_zordered_matches_flat_on_generated_queries(spark, sf_dir, tmp_path):
    """Randomized soundness sweep for the planner's box extraction: 60
    seeded random queries over the layout fields (in/out-of-domain
    literals, lexicographic ranges on the int key, negations, nested
    or/and, day ranges) must answer IDENTICALLY through the z-ordered
    and in-memory engines — pruning may only ever be a superset."""
    import random

    eng, zeng = _flat_and_z_engines(spark, sf_dir, tmp_path)
    rng = random.Random(8)
    users = ["0", "3", "7", "12", "29", "42", "100", "007", "nosuch", "-1"]
    days = [f"2024-01-{d:02d} 00:00:00" for d in (1, 3, 5, 9, 12, 20, 28)]
    types = ["click", "view", "error", "purchase", "signup"]

    def leaf():
        r = rng.random()
        if r < 0.3:
            op = rng.choice(["==", "!=", ">=", "<="])
            return f"USER_ID {op} '{rng.choice(users)}'"
        if r < 0.6:
            op = rng.choice(["==", ">=", "<=", ">", "<"])
            return f"TS {op} '{rng.choice(days)}'"
        if r < 0.8:
            return f"EVENT_TYPE == '{rng.choice(types)}'"
        # IN-list shape: exercises the OR-of-eq hull when it lands as a
        # top-level conjunct (and plain Or semantics everywhere else)
        picks = rng.sample(users, rng.choice([2, 3]))
        return "(" + " or ".join(f"USER_ID == '{u}'" for u in picks) + ")"

    def node(depth):
        if depth == 0 or rng.random() < 0.4:
            lf = leaf()
            return f"not ({lf})" if rng.random() < 0.15 else lf
        con = rng.choice(["and", "or"])
        return f"({node(depth - 1)} {con} {node(depth - 1)})"

    for i in range(60):
        q = node(2)
        want = sorted(r["doc_id"] for r in eng.query(q).collect())
        got = sorted(r["doc_id"] for r in zeng.query(q).collect())
        assert got == want, (i, q)


@pytest.mark.slow
def test_engine_cat_zordered_matches_flat_on_generated_queries(
    spark, sf_dir, tmp_path
):
    """The cat-layout twin of the randomized sweep: category eq (mixed
    case, unknown values), lexicographic category ranges, IN-lists, day
    ranges, negations, nested or/and — identical answers through the
    (EVENT_TYPE, TS) cat×day z catalog and the in-memory engine."""
    import random

    from accumulo_wikisearch_spark.api import Wikisearch
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.ingest import load_index, write_index
    from accumulo_wikisearch_spark.operators.layout import ZLayout
    from accumulo_wikisearch_spark.sources.corpus import get_events_engine

    eng = get_events_engine(spark, sf_dir)
    zpath = str(tmp_path / "zcat_fuzz")
    write_index(
        eng.index, zpath, zorder=ZLayout("EVENT_TYPE", "TS", "cat", "day")
    )
    zeng = Wikisearch(load_index(spark, zpath, EngineConfig()))
    rng = random.Random(17)
    types = [
        "click", "view", "error", "purchase", "signup",
        "ERROR", "Click", "nosuchtype", "e", "f",
    ]
    days = [f"2024-01-{d:02d} 00:00:00" for d in (1, 3, 5, 9, 12, 20, 28)]
    users = ["0", "7", "42", "nosuch"]

    def leaf():
        r = rng.random()
        if r < 0.4:
            op = rng.choice(["==", "!=", ">=", "<=", ">", "<"])
            return f"EVENT_TYPE {op} '{rng.choice(types)}'"
        if r < 0.7:
            op = rng.choice(["==", ">=", "<=", ">", "<"])
            return f"TS {op} '{rng.choice(days)}'"
        if r < 0.85:
            return f"USER_ID == '{rng.choice(users)}'"
        picks = rng.sample(types, rng.choice([2, 3]))
        return "(" + " or ".join(f"EVENT_TYPE == '{t}'" for t in picks) + ")"

    def node(depth):
        if depth == 0 or rng.random() < 0.4:
            lf = leaf()
            return f"not ({lf})" if rng.random() < 0.15 else lf
        con = rng.choice(["and", "or"])
        return f"({node(depth - 1)} {con} {node(depth - 1)})"

    for i in range(60):
        q = node(2)
        want = sorted(r["doc_id"] for r in eng.query(q).collect())
        got = sorted(r["doc_id"] for r in zeng.query(q).collect())
        assert got == want, (i, q)


def test_explain_query_reports_zlayout_decision(spark, sf_dir, tmp_path):
    _eng, zeng = _flat_and_z_engines(spark, sf_dir, tmp_path)
    # prunable box
    info = zeng.explain_query(
        "USER_ID == '7' and TS >= '2024-01-05 00:00:00'"
        " and TS <= '2024-01-20 00:00:00'"
    )["zlayout"]
    assert info["fields"] == ["USER_ID", "TS"]
    assert info["box"] is not None
    assert 0 < info["buckets"] <= info["buckets_total"]
    assert info["z_ranges"] >= 1
    # no usable bound
    info2 = zeng.explain_query("USER_ID == '7' or EVENT_TYPE == 'click'")[
        "zlayout"
    ]
    assert info2["box"] is None
    # out-of-domain eq: reported as the constant-fold
    info3 = zeng.explain_query("USER_ID == '4242' and EVENT_TYPE == 'click'")[
        "zlayout"
    ]
    assert info3.get("empty") is True
    # a FLAT engine's explain has no zlayout key
    assert "zlayout" not in _eng.explain_query("USER_ID == '7'")


def test_read_rejects_swapped_key_columns(spark, tmp_path):
    import pytest as _pytest

    df = spark.range(0, 20).select(
        (F.col("id") % 10).alias("a"), (F.col("id") % 7).alias("b")
    )
    write_zordered(df, str(tmp_path / "sw"), "a", "b", bits=5)
    # transposed columns would prune against the wrong interleave
    with _pytest.raises(ValueError, match="column"):
        read_zordered_box(spark, str(tmp_path / "sw"), "b", 0, 6, "a", 0, 9)


def test_day_kind_requires_canonical_date_shape(spark, tmp_path):
    """Day-kind prune soundness rests on lexicographic == chronological for
    the stored strings — only the zero-padded 4-2-2 shape guarantees it.
    '999-01-01 …' parses as a date but sorts AFTER '2024-…', so it must be
    rejected at write instead of silently landing outside any query box."""
    import pytest as _pytest
    from pyspark.errors import PySparkException

    from accumulo_wikisearch_spark.operators.layout import (
        ZLayout,
        write_zordered_docs,
    )

    schema = "doc_id long, fields map<string,array<string>>"
    bad = spark.createDataFrame(
        [(1, {"UID": ["1"], "TS": ["999-01-01 08:00:00"]})], schema
    )
    with _pytest.raises(PySparkException, match="TS"):
        write_zordered_docs(bad, str(tmp_path / "bad_day"), ZLayout("UID", "TS"))
    ok = spark.createDataFrame(
        [(1, {"UID": ["1"], "TS": ["2024-01-01 08:00:00"]}),
         (2, {"UID": ["2"], "TS": ["2024-01-05 09:30:00"]})], schema
    )
    zl = write_zordered_docs(ok, str(tmp_path / "ok_day"), ZLayout("UID", "TS"))
    assert zl.bits is not None
    assert spark.read.parquet(str(tmp_path / "ok_day")).count() == 2


def test_cat_kind_zlayout_engine_path(spark, sf_dir, tmp_path):
    """kind='cat': a categorical field dictionary-maps into the z key
    domain, so (category == x AND time range) boxes prune at the
    directory level — the second-most-common event-store query shape.
    The dictionary is derived at write, persisted in the sidecar, and an
    == against an unknown category constant-folds the box empty."""
    from accumulo_wikisearch_spark.api import Wikisearch
    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.ingest import load_index, write_index
    from accumulo_wikisearch_spark.operators.layout import ZLayout, load_zlayout
    from accumulo_wikisearch_spark.sources.corpus import get_events_engine

    eng = get_events_engine(spark, sf_dir)
    zpath = str(tmp_path / "zcat_cat")
    write_index(
        eng.index, zpath, zorder=ZLayout("EVENT_TYPE", "TS", "cat", "day")
    )
    zl = load_zlayout(spark, f"{zpath}/docs_wide")
    assert zl is not None and zl.x_dict is not None and len(zl.x_dict) >= 2
    assert list(zl.x_dict) == sorted(zl.x_dict)  # code order == sorted order
    zeng = Wikisearch(load_index(spark, zpath, EngineConfig()))
    queries = [
        # the target shape: category eq × time range
        "EVENT_TYPE == 'error' and TS >= '2024-01-05 00:00:00'"
        " and TS <= '2024-01-20 00:00:00'",
        # category eq only (one-sided box)
        "EVENT_TYPE == 'click' and USER_ID == '7'",
        # Or root: no pruning may apply
        "EVENT_TYPE == 'error' or USER_ID == '7'",
        # cat RANGE: sorted dictionary makes code order == string order,
        # so lexicographic conjuncts bound the cat key too
        "EVENT_TYPE >= 'e' and EVENT_TYPE <= 'f' and USER_ID == '7'",
        "EVENT_TYPE > 'click' and TS >= '2024-01-05 00:00:00'"
        " and TS <= '2024-01-12 00:00:00'",
        # case-insensitive eval (Q13): the dict lookup must normalize the
        # literal like the evaluator does, not fold the box empty
        "EVENT_TYPE == 'ERROR' and USER_ID == '7'",
    ]
    for q in queries:
        want = sorted(r["doc_id"] for r in eng.query(q).collect())
        got = sorted(r["doc_id"] for r in zeng.query(q).collect())
        assert got == want, q
    # the prune reaches the scan as a zb directory filter
    from tests.conftest import zb_partition_filtered

    assert zb_partition_filtered(zeng.query(queries[0]))
    # unknown category: box folds empty before any file is read
    df2 = zeng.query("EVENT_TYPE == 'nosuchtype' and USER_ID == '7'")
    optimized = df2._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation <empty>" in optimized
    assert df2.count() == 0


def test_zbox_or_hull_bounds():
    """A top-level conjunct that is an Or of same-field == leaves bounds
    the key by the HULL of the branch keys; impossible branches drop out;
    non-eq/mixed-field/numeric-literal branches disable the conjunct."""
    from accumulo_wikisearch_spark.operators.layout import ZLayout, zbox_from_query
    from accumulo_wikisearch_spark.plans import ast

    zl = ZLayout("U", "T", "int", "day", bits=8, bucket_bits=4, x_off=100, y_off=19700)
    day = (
        ast.Cmp("T", ast.GE, "2023-12-13 00:00:00"),  # epoch day 19704
        ast.Cmp("T", ast.LE, "2023-12-20 23:59:59"),  # epoch day 19711
    )
    in_list = ast.Or((ast.Cmp("U", ast.EQ, "142"), ast.Cmp("U", ast.EQ, "150")))
    assert zbox_from_query(ast.And((in_list,) + day), zl) == (42, 50, 4, 11)
    # an unparseable branch cannot be a stored value: it drops from the hull
    with_bad = ast.Or(
        (ast.Cmp("U", ast.EQ, "142"), ast.Cmp("U", ast.EQ, "nope"))
    )
    assert zbox_from_query(ast.And((with_bad,) + day), zl) == (42, 42, 4, 11)
    # ALL branches impossible → empty box
    all_bad = ast.Or((ast.Cmp("U", ast.EQ, "x"), ast.Cmp("U", ast.EQ, "y")))
    box = zbox_from_query(ast.And((all_bad,) + day), zl)
    assert box is not None and box[0] > box[1]
    # mixed fields / non-eq ops / numeric literals: conjunct contributes
    # nothing (still bounded by the day range alone)
    for orx in (
        ast.Or((ast.Cmp("U", ast.EQ, "142"), ast.Cmp("OTHER", ast.EQ, "z"))),
        ast.Or((ast.Cmp("U", ast.EQ, "142"), ast.Cmp("U", ast.GE, "150"))),
        ast.Or((ast.Cmp("U", ast.EQ, "142"), ast.Cmp("U", ast.EQ, 150))),
    ):
        assert zbox_from_query(ast.And((orx,) + day), zl) == (0, 255, 4, 11)


def test_engine_or_hull_through_z_catalog(spark, sf_dir, tmp_path):
    """(USER_ID in-list) × time range through the engine path: the hull
    bound prunes, the full predicate re-verifies the gaps, results match
    the flat engine exactly."""
    eng, zeng = _flat_and_z_engines(spark, sf_dir, tmp_path)
    queries = [
        "(USER_ID == '7' or USER_ID == '9') and TS >= '2024-01-05 00:00:00'"
        " and TS <= '2024-01-20 00:00:00'",
        # one impossible branch drops from the hull
        "(USER_ID == '7' or USER_ID == 'nosuch') and EVENT_TYPE == 'click'",
        # every branch impossible: empty, same as flat
        "(USER_ID == 'aa' or USER_ID == 'bb') and EVENT_TYPE == 'click'",
    ]
    for q in queries:
        want = sorted(r["doc_id"] for r in eng.query(q).collect())
        got = sorted(r["doc_id"] for r in zeng.query(q).collect())
        assert got == want, q


def test_literal_key_parser_parity_with_spark(spark):
    """Pins _literal_key's soundness invariant (see its docstring): for
    every literal Spark's storage-side parser accepts — try_cast(AS LONG)
    for int kind, canon shape + to_date for day kind — the Python parser
    must accept it WITH THE SAME KEY, else the OR-hull would drop a
    matchable branch and silently lose rows. Python-only acceptances are
    allowed (they only widen the hull). Edge shapes per the r9 review:
    signed, whitespace-padded, decimal, scientific, hex, unicode-digit,
    underscore-grouped, int64-overflow, malformed/uncanonical dates."""
    from pyspark.sql import functions as F

    from accumulo_wikisearch_spark.operators.layout import _literal_key

    int_lits = [
        "4", "04", "+4", "-4", " 4", "4 ", "  +07  ", "4.0", "4.5", "4.",
        ".5", "1e3", "0x1A", "٤", "4_000", "9223372036854775807",
        "9223372036854775808", "-9223372036854775808", "", ".", "-",
        "Infinity", "NaN", "tok",
        # ISO control characters: Spark's cast trims 0x00-0x20 and
        # 0x7f-0x9f (UTF8String.trimAll) — the r10 review found int()
        # rejecting these storable literals, silently tightening the hull
        "\x004", "\x1f4", "4\x00", "\x7f4", "\x854", "\t4", "\x0b4 ",
    ]
    got = {
        r["s"]: r["k"]
        for r in spark.createDataFrame([(s,) for s in int_lits], "s string")
        .select("s", F.col("s").try_cast("long").alias("k"))
        .collect()
    }
    for s in int_lits:
        spark_k, py_k = got[s], _literal_key(s, "int")
        if spark_k is not None:  # storable ⇒ Python must agree exactly
            assert py_k == spark_k, (s, spark_k, py_k)

    day_lits = [
        "2024-01-05", "2024-01-05 08:00:00", "2024-01-05T08:00:00",
        "2024-1-5", "2024-02-30", "999-01-01", "20240105", "0001-01-01",
        "9999-12-31", "2024-01-05x", "not a date", "",
    ]
    # the storage-side day parser: canon 4-2-2 shape + to_date(first 10)
    rows = (
        spark.createDataFrame([(s,) for s in day_lits], "s string")
        .select(
            "s",
            F.when(
                F.col("s").rlike(r"^\d{4}-\d{2}-\d{2}"),
                F.datediff(
                    # try_to_date: the write side's to_date RAISES on a
                    # canon-shaped-but-invalid date ('2024-02-30'), i.e.
                    # such values cannot be stored — for the parity
                    # check that is equivalent to "storage rejects"
                    F.expr("try_to_date(substring(s, 1, 10))"),
                    F.to_date(F.lit("1970-01-01")),
                ),
            ).alias("k"),
        )
        .collect()
    )
    for r in rows:
        spark_k, py_k = r["k"], _literal_key(r["s"], "day")
        if spark_k is not None:
            assert py_k == spark_k, (r["s"], spark_k, py_k)


@pytest.fixture(scope="module")
def sorted_stores(spark, tmp_path_factory):
    """One write of every layout with a declared within-file order:
    {case: (data files, sort columns)} for the read-back below."""
    import glob
    import random

    from accumulo_wikisearch_spark.config import EngineConfig
    from accumulo_wikisearch_spark.operators.ingest import build_index, write_index
    from accumulo_wikisearch_spark.operators.layout import ZLayout
    from accumulo_wikisearch_spark.operators.similarity import (
        append_ivf_index,
        write_ivf_index,
        write_ivf_pq_index,
    )

    root = tmp_path_factory.mktemp("sorted_stores")

    def files(store):
        return set(glob.glob(f"{store}/**/part-*.parquet", recursive=True))

    rows = [(i, "default", f"w{i % 7} t{i % 11}", i % 97, i % 89) for i in range(4000)]
    arts = spark.createDataFrame(
        rows, "id long, language string, text string, xf long, yf long"
    )
    idx = build_index(
        arts, EngineConfig(), {"ID": "id", "XF": "xf", "YF": "yf"}, unique_ids=True
    )
    zdir, flat = str(root / "z"), str(root / "flat")
    write_index(idx, zdir, zorder=ZLayout("XF", "YF", "int", "int"))
    write_index(idx, flat)
    out = {"z_docs_wide": (files(f"{zdir}/docs_wide"), ["z"])}
    for table, cols in [
        ("field_index", ["field", "norm_value"]),
        ("doc_fields", ["doc_id"]),
        ("term_index", ["norm_value"]),
        ("documents", ["doc_id"]),
        ("docs_wide", ["doc_id"]),
        ("global_index", ["field", "norm_value"]),
        ("reverse_index", ["field", "norm_value"]),
    ]:
        out[table] = (files(f"{flat}/{table}"), cols)

    rng = random.Random(7)
    ids = list(range(3000))
    rng.shuffle(ids)  # arrival order is NOT vec_id order

    def emb(vec_ids):
        return spark.createDataFrame(
            [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in vec_ids],
            "vec_id long, embedding array<float>",
        )

    ivf, ivfpq = str(root / "ivf"), str(root / "ivfpq")
    cents = write_ivf_index(emb(ids[:2500]), ivf, n_cells=8, lloyd_iters=1)
    base = files(ivf)
    append_ivf_index(emb(ids[2500:]), ivf, cents)
    out["ivf"] = (base, ["vec_id"])
    out["ivf_append"] = (files(ivf) - base, ["vec_id"])
    write_ivf_pq_index(emb(ids), ivfpq, n_cells=8, quantizers="seed")
    out["ivf_pq"] = (files(ivfpq), ["vec_id"])
    return out


@pytest.mark.parametrize(
    "case",
    [
        "field_index",
        "doc_fields",
        "term_index",
        "documents",
        "docs_wide",
        "global_index",
        "reverse_index",
        "z_docs_wide",
        "ivf",
        "ivf_append",
        "ivf_pq",
    ],
)
def test_written_files_keep_declared_sort_order(sorted_stores, case):
    """Spark's file writer silently re-sorts by the partition columns
    when the data is not already ordered by them (and FoldablePropagation
    can strip literal sort keys first) — which destroyed the within-file
    sort every partitioned layout promises (r15). Pin: every data file of
    every store written through ``write_layout`` with a declared order
    reads back in that order (pyarrow, file by file)."""
    import pyarrow.parquet as pq

    files, cols = sorted_stores[case]
    assert files
    for f in sorted(files):
        t = pq.read_table(f, columns=cols)
        keys = list(zip(*(t[c].to_pylist() for c in cols)))
        assert keys == sorted(keys), f"unsorted {case} file {f}"
