"""SURVEY §2 parity rows added in round 8 (q_parity.py): the reference's
partition functions (O5-O7), IntegerSplitter bounds (S11), and the
builder-driving queries S2/S3/P6/P8/K4/K5 vs their oracles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_1_spark.operators import keyfield
from hadoop_1_spark.sources import io as hio
from tests.conftest import assert_query_matches_oracle


# --- reference hash-fold parity (pinned against java's own values) -------


def test_java_hash_fold_known_values(spark):
    # "hello".hashCode() == 99162322 (String/KeyField seed 0);
    # Text.hashCode("hello") == hashBytes seed 1 == 127791473;
    # empty input returns the seed (hashBytes over zero bytes).
    df = spark.createDataFrame([("hello",), ("",)], "s string")
    rows = {
        r["s"]: (r["h0"], r["h1"])
        for r in df.select(
            "s",
            keyfield.java_hash_fold(F.col("s"), seed=0).alias("h0"),
            keyfield.java_hash_fold(F.col("s"), seed=1).alias("h1"),
        ).collect()
    }
    assert rows["hello"] == (99162322, 127791473)
    assert rows[""] == (0, 1)


def test_java_hash_fold_wraps_like_int32(spark):
    # A long ASCII string overflows 32 bits many times over; pin the value
    # computed by the real Java fold for "abcdefghij" * 10.
    s = "abcdefghij" * 10
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) & 0xFFFFFFFF
        if h >= 2**31:
            h -= 2**32
    df = spark.createDataFrame([(s,)], "s string")
    got = df.select(keyfield.java_hash_fold(F.col("s")).alias("h")).head()["h"]
    assert got == h


def test_keyfield_partition_id_matches_manual_fold(spark):
    # -k2,2 on 'alpha<TAB>beta': fold over 'beta' with seed 0 then
    # (h & MAX) % 8 — exactly KeyFieldBasedPartitioner.getPartition.
    h = 0
    for ch in "beta":
        h = (h * 31 + ord(ch)) & 0xFFFFFFFF
    if h >= 2**31:
        h -= 2**32
    expected = (h & 0x7FFFFFFF) % 8
    df = spark.createDataFrame([("alpha\tbeta",), ("",)], "line string")
    got = {
        r["line"]: r["p"]
        for r in df.select(
            "line",
            keyfield.key_field_partition_id(F.col("line"), "-k2,2", 8).alias("p"),
        ).collect()
    }
    assert got["alpha\tbeta"] == expected
    # empty key partitions to 0 (KeyFieldBasedPartitioner.java:80-82)
    assert got[""] == 0


def test_binary_partition_offsets_mod_length(spark):
    # BinaryPartitioner offsets are taken modulo the key length
    # (BinaryPartitioner.java:135-136): (0, -1) covers the whole key, so it
    # must equal the plain seed-1 fold partition.
    df = spark.createDataFrame([("purchase",), ("xy",)], "s string")
    rows = df.select(
        keyfield.binary_partition_id(F.col("s"), 8, 0, -1).alias("whole"),
        keyfield.hash_partition_id(F.col("s"), 8).alias("hashp"),
        keyfield.binary_partition_id(F.col("s"), 8, 0, 3).alias("first4"),
    ).collect()
    for r in rows:
        assert r["whole"] == r["hashp"]


def test_binary_partition_empty_and_null_key_raise(spark):
    """BinaryPartitioner on a zero-length key divides by the key length —
    ArithmeticException in the reference (BinaryPartitioner.java:135) —
    and getBytes() on a null key would NPE; both must raise here, never
    leak a NULL partition id (F.length(NULL) is NULL, so a plain
    ``length == 0`` guard silently misses the null case)."""
    import pytest
    from pyspark.errors import PySparkException

    for data in ([("",)], [(None,)]):
        df = spark.createDataFrame(data, "s string")
        with pytest.raises(PySparkException, match="BinaryPartitioner"):
            df.select(
                keyfield.binary_partition_id(F.col("s"), 8, 0, -1).alias("p")
            ).collect()


# --- IntegerSplitter boundary expectations (TestIntegerSplitter.java) ----


@pytest.mark.parametrize(
    "num_splits,lo,hi,expected",
    [
        (10, 0, 100, [0, 10, 20, 30, 40, 50, 60, 70, 80, 90, 100]),
        (10, 0, 95, [0, 9, 18, 27, 36, 45, 54, 63, 72, 81, 90, 95]),
        (1, 5, 5, [5, 5]),
        (5, 5, 5, [5, 5]),
        (5, 3, 5, [3, 4, 5]),
    ],
)
def test_integer_splitter_points(spark, num_splits, lo, hi, expected):
    data = [(lo,), (hi,)] if hi > lo else [(lo,)]
    df = spark.createDataFrame(data, "v long")
    rows = (
        hio.db_split_intervals(df, "v", num_splits).orderBy("split_id").collect()
    )
    pts = [rows[0]["lo"]] + [r["hi"] for r in rows]
    assert pts == expected
    # all intervals half-open except the closed last
    assert [r["closed"] for r in rows] == [False] * (len(rows) - 1) + [True]


# --- the registered queries vs their oracles (sf0.01 fixtures) -----------


@pytest.mark.parametrize(
    "name",
    [
        "kv_text_separator",
        "nline_split_counts",
        "chain_pipeline",
        "skip_bad_side_output",
        "partitioner_histogram",
        "multi_output_manifest",
        "db_split_bounds",
    ],
)
def test_parity_query_matches_oracle(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name)


def test_bucketed_join_query_has_no_exchange(spark):
    """J1 at the plan level: the registered bucketed customer-orders query
    sort-merge joins AND aggregates on the bucket key with zero Exchange
    (CompositeInputFormat.java:48 parity — the data never moves)."""
    from hadoop_1_spark import registry

    df = registry.QUERIES["bucketed_join_customer_orders"](
        spark, "/root/testdata/sf0.01"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan


# --- typed splitters (TestTextSplitter.java / TestIntegerSplitter.java) --


def test_text_splitter_string_roundtrip():
    """TestTextSplitter conversion cases: empty <-> ZERO, single chars,
    multi-char, and the MAX_CHARS=8 chomp."""
    from decimal import Decimal

    assert hio.string_to_decimal("") == Decimal(0)
    assert hio.decimal_to_string(Decimal(0)) == ""
    for s in ("A", "Z", "abc", "big str"):
        assert hio.decimal_to_string(hio.string_to_decimal(s)) == s
    assert (
        hio.decimal_to_string(hio.string_to_decimal("AVeryLongStringIndeed"))
        == "AVeryLon"
    )


def test_text_splitter_alphabet_split():
    """TestTextSplitter.testAlphabetSplit: 25 splits A..Z give exactly one
    boundary per letter."""
    assert hio.text_split_points(25, "A", "Z") == [
        chr(c) for c in range(ord("A"), ord("Z") + 1)
    ]


def test_text_splitter_common_prefix():
    """TestTextSplitter.testCommonPrefix: splits between 'Hand' and
    'Hardy' share the stripped 'Ha' prefix; exact middles are
    unicode-ugly by design, so pin the endpoints and the count."""
    pts = hio.text_split_points(5, "nd", "rdy", common_prefix="Ha")
    assert pts[0] == "Hand"
    assert pts[-1] == "Hardy"
    assert len(pts) == 6
    assert all(p.startswith("Ha") for p in pts)


@pytest.mark.parametrize(
    "num_splits,lo,hi,expected",
    [
        (10, 0, 100, [0, 10, 20, 30, 40, 50, 60, 70, 80, 90, 100]),
        (10, 0, 95, [0, 9, 18, 27, 36, 45, 54, 63, 72, 81, 90, 95]),
        (1, 5, 5, [5, 5]),
        (5, 5, 5, [5, 5]),
        (5, 3, 5, [3, 4, 5]),
    ],
)
def test_integer_split_points_driver_side(num_splits, lo, hi, expected):
    """The driver-side twin of db_split_intervals matches the same
    TestIntegerSplitter expectations (and DateSplitter IS this walk over
    epoch millis)."""
    assert hio.integer_split_points(num_splits, lo, hi) == expected
    assert hio.date_split_points(num_splits, lo, hi) == expected


def test_decimal_split_points_even():
    from decimal import Decimal

    pts = hio.decimal_split_points(4, Decimal(0), Decimal(10))
    assert pts == [Decimal("0"), Decimal("2.5"), Decimal("5.0"),
                   Decimal("7.5"), Decimal("10.0")]


def test_boolean_splits_cases():
    """BooleanSplitter: one or two point splits, plus IS NULL when an
    extremum is null (BooleanSplitter.java:36-71)."""
    assert hio.boolean_splits(False, True) == [
        ("$col = FALSE", "$col = FALSE"),
        ("$col = TRUE", "$col = TRUE"),
    ]
    assert hio.boolean_splits(True, True) == [("$col = TRUE", "$col = TRUE")]
    assert hio.boolean_splits(False, False) == [("$col = FALSE", "$col = FALSE")]
    assert hio.boolean_splits(None, None) == [("$col IS NULL", "$col IS NULL")]
    assert hio.boolean_splits(None, True) == [
        ("$col = FALSE", "$col = FALSE"),
        ("$col = TRUE", "$col = TRUE"),
        ("$col IS NULL", "$col IS NULL"),
    ]


# --- KeyFieldHelper.parseOption global-option shapes ---------------------


def test_parse_spec_global_options():
    """TestKeyFieldHelper.testparseOption: standalone -n/-r/-nr apply to
    every -k spec with no flags of its own; a spec with ANY flag keeps
    exactly its own (the reference copies both globals only when neither
    flag is set, KeyFieldHelper.java:185-189)."""
    from hadoop_1_spark.operators.keyfield import parse_sort_spec

    s = parse_sort_spec("-nr -k1.2,3.4")[0]
    assert (s.numeric, s.reverse) == (True, True)
    s = parse_sort_spec("-nr -k1.2,3.4n")[0]
    assert (s.numeric, s.reverse) == (True, False)
    s = parse_sort_spec("-nr -k1.2,3.4r")[0]
    assert (s.numeric, s.reverse) == (False, True)
    both = parse_sort_spec("-nr -k1.2,3.4 -k5.6,7.8")
    assert [(k.numeric, k.reverse) for k in both] == [(True, True)] * 2
    both = parse_sort_spec("-n -k1.2,3.4 -k5.6,7.8")
    assert [(k.numeric, k.reverse) for k in both] == [(True, False)] * 2
    both = parse_sort_spec("-r -k1.2,3.4 -k5.6,7.8")
    assert [(k.numeric, k.reverse) for k in both] == [(False, True)] * 2
    # a flagged first spec does NOT bleed onto the second
    both = parse_sort_spec("-k1.2,3.4n -k5.6,7.8")
    assert [(k.numeric, k.reverse) for k in both] == [(True, False), (False, False)]
    # -k with the field range in the next token; opts on the first endpoint
    s = parse_sort_spec("-k 1.2")[0]
    assert (s.field_start, s.char_start, s.field_end) == (1, 2, None)
    s = parse_sort_spec("-k1.2n,3.4")[0]
    assert (s.numeric, s.reverse) == (True, False)
    s = parse_sort_spec("-k1.2nr,3.4")[0]
    assert (s.numeric, s.reverse) == (True, True)
    # the four-spec composite keeps per-spec flags positionally
    four = parse_sort_spec("-nr -k1.2,3.4 -k5.6,7.8n -k9.10,11.12r -k13.14,15.16nr")
    assert [(k.numeric, k.reverse) for k in four] == [
        (True, True), (True, False), (False, True), (True, True)]
    assert [(k.field_start, k.char_start, k.field_end, k.char_end) for k in four] == [
        (1, 2, 3, 4), (5, 6, 7, 8), (9, 10, 11, 12), (13, 14, 15, 16)]


def test_parse_spec_no_keyspec_defaults():
    """parseOption with NO -k specs always lands on the global
    KeyDescription as the sole spec (allKeySpecs.add(global),
    KeyFieldHelper.java:190-192): flag-only options carry the flags on a
    whole-line key; a non-empty option with no flags at all — and the
    empty option's early-return "default comparison" (:159-162) — are
    the same whole-line default-order key."""
    from hadoop_1_spark.operators.keyfield import parse_sort_spec

    for spec, nm, rv in [("-n", True, False), ("-r", False, True),
                         ("-nr", True, True), ("-n -r", True, True)]:
        got = parse_sort_spec(spec)
        assert len(got) == 1, spec
        k = got[0]
        assert (k.field_start, k.char_start, k.field_end, k.char_end) == (
            1, 1, None, None), spec
        assert (k.numeric, k.reverse) == (nm, rv), spec
    for spec in ("", "   ", "bogus"):
        got = parse_sort_spec(spec)
        assert len(got) == 1, spec
        k = got[0]
        assert (k.field_start, k.field_end, k.numeric, k.reverse) == (
            1, None, False, False), spec


def test_is_whole_line_and_identity_compile(spark):
    """A whole-line spec (flag-only, or explicit -k1) compiles to the line
    column ITSELF — split-on-separator then rejoin is the identity — so
    whole-line sorts carry no byte-identical key duplicate. Any char
    offset, bounded field range, or numeric flag disqualifies."""
    from pyspark.sql import functions as F

    from hadoop_1_spark.operators import keyfield

    assert keyfield.is_whole_line(keyfield.parse_sort_spec("-r")[0])
    assert keyfield.is_whole_line(keyfield.parse_sort_spec("-k1")[0])
    assert not keyfield.is_whole_line(keyfield.parse_sort_spec("-n")[0])  # numeric cast
    assert not keyfield.is_whole_line(keyfield.parse_sort_spec("-k1,2")[0])
    assert not keyfield.is_whole_line(keyfield.parse_sort_spec("-k1.2")[0])
    assert not keyfield.is_whole_line(keyfield.parse_sort_spec("-k2")[0])

    # compile on a line with empty and repeated fields: identity holds
    df = spark.createDataFrame([("a--b-",), ("-x-",), ("plain",)], "line string")
    key, rev = keyfield.compile_sort_keys(F.col("line"), "-r", separator="-")[0]
    assert rev
    assert df.where(key != F.col("line")).count() == 0
