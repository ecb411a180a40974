"""Exact money sums (operators/folds.py, "Money sums"): the fast lane of
``unscaled4`` agrees with Spark's CAST bit for bit, ``money_sum`` (and
``decimal_sum``, its plain twin) returns exactly the decimal sum it
replaces on fast, overflow, mixed and NULL groups, and a lane that
overflows raises instead of wrapping."""

from __future__ import annotations

import math
from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hadoop_1_spark.operators import folds

TWO33 = float(2**33)
EDGE = [
    0.0, -0.0, 5e-324, -5e-324, 2.2250738585072014e-308, 1e-5, 4.9999e-5,
    5e-5, -5e-5, 1.5e-4, 2.5e-4, 0.00015, 1.23455, -1.23455, 0.1, 0.05, 0.07,
    1.0000499999999999, 1.00005, 1.00015, 12345.67895, 901.5, 55000.0,
    TWO33 - 1.0, TWO33 - 0.5, TWO33 - 0.0001, math.nextafter(TWO33, 0.0), TWO33,
    math.nextafter(TWO33, math.inf), TWO33 + 0.5, TWO33 + 0.00005, -(TWO33 - 0.5),
    -TWO33, 1e13 + 0.12345, -1e13 - 0.00005, 99999999999999.98, None,
]


def _fast(x: float, precision: int = 18) -> bool:
    bound = min(2**33, 10 ** (precision - 4))
    return abs(x) < bound and round(x * 10000.0) / 10000.0 == x


def _unscaled_vs_cast(spark, xs, precision=18):
    """(x, unscaled4(x), unscaled CAST(x AS DECIMAL(precision,4))) rows."""
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    rows = df.select(
        "x",
        F.expr(folds.unscaled4("x", precision)).alias("u"),
        F.expr(f"CAST(x AS DECIMAL({precision},4))").alias("c"),
    ).collect()
    return [(r.x, r.u, None if r.c is None else int(r.c.scaleb(4))) for r in rows]


def test_unscaled4_matches_cast_on_edges(spark):
    rows = _unscaled_vs_cast(spark, EDGE)
    bad = [(x, u, c) for x, u, c in rows if u != c]
    assert not bad, bad
    fast = [x for x in EDGE if x is not None and _fast(x)]
    assert fast and len(fast) < len(EDGE) - 1  # both lanes exercised
    # narrower casts: in-range values, same lanes
    for precision, xs in ((6, [0.05, 0.07, -0.00005, 99.99994, 99.9999]),
                          (12, [24.0, 1.00005, 99999999.9999, -12345678.5])):
        rows = _unscaled_vs_cast(spark, xs, precision)
        assert all(u == c for _, u, c in rows), rows


@pytest.mark.parametrize(
    "x, precision", [(math.nan, 18), (math.inf, 18), (-math.inf, 18), (1e15, 18), (100.0, 6)]
)
def test_unscaled4_fails_like_cast(spark, x, precision):
    """NaN, +-inf and out-of-range values take the exact lane, so they
    give what CAST gives: an error under ANSI, NULL without it."""

    def outcome(expr):
        try:
            return ("value", spark.createDataFrame([(x,)], "x double").select(F.expr(expr)).collect())
        except Exception as e:  # noqa: BLE001 - comparing failure kinds
            return ("error", type(e).__name__)

    got = outcome(folds.unscaled4("x", precision))
    want = outcome(f"CAST(CAST(x AS DECIMAL({precision},4)) * 10000 AS BIGINT)")
    assert got == want


_HALF = st.integers(min_value=-(10**13), max_value=10**13).map(lambda k: (k + 0.5) / 10000)
_ANY = st.floats(min_value=-1e13, max_value=1e13, allow_nan=False, allow_infinity=False)
_NEAR33 = st.floats(min_value=TWO33 - 1.0, max_value=TWO33 + 1.0)


@given(st.lists(st.one_of(_HALF, _ANY, _NEAR33, st.none()), min_size=1, max_size=200))
@settings(max_examples=10, deadline=None)
def test_unscaled4_matches_cast_property(spark, xs):
    bad = [(x, u, c) for x, u, c in _unscaled_vs_cast(spark, xs) if u != c]
    assert not bad, bad


P, D, T = folds.money("p"), folds.money("d", 6), folds.money("t", 6)
TERMS = {
    "p": P,
    "p(1-d)": P * (1 - D),
    "pd": P * D,
    "p(1-d)(1+t)": P * (1 - D) * (1 + T),
    "p(1-d)-pdt": P * (1 - D) - P * D * T,
}
GROUPS = {
    # all on the fast lane
    "fast": [(1000.25, 0.05, 0.08), (0.0001, 0.0, 0.0), (-17.5, 0.1, 0.02)] * 4,
    # 1e13 * 10^4 * 9500 overflows a long: every product row takes the
    # decimal lane (the single-column terms stay on long lanes)
    "overflow": [(1e13, 0.05, 0.08), (-2e13, 0.01, 0.0), (5e13 + 0.5, 0.02, 0.07)],
    "mixed": [(1e13, 0.05, 0.08), (901.55, 0.04, 0.02), (None, 0.05, 0.0), (-3.3333, 0.0, 0.01)],
    "null": [(None, None, None)] * 3,
}


@pytest.mark.parametrize("term", sorted(TERMS))
def test_money_sum_equals_decimal_sum(spark, term):
    m = TERMS[term]
    rows = [(g, *r) for g, rs in GROUPS.items() for r in rs]
    df = spark.createDataFrame(rows, "g string, p double, d double, t double")
    cond = "p > 0"
    got = df.groupBy("g").agg(
        folds.money_sum(m).alias("s"), folds.money_sum(m, when=cond).alias("w")
    )
    projected, mu = folds.with_unscaled(df, m)
    got_u = projected.groupBy("g").agg(
        folds.money_sum(mu).alias("s"), folds.money_sum(mu, when=cond).alias("w")
    )
    assert sorted(got_u.collect()) == sorted(got.collect())
    want = df.groupBy("g").agg(
        F.expr(f"CAST(sum({m.dec}) AS DECIMAL(38,{m.scale}))").alias("s"),
        F.expr(f"CAST(sum(CASE WHEN {cond} THEN {m.dec} ELSE 0 END) AS DECIMAL(38,{m.scale}))")
        .alias("w"),
    )
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    plain = df.groupBy("g").agg(
        folds.decimal_sum(m).alias("s"), folds.decimal_sum(m, when=cond).alias("w")
    )
    assert plain.schema == want.schema
    assert sorted(plain.collect()) == sorted(want.collect())
    empty = df.where("false")
    assert empty.agg(folds.money_sum(m)).collect()[0][0] is None


def test_lane_bounds_cover_design_range():
    """At every scale in use, no lane sum reaches 2^63 for groups of fewer
    than 10^12 rows whose terms' absolute values sum below 10^18."""
    base = 10**folds.LANE_DIGITS
    for s in (4, 8, 12):
        n = folds.lane_count(s)
        assert 10**12 * base < 2**63  # the low lanes hold one digit per row
        assert 10 ** (18 + s) // base ** (n - 1) < 2**63  # the top lane


def test_lane_overflow_raises(spark, monkeypatch):
    """Eleven 9e5 charges sum to 9.9e18 units of 10^-12: exact on the real
    lanes; with one lane widened to 10^18 that lane passes 2^63, and the
    ANSI sum raises instead of wrapping."""
    df = spark.createDataFrame([(900000.0, 0.0, 0.0)] * 11, "p double, d double, t double")
    term = TERMS["p(1-d)(1+t)"]
    assert df.agg(folds.money_sum(term)).collect()[0][0] == Decimal("9900000")
    monkeypatch.setattr(folds, "LANE_DIGITS", 18)
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|overflow"):
        df.agg(folds.money_sum(term)).collect()
