"""Fixed-order folds, each defined once, in every dialect it needs: the
vector folds of the embedding operators and the exact money sums.

The embedding operators (similarity, dedup, corpusprep) and their DuckDB
oracles must agree BIT FOR BIT on dot products, norms, squared L2
distances, hyperplane signed sums, the LSH bucket bits built from those
sums, and the occupancy-derived LSH width. IEEE doubles do not
reassociate, so every dialect of a fold is the same left fold with a
double accumulator, 0.0 + t1 + t2 + ... in ascending dimension order.
Each fold sits next to its twins:

- Spark SQL text (``*_spark``): the caller parses it with ONE ``F.expr``
  (or splices it into a larger parsed expression). A Column-built
  higher-order call (zip_with, aggregate, sequence) costs tens of py4j
  round-trips at plan-build time; the parsed text is the same tree. The
  folds stay higher-order (interpreted): an unrolled 64-term chain makes
  whole-stage codegen emit ~1 MB methods that take seconds to compile.
- DuckDB text (``*_duck``): the unrolled left-associated chain the
  oracles replay.
- Arrow (``DOT_FOLD``, ``NORM``, ``project_udf``): pandas UDFs for the
  corpus-sized passes, where Catalyst's interpreted folds dominate
  (fused 16x64 signed sums at sf0.1: 0.88 s for 2000 rows; 0.28 s here).
  numpy applies each += / * elementwise over the batch, dimension by
  dimension, so every output element sees the same fold order — no
  pairwise summation. Rounding stays JVM-side (F.round): numpy rounds
  HALF_EVEN, Spark and DuckDB HALF_UP.

Lambda variables in the Spark text are named ``_fold_*``: columns in this
engine are called ``v``, ``d``, ``s``, ``a``, ``x`` and ``y``, and a
lambda variable of the same name would silently capture such a column
referenced inside the lambda body.

tests/test_similarity.py::test_arrow_paths_bit_identical pins the
dialects of every fold against each other.

Money sums. The TPC-H and pricing queries sum prices, discounts and
quantities as exact decimals: sum(CAST(p AS DECIMAL(18,4)) * (1 -
CAST(d AS DECIMAL(18,4)))) and the like, shipped as decimal(38,s).
Spark runs each cast, product and decimal(38) add through
java.math.BigDecimal per row (0.72 s for one 600k-row task, against
0.14 s for the same sum in double). ``money_sum`` returns the same
decimal(38,s), bit for bit, from sums on 64-bit lanes:

- Per value, ``unscaled4(x)`` is the unscaled long of CAST(x AS
  DECIMAL(p,4)). Fast lane: when |x| < 2^33 (and < 10^(p-4)) and
  rint(x * 10^4) / 10^4 == x, it is rint(x * 10^4). Below 2^33 a
  double's ulp is at most 1.9e-6, far inside the 5e-5 rounding margin,
  so the 4-place value k/10^4 whose nearest double is x is what HALF_UP
  rounding gives for both Double.toString(x) (Spark's reading) and the
  exact binary value. Otherwise the exact lane runs the CAST itself, so
  NULL, NaN, +-inf and out-of-range values fail or go NULL as the CAST
  does.
- Per term (``Money``), products and differences of unscaled longs use
  try_multiply/try_subtract, at scale 4, 8 or 12. A term that overflows
  a long is NULL on the fast side; its row is summed by a decimal sum of
  the old decimal chain (``Money.dec``) that only such rows feed.
- Per group, the fast unscaled values u split into lanes of base
  10^LANE_DIGITS (= 10^6): u % 10^6, (u div 10^6) % 10^6, ..., and a top
  lane u div 10^(6(n-1)), n = ``lane_count(s)``, the fewest lanes with
  6(n-1) >= s. Each lane is a long sum. The low lanes add at most 10^6
  per row, so they cannot overflow below 10^12 rows per group; the top
  lane adds |u| / 10^(6(n-1)) <= |term| * 10^(s-6(n-1)) <= |term|, so
  it cannot overflow while the terms' absolute values sum below 10^18.
  (Two lanes split at 10^s would not do at scale 12: the low lane would
  overflow near 9.2M rows per group.) Under ANSI (on by default) a lane
  sum that does overflow raises; it never wraps.
- ``with_unscaled`` computes each term's ``u`` once per row, in a
  projection below the aggregate, and ``money_sum`` reads that column.
  The aggregate then reads a column instead of four copies of the
  product, which matters for short queries: Spark analyzes and optimizes
  the aggregate again per execution (tpch_q6_forecast at sf0.01, noop
  sink, median per run in one session: decimal chain 144 ms, lanes over
  a projected ``u`` 167 ms, product inline 179 ms; with this finisher
  the projected fold took 145 ms where the decimal chain took 132).
- The finisher runs once per group. It rebuilds the group's unscaled sum
  as one long with try_add/try_multiply and turns it into a decimal with
  one product by 10^-s; only when that long would overflow does it
  multiply each lane sum, as decimal(19,0), by its unit 10^(6k-s) and add
  them. It then adds the overflow rows' sum (as decimal(37,s)). All of it
  stays within 38 digits, so Spark's decimal rules round nothing. (With
  only the per-lane decimal finisher, q18's 150k per-order groups took
  about 0.07 s longer at sf0.1.) Lane 0 counts an overflowed row as 0,
  so the result is NULL exactly when the old sum was: when no row had a
  non-NULL term. The decimal(37,s) cast raises above 10^(37-s) (10^25 at
  scale 12), one digit short of decimal(38,s).
- The lanes cost a fixed 20-40 ms per execution (a larger aggregate to
  analyze and plan) and save per row, so a query uses them only where
  they measured faster: sums over most of lineitem (tpch q1, q9, q18,
  q20, join_3way, join_salted_skew, agg_sums_by_flag, agg_rollup,
  pivot_returnflag_status, unpivot_pricing_long). Sums over few rows
  after joins and filters (tpch q3, q5, q6, q7, q8, q10, q14, q15, q17,
  q19, q22, join_broadcast, join_bloom_prefilter, agg_cube) use
  ``decimal_sum``, the plain sum of the same ``Money.dec`` with the same
  result type. Measured per query in one session at sf0.1 (4 cores,
  noop sink, 9 alternating runs): q1 1.02 -> 0.60 s, q18 0.89 -> 0.48 s,
  join_3way 0.82 -> 0.63 s with lanes; q3 0.55 -> 0.60 s, q5 0.65 ->
  0.81 s, q6 0.18 -> 0.20 s (0.16 -> 0.21 s at sf0.01).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, replace
from decimal import Decimal

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

DIMS = 64


def quote_ident(name: str) -> str:
    """Backtick-quote (and escape) a column name for SQL text — keeps
    parity with F.col for names containing spaces or backticks."""
    return "`" + name.replace("`", "``") + "`"


def lit_vec_text(vals: list[float]) -> str:
    """SQL text of a double-vector literal via string->double casts.
    repr() emits the shortest round-trip decimal and CAST(varchar AS
    double) is correctly rounded, so the plan constant is bit-equal to
    the source value — the contract the oracle relies on when it
    recomputes the vector from the table instead of receiving it."""
    return "array(" + ", ".join(f"cast('{v!r}' as double)" for v in vals) + ")"


def _sum_spark(terms: str) -> str:
    """0.0-seeded left fold of an array<double> of terms."""
    return f"aggregate({terms}, 0.0D, (_fold_acc, _fold_t) -> _fold_acc + _fold_t)"


# ---------------------------------------------------------------------------
# Dot product and norm.


def dot_spark(a: str, b: str) -> str:
    """0.0 + a[1]*b[1] + a[2]*b[2] + ... over two array columns (SQL
    fragments); length-agnostic."""
    return _sum_spark(
        f"zip_with({a}, {b}, (_fold_x, _fold_y) ->"
        " cast(_fold_x as double) * cast(_fold_y as double))"
    )


def norm_spark(v: str) -> str:
    return f"sqrt({dot_spark(v, v)})"


def dot_duck(a: str, b: str, dims: int = DIMS) -> str:
    """DuckDB twin of dot_spark. Out-of-range terms coalesce to 0 (exact
    under IEEE: x + 0.0 == x)."""
    return "0.0 + " + " + ".join(
        f"COALESCE(CAST({a}[{i}] AS DOUBLE), 0.0) * COALESCE(CAST({b}[{i}] AS DOUBLE), 0.0)"
        for i in range(1, dims + 1)
    )


def norm_duck(v: str, dims: int = DIMS) -> str:
    return f"sqrt({dot_duck(v, v, dims)})"


def _dot_fold_udf():
    """Arrow twin of dot_spark (unrounded): the caller applies the norm
    division and F.round JVM-side."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(DoubleType())
    def _dot(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.vstack(a.to_numpy()).astype(np.float64)
        mb = np.vstack(b.to_numpy()).astype(np.float64)
        acc = np.zeros(ma.shape[0])
        for d in range(ma.shape[1]):
            acc += ma[:, d] * mb[:, d]
        return pd.Series(acc)

    return _dot


DOT_FOLD = _dot_fold_udf()


def _norm_udf():
    """Arrow twin of norm_spark."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(DoubleType())
    def _nrm(v: pd.Series) -> pd.Series:
        m = np.vstack(v.to_numpy()).astype(np.float64)
        acc = np.zeros(m.shape[0])
        for d in range(m.shape[1]):
            acc += m[:, d] * m[:, d]
        return pd.Series(np.sqrt(acc))

    return _nrm


NORM = _norm_udf()


# ---------------------------------------------------------------------------
# Squared L2 distance.


def l2_spark(a: str, b: str) -> str:
    """0.0 + (a1-b1)^2 + (a2-b2)^2 + ...; ``a``/``b`` are SQL fragments
    (column names or lit_vec_text literals)."""
    d = "(cast(_fold_x as double) - cast(_fold_y as double))"
    return _sum_spark(f"zip_with({a}, {b}, (_fold_x, _fold_y) -> {d} * {d})")


def l2_duck(a: str, b: str, dims: int = DIMS) -> str:
    """DuckDB twin of l2_spark."""
    return "0.0 + " + " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        f" * (CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        for i in range(1, dims + 1)
    )


# ---------------------------------------------------------------------------
# Hyperplane signed sums and LSH bucket bits.


def hyperplane_signs(nbits: int, dims: int = DIMS, seed: int = 42) -> list[list[int]]:
    """Deterministic Rademacher (+1/-1) hyperplane matrix from md5 — plain
    constants shared verbatim by the Spark plan and the oracle SQL. Row i
    depends only on (seed, i), so the first b rows of a wider family are
    exactly the b-row family."""
    return [
        [
            1 if hashlib.md5(f"{seed}:{i}:{d}".encode()).digest()[0] & 1 else -1
            for d in range(dims)
        ]
        for i in range(nbits)
    ]


def _sign_row(signs: list[int]) -> str:
    """±1 row as a double-array literal; 1.0D/-1.0D are the exact doubles."""
    return "array(" + ",".join("1.0D" if s > 0 else "-1.0D" for s in signs) + ")"


def signed_sums_spark(vec: str, signs_all: list[list[int]]) -> str:
    """ALL hyperplane signed sums in ONE traversal of ``vec``, as
    array<double>: a fold over the dimension index whose accumulator has
    one slot per hyperplane; step d adds v[d] * signs[i][d] to slot i.
    Per hyperplane that is 0.0 + v1*s1 + v2*s2 + ..., the order of
    signed_sum_duck. Derive bucket bits in a SEPARATE select
    (bucket_from_sums), so the fold evaluates once per row."""
    n = len(signs_all)
    dims = len(signs_all[0])
    # transposed sign matrix: element d is the d-th sign of every plane
    sign_t = "array(" + ",".join(
        _sign_row([signs_all[i][d] for i in range(n)]) for d in range(dims)
    ) + ")"
    return (
        f"aggregate(sequence(1, {dims}), array_repeat(0.0D, {n}),"
        f" (_fold_acc, _fold_d) -> zip_with(_fold_acc, element_at({sign_t}, _fold_d),"
        f" (_fold_a, _fold_s) -> _fold_a"
        f" + cast(element_at({vec}, _fold_d) as double) * _fold_s))"
    )


def signed_sum_duck(vec: str, signs: list[int]) -> str:
    """DuckDB twin of one slot of signed_sums_spark."""
    return "0.0 + " + " + ".join(
        f"CAST({vec}[{d + 1}] AS DOUBLE) * ({float(s)})" for d, s in enumerate(signs)
    )


def bucket_from_sums(
    sums: str, offset: int, bits: int, nbits: str | None = None
) -> Column:
    """LSH bucket id from a slice of a signed-sums array (SQL text, e.g.
    "_p.sums"): bit i is set when sums[offset + i] > 0. With ``nbits`` (SQL
    text of a runtime width, e.g. an occupancy-derived column) bit i
    counts only when i < nbits; the planes are the same either way (see
    hyperplane_signs). Keep this in a select AFTER the fold: CollapseProject
    does not inline a non-cheap expression referenced ``bits`` times."""

    def bit(i: int) -> str:
        cond = f"element_at({sums}, {offset + i + 1}) > 0"
        if nbits is not None:
            cond = f"({i} < {nbits}) and ({cond})"
        return f"if({cond}, {1 << i}, 0)"

    return F.expr(f"cast(({' + '.join(bit(i) for i in range(bits))}) as int)")


def bucket_duck(vec: str, signs: list[list[int]], nbits: str | None = None) -> str:
    """DuckDB twin of signed sums + bucket_from_sums over ``vec``."""

    def bit(i: int, row: list[int]) -> str:
        cond = f"({signed_sum_duck(vec, row)}) > 0"
        if nbits is not None:
            cond = f"{i} < {nbits} AND {cond}"
        return f"(CASE WHEN {cond} THEN {1 << i} ELSE 0 END)"

    return " + ".join(bit(i, row) for i, row in enumerate(signs))


def project_udf(signs_all: list[list[int]]):
    """Arrow twin of norm_spark + signed_sums_spark in one pass: returns
    struct<nrm double, sums array<double>>."""
    from pyspark.sql.functions import pandas_udf

    S = np.array(signs_all, dtype=np.float64)  # (n_hyperplanes, dims)
    ret = StructType(
        [
            StructField("nrm", DoubleType()),
            StructField("sums", ArrayType(DoubleType())),
        ]
    )

    @pandas_udf(ret)
    def _proj(v: pd.Series) -> pd.DataFrame:
        m = np.vstack(v.to_numpy()).astype(np.float64)  # (rows, dims)
        acc = np.zeros((m.shape[0], S.shape[0]))
        nrm2 = np.zeros(m.shape[0])
        for d in range(m.shape[1]):
            acc += m[:, d : d + 1] * S[:, d]
            nrm2 += m[:, d] * m[:, d]
        return pd.DataFrame({"nrm": np.sqrt(nrm2), "sums": list(acc)})

    return _proj


# ---------------------------------------------------------------------------
# Occupancy-scaled LSH width.


def occupancy_nbits(n: str, target: int, min_nbits: int, max_nbits: int) -> str:
    """The smallest b in [min_nbits, max_nbits] with 2^b * target >= n,
    i.e. ceil(log2(n / target)) clamped, for a row count ``n`` (SQL
    text). An integer CASE chain, no floating log whose last ulp could
    differ between engines at exact powers of two; the same text is valid
    Spark SQL and DuckDB. Mean bucket occupancy stays <= target, so
    in-bucket pair work sum(|b|^2) stays ~n * target — linear in the
    corpus, where a fixed width gives n^2 / 2^nbits."""
    whens = " ".join(
        f"WHEN {(1 << b) * target} >= {n} THEN {b}"
        for b in range(min_nbits, max(min_nbits + 1, max_nbits))
    )
    return f"CASE {whens} ELSE {max_nbits} END"


# ---------------------------------------------------------------------------
# Exact money sums on long lanes (module docstring, "Money sums").

LANE_DIGITS = 6  # lane base 10^6


def lane_count(scale: int) -> int:
    """Lanes for a sum at ``scale``: the fewest n with LANE_DIGITS * (n - 1)
    >= scale (module docstring, "Money sums")."""
    return 1 + -(-scale // LANE_DIGITS)


def unscaled4(x: str, precision: int = 18) -> str:
    """SQL text of the unscaled long of CAST(x AS DECIMAL(precision,4)),
    for a double ``x``. Fast lane: rint(x * 10^4) when x is small and sits
    on its 4-place value; exact lane: the CAST itself, which also keeps
    Spark's NULL/NaN/inf/overflow behaviour."""
    bound = min(2**33, 10 ** (precision - 4))
    r = f"rint({x} * 10000D)"
    return (
        f"CASE WHEN abs({x}) < {bound}D AND {r} / 10000D = {x}"
        f" THEN CAST({r} AS BIGINT)"
        f" ELSE CAST(CAST({x} AS DECIMAL({precision},4)) * 10000 AS BIGINT) END"
    )


@dataclass(frozen=True)
class Money:
    """A money term as SQL text, twice: ``u`` is its unscaled long at
    ``scale`` (NULL for a NULL input or, unless ``exact``, on overflow) and
    ``dec`` the decimal chain that computes the same value exactly.
    ``p * (1 - d) * (1 + t)`` and ``a - b`` build products and differences
    the way the decimal chains did."""

    u: str
    dec: str
    scale: int
    exact: bool = True

    def __mul__(self, o: Money) -> Money:
        return Money(
            f"try_multiply({self.u}, {o.u})", f"({self.dec} * {o.dec})",
            self.scale + o.scale, False,
        )

    def _one(self, op: str) -> Money:
        # a single column's |u| < 10^18, so 10^s -/+ u cannot overflow
        if not self.exact:
            raise ValueError("1 - x and 1 + x take a single column")
        s = self.scale
        return Money(
            f"({10**s} {op} {self.u})",
            f"(CAST(1 AS DECIMAL({s + 1},{s})) {op} {self.dec})", s,
        )

    def __rsub__(self, one: int) -> Money:
        return self._one("-") if one == 1 else NotImplemented

    def __radd__(self, one: int) -> Money:
        return self._one("+") if one == 1 else NotImplemented

    def __sub__(self, o: Money) -> Money:
        s = max(self.scale, o.scale)

        def at(m: Money) -> str:
            return m.u if m.scale == s else f"try_multiply({m.u}, {10 ** (s - m.scale)})"

        return Money(
            f"try_subtract({at(self)}, {at(o)})", f"({self.dec} - {o.dec})", s, False
        )


def money(col: str, precision: int = 18) -> Money:
    """CAST(col AS DECIMAL(precision,4)) as a money term."""
    return Money(unscaled4(col, precision), f"CAST({col} AS DECIMAL({precision},4))", 4)


def money_const(value: str, precision: int) -> Money:
    """A decimal constant (e.g. "0.6") at scale 4."""
    u = Decimal(value).scaleb(4)
    if u != u.to_integral_value():
        raise ValueError(f"{value} has more than 4 decimal places")
    return Money(str(int(u)), f"CAST('{value}' AS DECIMAL({precision},4))", 4)


def with_unscaled(df: DataFrame, *terms: Money) -> tuple:
    """``(df', term', ...)``: ``df`` plus one column per term holding its
    unscaled long (``Money.u``), and each term re-pointed at its column.
    Call it on the rows the aggregate reads (after the joins), then sum
    the returned terms with ``money_sum``: each row's product is computed
    once, below the aggregate, and the aggregate's expressions stay small
    (each is analyzed and optimized again per execution)."""
    names = [f"_u{hashlib.md5(m.u.encode()).hexdigest()[:12]}" for m in terms]
    out = df.withColumns({n: F.expr(m.u) for n, m in zip(names, terms)})
    return (out, *(replace(m, u=quote_ident(n)) for n, m in zip(names, terms)))


def decimal_sum(m: Money, when: str | None = None) -> Column:
    """The same decimal(38, m.scale) as ``money_sum``, from the plain sum
    of the decimal chain (``m.dec``): for sums whose rows are few after
    the joins and filters, where the lanes' fixed cost per build and
    plan exceeds their saving per row (module docstring, "Money sums")."""
    dec = m.dec if when is None else f"CASE WHEN {when} THEN {m.dec} ELSE 0 END"
    return F.expr(f"CAST(sum({dec}) AS DECIMAL(38,{m.scale}))")


def money_sum(m: Money, when: str | None = None) -> Column:
    """sum(m.dec), or sum(CASE WHEN when THEN m.dec ELSE 0 END), as the
    exact decimal(38, m.scale) the decimal chain's sum returns, NULL
    exactly when that sum is NULL: rows with a non-NULL ``u`` sum on long
    lanes, the others (overflowed products) in a decimal sum that only they
    feed. One parsed expression."""
    u, dec, s = m.u, m.dec, m.scale
    if when is not None:
        u = f"CASE WHEN {when} THEN {u} ELSE 0 END"
        dec = f"CASE WHEN {when} THEN {dec} ELSE 0 END"
    n = lane_count(s)
    base = 10**LANE_DIGITS
    lanes = []
    for k in range(n):
        d = f"({u})" if k == 0 else f"(({u}) div {base**k})"
        if k < n - 1:
            d = f"({d} % {base})"
        if m.exact:
            lanes.append(f"sum({d})")
        elif k == 0:
            # an overflowed row adds 0 here, so lane 0 is NULL exactly
            # when every row's ``dec`` is NULL, as the old sum was
            lanes.append(f"sum(coalesce({d}, if({dec} IS NULL, NULL, 0L)))")
        else:
            lanes.append(f"coalesce(sum({d}), 0L)")

    def units(e: int) -> str:  # a decimal(19,0) lane value times 10^e
        return "" if e == 0 else f" * {10**e}BD" if e > 0 else f" * 0.{'0' * (-e - 1)}1BD"

    # the group's unscaled sum as one long when it fits (one decimal
    # product per group), else lane by lane in decimal
    whole = lanes[0]
    for k in range(1, n):
        whole = f"try_add({whole}, try_multiply({lanes[k]}, {base**k}))"
    total = f"coalesce(CAST({whole} AS DECIMAL(19,0)){units(-s)}, " + " + ".join(
        f"CAST({lane} AS DECIMAL(19,0)){units(LANE_DIGITS * k - s)}"
        for k, lane in enumerate(lanes)
    ) + ")"
    if not m.exact:
        # CASE, not FILTER: with FILTER (WHERE u IS NULL) the task ran at
        # the decimal chain's speed, as if ``dec`` were computed on every
        # row (sf0.1 lineitem, p * (1 - d): 0.33-0.50 s with FILTER,
        # 0.14-0.19 s with CASE, 0.17-0.21 s for the long lanes alone)
        total += (
            f" + coalesce(CAST(sum(CASE WHEN ({u}) IS NULL THEN {dec} END)"
            f" AS DECIMAL(37,{s})), 0BD)"
        )
    return F.expr(f"CAST({total} AS DECIMAL(38,{s}))")
