"""Fixed-order vector folds, each defined once, in every dialect it needs.

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
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
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
