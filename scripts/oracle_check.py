"""Local replica of the driver's correctness gate: run a registered query
on Spark AND its DuckDB oracle SQL at sf0.01, compare row count, column
names, and exact values (columns sorted by name, rows sorted by all
columns, floats bit for bit). The tier-1 suite compares every oracled
query at sf0.001 with the same ``oracle_mismatch``.

Usage: python scripts/oracle_check.py [query ...]   (default: all oracles)
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from hadoop_1_spark import registry  # noqa: E402
from hadoop_1_spark.session import TABLES, get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def _canon(v):
    # Type-tagged so rows containing NULLs still sort (None has no <).
    if v is None:
        return ("n",)
    if isinstance(v, float):
        return ("f", struct_pack(v))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon(x) for x in v))
    return ("v", v)


def struct_pack(v: float) -> bytes:
    import struct

    if math.isnan(v):
        return b"nan"
    return struct.pack("<d", v)


def create_views(con, sf_dir: str) -> None:
    """Register each table under ``sf_dir`` as a DuckDB view of its name."""
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")


def oracle_mismatch(name: str, cols: list[str], rows: list[tuple], con) -> str | None:
    """Compare the rows collected from query ``name`` (column names
    ``cols``) with its oracle SQL run on ``con``. None when they match
    exactly: equal column names, row count and values, columns sorted by
    name and rows sorted (floats bit-exact, see ``_canon``); otherwise a
    description of the first difference."""
    odf = con.sql(registry.ORACLE[name])
    oracle_cols = list(odf.columns)
    oracle_rows = odf.fetchall()
    if sorted(cols) != sorted(oracle_cols):
        return f"SCHEMA mismatch {sorted(cols)} vs {sorted(oracle_cols)}"
    if len(rows) != len(oracle_rows):
        return f"ROWS mismatch {len(rows)} vs {len(oracle_rows)}"
    s_ix = [cols.index(c) for c in sorted(cols)]
    o_ix = [oracle_cols.index(c) for c in sorted(oracle_cols)]
    s = sorted(tuple(_canon(r[i]) for i in s_ix) for r in rows)
    o = sorted(tuple(_canon(r[i]) for i in o_ix) for r in oracle_rows)
    if s == o:
        return None
    bad = next(i for i, (x, y) in enumerate(zip(s, o)) if x != y)
    return f"VALUE mismatch at sorted row {bad}:\n    spark : {s[bad]}\n    oracle: {o[bad]}"


def check(name: str, spark, con) -> bool:
    try:
        sdf = registry.QUERIES[name](spark, SF_DIR)
        rows = [tuple(r) for r in sdf.collect()]
    except Exception as e:  # keep sweeping; an exception is a hard FAIL
        first = str(e).splitlines()[0] if str(e) else type(e).__name__
        print(f"{name}: FAIL (exception: {first[:200]})")
        return False
    problem = oracle_mismatch(name, list(sdf.columns), rows, con)
    if problem:
        print(f"  {name}: {problem}")
    print(f"{name}: {'FAIL' if problem else 'ok'} ({len(rows)} rows)")
    return problem is None


def main() -> None:
    names = sys.argv[1:] or sorted(registry.ORACLE)
    spark = get_spark("oracle_check")
    con = duckdb.connect()
    create_views(con, SF_DIR)
    failures = [n for n in names if n in registry.ORACLE and not check(n, spark, con)]
    missing = [n for n in names if n not in registry.ORACLE]
    if missing:
        print("no oracle:", ", ".join(missing))
    if failures:
        print("FAILURES:", ", ".join(failures))
        sys.exit(1)
    print(f"all {len(names) - len(missing)} checked queries green")


if __name__ == "__main__":
    main()
