"""Correctness check: query results against their DuckDB oracles.

Same strictness as ``scripts/oracle_check.py``, whose value key it uses:
equal column names, row count and exact values (bit-exact floats),
order-insensitive.
"""

from __future__ import annotations

import os
import sys
import traceback


def _table(canon, cols: list[str], rows) -> list:
    """Rows with columns sorted by name, then rows sorted."""
    ix = sorted(range(len(cols)), key=cols.__getitem__)
    return sorted(tuple(canon(r[i]) for i in ix) for r in rows)


def mismatches(data_dir: str, results: dict[str, tuple[list[str], list[tuple]]]) -> list[str]:
    """Names of the queries whose collected rows differ from the oracle."""
    import duckdb

    from hadoop_1_spark import registry
    from hadoop_1_spark.session import TABLES

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))
    from oracle_check import _canon

    bad = []
    with duckdb.connect() as con:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):  # data/ holds only the tables read
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        for name, (cols, rows) in results.items():
            try:
                odf = con.sql(registry.ORACLE[name])
                ocols = list(odf.columns)
                orows = odf.fetchall()
            except duckdb.Error:
                traceback.print_exc()
                bad.append(name)
                continue
            if sorted(cols) != sorted(ocols) or _table(_canon, cols, rows) != _table(_canon, ocols, orows):
                print(f"perfbench: {name} does not match its oracle", file=sys.stderr)
                bad.append(name)
    return bad
