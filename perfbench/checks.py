"""Output checks, run after the timed regions.

Registry entries are compared against their DuckDB ``ORACLE_SQL`` with
the comparator of ``scripts/check_correctness.py`` (imported, not
copied): same column set, same width-exact type classes, same rows
after canonical ordering. The reference Athena SQL returns plain
double sums whose last digits depend on summation order, so those five
compare floats with a relative tolerance instead of bit-exactly.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def comparator():
    scripts = os.path.join(ROOT, "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    import check_correctness

    return check_correctness


def oracle_db(table_dir: str) -> duckdb.DuckDBPyConnection:
    from aws_kinesis_data_ingestion_restapi_spark.schema import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(table_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _close(a, b, rel_tol: float) -> bool:
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) and isinstance(y, (int, float)):
            if not math.isclose(x, y, rel_tol=rel_tol, abs_tol=1e-9):
                return False
        elif x != y:
            return False
    return True


def compare(cols, dtypes, rows, con, sql: str, rel_tol: float | None = None) -> str | None:
    """None when the Spark result equals the oracle's, else why not.

    ``rel_tol=None`` is the exact gate; a number relaxes float
    equality and the type check (for the reference SQL's double sums).
    """
    cc = comparator()
    rel = con.sql(sql)
    dcols = [c.lower() for c in rel.columns]
    drows = rel.fetchall()
    scols = [c.lower() for c in cols]
    if sorted(scols) != sorted(dcols):
        return f"columns spark={sorted(scols)} duck={sorted(dcols)}"
    if rel_tol is None:
        bad = cc._type_mismatches(cols, dtypes, dcols, rel.types)
        if bad:
            return f"type mismatch {bad}"
    if len(rows) != len(drows):
        return f"rowcount spark={len(rows)} duck={len(drows)}"
    a = cc._canon([tuple(r) for r in rows], scols)
    b = cc._canon(drows, dcols)
    if rel_tol is None:
        same = a == b
    else:
        # canonical order sorts by repr, which float noise can perturb:
        # order both sides by their non-float fields first
        key = lambda r: repr(tuple(v for v in r if not isinstance(v, float)))  # noqa: E731
        same = all(_close(x, y, rel_tol) for x, y in zip(sorted(a, key=key), sorted(b, key=key)))
    if not same:
        diff = next(((x, y) for x, y in zip(a, b) if x != y), None)
        return f"values differ, first: spark={diff[0]} duck={diff[1]}" if diff else "values differ"
    return None


def same_rows(a, b) -> bool:
    """Two Spark results (cols, dtypes, rows) hold the same rows."""
    cc = comparator()
    canon = lambda r: cc._canon([tuple(x) for x in r[2]], [c.lower() for c in r[0]])  # noqa: E731
    return a[1] == b[1] and canon(a) == canon(b)
