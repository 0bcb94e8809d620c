"""Checks each timed call's result against its DuckDB oracle.

The comparison is the test suite's (``tests/oracle.py``): same views,
same pandas-dtype coercion of the oracle side, same raw-bit cell
normalisation, order-insensitive rows with columns sorted by name. The
Spark side arrives as the ``toPandas()`` frame the timed call produced,
so a SQL NULL and a floating NaN both read as NaN there; both sides map
NULL to NaN before normalising, and that distinction is the only one
this check gives up.
"""

from __future__ import annotations

import math

import pandas as pd

from tests import oracle as suite


def _null_to_nan(rows):
    return [tuple(math.nan if v is None else v for v in r) for r in rows]


def _python_cell(v):
    if v is pd.NaT:
        return None
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def _frame_rows(pdf: pd.DataFrame) -> list[tuple]:
    cols = [[_python_cell(v) for v in pdf.iloc[:, i].tolist()] for i in range(pdf.shape[1])]
    return list(zip(*cols)) if cols else [() for _ in range(len(pdf))]


def expected(sf_dir: str, sqls: dict[str, str]) -> dict[str, tuple]:
    """Each oracle's result as ``(sorted column names, normalised rows)``."""
    con = suite.duckdb_conn(sf_dir)
    out = {}
    try:
        for name, sql in sqls.items():
            float64_cols = {
                i for i, c in enumerate(con.execute(sql).df().dtypes) if str(c) == "float64"
            }
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = suite._coerce_float64(res.fetchall(), float64_cols)
            out[name] = (sorted(cols), suite._norm_rows(_null_to_nan(rows), cols))
    finally:
        con.close()
    return out


def mismatch(expected_result: tuple, pdf: pd.DataFrame) -> str | None:
    """None when ``pdf`` equals ``expected_result`` (one entry of
    :func:`expected`), else a one-line reason."""
    cols, want = expected_result
    got_cols = [str(c) for c in pdf.columns]
    if sorted(got_cols) != cols:
        return f"columns {sorted(got_cols)} != oracle {cols}"
    if len(pdf) != len(want):
        return f"rows {len(pdf)} != oracle {len(want)}"
    try:
        got = suite._norm_rows(_null_to_nan(_frame_rows(pdf)), got_cols)
    except AssertionError as exc:  # the suite rejects array-valued cells
        return str(exc).splitlines()[0]
    for i, (a, b) in enumerate(zip(got, want)):
        if a != b:
            return f"first differing row {i}: spark={a!r:.200} oracle={b!r:.200}"
    return None

