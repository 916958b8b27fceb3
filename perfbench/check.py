"""Strict output check: a query's collected result against its DuckDB
oracle over the same generated files, compared the way
``scripts/drive_contract.py --strict`` compares them — column names,
row count, and the sorted multiset of dtype-tagged values (so 148 and
148.0 differ).

Row order is ignored except for the queries in ``ORDERED``, whose result
is a global order: there the collected rows must come in the order of
the oracle with the ``ORDER BY`` appended (its keys are unique, so that
order is total)."""

from __future__ import annotations

import math

from perfbench.gen import TABLES

ORDERED = {
    "total_order_sort": "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber",
}


def _norm(v) -> str:
    import numpy as np
    import pandas as pd

    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return "<NULL>"
    if isinstance(v, (np.floating, float)):
        return f"f:{float(v)!r}"
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return f"i:{int(v)}"
    if isinstance(v, (np.bool_, bool)):
        return f"b:{bool(v)}"
    return f"{type(v).__name__}:{v}"


def _column(s) -> list[str]:
    """``_norm`` of every value of a column; float and integer columns
    take a fast path with the same result."""
    vals = s.tolist()
    if s.dtype.kind == "f":
        return ["<NULL>" if v != v else f"f:{v!r}" for v in vals]
    if s.dtype.kind in "iu":
        return [f"i:{v}" for v in vals]
    return [_norm(v) for v in vals]


def canon(pdf, ordered: bool = False) -> list[tuple]:
    rows = list(zip(*(_column(pdf[c]) for c in sorted(pdf.columns))))
    return rows if ordered else sorted(rows)


class Oracle:
    """DuckDB views over one generated table set."""

    def __init__(self, data_dir: str) -> None:
        import duckdb

        self._con = duckdb.connect()
        for name in TABLES:
            self._con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{data_dir}/{name}.parquet'")

    def compare(self, query: str, sql: str, got) -> str | None:
        """None when ``got`` (a pandas frame) matches ``sql``'s result,
        else a one-line reason."""
        order = ORDERED.get(query)
        want = self._con.sql(f"SELECT * FROM ({sql}) {order}" if order else sql).df()
        if sorted(got.columns) != sorted(want.columns):
            return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
        if len(got) != len(want):
            return f"rows {len(got)} != {len(want)}"
        g, w = canon(got, bool(order)), canon(want, bool(order))
        if g != w:
            i = next(i for i, (a, b) in enumerate(zip(g, w)) if a != b)
            return f"row {i}: {g[i]} != {w[i]}"
        return None

    def close(self) -> None:
        self._con.close()
