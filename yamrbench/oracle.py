"""Strict result check against a query's DuckDB oracle.

The rules are those of the repository's strict comparator,
``drive.py``: columns compared as sorted name
lists, equal row counts, and rows compared as a multiset of canonical,
type-tagged values: floats by exact bits (``float.hex``), integers never
equal to floats, booleans not integers, NaN only equal to NaN. Only
pandas materialisation artefacts are tolerated (numpy scalar wrappers,
``Timestamp`` against ``date``, arrays against lists).

The program's side is the parquet the query wrote through
``sources.write_parquet``, read back with pyarrow; the oracle runs in
DuckDB over the same generated input files.
"""

from __future__ import annotations

import decimal
import math

import numpy as np


def canon(v):
    """Canonical, type-tagged form of one value: two values are equal
    iff their canonical forms are."""
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return ("f", "nan") if math.isnan(f) else ("f", f.hex())
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("arr", tuple(canon(x) for x in v))
    if isinstance(v, dict):
        return ("map", tuple(sorted((k, canon(x)) for k, x in v.items())))
    if isinstance(v, (bytes, bytearray)):
        return ("bin", bytes(v))
    if hasattr(v, "isoformat"):  # date / datetime / pandas.Timestamp
        return ("t", v.isoformat())
    return (type(v).__name__, v)


def canonical_rows(df) -> list[tuple]:
    """Rows of a pandas frame, columns in name order, as a sorted list
    of canonical tuples (a multiset)."""
    cols = sorted(df.columns)
    rows = [tuple(canon(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(rows, key=repr)


def compare(got, want) -> str | None:
    """None when the two pandas frames hold the same result, else a
    one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if canonical_rows(got) != canonical_rows(want):
        return "values differ"
    return None


class OracleDB:
    """A DuckDB connection with one view per generated input table."""

    def __init__(self, tables: dict[str, str], threads: int):
        import duckdb

        self._con = duckdb.connect()
        self._con.execute(f"SET threads TO {int(threads)}")
        for name, path in tables.items():
            self._con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )

    def check(self, sql: str, result_dir: str) -> str | None:
        """Compare the parquet result under ``result_dir`` with ``sql``."""
        import pyarrow.parquet as pq

        got = pq.read_table(result_dir).to_pandas()
        want = self._con.execute(sql).fetchdf()
        return compare(got, want)

    def close(self) -> None:
        self._con.close()
