"""Output checks against DuckDB, with tools/check_entry.py's
dtype-family-strict normalisation."""

from __future__ import annotations

import tempfile

import duckdb
import pandas as pd

from tools.check_entry import _kind, normalize


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows (order-insensitive, same
    columns, same dtype families, floats to 6 places); else why not."""
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    g, w = normalize(got), normalize(want)
    if sorted(g.columns) != sorted(w.columns):
        return f"columns {sorted(g.columns)} vs {sorted(w.columns)}"
    skew = [c for c in g.columns if _kind(g[c].dtype) != _kind(w[c].dtype)]
    if skew:
        return f"dtype-family mismatch on {skew}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, rtol=1e-6, atol=1e-9)
    except AssertionError as e:
        return f"value mismatch: {str(e)[:200]}"
    return None


def duck(tables: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``name -> parquet glob``;
    it spills, if at all, under $TMPDIR."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}/duckdb'")
    for name, glob in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")
    return con
