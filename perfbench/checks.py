"""Correctness gate, run outside the timed region.

Batch keys are compared with their DuckDB twin from
``__spark_entry__.oracle_sql()`` over the same staged parquet, in the
canonical order-insensitive form of the repository's oracle harness:
columns sorted by name, values stringified (floats via ``repr``), rows
sorted. Serve reads are compared with the answers ``datagen`` computed
from its pure-Python model of the catalog state at each request.
"""

from __future__ import annotations

import duckdb
import pandas as pd


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in out.columns:
        col = out[c]
        if str(col.dtype).startswith("float"):
            out[c] = col.astype("float64").map(repr)
        else:
            out[c] = col.astype(str)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def oracle_frames(sqls: dict[str, str], data_dir: str, tables) -> dict[str, pd.DataFrame]:
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        return {key: con.execute(sql).fetchdf() for key, sql in sqls.items()}
    finally:
        con.close()


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line reason."""
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    if not g.equals(w):
        return "values differ"
    return None
