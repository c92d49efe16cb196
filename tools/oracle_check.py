"""Compare a query's Spark result with its DuckDB ``oracle_sql()`` result.

Shared by ``tools/selfcheck.py`` and ``tests/test_oracle_gate.py``: row
count, column names, and an order-insensitive value hash.
"""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per sf table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def value_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive: sort columns by name, rows by all columns,
    hash the canonical string rendering."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols].copy()
    for c in cols:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    pdf = pdf.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    # plain to_csv, NO float_format: dtype drift (e.g. DuckDB HUGEINT ->
    # float64 '1.0' vs bigint '1') must surface as a mismatch, not be
    # rounded away.
    payload = pdf.to_csv(index=False)
    return hashlib.md5(payload.encode()).hexdigest()


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """Differences between a Spark result and its oracle result; an
    empty list is a MATCH."""
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rowcount {len(sdf)} vs {len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
    if problems or value_hash(sdf) == value_hash(odf):
        return problems
    problems.append("value-hash mismatch")
    # show the first differing row for debugging
    cols = sorted(sdf.columns)
    a = sdf[cols].astype(str).sort_values(by=cols).reset_index(drop=True)
    b = odf[cols].astype(str).sort_values(by=cols).reset_index(drop=True)
    neq = (a != b).any(axis=1)
    if neq.any():
        i = int(neq.idxmax())
        problems.append(
            f"first diff row {i}: spark={a.iloc[i].to_dict()} oracle={b.iloc[i].to_dict()}"
        )
    return problems
