"""Output checks: span-sequence equality for extraction, DuckDB
``oracle_sql()`` value hashes for the analytics queries."""

from __future__ import annotations

import hashlib
import math

import pandas as pd
import pyarrow.parquet as pq


def read_spans(paths: list[str]) -> tuple[dict[str, list[tuple]], int]:
    """doc_id -> [(kind, text, media_ref, offset)] from engine output
    directories, plus the number of doc_ids seen more than once."""
    got: dict[str, list[tuple]] = {}
    dupes = 0
    for p in paths:
        for rec in pq.read_table(p).to_pylist():
            dupes += rec["doc_id"] in got
            got[rec["doc_id"]] = [
                (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in rec["spans"]
            ]
    return got, dupes


def span_mismatches(got: dict, want: dict) -> list[str]:
    """doc_ids whose span sequence differs, is missing or is extra."""
    return sorted(d for d in set(got) | set(want) if got.get(d) != want.get(d))


def value_hash(pdf: pd.DataFrame) -> str:
    """Order-free hash: columns by name, rows sorted by every column,
    rendered as CSV."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols].copy()
    for c in cols:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    pdf = pdf.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    return hashlib.md5(pdf.to_csv(index=False).encode()).hexdigest()


def _decimals(x: float) -> int:
    """Digits after the point in the shortest repr of ``x`` (0 if integral)."""
    text = repr(float(x))
    if "e" in text or "." not in text:
        return 0
    return len(text.split(".")[1].rstrip("0"))


def _last_place(*columns) -> float:
    """Slack for one float column: a flip in its last rounded decimal. The
    engines sum in different orders, so ``round(sum, k)`` may differ by
    10^-k; k is the most decimals any value of the column shows. A column
    of integral values gets no slack."""
    k = max((_decimals(x) for col in columns for x in col if x == x), default=0)
    return 1.01 * 10.0 ** -k if k else 0.0


def _close(a, b, slack: float) -> bool:
    """Equal floats, both NaN, or within ``slack`` or float noise."""
    if a == b or (a != a and b != b):
        return True
    return math.isclose(a, b, rel_tol=1e-12) or abs(a - b) <= slack


def same_result(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> bool:
    """Same columns and rows; float columns may differ by a last-place
    rounding flip, everything else must hash the same."""
    if len(spark_pdf) != len(oracle_pdf) or sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return False
    if value_hash(spark_pdf) == value_hash(oracle_pdf):
        return True
    cols = sorted(spark_pdf.columns)
    floats = [c for c in cols if pd.api.types.is_float_dtype(spark_pdf[c])]
    exact = [c for c in cols if c not in floats]
    a, b = (
        df[cols].sort_values(by=cols, kind="mergesort").reset_index(drop=True)
        for df in (spark_pdf, oracle_pdf)
    )
    if exact and value_hash(a[exact]) != value_hash(b[exact]):
        return False
    for c in floats:
        slack = _last_place(a[c], b[c])
        if not all(_close(x, y, slack) for x, y in zip(a[c], b[c])):
            return False
    return True


def duckdb_results(data_dir: str, names: list[str], tables: list[str]) -> dict[str, pd.DataFrame]:
    """Run each query's ``oracle_sql()`` on DuckDB over ``data_dir``."""
    import duckdb

    import __spark_entry__ as E

    sql = E.oracle_sql()
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        return {n: con.execute(sql[n]).df() for n in names}
    finally:
        con.close()
