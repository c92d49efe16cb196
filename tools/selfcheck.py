"""Mimic the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB at the same sf, compare row count,
column names, and an order-insensitive value hash.

Usage: python tools/selfcheck.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

# the checkout this script lives in, not whatever is installed
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def value_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive: sort columns by name, rows by all columns,
    hash the canonical string rendering."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols].copy()
    for c in cols:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    pdf = pdf.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    # plain to_csv, NO float_format: the driver's renderer does not mask
    # dtype drift (e.g. DuckDB HUGEINT -> float64 '1.0' vs bigint '1'),
    # so neither do we — that class of mismatch must surface locally.
    payload = pdf.to_csv(index=False)
    return hashlib.md5(payload.encode()).hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from davar_lab_ocr_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark = get_spark("selfcheck", parallelism=cpus)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            results[name] = f"SPARK-ERROR {type(ex).__name__}: {str(ex)[:200]}"
            continue
        t1 = time.time()
        if name not in oracles:
            results[name] = f"rows-only OK rows={len(sdf)} ({t1-t0:.1f}s)"
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as ex:
            results[name] = f"ORACLE-ERROR {type(ex).__name__}: {str(ex)[:200]}"
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        if not problems:
            hs, ho = value_hash(sdf), value_hash(odf)
            if hs != ho:
                problems.append("value-hash mismatch")
                # show first differing rows for debug
                cols = sorted(sdf.columns)
                a = sdf[cols].astype(str).sort_values(by=cols).reset_index(drop=True)
                b = odf[cols].astype(str).sort_values(by=cols).reset_index(drop=True)
                neq = (a != b).any(axis=1)
                if neq.any():
                    i = int(neq.idxmax())
                    problems.append(f"first diff row {i}: spark={a.iloc[i].to_dict()} oracle={b.iloc[i].to_dict()}")
        results[name] = (
            f"MATCH rows={len(sdf)} ({t1-t0:.1f}s)" if not problems else "MISMATCH: " + "; ".join(problems)
        )

    width = max(len(n) for n in results)
    n_ok = 0
    for name, res in results.items():
        ok = res.startswith("MATCH") or res.startswith("rows-only")
        n_ok += ok
        print(f"{'OK ' if ok else 'BAD'} {name:<{width}} {res}")
    print(f"\n{n_ok}/{len(results)} ok")
    spark.stop()


if __name__ == "__main__":
    main()
