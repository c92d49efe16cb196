"""Mimic the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB at the same sf, compare row count,
column names, and an order-insensitive value hash.

Usage: python tools/selfcheck.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time

# the checkout this script lives in, not whatever is installed
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.oracle_check import compare, oracle_connection  # noqa: E402


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from davar_lab_ocr_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark = get_spark("selfcheck", parallelism=cpus)
    con = oracle_connection(sf_dir)

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
        problems = compare(sdf, odf)
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
