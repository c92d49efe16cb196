"""Seeded workload inputs and their identity digests.

Extraction corpora come from ``corpus.gen_doc``: one generator call per
document yields both the raw row the engine reads and the spans it must
produce, so input and expectation cannot drift apart. Analytics tables
are synthesised here with NumPy in the shape of the sf0.01 test tables
(same columns, types and value domains).

Every input set carries a digest (counts and a content hash of the
files written). Results whose digests differ measured different inputs
and must not be compared.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def write_corpus(path: str, seed: int, segments: list[tuple[int, int, int]], files: int = 8) -> dict:
    """Generate the docs in this process and write ``raw`` (the engine's
    input) and ``expected`` (the oracle spans) under ``path`` as
    ``<kind>/seg=<k>/part-<i>.parquet``. Each segment is a contiguous
    doc_id range given as (docs, giant_every, giant_size) and written as
    ``files`` files. Returns the corpus counts."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from davar_lab_ocr_spark.corpus import gen_doc
    from davar_lab_ocr_spark.schemas import DOCUMENTS, RAW_DOCUMENTS

    schemas = {"raw": to_arrow_schema(RAW_DOCUMENTS), "expected": to_arrow_schema(DOCUMENTS)}
    counts = {"docs": 0, "regions": 0, "tables": 0, "cared": 0, "cared_tables": 0}
    for seg, (n_docs, giant_every, giant_size) in enumerate(segments):
        first = counts["docs"]
        counts["docs"] += n_docs
        bounds = [first + n_docs * k // files for k in range(files + 1)]
        for part, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            rows = {"raw": [], "expected": []}
            for d in range(lo, hi):
                raw, want = gen_doc(d, seed, giant_every, giant_size)
                rows["raw"].append(raw)
                rows["expected"].append(want)
                for r in raw["regions"]:
                    table = r["mode"] == "table"
                    counts["regions"] += 1
                    counts["tables"] += table
                    counts["cared"] += r["care"]
                    counts["cared_tables"] += table and r["care"]
            for kind, schema in schemas.items():
                out = os.path.join(path, kind, f"seg={seg}")
                os.makedirs(out, exist_ok=True)
                table = pa.Table.from_pylist(rows[kind], schema=schema)
                pq.write_table(table, os.path.join(out, f"part-{part:03d}.parquet"))
    return counts


def files_digest(paths: list[str]) -> str:
    """Content hash of every file under ``paths``, in name order."""
    h = hashlib.sha256()
    for root in paths:
        for base, dirs, names in os.walk(root):
            dirs.sort()
            for name in sorted(names):
                with open(os.path.join(base, name), "rb") as fh:
                    h.update(name.encode() + fh.read())
    return h.hexdigest()[:16]


def read_expected(paths: list[str]) -> dict[str, list[tuple]]:
    """doc_id -> [(kind, text, media_ref, offset), ...] for every doc the
    engine must emit (a doc with no cared region yields no row)."""
    out: dict[str, list[tuple]] = {}
    for p in paths:
        for rec in pq.read_table(p).to_pylist():
            spans = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in rec["spans"]]
            if spans:
                out[rec["doc_id"]] = spans
    return out


# ---------------------------------------------------------------------------
# analytics tables (sf0.01 shape)
# ---------------------------------------------------------------------------
ANALYTICS_ROWS = {
    "lineitem": 60_000,
    "orders": 15_000,
    "customer": 1_500,
    "documents": 500,
    "embeddings": 200,
    "events": 10_000,
}

_VOCAB = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, start: str, end: str):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, int((hi - lo).astype(int)) + 1, size=n)
    return pa.array((lo + d).astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def analytics_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """The eight tables the 20 headline queries read, from ``seed``."""
    rng = np.random.default_rng(seed)
    n = {k: max(int(v * scale), 60) for k, v in ANALYTICS_ROWS.items()}
    n_li, n_ord, n_cust = n["lineitem"], n["orders"], n["customer"]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -1000, 10000),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000, 500000),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, 20000, n_li),
            "l_suppkey": rng.integers(0, 1000, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900, 105000),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        }
    )
    n_doc = n["documents"]
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 101)))))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    n_emb = n["embeddings"]
    vecs = rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    n_ev = n["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (secs * 1e6).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, 1500, n_ev),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(rng.exponential(60.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    return t


def write_analytics(path: str, seed: int, scale: float = 1.0) -> dict:
    """Write the tables as ``<path>/<name>.parquet`` and return their digest."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    tables = analytics_tables(seed, scale)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))
    return {
        "docs": tables["documents"].num_rows,
        "rows": sum(t.num_rows for t in tables.values()),
    }
