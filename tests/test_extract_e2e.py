"""End-to-end span-sequence equality: the Spark pipeline must reproduce
the pure-python oracle exactly — (kind, text, media_ref, order) per
doc_id (the total_order_acc-style exact sequence check,
di_order_dataset.py:71-74).
"""

import pyspark.sql.functions as F

from davar_lab_ocr_spark.corpus import expected_df, make_raw_corpus, raw_df
from davar_lab_ocr_spark.plans.extract import extract


def _collect_spans(df):
    rows = df.select("doc_id", "spans").collect()
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in rows
    }


def test_extract_matches_oracle(spark):
    raw_rows, expected_rows = make_raw_corpus(120, seed=7, giant_every=40, giant_size=300)
    got = _collect_spans(extract(raw_df(spark, raw_rows)))
    want = _collect_spans(expected_df(spark, expected_rows))
    assert set(got) == set(want)
    mismatches = [d for d in want if got[d] != want[d]]
    assert mismatches == [], f"first mismatch: {mismatches[:1]} got={got[mismatches[0]][:5] if mismatches else None} want={want[mismatches[0]][:5] if mismatches else None}"


def test_extract_partitioning_invariant(spark):
    """Output must be identical regardless of input partitioning, Arrow
    batch size AND adaptive execution (determinism-under-parallelism
    invariant, SURVEY.md §7)."""
    raw_rows, expected_rows = make_raw_corpus(40, seed=11, giant_every=13, giant_size=150)
    base = raw_df(spark, raw_rows)
    a = _collect_spans(extract(base.repartition(1)))
    b = _collect_spans(extract(base.repartition(16)))
    # 40 documents in one partition at 4 rows per batch: the table
    # UDF's input (one row per document) splits into 10 Arrow batches
    # instead of one
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        c = _collect_spans(extract(base.repartition(1)))
    finally:
        spark.conf.set(key, default)
    aqe = "spark.sql.adaptive.enabled"
    aqe_default = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try:
        d = _collect_spans(extract(base.repartition(16)))
    finally:
        spark.conf.set(aqe, aqe_default)
    assert a == b
    assert a == c
    assert a == d
    want = _collect_spans(expected_df(spark, expected_rows))
    assert a == want


def test_extract_all_giant_table_free(spark):
    """Every document giant and table-free at 16 partitions: every Arrow
    batch the table UDF sees carries only null cell arrays."""
    raw_rows, expected_rows = make_raw_corpus(16, seed=17, giant_every=1, giant_size=120)
    got = _collect_spans(extract(raw_df(spark, raw_rows).repartition(16)))
    assert got == _collect_spans(expected_df(spark, expected_rows))


def test_extract_drops_dontcare_and_small_docs(spark):
    raw_rows, _ = make_raw_corpus(30, seed=3, giant_every=0)
    # doctor one doc to be too small and one to be a gif
    raw_rows[0]["width"] = 10
    raw_rows[1]["doc_id"] = "bad.gif"
    df = extract(raw_df(spark, raw_rows))
    ids = {r["doc_id"] for r in df.select("doc_id").collect()}
    assert raw_rows[0]["doc_id"] not in ids
    assert "bad.gif" not in ids


def test_offsets_dense_and_ordered(spark):
    raw_rows, _ = make_raw_corpus(25, seed=5, giant_every=0)
    df = extract(raw_df(spark, raw_rows))
    bad = df.select(
        F.filter(
            F.transform("spans", lambda s, i: s["offset"] == i),
            lambda ok: ~ok,
        ).alias("viol")
    ).filter(F.size("viol") > 0)
    assert bad.count() == 0
