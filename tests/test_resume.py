"""Snapshot commit / resume / lineage tests (north-rule ops story)."""

import json
import os
import uuid

import pyspark.sql.functions as F
import pyspark.sql.types as T

from davar_lab_ocr_spark.corpus import expected_df, make_raw_corpus, raw_df
from davar_lab_ocr_spark.plans.extract import extract
from davar_lab_ocr_spark.plans.resume import SnapshotSink, run_resumable_extract
from davar_lab_ocr_spark.schemas import RAW_DOCUMENTS


def _spans(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def _spans_map(df):
    return {r["doc_id"]: _spans(r["spans"]) for r in df.collect()}


def _corpus_with_dropped_docs(spark, path, n_docs, seed):
    """A parquet corpus of normal documents plus five extract() drops:
    every region care=0, a .gif id, min side < 32, regions=[] and null
    regions. Returns the input and the oracle spans of the kept docs."""
    raw_rows, expected_rows = make_raw_corpus(n_docs, seed=seed, giant_every=0)
    for region in raw_rows[0]["regions"]:
        region["care"] = 0
    raw_rows[1]["doc_id"] += ".gif"
    raw_rows[2]["height"] = 31
    raw_rows[3]["regions"] = []
    raw_rows[4]["regions"] = None
    schema = T.StructType(
        [*RAW_DOCUMENTS.fields[:3], T.StructField("regions", RAW_DOCUMENTS["regions"].dataType, True)]
    )
    spark.createDataFrame(raw_rows, schema=schema).write.parquet(path)
    want = {e["doc_id"]: _spans(e["spans"]) for e in expected_rows[5:] if e["spans"]}
    return spark.read.parquet(path), want


def test_resume_after_partial_commit(spark, tmp_path):
    out = str(tmp_path / "sink")
    raw_rows, expected_rows = make_raw_corpus(60, seed=21, giant_every=0)
    full = raw_df(spark, raw_rows)

    # batch 1: first 25 docs committed
    first = full.filter(F.col("doc_id") < "doc-21-0000025")
    m1 = run_resumable_extract(spark, first, out, batch_id="b1")
    assert m1["n_docs"] > 0

    # simulate a CRASHED batch: data dir written, NO manifest
    crashed_dir = os.path.join(out, "batch=crashed")
    first.limit(3).write.mode("overwrite").parquet(crashed_dir)

    # batch 2 over the FULL input: must process only the remainder
    m2 = run_resumable_extract(spark, full, out, batch_id="b2")
    assert m1["n_docs"] + m2["n_docs"] == 60

    sink = SnapshotSink(out)
    got = _spans_map(sink.read(spark))
    want = _spans_map(expected_df(spark, expected_rows))
    assert got == want  # crashed partial output invisible, no dups, no gaps


def test_rerun_is_idempotent(spark, tmp_path):
    out = str(tmp_path / "sink2")
    raw_rows, _ = make_raw_corpus(20, seed=22, giant_every=0)
    full = raw_df(spark, raw_rows)
    run_resumable_extract(spark, full, out, batch_id="a")
    m = run_resumable_extract(spark, full, out, batch_id="b")
    assert m["n_docs"] == 0  # nothing left to do
    sink = SnapshotSink(out)
    assert sink.read(spark).count() == 20


def test_lineage_counters(spark, tmp_path, monkeypatch):
    """Manifest totals (observed on the data write) equal the lineage
    sums and the committed spans, over a three-partition batch whose
    input also holds documents extract() drops. Lineage is counted from
    the committed files, one row per data file's part number, without
    persisting the batch."""
    from pyspark.sql.classic.dataframe import DataFrame

    out = str(tmp_path / "sink3")
    raw, want = _corpus_with_dropped_docs(spark, str(tmp_path / "raw"), 30, seed=23)
    docs = extract(raw)
    assert _spans_map(docs) == want

    def refuse(*_args, **_kwargs):
        raise AssertionError("write_batch must not persist its output")

    monkeypatch.setattr(DataFrame, "persist", refuse)
    monkeypatch.setattr(DataFrame, "cache", refuse)
    manifest = SnapshotSink(out).write_batch(docs.repartition(3), batch_id="x")
    monkeypatch.undo()

    rows = spark.read.parquet(manifest["lineage_path"]).collect()
    assert len(rows) == 3
    for key in ("n_docs", "n_spans", "n_empty_spans"):
        assert sum(r[key] for r in rows) == manifest[key], key
    # each lineage row describes exactly the committed rows of its file
    files = sorted(n for n in os.listdir(manifest["data_path"]) if n.startswith("part-"))
    by_part = {int(n.split("-")[1]): n for n in files}
    assert sorted(by_part) == sorted(r["_part"] for r in rows)
    for r in rows:
        got = spark.read.parquet(os.path.join(manifest["data_path"], by_part[r["_part"]])).collect()
        spans = [s for d in got for s in d["spans"]]
        assert r["n_docs"] == len(got)
        assert r["n_spans"] == len(spans)
        assert r["n_empty_spans"] == sum(1 for s in spans if not s["text"] and not s["media_ref"])
        assert (r["min_doc_id"], r["max_doc_id"]) == (
            min(d["doc_id"] for d in got),
            max(d["doc_id"] for d in got),
        )

    committed = SnapshotSink(out).read(spark)
    assert manifest["n_docs"] == len(want)
    assert manifest["n_spans"] == committed.select(F.sum(F.size("spans"))).first()[0]
    assert manifest["n_spans"] == sum(len(s) for s in want.values())
    assert manifest["n_empty_spans"] == sum(
        1 for spans in want.values() for _k, text, media_ref, _o in spans if not text and not media_ref
    )
    # manifest is valid json on disk
    with open(os.path.join(out, "_manifests", "x.json")) as fh:
        assert json.load(fh)["batch_id"] == "x"


def test_rerun_skips_dropped_documents(spark, tmp_path):
    """A document extract() drops never lands in a snapshot, yet is not
    pending: a rerun over the committed input commits an all-zero
    manifest, and no job runs after the pending check."""
    out = str(tmp_path / "sink5")
    raw, want = _corpus_with_dropped_docs(spark, str(tmp_path / "raw"), 30, seed=24)
    run_resumable_extract(spark, raw, out, batch_id="a")

    sc = spark.sparkContext
    group = f"rerun-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "rerun")
    try:
        m = run_resumable_extract(spark, raw, out, batch_id="b")
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)

    assert (m["n_docs"], m["n_spans"], m["n_empty_spans"]) == (0, 0, 0)
    assert _spans_map(SnapshotSink(out).read(spark)) == want
    assert len(jobs) <= 2, sorted(jobs)
    assert not os.path.exists(os.path.join(out, "_lineage", "batch=b"))
    assert not os.path.exists(os.path.join(out, "batch=b"))


def test_zero_doc_batch_in_log(spark, tmp_path):
    """A batch of no documents is a manifest only: every key, counters 0,
    no data or lineage directory. Readers, time travel and later
    increments see the log as if it held rows."""
    out = str(tmp_path / "zero")
    raw_rows, expected_rows = make_raw_corpus(30, seed=25, giant_every=0)
    full = raw_df(spark, raw_rows)
    cut = "doc-25-0000015"
    half = full.filter(F.col("doc_id") < cut)
    want = _spans_map(expected_df(spark, expected_rows))
    want_half = {k: v for k, v in want.items() if k < cut}

    m1 = run_resumable_extract(spark, half, out, batch_id="b1")
    m0 = run_resumable_extract(spark, half, out, batch_id="b0")
    assert set(m0) == set(m1)
    assert (m0["n_docs"], m0["n_spans"], m0["n_empty_spans"]) == (0, 0, 0)
    assert m0["data_path"] is None and m0["lineage_path"] is None
    assert not os.path.exists(os.path.join(out, "batch=b0"))
    assert not os.path.exists(os.path.join(out, "_lineage", "batch=b0"))

    sink = SnapshotSink(out)
    assert [m["batch_id"] for m in sink.history()] == ["b1", "b0"]
    assert _spans_map(sink.read(spark)) == want_half
    assert _spans_map(sink.read(spark, as_of="b0")) == want_half
    assert sorted(r["doc_id"] for r in sink.processed_doc_ids(spark).collect()) == sorted(want_half)

    m2 = run_resumable_extract(spark, full, out, batch_id="b2")
    assert m2["n_docs"] == len(want) - len(want_half)
    assert [m["batch_id"] for m in sink.history()] == ["b1", "b0", "b2"]
    assert _spans_map(sink.read(spark)) == want
    assert _spans_map(sink.read(spark, as_of="b0")) == want_half


def test_time_travel_read(spark, tmp_path):
    import pytest

    out = str(tmp_path / "tt")
    raw_rows, _ = make_raw_corpus(30, seed=71, giant_every=0)
    full = raw_df(spark, raw_rows)
    half = full.filter(F.col("doc_id") < "doc-71-0000015")
    run_resumable_extract(spark, half, out, batch_id="b1")
    run_resumable_extract(spark, full, out, batch_id="b2")

    sink = SnapshotSink(out)
    hist = sink.history()
    assert [m["batch_id"] for m in hist] == ["b1", "b2"]
    n_b1 = sink.read(spark, as_of="b1").count()
    n_all = sink.read(spark).count()
    assert 0 < n_b1 < n_all
    # as_of the latest batch == current state
    assert sink.read(spark, as_of="b2").count() == n_all
    with pytest.raises(KeyError):
        sink.read(spark, as_of="nope")


def test_snapshot_read_merges_evolved_schema(spark, tmp_path):
    """A later batch may add columns (Iceberg schema-evolution analog):
    the unioned read surfaces the new column, nulls for old batches,
    and the resume anti-join keeps working."""
    import pyspark.sql.functions as F

    from davar_lab_ocr_spark.plans.resume import SnapshotSink

    sink = SnapshotSink(str(tmp_path / "evo"))
    spans = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    d1 = spark.createDataFrame(
        [("a", [("text", "x", "", 0)])], f"doc_id string, spans {spans}"
    )
    sink.write_batch(d1, batch_id="b1")
    d2 = spark.createDataFrame(
        [("b", [("text", "y", "", 0)], "en")],
        f"doc_id string, spans {spans}, lang string",
    )
    sink.write_batch(d2, batch_id="b2")

    got = sink.read(spark)
    assert "lang" in got.columns
    rows = {r["doc_id"]: r for r in got.collect()}
    assert rows["a"]["lang"] is None and rows["b"]["lang"] == "en"
    # time travel to b1 shows the pre-evolution schema
    old = sink.read(spark, as_of="b1")
    assert "lang" not in old.columns
    assert sink.processed_doc_ids(spark).count() == 2


def test_empty_span_lineage_counter(spark, tmp_path):
    # content-free spans (no text, no media ref) are counted into
    # lineage + manifest — the SCALE.md short-payload silent-empty case
    out = str(tmp_path / "sink4")
    rows = [
        ("d1", [("text", "hello", "", 0), ("figure", "", "media://x.png", 1), ("text", "", "", 2)]),
        ("d2", [("text", "", "", 0)]),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    m = SnapshotSink(out).write_batch(df, batch_id="e")
    assert m["n_empty_spans"] == 2
    lineage = spark.read.parquet(m["lineage_path"])
    assert sum(r["n_empty_spans"] for r in lineage.collect()) == 2
