"""Plan-shape assertions for the scale-critical properties: these pin
the PHYSICAL plan, not just the results — a regression that
reintroduces a serialize-everything window or an all-pairs join fails
here even though small-scale results stay correct."""

import contextlib
import io
import re

import pyspark.sql.functions as F


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _partitionless_windows(plan: str) -> list[str]:
    """windowspecdefinition whose first argument is already a sort order
    (no partition columns) — the 'move everything to one task' window."""
    bad = []
    for chunk in plan.split("windowspecdefinition(")[1:]:
        first_arg = chunk.split(",", 1)[0]
        if " ASC" in first_arg or " DESC" in first_arg:
            bad.append(first_arg)
    return bad


def test_ranked_detections_has_no_global_window(spark):
    from davar_lab_ocr_spark.operators.metrics import compute_ap, ranked_detections

    df = spark.createDataFrame(
        [(i, float(i % 10) / 10, i % 3 == 0) for i in range(200)],
        "event_id int, conf double, matched boolean",
    )
    for out in (ranked_detections(df, id_col="event_id"),
                compute_ap(df, id_col="event_id")):
        assert _partitionless_windows(_plan(out)) == []


def test_near_dup_default_is_not_all_pairs(spark):
    from davar_lab_ocr_spark.operators.dedup import embedding_near_dup_pairs

    df = spark.createDataFrame(
        [(i, [float(i), 1.0, -1.0, 0.5, 0.1, -0.2, 0.3, 0.7]) for i in range(10)],
        "vec_id int, embedding array<double>",
    )
    bucketed = _plan(embedding_near_dup_pairs(df))
    assert "Cartesian" not in bucketed and "NestedLoop" not in bucketed
    exact = _plan(embedding_near_dup_pairs(df, exact=True))
    assert "Cartesian" in exact or "NestedLoop" in exact  # escape hatch only


def test_shingling_is_join_free(spark):
    from davar_lab_ocr_spark.operators.dedup import word_shingles

    df = spark.createDataFrame([(1, "a b c d e f")], "doc_id int, text string")
    p = _plan(word_shingles(df))
    for marker in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                   "Cartesian", "NestedLoop"):
        assert marker not in p


def test_minhash_band_cap_uses_partitioned_window(spark):
    """The r5 band-bucket cap computes its hot/cold split with window
    functions PARTITIONED by (band, bkey) — one shuffle annotates the
    rows; no broadcast-build passes, no partitionless window, and the
    signature aggregation is not traversed multiple times via separate
    broadcast anti/semi joins (the pre-r5 shape)."""
    from davar_lab_ocr_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame(
        [(i, f"common text body shared {i % 3}") for i in range(30)],
        "doc_id int, text string",
    )
    p = _plan(minhash_lsh_pairs(df))
    assert _partitionless_windows(p) == []
    assert "windowspecdefinition(band" in p.replace("#", "").replace(" ", "") or (
        "Window" in p
    )
    # the hot-key set no longer broadcasts: any BroadcastHashJoin in
    # this plan would be the pre-r5 anti/semi shape
    assert "BroadcastHashJoin" not in p


def test_extract_has_single_shuffle(spark, tmp_path):
    """Both storage layouts run the same extract() plan: one scan, one
    column-level Arrow UDF, one hash exchange (the doc_id re-assembly),
    no branch union and no whole-row mapInArrow. The UDF runs per
    document: its node comes before the explode (a lower number in the
    formatted plan, which numbers from the scan up)."""
    from davar_lab_ocr_spark.corpus import make_raw_corpus, raw_df
    from davar_lab_ocr_spark.plans.extract import extract
    from davar_lab_ocr_spark.plans.split_storage import from_split_layout, to_split_layout

    raw_rows, _ = make_raw_corpus(10, seed=9, giant_every=0)
    raw = raw_df(spark, raw_rows)
    raw.write.parquet(str(tmp_path / "nested"))
    to_split_layout(raw).write.parquet(str(tmp_path / "split"))
    layouts = {
        "nested": extract(spark.read.parquet(str(tmp_path / "nested"))),
        "split": extract(from_split_layout(spark.read.parquet(str(tmp_path / "split")))),
    }
    for layout, df in layouts.items():
        p = _plan(df)
        assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, layout
        assert len(re.findall(r"\(\d+\) ArrowEvalPython", p)) == 1, layout
        assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, layout
        assert "hashpartitioning(doc_id" in p, layout
        udf_node = int(re.search(r"\((\d+)\) ArrowEvalPython", p).group(1))
        generate_node = int(re.search(r"\((\d+)\) Generate", p).group(1))
        assert udf_node < generate_node, layout
        for marker in ("Union", "MapInArrow", "SortMergeJoin"):
            assert marker not in p, (layout, marker)


def test_pending_scan_is_key_only(spark, tmp_path):
    """Resume decides what is pending from the keys and regions.care
    alone. (An increment with nothing pending builds no extract() plan
    at all: test_resume.py::test_rerun_skips_dropped_documents.)"""
    from davar_lab_ocr_spark.corpus import make_raw_corpus, raw_df
    from davar_lab_ocr_spark.plans.resume import SnapshotSink, pending_documents

    raw_rows, _ = make_raw_corpus(10, seed=9, giant_every=0)
    raw_df(spark, raw_rows).write.parquet(str(tmp_path / "raw"))
    raw = spark.read.parquet(str(tmp_path / "raw"))
    sink = SnapshotSink(str(tmp_path / "sink"))
    spans = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    committed = spark.createDataFrame([(raw_rows[0]["doc_id"], [])], f"doc_id string, spans {spans}")
    sink.write_batch(committed, batch_id="b1")

    p = _plan(pending_documents(spark, raw, sink).select("doc_id"))
    assert sorted(re.findall(r"ReadSchema: (\S+)", p)) == [
        "struct<doc_id:string,width:int,height:int,regions:array<struct<care:int>>>",
        "struct<doc_id:string>",
    ]
    for field in ("pred_ids", "cell_", "kind_scores"):
        assert field not in p, field


def test_brute_force_topk_broadcasts_queries(spark):
    from davar_lab_ocr_spark.operators.similarity import brute_force_topk

    e = spark.createDataFrame(
        [(i, [float(i), 0.5, -0.5, 1.0]) for i in range(20)],
        "vec_id int, embedding array<double>",
    )
    p = _plan(brute_force_topk(e.filter(F.col("vec_id") < 3), e, k=2))
    assert "BroadcastExchange" in p  # corpus side streams, queries ship
