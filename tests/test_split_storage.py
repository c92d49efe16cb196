"""Split storage layout: output parity with the flagship when the
parallel arrays are zipped back through extract()."""

from davar_lab_ocr_spark.corpus import expected_df, make_raw_corpus, raw_df
from davar_lab_ocr_spark.plans.extract import extract
from davar_lab_ocr_spark.plans.split_storage import from_split_layout, to_split_layout


def _spans(df):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in df.collect()
    }


def test_split_extract_matches_oracle(spark, tmp_path):
    raw_rows, expected_rows = make_raw_corpus(60, seed=101, giant_every=17, giant_size=120)
    path = str(tmp_path / "split")
    to_split_layout(raw_df(spark, raw_rows)).write.mode("overwrite").parquet(path)
    got = _spans(extract(from_split_layout(spark.read.parquet(path))))
    want = _spans(expected_df(spark, expected_rows))
    assert got == want
