"""Golden tests for CTC / attention decode kernels.

Golden semantics: ctc_converter.py:166-179 (collapse raw repeats, drop
blank id 0); att_head.py:238-258 (truncate at '[s]').
"""

import numpy as np

from davar_lab_ocr_spark.functions.text import (
    ATTN_EOS,
    CTC_BLANK,
    CTC_CHARSET,
    PAD_ID,
    attn_decode_batch,
    attn_decode_py,
    attn_encode,
    ctc_decode_batch,
    ctc_decode_py,
    ctc_encode_with_noise,
)


def ids_of(text):
    return [CTC_CHARSET.index(c) for c in text]


def test_ctc_basic_collapse():
    # 'aabb' raw -> 'ab'; blank separates repeats
    a, b = CTC_CHARSET.index("a"), CTC_CHARSET.index("b")
    assert ctc_decode_py([a, a, b, b]) == "ab"
    assert ctc_decode_py([a, CTC_BLANK, a]) == "aa"
    assert ctc_decode_py([CTC_BLANK, a, CTC_BLANK, CTC_BLANK, b]) == "ab"
    assert ctc_decode_py([]) == ""
    assert ctc_decode_py([CTC_BLANK, CTC_BLANK]) == ""


def test_ctc_batch_matches_py():
    rng = np.random.default_rng(0)
    seqs = [rng.integers(0, 37, size=rng.integers(0, 30)).tolist() for _ in range(200)]
    max_t = max((len(s) for s in seqs), default=1) or 1
    mat = np.full((len(seqs), max_t), PAD_ID, dtype=np.int64)
    for i, s in enumerate(seqs):
        mat[i, : len(s)] = s
    assert ctc_decode_batch(mat) == [ctc_decode_py(s) for s in seqs]


def test_attn_truncates_at_eos():
    # '7q' + EOS + garbage -> '7q'
    ids = [9, 28, ATTN_EOS, 5, 5]
    assert attn_decode_py(ids) == "7q"
    assert attn_decode_py([ATTN_EOS]) == ""
    assert attn_decode_py([2, 3]) == "01"  # no EOS: keep all


def test_attn_batch_matches_py():
    rng = np.random.default_rng(1)
    seqs = [rng.integers(0, 38, size=rng.integers(0, 26)).tolist() for _ in range(200)]
    max_t = max((len(s) for s in seqs), default=1) or 1
    mat = np.full((len(seqs), max_t), PAD_ID, dtype=np.int64)
    for i, s in enumerate(seqs):
        mat[i, : len(s)] = s
    assert attn_decode_batch(mat) == [attn_decode_py(s) for s in seqs]


def test_encoders_roundtrip():
    rng = np.random.default_rng(2)
    for _ in range(300):
        n = int(rng.integers(1, 13))
        word = "".join(
            "0123456789abcdefghijklmnopqrstuvwxyz"[i]
            for i in rng.integers(0, 36, size=n)
        )
        assert ctc_decode_py(ctc_encode_with_noise(word, rng)) == word
        assert attn_decode_py(attn_encode(word, rng)) == word


def test_ace_and_rfl_sql_decoders(spark):
    import pyspark.sql.functions as F

    from davar_lab_ocr_spark.operators.decode_sql import (
        ace_decode_col,
        rfl_length_col,
    )

    df = spark.createDataFrame(
        [([0, 11, 0, 12, 15, 0], [0.9, 1.2, 0.95]),
         ([], [0.0]),
         ([1, 10], [2.6])],
        "ids array<int>, counts array<double>",
    )
    out = df.select(
        ace_decode_col(F.col("ids")).alias("txt"),
        rfl_length_col(F.col("counts")).alias("n"),
    ).collect()
    # ids 11,12,15 -> chars at CHARS36[10],[11],[14] = 'a','b','e'
    assert (out[0]["txt"], out[0]["n"]) == ("abe", 3)
    assert (out[1]["txt"], out[1]["n"]) == ("", 0)
    assert (out[2]["txt"], out[2]["n"]) == ("09", 3)


def test_ace_rfl_edge_cases(spark):
    """Review findings: PAD_ID handling, null-safety, HALF_EVEN rounding,
    mode dispatch."""
    import pyspark.sql.functions as F

    from davar_lab_ocr_spark.operators.decode_sql import (
        ace_decode_col,
        rfl_length_col,
        text_decode_col,
    )

    df = spark.createDataFrame(
        [([1, 10, -1, -1], [2.5]),      # PAD ids must be skipped; 2.5 -> 2 (HALF_EVEN)
         (None, None),                   # null-safe: '' and 0
         ([0, 36], [0.5])],              # 0.5 -> 0 (HALF_EVEN)
        "ids array<int>, counts array<double>",
    )
    out = df.select(
        ace_decode_col(F.col("ids")).alias("txt"),
        rfl_length_col(F.col("counts")).alias("n"),
        text_decode_col(F.lit("ace"), F.col("ids")).alias("via_dispatch"),
    ).collect()
    assert (out[0]["txt"], out[0]["n"]) == ("09", 2)
    assert (out[1]["txt"], out[1]["n"]) == ("", 0)
    assert (out[2]["txt"], out[2]["n"]) == ("z", 0)
    assert out[0]["via_dispatch"] == "09"


def test_sql_decoders_match_python_oracles(spark):
    """ctc_decode_col / attn_decode_col (JVM) equal ctc_decode_py /
    attn_decode_py on random tail-padded ids (ids past the charset
    included, so the clamp is exercised), plus [], [0], [5, 0, 5] and
    null (decoded as '')."""
    import pyspark.sql.functions as F
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from davar_lab_ocr_spark.operators.decode_sql import attn_decode_col, ctc_decode_col

    # a few ids drawn from a small set make adjacent repeats common
    ids = st.sampled_from([0, 1, 2, 5]) | st.integers(0, 40)
    padded = st.tuples(st.lists(ids, max_size=30), st.integers(0, 5)).map(
        lambda t: t[0] + [PAD_ID] * t[1]
    )
    fixed = [[], [0], [5, 0, 5], None, [3, 3, 0, 3, 1, 1, PAD_ID, PAD_ID]]

    @given(st.lists(padded, max_size=40))
    @settings(max_examples=25, deadline=None)
    def check(seqs):
        seqs = seqs + fixed
        df = spark.createDataFrame([(i, s) for i, s in enumerate(seqs)], "i int, ids array<int>")
        got = {
            r["i"]: (r["ctc"], r["attn"])
            for r in df.select(
                "i",
                ctc_decode_col(F.col("ids")).alias("ctc"),
                attn_decode_col(F.col("ids")).alias("attn"),
            ).collect()
        }
        for i, s in enumerate(seqs):
            assert got[i] == (ctc_decode_py(s or []), attn_decode_py(s or [])), s

    check()
