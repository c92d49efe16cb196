"""Lexicon-constrained spotting eval: the STRONG-lexicon correction
rule (demo/text_spotting/mango/tools/test_ic13.py find_nearest_word)
and the corrected e2e evaluation on the reference's shipped MANGO IC13
predictions, verified against an INDEPENDENT brute-force implementation
(own Levenshtein, own Sutherland-Hodgman clip IoU, own greedy matcher).

The brute's det leg reproduces the PUBLISHED None-run det numbers
(num_gt 917, det R .9269 P .9626 H .9444 — evaluation/readme.md)
exactly, anchoring it; lexicon correction cannot change det metrics.
Full-corpus pinned counts (also the spot_lexicon_eval driver oracle):
det matched 850, spot correct 805, gt care 917, det care 883.
"""

import os
import re
import zipfile

import numpy as np
import pytest

BASE = "/root/reference/demo/text_spotting/evaluation/"
GT_ZIP = BASE + "gts/gt-icdar2013.zip"
PRED_ZIP = BASE + "preds/mango_r50_ic13_none.zip"
LEX_ZIP = BASE + "lexicons/icdar2013/strong_lexicon.zip"
SPECIAL = "!?.:,*\"()·[]/' "


def _plain_lev(a, b):
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_lexicon_correct_rules():
    from davar_lab_ocr_spark.operators.spotting import lexicon_correct, nearest_lexicon_word

    lex = ["Tiredness", "kills", "short", "break", "BREAK"]
    # snap by case-insensitive distance; replacement keeps lexicon case
    assert lexicon_correct("tirednass", lex) == "Tiredness"
    # first strict minimum wins on ties ('break' before 'BREAK')
    assert lexicon_correct("braek", lex) == "break"
    # skip rules: short words, digits, AND '+' (the regex is [0-9+])
    assert lexicon_correct("ab", lex) == "ab"
    assert lexicon_correct("a1c", lex) == "a1c"
    assert lexicon_correct("c+t", lex) == "c+t"
    # empty lexicon -> ' ' (dist_min init 100 never beaten) at the
    # find_nearest_word level; the STAGE passes such rows through
    # untouched (the reference's `if lexicon != []` guard — tested in
    # test_stage_empty_lexicon_passthrough)
    assert nearest_lexicon_word("word", []) == " "
    # comma stripping on the corrected word (re-serialization quirk)
    assert lexicon_correct("helo", ["he,lo"]) == "helo"


def test_batch_edit_distances_parity():
    from davar_lab_ocr_spark.operators.spotting import _encode_lexicon, batch_edit_distances

    rng = np.random.default_rng(5)
    import string

    words = [
        "".join(rng.choice(list(string.ascii_letters + "-'"), size=rng.integers(1, 15)))
        for _ in range(200)
    ]
    mat, lens = _encode_lexicon(words)
    for q in ["tiredness", "A", "", "supercalifragilistic", "O'Neill"]:
        got = batch_edit_distances(q, mat, lens)
        assert list(got) == [_plain_lev(q.upper(), w.upper()) for w in words]


@pytest.mark.skipif(not os.path.exists(BASE), reason="reference checkout absent")
def test_read_strong_lexicons_shipped():
    from davar_lab_ocr_spark.operators.spotting import read_strong_lexicons

    lex = read_strong_lexicons(LEX_ZIP)
    assert len(lex) == 233  # one per IC13 test image
    d = dict(lex)
    assert len(d["img_1"]) == 100
    assert all(w.strip() == w and w for ws in d.values() for w in ws)


# --- independent brute-force protocol implementation ---------------------

def _area(p):
    x, y = p[:, 0], p[:, 1]
    return abs(float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))) / 2


def _xp(u, v):
    return float(u[0] * v[1] - u[1] * v[0])


def _signed(p):
    x, y = p[:, 0], p[:, 1]
    return 0.5 * float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))


def _clip_area(sub, clip):
    if _signed(clip) < 0:
        clip = clip[::-1]
    poly = [tuple(p) for p in sub]
    for i in range(len(clip)):
        a, b = clip[i], clip[(i + 1) % len(clip)]
        out = []
        for j in range(len(poly)):
            p, q = np.array(poly[j]), np.array(poly[(j + 1) % len(poly)])
            sp = _xp(b - a, p - a) >= 0
            sq = _xp(b - a, q - a) >= 0
            if sp:
                out.append(tuple(p))
            if sp != sq:
                d = q - p
                den = _xp(b - a, d)
                if den != 0:
                    t = _xp(b - a, a - p) / den
                    out.append(tuple(p + t * d))
        poly = out
        if not poly:
            return 0.0
    return _area(np.array(poly))


def _iou(pa, pb):
    inter = _clip_area(pa, pb)
    u = _area(pa) + _area(pb) - inter
    return inter / u if u > 0 else 0.0


def _trans_match(g, d):
    if g == d:
        return True
    if len(g) > 0 and SPECIAL.find(g[0]) > -1 and g[1:] == d:
        return True
    if len(g) > 0 and SPECIAL.find(g[-1]) > -1 and g[:-1] == d:
        return True
    if (
        len(g) > 0
        and SPECIAL.find(g[0]) > -1
        and SPECIAL.find(g[-1]) > -1
        and g[1:-1] == d
    ):
        return True
    return False


def _brute_counts(ids, iou_t=0.1, area_t=0.1, global_lexicon=None):
    gtz = zipfile.ZipFile(GT_ZIP)
    pz = zipfile.ZipFile(PRED_ZIP)
    lz = zipfile.ZipFile(LEX_ZIP)
    skip = re.compile("[0-9+]")
    msum_det = msum_spot = g_care = d_care = 0
    for i in ids:
        gts, dets = [], []
        for line in gtz.read(f"gt_img_{i}.txt").decode("utf-8-sig").splitlines():
            line = line.strip()
            if not line:
                continue
            parts = line.split(",")
            gts.append(
                (
                    np.array([float(v) for v in parts[:8]]).reshape(4, 2),
                    ",".join(parts[8:]),
                )
            )
        try:
            raw = pz.read(f"img_{i}.txt").decode("utf-8-sig")
        except KeyError:
            raw = ""
        lex = global_lexicon if global_lexicon is not None else [
            ln.strip()
            for ln in lz.read(f"strong_lexicon/voc_img_{i}.txt")
            .decode("utf-8-sig")
            .splitlines()
            if ln.strip()
        ]
        for line in raw.splitlines():
            line = line.strip()
            if not line:
                continue
            parts = line.split(",")
            pts = np.array([float(v) for v in parts[:8]]).reshape(4, 2)
            text = ",".join(parts[8:])
            if not (len(text) < 3 or skip.findall(text)):
                best, w = 100, " "
                for word in lex:
                    d = _plain_lev(text.upper(), word.upper())
                    if d < best:
                        best, w = d, word
                text = w.replace(",", "")
            dets.append((pts, text))
        gt_dc = [k for k, (p, t) in enumerate(gts) if t == "###"]
        det_dc = []
        for dn, (dp, dt) in enumerate(dets):
            for k in gt_dc:
                inter = _clip_area(dp, gts[k][0])
                pd_area = _area(dp)
                if pd_area > 0 and inter / pd_area > area_t:
                    det_dc.append(dn)
                    break
        gmat, dmat = [0] * len(gts), [0] * len(dets)
        for gn, (gp, gtext) in enumerate(gts):
            for dn, (dp, dtext) in enumerate(dets):
                if (
                    gmat[gn] == 0
                    and dmat[dn] == 0
                    and gn not in gt_dc
                    and dn not in det_dc
                    and _iou(dp, gp) > iou_t
                ):
                    gmat[gn] = 1
                    dmat[dn] = 1
                    msum_det += 1
                    if _trans_match(gtext.upper(), dtext.upper()):
                        msum_spot += 1
        g_care += len(gts) - len(gt_dc)
        d_care += len(dets) - len(det_dc)
    return msum_det, msum_spot, g_care, d_care


@pytest.mark.skipif(not os.path.exists(BASE), reason="reference checkout absent")
def test_spark_lexicon_eval_matches_brute_subset(spark):
    """Exact count equality on a 40-image subset between the Spark
    chain (archive scan -> strong-lexicon correction -> e2e matcher)
    and the independent brute above."""
    import pyspark.sql.functions as F

    from davar_lab_ocr_spark.operators.metrics import e2e_match_stage
    from davar_lab_ocr_spark.operators.spotting import (
        lexicon_correct_stage,
        read_strong_lexicons,
    )
    from davar_lab_ocr_spark.sources.datalist import read_eval_archive

    ids = list(range(1, 41))
    want = {f"img_{i}" for i in ids}
    gt = read_eval_archive(spark, GT_ZIP, has_conf=False).withColumn(
        "doc_id", F.regexp_replace("doc_id", "^gt_", "")
    )
    pred = read_eval_archive(spark, PRED_ZIP, has_conf=False)
    gt = gt.filter(F.col("doc_id").isin(list(want)))
    pred = pred.filter(F.col("doc_id").isin(list(want)))
    lex = spark.createDataFrame(
        read_strong_lexicons(LEX_ZIP), "doc_id string, words array<string>"
    )
    pred = lexicon_correct_stage(pred, lexicon=lex)
    gtg = gt.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(F.col("poly"), F.lit(1).alias("care"), F.col("text"))
        ).alias("gt")
    )
    pg = pred.groupBy("doc_id").agg(
        F.collect_list(F.struct(F.col("poly"), F.col("conf"), F.col("text"))).alias(
            "pred"
        )
    )
    pairs = gtg.join(pg, "doc_id", "left").withColumn(
        "pred", F.coalesce(F.col("pred"), F.array().cast(pg.schema["pred"].dataType))
    )
    agg = (
        e2e_match_stage(
            pairs, 0.1, 0.1, False, True, SPECIAL
        )
        .agg(
            F.sum("matched_det").alias("md"),
            F.sum("matched_spot").alias("ms"),
            F.sum("care_det").alias("d"),
            F.sum("care_gt").alias("g"),
        )
        .collect()[0]
    )
    md, ms, g, d = _brute_counts(ids)
    assert (agg["md"], agg["ms"], agg["g"], agg["d"]) == (md, ms, g, d)


@pytest.mark.skipif(not os.path.exists(BASE), reason="reference checkout absent")
def test_global_lexicon_modes(spark):
    """WEAK (624-word ch2 vocabulary) and GENERAL (87,623-word
    GenericVocabulary) configs: the global-words broadcast mode of
    lexicon_correct_stage, including the large-lexicon vectorized-DP
    path. Spark-corrected texts equal a driver-side correction with
    the same public rule on a 25-prediction sample; two GENERAL
    corrections are additionally cross-checked against an independent
    plain-python DP over the full 87k vocabulary."""
    import pyspark.sql.functions as F

    from davar_lab_ocr_spark.operators.spotting import (
        lexicon_correct,
        lexicon_correct_stage,
        read_lexicon_txt,
    )
    from davar_lab_ocr_spark.sources.datalist import read_eval_archive

    weak = read_lexicon_txt(
        "/root/reference/demo/text_spotting/evaluation/lexicons/icdar2013/"
        "ch2_test_vocabulary.txt"
    )
    assert len(weak) == 624
    generic = read_lexicon_txt(
        "/root/reference/demo/text_spotting/evaluation/lexicons/icdar2013/"
        "GenericVocabulary.txt"
    )
    assert len(generic) == 87623  # 87622 newlines + unterminated last line

    pred = (
        read_eval_archive(spark, PRED_ZIP, has_conf=False)
        .filter(F.col("doc_id").isin(["img_1", "img_2", "img_3", "img_4", "img_5"]))
        .select("doc_id", "text")
    )
    sample = [r["text"] for r in pred.collect()]
    assert len(sample) >= 15

    from davar_lab_ocr_spark.operators.spotting import _encode_lexicon

    for lex in (weak, generic):
        got = {
            (r["doc_id"], r["text"])
            for r in lexicon_correct_stage(pred, words=lex).collect()
        }
        mat, lens = _encode_lexicon(lex)  # encode once driver-side
        want = {
            (r["doc_id"], lexicon_correct(r["text"], lex, mat, lens))
            for r in pred.collect()
        }
        assert got == want

    # independent full-87k cross-check on two correctable words
    for probe in [t for t in sample if len(t) >= 3 and t.isalpha()][:2]:
        best, word = 100, " "
        for v in generic:
            d = _plain_lev(probe.upper(), v.upper())
            if d < best:
                best, word = d, v
        assert lexicon_correct(probe, generic) == word.replace(",", "")


@pytest.mark.skipif(not os.path.exists(BASE), reason="reference checkout absent")
def test_brute_full_corpus_pinned_counts():
    """The full-corpus brute matches the pinned oracle counts AND the
    published None-run det figures (det metrics are lexicon-invariant);
    the WEAK (ch2 vocabulary) config pins its own spot count with the
    same det leg."""
    gtz = zipfile.ZipFile(GT_ZIP)
    ids = sorted(
        int(re.match(r"gt_img_(\d+)\.txt", n).group(1)) for n in gtz.namelist()
    )
    md, ms, g, d = _brute_counts(ids)
    assert (md, ms, g, d) == (850, 805, 917, 883)
    assert round(md / g, 4) == 0.9269  # published det_recall
    assert round(md / d, 4) == 0.9626  # published det_precision
    from davar_lab_ocr_spark.operators.spotting import read_lexicon_txt

    weak = read_lexicon_txt(BASE + "lexicons/icdar2013/ch2_test_vocabulary.txt")
    md, ms, g, d = _brute_counts(ids, global_lexicon=weak)
    assert (md, ms, g, d) == (850, 799, 917, 883)


def test_stage_empty_lexicon_passthrough(spark):
    """A doc with no lexicon entry (or an empty one) keeps its text
    unchanged — the reference's `if lexicon != []` guard; correcting
    against an empty lexicon would blank the word to ' '."""
    from davar_lab_ocr_spark.operators.spotting import lexicon_correct_stage

    pred = spark.createDataFrame(
        [("img_a", "hello"), ("img_b", "world"), ("img_c", "third")],
        "doc_id string, text string",
    )
    lex = spark.createDataFrame(
        [("img_a", ["HELLO", "OTHER"]), ("img_b", [])],
        "doc_id string, words array<string>",
    )
    got = {r["doc_id"]: r["text"] for r in lexicon_correct_stage(pred, lexicon=lex).collect()}
    assert got == {"img_a": "HELLO", "img_b": "world", "img_c": "third"}
