"""F-score-R (YORO end-to-end) track evaluation: protocol parity with
demo/videotext/evaluation/evaluate_hmeans.py + evaluate_utils.py on the
reference's OWN shipped prediction file, plus a quirk-planted synthetic
golden verified against an independent brute-force implementation.

The reference does NOT ship the IC15 gt json (gt/IC15/ carries only the
vocabulary), so the published totals (468/675/676) cannot be re-run;
these tests pin everything that IS derivable from shipped data: the
798-track scan, the selected-frame rule against an independent argmax,
and the vocabulary-snap function against the shipped 200-word lexicons.
"""

import json
import os

import numpy as np
import pytest

PRED_FILE = "/root/reference/demo/videotext/evaluation/pred/IC15_pred_recommder_result.json"
TRACK_FILE = "/root/reference/demo/videotext/evaluation/pred/IC15_pred_track_result.json"
VOCA_FILE = "/root/reference/demo/videotext/evaluation/gt/IC15/IC15_voca.json"


@pytest.mark.skipif(not os.path.exists(PRED_FILE), reason="reference checkout absent")
def test_track_results_scan_shipped_file(spark):
    from davar_lab_ocr_spark.sources.datalist import read_track_results

    df = read_track_results(spark, PRED_FILE)
    rows = df.collect()
    raw = json.load(open(PRED_FILE))
    assert len(rows) == sum(len(v) for v in raw.values()) == 798
    assert len({r["video_id"] for r in rows}) == len(raw) == 15
    by_vid = {}
    for r in rows:
        by_vid.setdefault(r["video_id"], 0)
        by_vid[r["video_id"]] += 1
    assert by_vid == {v: len(raw[v]) for v in raw}
    # spot-check payload fidelity
    r0 = next(r for r in rows if r["video_id"] == "Video_1_1_2" and r["track_id"] == "11")
    assert r0["track"] == raw["Video_1_1_2"]["11"]["track"]
    assert r0["scores"] == pytest.approx(raw["Video_1_1_2"]["11"]["scores"])
    assert r0["text"] == raw["Video_1_1_2"]["11"]["text"]
    # the pure-track variant has no scores/text columns populated
    tdf = read_track_results(spark, TRACK_FILE)
    trow = tdf.limit(1).collect()[0]
    assert trow["scores"] is None and trow["text"] is None
    assert tdf.count() == 798


@pytest.mark.skipif(not os.path.exists(PRED_FILE), reason="reference checkout absent")
def test_selected_frame_rule_on_shipped_tracks():
    """select_best_frame == the reference's load_pre_fscore rule
    (first strict max of the quality scores), checked independently
    with numpy argmax over all 798 shipped tracks."""
    from davar_lab_ocr_spark.operators.video import select_best_frame

    raw = json.load(open(PRED_FILE))
    n = 0
    for video in raw.values():
        for rec in video.values():
            sel_frame, sel_pts, sel_word = select_best_frame(
                rec["track"], rec["scores"]
            )
            # independent derivation: np.argmax returns the FIRST max
            i = int(np.argmax(np.asarray(rec["scores"])))
            inst = rec["track"][i]
            assert sel_frame == int(inst.split(",")[0])
            # the reference keys locations by frame id (last write wins)
            last_at_frame = [
                t for t in rec["track"] if int(t.split(",")[0]) == sel_frame
            ][-1]
            assert sel_pts == [int(v) for v in last_at_frame.split(",")[1].split("_")[:8]]
            n += 1
    assert n == 798


@pytest.mark.skipif(not os.path.exists(VOCA_FILE), reason="reference checkout absent")
def test_snap_gt_trans_shipped_vocab_parity():
    """snap_gt_trans vs an independent transliteration of
    process_gt_trans on the shipped IC15 vocabulary."""
    from davar_lab_ocr_spark.operators.video import _levenshtein, snap_gt_trans

    voca = json.load(open(VOCA_FILE))
    vlist = voca["Video_1_1_2"]
    assert len(vlist) == 200

    def independent(trans):
        if trans == "###" or any(c.isdigit() for c in trans):
            return trans
        best, word = 10**7, ""
        for v in vlist:
            # O(mn) DP written differently from operators.video
            m, n = len(v), len(trans)
            dp = list(range(n + 1))
            for i in range(1, m + 1):
                prev_diag, dp[0] = dp[0], i
                for j in range(1, n + 1):
                    prev_diag, dp[j] = dp[j], min(
                        dp[j] + 1,
                        dp[j - 1] + 1,
                        prev_diag + (v[i - 1] != trans[j - 1]),
                    )
            if dp[n] < best:
                best, word = dp[n], v
        return word

    probes = ["CONSELL", "###", "AB1C", "PARKING", "xyzzy", "NEXITY", "SOL"]
    probes += vlist[:10]
    for t in probes:
        assert snap_gt_trans(t, vlist) == independent(t), t
    # digit words pass through untouched
    assert snap_gt_trans("A1", vlist) == "A1"


def _mk_gt_inst(frame, pts, quality="HIGH"):
    return f"{frame},word,{quality}," + "_".join(str(int(v)) for v in pts)


def _mk_pred_inst(frame, pts, word):
    return f"{frame}," + "_".join(str(int(v)) for v in pts) + f",{word}"


def _rect(x0, y0, w, h):
    return [x0, y0, x0 + w, y0, x0 + w, y0 + h, x0, y0 + h]


def test_fscore_track_eval_quirks(spark):
    """Synthetic per-quirk fixture; expected counts hand-derived from
    the reference loop semantics:

    v1: pred matches identical-box gt with correct word -> 1 match
    v2: word mismatch at IoU 1 -> no match (pred_care still counts)
    v3: IoU ~0.23 < 0.5 with correct word -> no match
    v4: '###' gt consumed at IoU 0 (max_iou init -1 quirk) -> pred
        becomes don't-care, excluded from pred_care
    v5: vocabulary snaps gt 'PARKIN' -> 'PARKING' == pred word -> match
    v6: IoU tie between two gts -> LAST gt wins; its word matches
        (the first gt's word would NOT) -> 1 match proves the quirk
    """
    from davar_lab_ocr_spark.operators.video import fscore_track_eval

    pred_rows, gt_rows, voca_rows = [], [], []

    def add_pred(vid, tid, frame, pts, word, extra=()):
        track = [_mk_pred_inst(frame, pts, word.lower())]
        scores = [0.9]
        for (f2, p2, w2, s2) in extra:
            track.append(_mk_pred_inst(f2, p2, w2))
            scores.append(s2)
        pred_rows.append((vid, tid, track, scores, word))

    # v1: exact match
    add_pred("v1", "p0", 5, _rect(0, 0, 60, 20), "HELLO")
    gt_rows.append(("v1", "g0", "HELLO", [_mk_gt_inst(5, _rect(0, 0, 60, 20))]))
    # v2: word mismatch
    add_pred("v2", "p0", 3, _rect(0, 0, 60, 20), "WRONG")
    gt_rows.append(("v2", "g0", "RIGHT", [_mk_gt_inst(3, _rect(0, 0, 60, 20))]))
    # v3: low IoU (20x20 vs shifted 20x20 overlapping 15x10 ->
    # 150/(800-150) ≈ 0.23), correct word
    add_pred("v3", "p0", 7, _rect(0, 0, 20, 20), "LOW")
    gt_rows.append(("v3", "g0", "LOW", [_mk_gt_inst(7, _rect(5, 10, 20, 20))]))
    # v4: far-away '###' gt on the same frame consumed at IoU 0
    add_pred("v4", "p0", 2, _rect(0, 0, 20, 20), "GONE")
    gt_rows.append(("v4", "g0", "###", [_mk_gt_inst(2, _rect(500, 500, 20, 20))]))
    # v5: vocabulary snap
    add_pred("v5", "p0", 9, _rect(10, 10, 80, 25), "PARKING")
    gt_rows.append(("v5", "g0", "PARKIN", [_mk_gt_inst(9, _rect(10, 10, 80, 25))]))
    voca_rows.append(("v5", ["PARKING", "STATION", "EXIT"]))
    # v6: IoU tie -> LAST max wins (label insertion order: AAA then BBB;
    # both boxes identical to pred; pred word = BBB -> only the
    # last-wins quirk yields a match)
    add_pred("v6", "p0", 4, _rect(0, 0, 40, 20), "BBB")
    gt_rows.append(("v6", "g0", "AAA", [_mk_gt_inst(4, _rect(0, 0, 40, 20))]))
    gt_rows.append(("v6", "g1", "BBB", [_mk_gt_inst(4, _rect(0, 0, 40, 20))]))

    pred = spark.createDataFrame(
        pred_rows,
        "video_id string, track_id string, track array<string>, "
        "scores array<double>, text string",
    )
    gt = spark.createDataFrame(
        [(r[0], i, *r[1:]) for i, r in enumerate(gt_rows)],
        "video_id string, seq int, gt_id string, trans string, track array<string>",
    )
    voca = spark.createDataFrame(voca_rows, "video_id string, words array<string>")

    row = fscore_track_eval(pred, gt, voca).collect()[0]
    # matches: v1, v5, v6 = 3; pred_care: 6 preds - 1 notcare (v4) = 5;
    # gt_care: 7 gts - 1 notcare = 6
    assert row["n_matched"] == 3
    assert row["n_pred"] == 5
    assert row["n_gt"] == 6
    assert row["recall"] == pytest.approx(3 / 6)
    assert row["precision"] == pytest.approx(3 / 5)
    assert row["hmean"] == pytest.approx(2 * 0.5 * 0.6 / 1.1, abs=1e-6)


@pytest.mark.skipif(not os.path.exists(PRED_FILE), reason="reference checkout absent")
def test_fscore_on_shipped_pred_with_derived_gt(spark):
    """End-to-end on the REAL shipped prediction file: gt is derived
    from the predictions themselves (each track's selected frame box +
    final text becomes a gt track), so every care pred whose text is
    digit- and charset-clean must match at IoU 1.0. Derivation keeps
    only tracks with a unique (video, selected-frame) so the greedy
    loop cannot cross-pair, and uppercases texts; expected counts are
    computed independently in plain python."""
    from davar_lab_ocr_spark.operators.video import fscore_track_eval, select_best_frame
    from davar_lab_ocr_spark.sources.datalist import read_track_results

    raw = json.load(open(PRED_FILE))
    keep = {}  # (vid) -> list of (tid, frame, pts, TEXT)
    for vid, tracks in raw.items():
        seen = {}
        for tid, rec in tracks.items():
            f, pts, _w = select_best_frame(rec["track"], rec["scores"])
            seen.setdefault(f, []).append((tid, f, pts, rec["text"].upper()))
        keep[vid] = [v[0] for v in seen.values() if len(v) == 1]

    kept_ids = {(vid, t[0]) for vid, ts in keep.items() for t in ts}
    gt_rows = [
        (vid, i, f"g{t[0]}", t[3], [_mk_gt_inst(t[1], t[2])])
        for vid, ts in keep.items()
        for i, t in enumerate(ts)
    ]
    del kept_ids  # all preds stay in: non-kept preds' selected frames
    # were dropped from the gt entirely (frame collision), so they can
    # never acquire a gt and only inflate pred_care — the brute pass
    # accounts for them identically
    pred = read_track_results(spark, PRED_FILE)
    gt = spark.createDataFrame(
        gt_rows,
        "video_id string, seq int, gt_id string, trans string, track array<string>",
    )
    row = fscore_track_eval(pred, gt).collect()[0]

    # independent expectation: every kept gt box equals its pred's box
    # exactly, so that pred matches it iff text equality holds
    # (uppercased text vs gt trans == same string) -> all kept match,
    # UNLESS another pred with the same selected frame grabbed the gt
    # first (possible: non-kept preds from colliding frames iterate
    # earlier in dict order and can reach IoU>=0.5 with matching text).
    # Conservative bound: matched >= kept-with-unique-text-frame count
    # minus collisions is intractable by hand, so assert the exact
    # greedy outcome via a second, independent pass in plain python.
    def brute():
        total_m, total_p, total_g = 0, 0, 0
        for vid, tracks in raw.items():
            gts = sorted((g for g in gt_rows if g[0] == vid), key=lambda g: g[1])
            gt_state = {g[2]: 0 for g in gts}
            gt_loc = {
                g[2]: (int(g[4][0].split(",", 2)[0]), g[4][0].rsplit(",", 2)[-1])
                for g in gts
            }
            gt_trans = {g[2]: g[3] for g in gts}
            label_order = []
            label_map = {}
            for g in gts:
                if g[3] not in label_map:
                    label_map[g[3]] = []
                    label_order.append(g[3])
                label_map[g[3]].append(g[2])
            pre = {}
            for tid, rec in tracks.items():
                f, pts, _w = select_best_frame(rec["track"], rec["scores"])
                word = rec["text"].upper()
                pre[tid] = 0
                box = "_".join(str(v) for v in pts)
                best_iou, best_gt = -1.0, None
                for label in label_order:
                    for gid in label_map[label]:
                        if gt_state[gid] in (1, 2):
                            continue
                        gf, gbox = gt_loc[gid]
                        if gf != f:
                            continue
                        iou = _rect_pair_iou(box, gbox)
                        if iou >= best_iou:
                            best_iou, best_gt = iou, gid
                if best_gt is None:
                    continue
                if gt_trans[best_gt] == "###":
                    pre[tid] = 2
                    gt_state[best_gt] = 2
                elif best_iou >= 0.5 and gt_trans[best_gt] == word:
                    pre[tid] = 1
                    gt_state[best_gt] = 1
            total_m += sum(1 for v in pre.values() if v == 1)
            total_p += len(pre) - sum(1 for v in pre.values() if v == 2)
            total_g += len(gt_state)
        return total_m, total_p, total_g

    def _rect_pair_iou(a, b):
        # independent IoU: shoelace + Sutherland-Hodgman-free grid? The
        # quads here are arbitrary; use shapely-free exact convex clip
        # via numpy cross products (separate implementation below)
        pa = np.array([int(v) for v in a.split("_")], float).reshape(4, 2)
        pb = np.array([int(v) for v in b.split("_")], float).reshape(4, 2)
        inter = _clip_area(pa, pb)
        ua = _area(pa) + _area(pb) - inter
        return inter / ua if ua > 0 else 0.0

    def _area(p):
        x, y = p[:, 0], p[:, 1]
        return abs(float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))) / 2

    def _x(u, v):
        return float(u[0] * v[1] - u[1] * v[0])

    def _clip_area(sub, clip):
        # orientation-normalize clip to counter-clockwise
        if _x(clip[1] - clip[0], clip[2] - clip[1]) < 0:
            clip = clip[::-1]
        poly = [tuple(p) for p in sub]
        for i in range(len(clip)):
            a, b = clip[i], clip[(i + 1) % len(clip)]
            out = []
            for j in range(len(poly)):
                p, q = np.array(poly[j]), np.array(poly[(j + 1) % len(poly)])
                side_p = _x(b - a, p - a) >= 0
                side_q = _x(b - a, q - a) >= 0
                if side_p:
                    out.append(tuple(p))
                if side_p != side_q:
                    d = q - p
                    denom = _x(b - a, d)
                    if denom != 0:
                        t = _x(b - a, a - p) / denom
                        out.append(tuple(p + t * d))
            poly = out
            if not poly:
                return 0.0
        return _area(np.array(poly))

    em, ep, eg = brute()
    assert (row["n_matched"], row["n_pred"], row["n_gt"]) == (em, ep, eg)
    # sanity: the derived-gt construction makes a large majority of the
    # unique-frame tracks match (500 exactly on the shipped file)
    assert em >= 500 and eg <= 798


def test_hungarian_matches_permutation_brute():
    import itertools

    from davar_lab_ocr_spark.functions.assignment import hungarian_max

    rng = np.random.default_rng(23)
    for _ in range(50):
        n = int(rng.integers(1, 6))
        m = rng.random((n, n)) * 5
        r, c = hungarian_max(m)
        best = max(
            sum(m[i, p[i]] for i in range(n))
            for p in itertools.permutations(range(n))
        )
        assert abs(m[r, c].sum() - best) < 1e-9


def test_ata_track_eval_quirks(spark):
    """evaluate_ata.py semantics on a hand-built fixture with
    HAND-DERIVED expectations (unique-optimum construction, so
    assignment tie-breaking cannot differ; the Hungarian itself is
    verified against a permutation brute in the test above):

    vA: two preds, two gts, identical boxes -> each pair matches all
        its frames; one gt has a LOW-quality middle frame (excluded
        from matches AND union); video ata = (1 + 1) / ((2+2)/2) = 1.0
    vB: pred overlaps a '###' gt at full IoU -> consumed as not-care
        (max row st-IoU >= 0.1), denominator shrinks; second pred has
        no gt -> false positive; ata = 0 / ((0 + 2 - 1)/2) = 0.0
    vC: care_rcg: word mismatch zeroes the match count but the union
        still divides -> ata 0 with care_rcg=True, 1.0 with False
    """
    from davar_lab_ocr_spark.operators.video import ata_track_eval

    def track_rows(frames, pts, word):
        return [_mk_pred_inst(f, pts, word.lower()) for f in frames]

    def gt_track(frames, pts, quality=None):
        quality = quality or ["HIGH"] * len(frames)
        return [_mk_gt_inst(f, pts, q) for f, q in zip(frames, quality)]

    pred_rows = [
        ("vA", "p0", track_rows([1, 2, 3], _rect(0, 0, 50, 20), "AAA"),
         [0.9, 0.8, 0.7], "AAA"),
        ("vA", "p1", track_rows([1, 2, 3], _rect(200, 0, 50, 20), "BBB"),
         [0.9, 0.8, 0.7], "BBB"),
        ("vB", "p0", track_rows([5], _rect(0, 0, 30, 30), "XXX"),
         [0.9], "XXX"),
        ("vB", "p1", track_rows([9], _rect(900, 900, 30, 30), "YYY"),
         [0.9], "YYY"),
        ("vC", "p0", track_rows([1, 2], _rect(0, 0, 40, 20), "WRONG"),
         [0.9, 0.8], "WRONG"),
    ]
    gt_rows = [
        ("vA", 0, "g0", "AAA", gt_track([1, 2, 3], _rect(0, 0, 50, 20))),
        ("vA", 1, "g1", "BBB",
         gt_track([1, 2, 3], _rect(200, 0, 50, 20), ["HIGH", "LOW", "HIGH"])),
        ("vB", 0, "g0", "###", gt_track([5], _rect(0, 0, 30, 30))),
        ("vC", 0, "g0", "RIGHT", gt_track([1, 2], _rect(0, 0, 40, 20))),
    ]
    pred = spark.createDataFrame(
        pred_rows,
        "video_id string, track_id string, track array<string>, "
        "scores array<double>, text string",
    )
    gt = spark.createDataFrame(
        gt_rows,
        "video_id string, seq int, gt_id string, trans string, track array<string>",
    )
    row = ata_track_eval(pred, gt, care_rcg=True).collect()[0]
    # hand-derivation: vA = (3/3 + 2/2)/((2+2)/2) = 1.0;
    # vB = 0/((0+2-1)/2) = 0.0; vC word mismatch = 0.0
    assert row["n_videos"] == 3
    assert row["ata"] == pytest.approx((1.0 + 0.0 + 0.0) / 3, abs=1e-6)
    row2 = ata_track_eval(pred, gt, care_rcg=False).collect()[0]
    # vC now matches both frames -> 2/2 = 1.0
    assert row2["ata"] == pytest.approx((1.0 + 0.0 + 1.0) / 3, abs=1e-6)


@pytest.mark.skipif(not os.path.exists(PRED_FILE), reason="reference checkout absent")
def test_ata_on_shipped_pred_identity_gt(spark):
    """Shipped 798-track pred vs a gt derived as an exact copy (all
    frames HIGH quality, trans = text.upper()): every optimal
    assignment pairs value-identical tracks, each contributing
    stda = 1, so ATA must be exactly 1.0 over all 15 videos."""
    import pyspark.sql.functions as F

    from davar_lab_ocr_spark.operators.video import ata_track_eval, parse_pred_instance
    from davar_lab_ocr_spark.sources.datalist import read_track_results

    raw = json.load(open(PRED_FILE))
    gt_rows = []
    for vid, tracks in raw.items():
        for i, (tid, rec) in enumerate(tracks.items()):
            insts = []
            for inst in rec["track"]:
                f, pts, _w = parse_pred_instance(inst)
                insts.append(_mk_gt_inst(f, pts))
            gt_rows.append((vid, i, f"g{tid}", rec["text"].upper(), insts))
    gt = spark.createDataFrame(
        gt_rows,
        "video_id string, seq int, gt_id string, trans string, track array<string>",
    )
    pred = read_track_results(spark, PRED_FILE)
    row = ata_track_eval(pred, gt, care_rcg=True).collect()[0]
    assert row["n_videos"] == 15
    assert row["ata"] == pytest.approx(1.0, abs=1e-6)


def test_mot_track_eval_quirks(spark):
    """evaluate_mot.py semantics on a hand-built fixture; expectations
    hand-derived:

    vA: one gt over frames 1-4, covered by pred pA (1-2) then pB (3-4)
        with the same box -> 4 TPs and exactly one id switch
    vB: a care-0 gt instance (word 'ab' < 3 chars) matched at IoU 1
        contributes nothing; a care gt with no pred is one FN
    vC: word mismatch -> FP per frame under care_rcg, TP without
    vD: an empty frame between two pred tracks RESETS the identity
        mapping -> the handover after the gap is NOT an id switch
    """
    from davar_lab_ocr_spark.operators.video import mot_track_eval

    box = _rect(0, 0, 50, 20)
    far = _rect(300, 300, 50, 20)

    def gt_insts(frames, pts, word="WORD", quality="HIGH"):
        return [f"{f},{word},{quality}," + "_".join(str(int(v)) for v in pts)
                for f in frames]

    def pr_insts(frames, pts, word="word"):
        return [_mk_pred_inst(f, pts, word) for f in frames]

    pred_rows = [
        ("vA", "pA", pr_insts([1, 2], box), [0.9, 0.9], "WORD"),
        ("vA", "pB", pr_insts([3, 4], box), [0.9, 0.9], "WORD"),
        ("vB", "pS", pr_insts([1], box), [0.9], "AB"),
        ("vC", "p0", pr_insts([1, 2], box), [0.9, 0.9], "WRONG"),
        ("vD", "pA", pr_insts([1, 2], box), [0.9, 0.9], "WORD"),
        ("vD", "pB", pr_insts([4, 5], box), [0.9, 0.9], "WORD"),
    ]
    gt_rows = [
        ("vA", 0, "g0", "WORD", gt_insts([1, 2, 3, 4], box)),
        ("vB", 0, "g0", "AB", gt_insts([1], box, word="ab")),
        ("vB", 1, "g1", "XYZ", gt_insts([1], far, word="xyz")),
        ("vC", 0, "g0", "RIGHT", gt_insts([1, 2], box, word="right")),
        ("vD", 0, "g0", "WORD", gt_insts([1, 2], box) + gt_insts([4, 5], box)),
    ]
    pred = spark.createDataFrame(
        pred_rows,
        "video_id string, track_id string, track array<string>, "
        "scores array<double>, text string",
    )
    gt = spark.createDataFrame(
        gt_rows,
        "video_id string, seq int, gt_id string, trans string, track array<string>",
    )
    row = mot_track_eval(pred, gt, care_rcg=True).collect()[0]
    assert (row["tp"], row["fp"], row["fn"], row["idsw"], row["n_gt"]) == (
        8, 2, 1, 1, 11
    )
    assert row["motp"] == pytest.approx(1.0, abs=1e-6)
    assert row["mota"] == pytest.approx(1 - 4 / 11, abs=1e-6)
    row2 = mot_track_eval(pred, gt, care_rcg=False).collect()[0]
    assert (row2["tp"], row2["fp"], row2["idsw"]) == (10, 0, 1)
    assert row2["mota"] == pytest.approx(1 - 2 / 11, abs=1e-6)


@pytest.mark.skipif(not os.path.exists(PRED_FILE), reason="reference checkout absent")
def test_mot_on_shipped_pred_identity_gt(spark):
    """Shipped 798-track pred vs an identity-derived gt (per-frame
    last-wins dedup mirrored, instance word = final text, HIGH
    quality): every frame's Hungarian pairs identical boxes at IoU
    1.0, words match, mapping never switches -> MOTP = MOTA = 1.0 and
    zero FP/FN/switches; n_gt counts only care instances (words >= 3
    chars, no '###')."""
    from davar_lab_ocr_spark.operators.video import mot_track_eval, parse_pred_instance
    from davar_lab_ocr_spark.sources.datalist import read_track_results

    raw = json.load(open(PRED_FILE))
    gt_rows = []
    for vid, tracks in raw.items():
        for i, (tid, rec) in enumerate(tracks.items()):
            per_frame = {}
            for inst in rec["track"]:
                f, pts, _w = parse_pred_instance(inst)
                per_frame[f] = pts
            word = rec["text"].upper()
            insts = [
                f"{f},{word},HIGH," + "_".join(str(int(v)) for v in pts)
                for f, pts in per_frame.items()
            ]
            gt_rows.append((vid, i, f"g{tid}", word, insts))
    gt = spark.createDataFrame(
        gt_rows,
        "video_id string, seq int, gt_id string, trans string, track array<string>",
    )
    pred = read_track_results(spark, PRED_FILE)
    row = mot_track_eval(pred, gt, care_rcg=True).collect()[0]
    assert row["fp"] == 0 and row["fn"] == 0 and row["idsw"] == 0
    assert row["motp"] == pytest.approx(1.0, abs=1e-6)
    assert row["mota"] == pytest.approx(1.0, abs=1e-6)
    assert row["tp"] == row["n_gt"] > 0


def test_protocols_handle_one_sided_videos(spark):
    """A video present only in pred (all FP / consumes denominator)
    or only in gt (all missed) must flow through the cogrouped kernels
    without error in all three protocols."""
    from davar_lab_ocr_spark.operators.video import (
        ata_track_eval,
        fscore_track_eval,
        mot_track_eval,
    )

    box = _rect(0, 0, 50, 20)
    pred = spark.createDataFrame(
        [("only_pred", "p0", [_mk_pred_inst(1, box, "word")], [0.9], "WORD")],
        "video_id string, track_id string, track array<string>, "
        "scores array<double>, text string",
    )
    gt = spark.createDataFrame(
        [("only_gt", 0, "g0", "WORD", [_mk_gt_inst(1, box)])],
        "video_id string, seq int, gt_id string, trans string, track array<string>",
    )
    f = fscore_track_eval(pred, gt).collect()[0]
    assert (f["n_matched"], f["n_pred"], f["n_gt"]) == (0, 1, 1)
    a = ata_track_eval(pred, gt).collect()[0]
    assert a["n_videos"] == 2 and a["ata"] == pytest.approx(0.0)
    m = mot_track_eval(pred, gt).collect()[0]
    # only_pred has no gt frames -> frame loop empty (start from gt);
    # only_gt misses its care instance -> 1 FN
    assert (m["tp"], m["fn"], m["n_gt"]) == (0, 1, 1)
