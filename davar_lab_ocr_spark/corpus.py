"""Deterministic synthetic interleaved corpus + pure-python span oracle.

Generates the ``raw_documents`` table the extraction pipeline consumes
(per BASELINE.json input_hint / FIXTURES.md F1) and, independently, the
EXPECTED ``documents`` output — spans ``(kind, text, media_ref,
offset)`` — computed with simple pure-python loops so the Spark path is
verified against a second implementation.

Properties:
- fully deterministic: per-doc RNG seeded by (seed, doc index), so the
  corpus is reproducible at any scale and independent of generation
  order / partitioning;
- skewed: most docs have 1-23 regions, every ``giant_every``-th doc has
  ``giant_size``+ regions (exercises whole-document re-assembly);
- interleaved: text (ctc/attn decode), media (figure regions carrying
  media_ref), and table regions (LGPMA-style structure recovery to
  html) mixed within one document;
- ~7% don't-care regions that must be dropped (the '###' analog,
  davar_custom.py care mask).
"""

from __future__ import annotations

import numpy as np

from .functions import text as TXT
from .functions.html import area_to_html, format_html

KINDS = ["text", "title", "list", "table", "figure"]  # PubLayNet class set
_KIND_P = [0.52, 0.12, 0.08, 0.11, 0.17]

# page-grid layout constants: 4 columns, unambiguous (y, x) reading order
_NCOLS = 4
_X0, _XSTEP, _XW = 20.0, 290.0, 260.0
_Y0, _YSTEP, _YH = 20.0, 40.0, 30.0


def _word(rng: np.random.Generator, lo: int = 1, hi: int = 12) -> str:
    n = int(rng.integers(lo, hi + 1))
    idx = rng.integers(0, len(TXT.CHARS36), size=n)
    return "".join(TXT.CHARS36[i] for i in idx)


def _make_table(rng: np.random.Generator):
    """Return (cell_bboxes, cell_texts, expected_html).

    Cells live in a local coordinate grid. Optionally one merged
    (row/col-span) cell and one empty grid position. The expected html
    is assembled from the KNOWN grid spans (the engine must re-derive
    them from the bboxes alone via bbox2adj -> cliques).
    """
    n_rows = int(rng.integers(2, 5))
    n_cols = int(rng.integers(2, 5))
    col_w, row_h = 80, 30

    # choose an optional merged cell (2-wide or 2-tall), not in row 0
    merge = None
    if n_rows >= 3 and rng.random() < 0.5:
        if rng.random() < 0.5 and n_cols >= 3:
            r = int(rng.integers(1, n_rows))
            c = int(rng.integers(0, n_cols - 1))
            merge = (r, c, r, c + 1)  # colspan 2
        else:
            r = int(rng.integers(1, n_rows - 1))
            c = int(rng.integers(0, n_cols))
            merge = (r, c, r + 1, c)  # rowspan 2
    covered = set()
    if merge:
        for rr in range(merge[0], merge[2] + 1):
            for cc in range(merge[1], merge[3] + 1):
                covered.add((rr, cc))

    # optional empty position (not row 0, not covered by the merge).
    # Recoverability constraint: structure is derived from bboxes alone
    # (bbox2adj cliques), so every row must keep >=1 single-row cell —
    # otherwise a neighboring rowspan absorbs the emptied row and the
    # reference chain itself would collapse it (same ambiguity).
    empty_pos = None
    if rng.random() < 0.4:
        cand = [
            (r, c)
            for r in range(1, n_rows)
            for c in range(n_cols)
            if (r, c) not in covered
            # another single-row cell must remain in row r: a plain cell
            # in a different column, or a colspan merge anchored at row r
            and (
                any(
                    (r, c2) not in covered
                    for c2 in range(n_cols)
                    if c2 != c
                )
                or (merge is not None and merge[0] == r and merge[2] == r)
            )
        ]
        if cand:
            empty_pos = cand[int(rng.integers(0, len(cand)))]

    cells = []  # (r0, c0, r1, c1, text)
    seen = set()
    for r in range(n_rows):
        for c in range(n_cols):
            if (r, c) == empty_pos or (r, c) in seen:
                continue
            if merge and (r, c) == (merge[0], merge[1]):
                r0, c0, r1, c1 = merge
                for rr in range(r0, r1 + 1):
                    for cc in range(c0, c1 + 1):
                        seen.add((rr, cc))
            elif merge and (r, c) in covered:
                continue
            else:
                r0, c0, r1, c1 = r, c, r, c
                seen.add((r, c))
            cells.append((r0, c0, r1, c1, _word(rng, 1, 8)))

    bboxes = [
        [
            float(c0 * col_w + 4),
            float(r0 * row_h + 4),
            float((c1 + 1) * col_w - 4),
            float((r1 + 1) * row_h - 4),
        ]
        for (r0, c0, r1, c1, _t) in cells
    ]
    texts = [t for (_r0, _c0, _r1, _c1, t) in cells]

    # expected html from the known grid (oracle path)
    area = np.zeros((n_rows, n_cols))
    for cid, (r0, c0, r1, c1, _t) in enumerate(cells):
        area[r0 : r1 + 1, c0 : c1 + 1] = cid + 1
    # empty grid gaps -> negative ids, scan order row-major (post_lgpma.py:376-382)
    empty_id = -1
    for r in range(n_rows):
        for c in range(n_cols):
            if area[r, c] == 0:
                area[r, c] = empty_id
                empty_id -= 1
    # engine convention: cells starting in row 0 are header (label [0])
    labels = [[0] if r0 == 0 else [1] for (r0, _c0, _r1, _c1, _t) in cells]
    struct, toks = area_to_html(area, labels, texts)
    html = format_html(struct, toks)
    return bboxes, texts, html


def gen_doc(d: int, seed: int, giant_every: int, giant_size: int) -> tuple[dict, dict]:
    """Generate one document (raw_row, expected_row). Pure function of
    (seed, d) — the same doc is produced on any executor, which is what
    makes distributed generation and the oracle agree."""
    rng = np.random.default_rng(seed * 1_000_003 + d)
    doc_id = f"doc-{seed}-{d:07d}"
    if giant_every and d % giant_every == giant_every - 1:
        n_regions = giant_size + int(rng.integers(0, giant_size // 3 + 1))
    else:
        n_regions = int(rng.integers(1, 24))
    n_grid_rows = (n_regions + _NCOLS - 1) // _NCOLS
    width = int(_X0 * 2 + _NCOLS * _XSTEP)
    height = int(max(200, _Y0 * 2 + n_grid_rows * _YSTEP))

    regions, expected = [], []
    for i in range(n_regions):
        gr, gc = i // _NCOLS, i % _NCOLS
        x0 = _X0 + gc * _XSTEP
        y0 = _Y0 + gr * _YSTEP
        bbox = [x0, y0, x0 + _XW, y0 + _YH]
        care = 0 if rng.random() < 0.07 else 1

        kind = KINDS[int(rng.choice(len(KINDS), p=_KIND_P))]
        # giant docs: keep heavy table regions out of the tail
        if n_regions > 100 and kind == "table":
            kind = "text"
        scores = (rng.random(len(KINDS)) * 0.3).tolist()
        scores[KINDS.index(kind)] = 0.6 + float(rng.random()) * 0.4

        media_ref = ""
        pred_ids: list[int] = []
        mode = "ctc"
        cell_bboxes = None
        cell_texts = None
        text_expected = ""

        if kind == "figure":
            mode = "media"
            media_ref = f"media://{doc_id}/{i}.png"
        elif kind == "table":
            mode = "table"
            cell_bboxes, cell_texts, text_expected = _make_table(rng)
        else:
            word = _word(rng)
            if rng.random() < 0.5:
                mode = "ctc"
                pred_ids = TXT.ctc_encode_with_noise(word, rng)
            else:
                mode = "attn"
                pred_ids = TXT.attn_encode(word, rng)
            text_expected = word

        regions.append(
            {
                "bbox": bbox,
                "kind_scores": scores,
                "pred_ids": [int(p) for p in pred_ids],
                "mode": mode,
                "care": care,
                "media_ref": media_ref,
                "cell_bboxes": cell_bboxes,
                "cell_texts": cell_texts,
            }
        )
        if care:
            expected.append((y0, x0, kind, text_expected, media_ref))

    # shuffle raw region order: the engine must sort, not rely on input order
    perm = rng.permutation(len(regions))
    regions = [regions[j] for j in perm]

    expected.sort(key=lambda t: (t[0], t[1]))
    spans = [
        {"kind": k, "text": t, "media_ref": m, "offset": off}
        for off, (_y, _x, k, t, m) in enumerate(expected)
    ]
    raw_row = {"doc_id": doc_id, "width": width, "height": height, "regions": regions}
    return raw_row, {"doc_id": doc_id, "spans": spans}


def make_raw_corpus(
    n_docs: int,
    seed: int = 7,
    giant_every: int = 97,
    giant_size: int = 600,
) -> tuple[list[dict], list[dict]]:
    """Driver-side generation (tests / small corpora): build
    (raw_rows, expected_rows) per schemas.RAW_DOCUMENTS / DOCUMENTS."""
    pairs = [gen_doc(d, seed, giant_every, giant_size) for d in range(n_docs)]
    return [p[0] for p in pairs], [p[1] for p in pairs]


def distributed_raw_df(
    spark,
    n_docs: int,
    seed: int = 7,
    giant_every: int = 97,
    giant_size: int = 600,
    partitions: int | None = None,
):
    """Scale-out generation: spark.range over doc indices, per-doc RNG
    seeded by (seed, index) so output is independent of partitioning —
    the honest 10^12-doc path (no driver materialization)."""
    import pandas as pd

    from .schemas import RAW_DOCUMENTS

    parts = partitions or spark.sparkContext.defaultParallelism
    idx = spark.range(0, n_docs, 1, parts)

    def gen(batches):
        # chunk the yields so per-worker peak memory is bounded by the
        # chunk, independent of the session's Arrow record-batch size
        # (each generated doc carries a full regions array — a 40k-row
        # input batch would otherwise materialize ~40k docs in one
        # pandas frame)
        chunk = 4096
        for pdf in batches:
            ids = [int(d) for d in pdf["id"]]
            for lo in range(0, len(ids), chunk):
                rows = [
                    gen_doc(d, seed, giant_every, giant_size)[0]
                    for d in ids[lo : lo + chunk]
                ]
                yield pd.DataFrame(rows, columns=["doc_id", "width", "height", "regions"])

    return idx.mapInPandas(gen, schema=RAW_DOCUMENTS)


def raw_df(spark, rows):
    from .schemas import RAW_DOCUMENTS

    return spark.createDataFrame(rows, schema=RAW_DOCUMENTS)


def expected_df(spark, rows):
    from .schemas import DOCUMENTS

    return spark.createDataFrame(rows, schema=DOCUMENTS)
