"""LGPMA-style table structure recovery.

Chain (post_lgpma.py:321-406 semantics, re-expressed):
  aligned cell bboxes -> bbox2adj -> maximal-clique row/col assignment
  -> cell (r0,c0,r1,c1) spans -> empty-cell grid fill -> area_to_html
  -> format_html.

Engine label convention: cells whose start row is 0 are header cells
(label [0]), the rest body ([1]) — the reference takes labels from the
detector's 2-class output (head/body); our synthetic corpus has no
detector classes, so row-0 = header is the documented stand-in.

Exposed as:
- ``recover_table_html``: per-table pure function (numpy);
- ``ocr_result_matching``: OCR line -> cell assignment with the exact
  max-IoU >= 0.75 / y-sort / '%'-'-' merge rule (post_lgpma.py:241-288);
- ``doc_table_html_udf``: the extract() entry point, an Arrow UDF over
  a whole document's (regions.cell_bboxes, regions.cell_texts) that
  returns one html per region, so one row per document crosses to
  Python;
- ``table_html_udf``: the same kernel over one region's
  (cell_bboxes, cell_texts), for table-row queries.

Both call ``_region_html``, the one kernel entry.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from ..functions.geometry import adj_to_cell, bbox2adj, rect_max_iou_matrix
from ..functions.html import area_to_html, format_html


def _derive_cells_fast(boxes: list[list[int]]) -> list[list[int]] | None:
    """O(n log n) grid fast path. Valid when the cells form an exact
    aligned grid: equal #row-starts and #row-ends, row/col intervals
    strictly ordered and non-overlapping (so the reference's midpoint /
    4px-overlap rules can't merge them), and every row/col has a
    non-spanning witness cell (so clique ordering is the coordinate
    order). Returns None when any condition fails -> caller falls back
    to the full bbox2adj + maximal-clique path. On the aligned-grid
    domain both paths provably agree (unit-tested on random grids)."""
    if not boxes:
        return None
    y0s = sorted({b[1] for b in boxes})
    y1s = sorted({b[3] for b in boxes})
    x0s = sorted({b[0] for b in boxes})
    x1s = sorted({b[2] for b in boxes})
    if len(y0s) != len(y1s) or len(x0s) != len(x1s):
        return None
    # non-overlapping, valid intervals (rows have 4px tolerance in the
    # reference; requiring zero overlap is strictly conservative)
    for lo, hi in ((y0s, y1s), (x0s, x1s)):
        for i in range(len(lo)):
            if lo[i] >= hi[i]:
                return None
            if i + 1 < len(lo) and hi[i] > lo[i + 1]:
                return None
    ry0 = {v: i for i, v in enumerate(y0s)}
    ry1 = {v: i for i, v in enumerate(y1s)}
    cx0 = {v: i for i, v in enumerate(x0s)}
    cx1 = {v: i for i, v in enumerate(x1s)}
    cells = []
    row_witness = [False] * len(y0s)
    col_witness = [False] * len(x0s)
    for b in boxes:
        r0, c0, r1, c1 = ry0[b[1]], cx0[b[0]], ry1[b[3]], cx1[b[2]]
        if r1 < r0 or c1 < c0:
            return None
        if r0 == r1:
            row_witness[r0] = True
        if c0 == c1:
            col_witness[c0] = True
        cells.append([r0, c0, r1, c1])
    if not (all(row_witness) and all(col_witness)):
        return None
    return cells


def derive_cells(cell_bboxes: list[list[float]]) -> list[list[int]]:
    """Cell (r0, c0, r1, c1) spans from aligned bboxes alone."""
    # vectorized rounding (np.rint is round-half-even like python
    # round()) — this runs once per table region in the extract hot path
    arr = np.rint(np.asarray([list(bb) for bb in cell_bboxes], dtype=np.float64))
    rounded = arr.astype(np.int64).tolist()
    fast = _derive_cells_fast(rounded)
    if fast is not None:
        return fast
    boxes = arr
    adjr, adjc = bbox2adj(boxes)
    rowspan = adj_to_cell(adjr, boxes, "row")
    colspan = adj_to_cell(adjc, boxes, "col")
    return [
        [int(r.min()), int(c.min()), int(r.max()), int(c.max())]
        for r, c in zip(rowspan, colspan)
    ]


def recover_table_html(cell_bboxes: list[list[float]], cell_texts: list[str]) -> str:
    """Full structure recovery: bboxes + texts -> final table html."""
    if cell_bboxes is None or len(cell_bboxes) == 0:
        return ""
    cells = derive_cells(cell_bboxes)

    # occupancy grid as plain python lists (hot path: per-element numpy
    # scalar indexing measured ~2x slower for these tiny grids); gaps
    # become empty cells with unique negative ids
    n_rows = max(c[2] for c in cells) + 1
    n_cols = max(c[3] for c in cells) + 1
    area = [[0] * n_cols for _ in range(n_rows)]
    for cid, (r0, c0, r1, c1) in enumerate(cells):
        for rr in range(r0, r1 + 1):
            row = area[rr]
            for cc in range(c0, c1 + 1):
                row[cc] = cid + 1
    empty_id = -1
    for row in area:
        for c in range(n_cols):
            if row[c] == 0:
                row[c] = empty_id
                empty_id -= 1

    labels = [[0] if r0 == 0 else [1] for (r0, _c0, _r1, _c1) in cells]
    struct, toks = area_to_html(area, labels, list(cell_texts))
    return format_html(struct, toks)


def ocr_result_matching(
    cell_bboxes: list, ocr_bboxes: list, ocr_texts: list, iou_thres: float = 0.75
) -> list[str]:
    """Assign OCR lines to cells: rect_max_iou >= thres, order matched
    lines by their y0 (stable insertion), join with ' ' unless the next
    line starts with '%' or the accumulated text ends with '-'."""
    if not cell_bboxes:
        return []
    if not ocr_bboxes:
        return [""] * len(cell_bboxes)
    iou = rect_max_iou_matrix(
        np.asarray(cell_bboxes, dtype=np.float64),
        np.asarray(ocr_bboxes, dtype=np.float64),
    )
    ys = np.asarray([b[1] for b in ocr_bboxes], dtype=np.float64)
    out = []
    for i in range(len(cell_bboxes)):
        matched = np.flatnonzero(iou[i] >= iou_thres)
        # stable sort by y0 mirrors the reference's insertion loop
        matched = matched[np.argsort(ys[matched], kind="stable")]
        texts = [ocr_texts[j] for j in matched if len(ocr_texts[j])]
        if not texts:
            out.append("")
        elif len(texts) == 1:
            out.append(texts[0])
        else:
            merge = texts[0]
            for txt in texts[1:]:
                if txt[0] != "%" and merge[-1] != "-":
                    merge += " "
                merge += txt
            out.append(merge)
    return out


def _region_html(cell_bboxes, cell_texts) -> str:
    """One region's html: the kernel for a region with cells, '' for a
    region without (null/empty bboxes — every non-table region)."""
    if cell_bboxes is None or not len(cell_bboxes):
        return ""
    return recover_table_html(cell_bboxes, cell_texts if cell_texts is not None else [])


def table_html_udf():
    """Column-level LGPMA recovery: a pandas_udf (ArrowEvalPython)
    mapping one region's (cell_bboxes, cell_texts) -> html. ONLY the
    two cell columns cross the Python boundary — every pass-through
    column stays in the JVM (guide §4.1: control how many columns
    cross). Null/empty bboxes return '' without touching the kernel."""
    import pyspark.sql.functions as F

    @F.pandas_udf("string")
    def fn(bb: pd.Series, tt: pd.Series) -> pd.Series:
        return pd.Series([_region_html(b, t) for b, t in zip(bb, tt)])

    return fn


def doc_table_html_udf():
    """Document-level LGPMA recovery: an Arrow UDF (ArrowEvalPython)
    mapping a document's (regions.cell_bboxes, regions.cell_texts) ->
    one html per region, index-aligned with ``regions`` ('' for a
    region without cells, null for a null ``regions``). Python sees one
    row per document instead of one per region: the row count, not the
    payload, is what the Arrow boundary costs.

    pyarrow-native (``arrow_udf`` + ``to_pylist``), not pandas: pyarrow
    16's ``to_pandas`` segfaults on a list<list<list<double>>> batch
    whose per-region level is empty (every document with ``regions``
    null or []), which a pandas_udf converts before calling us."""
    import pyspark.sql.functions as F

    @F.arrow_udf("array<string>")
    def fn(bb: pa.Array, tt: pa.Array) -> pa.Array:
        # both arrays are fields of the same ``regions``: equal length,
        # and null together
        return pa.array(
            [
                None if doc_bb is None else [_region_html(b, t) for b, t in zip(doc_bb, doc_tt)]
                for doc_bb, doc_tt in zip(bb.to_pylist(), tt.to_pylist())
            ],
            pa.list_(pa.string()),
        )

    return fn
