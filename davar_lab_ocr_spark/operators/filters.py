"""Projection / filter helpers (pure pyspark.sql expressions).

Reference semantics: davar_custom.py:315-319 (poly->rect) and the
charset check of the text filters (davar_loading.py:763-830), which
sources/datalist.rcg_filter applies.
"""

from __future__ import annotations

import pyspark.sql.functions as F


def poly_to_rect_cols(poly_col) -> list:
    """2N-point polygon array -> (x0, y0, x1, y1) columns: min/max of
    even/odd coordinate positions, pure SQL."""
    xs = F.filter(poly_col, lambda _v, i: i % 2 == 0)
    ys = F.filter(poly_col, lambda _v, i: i % 2 == 1)
    return [
        F.array_min(xs).alias("x0"),
        F.array_min(ys).alias("y0"),
        F.array_max(xs).alias("x1"),
        F.array_max(ys).alias("y1"),
    ]


def _charset_class(charset: str) -> str:
    """Validate a user charset (a regex character-class BODY like
    'a-z0-9') and return the negated class pattern. Fails fast at plan
    time instead of a runtime PatternSyntaxException on executors."""
    import re

    pattern = f"[^{charset}]"
    try:
        re.compile(pattern)
    except re.error as exc:
        raise ValueError(f"invalid charset {charset!r}: {exc}") from exc
    return pattern
