"""Split columnar storage layout: a layout adapter for extract().

SCALE.md's measured conclusion: per-region filters defeat Catalyst's
nested-STRUCT pruning, so the 100 TB fix is storage layout — store the
region attributes as parallel TOP-LEVEL arrays instead of one
array<struct>. Top-level column pruning always works, so a scan reads
only the columns the plan names, regardless of filters.

- to_split_layout: array<struct> -> parallel top-level arrays (pure
  transform projections; run once at ingest).
- from_split_layout: the inverse, one arrays_zip back to the nested
  ``regions`` column, so the split layout runs through the same
  plans.extract.extract plan (one scan, one explode, one shuffle).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# (RAW_REGION field, split-layout column), index-aligned per document
_SPLIT_COLUMNS = [
    ("bbox", "bboxes"),
    ("kind_scores", "kind_scores"),
    ("pred_ids", "pred_ids"),
    ("mode", "modes"),
    ("care", "cares"),
    ("media_ref", "media_refs"),
    ("cell_bboxes", "cell_bboxes"),
    ("cell_texts", "cell_texts"),
]


def to_split_layout(raw: DataFrame) -> DataFrame:
    """(doc_id, width, height, regions array<struct>) -> parallel
    top-level arrays, index-aligned by construction."""
    return raw.select(
        "doc_id",
        "width",
        "height",
        *[F.col(f"regions.{field}").alias(col) for field, col in _SPLIT_COLUMNS],
    )


def from_split_layout(split: DataFrame) -> DataFrame:
    """Parallel top-level arrays -> (doc_id, width, height, regions):
    arrays_zip names each struct field after its aliased input."""
    return split.select(
        "doc_id",
        "width",
        "height",
        F.arrays_zip(*[F.col(col).alias(field) for field, col in _SPLIT_COLUMNS]).alias(
            "regions"
        ),
    )
