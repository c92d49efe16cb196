"""The flagship end-to-end extraction plan.

raw_documents (doc_id, width, height, regions[]) -> documents
(doc_id, spans array<struct<kind,text,media_ref,offset>>).

Stage map (SURVEY.md §3.3; reference pipeline tools/test.py ->
single_gpu_test -> post_processing -> evaluate):

  1. corpus filter        — SQL predicates (davar_custom._filter_imgs
                            semantics: drop .gif ids, min side >= 32,
                            at least one cared region)
  2. table html           — one column-level Arrow UDF per DOCUMENT over
                            regions.cell_bboxes / regions.cell_texts
                            (LGPMA chain), returning one html per
                            region — before the explode, so Python
                            sees one row per document
  3. explode + care mask  — posexplode of the region array,
                            filter(care=1)
  4. layout classify      — kind = KINDS[argmax(kind_scores)], pure
                            JVM exprs (array_position/array_max), the
                            VSR-decode analog (vsr.py:420-437)
  5. decode               — CTC / attention decode as JVM higher-order
                            array exprs (decode_sql.py; the lambdas
                            are interpreted per element inside the
                            generated stage); table regions take
                            element pos of the stage-2 html array
  6. re-assembly          — groupBy(doc_id).collect_list(span): ONE
                            shuffle. Skew analysis: for a collect_list
                            re-assembly the final merge task must hold
                            a whole document's spans regardless, so a
                            salted two-phase agg cannot reduce
                            per-reducer volume — it only doubles
                            shuffle bytes (measured ~1.5x slower; on an
                            all-giant corpus, no measurable gain).
                            Salting pays off for REDUCIBLE aggregates
                            (sums/counts/sketches — see the map-side
                            partial aggs in dedup/metrics). Reducer
                            hot-spotting from many docs hashing to one
                            partition is handled by AQE partition
                            splitting.
  7. order + offsets      — array_sort by (y0, x0) — the xy-cut
                            reading-order serialization (lexsort
                            analog, post_lgpma.py:394) — then
                            transform to attach dense offsets

One wide operation after the scan (the groupBy); all expressions
JVM-side except the per-document table Arrow kernel.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..corpus import KINDS


def classify_kind(col_scores) -> F.Column:
    """argmax over the score array -> kind string, all JVM-side."""
    kinds = F.array(*[F.lit(k) for k in KINDS])
    idx = F.array_position(col_scores, F.array_max(col_scores)).cast("int")
    return F.element_at(kinds, idx)


def keep_documents() -> F.Column:
    """The documents extract() keeps (davar_custom._filter_imgs): not a
    .gif id, min side >= 32, and at least one cared region."""
    return (
        ~F.col("doc_id").endswith(".gif")
        & (F.least("width", "height") >= 32)
        & F.array_contains(F.col("regions")["care"], 1)
    )


def extract(raw: DataFrame) -> DataFrame:
    """Run the full extraction pipeline.

    Text/media regions decode entirely JVM-side (higher-order array
    exprs, operators/decode_sql.py) — the hot path never leaves the
    JVM, though the decode lambdas are interpreted, not generated code.
    Only the cell arrays (tables are rare and genuinely numpy: clique
    solving + html assembly) route through the Arrow batch UDF, one row
    per document.
    """
    from ..operators.decode_sql import text_decode_col
    from ..operators.table import doc_table_html_udf

    # ONE scan, ONE explode (r6; the r5 two-branch unionByName scanned
    # the corpus twice — once per branch — re-reading the shared region
    # fields and re-running the explode, because each branch's
    # nested-pruned scan is a separate subtree Catalyst cannot merge).
    #
    # the full _filter_imgs rule (keep_documents): the cared-region test
    # reads regions.care through GetArrayStructFields, no lambda, so
    # nested pruning still holds. Documents without a cared region never
    # reach the table UDF, and resume can find pending documents with a
    # scan of the keys and regions.care alone.
    kept = raw.filter(keep_documents())
    # Table html is computed BEFORE the explode, one Python row per
    # document: an Arrow UDF over the document's cell arrays
    # (GetArrayStructFields, no lambda) returns one html per region,
    # which the table branch below picks by position. Row count is what
    # the Arrow boundary costs: a when()-masked per-region UDF after the
    # explode still ships every cared region (51,575 rows for 397
    # tables per extract_resume pass, against 374 documents). No mask
    # is needed here: non-table regions already carry null cells.
    with_html = kept.select(
        "doc_id",
        "regions",
        doc_table_html_udf()(
            F.col("regions")["cell_bboxes"], F.col("regions")["cell_texts"]
        ).alias("htmls"),
    )
    base = with_html.select("doc_id", "htmls", F.posexplode("regions").alias("pos", "r"))

    decoded = (
        base.select(
            "doc_id",
            F.col("r.bbox")[1].alias("y0"),
            F.col("r.bbox")[0].alias("x0"),
            classify_kind(F.col("r.kind_scores")).alias("kind"),
            F.col("r.media_ref").alias("media_ref"),
            F.col("r.care").alias("care"),
            F.when(F.col("r.mode") == "table", F.element_at("htmls", F.col("pos") + 1))
            .otherwise(text_decode_col(F.col("r.mode"), F.col("r.pred_ids")))
            .alias("text"),
        )
        .filter(F.col("care") == 1)
        .drop("care")
    )

    keyed = decoded.select(
        "doc_id", F.struct("y0", "x0", "kind", "text", "media_ref").alias("span_k")
    )
    merged = keyed.groupBy("doc_id").agg(F.collect_list("span_k").alias("spans_unsorted"))

    # xy-cut reading order: array_sort over struct(y0, x0, ...) sorts
    # lexicographically by field order; offsets attached positionally
    from ..operators.ordering import sort_spans_expr

    return merged.select(
        "doc_id", sort_spans_expr(F.col("spans_unsorted")).alias("spans")
    )
