"""davar_lab_ocr_spark — a PySpark-native document-content extraction engine.

Brand-new implementation of the query/data-processing capabilities of
hikopensource/DAVAR-Lab-OCR (the *semantic* reference, see SURVEY.md),
re-expressed Spark-first:

- the corpus is a table of interleaved text+media documents
  ``(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``;
- every reference pipeline stage (detect -> recognize -> table structure
  -> reading order -> serialize) is a DataFrame stage; per-document
  kernels run as pandas/Arrow batch UDFs, never per-row Python;
- corpus metrics are plain DataFrame aggregations;
- giant documents re-assemble in one collect_list shuffle (salting
  cannot shrink a whole-document merge); sinks are snapshot-committed
  and resumable.

Subpackages:
  functions/   scalar + numpy kernels (geometry, text, html)
  operators/   DataFrame stage builders (detection, recognition, table,
               layout, ordering, dedup, similarity, textstats, metrics)
  plans/       end-to-end pipelines, split storage layout, checkpoint/resume
  sources/     datalist ingestion (davar JSON datalists -> documents table)
  streaming/   structured-streaming variants (video track merge)
"""

from . import _zipimport  # noqa: F401  (stat-checked zip directories, see module)

__version__ = "0.1.0"
