"""spark-submit entry point for the extraction job.

Cluster usage (the 1000-executor shape):

  python tools/make_pyfiles.py
  spark-submit \\
      --master yarn --deploy-mode cluster \\
      --num-executors 1000 --executor-cores 4 --executor-memory 16g \\
      --conf spark.sql.adaptive.enabled=true \\
      --conf spark.sql.shuffle.partitions=8000 \\
      --conf spark.sql.codegen.cache.maxEntries=1000 \\
      --conf spark.python.sql.dataFrameDebugging.enabled=false \\
      --py-files davar_lab_ocr_spark.zip \\
      tools/run_extract.py --input <raw_documents path> --output <sink path>

Local smoke:

  spark-submit --master 'local[8]' --py-files davar_lab_ocr_spark.zip \\
      tools/run_extract.py --synthetic 2000 --output /tmp/docs_out

The job is idempotent and resumable: every invocation processes only
the documents extract() keeps whose doc_ids are absent from committed
snapshots, and commits a new snapshot with per-partition lineage
(plans/resume.py). An invocation with nothing pending commits a
manifest only, without building the extract plan.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="raw_documents parquet path")
    ap.add_argument("--synthetic", type=int, default=0, help="generate N synthetic docs instead")
    ap.add_argument("--output", required=True, help="snapshot sink path")
    ap.add_argument("--batch-id", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("davar-extract").getOrCreate()

    from davar_lab_ocr_spark.corpus import distributed_raw_df
    from davar_lab_ocr_spark.plans.resume import run_resumable_extract

    if args.synthetic:
        raw = distributed_raw_df(spark, args.synthetic, seed=7)
    elif args.input:
        raw = spark.read.parquet(args.input)
    else:
        sys.exit("one of --input / --synthetic is required")

    manifest = run_resumable_extract(spark, raw, args.output, batch_id=args.batch_id)
    print(json.dumps(manifest))
    spark.stop()


if __name__ == "__main__":
    main()
