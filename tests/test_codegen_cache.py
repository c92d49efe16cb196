"""A warm rerun of the analytics queries compiles no generated class.

Spark caches generated classes in an LRU keyed by their source, 100 by
default. The headline queries generate more distinct classes than that
per pass, so with the default every rerun recompiled every class.
``get_spark`` sizes the cache to the query suite; this pins it.
"""

import __spark_entry__ as E
from perfbench.inputs import write_analytics

QUERIES = [
    "map_sweep", "ngram_jaccard", "minhash_lsh", "ap_sweep",
    "region_revenue", "repetition_stats", "embedding_topk",
]


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_rerun_compiles_nothing(spark, tmp_path):
    data = str(tmp_path / "analytics")
    write_analytics(data, seed=7, scale=0.1)
    qs = E.queries()
    rounds = []
    for _ in range(2):
        before = _compiles(spark)
        for name in QUERIES:
            qs[name](spark, data).toPandas()
        rounds.append(_compiles(spark) - before)
    # round 1 must overflow the default cache of 100 for round 2 to test it
    assert rounds[0] > 100, rounds
    assert rounds[1] == 0, rounds
