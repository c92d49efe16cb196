"""SparkSession factory with scale-oriented defaults.

Tested on local[N]; the configs are the ones that matter on a real
multi-executor cluster: AQE (runtime coalesce + skew-join splitting),
Arrow batching for pandas UDFs, nested-schema pruning so span structs
are column-pruned at the parquet scan, and a generated-code cache large
enough for the whole query suite: Spark's default LRU of 100 classes is
smaller than one pass over the headline queries, so every rerun would
recompile (Janino, then the JIT) every class. That cache size is a
static conf, read only when the session starts.

DataFrame debugging is off: with it on, every PySpark Column function
call captures its Python call site and sends it to the JVM (about half
of the py4j round trips of building extract()). An error raised by a
DataFrame-API expression then names the expression and the SQL text,
but not the Python file:line that built it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch sizing (guide §4.2): larger record batches amortize the
# per-batch Python/Arrow overhead for narrow rows (r6 A/B on the
# extract hot path: 40k-row batches ~12% faster end-to-end than 10k),
# while the BYTES cap — enforced by Spark 4 on both mapInArrow and
# ArrowEvalPython batching, verified empirically — bounds peak memory
# for fat rows (images, ragged polygon/logit arrays) exactly where the
# old 10k row cap was aimed. Fat-row batches were already bytes-bound,
# so only narrow-row stages change behavior.
_ARROW_BATCH = "40000"
_ARROW_BATCH_BYTES = str(64 * 1024 * 1024)

# Generated classes a session keeps compiled (default 100, LRU): at sf0.01 the
# 20 headline queries make about 340 distinct classes, all 60 reachable 687.
_CODEGEN_CACHE_ENTRIES = "1000"


def get_spark(
    app_name: str = "davar-lab-ocr-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    parallelism: local core count; defaults to $SPARK_GRAFT_CPUS or 32.
    shuffle_partitions: defaults to parallelism (right-sized for local;
    on a cluster you would set ~2-3x total cores or rely on AQE coalesce).
    """
    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # shuffle/spill to ramdisk when available: the sandbox's root
        # disk serializes concurrent writers (measured 40x shuffle-write
        # inflation at 32 tasks); on a real cluster this is the
        # fast-local-SSD executor config
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_LOCAL_DIRS",
                "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
            ),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", _ARROW_BATCH)
        .config("spark.sql.execution.arrow.maxBytesPerBatch", _ARROW_BATCH_BYTES)
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", _CODEGEN_CACHE_ENTRIES)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
