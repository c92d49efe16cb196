"""DataFrame stage builders (the engine's operator library).

Every operator is either pure pyspark.sql expressions (JVM-side,
whole-stage-codegen'd) or an Arrow-batched pandas UDF / mapInPandas /
applyInPandas stage. No per-row Python UDFs anywhere.
"""
