from lab04_spark_streaming_spark.functions.guards import safe_zscore  # noqa: F401
