"""SparkSession construction tuned for the GraphLite-Spark engine.

Defaults are chosen for large-scale execution (AQE on, skew-join
handling, broadcast thresholds) while remaining correct on local[N].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "graphlite-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-oriented defaults.

    - AQE enabled: runtime shuffle-partition coalescing + skew-join splitting,
      so the same plan survives 100x data growth without retuning.
    - Arrow enabled for the few pandas-UDF operators (similarity, multimodal).
    - Broadcast threshold left at default; dimension tables in the graph
      catalog are broadcast explicitly where we know cardinality.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata uses TIMESTAMP(NANOS) parquet; Spark lacks ns —
        # read as long and convert at load (datasets/tpch.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark 4.1 wraps every Column function to capture its Python
        # call site for error context: ~4 extra py4j round trips per
        # call, and the GQL compiler makes hundreds per query. Measured
        # in one process on 4 cores, alternating the flag: compile time
        # per 15-statement read/write round 1458 -> 887 ms (median), the
        # round 7.07 -> 6.33 s, a 5-operator graph batch 10.99 -> 9.57 s.
        # Errors keep their messages; only the call-site note goes.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    # deployment-specific overrides without code edits: semicolon-
    # separated k=v pairs (e.g. production shuffle codec, advisory
    # partition sizes). Applied LAST so they win over the defaults.
    env_conf = os.environ.get("SPARK_GRAFT_CONF", "")
    for pair in env_conf.split(";"):
        pair = pair.strip()
        if pair and "=" in pair:
            k, v = pair.split("=", 1)
            b = b.config(k.strip(), v.strip())
    return b.getOrCreate()
