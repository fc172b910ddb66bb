"""SparkSession builder.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads);
the same config block is what we would ship to a 1000-executor cluster:
AQE on (runtime shuffle-partition coalescing + skew-join splitting),
broadcast threshold generous enough that every reference dimension table
(KB..MB scale) broadcast-joins, and ANSI off so casts/parses coerce to
null like the reference's ``errors='coerce'`` semantics
(etl_payroll_pipeline.py:322).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "uofi-payroll-etl-spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # ANSI off: try-free coerce-to-null parity with pandas
        # `errors='coerce'` (engine code is written try_-safe anyway so it
        # also runs under a caller-provided ANSI session).
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Scale posture: AQE re-plans at runtime (coalesces the 32-partition
        # shuffle down when maps are tiny, splits skewed reduce partitions at
        # 100 TB), and small dims broadcast instead of shuffling the fact.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # a broadcast build racing heavy stages can exceed the 300s
        # default under load; waiting longer is strictly better than
        # failing the exchange (observed in a 100x scale experiment)
        .config("spark.sql.broadcastTimeout", "600")
        .config("spark.sql.shuffle.partitions", cpus)
        # Arrow for driver-edge pandas conversions (toPandas, a frame
        # built from pandas) and for the Pandas-UDF multimodal path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # By default PySpark records the Python call site (an
        # inspect.stack walk plus py4j calls) of every Column and
        # DataFrame call, so that an analysis error can name the Python
        # line: `F.col` costs 13 py4j round trips instead of 3, and
        # building `pipe_pua` about 7k instead of 2.5k.  Off, errors still
        # carry the failing expression, just not its Python file:line.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    return builder.getOrCreate()
