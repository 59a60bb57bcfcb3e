"""SparkSession factory tuned for the observability/analytics workload.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same settings are the
ones we would ship for a multi-executor cluster (AQE on, sane shuffle
partitioning, Arrow for the few Pandas-UDF paths).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: The directory holding this package, put on the Python workers' path.
#: Workers start in the JVM's cwd with Spark's own path only, so without
#: it a by-reference UDF (or an applyInPandasWithState function) cannot
#: import the package unless the Spark driver's cwd or PYTHONPATH holds it.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "analytics-observability-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Round-1 testdata shipped events.ts as parquet TIMESTAMP(NANOS),
        # which Spark cannot read at all without this conf (it throws at
        # scan time, before any schema guard runs). Harmless for the
        # current timestamp[us] encoding; with it, BOTH historical
        # encodings load and normalize_events() adapts the dtype.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # RocksDB-backed streaming state: per-key state spills to local disk
        # instead of the executor heap, which is what keeps long-running
        # watermarked/session-window queries bounded at production scale.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        # UI serves the status REST API that perfbench's --trace reads
        # (perfbench/tracing.py); port 0 = pick any free port.
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "0")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Spark merges this with the worker's own PYTHONPATH.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # No Python call-site capture: with it on, every functions.* call
        # and Column method walks the Python stack and makes ~5 py4j round
        # trips while the plan is built. The cost of turning it off: Spark
        # error messages lose their Python file:line query context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an externally-provided session.

    The verification driver hands us its own SparkSession; only
    runtime-mutable confs may be touched here. UTC matters because oracle
    comparisons go through naive timestamps. ``spark.executorEnv.PYTHONPATH``
    (set by :func:`get_spark`) is NOT runtime-settable: an external session
    must put this package on its executors' path itself, or by-reference
    UDFs fail in the workers with ``ModuleNotFoundError``. Nor is
    ``spark.python.sql.dataFrameDebugging.enabled`` (static; ``get_spark``
    sets it false): an external session keeps its own setting, and with
    it on every ``functions.*`` call and ``Column`` method captures its
    Python call site over py4j while plans are built.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # static on some builds; only matters for TIMESTAMP(NANOS) files
    try:
        # Applies at streaming-query start, so it is runtime-settable.
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    except Exception:
        pass
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass  # static conf on some builds; harmless
    return spark
