"""SparkSession helpers.

The engine's temporal semantics assume a fixed UTC session timezone (the
reference's ``timestamp_tz`` → Spark ``TimestampType`` mapping, SURVEY.md
§1.2): always route session creation/preparation through here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dbt_scd2_utils_spark",
    cpus: int | None = None,
    ui: bool = False,
) -> SparkSession:
    """``ui=True`` enables the Spark UI so diagnostic scripts can read
    per-task metrics (peak execution memory, shuffle read bytes) from the
    REST API — off by default: the benches and tests don't want the
    listener/HTTP overhead.

    DataFrame debugging (``spark.python.sql.dataFrameDebugging.enabled``)
    is off for the same reason: with it on, PySpark wraps every Column and
    DataFrame call in a call-site capture (an active-session lookup, a conf
    read, JVM calls and a Python stack walk), a cost paid on each of the
    hundreds of Column calls one merge plan makes.  The trade-off: Spark
    errors raised by DataFrame operations lose the Python call-site
    fragment of their query context.  Python tracebacks are unchanged.

    Parquet timestamps are written as ``TIMESTAMP_MICROS``
    (``spark.sql.parquet.outputTimestampType``; Spark's default is INT96,
    Delta and Iceberg write INT64 micros too): INT64 columns carry
    min/max footer statistics, from which a bucketed ``ScdTable`` records
    per-bucket maxima and answers ``high_water_mark`` without a job.
    Parquet has no per-write option for this, so it is a session default.
    The trade-off: on a session this function did not create (``prepare``
    leaves the setting alone), files stay INT96 and ``high_water_mark``
    scans the column, as it always did."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # canChangeCachedPlanOutputPartitioning stays at its default
        # (false): flipping it globally lets AQE coalesce tiny cached
        # subtrees (10-20% off the sequence replay's 60-row states) but
        # was A/B-measured to cost 15-25% on queries whose downstream
        # joins REUSE a cache's partitioning (decontaminate_semantic,
        # scd2_bucketed_temporal_join).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "true" if ui else "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .getOrCreate()
    )
    return spark


def prepare(spark: SparkSession) -> SparkSession:
    """Make an externally-provided session safe for the engine: UTC session
    timezone (instant-comparison parity with the reference's timestamp_tz),
    AQE on, and a local-scale shuffle partition count (the external default
    of 200 just adds scheduling overhead at test scale — on a real cluster
    the caller sizes this to data volume)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        if int(spark.conf.get("spark.sql.shuffle.partitions", "200")) > 64:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:
        pass
    return spark
