"""SparkSession factory tuned for this engine.

The reference creates a bare session (``incremental_etl_v1.py:18``) and
relies on Spark 3.3 defaults (200 shuffle partitions). For an engine that
has to survive a 1000-executor / 100 TB deployment we pin the settings that
matter at both ends of the scale spectrum:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic
  broadcast) so the same declarative plan adapts from sf0.001 to 100 TB.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this is overridden per-deployment (or left to AQE's
  ``advisoryPartitionSizeInBytes``).
- Session timezone pinned to UTC so timestamp semantics are engine-
  independent (the DuckDB oracle is UTC-naive).
- Arrow enabled for the Pandas-UDF extension operators.
- PySpark's per-Column call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). PySpark 4.1
  wraps every ``functions.*``/``Column`` call in
  ``errors.utils._with_origin``, which per call reads two settings over
  py4j, sets and clears ``PySparkCurrentOrigin`` in the JVM, walks the
  Python stack and tries ``import IPython``. Plan building pays this on
  every expression: with it off, one night of the seeded ``cdc_nightly``
  benchmark (six entities, 4 vCPU) spent 0.25 s instead of 0.52 s in
  ``prepare_entity_frame`` and 0.65 s instead of 1.19 s in
  ``merge_cdc``; its traced operator plan-building time per night fell
  from 1.75 s to 0.70 s (seed 3). The trade: a Spark error no longer
  carries the "== DataFrame ==" section naming the Python line that
  built the failing expression. The key is a static config, so only
  the builder below can set it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "d365-spark-engine", cpus: str | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # reliable-checkpoint files (durable_stage) are deleted when
        # their RDD is GC'd — default false would accumulate a full
        # staged copy per call for the whole session (review finding)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable knobs to a session we didn't create
    (the driver hands ``entry``/``queries`` an existing SparkSession)."""
    # spark.python.sql.dataFrameDebugging.enabled is absent: it is a
    # static config, and setting it at runtime raises.
    for key, value in (
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    ):
        spark.conf.set(key, value)
    return spark
