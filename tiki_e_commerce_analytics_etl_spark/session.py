"""SparkSession factory with scale-oriented defaults.

Design notes (100 TB target):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast decisions replace any hand-tuned plan knobs.
- UTC session timezone: the reference forces microsecond-UTC timestamps
  everywhere (reference transform_tiki.py:164-174); Spark timestamps are
  natively microseconds, so pinning the zone is the whole job.
- ANSI off: the reference relies on coerce-to-null casts (pandas
  ``errors='coerce'``, reference transform_tiki.py:449-471).  Spark 4
  defaults ANSI on, which would turn those into runtime errors.  We pin
  ANSI off *and* still use ``try_cast``/``try_*`` in the expression
  library so the code is correct under either setting.
- Dynamic partition overwrite: idempotent day-partition rebuilds
  (reference load_to_bq.py:159-199 partition-decorator truncate loads)
  become a plain ``INSERT OVERWRITE`` of only the touched partitions.
- Arrow enabled for any pandas interchange (pandas_udf paths in the
  data-pipeline operators).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One shuffle partition per ~128 MB of shuffle data is the usual sizing
# rule.  local[32] testing uses 32; a real cluster should set
# SPARK_GRAFT_SHUFFLE_PARTITIONS (or rely on AQE coalescing, which makes
# the static number an upper bound rather than a tuning knob).
_DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")


def configure(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply the engine's standard configuration to a builder."""
    return (
        builder.config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", _DEFAULT_SHUFFLE_PARTITIONS)
        # Whole-stage-codegen class cache (StaticSQLConf, default 100
        # entries).  A session that runs hundreds of distinct plans —
        # the bench suite, the oracle gate, any multi-query ETL driver
        # — cycles the default LRU completely, so every re-execution
        # re-generates and re-JIT-compiles its codegen units; measured
        # here as 2-5x inflation of short multi-stage queries late in
        # a 170-query batch (funnel 5.3 s in-batch vs 2.5 s in a fresh
        # JVM) while a every-25-queries canary stays flat (its entries
        # stay hot).  Recompiling also churns JVM metaspace/code cache
        # (each recompile is a NEW class), which is the slow-creep
        # mechanism.  Scale-neutral: any long-lived driver/executor
        # benefits; entries are source+bytecode (~10-100 KB).
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "8192"),
        )
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Parquet TIMESTAMP(NANOS) columns (the driver's events table)
        # surface as long nanos; testdata_mapping.read_table converts them to µs
        # timestamps with exact integer math.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Local mode runs executors inside the driver JVM; pyspark's
        # default 1g heap is far below this machine's memory and OOMs
        # 10x-scale harness runs (checkpointed iteration state + 32
        # concurrent tasks).  Only effective before JVM launch — a
        # driver-supplied session keeps its own setting.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "16g"))
    )


def get_session(app_name: str = "tiki-analytics-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``master`` defaults to the SPARK_GRAFT_MASTER env var, then to
    whatever the environment provides (cluster deploys set it
    externally; bare local runs fall back to ``local[*]``).
    """
    builder = SparkSession.builder.appName(app_name)
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER") and not os.environ.get("MASTER"):
        builder = builder.master("local[*]")
    spark = configure(builder).getOrCreate()
    return spark
