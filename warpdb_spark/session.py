"""SparkSession bootstrap tuned for columnar analytics.

The reference manages execution resources by hand (cudaMalloc per query,
128-thread blocks — src/jit.cpp:89-170). On Spark the equivalents are
session-level configs: AQE for runtime re-planning, Arrow for any
Python-side exchange, parquet pushdown for scan pruning. Everything here
is sized so the same code runs on ``local[$SPARK_GRAFT_CPUS]`` (all host
cores when unset) for tests and on a multi-executor cluster for 100 TB
inputs (no config below pins local mode semantics).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for scale: AQE coalesces the 200->N shuffle problem at
# runtime and splits skewed partitions; Arrow keeps every pandas/UDF
# exchange columnar; 128m split size keeps scan tasks memory-bounded.
_DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.session.timeZone": "UTC",
    # events.parquet carries TIMESTAMP(NANOS) which Spark cannot read
    # natively (PARQUET_TYPE_ILLEGAL); read them as epoch-ns longs and
    # convert at load (sources.readers.ns_to_timestamp).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # PySpark 4 wraps every DataFrame/Column API call to capture the
    # Python call site for error context (pyspark.errors.utils._with_origin):
    # ~3 py4j round trips + an inspect stack walk PER CALL, all driver-
    # side plan-construction overhead (guide §1.3). Measured across the
    # 15 headline queries: construction 1933ms -> 1030ms with it off
    # (tpch_q3 237->68ms, q5 225->60ms). Query semantics and error
    # classes are unchanged — errors just drop the per-call origin
    # line. To debug a DataFrame-API error, flip to "true" BEFORE the
    # first DataFrame/Column call of a FRESH Python process (e.g. via
    # extra_conf on the run's first get_spark()): PySpark caches
    # is_debugging_enabled() in a process-global on the first wrapped
    # call (pyspark/errors/utils.py), so flipping the conf on a live
    # session — or in a later get_spark() in the same process — has no
    # effect.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "warpdb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with the engine's defaults.

    ``master=None`` resolves to ``local[$SPARK_GRAFT_CPUS]`` when no
    cluster is configured; on a real cluster callers pass nothing and
    spark-submit's master wins.
    """
    builder = SparkSession.builder.appName(app_name)
    # Only default to local mode when no master is configured anywhere:
    # spark-submit communicates the cluster master via the spark.master
    # conf (not an env var), and overriding it here would silently run
    # a cluster job single-node on the driver.
    from pyspark import SparkConf

    submitted_master = SparkConf().get("spark.master", None) or os.environ.get("MASTER")
    if master is not None:
        builder = builder.master(master)
    elif not submitted_master:
        builder = builder.master(f"local[{default_parallelism()}]")
        # local mode: driver JVM is the executor — give it headroom.
        builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))

    conf = dict(_DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or default_parallelism())
    # GPU execution hook (north star: "Spark SQL with GPU codegen via
    # RAPIDS"). Opt-in only — set SPARK_GRAFT_GPU=1 on a cluster that
    # ships the RAPIDS Accelerator jars; the plugin then compiles the
    # same declarative plans to GPU physical ops. Default off: CPU runs
    # (and this sandbox, which has no GPU) are untouched.
    if os.environ.get("SPARK_GRAFT_GPU") == "1":
        conf.setdefault("spark.plugins", "com.nvidia.spark.SQLPlugin")
        conf.setdefault("spark.rapids.sql.enabled", "true")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
