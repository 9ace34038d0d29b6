"""SparkSession factory tuned for this engine.

Local test profile: one JVM, ``local[N]`` threads. The same settings scale
to a real cluster — AQE handles runtime coalescing/skew, shuffle partition
count is a starting point that AQE re-plans, and the UTC session timezone
pins timestamp semantics to the DuckDB oracle's UTC-naive timestamps.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FILE_STREAM_SINK_LOGGER = "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink"


def _pythonpath_with_repo() -> str:
    existing = os.environ.get("PYTHONPATH", "")
    return f"{_REPO_ROOT}:{existing}" if existing else _REPO_ROOT


def apply_testdata_confs(spark: SparkSession) -> None:
    """Defensive runtime confs for sessions we didn't build (the driver
    harness hands us its own). Both are read at schema-inference time, so
    setting them immediately before a read is sufficient."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def normalize_event_ts(df):
    """Return ``df`` with ``ts`` as session-tz TimestampType regardless of
    how the parquet stored it: long nanos (TIMESTAMP(NANOS) under
    ``nanosAsLong`` — round-1 testdata), TIMESTAMP_NTZ (tz-less
    timestamp[us] when NTZ inference is on), or already TimestampType.
    All conversions are JVM-side column expressions."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    t = df.schema["ts"].dataType
    if isinstance(t, LongType):
        # microsecond-aligned nanos → lossless div
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(t, TimestampNTZType):
        # wall-clock-preserving under the UTC session timezone
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def get_spark(
    app_name: str = "vul_dbgen_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` overrides parallelism (driver harness contract).
    On a real cluster the master/memory settings come from spark-submit and
    everything here except local[] still applies.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        # local mode: ~cores, not the 200 default (right for 100TB clusters,
        # wrong for one box). AQE coalesces further at runtime.
        shuffle_partitions = max(cpus, 8)
    _driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Spark 4's DataFrame error-context capture decorates EVERY
        # PySpark DataFrame/Column call with getActiveSession + a
        # conf.get RPC + a JVM origin set/clear — 3-4 extra py4j round
        # trips per call, all driver-side and GIL-held. Measured on the
        # composed pipeline's plan construction (the heaviest build in
        # the repo, ~22 sources): 11-18.6 s with the default vs
        # 6.4-7.8 s disabled (interleaved fresh-JVM reps). The only
        # loss is call-site enrichment in error messages; results and
        # plans are unchanged. Scale-independent: this is per-API-call
        # driver overhead, the same on a laptop or a 100-node cluster.
        # SPARK_GRAFT_DF_DEBUG=1 restores the default for a debugging
        # session (round-8 ADVICE). Note pyspark caches the flag
        # process-wide on FIRST read (pyspark/errors/utils.py,
        # is_debugging_enabled), so the choice is per-process: set the
        # env var before the first get_spark call, not between sessions.
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            "true" if os.environ.get("SPARK_GRAFT_DF_DEBUG") == "1" else "false",
        )
        # 8g FIXED (Xms=Xmx) + AlwaysPreTouch — round-6 root-cause of the
        # sf1 wobble that rounds 4-5 chased with heap-size A/Bs (64g →
        # 24g): the G1 heap was COMMITTING/UNCOMMITTING pages against a
        # host whose page-fault/zeroing path is pathologically slow
        # (~0.1-1 GB/s; measured 32% KERNEL time and a 14 s max GC pause
        # mid-census at 24g dynamic). Faulting the heap once at startup
        # and never shrinking it removes the kernel from the steady
        # state entirely. Measured, triangle census @sf1, warm draws:
        #   24g dynamic:           92-162 s, GC total 31 s, max 14 s
        #   24g Xms only:          51-104 s, GC total 71 s, max 32 s
        #   24g Xms + pretouch:    35 s,     GC total  3 s, max 1.2 s
        #    8g Xms + pretouch:    18-22 s,  GC total  2 s, max 0.2 s
        # Round-7 A/B (khop@sf1, clean canaries, directed by VERDICT r6
        # #4 after a 8.5->10.3 s driver reading): 8g pretouch 7.8-9.6 s
        # vs 24g pretouch 25.7-47.2 s — the heap change did not cost
        # khop (draws land 0.92-1.04x of the r5 number); the r6 spread
        # was tenancy, and large heaps remain the pathology, not the fix.
        # 8g also wins startup: pretouch zeroing is ~9 s at 8g but 30-
        # 125 s at 12-24g on this host (a fault-bandwidth cliff), and the
        # smaller region set keeps collections short. Peak observed heap
        # use across every sf1 row is ~2-4g (broadcast relations +
        # shuffle buffers; caches are MEMORY_AND_DISK so they spill, and
        # all heavy sf1 rows were re-validated OOM-free at 8g). If
        # SPARK_GRAFT_DRIVER_MEM overrides this, Xms/pretouch follow it.
        .config("spark.driver.memory", _driver_mem)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{_driver_mem} -XX:+AlwaysPreTouch",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # events.parquet uses TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long and convert (lossless: the data is
        # microsecond-aligned). Keeps the scan distributed.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # testdata timestamps are tz-less timestamp[us]; read them as
        # session-tz TimestampType (legacy behavior) so literal compares,
        # window functions, and the DuckDB oracle (UTC-naive) all agree
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Python workers must import this package for the Arrow UDFs
        # (version comparator, range parsers) regardless of the driver's
        # cwd; on a real cluster the equivalent is --py-files
        .config("spark.executorEnv.PYTHONPATH", _pythonpath_with_repo())
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # every glob read probes for a streaming-sink metadata directory and
    # logs the miss at WARN with a full FileNotFoundException trace;
    # only that one logger is raised to ERROR
    jvm = spark._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        FILE_STREAM_SINK_LOGGER, jvm.org.apache.logging.log4j.Level.ERROR
    )
    return spark
