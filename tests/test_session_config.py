"""Pin the session factory's performance-critical settings.

The round-6 forensics traced the sf1 run-to-run wobble (2-4x swings
rounds 4-5 chased with heap-size A/Bs) to G1 committing/uncommitting
heap pages against a host with a slow page-fault path: the fix is a
FIXED, PRETOUCHED heap (session.py). These settings are load-bearing
for every benched number, so an innocuous-looking session edit that
drops them must fail a test, not resurface as unexplained variance two
rounds later.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_fixed_pretouched_heap_and_core_confs(spark):
    conf = spark.sparkContext.getConf()
    mem = conf.get("spark.driver.memory")
    assert mem == os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    opts = conf.get("spark.driver.extraJavaOptions", "")
    # Xms must track the driver memory (a fixed heap never shrinks, so
    # the kernel leaves the steady state), and AlwaysPreTouch faults it
    # once at startup instead of inside GC pauses mid-query
    assert f"-Xms{mem}" in opts, opts
    assert "-XX:+AlwaysPreTouch" in opts, opts
    # the rest of the tuned profile the bench numbers assume
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.autoBroadcastJoinThreshold") == str(64 * 1024 * 1024)
    assert conf.get("spark.sql.session.timeZone") == "UTC"


def test_jvm_actually_launched_with_pretouched_fixed_heap(spark):
    # getConf() reflects what was SET, not what the JVM got: a session
    # created against a pre-existing gateway (pyspark shell, an earlier
    # getOrCreate with different confs, SPARK_SUBMIT_OPTS) silently
    # drops extraJavaOptions while the conf-string test above stays
    # green — exactly the unexplained-variance failure mode this file
    # exists to prevent (round-7 ADVICE). Ask the live JVM.
    jvm_args = list(
        spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        .getInputArguments()
    )
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    assert f"-Xms{mem}" in jvm_args, jvm_args
    assert f"-Xmx{mem}" in jvm_args, jvm_args
    assert "-XX:+AlwaysPreTouch" in jvm_args, jvm_args


def test_file_stream_sink_probe_is_quiet_and_session_level_unchanged(spark):
    # every glob read probes for a streaming-sink metadata directory and
    # the miss would log a full FileNotFoundException trace at WARN;
    # only that logger is raised, the session keeps WARN
    from vul_dbgen_spark.session import FILE_STREAM_SINK_LOGGER

    log_manager = spark._jvm.org.apache.logging.log4j.LogManager
    level = log_manager.getLogger(FILE_STREAM_SINK_LOGGER).getLevel().toString()
    assert level == "ERROR"
    assert log_manager.getRootLogger().getLevel().toString() == "WARN"
