"""``get_spark``'s static posture reaches the session it builds.

Static confs apply only when ``get_spark`` launches the JVM, so a
change that moved them (to ``configure_session``, or to an option that
``spark-submit --driver-java-options`` replaces) would drop them
silently. Pinned on the suite's own session.
"""

from __future__ import annotations

from noaa_etl_spark.session import DRIVER_JIT_OPTIONS


def test_get_spark_static_posture(spark):
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    flags = DRIVER_JIT_OPTIONS.split()
    assert flags and all(f in args for f in flags), f"JIT flags {flags} missing from {args}"
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"
