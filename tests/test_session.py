"""``get_spark``'s posture reaches the sessions the engine runs on.

Static confs apply only when ``get_spark`` launches the JVM, so a
change that moved them (to ``configure_session``, or to an option that
``spark-submit --driver-java-options`` replaces) would drop them
silently. Runtime confs must also reach a session built elsewhere once
``configure_session`` ran on it. Pinned on the suite's own session.
"""

from __future__ import annotations

import os

from noaa_etl_spark.io import SCRATCH_ROOT
from noaa_etl_spark.session import (
    CHECKPOINT_FILE_MANAGER,
    DRIVER_JIT_OPTIONS,
    configure_session,
)


def test_get_spark_static_posture(spark):
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    flags = DRIVER_JIT_OPTIONS.split()
    assert flags and all(f in args for f in flags), f"JIT flags {flags} missing from {args}"
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"


def _checkpoint_manager(session) -> str:
    """The class Spark picks for a checkpoint under this session's conf,
    built the way a starting query builds it."""
    jvm = session.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(os.path.join(SCRATCH_ROOT, "checkpoint_manager_probe"))
    conf = session._jsparkSession.sessionState().newHadoopConf()
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    return manager.create(path, conf).getClass().getName()


def test_checkpoint_manager_posture(spark):
    """Checkpoint writes go through the FileSystem-based manager, whose
    rename forks no ``readlink`` per file: on the suite's session, and
    on a session without the conf once ``configure_session`` ran."""
    assert _checkpoint_manager(spark) == CHECKPOINT_FILE_MANAGER

    foreign = spark.newSession()
    foreign.conf.unset("spark.sql.streaming.checkpointFileManagerClass")
    assert _checkpoint_manager(foreign).endswith(".FileContextBasedCheckpointFileManager")
    configure_session(foreign)
    assert _checkpoint_manager(foreign) == CHECKPOINT_FILE_MANAGER
