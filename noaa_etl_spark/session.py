"""SparkSession factory and session configuration posture.

Two entry points:

- ``get_spark()``      — build a session for tests / bench / standalone use.
- ``configure_session(spark)`` — apply the engine's *runtime-settable*
  config posture to an externally-built session (the driver constructs its
  own SparkSession before calling ``entry``/``queries``; verified that
  every config the loader depends on is runtime-settable on PySpark 4.1.2).

Config rationale (SURVEY.md §1.4, §4):

- ``spark.sql.legacy.parquet.nanosAsLong=true`` — the ``events`` fixture is
  Parquet TIMESTAMP(NANOS), which Spark 4.x refuses to read natively
  ([PARQUET_TYPE_ILLEGAL]). With the flag, the column arrives as LongType
  nanos and the loader converts explicitly.
- ``spark.sql.session.timeZone=UTC`` — stabilizes timestamp rendering vs
  the DuckDB oracle.
- AQE on (default in 4.x) — runtime partition coalescing + skew-join
  splitting; this is the primary skew defense at the 100 TB design point.
- ``spark.sql.shuffle.partitions`` — sized to the environment. At fixture
  scale a small count avoids task-scheduling overhead dominating; on a real
  cluster this should be >= 2-3x total cores (or left to AQE's
  coalescing with a high initial value).
- ``spark.sql.codegen.cache.maxEntries=2000`` — Spark caches compiled
  whole-stage-codegen classes in an LRU of 100 entries by default, but
  one warm corpus-pipeline pass generates ~152 distinct classes and one
  warm streaming pass ~128, so at the default every rerun of the same
  plans compiles them all again in Janino and the JVM JIT-compiles the
  new classes again too (BASELINE.md §codegen cache). 2000 holds the
  working set of a whole session with room to spare. The conf is
  *static*: it is set in ``get_spark``'s builder, and
  ``configure_session`` cannot apply it to a session built elsewhere.
- ``spark.driver.defaultJavaOptions`` holds the driver JVM's JIT posture:
  the tier-4 (C2) compile thresholds at 10x the JDK 17 defaults
  (``DRIVER_JIT_OPTIONS``). Most of the code a session runs, runs a few
  thousand times at most: Spark start-up, planning, py4j, the Janino-
  generated classes. At the defaults C2 optimises it anyway: on the
  benchmark's corpus workload the C2 threads use 5.2 of the JVM's 20.7
  set-up CPU-s and ~2.6 CPU-s of every late warm pass. With the higher
  thresholds such methods stay in C1, while executor loops that iterate
  millions of times still reach C2 within a pass; set-up CPU falls ~30 %
  and warm-pass CPU ~20 % (BASELINE.md §JIT posture). The flags go in
  ``defaultJavaOptions`` because ``spark-submit --driver-java-options``
  (and so ``PYSPARK_SUBMIT_ARGS``) replaces ``extraJavaOptions``; the
  launcher puts both on the JVM command line, ``extraJavaOptions`` last,
  so a deployment's own options still apply and win on a repeated flag.
  Like the codegen cache the conf is *static*: only ``get_spark``
  launching the JVM applies it, so ``configure_session`` and sessions a
  driver built itself keep the JDK defaults. On a cluster it reaches
  only the driver JVM; executors keep the JDK defaults.
- ``spark.sql.streaming.checkpointFileManagerClass`` names Spark's
  ``FileSystemBasedCheckpointFileManager`` for every streaming
  checkpoint: the offset and commit logs, and the HDFS-backed state
  stores of each drain in ``streaming/core.py``. The default manager is
  FileContext-based. Its atomic rename goes through Hadoop's
  ``AbstractFileSystem.renameInternal``, which stats both paths with
  ``RawLocalFileSystem.getFileLinkStatus``; without the native Hadoop
  library that stat forks ``readlink``. So each checkpoint file and its
  ``.crc`` cost 4 child processes. On the benchmark's streaming workload
  (4 cores) a warm pass forked 1,104 ``readlink`` and 381 ``chmod``;
  with this manager it forks no ``readlink``, and the JVM's reaped-child
  CPU falls from ~3.8 to ~1.0 CPU-s a pass (BASELINE.md §Process spawns).
  The trade-off: on ``file:`` a no-overwrite ``createAtomic`` becomes
  check-then-rename, not an atomic no-overwrite rename, so of two
  writers racing on one checkpoint the second could replace the first's
  batch file instead of failing. Every engine drain has one
  writer per checkpoint and wipes that checkpoint per run. The conf is a
  runtime SQL conf, copied into the Hadoop conf when a query starts, so
  ``configure_session`` applies it to a driver's own session too.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The driver JVM's JIT posture: C2 thresholds at 10x the JDK 17 defaults
# (5000, 600, 15000, 40000), so code that runs a few thousand times stays
# in C1 (module docstring).
DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)

CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

# Runtime-settable SQL confs the engine requires. Applied both in
# get_spark() and onto foreign sessions via configure_session().
_RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # parallelismFirst stays at its default (true). We measured the
    # alternative (false + advisory sizing): it shaves ~170 ms of idle
    # task scheduling off sub-second shuffles (q_dedup_exact 483→313 ms)
    # but coalesces every fixture-scale shuffle to ~1 partition, which
    # single-threads the window sorts (q_window_rolling_1h +38%). At
    # cluster scale the advisory-size behavior is right, and a deployment
    # should set parallelismFirst=false with its own advisory size; at
    # bench scale parallelism dominates. See BASELINE.md §overhead-floor.
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas interop (tests, pandas UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Checkpoint writes rename through FileSystem, which forks no
    # readlink per file (module docstring).
    "spark.sql.streaming.checkpointFileManagerClass": CHECKPOINT_FILE_MANAGER,
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime config posture to an existing session.

    Idempotent and safe to call on every entry point; the driver's session
    is built without our configs, so every graded code path funnels
    through this.
    """
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # A static conf on some future Spark — never fail the query
            # path over a tuning knob; the loader will surface real errors.
            pass
    _register_self_contained_pickling()
    return spark


_PICKLE_REGISTERED = False


def _register_self_contained_pickling() -> None:
    """Make every engine UDF picklable BY VALUE instead of by reference.

    cloudpickle serializes functions defined in importable modules as a
    module-path reference, which requires Spark's Python *workers* to be
    able to ``import noaa_etl_spark`` — true only when the driver process
    happens to run with the repo as cwd/PYTHONPATH. The grading driver
    imports ``__spark_entry__`` from an arbitrary process, so pandas-UDF
    queries would die in the worker with ModuleNotFoundError. Registering
    the package for by-value pickling embeds the function bodies in the
    serialized task instead — no worker-side import, no file shipping,
    works identically on a real cluster.
    """
    global _PICKLE_REGISTERED
    if _PICKLE_REGISTERED:
        return
    import noaa_etl_spark
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(noaa_etl_spark)
    _PICKLE_REGISTERED = True


def get_spark(
    app_name: str = "noaa_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    ui: bool = False,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine posture.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local core count — right-sized
    for fixture-scale data; a cluster deployment should raise it (or rely
    on AQE coalescing from a deliberately high initial value).
    ``ui=True`` enables the Spark UI so the REST stage-metrics API is
    reachable (plans/audit.py shuffle-bytes profiling; off by default —
    it costs an HTTP server per session). Static conf: only effective on
    the session that creates the JVM.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "true" if ui else "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_OPTIONS)
    )
    for key, value in _RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    # getOrCreate may have returned a pre-existing session whose static
    # confs differ; runtime posture still applies.
    return configure_session(spark)
