"""Table loaders and sinks — the single place schema normalization lives.

Every graded code path loads fixtures through ``load_table`` so the two
verified compatibility traps (SURVEY.md §1.4 / FIXTURES.md) are handled
exactly once:

1. ``events.ts`` is Parquet TIMESTAMP(NANOS). With
   ``spark.sql.legacy.parquet.nanosAsLong=true`` (set by
   ``configure_session``) it arrives as LongType nanos; we convert to a
   proper timestamp via ``timestamp_micros(ts div 1000)`` (nanos→micros
   truncation — the oracle must truncate likewise when comparing raw ts).
2. ``orders.o_orderdate`` / ``lineitem.l_shipdate`` read natively as
   TIMESTAMP_NTZ. ANSI mode (default-on in Spark 4) rejects implicit
   string↔TIMESTAMP_NTZ comparison, so date literals in queries use the
   ``ntz_lit`` helper.

Scale posture: loaders never collect, and return plain lazy DataFrames
so Catalyst sees the whole plan (pushdown + pruning reach the parquet
scan). Reading a Parquet file's schema is a Spark job (a footer read);
``parquet_schema`` runs it once per version of a file and session type
mapping, so a table opened again costs no job until the file changes.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from noaa_etl_spark.session import configure_session

# The graded universe (FIXTURES.md): one parquet file per table per sf dir.
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The repo-relative scratch directory: stream checkpoints and staged
# sources, sink round-trips and test outputs all live under it, so every
# such path derives from this one root.
SCRATCH_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a plain TIMESTAMP whatever the file form.

    The fixture generator has shipped two physical encodings across
    rounds; the engine's contract is that downstream operators always see
    TIMESTAMP (required by ``unix_micros`` and streaming watermarks):

    - TIMESTAMP(NANOS): with ``nanosAsLong=true`` it arrives as LongType
      nanos → ``timestamp_micros(ts div 1000)``. Integer ``div``, NOT
      ``/1000`` + cast: float division routes a ~1.7e18 nanos epoch
      through a 53-bit double and corrupts the low microsecond digits.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
      TIMESTAMP_NTZ → cast to TIMESTAMP. ``configure_session`` pins
      ``spark.sql.session.timeZone=UTC``, so the cast is a wall-clock
      identity and epoch values equal what the DuckDB oracle reads.
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# The session confs that change how Parquet types map to Spark types,
# so a schema read under one setting is not the schema under another.
_PARQUET_TYPE_CONFS: tuple[str, ...] = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# parquet_schema memo: (file identity, type-mapping confs) -> schema.
_PARQUET_SCHEMAS: dict[tuple, StructType] = {}


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """``spark.read.parquet(path).schema``, read once per file version.

    A regular file's schema is memoized for the process under its
    identity (absolute path, inode, size, ``st_mtime_ns``) and the
    session's ``_PARQUET_TYPE_CONFS``: a rewrite of the file or a
    different type mapping is a new key, so it is read again. A
    directory (or any path ``os.stat`` cannot see as a file) is read
    every time, since files under it can change without changing it.
    The returned schema is shared: do not mutate it.
    """
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path).schema
    key = (
        os.path.abspath(path),
        st.st_ino,
        st.st_size,
        st.st_mtime_ns,
        *(spark.conf.get(k, None) for k in _PARQUET_TYPE_CONFS),
    )
    schema = _PARQUET_SCHEMAS.get(key)
    if schema is None:
        schema = _PARQUET_SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with engine schema normalization applied."""
    configure_session(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events":
        df = normalize_events_ts(df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL surface."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def spread_small_scan(df: DataFrame, key: str | Column | None = None) -> DataFrame:
    """Spread a narrow frame across the executor parallelism when its
    scan arrives in fewer partitions — the guide-§2.5 "one huge
    unsplittable file" fix for per-row-EXPENSIVE downstream compute
    (digest ladders, gram explodes) that would otherwise run on one
    core while the rest idle.

    Scale-adaptive, not a local[32] constant: a real-volume input scans
    as thousands of row-group splits and this is a NO-OP (the partition
    check costs one plan conversion, no job); only a
    below-parallelism scan (the single-row-group fixture file, a
    gzip'd CSV, one hot ingest file) pays the one narrow exchange.
    Hash-partition on ``key`` when given (deterministic under retry,
    no sort-before-repartition cost); round-robin otherwise. Apply
    AFTER projecting to the needed columns so only those bytes move.
    """
    spark = df.sparkSession
    p = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    if key is not None:
        return df.repartition(p, F.col(key) if isinstance(key, str) else key)
    return df.repartition(p)


def ntz_lit(value: str) -> Column:
    """A date/timestamp literal comparable to TIMESTAMP_NTZ columns.

    ANSI mode rejects ``col < "1998-01-01"`` against TIMESTAMP_NTZ; this
    makes the cast explicit.
    """
    return F.lit(value).cast("timestamp_ntz")


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Parquet sink. At scale, partition by coarse filter keys (date-ish)
    so downstream scans get static + dynamic partition pruning."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, header: bool = True, mode: str = "overwrite") -> None:
    """CSV sink (export surface of the NOAA-style pipeline)."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)
