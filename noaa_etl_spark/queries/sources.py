"""Source/sink graded queries (SURVEY.md §2.A): CSV (gzip-compressed),
JSON-lines, fixed-width (GHCN-style), partitioned parquet sink +
multi-file scan. Each query round-trips fixture data through the format
under test into the scratch root (``io.SCRATCH_ROOT``) and aggregates
the re-read result; the oracle runs the same aggregate over the original
parquet view, so a hash match proves the sink+scan pair is lossless.

Float discipline for roundtrips: only order-independent aggregates
(count / min / max / sums of integer-valued or floor()ed doubles) —
re-read row order differs from the original file order, so naive double
sums would accumulate differently and break the driver's value hash.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from noaa_etl_spark.io import SCRATCH_ROOT, load_table, ntz_lit
from noaa_etl_spark.registry import graded
from noaa_etl_spark.sources import read_csv, read_fixed_width, read_jsonl
from noaa_etl_spark.sources.fixed_width import GHCND_STATIONS_SPEC


def _tmp(name: str, sf_dir: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(SCRATCH_ROOT, "sources", f"{name}_{tag}")


@graded(
    "q_csv_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           count(*)                                    AS n_orders,
           min(o_totalprice)                           AS min_price,
           max(o_totalprice)                           AS max_price,
           CAST(sum(floor(o_totalprice)) AS BIGINT)    AS floor_total
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """csv_sink + csv_scan + compressed_scan: write orders as gzip CSV,
    re-read with a declared schema, aggregate. Doubles survive the text
    roundtrip exactly (Java Double.toString is parse-exact)."""
    path = _tmp("csv_orders", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    (
        orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite")
        .option("header", "true")
        .option("compression", "gzip")
        .csv(path)
    )
    back = read_csv(
        spark,
        path,
        "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE",
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.sum(F.floor("o_totalprice").cast("bigint")).alias("floor_total"),
        )
        .orderBy("o_orderstatus")
    )


@graded(
    "q_jsonl_roundtrip",
    oracle="""
    SELECT event_type,
           count(*)                              AS n_events,
           CAST(sum(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k,
           min(value)                            AS min_value,
           max(value)                            AS max_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jsonl sink + scan: write events (with the JSON prop pre-extracted)
    as JSON-lines, re-read with a declared schema, aggregate."""
    path = _tmp("jsonl_events", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    (
        ev.select(
            "event_id",
            "event_type",
            "value",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .write.mode("overwrite")
        .json(path)
    )
    back = read_jsonl(
        spark, path, "event_id BIGINT, event_type STRING, value DOUBLE, k INT"
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("event_type")
    )


@graded(
    "q_fixed_width_scan",
    oracle="""
    SELECT 'NAT' || lpad(CAST(n_nationkey AS VARCHAR), 8, '0') AS station_id,
           CAST(n_nationkey / 2.0 - 5.25 AS DOUBLE)            AS latitude,
           CAST(n_nationkey * 3.0 - 36.0 AS DOUBLE)            AS longitude,
           CAST(n_nationkey * 10.0 + 0.5 AS DOUBLE)            AS elevation,
           n_name                                              AS name,
           CAST(10000 + n_nationkey AS BIGINT)                 AS wmo_id
    FROM nation
    ORDER BY station_id
    """,
)
def q_fixed_width_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fixed_width_scan: render nation rows into the public GHCN
    ghcnd-stations.txt fixed-width layout, write as text, parse back with
    the spec (substring + trim + try_cast). Latitude/longitude values are
    chosen on 0.25 steps so the %8.4f text roundtrip is bit-exact."""
    path = _tmp("fixed_width_stations", sf_dir)
    nat = load_table(spark, sf_dir, "nation")
    line = F.format_string(
        "%s %8.4f %9.4f %6.1f %2s %-30s %3s %3s %5d",
        F.concat(F.lit("NAT"), F.lpad(F.col("n_nationkey").cast("string"), 8, "0")),
        F.col("n_nationkey") / 2.0 - 5.25,
        F.col("n_nationkey") * 3.0 - 36.0,
        F.col("n_nationkey") * 10.0 + 0.5,
        F.lit("XX"),
        F.col("n_name"),
        F.lit(""),
        F.lit(""),
        F.lit(10000) + F.col("n_nationkey"),
    )
    nat.select(line.alias("value")).coalesce(1).write.mode("overwrite").text(path)
    back = read_fixed_width(spark, path, GHCND_STATIONS_SPEC)
    return (
        back.select(
            "station_id",
            "latitude",
            "longitude",
            "elevation",
            "name",
            F.col("wmo_id").cast("bigint").alias("wmo_id"),
        )
        .orderBy("station_id")
    )


@graded(
    "q_custom_datasource",
    oracle="""
    WITH g AS (
      SELECT e.element,
             md5(CAST(s.s AS VARCHAR) || ':' || CAST(d.d AS VARCHAR)
                 || ':' || e.element) AS h
      FROM (SELECT unnest(range(0, 8)) AS s) s,
           (SELECT unnest(range(1, 32)) AS d) d,
           (SELECT unnest(['TMAX', 'TMIN', 'PRCP']) AS element) e
    ),
    v AS (
      SELECT element,
             (CAST('0x' || substr(h, 1, 2) AS INT)
              + 256 * CAST('0x' || substr(h, 3, 2) AS INT)) % 1000
               AS value_scaled
      FROM g
    )
    SELECT element,
           CAST(count(*) AS BIGINT) AS n_obs,
           CAST(sum(value_scaled) AS BIGINT) AS sum_scaled,
           CAST(min(value_scaled) AS INT) AS min_scaled,
           CAST(max(value_scaled) AS INT) AS max_scaled
    FROM v GROUP BY element ORDER BY element
    """,
)
def q_custom_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 extension point): partitioned
    synthetic observation generator, aggregated per element. The source
    is deterministic (md5-derived values) and partition-parallel (one
    input partition per station); determinism + partitioning are
    asserted in tests/test_datasource.py.

    CONVERTED rows-only → oracle-paired (round 13): the generator's
    value formula — little-endian 2-byte int of md5('s:day:element')
    mod 1000 — is pure md5 + integer arithmetic, so DuckDB replays the
    ENTIRE source output in closed form (the first two digest bytes are
    hex chars 1-2 and 3-4: b0 + 256·b1). The driver grade now verifies
    the DataSource plumbing end-to-end (partitions → worker read →
    agg), not just that it runs."""
    from noaa_etl_spark.session import configure_session
    from noaa_etl_spark.sources.synthetic import SyntheticObsDataSource

    # Must precede register(): registration pickles the class, and only
    # configure_session's by-value registration makes that pickle
    # self-contained for workers that can't import noaa_etl_spark.
    configure_session(spark)
    spark.dataSource.register(SyntheticObsDataSource)
    obs = (
        spark.read.format("synthetic_obs")
        .option("n_stations", 8)
        .option("n_days", 31)
        .load()
    )
    return (
        obs.groupBy("element")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum(F.col("value_scaled").cast("bigint")).alias("sum_scaled"),
            F.min("value_scaled").alias("min_scaled"),
            F.max("value_scaled").alias("max_scaled"),
        )
        .orderBy("element")
    )


@graded(
    "q_orc_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           count(*)                              AS n_customers,
           min(c_acctbal)                        AS min_balance,
           max(c_acctbal)                        AS max_balance
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan (the second columnar format the engine speaks
    natively): write customer as ORC, re-read, aggregate."""
    path = _tmp("orc_customer", sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    (
        cust.select("c_custkey", "c_mktsegment", "c_acctbal")
        .write.mode("overwrite")
        .orc(path)
    )
    back = spark.read.orc(path)
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("c_acctbal").alias("min_balance"),
            F.max("c_acctbal").alias("max_balance"),
        )
        .orderBy("c_mktsegment")
    )


@graded(
    "q_parquet_sink_partitioned",
    oracle="""
    SELECT l_linestatus,
           count(*)                                   AS n_items,
           sum(l_quantity)                            AS sum_qty,
           CAST(sum(floor(l_extendedprice)) AS BIGINT) AS floor_revenue
    FROM lineitem
    WHERE l_returnflag = 'R'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def q_parquet_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet_sink (partitionBy) + multi_file_scan + partition pruning:
    write lineitem partitioned by l_returnflag, re-read the whole dir,
    filter one partition (pruned: only the R directory is scanned), agg.
    sum(l_quantity) is exact because fixture quantities are integral."""
    path = _tmp("parquet_lineitem_part", sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    (
        li.select("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("l_returnflag") == "R")
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(F.floor("l_extendedprice").cast("bigint")).alias("floor_revenue"),
        )
        .orderBy("l_linestatus")
    )


@graded(
    "q_manifest_sink_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           count(*)                                     AS n_customers,
           CAST(sum(floor(c_acctbal)) AS BIGINT)        AS floor_balance,
           min(c_nationkey)                             AS min_nation,
           max(c_nationkey)                             AS max_nation
    FROM customer
    WHERE c_acctbal > 0
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_manifest_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITER (Spark 4 extension point, sink
    half): write customer through the manifest-committed sink —
    executor-parallel part files, atomic driver-side manifest commit —
    then read back ONLY committed data and aggregate. The oracle runs
    the same aggregate on the original table: equality proves the
    write→commit→read loop is lossless. Exactly-once replay and orphan
    invisibility are asserted in tests/test_datasource.py."""
    import shutil

    from noaa_etl_spark.session import configure_session
    from noaa_etl_spark.sources.manifest_sink import (
        ManifestSinkDataSource,
        read_manifest_sink,
    )

    # Before register(): by-value pickling must be active when the sink
    # class is serialized (see q_custom_datasource).
    configure_session(spark)
    spark.dataSource.register(ManifestSinkDataSource)
    path = _tmp("manifest_customer", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal"
    )
    cust.write.format("manifest_sink").option("path", path).mode("overwrite").save()
    back = read_manifest_sink(spark, path, cust.schema)
    return (
        back.filter(F.col("c_acctbal") > 0)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.floor("c_acctbal").cast("bigint")).alias("floor_balance"),
            F.min("c_nationkey").alias("min_nation"),
            F.max("c_nationkey").alias("max_nation"),
        )
        .orderBy("c_mktsegment")
    )


@graded(
    "q_schema_evolution",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(CASE WHEN year(o_orderdate) = 1997
                           THEN o_orderpriority END) AS BIGINT)
             AS n_with_priority,
           CAST(sum(CASE WHEN year(o_orderdate) = 1996
                         THEN CAST(floor(o_totalprice) AS BIGINT) END)
                AS BIGINT) AS old_floor_total,
           CAST(sum(CASE WHEN year(o_orderdate) = 1997
                         THEN CAST(floor(o_totalprice) AS BIGINT) END)
                AS BIGINT) AS new_floor_total
    FROM orders
    WHERE year(o_orderdate) IN (1996, 1997)
    """,
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan: a dataset written in two batches whose
    schemas drifted (batch 2 gained o_orderpriority), read back as ONE
    table via mergeSchema — rows from the pre-evolution batch surface
    the new column as NULL. This is the append-only data-lake reality
    every long-lived corpus hits; the aggregate proves the merged read
    sees every row and NULL-fills exactly the old batch.

    100 TB: mergeSchema reconciles footers at planning time (cost ∝
    #files, not bytes); recursiveFileLookup keeps batch layout free.
    Production datasets checkpoint the merged schema in a catalog so
    the reconcile is one-time — the read path here is the fallback that
    makes un-cataloged batches still queryable."""
    path = _tmp("evo_orders", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.year("o_orderdate") == 1996).select(
        "o_orderkey", "o_totalprice"
    )
    new = orders.filter(F.year("o_orderdate") == 1997).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    old.write.mode("overwrite").parquet(os.path.join(path, "batch1"))
    new.write.mode("overwrite").parquet(os.path.join(path, "batch2"))
    back = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    has_priority = F.col("o_orderpriority").isNotNull()
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(has_priority, 1)).alias("n_with_priority"),
        F.sum(F.when(~has_priority, F.floor("o_totalprice").cast("bigint")))
        .cast("bigint")
        .alias("old_floor_total"),
        F.sum(F.when(has_priority, F.floor("o_totalprice").cast("bigint")))
        .cast("bigint")
        .alias("new_floor_total"),
    )


@graded(
    "q_zstd_roundtrip",
    oracle="""
    SELECT leg, o_orderstatus,
           count(*)                                 AS n_orders,
           min(o_totalprice)                        AS min_price,
           max(o_totalprice)                        AS max_price,
           CAST(sum(floor(o_totalprice)) AS BIGINT) AS floor_total
    FROM (
        SELECT 'csv_zst' AS leg, o_orderstatus, o_totalprice FROM orders
        UNION ALL
        SELECT 'parquet_zstd', o_orderstatus, o_totalprice FROM orders
    )
    GROUP BY leg, o_orderstatus
    ORDER BY leg, o_orderstatus
    """,
)
def q_zstd_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compressed_scan, zstd legs (SURVEY §2.A '.gz/.zst'): round-trip
    orders through BOTH zstd paths the engine speaks and prove each
    lossless against the oracle's plain view.

    - ``parquet_zstd``: Spark-native (``compression=zstd`` on parquet —
      zstd-jni is bundled for columnar formats).
    - ``csv_zst``: the engine's Python DataSource pair (executor-side
      pyarrow codec; sources/zstd_text.py) — this container's JVM lacks
      the Hadoop native zstd TEXT codec, so the DataSource supplies it
      without giving up distributed reads/writes.

    One identical aggregate per leg; a hash match proves both sink+scan
    pairs byte-faithful.
    """
    from noaa_etl_spark.sources.zstd_text import read_csv_zst, write_csv_zst

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )

    pq_path = _tmp("zstd_orders_pq", sf_dir)
    orders.write.mode("overwrite").option("compression", "zstd").parquet(pq_path)
    pq_back = spark.read.parquet(pq_path).withColumn("leg", F.lit("parquet_zstd"))

    csv_path = _tmp("zstd_orders_csv", sf_dir)
    write_csv_zst(orders, csv_path)
    csv_back = read_csv_zst(
        spark, csv_path, "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE"
    ).withColumn("leg", F.lit("csv_zst"))

    return (
        csv_back.unionByName(pq_back)
        .groupBy("leg", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.sum(F.floor("o_totalprice").cast("bigint")).alias("floor_total"),
        )
        .orderBy("leg", "o_orderstatus")
    )


@graded(
    "q_stats_skipping",
    oracle="""
    SELECT l_returnflag,
           count(*)                                    AS n_items,
           sum(l_quantity)                             AS sum_qty,
           CAST(sum(floor(l_extendedprice)) AS BIGINT) AS floor_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1996-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_stats_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level stats-index data skipping (operators/skipping.py):
    write lineitem range-layed-out on l_shipdate, build the footer-only
    min/max manifest, prune the file list to the 1995 span driver-side,
    scan only surviving files, then apply the row filter and aggregate.

    The graded property is SOUNDNESS: if pruning ever drops a file that
    contains matching rows, the aggregate diverges from the full-table
    oracle. tests/test_plans.py asserts the skipping actually bites
    (pruned scan reads strictly fewer files than the layout wrote).

    100 TB: the manifest build touches footers only (no data pages) and
    the pruned read never schedules tasks for skipped files — Delta/
    Iceberg manifest pruning on plain parquet, composing with the
    range/Z-order layouts that make per-file spans disjoint.
    """
    from noaa_etl_spark.operators.skipping import build_stats_index, read_pruned

    path = _tmp("stats_skip_lineitem", sf_dir)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    li.repartitionByRange(8, "l_shipdate").write.mode("overwrite").parquet(path)

    index = build_stats_index(spark, path, ["l_shipdate"])
    lo, hi = "1995-01-01", "1996-01-01"
    pruned = read_pruned(spark, path, index, {"l_shipdate": (lo, hi)})
    return (
        pruned.filter(
            (F.col("l_shipdate") >= ntz_lit(lo)) & (F.col("l_shipdate") < ntz_lit(hi))
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(F.floor("l_extendedprice").cast("bigint")).alias("floor_revenue"),
        )
        .orderBy("l_returnflag")
    )


@graded(
    "q_partition_overwrite",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN o_orderstatus = 'F'
                         THEN floor(o_totalprice * 1.1)
                         ELSE floor(o_totalprice) END) AS BIGINT)
               AS floor_total
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the idempotent-backfill write
    semantic: rewrite ONLY the partitions present in the incoming
    batch, leave every other partition's files untouched. Orders are
    laid out by status, then the 'F' partition alone is re-priced
    (+10%, exact floor-cents) and overwritten in dynamic mode; the
    read-back aggregate proves O and P survived while F changed —
    static overwrite mode would have deleted them (the classic
    backfill data-loss bug). File-level untouchedness is asserted in
    tests/test_partition_overwrite.py.

    100 TB: a day's backfill rewrites one day's files; combined with
    the manifest-commit sink or Delta-style logs this is the
    partition-at-a-time reprocessing loop every lake ETL runs nightly.
    """
    path = _tmp("dyn_overwrite_orders", sf_dir)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)

    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        repriced = orders.filter(F.col("o_orderstatus") == "F").withColumn(
            "o_totalprice", F.col("o_totalprice") * 1.1
        )
        repriced.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)

    back = spark.read.parquet(path)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor("o_totalprice").cast("bigint")).alias("floor_total"),
        )
        .orderBy("o_orderstatus")
    )


@graded(
    "q_xml_roundtrip",
    oracle="""
    SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
           CAST(count(*) AS BIGINT) AS n_nations,
           min(n_name)              AS first_name,
           max(n_name)              AS last_name
    FROM nation
    GROUP BY n_regionkey
    ORDER BY n_regionkey
    """,
)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + scan (native in Spark 4 — the spark-xml module moved
    into core): write nation as row-tagged XML, re-read with the same
    rowTag, aggregate. Attribute/element escaping and schema inference
    are the engine's; keys are cast back to exact integer types so the
    graded contract is inference-independent."""
    path = _tmp("xml_nation", sf_dir)
    nation = load_table(spark, sf_dir, "nation")
    (
        nation.select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .format("xml")
        .save(path)
    )
    back = spark.read.option("rowTag", "nation").format("xml").load(path)
    return (
        back.select(
            F.col("n_regionkey").cast("bigint").alias("n_regionkey"),
            F.col("n_name").cast("string").alias("n_name"),
        )
        .groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nations"),
            F.min("n_name").alias("first_name"),
            F.max("n_name").alias("last_name"),
        )
        .orderBy("n_regionkey")
    )


@graded(
    "q_csv_malformed_recovery",
    oracle="""
    WITH tagged AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             CASE WHEN o_orderkey % 13 = 0 THEN 'short'
                  WHEN o_orderkey % 11 = 0 THEN 'badnum'
                  ELSE 'clean' END AS kind
      FROM orders
    )
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents_total
    FROM tagged WHERE kind = 'clean'
    GROUP BY o_orderstatus
    UNION ALL
    SELECT '(corrupt)' AS status,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(NULL AS BIGINT)     AS cents_total
    FROM tagged WHERE kind <> 'clean'
    """,
)
def q_csv_malformed_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record tolerance for text sources: ingest a CSV feed
    with deterministic corruption (orderkey % 13 → truncated line,
    % 11 → non-numeric amount) in PERMISSIVE mode with a
    columnNameOfCorruptRecord column — the production posture for
    third-party feeds (FAILFAST aborts the job on one bad row;
    DROPMALFORMED silently loses data; PERMISSIVE quarantines). Clean
    rows aggregate per status; corrupt rows land in ONE quarantine
    bucket whose raw lines remain available for replay (counted here).

    PERMISSIVE semantics (probed, with a trap): unparsable tokens set
    the corrupt column, and parseable fields of a corrupt row are
    still populated. BUT token-count mismatches (short/long rows) are
    only detected when the parser materializes every schema column —
    under CSV COLUMN PRUNING (spark.sql.csv.parser.columnPruning,
    default on) a query that reads a subset of columns never counts
    tokens, so short rows silently null-fill WITHOUT the marker (a
    full-column show() marks them; this pruned aggregate does not).
    Production recovery therefore quarantines on marker OR
    required-field nullness — the belt-and-suspenders rule used here.

    Scale: the write is one narrow projection; the read is a plain
    schema'd csv scan (splittable, no inference pass since the schema
    is declared); the report is one combinable agg. The oracle replays
    the corruption RULE relationally — no file I/O on the DuckDB side.
    """
    path = _tmp("csv_malformed", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    line = F.when(
        F.col("o_orderkey") % 13 == 0,
        F.concat_ws(",", F.col("o_orderkey"), F.col("o_orderstatus")),
    ).when(
        F.col("o_orderkey") % 11 == 0,
        F.concat_ws(
            ",", F.col("o_orderkey"), F.col("o_orderstatus"), F.lit("N/A")
        ),
    ).otherwise(
        F.concat_ws(
            ",",
            F.col("o_orderkey"),
            F.col("o_orderstatus"),
            F.col("o_totalprice"),
        )
    )
    orders.select(line.alias("value")).write.mode("overwrite").text(path)
    back = (
        spark.read.schema(
            "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, _corrupt STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    bad = F.col("_corrupt").isNotNull() | F.col("o_totalprice").isNull()
    status = F.when(bad, F.lit("(corrupt)")).otherwise(F.col("o_orderstatus"))
    cents = F.when(~bad, F.floor(F.col("o_totalprice") * 100).cast("bigint"))
    return back.groupBy(status.alias("status")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(cents).cast("bigint").alias("cents_total"),
    )


@graded(
    "q_retention_vacuum",
    oracle="""
    WITH e AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d, value
      FROM events
    ),
    cutoff AS (SELECT max(d) - 13 AS keep_from FROM e)
    SELECT d,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM e, cutoff
    WHERE d >= keep_from
    GROUP BY d
    """,
)
def q_retention_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL retention vacuum — the partition-level data-lifecycle
    maintenance every lake table runs (GDPR/retention policies,
    storage cost): events land partitioned by day, then partitions
    older than the 14-day window are DELETED at the directory level —
    no rewrite, no scan of surviving data (the complement of
    q_partition_overwrite's rewrite path and q_gdpr_erasure's row-level
    cascade). The decision is driver-side over the PARTITION LISTING
    (bounded by |days|, never the data — the stats-skipping manifest
    contract); survivors' files are byte-untouched (asserted in
    tests/test_partition_overwrite.py). The graded read-back proves
    expired partitions are gone and survivors intact; the oracle
    replays the cutoff as a filter.

    100 TB: vacuum cost is O(|expired partitions|) filesystem deletes —
    data size never appears."""
    import datetime as _dt
    import shutil

    path = _tmp("retention_events", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    ev.write.mode("overwrite").partitionBy("d").parquet(path)

    # driver-side maintenance decision over the partition LISTING
    days = sorted(
        _dt.date.fromisoformat(e.split("=", 1)[1])
        for e in os.listdir(path)
        if e.startswith("d=")
    )
    keep_from = days[-1] - _dt.timedelta(days=13)
    for day in days:
        if day < keep_from:
            shutil.rmtree(os.path.join(path, f"d={day.isoformat()}"))

    back = spark.read.parquet(path)
    return back.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("cents").cast("bigint").alias("cents"),
    )


@graded(
    "q_manifest_time_travel",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT)                     AS n_customers,
           CAST(sum(floor(c_acctbal)) AS BIGINT)        AS floor_balance
    FROM customer
    WHERE substr(md5('tt:' || CAST(c_custkey AS VARCHAR)), 1, 1) < '8'
    GROUP BY c_mktsegment
    """,
)
def q_manifest_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over the manifest-committed sink — the lakehouse
    read-as-of: two appends land as two atomic manifest commits; a
    reader pinned to the FIRST manifest id sees exactly the first
    batch's rows, bit-stable regardless of every later append (the
    Delta/Iceberg snapshot-isolation contract on plain files + JSON
    manifests). The oracle replays the first batch's md5 gate on the
    source table: equality proves snapshot reads are both complete
    (every committed-by-then row) and isolated (no later row leaks in).

    100 TB: a snapshot read costs the SAME as a current read — the
    manifest prefix IS the file list; no log replay over data, no copy.
    Mechanics (orphan invisibility, exactly-once replay, vacuum grace)
    are pinned in tests/test_datasource.py."""
    import shutil

    from noaa_etl_spark.session import configure_session
    from noaa_etl_spark.sources.manifest_sink import (
        ManifestSinkDataSource,
        read_manifest_sink,
        snapshots,
    )

    configure_session(spark)  # before register(): by-value pickling
    spark.dataSource.register(ManifestSinkDataSource)
    path = _tmp("manifest_tt", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    gate = F.substring(
        F.md5(F.concat(F.lit("tt:"), F.col("c_custkey").cast("string"))), 1, 1
    )
    first, second = cust.filter(gate < "8"), cust.filter(gate >= "8")
    first.write.format("manifest_sink").option("path", path).mode("overwrite").save()
    as_of = snapshots(path)[0]["id"]
    second.write.format("manifest_sink").option("path", path).mode("append").save()

    back = read_manifest_sink(spark, path, cust.schema, as_of=as_of)
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(F.floor("c_acctbal").cast("bigint")).alias("floor_balance"),
    )


@graded(
    "q_compaction",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)                  AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT)           AS key_sum,
           CAST(sum(floor(o_totalprice)) AS BIGINT)  AS floor_total,
           TRUE                                      AS fewer_files,
           TRUE                                      AS files_disjoint
    FROM orders
    """,
)
def q_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction (§2.A table maintenance;
    operators/compaction.py): fragment orders into 48 tiny files — the
    streaming-sink / over-parallel-write pathology — then compact to 4
    range-clustered files and grade (a) losslessness: count + key sum +
    exact floor-cents total of the COMPACTED read match the source
    table, (b) the rewrite actually shrank the file count, (c) layout
    repair: per-file [min,max] o_orderkey ranges are pairwise disjoint
    (repartitionByRange ⇒ non-overlapping files ⇒ data skipping works
    again — the q_stats_skipping soundness precondition).

    The disjointness check self-joins the |files|-row min/max relation
    (4 rows) — bounded by the output file count, never by the data.

    100 TB: compaction is one round-robin-or-range shuffle sized from
    the actual byte footprint (plan_compaction lists the directory, no
    table scan); nightly maintenance compacts only partitions whose
    small-file count breaches a threshold, and the manifest sink's
    commit protocol makes the swap atomic (see module docstring).
    """
    from noaa_etl_spark.operators.compaction import compact

    src = _tmp("compaction_src", sf_dir)
    out = _tmp("compaction_out", sf_dir)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    orders.repartition(48).write.mode("overwrite").parquet(src)
    plan = compact(spark, src, out, sort_cols=["o_orderkey"], n_target=4)

    back = spark.read.parquet(out)
    totals = back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        F.sum(F.floor("o_totalprice").cast("bigint")).alias("floor_total"),
    )
    per_file = back.groupBy(F.input_file_name().alias("f")).agg(
        F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
    )
    a, b = per_file.alias("a"), per_file.alias("b")
    overlaps = (
        a.join(
            F.broadcast(b),
            (F.col("a.f") < F.col("b.f"))
            & (F.col("a.lo") <= F.col("b.hi"))
            & (F.col("b.lo") <= F.col("a.hi")),
        )
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return totals.crossJoin(F.broadcast(overlaps)).select(
        "n_rows",
        "key_sum",
        "floor_total",
        F.lit(bool(plan["n_files_out"] < plan["n_files"])).alias("fewer_files"),
        (F.col("n_overlap") == 0).alias("files_disjoint"),
    )


@graded(
    "q_csv_multichar_delim",
    oracle="""
    SELECT c_mktsegment,
           count(*)                                  AS n_cust,
           CAST(sum(floor(c_acctbal)) AS BIGINT)     AS floor_bal,
           min(c_acctbal)                            AS min_bal,
           max(c_acctbal)                            AS max_bal
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_csv_multichar_delim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-CHARACTER delimiter CSV roundtrip ('||' separator) — the
    legacy-feed reality check: mainframe and EDI extracts routinely use
    multi-char separators precisely because field text may contain
    commas/pipes, and Spark 3+'s sep option accepts arbitrary strings
    (a univocity-parser surface single-char-only readers lack). Write
    customer as '||'-separated text, re-read with a declared schema,
    aggregate; the oracle reads the ORIGINAL table — the roundtrip
    identity IS the grade (doubles survive text round-trips parse-exact
    per the csv_roundtrip contract).

    Scale: sink + scan are both splittable text; schema declared (no
    inference pass); aggregation is one combinable agg."""
    path = _tmp("csv_multidelim", sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    (
        cust.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .write.mode("overwrite")
        .option("header", "true")
        .option("sep", "||")
        .csv(path)
    )
    back = (
        spark.read.schema(
            "c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE, c_mktsegment STRING"
        )
        .option("header", "true")
        .option("sep", "||")
        .csv(path)
    )
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(F.floor("c_acctbal").cast("bigint")).alias("floor_bal"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
        )
        .orderBy("c_mktsegment")
    )
