"""NOAA reference-layer graded queries: the GHCN-Daily ETL end-to-end.

q_ghcn_pipeline synthesizes deterministic `.dly` fixed-width files from
the orders fixture, writes them, then runs the full reference pipeline —
parse (fixed-width, 31-day wide layout → long) → QC filter (drop
non-blank QFLAG) → unit conversion (tenths → physical) → monthly
rollup. The oracle reproduces the same statistics straight from orders,
so a hash match proves the whole format-roundtrip + transform chain is
lossless and semantically faithful to the GHCN contract.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from noaa_etl_spark.io import SCRATCH_ROOT, load_table
from noaa_etl_spark.pipelines.ghcn import (
    format_dly,
    monthly_climate,
    parse_dly,
    pivot_daily,
    qc_filter,
    to_physical_units,
)
from noaa_etl_spark.registry import graded


def _synth_obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic GHCN-style observations derived from orders:
    station from custkey, date from orderdate, element cycling over
    TMAX/TMIN/PRCP from orderkey, scaled value from totalprice, QFLAG
    'X' (failed QC) for F-status orders. Collisions aggregate
    deterministically (min value, max flag)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.concat(
                F.lit("USW000"), F.lpad((F.col("o_custkey") % 25).cast("string"), 5, "0")
            ).alias("station_id"),
            F.year("o_orderdate").alias("year"),
            F.month("o_orderdate").alias("month"),
            F.dayofmonth("o_orderdate").alias("day"),
            F.when(F.col("o_orderkey") % 3 == 0, "TMAX")
            .when(F.col("o_orderkey") % 3 == 1, "TMIN")
            .otherwise("PRCP")
            .alias("element"),
            F.floor(F.col("o_totalprice") / 100).cast("int").alias("value_scaled"),
            F.when(F.col("o_orderstatus") == "F", "X").otherwise("").alias("qflag"),
        )
        .groupBy("station_id", "year", "month", "day", "element")
        .agg(
            F.min("value_scaled").alias("value_scaled"),
            F.max("qflag").alias("qflag"),
        )
    )


@graded(
    "q_ghcn_pipeline",
    oracle="""
    WITH obs AS (
      SELECT 'USW000' || lpad(CAST(o_custkey % 25 AS VARCHAR), 5, '0') AS station_id,
             CAST(year(o_orderdate) AS INT)  AS year,
             CAST(month(o_orderdate) AS INT) AS month,
             day(o_orderdate)   AS day,
             CASE CAST(o_orderkey % 3 AS INT)
               WHEN 0 THEN 'TMAX' WHEN 1 THEN 'TMIN' ELSE 'PRCP' END AS element,
             min(CAST(floor(o_totalprice / 100) AS INT)) AS value_scaled,
             max(CASE WHEN o_orderstatus = 'F' THEN 'X' ELSE '' END) AS qflag
      FROM orders
      GROUP BY 1, 2, 3, 4, 5
    )
    SELECT station_id, year, month, element,
           count(*)                         AS n_obs,
           round(avg(value_scaled / 10.0), 6) AS avg_value,
           min(value_scaled / 10.0)         AS min_value,
           max(value_scaled / 10.0)         AS max_value
    FROM obs
    WHERE qflag = ''
    GROUP BY station_id, year, month, element
    ORDER BY station_id, year, month, element
    """,
)
def q_ghcn_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full GHCN ETL: synthesize obs → render `.dly` fixed-width lines →
    write → re-read → parse → QC filter → unit conversion → monthly
    climate rollup. The oracle computes the rollup directly from orders,
    so the text format roundtrip must be lossless to match."""
    path = os.path.join(
        SCRATCH_ROOT, "noaa", f"dly_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    obs = _synth_obs(spark, sf_dir)
    monthly = obs.groupBy("station_id", "year", "month", "element").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(F.struct("day", F.struct("value_scaled", "qflag")))
            )
        ).alias("days")
    )
    format_dly(monthly).coalesce(1).write.mode("overwrite").text(path)

    parsed = parse_dly(spark.read.text(path))
    clean = to_physical_units(qc_filter(parsed))
    return monthly_climate(clean).orderBy("station_id", "year", "month", "element")


@graded(
    "q_ghcn_daily_wide",
    oracle="""
    WITH obs AS (
      SELECT 'USW000' || lpad(CAST(o_custkey % 25 AS VARCHAR), 5, '0') AS station_id,
             CAST(o_orderdate AS DATE) AS obs_date,
             CASE CAST(o_orderkey % 3 AS INT)
               WHEN 0 THEN 'TMAX' WHEN 1 THEN 'TMIN' ELSE 'PRCP' END AS element,
             min(CAST(floor(o_totalprice / 100) AS INT)) AS value_scaled,
             max(CASE WHEN o_orderstatus = 'F' THEN 'X' ELSE '' END) AS qflag
      FROM orders
      GROUP BY 1, 2, 3
    )
    SELECT station_id, obs_date,
           min(value_scaled / 10.0) FILTER (WHERE element = 'TMAX') AS TMAX,
           min(value_scaled / 10.0) FILTER (WHERE element = 'TMIN') AS TMIN,
           min(value_scaled / 10.0) FILTER (WHERE element = 'PRCP') AS PRCP
    FROM obs
    WHERE qflag = ''
    GROUP BY station_id, obs_date
    ORDER BY station_id, obs_date
    """,
)
def q_ghcn_daily_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The long→wide analysis table: one row per (station, date) with
    TMAX/TMIN/PRCP columns (pivot with explicit element list). Built
    from the synthesized obs without the text roundtrip (that is
    q_ghcn_pipeline's job)."""
    obs = _synth_obs(spark, sf_dir).filter(F.col("qflag") == "")
    long_obs = to_physical_units(
        obs.select(
            "station_id",
            F.make_date("year", "month", "day").alias("obs_date"),
            "element",
            "value_scaled",
            F.col("qflag"),
        )
    )
    return pivot_daily(long_obs, ["TMAX", "TMIN", "PRCP"]).orderBy(
        "station_id", "obs_date"
    )
