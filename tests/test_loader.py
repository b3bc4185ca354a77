"""Loader normalization contract: ``events.ts`` must arrive as a plain
TIMESTAMP whatever physical encoding the fixture generator shipped —
TIMESTAMP(NANOS) (rounds 1-3, read as long nanos under nanosAsLong) or
TIMESTAMP(MICROS, ntz) (round 4+, inferred TIMESTAMP_NTZ). A generator
switch between encodings broke three graded queries in round 3; this
test synthesizes BOTH encodings and pins identical loader output.
The schema-memo tests pin when a table's schema is read again.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from noaa_etl_spark.io import _PARQUET_SCHEMAS, load_table, parquet_schema
from noaa_etl_spark.streaming.core import stream_table

_MICROS = [1_500_000_123_456_789, 1_500_003_999_000_001, 1_500_007_000_500_000]


def _write_events(path: str, unit: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if unit == "ns":
        ts = pa.array([m * 1000 for m in _MICROS], pa.timestamp("ns"))
    else:
        ts = pa.array(_MICROS, pa.timestamp("us"))
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": ts,
            "user_id": pa.array([10, 10, 11], pa.int64()),
            "event_type": pa.array(["a", "b", "a"]),
            "value": pa.array([1.5, 2.5, 3.5], pa.float64()),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    pq.write_table(table, path)


def test_fixture_decayed_sum_dyadic_bound():
    """Regen-robustness pin for q_decayed_sum's bit-exactness contract
    (ADVICE r7): every partial sum of day_cents·2^d must stay within the
    53-bit double mantissa, i.e. per event type
    max(day_cents).bit_length() + (max_day − min_day) ≤ 52. The current
    fixture sits around 19 + 29 bits; if the driver ever regenerates a
    longer-span or higher-volume events table that violates the bound,
    this fails LOUDLY in the local suite instead of as a driver
    hash-miss (DuckDB's segment-tree window sum vs Spark's sequential
    running sum would then differ in the last ulp).
    """
    import duckdb

    for sf_dir in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        path = os.path.join(sf_dir, "events.parquet")
        if not os.path.exists(path):
            continue
        row = duckdb.sql(
            f"""
            WITH daily AS (
              SELECT event_type,
                     CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT) AS day_idx,
                     sum(CAST(floor(value * 100) AS BIGINT)) AS day_cents
              FROM read_parquet('{path}')
              GROUP BY 1, 2
            )
            SELECT max(bit_length), max(span) FROM (
              SELECT CAST(ceil(log2(max(abs(day_cents)) + 1)) AS INT) AS bit_length,
                     max(day_idx) - min(day_idx) AS span
              FROM daily GROUP BY event_type
            )
            """
        ).fetchone()
        bits, span = int(row[0]), int(row[1])
        assert bits + span <= 52, (
            f"{sf_dir}: day_cents bits={bits} + day span={span} > 52 — "
            "q_decayed_sum's dyadic exactness no longer holds on this "
            "fixture; switch its grade to a rounded/tolerance form"
        )


def test_events_ts_normalizes_identically_across_encodings(spark, tmp_dir):
    rows = {}
    for unit in ("ns", "us"):
        sf_dir = os.path.join(tmp_dir, f"enc_{unit}")
        _write_events(os.path.join(sf_dir, "events.parquet"), unit)
        df = load_table(spark, sf_dir, "events")
        assert dict(df.dtypes)["ts"] == "timestamp", (unit, df.dtypes)
        # unix_micros (the gap-math workhorse) must accept the
        # normalized column and see identical epoch values.
        got = (
            df.select("event_id", F.unix_micros("ts").alias("us"))
            .orderBy("event_id")
            .collect()
        )
        rows[unit] = [(r["event_id"], r["us"]) for r in got]
    assert rows["ns"] == rows["us"] == list(zip([1, 2, 3], _MICROS))


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_unchanged_file_reopens_without_a_job(spark, tmp_dir):
    """The schema of an unchanged file is read once: opening the table
    again starts no Spark job."""
    _write_events(os.path.join(tmp_dir, "events.parquet"), "us")
    load_table(spark, tmp_dir, "events")
    before = _next_job_id(spark)
    load_table(spark, tmp_dir, "events")
    stream_table(spark, tmp_dir, "events")
    assert _next_job_id(spark) == before


def test_rewritten_file_is_read_again(spark, tmp_dir):
    """A file rewritten at the same path with other columns is a new
    file version: the next load_table and stream_table see its schema."""
    path = os.path.join(tmp_dir, "events.parquet")
    _write_events(path, "us")
    assert "value" in load_table(spark, tmp_dir, "events").columns
    pq.write_table(
        pa.table({"ts": pa.array(_MICROS, pa.timestamp("us")), "score": [1, 2, 3]}), path
    )
    for df in (load_table(spark, tmp_dir, "events"), stream_table(spark, tmp_dir, "events")):
        assert df.columns == ["ts", "score"]
        assert dict(df.dtypes)["ts"] == "timestamp"
    assert sorted(r["score"] for r in load_table(spark, tmp_dir, "events").collect()) == [1, 2, 3]


def test_schema_follows_session_type_mapping(spark, tmp_dir):
    """The memo is per type mapping: on one session, toggling
    nanosAsLong changes how events.ts reads (long nanos, or Spark's
    refusal of TIMESTAMP(NANOS)), and inferTimestampNTZ turns a MICROS
    ts from TIMESTAMP_NTZ to TIMESTAMP."""
    s = spark.newSession()
    ns = os.path.join(tmp_dir, "ns", "events.parquet")
    us = os.path.join(tmp_dir, "us", "events.parquet")
    _write_events(ns, "ns")
    _write_events(us, "us")

    def ts_type(path: str) -> str:
        return {f.name: f.dataType.simpleString() for f in parquet_schema(s, path)}["ts"]

    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert ts_type(ns) == "bigint"
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        ts_type(ns)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert ts_type(ns) == "bigint"

    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    assert ts_type(us) == "timestamp_ntz"
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert ts_type(us) == "timestamp"


def test_directory_schema_is_not_memoized(spark, tmp_dir):
    """A directory's files can change without the directory changing,
    so its schema is read on every call and never memoized."""
    path = os.path.join(tmp_dir, "events.parquet")
    spark.range(3).write.mode("overwrite").parquet(path)
    assert [f.name for f in parquet_schema(spark, path)] == ["id"]
    before = _next_job_id(spark)
    assert [f.name for f in parquet_schema(spark, path)] == ["id"]
    assert _next_job_id(spark) > before
    spark.range(3).selectExpr("id AS other").write.mode("overwrite").parquet(path)
    assert load_table(spark, tmp_dir, "events").columns == ["other"]
    assert not [k for k in _PARQUET_SCHEMAS if k[0] == os.path.abspath(path)]
