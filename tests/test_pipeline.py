"""GHCN pipeline end-to-end test (run_pipeline surface) and ingest
failure-mode tests (FAILFAST on malformed CSV)."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from noaa_etl_spark.pipelines.ghcn import run_pipeline
from noaa_etl_spark.queries.noaa import _synth_obs, format_dly
from noaa_etl_spark.sources import read_csv
from tests.conftest import SF_SMALL


def test_run_pipeline_end_to_end(spark, tmp_dir):
    """run_pipeline over synthesized .dly files must produce partitioned
    observations and a monthly rollup consistent with the inputs."""
    dly_dir = os.path.join(tmp_dir, "dly")
    out_dir = os.path.join(tmp_dir, "out")
    obs = _synth_obs(spark, SF_SMALL)
    monthly = obs.groupBy("station_id", "year", "month", "element").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("day", F.struct("value_scaled", "qflag"))))
        ).alias("days")
    )
    format_dly(monthly).coalesce(1).write.mode("overwrite").text(dly_dir)

    run_pipeline(spark, dly_dir, out_dir)

    observations = spark.read.parquet(os.path.join(out_dir, "observations"))
    rollup = spark.read.parquet(os.path.join(out_dir, "monthly_climate"))
    # QC'd observation count equals the synthesized clean rows.
    expected_clean = obs.filter(F.col("qflag") == "").count()
    assert observations.count() == expected_clean
    # Year partitioning materialized as directories.
    years = {r["obs_year"] for r in observations.select("obs_year").distinct().collect()}
    dirs = {d for d in os.listdir(os.path.join(out_dir, "observations")) if d.startswith("obs_year=")}
    assert {f"obs_year={y}" for y in years} == dirs
    # Rollup keys cover every (station, month, element) present.
    assert rollup.count() == (
        observations.select(
            "station_id", F.year("obs_date"), F.month("obs_date"), "element"
        )
        .distinct()
        .count()
    )


def test_csv_failfast_raises_on_malformed(spark, tmp_dir):
    """FAILFAST ingest must raise on a malformed row rather than
    silently nulling it (the QC-grade ingest contract)."""
    path = os.path.join(tmp_dir, "bad.csv")
    with open(path, "w") as f:
        f.write("id,value\n1,10.5\n2,not_a_number\n3,30.25\n")
    df = read_csv(spark, path, "id BIGINT, value DOUBLE")
    with pytest.raises(Exception) as err:
        df.collect()
    assert "Malformed" in str(err.value) or "FAILFAST" in str(err.value)


def test_csv_permissive_mode_nulls_malformed(spark, tmp_dir):
    """The exploratory path: PERMISSIVE mode keeps the row with a NULL
    in the bad field instead of failing."""
    path = os.path.join(tmp_dir, "bad2.csv")
    with open(path, "w") as f:
        f.write("id,value\n1,10.5\n2,not_a_number\n3,30.25\n")
    df = (
        spark.read.schema("id BIGINT, value DOUBLE")
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    rows = {r["id"]: r["value"] for r in df.collect()}
    assert rows[1] == 10.5
    assert rows[2] is None
    assert rows[3] == 30.25


def _isd_line(year, month, day, hour, temp, dew, slp, wdir, wspd, sky, p1, p6):
    return (
        f"{year:4d} {month:2d} {day:2d} {hour:2d}"
        f"{temp:6d}{dew:6d}{slp:6d}{wdir:6d}{wspd:6d}{sky:6d}{p1:6d}{p6:6d}"
    )


def test_isd_lite_pipeline_end_to_end(spark, tmp_dir):
    """ISD-Lite fixed-width → typed hourly + daily rollup: station id
    from the file name, -9999 → NULL, tenths → physical units, and a
    malformed trailing line dropped instead of failing the scan."""
    from noaa_etl_spark.pipelines.isd import (
        daily_summary,
        parse_isd_lite,
        run_pipeline,
        to_physical_units,
    )

    src = os.path.join(tmp_dir, "isd")
    out = os.path.join(tmp_dir, "out")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "725300-94846-2024"), "w") as f:
        f.write(_isd_line(2024, 1, 1, 0, -11, -22, 10199, 230, 26, 8, 0, -9999) + "\n")
        f.write(_isd_line(2024, 1, 1, 1, 5, -20, 10201, 240, 30, 8, 12, -9999) + "\n")
        f.write(_isd_line(2024, 1, 2, 0, -9999, -18, 10230, 250, 15, 2, 3, 5) + "\n")
        f.write("TRUNCATED GARBAGE\n")
    with open(os.path.join(src, "010010-99999-2024"), "w") as f:
        f.write(_isd_line(2024, 1, 1, 12, 250, 180, 10100, 90, 55, 0, -9999, -9999) + "\n")

    obs = parse_isd_lite(spark, src)
    rows = {(r["station_id"], str(r["ts"])): r for r in obs.collect()}
    assert len(rows) == 4  # garbage line dropped
    first = rows[("725300-94846", "2024-01-01 00:00:00")]
    assert first["air_temp"] == -11 and first["precip_6h"] is None
    missing_temp = rows[("725300-94846", "2024-01-02 00:00:00")]
    assert missing_temp["air_temp"] is None  # -9999 → NULL

    phys = {(r["station_id"], str(r["ts"])): r for r in to_physical_units(obs).collect()}
    assert phys[("725300-94846", "2024-01-01 00:00:00")]["air_temp"] == -1.1
    assert phys[("010010-99999", "2024-01-01 12:00:00")]["wind_speed"] == 5.5
    assert phys[("725300-94846", "2024-01-01 00:00:00")]["wind_direction"] == 230

    daily = {
        (r["station_id"], str(r["obs_date"])): r
        for r in daily_summary(to_physical_units(obs)).collect()
    }
    d = daily[("725300-94846", "2024-01-01")]
    assert (d["n_obs"], d["tmin"], d["tmax"]) == (2, -1.1, 0.5)
    assert d["tavg"] == pytest.approx(-0.3)
    assert d["prcp"] == pytest.approx(1.2)
    # NULL temps excluded from aggregates, not zero-filled.
    d2 = daily[("725300-94846", "2024-01-02")]
    assert d2["tmin"] is None and d2["n_obs"] == 1

    run_pipeline(spark, src, out)
    hourly = spark.read.parquet(os.path.join(out, "hourly"))
    assert hourly.count() == 4
    assert "obs_year=2024" in os.listdir(os.path.join(out, "hourly"))
    assert spark.read.parquet(os.path.join(out, "daily")).count() == 3


def test_ghcn_by_year_csv_matches_dly_path(spark, tmp_dir):
    """The by-year CSV ingest (GHCN_CSV_SCHEMA + from_by_year_csv) must
    produce the same observations as the fixed-width path's shape and
    flow through the same QC + unit transforms."""
    from noaa_etl_spark.pipelines.ghcn import (
        GHCN_CSV_SCHEMA,
        from_by_year_csv,
        qc_filter,
        to_physical_units,
    )

    path = os.path.join(tmp_dir, "by_year.csv")
    with open(path, "w") as f:
        f.write("ID,DATE,ELEMENT,DATA_VALUE,M_FLAG,Q_FLAG,S_FLAG,OBS_TIME\n")
        f.write("USW00094846,20240101,TMAX,-11,,,S,0700\n")
        f.write("USW00094846,20240101,PRCP,25,T,,S,0700\n")
        f.write("USW00094846,20240102,TMAX,44,,X,S,0700\n")  # failed QC
        f.write("ASN00001001,20240101,SNOW,120,,,S,\n")

    obs = from_by_year_csv(read_csv(spark, path, GHCN_CSV_SCHEMA))
    assert obs.count() == 4
    clean = to_physical_units(qc_filter(obs))
    got = {
        (r["station_id"], str(r["obs_date"]), r["element"]): r["value"]
        for r in clean.collect()
    }
    assert len(got) == 3  # QC-flagged row dropped
    assert got[("USW00094846", "2024-01-01", "TMAX")] == -1.1
    assert got[("USW00094846", "2024-01-01", "PRCP")] == 2.5
    assert got[("ASN00001001", "2024-01-01", "SNOW")] == 120.0  # not a tenths element


# The two names Spark gives a generated class per plan rather than per
# code: the codegen stage id in the class name (AQE numbers the stages of
# a plan in the order it plans them, which follows stage timing) and the
# ``_limit_counter_N`` field of a limit.
_PER_PLAN_NAMES = re.compile(r"(GeneratedIteratorForCodegenStage|_limit_counter_)\d+")


def _codegen_cache_snapshot(spark):
    """A JVM-side copy of the key set of Spark's codegen cache
    (``CodeGenerator.cache``, keyed by (class loader, CodeAndComment):
    the driver and the task threads compile the same source under
    different loaders). Set differences stay in the JVM, so only the
    bodies a caller reads cross py4j — ~17 ms a key otherwise."""
    gen = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = gen.getDeclaredField("cache")
    field.setAccessible(True)
    cache = field.get(gen.getField("MODULE$").get(None)).loadingCache()
    return spark._jvm.java.util.HashSet(cache.asMap().keySet())


def _added(spark, after, before):
    added = spark._jvm.java.util.HashSet(after)
    added.removeAll(before)
    return added


def _plan_free_bodies(keys) -> set[str]:
    return {_PER_PLAN_NAMES.sub(r"\1N", key._2().body()) for key in keys.toArray()}


def test_corpus_pipeline_end_to_end(spark, tmp_dir):
    """Corpus prep: scrub → gate → chunk → chunk-dedup → embed → ANN,
    asserted as a funnel — chunks cover the cleaned docs, dedup only
    removes, embeddings are one per kept chunk, and every query gets at
    most k neighbors with self at cos_sim ≈ 1 among them."""
    from noaa_etl_spark.pipelines.corpus import run_corpus_pipeline

    cold = _codegen_cache_snapshot(spark)
    stats = run_corpus_pipeline(
        spark, SF_SMALL, f"{tmp_dir}/corpus", k_neighbors=3, n_queries=20
    )
    assert stats["n_gated_docs"] <= stats["n_raw_docs"]
    assert stats["n_clean_docs"] <= stats["n_gated_docs"]
    assert stats["n_clean_docs"] > 0
    # the gate + repetition stages must actually drop something at
    # fixture scale (they discriminate — tests/test_quality.py)
    assert stats["n_gated_docs"] < stats["n_raw_docs"]
    assert stats["n_chunks_kept"] <= stats["n_chunks_raw"]
    assert stats["n_chunks_kept"] > 0
    assert stats["n_neighbor_rows"] <= 20 * 3

    emb = spark.read.parquet(f"{tmp_dir}/corpus/embeddings")
    kept = spark.read.parquet(f"{tmp_dir}/corpus/chunks")
    assert emb.count() == stats["n_chunks_kept"] == kept.count()
    # Dedup invariant: signatures unique among kept chunks.
    assert kept.select("chunk_sig").distinct().count() == stats["n_chunks_kept"]
    # Scrub invariant: no raw email survives in chunk text.
    assert kept.filter(F.col("chunk_text").rlike("@")).count() == 0

    nb = spark.read.parquet(f"{tmp_dir}/corpus/neighbors")
    per_q = nb.groupBy("query_id").count().agg(F.max("count")).first()[0]
    assert per_q <= 3
    # ANN contract: self-pairs excluded, similarities in range.
    assert nb.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0
    bad = nb.filter((F.col("cos_sim") < -1.0001) | (F.col("cos_sim") > 1.0001))
    assert bad.count() == 0
    assert nb.count() > 0

    # Warm reuse: rerunning the same plans into the same path gives the
    # same funnel and finds its generated classes in Spark's codegen
    # cache instead of compiling them again (68-107 per rerun when the
    # cache holds fewer classes than one pass generates).
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    warm = _codegen_cache_snapshot(spark)
    before = compiles.getCount()
    again = run_corpus_pipeline(
        spark, SF_SMALL, f"{tmp_dir}/corpus", k_neighbors=3, n_queries=20
    )
    assert again == stats
    # The rerun compiles only classes the first pass compiled under
    # another per-plan name: the ANN query pick's orderBy(...).limit(n)
    # stages (a new _limit_counter_N each pass, BASELINE.md §codegen
    # cache) and, when AQE plans the two sides of repetition_report's
    # doc_id join in the other order, its two final aggregates under
    # swapped stage ids. Nothing else is compiled, and nothing is
    # compiled twice: every compile added a new cache entry.
    fresh = _added(spark, _codegen_cache_snapshot(spark), warm)
    first_pass = _added(spark, warm, cold)
    assert _plan_free_bodies(fresh) <= _plan_free_bodies(first_pass)
    assert compiles.getCount() - before == fresh.size()
