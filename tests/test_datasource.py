"""Custom Python DataSource tests: deterministic output, partition
parallelism, and stream-stream join equivalence (the remaining
streaming-join surface)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from noaa_etl_spark.io import SCRATCH_ROOT, load_table
from noaa_etl_spark.sources.synthetic import (
    _HAS_DATASOURCE_API,
    SyntheticObsDataSource,
    _det_value,
)
from noaa_etl_spark.streaming.core import run_to_memory, stream_table
from tests.conftest import SF_SMALL


@pytest.mark.skipif(not _HAS_DATASOURCE_API, reason="Spark 4 DataSource API absent")
def test_synthetic_datasource_deterministic_and_partitioned(spark):
    spark.dataSource.register(SyntheticObsDataSource)
    df = (
        spark.read.format("synthetic_obs")
        .option("n_stations", 5)
        .option("n_days", 10)
        .load()
    )
    # One Spark partition per station partition.
    assert df.rdd.getNumPartitions() == 5
    rows = df.collect()
    assert len(rows) == 5 * 10 * 3
    # Spot-check determinism against the generator function.
    sample = [r for r in rows if r["station_id"] == "SYN00000002" and r["day"] == 7]
    for r in sample:
        assert r["value_scaled"] == _det_value(2, 7, r["element"])
    # Re-read must be identical (no hidden RNG state).
    again = (
        spark.read.format("synthetic_obs")
        .option("n_stations", 5)
        .option("n_days", 10)
        .load()
        .collect()
    )
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


@pytest.mark.skipif(not _HAS_DATASOURCE_API, reason="Spark 4 DataSource API absent")
def test_synthetic_datasource_stream_equals_batch(spark):
    """The streaming reader (SimpleDataSourceStreamReader), fully
    drained, must produce exactly the batch reader's rows — in MULTIPLE
    micro-batches (the offset pacing, not one catch-all). This is the
    continuous-ingest parity the batch-only source lacked."""
    import os
    import shutil

    spark.dataSource.register(SyntheticObsDataSource)
    opts = {"n_stations": 3, "n_days": 10, "days_per_batch": 3}

    def stream():
        s = spark.readStream.format("synthetic_obs")
        for k, v in opts.items():
            s = s.option(k, v)
        return s.load()

    batch = spark.read.format("synthetic_obs")
    for k, v in opts.items():
        batch = batch.option(k, v)
    expected = {tuple(r) for r in batch.load().collect()}
    assert len(expected) == 3 * 10 * 3

    checkpoint = os.path.join(SCRATCH_ROOT, "checkpoints", "synthetic_paced")
    shutil.rmtree(checkpoint, ignore_errors=True)
    query = (
        stream().writeStream.format("memory")
        .queryName("mem_synthetic_paced")
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .start()
    )
    query.processAllAvailable()
    query.stop()
    n_batches = sum(1 for p in query.recentProgress if p["numInputRows"] > 0)
    paced_rows = {tuple(r) for r in spark.table("mem_synthetic_paced").collect()}
    assert paced_rows == expected
    assert n_batches >= 4, f"expected >=4 paced micro-batches, saw {n_batches}"


@pytest.mark.skipif(not _HAS_DATASOURCE_API, reason="Spark 4 DataSource API absent")
def test_synthetic_datasource_available_now_resumes_from_checkpoint(spark):
    """availableNow processes the batch available at query start (one
    prefetched read() for an on-demand generator source) then stops;
    re-running against the SAME checkpoint must resume from the
    persisted offset — repeated runs drain the feed end-to-end with no
    duplicates and no gaps (exactly-once restart recovery, the contract
    a production incremental-ingest job relies on). File sink: the
    memory sink does not support checkpoint recovery."""
    import os
    import shutil

    spark.dataSource.register(SyntheticObsDataSource)
    checkpoint = os.path.join(SCRATCH_ROOT, "checkpoints", "synthetic_resume")
    out = os.path.join(SCRATCH_ROOT, "synthetic_resume_out")
    shutil.rmtree(checkpoint, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)

    progressing_runs = 0
    for _ in range(8):
        s = spark.readStream.format("synthetic_obs")
        for k, v in {"n_stations": 3, "n_days": 10, "days_per_batch": 3}.items():
            s = s.option(k, v)
        query = (
            s.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        if not any(p["numInputRows"] > 0 for p in query.recentProgress):
            break
        progressing_runs += 1
    else:
        pytest.fail("feed never drained")

    assert progressing_runs == 4  # ceil(10 days / 3 per batch)
    rows = [tuple(r) for r in spark.read.parquet(out).collect()]
    assert len(rows) == 3 * 10 * 3, "gap or duplicate across resumed runs"
    assert len(set(rows)) == len(rows)


@pytest.mark.skipif(not _HAS_DATASOURCE_API, reason="Spark 4 DataSource API absent")
def test_manifest_sink_batch_roundtrip_and_orphan_invisibility(spark, tmp_dir):
    """Batch write through the custom writer: executors write part files
    in parallel, the driver commits a manifest, and read-back equals the
    input. A stray file dropped straight into data/ (an aborted or
    in-flight task's output) must be invisible to readers."""
    import os
    import shutil

    from noaa_etl_spark.sources.manifest_sink import (
        ManifestSinkDataSource,
        read_manifest_sink,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    spark.dataSource.register(SyntheticObsDataSource)
    df = (
        spark.read.format("synthetic_obs")
        .option("n_stations", 4)
        .option("n_days", 6)
        .load()
    )
    out = os.path.join(tmp_dir, "sink")
    shutil.rmtree(out, ignore_errors=True)  # tmp_dir persists across runs
    df.write.format("manifest_sink").option("path", out).mode("append").save()

    # Parallel write: one part file per input partition (4 stations).
    data_files = [f for f in os.listdir(os.path.join(out, "data")) if f.startswith("part-")]
    assert len(data_files) == 4

    # Inject an orphan that no manifest names — readers must not see it.
    with open(os.path.join(out, "data", "part-orphan.jsonl"), "w") as fh:
        fh.write('{"station_id": "GHOST", "day": 1, "element": "TMAX", "value_scaled": 1}\n')

    back = read_manifest_sink(spark, out, df.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    # Second append accumulates (two manifests), overwrite resets to one.
    df.write.format("manifest_sink").option("path", out).mode("append").save()
    assert read_manifest_sink(spark, out, df.schema).count() == 2 * df.count()
    df.write.format("manifest_sink").option("path", out).mode("overwrite").save()
    back2 = read_manifest_sink(spark, out, df.schema)
    assert sorted(map(tuple, back2.collect())) == sorted(map(tuple, df.collect()))


@pytest.mark.skipif(not _HAS_DATASOURCE_API, reason="Spark 4 DataSource API absent")
def test_manifest_sink_arrow_writer_roundtrip(spark, tmp_dir):
    """The Arrow fast-path writer (DataSourceArrowWriter → parquet part
    files) commits through the same manifest protocol and reads back
    identical rows; a mixed-format sink dir (jsonl append + arrow
    append) unions cleanly because each manifest declares its format."""
    import os
    import shutil

    from noaa_etl_spark.sources.manifest_sink import (
        ManifestSinkDataSource,
        read_manifest_sink,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    df = load_table(spark, SF_SMALL, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    out = os.path.join(tmp_dir, "sink")
    shutil.rmtree(out, ignore_errors=True)

    (
        df.write.format("manifest_sink")
        .option("path", out)
        .option("use_arrow", "true")
        .mode("append")
        .save()
    )
    parts = os.listdir(os.path.join(out, "data"))
    assert parts and all(p.endswith(".parquet") for p in parts)
    back = read_manifest_sink(spark, out, df.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    # Append the same rows through the ROW writer: mixed formats union.
    df.write.format("manifest_sink").option("path", out).mode("append").save()
    mixed = read_manifest_sink(spark, out, df.schema)
    assert mixed.count() == 2 * df.count()
    assert sorted(map(tuple, mixed.distinct().collect())) == sorted(
        map(tuple, df.collect())
    )


@pytest.mark.skipif(not _HAS_DATASOURCE_API, reason="Spark 4 DataSource API absent")
def test_manifest_sink_stream_drains_exactly_once(spark, tmp_dir):
    """Custom stream READER feeding the custom stream WRITER: repeated
    availableNow runs against one checkpoint drain the paced feed with
    no gaps and no duplicates, and each micro-batch leaves exactly one
    manifest — the full continuous-ingest loop through both halves of
    the Python DataSource API."""
    import os
    import shutil

    from noaa_etl_spark.sources.manifest_sink import (
        ManifestSinkDataSource,
        read_manifest_sink,
    )

    spark.dataSource.register(SyntheticObsDataSource)
    spark.dataSource.register(ManifestSinkDataSource)
    checkpoint = os.path.join(tmp_dir, "checkpoint")
    out = os.path.join(tmp_dir, "sink")
    shutil.rmtree(checkpoint, ignore_errors=True)  # tmp_dir persists across runs
    shutil.rmtree(out, ignore_errors=True)

    for _ in range(8):
        s = spark.readStream.format("synthetic_obs")
        for k, v in {"n_stations": 3, "n_days": 10, "days_per_batch": 4}.items():
            s = s.option(k, v)
        query = (
            s.load()
            .writeStream.format("manifest_sink")
            .option("path", out)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        if not any(p["numInputRows"] > 0 for p in query.recentProgress):
            break
    else:
        pytest.fail("feed never drained")

    batch = (
        spark.read.format("synthetic_obs")
        .option("n_stations", 3)
        .option("n_days", 10)
        .load()
    )
    back = read_manifest_sink(spark, out, batch.schema)
    got = [tuple(r) for r in back.collect()]
    assert sorted(got) == sorted(map(tuple, batch.collect()))
    assert len(set(got)) == len(got), "duplicate rows across micro-batches"
    manifests = os.listdir(os.path.join(out, "_manifest"))
    assert len(manifests) == 3  # ceil(10 days / 4 per batch)


@pytest.mark.skipif(not _HAS_DATASOURCE_API, reason="Spark 4 DataSource API absent")
def test_manifest_sink_replayed_batch_commits_once(spark, tmp_dir):
    """Driver-side commit protocol, exercised directly: re-committing a
    batchId (restart replay) discards the replayed files and keeps the
    original manifest; abort removes a failed batch's orphans."""
    import os
    import shutil

    from noaa_etl_spark.sources.manifest_sink import (
        ManifestStreamWriter,
        _PartFileMessage,
        committed_files,
    )

    out = os.path.join(tmp_dir, "sink")
    shutil.rmtree(out, ignore_errors=True)  # tmp_dir persists across runs
    os.makedirs(os.path.join(out, "data"), exist_ok=True)
    w = ManifestStreamWriter({"path": out})

    def fake_part(name: str) -> _PartFileMessage:
        f = os.path.join(out, "data", name)
        with open(f, "w") as fh:
            fh.write('{"x": 1}\n')
        return _PartFileMessage(file=f, rows=1)

    first = fake_part("part-original.jsonl")
    w.commit([first], batchId=7)
    assert committed_files(out) == [first.file]

    replay = fake_part("part-replayed.jsonl")
    w.commit([replay], batchId=7)  # restarted query re-emits batch 7
    assert committed_files(out) == [first.file], "replay must not double-commit"
    assert not os.path.exists(replay.file), "replayed files must be cleaned up"

    aborted = fake_part("part-aborted.jsonl")
    w.abort([aborted, None], batchId=8)  # None = failed task's slot
    assert not os.path.exists(aborted.file)
    assert committed_files(out) == [first.file]


def test_stream_stream_join_equals_batch(spark):
    """Watermarked stream-stream inner join (purchase ⋈ click within 1h
    back-window per user) over complete data must equal the batch join."""
    def legs(source):
        p = source.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("p_id"),
            F.col("ts").alias("p_ts"),
        )
        c = source.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("c_id"),
            F.col("ts").alias("c_ts"),
        )
        return p, c

    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
    )

    sp, sc = legs(stream_table(spark, SF_SMALL, "events"))
    joined = sp.withWatermark("p_ts", "2 hours").join(
        sc.withWatermark("c_ts", "2 hours"), cond, "inner"
    )
    streamed = run_to_memory(joined, "mem_stream_stream_join", "append")

    bp, bc = legs(load_table(spark, SF_SMALL, "events"))
    batch = bp.join(bc, cond, "inner")

    s = {(r["p_id"], r["c_id"]) for r in streamed.collect()}
    b = {(r["p_id"], r["c_id"]) for r in batch.collect()}
    assert s == b
    assert len(b) > 0


@pytest.mark.skipif(not _HAS_DATASOURCE_API, reason="Spark 4 DataSource API absent")
def test_manifest_sink_vacuum_reclaims_old_orphans_only(spark, tmp_dir):
    """vacuum() deletes orphans past the grace window, keeps younger
    ones (possibly an in-flight batch), never touches committed files,
    and read-back is unchanged afterwards."""
    import os
    import shutil

    from noaa_etl_spark.sources.manifest_sink import (
        ManifestSinkDataSource,
        read_manifest_sink,
        vacuum,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    spark.dataSource.register(SyntheticObsDataSource)
    df = (
        spark.read.format("synthetic_obs")
        .option("n_stations", 4)
        .option("n_days", 6)
        .load()
    )
    out = os.path.join(tmp_dir, "sink")
    shutil.rmtree(out, ignore_errors=True)
    df.write.format("manifest_sink").option("path", out).mode("append").save()

    old_orphan = os.path.join(out, "data", "part-dead.jsonl")
    new_orphan = os.path.join(out, "data", "part-inflight.jsonl")
    for p in (old_orphan, new_orphan):
        with open(p, "w") as fh:
            fh.write('{"station_id": "GHOST", "day": 1, "element": "TMAX", "value_scaled": 1}\n')
    os.utime(old_orphan, (1, 1))  # ancient mtime — past any grace window

    report = vacuum(out, grace_seconds=3600)
    assert report["deleted"] == ["part-dead.jsonl"]
    assert report["kept_recent"] == 1
    assert report["committed"] == 4
    assert not os.path.exists(old_orphan)
    assert os.path.exists(new_orphan)

    back = read_manifest_sink(spark, out, df.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    # grace=0 sweeps the remaining orphan; committed data still intact
    report2 = vacuum(out, grace_seconds=0)
    assert report2["deleted"] == ["part-inflight.jsonl"]
    assert read_manifest_sink(spark, out, df.schema).count() == df.count()


@pytest.mark.skipif(not _HAS_DATASOURCE_API, reason="Spark 4 DataSource API absent")
def test_manifest_sink_snapshot_time_travel(spark, tmp_dir):
    """Each commit is a snapshot: reading as_of an earlier manifest id
    returns exactly the rows committed up to it, and the history is
    seq-ordered even though batch manifest ids are random uuids."""
    import os
    import shutil

    from noaa_etl_spark.sources.manifest_sink import (
        ManifestSinkDataSource,
        read_manifest_sink,
        snapshots,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    spark.dataSource.register(SyntheticObsDataSource)
    df = (
        spark.read.format("synthetic_obs")
        .option("n_stations", 3)
        .option("n_days", 4)
        .load()
    )
    out = os.path.join(tmp_dir, "sink")
    shutil.rmtree(out, ignore_errors=True)
    for _ in range(3):
        df.write.format("manifest_sink").option("path", out).mode("append").save()

    hist = snapshots(out)
    assert [e["seq"] for e in hist] == [0, 1, 2]
    n = df.count()
    for i, e in enumerate(hist):
        back = read_manifest_sink(spark, out, df.schema, as_of=e["id"])
        assert back.count() == (i + 1) * n
    # full read (no as_of) == latest snapshot
    assert read_manifest_sink(spark, out, df.schema).count() == 3 * n
    with pytest.raises(ValueError):
        read_manifest_sink(spark, out, df.schema, as_of="nope")


# ---------------------------------------------------------------------------
# zstd text DataSource pair (sources/zstd_text.py)
# ---------------------------------------------------------------------------


@pytest.mark.skipif(not _HAS_DATASOURCE_API, reason="Spark 4 DataSource API absent")
def test_zst_csv_roundtrip_identity(spark, tmp_path):
    """Distributed .zst CSV write → read is row-identical to the source
    frame (including NULLs and doubles), with declared-schema column
    order, one Spark partition per part file."""
    from noaa_etl_spark.sources.zstd_text import read_csv_zst, write_csv_zst

    src = (
        load_table(spark, SF_SMALL, "orders")
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            # exercise NULLs through the text roundtrip
            F.when(F.col("o_orderkey") % 7 == 0, None)
            .otherwise(F.col("o_orderpriority"))
            .alias("o_orderpriority"),
        )
        .repartition(4)
    )
    path = str(tmp_path / "orders_zst")
    write_csv_zst(src, path)

    import os

    parts = [f for f in os.listdir(path) if f.endswith(".csv.zst")]
    assert len(parts) == 4

    back = read_csv_zst(
        spark,
        path,
        "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, o_orderpriority STRING",
    )
    assert back.rdd.getNumPartitions() == 4  # one partition per file
    assert [f.name for f in back.schema.fields] == [
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
    ]
    got = sorted(map(tuple, back.collect()))
    want = sorted(map(tuple, src.collect()))
    assert got == want


@pytest.mark.skipif(not _HAS_DATASOURCE_API, reason="Spark 4 DataSource API absent")
def test_zst_csv_overwrite_and_empty_partitions(spark, tmp_path):
    from noaa_etl_spark.sources.zstd_text import read_csv_zst, write_csv_zst

    path = str(tmp_path / "zst_ow")
    df = spark.range(0, 100, 1, 2).selectExpr("id", "id * 2 AS v")
    write_csv_zst(df, path)
    # Overwrite with a frame that leaves some partitions empty: empty
    # tasks must not emit files, and old parts must be retired.
    small = spark.range(0, 3, 1, 8).selectExpr("id", "id * 2 AS v")
    write_csv_zst(small, path)
    back = read_csv_zst(spark, path, "id BIGINT, v BIGINT")
    assert sorted(map(tuple, back.collect())) == [(0, 0), (1, 2), (2, 4)]


def test_spark_text_zstd_codec_really_absent(spark, tmp_path):
    """The premise of the DataSource pair: Spark's built-in CSV writer
    rejects zstd in this container. If this ever starts passing (native
    codec appears), prefer the built-in path and keep the DataSource as
    the no-native-codec fallback."""
    df = spark.range(5).selectExpr("id")
    with pytest.raises(Exception, match="CODEC_NOT_AVAILABLE|zstd"):
        (
            df.write.mode("overwrite")
            .option("compression", "zstd")
            .csv(str(tmp_path / "zstd_csv_native"))
        )
