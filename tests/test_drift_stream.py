"""Streaming drift monitor: per-micro-batch incremental index appends +
drift reports via foreachBatch (operators/ann_maintenance.py)."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F


def _write_batch_dir(spark, path, anchors, per, vid0, seed):
    import numpy as np

    rng = np.random.default_rng(seed)
    rows, vid = [], vid0
    for anchor in anchors:
        for _ in range(per):
            v = anchor + rng.normal(0, 0.05, len(anchor))
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).coalesce(1).write.mode("append").parquet(path)


def test_streaming_drift_monitor_flags_shifted_batch(spark, tmp_dir):
    """Two files drained as a stream: an in-distribution batch and an
    orthogonal-shifted batch. Every batch's assignments land under
    data/batch_id=N, every report under reports/batch_id=N, and the
    union of reports must contain drift=true rows only where shifted
    vectors landed (total drift mass equals the shifted file's rows)."""
    from noaa_etl_spark.operators.ann_maintenance import (
        assign_with_distance,
        cell_stats,
        streaming_drift_monitor,
    )
    from noaa_etl_spark.operators.similarity import _train_ivf_cells

    src = f"{tmp_dir}/drift_src"
    out = f"{tmp_dir}/drift_out"
    ckpt = f"{tmp_dir}/drift_ckpt"
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    anchors = np.eye(16)[:4]
    shifted_anchors = np.eye(16)[8:12]

    # train + calibration baseline (batch side, frozen at monitor start)
    rng_train = [(i, a) for i, a in enumerate(anchors)]
    train_rows = []
    rng = np.random.default_rng(3)
    vid = 0
    for _, a in rng_train:
        for _ in range(50):
            train_rows.append(
                (vid, [float(x) for x in a + rng.normal(0, 0.05, 16)])
            )
            vid += 1
    train = spark.createDataFrame(
        train_rows, "vec_id bigint, embedding array<double>"
    )
    cents = _train_ivf_cells(train, n_cells=4)

    calib_rows = []
    for ci, a in enumerate(anchors):
        for j in range(20):
            calib_rows.append(
                (10_000 + ci * 100 + j,
                 [float(x) for x in a + rng.normal(0, 0.05, 16)])
            )
    calib = spark.createDataFrame(
        calib_rows, "vec_id bigint, embedding array<double>"
    )
    base_stats = cell_stats(assign_with_distance(calib, cents))

    # stream source: one in-distribution file + one shifted file
    _write_batch_dir(spark, src, anchors, 20, 20_000, seed=11)
    _write_batch_dir(spark, src, shifted_anchors, 20, 30_000, seed=12)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_drift_monitor(
        stream, cents, base_stats, out, ckpt
    ).start()
    q.awaitTermination(120)

    # every batch wrote assignments + a report
    data_dirs = sorted(
        d for d in os.listdir(f"{out}/data") if d.startswith("batch_id=")
    )
    report_dirs = sorted(
        d for d in os.listdir(f"{out}/reports") if d.startswith("batch_id=")
    )
    assert len(data_dirs) >= 2
    assert data_dirs == report_dirs

    assigned = spark.read.option("basePath", f"{out}/data").parquet(
        f"{out}/data/batch_id=*"
    )
    assert assigned.count() == 160  # 80 in-dist + 80 shifted

    reports = spark.read.option("basePath", f"{out}/reports").parquet(
        f"{out}/reports/batch_id=*"
    )
    flagged = reports.filter(F.col("drift"))
    assert flagged.count() > 0
    # drift rows must account for exactly the shifted file's vectors:
    # every in-distribution batch is silent
    drift_mass = (
        flagged.agg(F.sum("n_new").alias("s")).collect()[0]["s"] or 0
    )
    assert drift_mass == 80

    # restart with the same checkpoint: no new batches → no new dirs
    q2 = streaming_drift_monitor(
        stream, cents, base_stats, out, ckpt
    ).start()
    q2.awaitTermination(60)
    assert sorted(
        d for d in os.listdir(f"{out}/data") if d.startswith("batch_id=")
    ) == data_dirs
