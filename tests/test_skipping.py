"""File-level stats-index data skipping (operators/skipping.py):
soundness (never lose a matching row), effectiveness (fewer files
scanned on a range layout), and the NULL-stats keep rule."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from noaa_etl_spark.operators.skipping import (
    build_stats_index,
    prune_files,
    read_pruned,
)


@pytest.fixture(scope="module")
def laid_out(spark, tmp_dir_module):
    path = f"{tmp_dir_module}/skip_events"
    df = spark.range(0, 10_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).alias("v"),
        F.concat(F.lit("u"), (F.col("id") % 11).cast("string")).alias("tag"),
    )
    df.repartitionByRange(10, "k").write.mode("overwrite").parquet(path)
    return path


@pytest.fixture(scope="module")
def tmp_dir_module(request):
    import os

    from noaa_etl_spark.io import SCRATCH_ROOT

    path = os.path.join(SCRATCH_ROOT, "skipping_mod")
    os.makedirs(path, exist_ok=True)
    return path


def test_index_has_one_row_per_file_and_covers_rows(spark, laid_out):
    idx = build_stats_index(spark, laid_out, ["k", "v"])
    pdf = idx.toPandas()
    assert len(pdf) == len(spark.read.parquet(laid_out).inputFiles())
    assert pdf["n_rows"].sum() == 10_000
    # file-grain stats bracket the global envelope
    assert pdf["k_min"].min() == 0 and pdf["k_max"].max() == 9_999


def test_pruned_read_equals_full_filter_and_skips_files(spark, laid_out):
    idx = build_stats_index(spark, laid_out, ["k"])
    bounds = {"k": (2_000, 3_499)}
    kept = prune_files(idx, bounds)
    total = len(spark.read.parquet(laid_out).inputFiles())
    assert 0 < len(kept) < total  # the layout makes skipping bite

    pruned = read_pruned(spark, laid_out, idx, bounds).filter(
        F.col("k").between(2_000, 3_499)
    )
    full = spark.read.parquet(laid_out).filter(F.col("k").between(2_000, 3_499))
    got = sorted(r.k for r in pruned.collect())
    want = sorted(r.k for r in full.collect())
    assert got == want  # soundness: identical rows, not just counts
    assert len(pruned.inputFiles()) == len(kept)


def test_half_open_bounds(spark, laid_out):
    idx = build_stats_index(spark, laid_out, ["k"])
    assert len(prune_files(idx, {"k": (None, 999)})) < len(
        prune_files(idx, {"k": (None, None)})
    )
    assert set(prune_files(idx, {"k": (9_000, None)})) <= set(
        prune_files(idx, {"k": (None, None)})
    )


def test_null_stats_keep_the_file(spark, tmp_dir_module):
    """A file whose column has no usable stats (all NULL) must survive
    pruning — skipping may be incomplete, never unsound."""
    path = f"{tmp_dir_module}/skip_nulls"
    spark.createDataFrame(
        [(1, None), (2, None)], "k bigint, v bigint"
    ).coalesce(1).write.mode("overwrite").parquet(path)

    idx = build_stats_index(spark, path, ["v"])
    row = idx.collect()[0]
    assert row.v_min is None and row.v_max is None
    # NULL stats ⇒ kept under ANY bounds (skipping may be incomplete,
    # never unsound)
    assert len(prune_files(idx, {"v": (100, 200)})) == 1


def test_empty_prune_returns_empty_frame_with_schema(spark, laid_out):
    idx = build_stats_index(spark, laid_out, ["k"])
    out = read_pruned(spark, laid_out, idx, {"k": (1_000_000, 2_000_000)})
    assert out.count() == 0
    assert set(out.columns) == {"k", "v", "tag"}


def test_unknown_column_raises(spark, laid_out):
    with pytest.raises(ValueError):
        build_stats_index(spark, laid_out, ["nope"])
