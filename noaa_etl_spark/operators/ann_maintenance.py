"""Incremental IVF index maintenance — add new vector batches to an
existing index WITHOUT retraining, and know when retraining is due.

A 100 TB embedding corpus is never indexed once: batches arrive
continuously, and re-running k-means per batch is wasted motion (the
centroids barely move for in-distribution data). The production loop is

1. ``assign_with_distance`` — tag the NEW batch with nearest-cell ids
   and assignment distances (scan-local Arrow matmul against the frozen
   centroid matrix; zero shuffle, exactly like query-time assignment);
2. append the assignments to the index's cell table (a union — no
   reshuffle of the existing index);
3. ``drift_report`` — compare the new batch's per-cell assignment
   distances against an OUT-OF-SAMPLE calibration baseline (a held-out
   in-distribution split scored at build time; training-data distances
   are biased low, so using them as the baseline reads every future
   batch as elevated — generalization gap, not drift). Rising distances
   mean the data distribution has left the centroids behind: that — not
   a wall-clock schedule — is the retrain trigger.

Distances are squared L2 between UNIT vectors (2 - 2·cos), so the
baseline is scale-free and comparable across batches. Per-cell stats
(n, mean_d2) are algebraic and mergeable — the baseline itself can be
maintained incrementally as batches are absorbed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from noaa_etl_spark.functions.vectors import as_double
from noaa_etl_spark.operators.similarity import _nearest_centers, _unit_rows


def assign_with_distance(
    vectors: DataFrame,
    cells: tuple[np.ndarray, np.ndarray],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cell_id, d2): nearest cell per vector plus the squared
    unit-sphere distance to its centroid — the quantity drift monitoring
    needs and plain assignment throws away.

    The cell is chosen by the index's own cell rule
    (``similarity._nearest_centers``, the rule ``knn_ivf`` builds and
    probes with), so an absorbed vector lands in the cell its queries
    probe first. d2 is measured to the unit-scaled centroid ĉ
    (1 + ĉ·ĉ − 2u·ĉ = 2 − 2·cos), which keeps drift margins scale-free.
    Same Arrow-matmul shape as query-time cell assignment: the centroid
    matrix is closed over (tiny by contract) — no shuffle, no window, no
    row inflation. cell_id ties break by ascending cell_id.
    """
    from pyspark.sql.functions import pandas_udf

    cell_ids, centers = cells
    cent_t = _unit_rows(centers).T
    c2 = (cent_t * cent_t).sum(axis=0)

    @pandas_udf("cell_id int, d2 double")
    def nearest(vecs: pd.Series) -> pd.DataFrame:
        if not len(vecs):
            return pd.DataFrame({"cell_id": [], "d2": []}).astype(
                {"cell_id": "int32", "d2": "float64"}
            )
        unit = _unit_rows(np.array(vecs.tolist(), dtype=np.float64))
        idx = _nearest_centers(unit, centers, 1)[:, 0]
        d2 = 1.0 + c2[idx] - 2.0 * (unit @ cent_t)[np.arange(len(idx)), idx]
        return pd.DataFrame(
            {"cell_id": cell_ids[idx].astype("int32"), "d2": np.maximum(d2, 0.0)}
        )

    assigned = vectors.select(
        F.col(id_col).alias("vec_id"),
        nearest(as_double(F.col(vec_col))).alias("a"),
    )
    return assigned.select("vec_id", "a.cell_id", "a.d2")


def cell_stats(assigned: DataFrame) -> DataFrame:
    """Per-cell (n, mean_d2) from an assignment frame — the index's
    distance baseline. Algebraic (count + sum), so partials combine
    map-side and two baselines merge by weighted average."""
    return assigned.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("d2").alias("mean_d2"),
    )


def drift_report(
    base_stats: DataFrame,
    new_assigned: DataFrame,
    margin: float = 0.1,
    min_new: int = 5,
) -> DataFrame:
    """Per-cell drift verdict for a new batch against the build-time
    baseline: (cell_id, n_base, n_new, mean_d2_base, mean_d2_new,
    drift). ``drift`` fires when the cell saw at least ``min_new`` new
    vectors and either (a) their mean assignment distance exceeds the
    baseline by ``margin``, or (b) the cell had NO baseline members at
    all (new mass in a never-used cell is itself a distribution
    signal). Cells the new batch never touches report n_new = 0,
    drift = false (no evidence is not drift).

    The threshold is an ABSOLUTE margin on squared unit-sphere distance
    (range [0, 4]; i.i.d.-random vectors plateau near 2): distances are
    already scale-free, and a ratio threshold goes blind exactly when
    the baseline sits near the random plateau — base 1.4 → shifted 1.65
    is a real drift signal that no reachable ratio (max 2/1.4 ≈ 1.43×)
    can express. The default 0.1 is ~5% of the plateau.

    Full-outer join: a batch landing in a base-empty cell must appear,
    not vanish with the base side. The report is |cells| rows — join
    and aggregate are centroid-table sized, never corpus-sized.
    """
    new_stats = cell_stats(new_assigned).select(
        "cell_id",
        F.col("n").alias("n_new"),
        F.col("mean_d2").alias("mean_d2_new"),
    )
    base = base_stats.select(
        "cell_id",
        F.col("n").alias("n_base"),
        F.col("mean_d2").alias("mean_d2_base"),
    )
    joined = base.join(new_stats, "cell_id", "full")
    n_new = F.coalesce(F.col("n_new"), F.lit(0))
    return joined.select(
        "cell_id",
        F.coalesce(F.col("n_base"), F.lit(0)).alias("n_base"),
        n_new.alias("n_new"),
        "mean_d2_base",
        "mean_d2_new",
        (
            (n_new >= min_new)
            & (
                F.col("mean_d2_base").isNull()
                | (F.col("mean_d2_new") > F.col("mean_d2_base") + F.lit(margin))
            )
        ).alias("drift"),
    )


def ivf_add_batch(
    index_assignments: DataFrame,
    new_vectors: DataFrame,
    cells: tuple[np.ndarray, np.ndarray],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Absorb a new vector batch into an existing IVF assignment table:
    assign against the FROZEN centroids and union — the existing index
    rows are untouched (no reshuffle, no rewrite; at 100 TB the new
    batch is the only data that moves). Returns the updated
    (vec_id, cell_id, d2) table."""
    new_assigned = assign_with_distance(
        new_vectors, cells, id_col=id_col, vec_col=vec_col
    )
    return index_assignments.unionByName(new_assigned)


def streaming_drift_monitor(
    stream_vectors: DataFrame,
    cells: tuple[np.ndarray, np.ndarray],
    base_stats: DataFrame,
    out_path: str,
    checkpoint_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    margin: float = 0.1,
    min_new: int = 5,
):
    """Continuous index maintenance: per micro-batch, assign arriving
    vectors against the FROZEN centroids, write the assignments (the
    incremental index append), and emit that batch's per-cell drift
    report stamped with batch_id — the monitoring stream an index
    service alerts on.

    foreachBatch form: each batch is a plain DataFrame, so the batch
    operators (assign_with_distance / drift_report) run verbatim — one
    definition for both planes, like the stateless ETL twins. Output is
    append-only parquet (assignments under data/, reports under
    reports/) keyed by batch_id, so a restarted query re-emitting a
    batch overwrites deterministically rather than double-counting.

    100 TB: per-batch work is the scan-local Arrow matmul + a |cells|-row
    report; state is the FROZEN (centroids, baseline) pair closed over
    at start — no state store, no watermark, arbitrary parallelism.
    Centroid refresh = restart the query with new frozen state (the
    drift report is what tells you when).
    """
    base = base_stats.collect()
    spark = stream_vectors.sparkSession
    base_local = spark.createDataFrame(base, base_stats.schema)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        from noaa_etl_spark.streaming.core import record_foreach_batch_plan

        assigned = assign_with_distance(
            batch_df, cells, id_col=id_col, vec_col=vec_col
        )
        data = assigned.withColumn("batch_id", F.lit(batch_id))
        record_foreach_batch_plan("drift_data", data)
        data.write.mode("overwrite").parquet(f"{out_path}/data/batch_id={batch_id}")
        rep = drift_report(
            base_local, assigned, margin=margin, min_new=min_new
        ).withColumn("batch_id", F.lit(batch_id))
        record_foreach_batch_plan("drift_report", rep)
        rep.write.mode("overwrite").parquet(f"{out_path}/reports/batch_id={batch_id}")

    return (
        stream_vectors.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
    )
