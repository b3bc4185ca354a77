"""Streaming plumbing: fixture tables as file streams, and the two
drains the streaming twins go through.

Design: the engine's temporal operators are written once as DataFrame
shapes; the streaming twins apply the *same shape* to
``spark.readStream``. ``availableNow`` processes everything currently in
the directory then stops — which is exactly the semantics a graded/batch
comparison needs, and on a real cluster is the canonical backfill mode.

- ``run_to_memory``: a streaming DataFrame (stateful operators included)
  drained into an in-memory sink, returned as a batch table.
- ``fold_stream``: a source frame split into three arrival files and
  drained through ``foreachBatch``; each micro-batch writes its partial
  state under ``batch_id=N`` and the twin folds the states it gets back.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from noaa_etl_spark.io import normalize_events_ts
from noaa_etl_spark.session import configure_session

_CHECKPOINT_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".tmp",
    "checkpoints",
)

# Last executed micro-batch physical plan per query name, captured after
# every run_to_memory drain. Streaming plans are invisible to the batch
# cost audit (df.explain on the returned memory table shows the SINK
# scan, not the micro-batch pipeline) — this is the hook the streaming
# COSTS gate reads so a stream query gaining a shuffle fails CI.
LAST_STREAM_PLANS: dict[str, str] = {}

# staged_stream_src cache: (abs sf_dir, twin name) -> staged src dir.
# Process-local by construction — nothing persists across bench/driver
# invocations, so every run still derives its micro-batch files from the
# parquet inputs.
_STAGED_SRC: dict[tuple[str, str], str] = {}


def staged_stream_src(sf_dir: str, name: str, build) -> str:
    """Stage a twin's micro-batch SOURCE files once per (session,
    sf_dir, twin) and return the src directory.

    The deterministic split of a fixture table into arrival-ordered
    parquet files is input PREPARATION (scaffolding), not operator
    work — r15/r16 measured the per-twin wall dominated by re-writing
    these files on every invocation (2-3 write jobs per twin per run).
    First call per key: the directory is cleared and ``build(src_dir)``
    writes the files; later calls in the SAME process reuse them. The
    cache key includes the data directory, so a different SF stages its
    own copy, and the cache dies with the process — no cross-run
    persistence. Checkpoints and per-batch outputs stay per-run
    (``fold_stream`` wipes them; a stale checkpoint would make
    availableNow see no data). The first staging of a key also removes
    the ``<name>/src`` directory that per-run staging used to leave."""
    key = (os.path.abspath(sf_dir), name)
    src = _STAGED_SRC.get(key)
    if src is None:
        # The directory must be unique per KEY, not just per twin: a
        # process that stages the same twin at two sf_dirs (e.g. a
        # multi-SF test run) would otherwise rebuild into the first
        # key's cached path and poison it.
        tag = hashlib.md5(key[0].encode()).hexdigest()[:8]
        root = os.path.join(os.path.dirname(_CHECKPOINT_ROOT), name)
        src = os.path.join(root, f"src-{tag}")
        for d in (src, os.path.join(root, "src")):
            shutil.rmtree(d, ignore_errors=True)
        build(src)
        _STAGED_SRC[key] = src
    return src

# Graded streaming query -> the LAST_STREAM_PLANS keys its drain leaves
# behind: `mem_*` = executed micro-batch plan of a run_to_memory sink,
# `fb_*` = formatted plans of the frames a foreachBatch function writes
# (captured via record_foreach_batch_plan — invisible to both the batch
# audit and explainInternal otherwise). tools/cost_audit.py records and
# tests/test_costs.py gates the SUM of exchange counts across a query's
# keys, so a shuffle creeping into ANY written frame fails CI.
STREAM_PLAN_KEYS: dict[str, list[str]] = {
    "q_stream_pii_scrub": ["mem_stream_pii_scrub"],
    "q_stream_chunk_documents": ["mem_stream_chunk_documents"],
    "q_stream_tumbling": ["mem_stream_tumbling"],
    "q_stream_sessionize": ["mem_stream_sessionize"],
    "q_stream_dedup": ["mem_stream_dedup"],
    "q_stream_dedup_watermark": ["mem_stream_dedup_wm"],
    "q_stream_quality_gate": ["mem_stream_quality_gate"],
    "q_stream_cms_frequencies": ["fb_stream_cms_grid"],
    "q_stream_stats_merge": ["fb_stream_stats_state"],
    "q_stream_feature_pit": ["fb_stream_pit_enrich"],
    "q_stream_drift_monitor": ["fb_drift_data", "fb_drift_report"],
    "q_stream_decayed_sum": ["fb_stream_decay_partial"],
    "q_stream_cdc_apply": ["fb_stream_cdc_partial"],
    "q_stream_forecast_holt": ["fb_stream_holt_partial"],
    "q_stream_holt_winters": ["fb_stream_hw_partial"],
    "q_stream_user_ltv": ["fb_stream_ltv_partial"],
    "q_stream_ab_test": ["fb_stream_ab_moments"],
    "q_stream_psi_drift": ["fb_stream_psi_binned"],
    "q_stream_kmv_distinct": ["fb_stream_kmv_sketch", "fb_stream_kmv_keys"],
    "q_stream_changepoint": ["fb_stream_changepoint_partial"],
    "q_stream_activity_bitmask": ["fb_stream_bitmask_state"],
    "q_stream_bootstrap_ci": ["fb_stream_bootstrap_state"],
    "q_stream_ohlc": ["fb_stream_ohlc_state"],
    "q_stream_rolling_median": ["fb_stream_rollmed_partial"],
    "q_stream_gini": ["fb_stream_gini_partial"],
    "q_stream_dsir": ["fb_stream_dsir_partial"],
    "q_stream_covariance": ["fb_stream_covariance_partial"],
    "q_stream_chi_square": ["fb_stream_chi_square_partial"],
    "q_stream_mannwhitney": ["fb_stream_mannwhitney_partial"],
    "q_stream_funnel": ["fb_stream_funnel_partial"],
    "q_stream_oov_rate": ["fb_stream_oov_partial"],
    "q_stream_calibration_bins": ["fb_stream_calib_partial"],
    "q_stream_auc": ["fb_stream_auc_partial"],
    "q_stream_record_linkage": ["fb_stream_linkage_pairs", "fb_stream_linkage_counts"],
    "q_stream_hist_quantiles": ["fb_stream_hist_partial"],
    "q_stream_mime_sniff": ["fb_stream_mime_partial"],
    "q_stream_session_funnel": ["mem_stream_session_funnel"],
    "q_stream_ewma_irregular": ["fb_stream_ewma_partial"],
    "q_stream_source_entropy": ["fb_stream_src_entropy_partial"],
    "q_stream_cuped": ["fb_stream_cuped_partial"],
    "q_stream_out_of_order": ["fb_stream_ooo_partial"],
    "q_stream_rolling_corr": ["fb_stream_rollcorr_partial"],
    "q_stream_jsd_drift": ["fb_stream_jsd_grid"],
    "q_stream_spearman": ["fb_stream_spearman_partial"],
    "q_stream_forecast_backtest": ["fb_stream_fcbt_partial"],
    "q_stream_theil_sen": ["fb_stream_theil_sen_partial"],
    "q_stream_kendall": ["fb_stream_kendall_partial"],
    "q_stream_cliffs_delta": ["fb_stream_cliffs_partial"],
    "q_stream_conformal": ["fb_stream_conformal_partial"],
    "q_stream_mspt": ["fb_stream_mspt_partial"],
    "q_stream_zipf": ["fb_stream_zipf_partial"],
    "q_stream_diff_in_diff": ["fb_stream_did_cells"],
    "q_stream_kruskal": ["fb_stream_kruskal_grid"],
    "q_stream_heaps": ["fb_stream_heaps_tokens", "fb_stream_heaps_firsts"],
    "q_stream_multiple_regression": ["fb_stream_ols_moments"],
    "q_stream_decision_stump": ["fb_stream_stump_grid"],
    "q_stream_wilcoxon": ["fb_stream_wilcoxon_user"],
    "q_stream_levene": ["fb_stream_levene_grid"],
    "q_stream_mann_kendall": ["fb_stream_mk_daily"],
    "q_stream_cronbach": ["fb_stream_cronbach_user"],
    "q_stream_gap_regularity": ["fb_stream_gapreg_segments"],
    "q_stream_page_hinkley": ["fb_stream_ph_daily"],
    "q_stream_norm_audit": ["fb_stream_norms_partial"],
    "q_stream_tukey": ["fb_stream_tukey_grid"],
    "q_stream_simpson": ["fb_stream_simpson_cells"],
    "q_stream_clustering_coefficient": ["fb_stream_cc_items"],
    "q_stream_metric_waterfall": ["fb_stream_waterfall_cells"],
    "q_stream_seasonality": ["fb_stream_seasonality_daily"],
    "q_stream_funnel_ttc": ["fb_stream_ttc_firsts"],
    "q_stream_bounce_rate": ["fb_stream_bounce_sessions"],
    "q_stream_apdex": ["fb_stream_apdex_bands"],
    "q_stream_error_budget": ["fb_stream_slo_hourly"],
    "q_stream_mcc": ["fb_stream_mcc_conf"],
    "q_stream_cochran_armitage": ["fb_stream_ca_grid"],
}


def record_foreach_batch_plan(name: str, df: DataFrame) -> None:
    """Capture the physical plan of a frame a foreachBatch function is
    about to write.

    foreachBatch inner work is invisible to BOTH audit surfaces: the
    batch cost audit never sees it (it runs only at drain time) and
    ``query.explainInternal`` shows just the stream-scan→foreachBatch
    sink, not the batch jobs the function launches. This hook closes the
    gap: the foreachBatch twins call it on each frame they write, the
    LAST batch's plan wins, and the streaming COSTS gate reads it under
    the ``fb_<name>`` key. The plan is the pre-AQE formatted plan
    (deterministic — no runtime shuffle→broadcast conversions), so
    committed counts and gate counts come from one capture method.
    Multiple frames per batch append under distinct names.
    """
    from noaa_etl_spark.plans.audit import formatted_plan

    try:
        LAST_STREAM_PLANS[f"fb_{name}"] = formatted_plan(df)
    except Exception:  # audit aid, never a failure
        LAST_STREAM_PLANS.pop(f"fb_{name}", None)


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Open one fixture table as a file-source stream.

    Schema is taken from a batch read of the same file (schemas must be
    declared for file streams); the events nanos→micros conversion is
    applied identically to the batch loader so both planes see one
    schema.
    """
    configure_session(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = spark.read.parquet(path).schema
    df = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    if name == "events":
        df = normalize_events_ts(df)
    return df


def run_to_memory(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into an
    in-memory table and return that table as a batch DataFrame.

    The checkpoint dir is recreated per run — a stale checkpoint would
    make availableNow see 'no new data' and return an empty table.
    """
    spark = stream_df.sparkSession
    checkpoint = os.path.join(_CHECKPOINT_ROOT, query_name)
    shutil.rmtree(checkpoint, ignore_errors=True)
    # r15 opt: stateful streaming shuffles are NOT reached by AQE
    # coalescing, and the first micro-batch bakes
    # spark.sql.shuffle.partitions into the state layout — under a
    # vanilla session that is 200 state-store instances per stateful
    # operator per micro-batch (q_stream_interval_join drained in 93 s
    # at sf0.01 under the vanilla driver; ~8 s sized). Scope-set the
    # count to the executor parallelism ONLY when the session still
    # carries Spark's untouched 200 default (an explicit production
    # sizing — sized_confs() or operator config — is respected
    # verbatim); restore after the drain. Fresh checkpoint per run ⇒
    # no cross-run state-layout conflict.
    # r16 fix (ADVICE r15): on a session that never explicitly set the
    # conf, conf.get(key, None) returns None — NOT "200" — so the old
    # `prev == "200"` guard never fired under exactly the vanilla
    # driver the sizing targets, and would have overridden a session
    # that deliberately pinned 200. None ⇒ untouched default ⇒ size it
    # and unset after; any explicit value (including 200) is respected
    # verbatim.
    part_key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(part_key, None)
    if prev is None:
        spark.conf.set(part_key, str(spark.sparkContext.defaultParallelism))
    try:
        query = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        if prev is None:
            spark.conf.unset(part_key)
    # explainInternal on a terminated availableNow query returns the
    # LAST micro-batch's executed physical plan (incremental execution
    # is retained on the query handle) — the only surface that shows
    # streaming Exchange/StateStore nodes.
    try:
        LAST_STREAM_PLANS[query_name] = query._jsq.explainInternal(False)
    except Exception:  # plan capture is an audit aid, never a failure
        LAST_STREAM_PLANS.pop(query_name, None)
    return spark.table(query_name)


def hash_split(seed: str, *cols) -> Column:
    """The usual ``fold_stream`` split: a seeded xxhash64 of ``cols``,
    mod 3 — deterministic, so every session stages the same files."""
    return F.pmod(F.xxhash64(F.lit(seed), *cols), F.lit(3))


def range_split(frame: DataFrame, t: str) -> Column:
    """A ``fold_stream`` split into three equal-width half-open ranges of
    the BIGINT column ``t``, as 0/1/2 (ties never straddle a cut). The
    bounds are scalar subqueries over ``frame``, so they are computed by
    the staging writes — once per session — and never by a drain."""
    b = frame.agg(
        F.struct(
            F.min(t).alias("lo"), F.expr(f"(max({t}) - min({t})) div 3").alias("step")
        )
    ).scalar()
    lo, step = b["lo"], b["step"]
    return (
        F.when(F.col(t) < lo + step, F.lit(0))
        .when(F.col(t) < lo + 2 * step, F.lit(1))
        .otherwise(F.lit(2))
    )


def fold_stream(
    sf_dir: str,
    name: str,
    source: DataFrame,
    split: Column,
    partials: dict,
    files_per_batch: int = 1,
) -> list[DataFrame]:
    """Drain ``source`` through foreachBatch as three micro-batches and
    return the per-batch states the ``partials`` wrote, read back.

    - ``source``: the rows that arrive; its schema is the stream schema.
    - ``split``: each row's micro-batch, 0-2 (``hash_split`` /
      ``range_split``). It may read columns ``source`` projected away —
      Spark resolves them from the source's input — so a gate key need
      not be staged.
    - ``partials``: plan key -> ``fn(batch_df) -> frame``. Per batch,
      each frame's plan is recorded under its key
      (``record_foreach_batch_plan``), then the frame overwrites
      ``<key>/batch_id=N``: a batch replayed after a failure replaces
      its own output, so restarts are idempotent.
    - ``files_per_batch``: files staged per micro-batch (one by default;
      more gives a heavy batch scan parallelism).

    Everything lives under ``.tmp/<name>``: the source files, staged once
    per session by ``staged_stream_src``; ``ckpt`` and one directory per
    partial, both wiped before each run (a stale checkpoint would make
    availableNow see no data). Returns one frame per partial, in
    ``partials`` order, each with its ``batch_id`` partition column.
    """
    spark = source.sparkSession
    root = os.path.join(os.path.dirname(_CHECKPOINT_ROOT), name)
    ckpt = os.path.join(root, "ckpt")
    states = {key: os.path.join(root, key) for key in partials}
    for d in (ckpt, *states.values()):
        shutil.rmtree(d, ignore_errors=True)

    def build(src: str) -> None:
        for i in range(3):
            source.filter(split == i).coalesce(files_per_batch).write.mode(
                "append"
            ).parquet(src)

    src = staged_stream_src(sf_dir, name, build)

    def absorb(batch_df: DataFrame, batch_id: int) -> None:
        for key, partial in partials.items():
            frame = partial(batch_df)
            record_foreach_batch_plan(key, frame)
            frame.write.mode("overwrite").parquet(f"{states[key]}/batch_id={batch_id}")

    stream = (
        spark.readStream.schema(source.schema)
        .option("maxFilesPerTrigger", str(files_per_batch))
        .parquet(src)
    )
    (
        stream.writeStream.foreachBatch(absorb)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return [spark.read.parquet(d) for d in states.values()]
