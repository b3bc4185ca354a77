"""Structured Streaming graded queries (SURVEY.md §2.J): the streaming
twins of the batch operators, drained with ``trigger(availableNow=True)``
so the driver receives an ordinary batch DataFrame. Stateful twins go
through a memory sink (``run_to_memory``); fold twins stage their source
as three micro-batches and name only their split, per-batch partials and
finalize (``fold_stream``). Two twins drain through sinks of their own:
``q_stream_drift_monitor`` and ``q_stream_observed_metrics``.

Semantics notes vs the batch oracle:

- Complete output mode emits every window/session, so results equal the
  batch computation over the same files — that is what makes these
  oracle-pairable at all.
- ``F.session_window`` starts a new session when the inter-event gap is
  ≥ gap; the batch lag/cumsum form uses > gap. They differ only on a gap
  of *exactly* 30:00.000000 — impossible-in-practice with sub-second
  fixture timestamps, and asserted identical in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from noaa_etl_spark.registry import graded
from noaa_etl_spark.streaming.core import (
    fold_stream,
    hash_split,
    range_split,
    run_to_memory,
    stream_table,
)


@graded(
    "q_stream_tumbling",
    oracle="""
    WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS bucket_start,
           event_type,
           count(*)   AS n_events,
           CAST(sum(floor(value)) AS BIGINT) AS floor_value
    FROM e
    GROUP BY 1, 2
    ORDER BY bucket_start, event_type
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregate: identical groupBy(F.window)
    shape as the batch q_tumbling_window, on readStream + watermark."""
    ev = stream_table(spark, sf_dir, "events").withWatermark("ts", "1 hour")
    agg = ev.groupBy(F.window("ts", "10 minutes").alias("win"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor("value").cast("bigint")).alias("floor_value"),
    )
    result = run_to_memory(agg, "mem_stream_tumbling", "complete")
    return result.select(
        F.col("win.start").alias("bucket_start"),
        "event_type",
        "n_events",
        "floor_value",
    ).orderBy("bucket_start", "event_type")


@graded(
    "q_stream_sessionize",
    oracle="""
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) >= 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM e
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           min(ts)                        AS session_start,
           max(ts) + INTERVAL 30 MINUTE   AS session_end,
           count(*)                       AS n_events
    FROM sessions
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-sessionization via the native F.session_window
    stateful operator (the batch q_sessionize's streaming twin). Session
    end = last event + gap, mirrored in the oracle CTE; the oracle flags
    a new session on gap ≥ 30 min to match session-window merge
    semantics (windows merge only when they overlap)."""
    ev = stream_table(spark, sf_dir, "events").withWatermark("ts", "1 hour")
    agg = ev.groupBy(
        F.session_window("ts", "30 minutes").alias("sw"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    result = run_to_memory(agg, "mem_stream_sessionize", "complete")
    return result.select(
        "user_id",
        F.col("sw.start").alias("session_start"),
        F.col("sw.end").alias("session_end"),
        "n_events",
    ).orderBy("user_id", "session_start")


@graded(
    "q_stream_dedup",
    oracle="""
    SELECT event_type, count(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: the stream unioned with itself
    (every event duplicated) restored to original cardinality by
    stateful dropDuplicates on event_id; counted per type batch-side."""
    a = stream_table(spark, sf_dir, "events")
    b = stream_table(spark, sf_dir, "events")
    deduped = a.unionByName(b).dropDuplicates(["event_id"])
    result = run_to_memory(deduped, "mem_stream_dedup", "append")
    return (
        result.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("event_type")
    )


@graded(
    "q_stream_interval_join",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      FROM events
    ),
    p AS (SELECT user_id AS pu, event_id AS p_id, ts AS p_ts
          FROM e WHERE event_type = 'purchase'),
    c AS (SELECT user_id AS cu, event_id AS c_id, ts AS c_ts
          FROM e WHERE event_type = 'click')
    SELECT p_id, c_id,
           CAST(epoch_us(p_ts) - epoch_us(c_ts) AS BIGINT) AS lag_us
    FROM p JOIN c
      ON pu = cu AND c_ts <= p_ts AND c_ts >= p_ts - INTERVAL 1 HOUR
    ORDER BY p_id, c_id
    """,
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INTERVAL join with watermarks on both sides: each
    purchase matched to the user's clicks in the preceding hour (the
    attribution shape). The range condition bounds join state — Spark
    derives from (watermark, interval) how long each side's rows must be
    retained, so state is O(events per user-hour), not O(stream).

    Scale: both legs shuffle on user_id once; state store per key holds
    only the 1-hour back-window after the 2-hour watermark passes. The
    oracle replays the same join relationally over the complete data,
    which availableNow processing must exactly reproduce (inner join:
    matches emit as soon as both rows arrive; no watermark-gated nulls).
    """
    ev = stream_table(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("pu"),
            F.col("event_id").alias("p_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("cu"),
            F.col("event_id").alias("c_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    cond = (
        (F.col("pu") == F.col("cu"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
    )
    joined = p.join(c, cond, "inner").select(
        "p_id",
        "c_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("lag_us"),
    )
    result = run_to_memory(joined, "mem_stream_interval_join", "append")
    return result.orderBy("p_id", "c_id")


@graded("q_stream_stateful")  # rows-only: custom state machine, not SQL-expressible
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running (count, floor-sum) state machine emitting the
    state after each micro-batch; the final state per user is returned.

    Scale: state is per-key and partitioned by user_id across executors;
    at 100 TB the watermark + timeout config bounds state retention."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def running_totals(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += int(pdf["value"].floordiv(1).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "floor_total": [total]}
        )

    ev = stream_table(spark, sf_dir, "events")
    st = ev.groupBy("user_id").applyInPandasWithState(
        running_totals,
        "user_id bigint, n_events bigint, floor_total bigint",
        "n bigint, total bigint",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    result = run_to_memory(st, "mem_stream_stateful", "update")
    # Update-mode memory sink appends one row per (user, micro-batch);
    # the per-user maximum is the final state.
    return (
        result.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("floor_total").alias("floor_total"),
        )
        .orderBy("user_id")
    )


@graded(
    "q_stream_sliding",
    oracle="""
    WITH buckets AS (
      SELECT CAST(ts AS TIMESTAMP) AS ts, value,
             time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS b
      FROM events
    ),
    starts AS (
      SELECT b, unnest([b, b - INTERVAL '5 minutes']) AS win_start
      FROM (SELECT DISTINCT b FROM buckets)
    )
    SELECT s.win_start AS window_start,
           count(*)           AS n_events,
           round(sum(value), 6) AS total_value
    FROM buckets e JOIN starts s ON e.b = s.b
    GROUP BY s.win_start
    ORDER BY window_start
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding-window aggregate (10-minute windows every 5):
    the stateful twin of the batch q_sliding_window — each event lands in
    two overlapping windows, maintained incrementally per micro-batch.
    Oracle mirrors the batch form: bucket to 5 minutes, unnest each
    bucket into the two windows that contain it."""
    ev = stream_table(spark, sf_dir, "events").withWatermark("ts", "1 hour")
    agg = ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )
    result = run_to_memory(agg, "mem_stream_sliding", "complete")
    return result.select(
        F.col("win.start").alias("window_start"), "n_events", "total_value"
    ).orderBy("window_start")


@graded("q_stream_heavy_hitters")  # rows-only: sketch counts are approximate by design
def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Misra-Gries heavy hitters: per-shard bounded-state
    sketches over the word stream. The batch two-phase form
    (operators/heavy_hitters.py) recounts candidates exactly; a stream
    cannot revisit its past, so this twin keeps the sketch ITSELF as
    state — ≤ (k+1) counters per shard, regardless of how many distinct
    words flow past — and emits (word, approx count, per-shard error
    bound) after each micro-batch. The mergeable-summaries guarantee
    carries over: any word with global frequency ≥ shard_total/(k+1) is
    in the output, and approx_count undercounts the truth by at most
    `err_bound` (tested against the batch-exact counts in
    tests/test_heavy_hitters.py).

    100 TB: state is partitioned by shard (16 here, thousands on a real
    stream) and each shard's state is O(k) — unbounded-cardinality
    counting with bounded memory, the exact property streaming groupBy
    count lacks."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    K = 32

    def mg_sketch(key, pdfs, state):
        if state.exists:
            keys, counts, seen, dropped = state.get
            counters = dict(zip(keys, counts))
        else:
            counters, seen, dropped = {}, 0, 0
        for pdf in pdfs:
            for v, c in pdf["word"].value_counts().items():
                counters[v] = counters.get(v, 0) + int(c)
                seen += int(c)
            if len(counters) > K:
                vals = sorted(counters.values(), reverse=True)
                d = vals[K]
                dropped += d
                counters = {w: c - d for w, c in counters.items() if c > d}
        state.update((list(counters), [counters[w] for w in counters], seen, dropped))
        yield pd.DataFrame(
            {
                "shard": key[0],
                "word": list(counters),
                "approx_count": [counters[w] for w in counters],
                "shard_seen": seen,
                "err_bound": dropped,
            }
        )

    docs = stream_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("word")).select(
        "word", F.pmod(F.xxhash64("word"), F.lit(16)).alias("shard")
    )
    st = words.groupBy("shard").applyInPandasWithState(
        mg_sketch,
        "shard bigint, word string, approx_count bigint, shard_seen bigint, err_bound bigint",
        "keys array<string>, counts array<bigint>, seen bigint, dropped bigint",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    result = run_to_memory(st, "mem_stream_heavy_hitters", "update")
    # update mode re-emits a shard's sketch each micro-batch; the final
    # sketch is the one with that shard's maximum events-seen counter.
    from pyspark.sql import Window

    w = Window.partitionBy("shard")
    return (
        result.withColumn("max_seen", F.max("shard_seen").over(w))
        .where(F.col("shard_seen") == F.col("max_seen"))
        .select("shard", "word", "approx_count", "err_bound")
        .orderBy("shard", "word")
    )


from noaa_etl_spark.queries.text import PII_SCRUB_ORACLE, pii_scrub_projection


@graded("q_stream_pii_scrub", oracle=PII_SCRUB_ORACLE)
def q_stream_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the PII scrub pass: the identical stateless
    projection (queries/text.pii_scrub_projection) applied to
    readStream in append mode. No state, no watermark, no aggregation —
    each micro-batch scrubs and emits its rows, which is exactly how a
    continuous-ingest redaction stage runs; availableNow drains the
    directory so the result equals the batch query and shares its
    oracle verbatim.

    100 TB: same zero-shuffle plan as the batch pass, plus streaming's
    per-micro-batch bound on in-flight data — redaction is the canonical
    'scrub before it ever lands' stage, and statelessness means
    arbitrary parallelism with no state store.
    """
    docs = stream_table(spark, sf_dir, "documents")
    return run_to_memory(pii_scrub_projection(docs), "mem_stream_pii_scrub", "append")


from noaa_etl_spark.queries.text import (
    CHUNK_DOCUMENTS_ORACLE,
    chunk_documents_projection,
)


@graded("q_stream_chunk_documents", oracle=CHUNK_DOCUMENTS_ORACLE)
def q_stream_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the document chunker: the identical stateless
    projection on readStream in append mode — chunk-as-you-ingest.
    Like the scrub twin, statelessness makes the availableNow drain
    equal the batch result, so it shares the batch oracle verbatim.

    100 TB: zero-shuffle per micro-batch; the natural upstream of a
    streaming embedding/index pipeline (chunks flow to the ANN build
    without ever landing un-chunked text)."""
    docs = stream_table(spark, sf_dir, "documents")
    return run_to_memory(
        chunk_documents_projection(docs), "mem_stream_chunk_documents", "append"
    )


from noaa_etl_spark.queries.text import (
    QUALITY_GATE_ORACLE,
    quality_gate_projection,
)


@graded("q_stream_quality_gate", oracle=QUALITY_GATE_ORACLE)
def q_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the rule-based quality gate: the identical
    stateless projection (queries/text.quality_gate_projection) on
    readStream in append mode — gate-as-you-ingest, the stage that runs
    ahead of any dedup so junk never reaches the expensive operators.
    Statelessness makes the availableNow drain equal the batch result,
    so it shares the batch oracle verbatim.

    100 TB: zero-shuffle micro-batches, no state store, arbitrary
    parallelism — same plan as the batch gate plus streaming's bound on
    in-flight data.
    """
    docs = stream_table(spark, sf_dir, "documents")
    return run_to_memory(
        quality_gate_projection(docs), "mem_stream_quality_gate", "append"
    )


@graded("q_stream_drift_monitor")  # rows-only: engine-trained centroids
def q_stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous ANN-index maintenance as a stream
    (operators/ann_maintenance.streaming_drift_monitor): train IVF
    centroids on a ~50% md5-gated split of the embedding corpus, take
    the distance baseline from a ~25% out-of-sample CALIBRATION split,
    then drain the remaining ~25% as a two-file stream
    (maxFilesPerTrigger=1 → two micro-batches). Each micro-batch
    appends its frozen-centroid assignments under data/batch_id=N and
    emits a per-cell drift report under reports/batch_id=N; the query
    returns the union of the per-batch reports — the monitoring table
    an index service alerts on.

    100 TB: per-batch work is a scan-local Arrow matmul against the
    tiny frozen centroid matrix plus a |cells|-row report; foreachBatch
    holds no state store (the frozen (centroids, baseline) pair is the
    only state), and batch_id-keyed overwrite makes checkpoint-restart
    replays idempotent (tests/test_drift_stream.py).
    """
    import os
    import shutil

    from noaa_etl_spark.operators.ann_maintenance import (
        assign_with_distance,
        cell_stats,
        streaming_drift_monitor,
    )
    from noaa_etl_spark.operators.similarity import _train_ivf_cells
    from noaa_etl_spark.io import SCRATCH_ROOT, load_table

    emb = load_table(spark, sf_dir, "embeddings")
    gate = F.substring(
        F.md5(F.concat(F.lit("sdm:"), F.col("vec_id").cast("string"))), 1, 2
    )
    train = emb.filter(gate < "80")                      # ~50%
    calib = emb.filter((gate >= "80") & (gate < "c0"))   # ~25%
    arriving = emb.filter(gate >= "c0")                  # ~25%

    cents = _train_ivf_cells(train, n_cells=8)
    base_stats = cell_stats(assign_with_distance(calib, cents))

    root = os.path.join(SCRATCH_ROOT, "drift_monitor")
    out = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    for d in (out, ckpt):
        shutil.rmtree(d, ignore_errors=True)

    # two arrival files → two micro-batches under maxFilesPerTrigger=1
    g2 = F.substring(
        F.md5(F.concat(F.lit("sdm2:"), F.col("vec_id").cast("string"))), 1, 1
    )

    def _build_src(d: str) -> None:
        arriving.filter(g2 < "8").coalesce(1).write.parquet(d)
        arriving.filter(g2 >= "8").coalesce(1).write.mode("append").parquet(d)

    # r16 opt (VERDICT r15 item 6): micro-batch source files staged
    # once per session — the drain (checkpoint fresh per run) is
    # unchanged.
    from noaa_etl_spark.streaming.core import staged_stream_src

    src = staged_stream_src(sf_dir, "drift_monitor", _build_src)

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    query = streaming_drift_monitor(stream, cents, base_stats, out, ckpt).start()
    query.awaitTermination()
    return spark.read.parquet(os.path.join(out, "reports")).orderBy(
        "batch_id", "cell_id"
    )


from noaa_etl_spark.queries.text import CMS_FREQUENCIES_ORACLE


@graded("q_stream_cms_frequencies", oracle=CMS_FREQUENCIES_ORACLE)
def q_stream_cms_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the count-min sketch: lineitem drained as
    three micro-batches (maxFilesPerTrigger=1 over a 3-file split);
    each batch builds ITS OWN grid inside foreachBatch and appends it
    under batch_id=N (batch_id-keyed overwrite ⇒ restart-
    idempotent, the drift-monitor pattern). Because CMS grids are
    cell-wise ADDITIVE, merging the per-batch grids reproduces the
    one-pass batch grid EXACTLY — so this twin shares the batch
    query's oracle verbatim, the same equality contract as the
    stateless ETL twins but for sketch STATE rather than row
    transforms.

    100 TB: per-trigger work is one map-side-combined grid over the
    batch (≤ d·w cells shuffle); the persisted per-day/per-batch grid
    table answers point-frequency queries over any time range without
    rescanning history — the streaming ingestion half of the sketch
    kit (HLL has the same publishing pattern in q_hll_sketch_union).
    """
    from noaa_etl_spark.io import load_table
    from noaa_etl_spark.operators.cms import cms_build, cms_merge
    from noaa_etl_spark.queries.text import (
        CMS_DEPTH,
        CMS_WIDTH,
        cms_bound_report,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")

    def partial(batch_df: DataFrame) -> DataFrame:
        return cms_build(batch_df, "l_partkey", depth=CMS_DEPTH, width=CMS_WIDTH)

    [grids] = fold_stream(
        sf_dir, "stream_cms", li, hash_split("scms", "l_partkey"),
        {"stream_cms_grid": partial},
    )

    cells = cms_merge(grids).persist()
    cells.count()
    return cms_bound_report(spark, sf_dir, cells)


from noaa_etl_spark.queries.etl import STATS_MERGE_ORACLE


@graded("q_stream_stats_merge", oracle=STATS_MERGE_ORACLE)
def q_stream_stats_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the mergeable variance state: events drained as
    three micro-batches (maxFilesPerTrigger=1 over a 3-file hash split);
    each batch builds its own (n, Σv, Σv²) BIGINT state inside
    foreachBatch and writes it under batch_id=N (batch_id-keyed
    overwrite ⇒ restart-idempotent, the drift-monitor/CMS pattern).
    Because the state is pure integer addition, folding the per-batch
    states reproduces the one-pass batch state EXACTLY — so this twin
    shares the batch query's oracle verbatim, extending the
    twin-equality contract from row transforms (PII scrub) and sketch
    grids (CMS) to incremental-view state.

    100 TB: per-trigger work is one map-side-combined agg over the
    batch (state rows = |keys|, never raw rows); the persisted state
    table IS the continuously-maintained rollup — finalize() serves
    mean/var/stddev dashboards without rescanning history."""
    from noaa_etl_spark.io import load_table
    from noaa_etl_spark.operators.incremental import (
        finalize_stats,
        merge_stats_states,
        stats_state,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") * 100).cast("bigint").alias("cents")
    )

    [states] = fold_stream(
        sf_dir, "stream_stats", ev, hash_split("sst", "cents"),
        {"stream_stats_state": lambda b: stats_state(b, ["event_type"], "cents")},
    )

    merged = merge_stats_states(states.drop("batch_id"))
    return finalize_stats(merged).orderBy("event_type")


from noaa_etl_spark.queries.temporal import PIT_ORACLE, pit_enrich, pit_snapshots


@graded("q_stream_feature_pit", oracle=PIT_ORACLE)
def q_stream_feature_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static feature enrichment: purchase label rows arrive as
    three micro-batches and each batch is point-in-time joined (inside
    foreachBatch) against the STATIC daily feature snapshots — the
    online half of the feature store, where q_feature_store_pit is the
    offline/training half. The as-of match of a probe row depends only
    on that row and the static build side, so the union of per-batch
    outputs equals the batch join exactly — this twin shares the batch
    oracle verbatim (the PII-scrub contract, extended to an as-of
    JOIN rather than a row-local transform). batch_id-keyed overwrite
    keeps checkpoint-restart replays idempotent.

    100 TB: per-trigger cost is one (batch ∪ snapshots) window on
    user_id; the snapshot tables are daily-grain (orders of magnitude
    smaller than the event log) and would be served broadcast on a real
    cluster once they fit the threshold."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events")
    snap_click, snap_view = pit_snapshots(ev)
    snap_click = snap_click.persist()
    snap_view = snap_view.persist()
    snap_click.count(), snap_view.count()

    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )

    [out] = fold_stream(
        sf_dir, "stream_pit", purchases, hash_split("spit", "event_id"),
        {"stream_pit_enrich": lambda b: pit_enrich(b, snap_click, snap_view)},
    )

    result = out.drop("batch_id").select(
        "event_id", "user_id", "ts", "clicks_in_day", "click_cents", "views_in_day"
    )
    snap_click.unpersist()
    snap_view.unpersist()
    return result


def _fold_daily_cents(
    spark: SparkSession, sf_dir: str, name: str, seed: str
) -> DataFrame:
    """The per-(event_type, day_idx) BIGINT cents rollup four twins fold
    (decayed sum, Holt, Holt-Winters, rolling median): each micro-batch
    writes its partial under the plan key ``<name>_partial``, and the
    folded sum equals the one-pass batch rollup exactly."""
    from noaa_etl_spark.io import load_table
    from noaa_etl_spark.queries.temporal import cents_by_day, daily_cents

    ev = cents_by_day(load_table(spark, sf_dir, "events"))
    [states] = fold_stream(
        sf_dir, name, ev, hash_split(seed, "cents"), {f"{name}_partial": daily_cents}
    )
    return states.groupBy("event_type", "day_idx").agg(
        F.sum("day_cents").alias("day_cents")
    )


from noaa_etl_spark.queries.temporal import DECAYED_SUM_ORACLE, decayed_from_daily


@graded("q_stream_decayed_sum", oracle=DECAYED_SUM_ORACLE)
def q_stream_decayed_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the exponentially-decayed revenue counter:
    events drain as three micro-batches; each batch's foreachBatch
    writes its own per-(type, day) PARTIAL daily rollup under
    batch_id=N (batch_id-keyed overwrite ⇒ restart-idempotent).
    The daily rollup is pure BIGINT addition, so folding the per-batch
    partials reproduces the one-pass daily rollup EXACTLY, and the
    shared decay-window finalization (decayed_from_daily) then yields
    bit-identical doubles by the dyadic-weight argument — the twin
    grades against the batch oracle verbatim, extending the
    twin-equality contract (PII scrub → CMS grids → variance state →
    as-of joins) to an exact-float EWMA rollup.

    100 TB: per-trigger work is one map-side-combined agg over the
    batch; the persisted state is the |types|×|days| daily table — the
    continuously-maintained reduced relation the decay window reads,
    never raw history.
    """
    daily = _fold_daily_cents(spark, sf_dir, "stream_decay", "sdecay")
    return decayed_from_daily(daily)


from noaa_etl_spark.queries.temporal import FORECAST_HOLT_ORACLE, holt_from_daily


@graded("q_stream_forecast_holt", oracle=FORECAST_HOLT_ORACLE)
def q_stream_forecast_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the Holt forecast: events drain as three
    micro-batches; foreachBatch writes each batch's per-(type, day)
    PARTIAL daily rollup batch_id-keyed (restart-idempotent overwrite).
    The rollup is mergeable BIGINT addition, so the folded daily table
    is byte-identical to the one-pass batch rollup, and the shared
    sequential Holt fold (holt_from_daily) then produces bit-equal
    level/trend/forecast — the twin grades against FORECAST_HOLT_ORACLE
    verbatim (the recurrence itself is NOT mergeable, which is exactly
    why the maintained state is the daily table, never the smoothed
    value).

    100 TB: per-trigger work is one combinable agg over the batch; the
    persisted state is the |types|×|days| reduced relation the fold
    reads at forecast time.
    """
    daily = _fold_daily_cents(spark, sf_dir, "stream_holt", "sholt")
    return holt_from_daily(daily)


from noaa_etl_spark.queries.etl import CDC_APPLY_ORACLE, cdc_changelog


@graded("q_stream_cdc_apply", oracle=CDC_APPLY_ORACLE)
def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC consumer: the changelog drains as three
    micro-batches (hash-split — deliberately NOT seq-ordered, to prove
    the fold is batching-independent); each batch reduces to its
    latest-per-key partial state (one combinable max_by agg) written
    batch_id-keyed. Because seq is a unique total order, folding the
    per-batch argmax partials reproduces the global argmax exactly —
    so the final apply against the base snapshot grades against the
    batch oracle verbatim (twin-equality extended to ordered-changelog
    semantics: the op that wins is the same whichever batch carried it).

    100 TB: per-trigger state is |keys-touched-this-batch| rows, the
    persisted table is the continuously-maintained 'latest change per
    key' view, and the final apply is the same co-partitioned join the
    batch form runs — binlog consumers restart idempotently because
    re-folding a replayed batch's partial cannot change an argmax.
    """
    from noaa_etl_spark.io import load_table

    log = cdc_changelog(spark, sf_dir)

    def partial(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy("key").agg(
            F.max_by("op", "seq").alias("op"),
            F.max_by("new_bal_cents", "seq").alias("new_bal_cents"),
            F.max("seq").alias("last_seq"),
        )

    [states] = fold_stream(
        sf_dir, "stream_cdc", log, hash_split("scdc", "seq"),
        {"stream_cdc_partial": partial},
    )

    latest = (
        states.groupBy("key")
        .agg(
            F.max_by("op", "last_seq").alias("op"),
            F.max_by("new_bal_cents", "last_seq").alias("new_bal_cents"),
            F.max("last_seq").alias("last_seq"),
        )
    )
    from noaa_etl_spark.queries.etl import cdc_apply

    base = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    return cdc_apply(base, latest)


from noaa_etl_spark.queries.profiling import (
    AB_TEST_ORACLE,
    ab_assigned,
    ab_report_from_moments,
)


@graded("q_stream_ab_test", oracle=AB_TEST_ORACLE)
def q_stream_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the A/B readout — the always-on experiment
    dashboard: events drain as three micro-batches; foreachBatch writes
    each batch's per-(type, arm-moment) PARTIAL (n, Σcents, Σcents²)
    batch_id-keyed (restart-idempotent overwrite). The moments are
    mergeable BIGINTs, so summing the partials reproduces the one-pass
    moment table exactly and the shared Welch-z finalization is
    bit-equal — the twin grades against AB_TEST_ORACLE verbatim
    (twin-equality extended to inference statistics: significance can
    be monitored continuously without ever re-reading history).

    100 TB: per-trigger work is one combinable agg over the batch; the
    persisted state is |types| rows of six integers.
    """
    from noaa_etl_spark.queries.profiling import ab_moments

    assigned = ab_assigned(spark, sf_dir)

    [states] = fold_stream(
        sf_dir, "stream_ab", assigned, hash_split("sab", "cents"),
        {"stream_ab_moments": ab_moments},
    )

    folded = (
        states.groupBy("event_type")
        .agg(
            *[
                F.sum(c).cast("bigint").alias(c)
                for c in ("n_a", "n_b", "s_a", "s_b", "q_a", "q_b")
            ]
        )
    )
    return ab_report_from_moments(folded)


from noaa_etl_spark.queries.profiling import PSI_DRIFT_ORACLE  # noqa: E402


@graded("q_stream_psi_drift", oracle=PSI_DRIFT_ORACLE)
def q_stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the PSI drift report — the always-on data-
    quality monitor: documents drain as three micro-batches;
    foreachBatch writes each batch's per-(source, length-bin) PARTIAL
    count grid batch_id-keyed (restart-idempotent overwrite). Bin
    counts are additive BIGINTs, so summing the partials reproduces
    the one-pass grid exactly and the shared spine/Laplace/fold
    finalization is bit-equal — the twin grades against
    PSI_DRIFT_ORACLE verbatim (twin-equality extended to distribution-
    drift scores: PSI can be monitored continuously without re-reading
    the corpus).

    100 TB: per-trigger work is one combinable agg over the batch; the
    persisted state is |sources|×10 rows of one integer each.
    """
    from noaa_etl_spark.io import load_table
    from noaa_etl_spark.queries.profiling import psi_binned, psi_report_from_binned

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")

    [states] = fold_stream(
        sf_dir, "stream_psi", docs, hash_split("spsi", "doc_id"),
        {"stream_psi_binned": psi_binned},
    )

    folded = (
        states.groupBy("source", "bin")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    return psi_report_from_binned(folded)


from noaa_etl_spark.queries.temporal import (
    HOLT_WINTERS_ORACLE,
    holt_winters_from_daily,
)


@graded("q_stream_holt_winters", oracle=HOLT_WINTERS_ORACLE)
def q_stream_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the seasonal Holt-Winters forecast: events
    drain as three micro-batches; foreachBatch writes each batch's
    per-(type, day) PARTIAL daily rollup batch_id-keyed
    (restart-idempotent overwrite). The rollup is mergeable BIGINT
    addition, so the folded daily table equals the one-pass batch
    rollup exactly, and the shared finalization
    (holt_winters_from_daily — spine densification + sequential fold)
    yields bit-equal level/trend/seasonal state — the twin grades
    against HOLT_WINTERS_ORACLE verbatim. Like plain Holt, the
    RECURRENCE is not mergeable; the maintained state is the daily
    table, never the smoothed values (re-smoothing |days| rows per
    forecast is the honest cost — it is the reduced relation).

    100 TB: per-trigger work is one combinable agg over the batch; the
    persisted state is the |types|×|days| reduced relation.
    """
    daily = _fold_daily_cents(spark, sf_dir, "stream_hw", "shw")
    return holt_winters_from_daily(daily)


from noaa_etl_spark.queries.temporal import USER_LTV_ORACLE, ltv_from_user_weeks


@graded("q_stream_user_ltv", oracle=USER_LTV_ORACLE)
def q_stream_user_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the cohort-LTV triangle: events drain as three
    micro-batches; foreachBatch writes each batch's per-(user, week)
    cents rollup batch_id-keyed (restart-idempotent overwrite). The
    state is mergeable BIGINT addition — and, unlike earlier twins,
    the DERIVED KEY itself comes from the folded state: a user's
    cohort week is the MIN week across ALL batches, unknowable inside
    any single micro-batch (a per-batch cohort assignment would
    misplace users whose first activity arrives in a later batch).
    Folding first, then running the shared finalization
    (ltv_from_user_weeks) over the folded table, reproduces the batch
    result exactly — the twin grades against USER_LTV_ORACLE verbatim,
    extending twin-equality to cohort analytics with state-derived
    keys.

    100 TB: per-trigger work is one combinable agg over the batch; the
    persisted state is the |users|×|weeks| activity rollup (the
    continuously-maintained reduced relation).
    """
    from noaa_etl_spark.io import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.floor(F.unix_micros("ts") / F.lit(604_800_000_000.0))
            .cast("bigint")
            .alias("week_idx"),
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 100).cast("bigint"),
            )
            .otherwise(F.lit(0).cast("bigint"))
            .alias("cents"),
        )
    )

    def partial(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy("user_id", "week_idx").agg(
            F.sum("cents").alias("cents")
        )

    [states] = fold_stream(
        sf_dir, "stream_ltv", ev, hash_split("sltv", "cents", "week_idx"),
        {"stream_ltv_partial": partial},
    )

    folded = (
        states.groupBy("user_id", "week_idx")
        .agg(F.sum("cents").alias("cents"))
    )
    return ltv_from_user_weeks(folded)


from noaa_etl_spark.queries.scale import KMV_K, KMV_ORACLE, kmv_hash


@graded("q_stream_kmv_distinct", oracle=KMV_ORACLE)
def q_stream_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin #14 — the ORDER-STATISTIC sketch: orders arrive
    as three micro-batches; each batch writes (a) its own KMV sketch
    (the k smallest distinct 48-bit key hashes seen in the batch) and
    (b) its distinct-key partial, both batch_id-keyed overwrites
    (restart-idempotent, the CMS/stats-merge pattern). The final read
    merges the per-batch sketches by min-k-of-union — EXACTLY the
    sketch of the union (the global k smallest distinct hashes are
    contained in every batch's k smallest: a theorem, not a bound) —
    so this twin shares the batch query's oracle verbatim, extending
    twin equality from linear grids (CMS), moment states (stats
    merge), and folded-state keys (user LTV) to order statistics.

    100 TB: per-trigger state is k rows (the sketch) + the batch's
    distinct keys; the maintained sketch table answers distinct-count
    dashboards over any batch range without rescanning history, at
    k·|batches| rows total."""
    from noaa_etl_spark.io import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")

    def sketch(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(kmv_hash(F.col("o_custkey")).alias("v"))
            .dropDuplicates(["v"])
            .orderBy("v")
            .limit(KMV_K)
        )

    sketches, keys = fold_stream(
        sf_dir, "stream_kmv", orders, hash_split("kmv", "o_orderkey"),
        {
            "stream_kmv_sketch": sketch,
            "stream_kmv_keys": lambda b: b.select("o_custkey").distinct(),
        },
    )

    # merge = min-k of the union of per-batch min-k sets (exact)
    merged = (
        sketches.select("v")
        .dropDuplicates(["v"])
        .orderBy("v")
        .limit(KMV_K)
    )
    kth = merged.agg(F.max("v").cast("bigint").alias("kth_v"))
    exact = (
        keys.select("o_custkey")
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_distinct"))
    )
    return kth.crossJoin(F.broadcast(exact)).select(
        F.lit(KMV_K).cast("bigint").alias("k"),
        "kth_v",
        (
            F.lit(float(KMV_K - 1)) * F.lit(float(2**48))
            / F.col("kth_v").cast("double")
        ).alias("est_distinct"),
        "exact_distinct",
    )


from noaa_etl_spark.queries.temporal import (
    CHANGEPOINT_ORACLE,
    changepoint_daily,
    changepoint_finalize,
)


@graded("q_stream_changepoint", oracle=CHANGEPOINT_ORACLE)
def q_stream_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin #15 — the always-on changepoint monitor: orders
    arrive as three micro-batches; each batch writes its own (day,
    count) daily partial (batch_id-keyed overwrite, restart-idempotent).
    Daily counts are pure integer addition, so folding the per-batch
    partials reproduces the one-pass rollup EXACTLY, and the shared
    argmax-gain finalization (changepoint_finalize) emits the identical
    split — this twin shares CHANGEPOINT_ORACLE verbatim, the
    Holt-Winters pattern (mergeable partials + shared finalization)
    applied to a DETECTION statistic rather than a forecast.

    100 TB: per-trigger work is one map-side-combined daily agg over
    the batch; the maintained partial table is |batches|×|days| rows,
    and re-detection after each batch costs one bounded-calendar
    window — never a history rescan."""
    from noaa_etl_spark.io import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")

    [partials] = fold_stream(
        sf_dir, "stream_changepoint", orders, hash_split("scp", "o_orderkey"),
        {"stream_changepoint_partial": changepoint_daily},
    )

    folded = (
        partials.groupBy("d")
        .agg(F.sum("y").cast("bigint").alias("y"))
    )
    return changepoint_finalize(folded)


from noaa_etl_spark.queries.scalars import ACTIVITY_BITMASK_ORACLE


@graded("q_stream_activity_bitmask", oracle=ACTIVITY_BITMASK_ORACLE)
def q_stream_activity_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin #16 — the first twin whose merge is a state
    TRANSFORMATION, not plain addition: each micro-batch writes
    per-user activity masks anchored at its OWN min day (the global
    base is unknowable per batch — the user-LTV derived-key problem,
    now affecting the state's bit POSITIONS, not just a key). The fold
    re-anchors: global base = min of batch anchors; each batch mask is
    truncated to the bits that survive the 63-bit window under its
    shift (mask & (1<<k)-1 BEFORE the shift — shifting first would
    overflow), shifted left by (anchor − base), and OR-folded. Bit-set
    equality with the one-pass mask is exact (both = {(user, day):
    day − base < 63}; a day dropped per-batch at offset ≥ 63 from its
    anchor is ≥ 63 from the earlier global base too), so this twin
    shares ACTIVITY_BITMASK_ORACLE verbatim.

    100 TB: per-trigger state is 8 bytes per active user; re-anchoring
    is pure bitwise arithmetic on the state table — no raw-day replay."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    day = F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).cast("bigint")
    e = ev.select("user_id", day.alias("day"))

    def partial(batch_df: DataFrame) -> DataFrame:
        anchor = batch_df.agg(F.min("day").alias("anchor"))
        return (
            batch_df.crossJoin(F.broadcast(anchor))
            .select(
                "user_id",
                "anchor",
                (F.col("day") - F.col("anchor")).alias("off"),
            )
            .filter(F.col("off") < 63)
            .groupBy("user_id", "anchor")
            .agg(
                F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), off)"))
                .cast("bigint")
                .alias("mask")
            )
        )

    [parts] = fold_stream(
        sf_dir, "stream_bitmask", e, hash_split("sbm", "event_id"),
        {"stream_bitmask_state": partial},
    )

    base = parts.agg(F.min("anchor").alias("base"))
    aligned = parts.crossJoin(F.broadcast(base)).select(
        "user_id",
        F.expr(
            # truncate to surviving bits BEFORE the shift (k = 63-shift;
            # shift = anchor-base). k == 63 (shift 0) keeps all 63 bits
            # via the max-BIGINT literal — (1<<63)-1 would overflow ANSI.
            # shift >= 63: every one of the batch's days falls outside
            # the 63-day window, so it contributes NOTHING — without
            # this branch Java shift semantics wrap the amount mod 64
            # and garbage bits survive (r10 ADVICE).
            "CASE WHEN anchor - base >= 63 THEN CAST(0 AS BIGINT) ELSE "
            "shiftleft(mask & (CASE WHEN anchor = base"
            "                       THEN 9223372036854775807"
            "                       ELSE shiftleft(CAST(1 AS BIGINT),"
            "                                      63 - (anchor - base)) - 1 END),"
            " CAST(anchor - base AS INT)) END"
        ).alias("m"),
    )
    folded = aligned.groupBy("user_id").agg(
        F.bit_or("m").cast("bigint").alias("mask")
    )
    return folded.select(
        "user_id",
        "mask",
        F.bit_count("mask").cast("int").alias("n_active_days"),
        (F.col("mask").bitwiseAND(F.lit(127)) != 0).alias("active_week1"),
        F.col("mask")
        .bitwiseAND(F.expr("shiftright(mask, 1)"))
        .cast("bigint")
        .alias("consec_pairs"),
    )


from noaa_etl_spark.queries.sampling import BOOTSTRAP_ORACLE, boot_replicates


@graded("q_stream_bootstrap_ci", oracle=BOOTSTRAP_ORACLE)
def q_stream_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin #17 — always-on uncertainty: the Poisson
    bootstrap's replicate state (b, Σw·x, Σw, Σx, n) is PURE integer
    addition (weights are a per-row function of (b, key) — batch
    membership cannot change them), so per-micro-batch partials fold to
    the one-pass state exactly and the CI finalization (sort 32
    replicate means, take order statistics) emits identical doubles —
    this twin shares BOOTSTRAP_ORACLE verbatim, putting CONFIDENCE
    INTERVALS on the same maintain-don't-recompute footing as the
    means they qualify (stats-merge twin, extended to resampling).

    100 TB: per-trigger work is the batch's explode-32 combinable agg
    (32 partial rows per partition); maintained state is 32 rows per
    batch."""
    from noaa_etl_spark.io import load_table

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )

    def partial(batch_df: DataFrame) -> DataFrame:
        rep = boot_replicates(batch_df, "o_orderkey")
        return (
            rep.groupBy("b")
            .agg(
                F.sum(F.col("w") * F.col("cents")).cast("bigint").alias("wsum"),
                F.sum("w").cast("bigint").alias("wn"),
                F.sum("cents").cast("bigint").alias("total_cents"),
                F.count(F.lit(1)).cast("bigint").alias("n"),
            )
        )

    # 4 files per micro-batch (not 1): a single-file trigger would run the
    # 32× md5 ladder near-single-threaded — the probe read 8× at 10× data
    # until the batch got scan parallelism.
    [states] = fold_stream(
        sf_dir, "stream_bootstrap", base, hash_split("sbc", "o_orderkey"),
        {"stream_bootstrap_state": partial}, files_per_batch=4,
    )

    folded = (
        states.groupBy("b")
        .agg(
            F.sum("wsum").cast("bigint").alias("wsum"),
            F.sum("wn").cast("bigint").alias("wn"),
            F.sum("total_cents").cast("bigint").alias("total_cents"),
            F.sum("n").cast("bigint").alias("n"),
        )
    )
    means = folded.agg(
        F.array_sort(
            F.collect_list(F.col("wsum").cast("double") / F.col("wn"))
        ).alias("ms"),
        F.min("total_cents").alias("total_cents"),
        F.min("n").alias("n"),
    )
    return means.select(
        "n",
        (F.col("total_cents").cast("double") / F.col("n")).alias("mean_cents"),
        F.element_at("ms", 2).alias("ci_lo"),
        F.element_at("ms", 31).alias("ci_hi"),
    )


from noaa_etl_spark.queries.temporal import OHLC_ORACLE


@graded("q_stream_ohlc", oracle=OHLC_ORACLE)
def q_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin #18 — ARGMIN/ARGMAX state made mergeable: OHLC
    open/close are positional (value at the earliest/latest event), so
    a naive per-batch candle is NOT foldable — unless each partial
    CARRIES ITS KEY: the batch state is (open_key=min(ts,event_id),
    open, high, low, close_key=max(key), close, volume), and the fold
    re-applies min_by/max_by on the carried keys. The folded candle
    equals the one-pass candle exactly (argmin over a partition of the
    data = argmin over the per-part argmins, keys carried), so this
    twin shares OHLC_ORACLE verbatim — twin equality extended from
    additive/order-statistic state to POSITIONAL aggregates.

    100 TB: per-trigger work is the batch's combinable candle agg;
    maintained state is one row per (type, bucket, batch)."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        "event_id",
        "ts",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        F.window("ts", "10 minutes")["start"].alias("bucket"),
    )

    def partial(batch_df: DataFrame) -> DataFrame:
        key = F.struct(F.col("ts"), F.col("event_id"))
        return batch_df.groupBy("event_type", "bucket").agg(
            F.min(key).alias("open_key"),
            F.min_by("cents", key).cast("bigint").alias("open"),
            F.max("cents").cast("bigint").alias("high"),
            F.min("cents").cast("bigint").alias("low"),
            F.max(key).alias("close_key"),
            F.max_by("cents", key).cast("bigint").alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("volume"),
        )

    [states] = fold_stream(
        sf_dir, "stream_ohlc", e, hash_split("soh", "event_id"),
        {"stream_ohlc_state": partial},
    )

    return (
        states.groupBy("event_type", "bucket")
        .agg(
            F.min_by("open", F.col("open_key")).cast("bigint").alias("open"),
            F.max("high").cast("bigint").alias("high"),
            F.min("low").cast("bigint").alias("low"),
            F.max_by("close", F.col("close_key")).cast("bigint").alias("close"),
            F.sum("volume").cast("bigint").alias("volume"),
        )
    )


from noaa_etl_spark.queries.temporal import (
    ROLLING_MEDIAN_ORACLE,
    rolling_median_from_daily,
)


@graded("q_stream_rolling_median", oracle=ROLLING_MEDIAN_ORACLE)
def q_stream_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin #19 — the robust spike monitor maintained live:
    events drain as three micro-batches; foreachBatch writes each
    batch's per-(type, day) PARTIAL daily rollup batch_id-keyed
    (restart-idempotent overwrite). The rollup is mergeable BIGINT
    addition, so the folded daily table is byte-identical to the
    one-pass batch rollup, and the shared trailing-median finalization
    (rolling_median_from_daily) emits bit-equal doubles — the twin
    grades against ROLLING_MEDIAN_ORACLE verbatim. An ORDER STATISTIC
    is not itself mergeable (median of medians ≠ median), which is
    exactly why the maintained state is the daily table, never the
    median (the holt/holt_winters state discipline).

    100 TB: per-trigger work is one combinable agg over the batch; the
    persisted state is the |types|×|days| reduced relation the
    7-row-frame window reads at report time.
    """
    daily = _fold_daily_cents(spark, sf_dir, "stream_rollmed", "srmed")
    return rolling_median_from_daily(daily)


from noaa_etl_spark.queries.profiling import GINI_ORACLE, gini_finalize


@graded("q_stream_gini", oracle=GINI_ORACLE)
def q_stream_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin #20 — concentration risk maintained live: orders
    drain as three micro-batches; foreachBatch writes each batch's
    per-customer PARTIAL floor-cents revenue batch_id-keyed
    (restart-idempotent overwrite). Revenue state is pure BIGINT
    addition, so the folded customer-grain relation is byte-identical
    to the one-pass batch rollup, and the shared rank-identity
    finalization (gini_finalize — per-nation sort + one exact integer
    division) emits identical doubles: the twin grades against
    GINI_ORACLE verbatim. A RANK STATISTIC is not mergeable (the rank
    of a customer depends on every other customer), which is exactly
    why the maintained state is the customer-grain totals, never the
    ranks (the rolling-median/holt state discipline applied to a
    global order statistic).

    100 TB: per-trigger work is one combinable agg over the batch; the
    persisted state is the |customers| reduced relation, and the
    finalization's per-nation sort runs on demand at report time, not
    per trigger.
    """
    from noaa_etl_spark.io import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("ocents"),
    )

    def partial(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy("o_custkey").agg(
            F.sum("ocents").alias("cents")
        )

    [states] = fold_stream(
        sf_dir, "stream_gini", orders, hash_split("sgini", "ocents"),
        {"stream_gini_partial": partial},
    )

    rev = (
        states.groupBy("o_custkey")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    return gini_finalize(spark, sf_dir, rev)


from noaa_etl_spark.queries.sampling import (
    DSIR_ORACLE,
    dsir_doc_buckets,
    dsir_score_from_db,
)


@graded("q_stream_dsir", oracle=DSIR_ORACLE)
def q_stream_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin #21 — importance resampling over a LIVE crawl:
    documents drain as three micro-batches; foreachBatch tokenizes and
    writes each batch's (doc, bucket) hashed-unigram count partials
    batch_id-keyed (restart-idempotent overwrite). Every doc lands in
    exactly ONE micro-batch, so the unioned partials ARE the batch
    relation byte-for-byte; bucket stats fold by BIGINT addition across
    batches, and the shared finalization (dsir_score_from_db: 64-row
    term broadcast + bucket-ascending ordered fold) emits identical
    rounded scores — the twin grades against DSIR_ORACLE verbatim. The
    per-doc SCORES are deliberately NOT maintained incrementally: they
    depend on the evolving corpus-wide bucket stats, so any
    incrementally-cached score would be stale the moment the next batch
    shifts the source distribution (the gini/rolling-median state
    discipline: keep the mergeable state, recompute the statistic).

    100 TB: per-trigger work is the batch's tokenize + one combinable
    (doc, bucket) count; the persisted state is that reduced relation
    (≤64 rows per doc), and scoring runs on demand at selection time.
    """
    from noaa_etl_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")

    [states] = fold_stream(
        sf_dir, "stream_dsir", docs, hash_split("sdsir", "doc_id"),
        {"stream_dsir_partial": dsir_doc_buckets},
    )

    db = states.select("doc_id", "source", "b", "c")
    return dsir_score_from_db(db)


from noaa_etl_spark.queries.profiling import OBSERVED_METRICS_ORACLE


@graded("q_stream_observed_metrics", oracle=OBSERVED_METRICS_ORACLE)
def q_stream_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin #22 — and the first twin whose merge channel is
    the ENGINE'S OWN metric plane, not a foreachBatch state table:
    orders drain as three micro-batches with df.observe() attached to
    the streaming frame; each micro-batch's observed metrics surface in
    StreamingQueryProgress.observedMetrics (the listener/monitoring
    path production alerting consumes), and because every counter is
    pure integer addition, summing the per-batch metric rows equals the
    one-pass batch metrics exactly — this twin shares
    OBSERVED_METRICS_ORACLE verbatim. No sink state is written at all
    (format("noop")): the metrics ARE the output, which is precisely
    the production posture — observability must not cost a second scan
    OR a side table.

    100 TB: observe() compiles to an accumulator-backed aggregate
    riding the batch's existing tasks; per-trigger overhead is one
    metric row, and the alerting consumer reads query progress, never
    the data.
    """
    import os
    import shutil

    from noaa_etl_spark.io import SCRATCH_ROOT, load_table

    root = os.path.join(SCRATCH_ROOT, "stream_obs")
    ckpt = os.path.join(root, "ckpt")
    for d in (ckpt,):
        shutil.rmtree(d, ignore_errors=True)

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    gate = F.pmod(F.xxhash64(F.lit("sobs"), F.col("o_orderkey")), F.lit(3))
    def _build_src(d: str) -> None:
        for i in range(3):
            orders.filter(gate == i).coalesce(1).write.mode("append").parquet(d)

    # r16 opt (VERDICT r15 item 6): micro-batch source files staged
    # once per session — the drain (checkpoint fresh per run) is
    # unchanged.
    from noaa_etl_spark.streaming.core import staged_stream_src

    src = staged_stream_src(sf_dir, "stream_obs", _build_src)

    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    observed = stream.observe(
        "dq",
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("nonpositive_price"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("null_custkey"),
        F.sum(F.floor("o_totalprice").cast("bigint"))
        .cast("bigint")
        .alias("floor_total"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("bad_status"),
    )
    query = (
        observed.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()

    keys = [
        "n_rows",
        "nonpositive_price",
        "null_custkey",
        "floor_total",
        "bad_status",
    ]
    totals = {k: 0 for k in keys}
    for p in query.recentProgress:
        om = p["observedMetrics"]
        if om and "dq" in om:
            for k in keys:
                totals[k] += om["dq"][k]
    return spark.createDataFrame(
        [tuple(totals[k] for k in keys)],
        "n_rows bigint, nonpositive_price bigint, null_custkey bigint, "
        "floor_total bigint, bad_status bigint",
    )


@graded(
    "q_stream_dedup_watermark",
    oracle="""
    SELECT event_type, count(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with BOUNDED state —
    dropDuplicatesWithinWatermark (Spark 3.5+): plain stream
    dropDuplicates (q_stream_dedup) keys state forever, which on an
    unbounded 100 TB stream is an OOM with a delivery date; the
    within-watermark form evicts a key's state once the watermark
    passes it, trading 'exactly-once forever' for 'exactly-once within
    the lateness bound' — the production contract, since upstream
    at-least-once redelivery happens within minutes, not years. Here
    the delay spans the whole fixture window, so the result equals the
    exact dedup and the oracle is shared with q_stream_dedup's.

    Scale: state is O(keys within one watermark window), not O(all keys
    ever) — the difference between a dedup that runs for years and one
    that dies in a week."""
    a = stream_table(spark, sf_dir, "events")
    b = stream_table(spark, sf_dir, "events")
    deduped = (
        a.unionByName(b)
        .withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    result = run_to_memory(deduped, "mem_stream_dedup_wm", "append")
    return (
        result.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("event_type")
    )


from noaa_etl_spark.queries.similarity import (
    COVARIANCE_ORACLE,
    covariance_finalize,
    covariance_moments,
)


@graded("q_stream_covariance", oracle=COVARIANCE_ORACLE)
def q_stream_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin #23 — feature statistics maintained over a live
    embedding feed: vectors drain as three micro-batches; foreachBatch
    writes each batch's per-label PARTIAL raw moments (n, s_k, p_i_j —
    45 quantized-BIGINT sums) batch_id-keyed (restart-idempotent
    overwrite). Cross-moments are pure integer addition, so the folded
    per-label state is byte-identical to the one-pass batch moments and
    the shared finalization (covariance_finalize — pair explode on the
    |labels|-row aggregate + fixed IEEE cov/corr expressions) emits
    identical doubles: the twin grades against COVARIANCE_ORACLE
    verbatim. This extends the stats-merge discipline (n, Σv, Σv²) to
    the full cross-moment matrix — the state a streaming whitening /
    Mahalanobis-drift monitor actually keeps.

    100 TB: per-trigger work is one combinable 45-column agg over the
    batch; persisted state is |labels| rows per batch, and the
    covariance report is recomputed on demand from the folded moments
    (the gini/rolling-median rule: keep the mergeable state, recompute
    the statistic).
    """
    from noaa_etl_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")

    [state] = fold_stream(
        sf_dir, "stream_covariance", emb, hash_split("scov", "vec_id"),
        {"stream_covariance_partial": covariance_moments},
    )

    sum_cols = [c for c in state.columns if c not in ("label", "batch_id")]
    folded = state.groupBy("label").agg(
        *[F.sum(c).cast("bigint").alias(c) for c in sum_cols]
    )
    return covariance_finalize(folded)


from noaa_etl_spark.queries.profiling import (
    CHI_SQUARE_ORACLE,
    chi_square_finalize,
    chi_square_grid,
)


@graded("q_stream_chi_square", oracle=CHI_SQUARE_ORACLE)
def q_stream_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin #24 — categorical association monitored live (is
    the metric's band distribution independent of the event type as the
    stream evolves?): events drain as three micro-batches; foreachBatch
    writes each batch's PARTIAL (event_type, band) contingency grid
    batch_id-keyed (restart-idempotent overwrite). Cell counts are pure
    BIGINT addition, so the folded grid is byte-identical to the
    one-pass contingency table and the shared finalization
    (chi_square_finalize — spine fill, window marginals on the bounded
    grid, PSI-ordered term fold) emits the identical rounded χ²: the
    twin grades against CHI_SQUARE_ORACLE verbatim. Like the gini /
    rolling-median discipline, the STATISTIC is never maintained
    incrementally — marginals (and therefore every cell's term) shift
    with each batch, so the mergeable state is the grid and χ² is
    recomputed at report time.

    100 TB: per-trigger work is one combinable grid agg over the batch;
    persisted state is ≤ |types|×|bands| rows per batch; the report
    runs on the folded bounded relation on demand.
    """
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    [states] = fold_stream(
        sf_dir, "stream_chi_square", ev, hash_split("schi", "event_id"),
        {"stream_chi_square_partial": chi_square_grid},
    )

    folded = (
        states.groupBy("event_type", "band")
        .agg(F.sum("o").cast("bigint").alias("o"))
    )
    return chi_square_finalize(folded.localCheckpoint())


from noaa_etl_spark.queries.profiling import (
    MANNWHITNEY_ORACLE,
    mannwhitney_finalize,
    mannwhitney_grid,
)


@graded("q_stream_mannwhitney", oracle=MANNWHITNEY_ORACLE)
def q_stream_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin #25 — location-shift drift monitored live as a
    corpus crawls in: documents drain as three micro-batches;
    foreachBatch writes each batch's PARTIAL (source, value) count grid
    batch_id-keyed (restart-idempotent overwrite), reference source
    included — the ref sample itself grows with the stream, which is
    exactly why the split into ref/current happens at FINALIZE time,
    never in the state. Counts are pure BIGINT addition, so the folded
    grid is byte-identical to the one-pass grid and the shared
    finalization (mannwhitney_finalize — per-source rank windows over
    the reduced relation + one fixed IEEE chain) emits identical
    doubles: the twin grades against MANNWHITNEY_ORACLE verbatim. A
    RANK STATISTIC is not mergeable (every midrank depends on every
    pooled observation) — the gini discipline: keep the additive grid,
    rank at report time.

    100 TB: per-trigger work is one combinable count over the batch;
    persisted state is the |sources|×|distinct values| reduced grid per
    batch; the test reruns on the folded bounded relation on demand.
    """
    from noaa_etl_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")

    [states] = fold_stream(
        sf_dir, "stream_mannwhitney", docs, hash_split("smw", "doc_id"),
        {"stream_mannwhitney_partial": mannwhitney_grid},
    )

    folded = (
        states.groupBy("source", "v")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    return mannwhitney_finalize(folded.localCheckpoint())


from noaa_etl_spark.queries.temporal import FUNNEL_ORACLE, funnel_from_user_mins


@graded("q_stream_funnel", oracle=FUNNEL_ORACLE)
def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the ordered-event funnel (twin #26): events
    drain as three micro-batches; each batch's state is the per-user
    min-CASE pivot (first view/click/purchase epoch-micros seen in that
    batch), written batch_id-keyed (restart-idempotent overwrite). The
    state is MIN-mergeable — min of per-batch minima == global minimum,
    and min() ignores the NULLs of batches where a user never hit a
    stage — while the funnel predicates (t_click > t_view, ...) are
    NOT: a user can 'view' in batch 2 and 'click' in batch 0, so any
    per-batch funnel verdict would be wrong. Fold first, then run the
    shared finalization (funnel_from_user_mins) over the folded table —
    the twin grades against FUNNEL_ORACLE verbatim, extending
    twin-equality to ordered-sequence predicates evaluated on folded
    first-occurrence state.

    100 TB: per-trigger work is one combinable agg over the batch; the
    persisted state is three BIGINTs per user (the continuously
    maintained first-touch table every funnel/attribution consumer
    shares).
    """
    from noaa_etl_spark.io import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id", "event_type", F.unix_micros("ts").alias("t_us"))
    )

    def partial(batch_df: DataFrame) -> DataFrame:
        t = F.col("t_us")
        return batch_df.groupBy("user_id").agg(
            F.min(F.when(F.col("event_type") == "view", t)).alias("t_view"),
            F.min(F.when(F.col("event_type") == "click", t)).alias("t_click"),
            F.min(F.when(F.col("event_type") == "purchase", t)).alias("t_purchase"),
        )

    [states] = fold_stream(
        sf_dir, "stream_funnel", ev, hash_split("sfun", "t_us"),
        {"stream_funnel_partial": partial},
    )

    folded = states.groupBy("user_id").agg(
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min("t_purchase").alias("t_purchase"),
    )
    return funnel_from_user_mins(folded)


from noaa_etl_spark.queries.text import OOV_ORACLE, oov_finalize


@graded("q_stream_oov_rate", oracle=OOV_ORACLE)
def q_stream_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the OOV-rate report (twin #27): documents
    drain as three micro-batches; each batch's state is its (source,
    token, count) rollup, batch_id-keyed (restart-idempotent
    overwrite). Token counts are sum-mergeable; the VOCABULARY is not —
    the top-K cut depends on corpus-wide totals, so a per-batch vocab
    would misclassify tokens that are rare early and common late. Fold
    the counts first, then run the shared finalization (oov_finalize)
    over the folded relation — grades against OOV_ORACLE verbatim,
    extending twin-equality to derived-vocabulary statistics (the
    q_stream_dsir lesson, applied to the vocab itself).

    100 TB: per-trigger work is one combinable agg over the batch; the
    maintained state is the (source, token) reduced relation —
    the streaming wordcount every feature store already keeps.
    """
    from noaa_etl_spark.functions.text import tokenize as _tok
    from noaa_etl_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")

    def partial(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select("source", F.explode(_tok(F.col("text"))).alias("w"))
            .groupBy("source", "w")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    [states] = fold_stream(
        sf_dir, "stream_oov", docs, hash_split("soov", "doc_id"),
        {"stream_oov_partial": partial},
    )

    folded = (
        states.groupBy("source", "w")
        .agg(F.sum("c").alias("c"))
        .localCheckpoint()
    )
    return oov_finalize(folded)


from noaa_etl_spark.queries.profiling import (
    CALIBRATION_ORACLE,
    calibration_finalize,
    calibration_partials,
)


@graded("q_stream_calibration_bins", oracle=CALIBRATION_ORACLE)
def q_stream_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the reliability diagram (twin #28): events
    drain as three micro-batches; each batch's state is the per-bin
    integer partials (n, n_pos, Σs28) — pure addition, the cleanest
    mergeable-moment case — and the shared finalization performs the
    two divisions over the folded integers, so the twin is bit-equal
    to the batch report and grades against CALIBRATION_ORACLE verbatim.
    The monitoring story: a LIVE calibration dashboard (model drift =
    bins walking off the diagonal) maintained for the cost of one
    10-row rollup per trigger.
    """
    from noaa_etl_spark.io import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id", "event_type", F.unix_micros("ts").alias("t_us"))
    )

    [states] = fold_stream(
        sf_dir, "stream_calib", ev, hash_split("scal", "t_us"),
        {"stream_calib_partial": calibration_partials},
    )

    return calibration_finalize(states)


from noaa_etl_spark.queries.profiling import AUC_ORACLE, auc_finalize, auc_grid


@graded("q_stream_auc", oracle=AUC_ORACLE)
def q_stream_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the AUC report (twin #29): events drain as
    three micro-batches; each batch's state is its quantized-score
    count grid (s20, pos_c, neg_c) — sum-mergeable — written
    batch_id-keyed. RANKS DO NOT MERGE: the cumulative neg-below of a
    score level depends on every batch's counts below it, so the
    window + division run only in the shared finalization over the
    folded grid (auc_finalize), and the twin grades against AUC_ORACLE
    verbatim. The monitoring story: a live ranking-quality metric
    maintained for one bounded-grid rollup per trigger — the
    model-regression alarm next to q_stream_calibration_bins' drift
    dashboard.
    """
    from noaa_etl_spark.io import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id", "event_type", F.unix_micros("ts").alias("t_us"))
    )

    [states] = fold_stream(
        sf_dir, "stream_auc", ev, hash_split("sauc", "t_us"),
        {"stream_auc_partial": auc_grid},
    )

    folded = (
        states.groupBy("s20")
        .agg(
            F.sum("pos_c").cast("bigint").alias("pos_c"),
            F.sum("neg_c").cast("bigint").alias("neg_c"),
        )
    )
    return auc_finalize(folded)


from noaa_etl_spark.queries.etl import (
    FS_BLOCK_CAP,
    RECORD_LINKAGE_ORACLE,
    fs_cap_blocks,
    fs_clean,
    fs_dirty,
    fs_link,
)


@graded("q_stream_record_linkage", oracle=RECORD_LINKAGE_ORACLE)
def q_stream_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of FS record linkage (twin #30): dirty records
    arrive as three micro-batches and link against the STATIC clean
    registry inside foreachBatch (the stream-static enrichment shape of
    q_stream_feature_pit). Each dirty record lives in exactly one batch
    and FS scoring depends only on (record, static registry), so the
    union of per-batch pair sets IS the batch answer — EXCEPT the
    degenerate-block guardrail, which is a CORPUS-WIDE property: a
    600-deep dirty block split across batches would evade any per-batch
    cap. The twin therefore scores pairs UNCAPPED on the dirty side per
    batch, folds per-(nation, suffix) dirty-block counts as mergeable
    state, and REFUSES over-cap blocks at finalize (filter commutes
    with the blocked join, so the result equals the batch query's
    pre-join cap exactly) — the guardrail lesson: corpus-wide
    invariants evaluate on folded state, never per batch.
    """
    from noaa_etl_spark.io import load_table

    clean = fs_cap_blocks(fs_clean(load_table(spark, sf_dir, "customer")))
    dirty = fs_dirty(fs_clean(load_table(spark, sf_dir, "customer")))

    def keyed(batch_df: DataFrame) -> DataFrame:
        return batch_df.withColumn("blk", F.expr("substring(name, length(name) - 1)"))

    def block_counts(batch_df: DataFrame) -> DataFrame:
        return keyed(batch_df).groupBy("nat", "blk").agg(F.count(F.lit(1)).alias("n"))

    pairs, counts = fold_stream(
        sf_dir, "stream_linkage", dirty, hash_split("slink", "k"),
        {
            "stream_linkage_pairs": lambda b: fs_link(clean, keyed(b)),
            "stream_linkage_counts": block_counts,
        },
    )

    folded_counts = counts.groupBy("nat", "blk").agg(F.sum("n").alias("n"))
    ok_blocks = folded_counts.filter(F.col("n") <= FS_BLOCK_CAP).select(
        F.col("nat").alias("nat_d"), F.col("blk").alias("blk_d")
    )
    return pairs.join(F.broadcast(ok_blocks), ["nat_d", "blk_d"]).select(
        "clean_key", "dirty_key", "fs_weight", "is_match"
    )


from noaa_etl_spark.queries.scale import HIST_QUANTILES_ORACLE


@graded("q_stream_hist_quantiles", oracle=HIST_QUANTILES_ORACLE)
def q_stream_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the histogram-sketch quantiles (twin #31),
    with a state-design lesson the batch form hides: the sketch's bin
    EDGES are data-derived (global min/max), so a per-batch grid is NOT
    mergeable — two batches would bin against different edges. The
    maintained state is therefore the DOMAIN-FREE (event_type, value)
    count relation (sum-mergeable, the Mann-Whitney/KS reduced-relation
    class), and BOTH report legs — the fixed-edge grid sketch and the
    exact rank-⌈qN⌉ discrete quantile — are derived from the folded
    state at report time in WEIGHTED form (cumulative counts over the
    value order; never a row re-expansion). est uses the identical
    IEEE bin arithmetic, x_disc the identical rank selection, so the
    twin grades against HIST_QUANTILES_ORACLE verbatim. Production
    note: with a CONTRACTED domain (fixed edges known up front),
    per-batch grids DO merge cell-wise and the state shrinks to
    |groups|×|bins| — this twin is the fallback when no such contract
    exists.
    """
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")

    def partial(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy("event_type", "value").agg(
            F.count(F.lit(1)).alias("cnt")
        )

    [states] = fold_stream(
        sf_dir, "stream_hist", ev, hash_split("shist", "value"),
        {"stream_hist_partial": partial},
    )

    folded = (
        states.groupBy("event_type", "value")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        .localCheckpoint()
    )
    N_BINS, QS = 64, [0.5, 0.9, 0.99]
    dom = folded.agg(F.min("value").alias("lo"), F.max("value").alias("hi")).collect()[0]
    lo, hi = float(dom.lo), float(dom.hi)
    w = (hi - lo) / N_BINS

    # weighted grid sketch from the folded value counts
    bin_col = F.greatest(
        F.least(F.floor((F.col("value") - F.lit(lo)) / F.lit(w)).cast("int"), F.lit(N_BINS - 1)),
        F.lit(0),
    )
    hist = folded.groupBy("event_type", bin_col.alias("bin")).agg(
        F.sum("cnt").alias("cnt")
    )
    gw = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "bin",
        F.sum("cnt").over(gw.orderBy("bin")).alias("cum"),
        F.sum("cnt").over(gw).alias("n_total"),
    )
    q_df = spark.createDataFrame([(q,) for q in QS], "q double")
    est = (
        cum.crossJoin(F.broadcast(q_df))
        .filter(F.col("cum") >= F.ceil(F.col("q") * F.col("n_total")))
        .groupBy("event_type", "q")
        .agg(F.min(F.lit(lo) + (F.col("bin") + 1) * F.lit(w)).alias("est"))
    )
    # weighted exact discrete quantile from the same folded state
    vcum = folded.select(
        "event_type",
        "value",
        F.sum("cnt").over(gw.orderBy("value")).alias("vcum"),
        F.sum("cnt").over(gw).alias("n"),
    )
    disc = (
        vcum.crossJoin(F.broadcast(q_df))
        .filter(F.col("vcum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy("event_type", "q")
        .agg(F.min("value").alias("x_disc"))
    )
    return (
        est.join(disc, ["event_type", "q"])
        .select(
            "event_type",
            "q",
            "est",
            "x_disc",
            (
                (F.col("x_disc") <= F.col("est"))
                & (F.col("est") - F.col("x_disc") <= F.lit(w))
            ).alias("within_one_bin"),
        )
        .orderBy("event_type", "q")
    )


from noaa_etl_spark.queries.multimodal import MIME_SNIFF_ORACLE, mime_census


@graded("q_stream_mime_sniff", oracle=MIME_SNIFF_ORACLE)
def q_stream_mime_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the MIME census (twin #32) — the intake
    format-drift alarm: a crawler whose blob mix shifts (a partner
    feed silently switching container formats) shows up as census
    drift long before a decoder error does. Per-batch state is the
    (detected_mime, n, total_bytes, min_doc) census — n/total_bytes
    sum-merge, min_doc min-merges — and the fold IS the report (no
    separate finalize arithmetic), sharing MIME_SNIFF_ORACLE verbatim.
    """
    from noaa_etl_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    [states] = fold_stream(
        sf_dir, "stream_mime", docs, hash_split("smime", "doc_id"),
        {"stream_mime_partial": mime_census},
    )

    return (
        states.groupBy("detected_mime")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("total_bytes").cast("bigint").alias("total_bytes"),
            F.min("min_doc").cast("bigint").alias("min_doc"),
        )
    )


@graded(
    "q_stream_session_funnel",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE user_id IS NOT NULL
    ),
    flagged AS (
      SELECT user_id, event_type, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) >= 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM e
    ),
    sessions AS (
      SELECT user_id, event_type, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, session_id,
             min(CASE WHEN event_type = 'view'     THEN epoch_us(ts) END) AS t_view,
             min(CASE WHEN event_type = 'click'    THEN epoch_us(ts) END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(*) FILTER (t_view IS NOT NULL) AS BIGINT) AS n_view,
           CAST(count(*) FILTER (t_view IS NOT NULL AND t_click > t_view)
                AS BIGINT) AS n_view_click,
           CAST(count(*) FILTER (t_view IS NOT NULL AND t_click > t_view
                                 AND t_purchase > t_click)
                AS BIGINT) AS n_full_funnel,
           CAST(sum(t_purchase - t_view)
                    FILTER (t_view IS NOT NULL AND t_click > t_view
                            AND t_purchase > t_click)
                AS BIGINT) AS total_conversion_us
    FROM per_session
    """,
)
def q_stream_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the session-grain funnel (twin #33): the
    native F.session_window stateful operator computes the per-session
    min-CASE funnel pivot LIVE (first view/click/purchase micros per
    merged session window), and the batch census finalize is the
    SHARED session_funnel_census helper — per-visit conversion as a
    continuously-maintained number.

    Semantics note (the q_stream_sessionize precedent): session_window
    merges windows that OVERLAP, i.e. splits on gap ≥ G, while the
    batch lag/cumsum form splits on gap > G — so this twin carries its
    own ≥-form oracle rather than sharing the batch one verbatim; the
    two differ only at exact-G gaps. State per open session is three
    BIGINT minima regardless of session length — the watermark bounds
    how long a session stays open."""
    from noaa_etl_spark.queries.temporal import session_funnel_census

    ev = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .withWatermark("ts", "1 hour")
    )
    t = F.unix_micros("ts")
    agg = ev.groupBy(
        F.session_window("ts", "30 minutes").alias("sw"), "user_id"
    ).agg(
        F.min(F.when(F.col("event_type") == "view", t)).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", t)).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", t)).alias("t_purchase"),
    )
    per_session = run_to_memory(agg, "mem_stream_session_funnel", "complete")
    return session_funnel_census(per_session)


@graded(
    "q_stream_ewma_irregular",
    oracle="""
    WITH e AS (
      SELECT user_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
             CAST(CAST('0x' || substr(md5('sewma:' || CAST(event_id AS VARCHAR)), 1, 2)
                       AS UBIGINT) AS BIGINT) % 3 AS b
      FROM events WHERE user_id IS NOT NULL
    ),
    anch AS (
      SELECT user_id, b, max(t_us) AS t_anchor FROM e GROUP BY user_id, b
    ),
    partials AS (
      SELECT e.user_id, e.b, a.t_anchor,
             CAST(count(*) AS BIGINT) AS n_events,
             sum(e.value * exp(-(CAST(a.t_anchor - e.t_us AS DOUBLE)
                                 / 86400000000.0))) AS s_b
      FROM e JOIN anch a ON a.user_id = e.user_id AND a.b = e.b
      GROUP BY e.user_id, e.b, a.t_anchor
    ),
    gmax AS (SELECT user_id, max(t_anchor) AS t_global FROM partials GROUP BY user_id),
    folded AS (
      SELECT p.user_id,
             CAST(sum(p.n_events) AS BIGINT) AS n_events,
             sum(p.s_b * exp(-(CAST(g.t_global - p.t_anchor AS DOUBLE)
                               / 86400000000.0))
                 ORDER BY p.b) AS s
      FROM partials p JOIN gmax g ON g.user_id = p.user_id
      GROUP BY p.user_id
    )
    SELECT user_id, n_events, round(s, 3) AS decay_score FROM folded
    """,
)
def q_stream_ewma_irregular(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the irregular-gap decay score (twin #34) — the
    EXPONENTIAL-RE-ANCHORING merge: each micro-batch keeps per-user
    state (t_anchor = its own max timestamp, s_b = sum v·e^((t−t_anchor)/tau),
    n), and the fold re-anchors at the global max:
    s = sum_b s_b · e^((t_anchor_b − T)/tau) — the bitmask twin's
    state-transforming merge in the continuous domain (scale instead of
    shift). State is three scalars per user per trigger; no raw-event
    replay ever.

    The decomposition e^(a)·e^(b) is NOT bit-equal to the batch form's
    e^(a+b), so this twin does NOT share the batch oracle: its own
    oracle replays the identical two-step chain — batch membership is
    an md5 gate on event_id (cross-engine, unlike the xxhash gates of
    exact-integer twins where membership cancels), partials anchor at
    the per-(user, batch) max, and the fold multiplies the identical
    correctly-rounded factors in batch order. Grading rounds
    decay_score at 3 dp, matching the q_ewma_irregular noise-floor
    adjudication (an unordered all-positive float sum has noise floor
    ~n·eps·Σ|x|; 6 dp was a ~2e-3 per-user flip probability)."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    gate = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("sewma:"), F.col("event_id").cast("string"))),
                1,
                2,
            ),
            16,
            10,
        ).cast("bigint")
        % 3
    )
    e = ev.select(
        "user_id", "value", F.unix_micros("ts").alias("t_us"), gate.alias("b")
    )

    def partial(batch_df: DataFrame) -> DataFrame:
        w_u = Window.partitionBy("user_id")
        anchored = batch_df.withColumn("t_anchor", F.max("t_us").over(w_u))
        decay = F.exp(
            -((F.col("t_anchor") - F.col("t_us")).cast("double")
              / F.lit(86400000000.0))
        )
        return anchored.groupBy("user_id", "b", "t_anchor").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value") * decay).alias("s_b"),
        )

    [parts] = fold_stream(
        sf_dir, "stream_ewma", e, F.col("b"), {"stream_ewma_partial": partial}
    )

    w_u = Window.partitionBy("user_id")
    aligned = parts.withColumn("t_global", F.max("t_anchor").over(w_u))
    scale = F.exp(
        -((F.col("t_global") - F.col("t_anchor")).cast("double")
          / F.lit(86400000000.0))
    )
    terms = aligned.select(
        "user_id", "b", "n_events", (F.col("s_b") * scale).alias("term")
    )
    ser = terms.groupBy("user_id").agg(
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.array_sort(F.collect_list(F.struct("b", "term"))).alias("xs"),
    )
    s = F.aggregate(F.col("xs"), F.lit(0.0), lambda acc, x: acc + x["term"])
    return ser.select("user_id", "n_events", F.round(s, 3).alias("decay_score"))


from noaa_etl_spark.queries.sampling import SOURCE_ENTROPY_ORACLE


@graded("q_stream_source_entropy", oracle=SOURCE_ENTROPY_ORACLE)
def q_stream_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the corpus-mix entropy report (twin #35):
    per-batch (source, n_docs, n_tokens) partials are pure integer
    addition; the entropy terms, ordered ln folds, and exp(H) run ONLY
    in the shared source_entropy_report over the folded relation (the
    oov derived-at-finalize doctrine — a per-batch entropy would be
    meaningless). Live mix-collapse alarm: one combinable agg per
    trigger, |sources|-row maintained state. Shares
    SOURCE_ENTROPY_ORACLE verbatim."""
    from noaa_etl_spark.io import load_table
    from noaa_etl_spark.queries.sampling import (
        source_entropy_report,
        source_token_count,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")

    def partial(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(source_token_count()).cast("bigint").alias("n_tokens"),
        )

    [states] = fold_stream(
        sf_dir, "stream_src_entropy", docs, hash_split("sentropy", "doc_id"),
        {"stream_src_entropy_partial": partial},
    )

    folded = (
        states.groupBy("source")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )
    return source_entropy_report(folded)


from noaa_etl_spark.queries.profiling import CUPED_ORACLE


@graded("q_stream_cuped", oracle=CUPED_ORACLE)
def q_stream_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of CUPED (twin #36): per-batch (user, day, cents)
    rollups are pure integer addition; the study midpoint, the pre/post
    covariate split, and all pooled moments depend on the FULL horizon,
    so they run only in the shared cuped_report over the folded
    relation — a per-batch midpoint would misclassify pre-period days
    that arrive after later-period batches (the hist-quantiles
    data-derived-domain lesson applied to a time split). Maintained
    state is the (user, day) reduced relation; shares CUPED_ORACLE
    verbatim."""
    from noaa_etl_spark.io import load_table
    from noaa_etl_spark.queries.profiling import cuped_report

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    day = F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).cast("bigint")
    cents = F.floor(F.col("value") * 100).cast("bigint")
    e = ev.select("user_id", day.alias("day"), cents.alias("cents"))

    def partial(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy("user_id", "day").agg(
            F.sum("cents").cast("bigint").alias("cents")
        )

    [states] = fold_stream(
        sf_dir, "stream_cuped", e, hash_split("scuped", "event_id"),
        {"stream_cuped_partial": partial},
    )

    folded = (
        states.groupBy("user_id", "day")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    return cuped_report(folded)


from noaa_etl_spark.queries.temporal import (
    OUT_OF_ORDER_ORACLE,
    out_of_order_census,
    out_of_order_events,
)


@graded("q_stream_out_of_order", oracle=OUT_OF_ORDER_ORACLE)
def q_stream_out_of_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the event-time disorder census (twin #37) — the
    genuinely NEW merge shape VERDICT r13 asked for: per-batch disorder
    partials are NOT mergeable across batch boundaries, because an
    event's lateness depends on the max event-time among its user's
    earlier ARRIVALS, which spans every earlier batch. The carry state
    is therefore (user, max-event-time-so-far): micro-batches are
    ARRIVAL ranges (half-open cuts on the planted arrival value — ties
    never straddle batches, so concatenated within-batch (arrival,
    event_id) order equals the global order), each batch writes its
    per-event within-batch running max W plus nothing else, and the
    finalize resolves the cross-batch carry as a prefix-max over the
    per-(user, range) maxima: true runmax = greatest(W, prior), with
    greatest's NULL-skipping giving "no earlier arrival anywhere" for
    free. Resolving the carry at FINALIZE (instead of reading earlier
    batches' state inside foreachBatch) keeps every batch write
    order-independent and replay-idempotent — the file-stream source
    guarantees no cross-batch processing order, so an intake-time carry
    read would be order-fragile. Production note: an intake with an
    ordered log contract can instead maintain the per-user BIGINT carry
    in applyInPandasWithState and emit (type, lateness) counts at
    intake, shrinking retained state from O(events) to O(users); this
    realization trades that for idempotence. Shares OUT_OF_ORDER_ORACLE
    verbatim — batching by arrival ranges is exactly "the stream",
    so the census is the batch answer by construction."""
    from noaa_etl_spark.io import load_table

    ev = out_of_order_events(load_table(spark, sf_dir, "events"))
    # the staged files carry the arrival range g, which the finalize reads
    evg = ev.withColumn("g", range_split(ev, "arrival"))

    def partial(batch_df: DataFrame) -> DataFrame:
        w = (
            Window.partitionBy("user_id")
            .orderBy("arrival", "event_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return batch_df.select(
            "user_id",
            "event_type",
            "g",
            "t",
            F.max("t").over(w).alias("w_runmax"),
        )

    [states] = fold_stream(
        sf_dir, "stream_ooo", evg, F.col("g"), {"stream_ooo_partial": partial}
    )

    st = states.localCheckpoint()
    bm = st.groupBy("user_id", "g").agg(F.max("t").alias("bmax"))
    wg = (
        Window.partitionBy("user_id")
        .orderBy("g")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = bm.select("user_id", "g", F.max("bmax").over(wg).alias("prior"))
    en = st.join(prior, ["user_id", "g"], "left")
    runmax = F.greatest("w_runmax", "prior")
    late = F.when(
        runmax.isNull() | (runmax <= F.col("t")), F.lit(0)
    ).otherwise(runmax - F.col("t"))
    return out_of_order_census(en.select("event_type", late.alias("late_us")))


from noaa_etl_spark.queries.temporal import (
    ROLLING_CORR_ORACLE,
    rolling_corr_daily,
    rolling_corr_report,
)


def _fold_daily_xy(
    spark: SparkSession, sf_dir: str, name: str, seed: str
) -> DataFrame:
    """The per-day (x, y) cents relation (rolling_corr_daily) three twins
    fold — Pearson, Spearman and Kendall: each micro-batch writes its
    partial under the plan key ``<name>_partial``; a day split across
    batches folds by integer addition."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    [states] = fold_stream(
        sf_dir, name, ev, hash_split(seed, "event_id"),
        {f"{name}_partial": rolling_corr_daily},
    )
    return states.groupBy("day").agg(
        F.sum("x").cast("bigint").alias("x"),
        F.sum("y").cast("bigint").alias("y"),
    )


@graded("q_stream_rolling_corr", oracle=ROLLING_CORR_ORACLE)
def q_stream_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the trailing-7d Pearson correlation (twin #38):
    per-batch daily (x, y) cents partials are pure integer addition — a
    day split across micro-batches folds by sum, one-series partials
    contribute 0 to the other series (the coalesce baked into
    rolling_corr_daily) — while the trailing window and the corr chain
    are rank-free but ORDER-ful, so they run only in the shared
    rolling_corr_report over the folded daily relation (the stats-merge
    discipline on the full joint-moment window). Shares
    ROLLING_CORR_ORACLE verbatim."""
    daily = _fold_daily_xy(spark, sf_dir, "stream_rollcorr", "srcorr")
    return rolling_corr_report(daily)


from noaa_etl_spark.queries.profiling import JSD_DRIFT_ORACLE, jsd_grid, jsd_report


@graded("q_stream_jsd_drift", oracle=JSD_DRIFT_ORACLE)
def q_stream_jsd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the Jensen-Shannon drift monitor (twin #39):
    per-batch (band, a, b) count grids are pure integer addition — the
    chi-square/PSI additive-grid class — while the probability
    normalization, the zero-side CASE limits, and the ordered ln fold
    depend on the full totals and run only in the shared jsd_report
    over the fold. Shares JSD_DRIFT_ORACLE verbatim. This is the
    drift-battery member that needs NO smoothing prior as state grows:
    empty bands contribute exactly 0 at any fold depth."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    [states] = fold_stream(
        sf_dir, "stream_jsd", ev, hash_split("sjsd", "event_id"),
        {"stream_jsd_grid": jsd_grid},
    )

    folded = (
        states.groupBy("band")
        .agg(
            F.sum("a").cast("bigint").alias("a"),
            F.sum("b").cast("bigint").alias("b"),
        )
    )
    return jsd_report(folded)


from noaa_etl_spark.queries.temporal import SPEARMAN_ORACLE, spearman_report


@graded("q_stream_spearman", oracle=SPEARMAN_ORACLE)
def q_stream_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the Spearman rank correlation (twin #40): the
    maintained state is the SAME daily (day, x, y) cents relation as
    twin #38 (rolling corr) — per-batch partials merge by integer
    addition — while the doubled-midrank windows and the moment chain
    run only in the shared spearman_report over the fold (RANKS of a
    value that is itself a cross-batch SUM are meaningless per batch:
    a day's rank can change every time a later batch adds to any day's
    total, the strongest form of the non-mergeable-rank lesson).
    Shares SPEARMAN_ORACLE verbatim."""
    daily = _fold_daily_xy(spark, sf_dir, "stream_spearman", "sspear")
    return spearman_report(daily)


from noaa_etl_spark.queries.temporal import (
    FORECAST_BASELINE_ORACLE,
    forecast_baseline_report,
    forecast_eval_daily,
)


@graded("q_stream_forecast_backtest", oracle=FORECAST_BASELINE_ORACLE)
def q_stream_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the seasonal-naive forecast backtest
    (twin #41): per-batch (type, day) cents partials fold by integer
    addition, while the 28-day eval window, the 7-day lag join, and
    the MAE/RMSE/sMAPE chains run only in the shared
    forecast_baseline_report over the fold — the eval horizon is
    data-derived (max day over ALL batches), so a per-batch backtest
    would score each batch against its own partial calendar (the
    hist-quantiles data-derived-domain lesson applied to a forecast
    horizon). Shares FORECAST_BASELINE_ORACLE verbatim — the live
    "is the model still beating last week's value" monitor."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    [states] = fold_stream(
        sf_dir, "stream_fcbt", ev, hash_split("sfcbt", "event_id"),
        {"stream_fcbt_partial": forecast_eval_daily},
    )

    folded = (
        states.groupBy("event_type", "day")
        .agg(F.sum("a").cast("bigint").alias("a"))
    )
    return forecast_baseline_report(folded)


from noaa_etl_spark.queries.temporal import THEIL_SEN_ORACLE, theil_sen_finalize


@graded("q_stream_theil_sen", oracle=THEIL_SEN_ORACLE)
def q_stream_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin #42 — the robust-trend monitor: orders arrive as
    three micro-batches; each batch writes its own (day, count) daily
    partial (batch_id-keyed overwrite, restart-idempotent). Daily counts
    are pure integer addition, so the fold reproduces the one-pass
    rollup exactly, and the shared median-of-pairwise-slopes finalize
    (theil_sen_finalize) emits the identical estimate — shares
    THEIL_SEN_ORACLE verbatim. Pairwise slopes are per-batch
    MEANINGLESS (a pair's two days usually land in different batches,
    and a day's count is only final after every batch contributes),
    which is why the state is the daily relation and the O(|days|^2)
    enumeration runs only at finalize — the spearman/rolling-corr
    non-mergeable-statistic posture applied to a robust regression.

    100 TB: per-trigger work is one map-side-combined daily agg over
    the batch; the maintained state is |batches|x|days| rows; each
    re-estimate costs one broadcast self-join over the bounded
    calendar, never a history rescan."""
    from noaa_etl_spark.io import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")

    [partials] = fold_stream(
        sf_dir, "stream_theil_sen", orders, hash_split("sts", "o_orderkey"),
        {"stream_theil_sen_partial": changepoint_daily},
    )

    folded = (
        partials.groupBy("d")
        .agg(F.sum("y").cast("bigint").alias("y"))
    )
    return theil_sen_finalize(folded)


from noaa_etl_spark.queries.temporal import KENDALL_TAU_ORACLE, kendall_report


@graded("q_stream_kendall", oracle=KENDALL_TAU_ORACLE)
def q_stream_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of Kendall's tau-b (twin #43): the maintained
    state is the SAME daily (day, x, y) cents relation as twins
    #38/#40 — per-batch partials merge by integer addition — while the
    pairwise concordance classification runs only in the shared
    kendall_report over the fold. Pair classes are per-batch
    MEANINGLESS twice over: a pair's two days usually straddle batch
    boundaries, AND each day's (x, y) is a cross-batch sum whose
    comparisons are only final after every batch contributes (the
    spearman non-mergeable-rank lesson, strengthened to pairwise
    comparisons). Shares KENDALL_TAU_ORACLE verbatim."""
    daily = _fold_daily_xy(spark, sf_dir, "stream_kendall", "sken")
    return kendall_report(daily)


from noaa_etl_spark.queries.profiling import (
    CLIFFS_DELTA_ORACLE,
    cliffs_delta_report,
    mannwhitney_grid,
)


@graded("q_stream_cliffs_delta", oracle=CLIFFS_DELTA_ORACLE)
def q_stream_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of Cliff's delta (twin #44): the maintained state
    is the SAME per-(source, value) count grid as the Mann-Whitney twin
    #25 — additive BIGINTs, fold == one-pass grid — while the
    doubled-rank machinery and the delta chain run only in the shared
    cliffs_delta_report over the fold (ranks of the pooled distribution
    are per-batch meaningless; the effect size inherits the test
    statistic's merge discipline). Shares CLIFFS_DELTA_ORACLE
    verbatim — the live "is the shift still LARGE" monitor beside the
    significance monitor."""
    from noaa_etl_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")

    [states] = fold_stream(
        sf_dir, "stream_cliffs", docs, hash_split("sclf", "doc_id"),
        {"stream_cliffs_partial": mannwhitney_grid},
    )

    folded = (
        states.groupBy("source", "v")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    return cliffs_delta_report(folded.localCheckpoint())


from noaa_etl_spark.queries.profiling import (
    CONFORMAL_ORACLE,
    conformal_grid,
    conformal_report,
)


@graded("q_stream_conformal", oracle=CONFORMAL_ORACLE)
def q_stream_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the split-conformal calibration (twin #45):
    the maintained state is the (type, is_cal, cents) count grid —
    additive BIGINTs, and the md5 cal/test split is row-deterministic
    so the fold IS the one-pass grid — while the calibration order
    statistic, the conformal radius, and the realized-coverage report
    run only in the shared conformal_report over the fold (an order
    statistic is the canonical non-mergeable statistic: q_hat after
    batch k says nothing about q_hat after batch k+1, the
    rolling-median lesson; and the PREDICTOR itself — the calibration
    mean — shifts with every batch, re-scoring every historical
    nonconformity, which only a grid-state twin survives). Shares
    CONFORMAL_ORACLE verbatim — the live model-serving coverage
    monitor."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    [states] = fold_stream(
        sf_dir, "stream_conformal", ev, hash_split("sconf", "event_id"),
        {"stream_conformal_partial": conformal_grid},
    )

    folded = (
        states.groupBy("event_type", "is_cal", "cents")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    return conformal_report(folded)


from noaa_etl_spark.queries.profiling import SEQUENTIAL_MSPT_ORACLE, mspt_report


@graded("q_stream_mspt", oracle=SEQUENTIAL_MSPT_ORACLE)
def q_stream_mspt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the mSPRT always-valid test (twin #46) — and
    the statistic's NATIVE deployment: mSPRT exists precisely so an
    experimenter can peek after every micro-batch without alpha
    inflation, so the stream that re-issues ln_lambda after each fold
    IS the product. State = the six per-type arm moments (additive
    BIGINTs, the stream_ab_test machinery); the mixture-LR chain runs
    only in the shared mspt_report over the fold. Shares
    SEQUENTIAL_MSPT_ORACLE verbatim."""
    from noaa_etl_spark.io import load_table
    from noaa_etl_spark.queries.profiling import ab_arm, ab_moments

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id", "value")

    arm = ab_arm()
    cents = F.floor(F.col("value") * 100).cast("bigint")

    def partial(batch_df: DataFrame) -> DataFrame:
        assigned = batch_df.select(
            "event_type", arm.alias("arm"), cents.alias("cents")
        )
        return ab_moments(assigned)

    [states] = fold_stream(
        sf_dir, "stream_mspt", ev, hash_split("smspt", "event_id"),
        {"stream_mspt_partial": partial},
    )

    folded = (
        states.groupBy("event_type")
        .agg(
            F.sum("n_a").cast("bigint").alias("n_a"),
            F.sum("n_b").cast("bigint").alias("n_b"),
            F.sum("s_a").cast("bigint").alias("s_a"),
            F.sum("s_b").cast("bigint").alias("s_b"),
            F.sum("q_a").cast("bigint").alias("q_a"),
            F.sum("q_b").cast("bigint").alias("q_b"),
        )
    )
    return mspt_report(folded)


from noaa_etl_spark.queries.text import ZIPF_FIT_ORACLE, zipf_counts, zipf_report


@graded("q_stream_zipf", oracle=ZIPF_FIT_ORACLE)
def q_stream_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the Zipf fit (twin #47) — the live corpus-
    composition monitor (a drifting slope between crawl batches is the
    generated-text / template-flood alarm). State = the (word, cnt)
    relation (additive BIGINTs); rank and the ln-regression run only
    in the shared zipf_report over the fold, because a word's RANK is
    meaningless until every batch has contributed (the spearman
    non-mergeable-rank lesson on the frequency axis). Shares
    ZIPF_FIT_ORACLE verbatim."""
    from noaa_etl_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents").select("text")

    [states] = fold_stream(
        sf_dir, "stream_zipf", docs, hash_split("szipf", "doc_id"),
        {"stream_zipf_partial": zipf_counts},
    )

    folded = (
        states.groupBy("word")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    return zipf_report(folded)


from noaa_etl_spark.queries.profiling import (
    DID_ORACLE,
    KRUSKAL_ORACLE,
    did_assign,
    did_cells,
    did_report,
    kruskal_grid,
    kruskal_report,
)


@graded("q_stream_diff_in_diff", oracle=DID_ORACLE)
def q_stream_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the difference-in-differences estimate (twin
    #48) — the live quasi-experiment monitor: each micro-batch absorbs
    its events into the 12-column 2x2 cell-moment row, and the fold is
    pure column-wise BIGINT addition (the stats-merge discipline on a
    2x2 design); did/se/z run only in the shared finalize. Arms and the
    period cut are batch-independent pure functions of (user_id, ts),
    so state rows merge regardless of arrival order. Shares DID_ORACLE
    verbatim."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    [states] = fold_stream(
        sf_dir, "stream_did", ev, hash_split("sdid", "event_id"),
        {"stream_did_cells": lambda b: did_cells(did_assign(b))},
    )

    cols = [f"{p}_{a}{t}" for p in ("n", "s", "q") for a in ("a", "b") for t in (0, 1)]
    folded = states.agg(*[F.sum(c).cast("bigint").alias(c) for c in cols])
    return did_report(folded)


@graded("q_stream_kruskal", oracle=KRUSKAL_ORACLE)
def q_stream_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the Kruskal-Wallis K-sample test (twin #49) —
    the stream_mannwhitney lesson generalized: RANKS are per-batch
    meaningless (a value's pooled rank shifts with every arriving
    batch), so the maintained state is the additive (grp, cents, count)
    grid and the doubled-midrank machinery runs only in the shared
    finalize over the fold. Shares KRUSKAL_ORACLE verbatim."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    [states] = fold_stream(
        sf_dir, "stream_kruskal", ev, hash_split("skw", "event_id"),
        {"stream_kruskal_grid": kruskal_grid},
    )

    folded = (
        states.groupBy("grp", "v")
        .agg(F.sum("c").cast("bigint").alias("c"))
        .localCheckpoint()
    )
    return kruskal_report(folded)


from noaa_etl_spark.queries.text import (
    HEAPS_ORACLE,
    heaps_report,
    heaps_word_firsts,
)
from noaa_etl_spark.functions.text import tokenize as _heaps_tokenize


@graded("q_stream_heaps", oracle=HEAPS_ORACLE)
def q_stream_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the Heaps'-law vocabulary-growth fit (twin
    #50) — the live corpus-composition monitor beside q_stream_zipf.
    TWO mergeable states per batch: the doc-grain (doc_id, n_tok) rows
    (each doc arrives exactly once, so the union IS the batch relation)
    and the (word, first-doc) relation, which folds by MIN — the
    activity-bitmask merge class on the vocabulary axis: a later batch
    can only LOWER a word's first-occurrence doc, never unsee it. The
    cumulative curve and ln-ln fit run only in the shared finalize
    because vocab-so-far at doc i depends on every batch's firsts.
    Shares HEAPS_ORACLE verbatim."""
    from noaa_etl_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def toks(batch_df: DataFrame) -> DataFrame:
        return batch_df.select("doc_id", _heaps_tokenize(F.col("text")).alias("tk"))

    tokens, firsts = fold_stream(
        sf_dir, "stream_heaps", docs, hash_split("sheaps", "doc_id"),
        {
            "stream_heaps_tokens": lambda b: toks(b).select(
                "doc_id", F.size("tk").cast("bigint").alias("n_tok")
            ),
            "stream_heaps_firsts": lambda b: heaps_word_firsts(toks(b)),
        },
    )

    firsts = firsts.groupBy("w").agg(F.min("fd").cast("bigint").alias("fd"))
    return heaps_report(tokens.select("doc_id", "n_tok"), firsts)


from noaa_etl_spark.queries.etl import (
    MULTI_REG_ORACLE,
    ols_moments,
    ols_obs,
    ols_report,
)
from noaa_etl_spark.queries.profiling import (
    STUMP_ORACLE,
    WILCOXON_ORACLE,
    stump_grid,
    stump_report,
    wilcoxon_report,
    wilcoxon_user_state,
)


@graded("q_stream_multiple_regression", oracle=MULTI_REG_ORACLE)
def q_stream_multiple_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the 2-feature OLS (twin #51) — INCREMENTAL
    regression done right: the normal equations depend on the data only
    through the ten sufficient-statistic sums, so each micro-batch's
    moment row folds by column-wise BIGINT addition and the Cramer
    solve runs only at finalize over the fold — the model is exactly
    re-fit on all data after every batch at O(1) state. Shares
    MULTI_REG_ORACLE verbatim."""
    from noaa_etl_spark.io import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_discount", "l_extendedprice"
    )

    [states] = fold_stream(
        sf_dir, "stream_ols", li, hash_split("sols", "l_orderkey"),
        {"stream_ols_moments": lambda b: ols_moments(ols_obs(b))},
    )

    cols = ["n", "sx1", "sx2", "sy", "sx11", "sx22", "sx12", "sx1y", "sx2y", "syy"]
    folded = states.agg(*[F.sum(c).cast("bigint").alias(c) for c in cols])
    return ols_report(folded)


@graded("q_stream_decision_stump", oracle=STUMP_ORACLE)
def q_stream_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the information-gain decision stump (twin
    #52) — the online weak learner: per-batch (bucket, n, pos) grids
    fold by addition (the fixed 1024-bucket domain makes the state
    O(1)); the prefix-sum gain scan and rounded-gain argmax run only at
    finalize, because every candidate split's counts depend on all
    batches. Shares STUMP_ORACLE verbatim."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    [states] = fold_stream(
        sf_dir, "stream_stump", ev, hash_split("sstump", "event_id"),
        {"stream_stump_grid": stump_grid},
    )

    folded = (
        states.groupBy("bucket")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("pos").cast("bigint").alias("pos"),
        )
    )
    return stump_report(folded)


@graded("q_stream_wilcoxon", oracle=WILCOXON_ORACLE)
def q_stream_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the Wilcoxon signed-rank test (twin #53) — a
    user's paired (pre, post) totals may arrive across many batches, so
    the state is the per-user partial-sum relation folded by USER-GRAIN
    addition; diffs, the |d| grid, and the doubled-midrank machinery
    run only at finalize (per-batch diffs would pair a user's pre
    events against an incomplete post — the first PAIRED-design merge).
    Shares WILCOXON_ORACLE verbatim."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    [states] = fold_stream(
        sf_dir, "stream_wilcoxon", ev, hash_split("swsr", "event_id"),
        {"stream_wilcoxon_user": wilcoxon_user_state},
    )

    folded = (
        states.groupBy("user_id")
        .agg(
            F.sum("pre").cast("bigint").alias("pre"),
            F.sum("post").cast("bigint").alias("post"),
        )
    )
    return wilcoxon_report(folded)


from noaa_etl_spark.queries.profiling import (
    CRONBACH_ORACLE,
    LEVENE_ORACLE,
    MANN_KENDALL_ORACLE,
    cronbach_report,
    cronbach_user_state,
    levene_report_from_grid,
)
from noaa_etl_spark.queries.temporal import changepoint_daily as _mk_daily


@graded("q_stream_levene", oracle=LEVENE_ORACLE)
def q_stream_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the Brown-Forsythe variance test (twin #54) —
    the deepest non-mergeable-statistic case so far: the group MEDIAN
    (an order statistic) anchors every deviation, so neither medians
    nor deviation moments can fold across batches. The state is the
    additive (grp, cents, count) grid (kruskal_grid — shared with twin
    #49), and the finalize recovers 2*median EXACTLY by cumulative
    selection on the folded grid (v@rank((n+1) div 2) +
    v@rank((n+2) div 2) == quantile_cont's odd/even midpoint identity)
    before building the deviation moments FROM THE GRID. Shares
    LEVENE_ORACLE verbatim."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    [states] = fold_stream(
        sf_dir, "stream_levene", ev, hash_split("slev", "event_id"),
        {"stream_levene_grid": kruskal_grid},
    )

    folded = (
        states.groupBy("grp", "v")
        .agg(F.sum("c").cast("bigint").alias("c"))
        .localCheckpoint()
    )
    return levene_report_from_grid(folded)


@graded("q_stream_mann_kendall", oracle=MANN_KENDALL_ORACLE)
def q_stream_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the Mann-Kendall trend test (twin #55) — the
    live is-the-trend-real monitor beside twin #42's Theil-Sen slope:
    both maintain the SAME additive daily-count state (changepoint_
    daily), and MK's pair comparisons are per-batch meaningless twice
    over (pairs straddle batches AND each day's count is a cross-batch
    sum — the stream_kendall lesson on the calendar axis). Pair scan,
    tie correction, and the continuity-corrected z run only at
    finalize. Shares MANN_KENDALL_ORACLE verbatim."""
    from noaa_etl_spark.io import load_table
    from noaa_etl_spark.queries.profiling import mann_kendall_finalize

    # the stream has always read the NTZ column as TIMESTAMP (session TZ is UTC)
    date = F.col("o_orderdate").cast("timestamp").alias("o_orderdate")
    orders = load_table(spark, sf_dir, "orders").select(date)
    [states] = fold_stream(
        sf_dir, "stream_mk", orders, hash_split("smk", "o_orderkey"),
        {"stream_mk_daily": _mk_daily},
    )

    folded = (
        states.groupBy("d")
        .agg(F.sum("y").cast("bigint").alias("y"))
        .localCheckpoint()
    )
    return mann_kendall_finalize(folded)


@graded("q_stream_cronbach", oracle=CRONBACH_ORACLE)
def q_stream_cronbach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of Cronbach's alpha (twin #56) — the live
    labeling-crew / judge-ensemble consistency monitor: per-user item
    totals fold by user-grain addition (a user's click/view/purchase
    events arrive across batches; per-batch alphas would correlate
    incomplete items), variances and alpha only at finalize. Shares
    CRONBACH_ORACLE verbatim."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    [states] = fold_stream(
        sf_dir, "stream_cronbach", ev, hash_split("scron", "event_id"),
        {"stream_cronbach_user": cronbach_user_state},
    )

    folded = (
        states.groupBy("user_id")
        .agg(
            F.sum("x1").cast("bigint").alias("x1"),
            F.sum("x2").cast("bigint").alias("x2"),
            F.sum("x3").cast("bigint").alias("x3"),
        )
    )
    return cronbach_report(folded)


from noaa_etl_spark.queries.temporal import GAP_REGULARITY_ORACLE, gap_report


@graded("q_stream_gap_regularity", oracle=GAP_REGULARITY_ORACLE)
def q_stream_gap_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the gap-regularity bot detector (twin #57) —
    a genuinely NEW merge shape: SEGMENT-BOUNDARY RECONSTRUCTION. A
    user's inter-event gaps cannot fold as plain moments because the
    gap straddling two micro-batches exists in NEITHER batch. Batching
    by EVENT-TIME RANGES (the stream_out_of_order construction) makes
    each per-(user, range) state carry its internal gap moments PLUS
    its first/last event timestamps; the finalize lag-joins adjacent
    non-empty segments per user, reconstructs each boundary gap as
    (first_t_next - last_t_prev) div 1e6 — exactly the gap the batch
    window would have computed, since time-ranged segments preserve
    the per-user event order — and adds the boundary (count, sum,
    sum-of-squares) contribution to the folded internal moments: the
    interval-merge discipline applied to MOMENT state. Shares
    GAP_REGULARITY_ORACLE verbatim."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("t"), "event_id"
    )

    def partial(batch_df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy("t", "event_id")
        gaps = batch_df.select(
            "user_id",
            "t",
            (F.col("t") - F.lag("t").over(w)).alias("dt"),
        )
        return gaps.groupBy("user_id").agg(
            F.count_if(F.col("dt").isNotNull()).cast("bigint").alias("n_g"),
            F.coalesce(
                F.sum(F.expr("dt div 1000000")), F.lit(0)
            ).cast("bigint").alias("sg"),
            F.coalesce(
                F.sum(F.expr("(dt div 1000000) * (dt div 1000000)")), F.lit(0)
            ).cast("bigint").alias("qg"),
            F.min("t").cast("bigint").alias("first_t"),
            F.max("t").cast("bigint").alias("last_t"),
        )

    [segs] = fold_stream(
        sf_dir, "stream_gapreg", ev, range_split(ev, "t"),
        {"stream_gapreg_segments": partial},
    )

    with_bg = segs.select(
        "user_id",
        "n_g",
        "sg",
        "qg",
        F.expr(
            "(first_t - lag(last_t) OVER"
            " (PARTITION BY user_id ORDER BY batch_id)) div 1000000"
        ).alias("bg"),
    )
    m = with_bg.groupBy("user_id").agg(
        (F.sum("n_g") + F.count_if(F.col("bg").isNotNull()))
        .cast("bigint")
        .alias("n"),
        (F.sum("sg") + F.coalesce(F.sum("bg"), F.lit(0)))
        .cast("bigint")
        .alias("sg"),
        (F.sum("qg") + F.coalesce(F.sum(F.col("bg") * F.col("bg")), F.lit(0)))
        .cast("bigint")
        .alias("qg"),
    )
    return gap_report(m.filter(F.col("n") > 0))


from noaa_etl_spark.queries.similarity import NORM_AUDIT_ORACLE
from noaa_etl_spark.queries.temporal import PAGE_HINKLEY_ORACLE


@graded("q_stream_page_hinkley", oracle=PAGE_HINKLEY_ORACLE)
def q_stream_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the Page-Hinkley monitor (twin #58) — like
    mSPRT, sequential drift detection is the statistic's NATIVE
    deployment: the maintained state is the additive daily-count
    relation (shared with twins #55/#15), and the full PH fold re-runs
    over the day-ordered series at every report — the running mean
    x-bar_t depends on the whole prefix, so no per-batch partial of
    the fold itself can merge (the holt-recurrence lesson). Shares
    PAGE_HINKLEY_ORACLE verbatim."""
    from noaa_etl_spark.io import load_table
    from noaa_etl_spark.queries.temporal import page_hinkley_finalize

    # the stream has always read the NTZ column as TIMESTAMP (session TZ is UTC)
    date = F.col("o_orderdate").cast("timestamp").alias("o_orderdate")
    orders = load_table(spark, sf_dir, "orders").select(date)
    [states] = fold_stream(
        sf_dir, "stream_ph", orders, hash_split("sph", "o_orderkey"),
        {"stream_ph_daily": _mk_daily},
    )

    folded = (
        states.groupBy("d")
        .agg(F.sum("y").cast("bigint").alias("y"))
    )
    return page_hinkley_finalize(folded)


@graded("q_stream_norm_audit", oracle=NORM_AUDIT_ORACLE)
def q_stream_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the embedding norm audit (twin #59) — the
    live encoder-health monitor (a batch of zero-norm vectors = the
    encoder endpoint started failing): per-vector quantized norms are
    exact BIGINTs, so the per-(label, batch) state (n, min, max, sum,
    zero-count, unit-count) folds by min/min, max/max, sum/sum — all
    exact integer merges; the mean is derived from the folded sum at
    report time (never fold per-batch means). Shares NORM_AUDIT_ORACLE
    verbatim."""
    from noaa_etl_spark.functions.vectors import l2_norm
    from noaa_etl_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("label", "embedding")

    def partial(batch_df: DataFrame) -> DataFrame:
        qn = F.floor(l2_norm(F.col("embedding")) * 1000000 + 0.5).cast("bigint")
        return (
            batch_df.select("label", qn.alias("qn"))
            .groupBy("label")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.min("qn").cast("bigint").alias("min_u"),
                F.max("qn").cast("bigint").alias("max_u"),
                F.sum("qn").cast("bigint").alias("sum_qn"),
                F.count_if(F.col("qn") == 0).cast("bigint").alias("n_zero"),
                F.count_if(
                    (F.col("qn") >= 990000) & (F.col("qn") <= 1010000)
                )
                .cast("bigint")
                .alias("n_unit"),
            )
        )

    [states] = fold_stream(
        sf_dir, "stream_norms", emb, hash_split("snorm", "vec_id"),
        {"stream_norms_partial": partial},
    )

    folded = states.groupBy("label").agg(
        F.sum("n").cast("bigint").alias("n_vecs"),
        F.min("min_u").cast("bigint").alias("min_norm_u"),
        F.max("max_u").cast("bigint").alias("max_norm_u"),
        F.sum("sum_qn").cast("bigint").alias("sum_qn"),
        F.sum("n_zero").cast("bigint").alias("n_zero"),
        F.sum("n_unit").cast("bigint").alias("n_unit"),
    )
    return folded.select(
        "label",
        "n_vecs",
        "min_norm_u",
        "max_norm_u",
        F.round(
            F.col("sum_qn").cast("double") / F.col("n_vecs") / F.lit(1000000.0), 6
        ).alias("mean_norm"),
        "n_zero",
        "n_unit",
    )


from noaa_etl_spark.queries.windows import (
    TUKEY_FENCES_ORACLE,
    tukey_grid,
    tukey_report_from_grid,
)


@graded("q_stream_tukey", oracle=TUKEY_FENCES_ORACLE)
def q_stream_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the Tukey-fences outlier census (twin #60) —
    the order-statistic-from-grid family extended past the median
    (twin #54's Levene selection): Q1/Q3 are interpolated quantiles,
    reconstructed from the additive (type, value, count) grid by
    cumulative selection at ranks floor(h)+1 / floor(h)+2 plus the
    linear blend v_lo + (v_hi - v_lo)*frac at h = p*(n-1) — verified
    bit-equal to the batch windowed-percentile form, so the twin
    shares TUKEY_FENCES_ORACLE verbatim. Quantiles and fence counts
    run only at finalize (every batch shifts every rank)."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    [states] = fold_stream(
        sf_dir, "stream_tukey", ev, hash_split("stuk", "event_id"),
        {"stream_tukey_grid": tukey_grid},
    )

    folded = (
        states.groupBy("event_type", "value")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    return tukey_report_from_grid(folded)


from noaa_etl_spark.queries.profiling import (
    SIMPSON_ORACLE,
    simpson_cells,
    simpson_report,
)


@graded("q_stream_simpson", oracle=SIMPSON_ORACLE)
def q_stream_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the Simpson's-paradox guardrail (twin #61) —
    the live aggregation-trap monitor for a running experiment: the
    (stratum, arm-moment) cells fold by stratum-grain addition, and
    BOTH estimands (pooled and post-stratified) plus the reversal flag
    are recomputed from the fold at every report — a per-batch reversal
    flag would compare effects of different populations. Shares
    SIMPSON_ORACLE verbatim."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    [states] = fold_stream(
        sf_dir, "stream_simpson", ev, hash_split("ssimp", "event_id"),
        {"stream_simpson_cells": simpson_cells},
    )

    folded = (
        states.groupBy("stratum")
        .agg(
            F.sum("n_a").cast("bigint").alias("n_a"),
            F.sum("n_b").cast("bigint").alias("n_b"),
            F.sum("s_a").cast("bigint").alias("s_a"),
            F.sum("s_b").cast("bigint").alias("s_b"),
        )
        .localCheckpoint()
    )
    return simpson_report(folded)


from noaa_etl_spark.queries.scale import (
    LOCAL_CC_ORACLE,
    cc_items,
    cc_report_from_items,
)


@graded("q_stream_clustering_coefficient", oracle=LOCAL_CC_ORACLE)
def q_stream_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the local clustering coefficient (twin #62 —
    the graph family's FIRST stream twin): co-purchase EDGES are not
    per-batch computable, because an order whose line items split
    across micro-batches forms pairs that exist in NEITHER batch (the
    gap-regularity boundary lesson on the graph axis). The mergeable
    state is the distinct (order, part) ITEM relation — folded by
    union-distinct — and the pair derivation, orientation, wedge
    enumeration, and per-node triangle counts all run at finalize.
    Batches are deliberately split by line hash (not order hash) so
    cross-batch orders actually occur. Shares LOCAL_CC_ORACLE
    verbatim."""
    from noaa_etl_spark.io import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_linenumber", "l_orderkey", "l_partkey", "l_quantity"
    )
    li = li.withColumn(
        "line_id",
        F.xxhash64(F.lit("scc"), F.col("l_orderkey"), F.col("l_partkey")),
    )
    [states] = fold_stream(
        sf_dir,
        "stream_cc",
        li.drop("l_linenumber", "line_id"),
        hash_split("scc2", "line_id"),
        {"stream_cc_items": cc_items},
    )

    folded = (
        states.select("l_orderkey", "part").distinct()
    )
    return cc_report_from_items(folded)


from noaa_etl_spark.queries.etl import (
    METRIC_WATERFALL_ORACLE,
    waterfall_cells,
    waterfall_report,
)
from noaa_etl_spark.queries.temporal import (
    SEASONALITY_STRENGTH_ORACLE,
    TIME_TO_CONVERT_ORACLE,
    seasonality_daily,
    seasonality_report,
    ttc_firsts,
    ttc_report,
)


@graded("q_stream_metric_waterfall", oracle=METRIC_WATERFALL_ORACLE)
def q_stream_metric_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the revenue-bridge waterfall (twin #63) — the
    live 'why is the metric moving' monitor: per-type 2-period cells
    fold by addition; all three effects recomputed from the fold (a
    per-batch rate0 would price the volume effect off an incomplete
    baseline). Shares METRIC_WATERFALL_ORACLE verbatim."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    [states] = fold_stream(
        sf_dir, "stream_waterfall", ev, hash_split("swf", "event_id"),
        {"stream_waterfall_cells": waterfall_cells},
    )

    folded = states.groupBy("event_type").agg(
        F.sum("n0").cast("bigint").alias("n0"),
        F.sum("n1").cast("bigint").alias("n1"),
        F.sum("r0").cast("bigint").alias("r0"),
        F.sum("r1").cast("bigint").alias("r1"),
    )
    return waterfall_report(folded)


@graded("q_stream_seasonality", oracle=SEASONALITY_STRENGTH_ORACLE)
def q_stream_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the strength-of-seasonality score (twin #64):
    the (type, day) daily rollup folds by addition; seasonal means,
    residuals, and both variances run only at finalize — a day's total
    (and hence every residual) is a cross-batch sum, the stream_
    rolling_corr lesson on the dow axis. Shares
    SEASONALITY_STRENGTH_ORACLE verbatim."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    [states] = fold_stream(
        sf_dir, "stream_seasonality", ev, hash_split("ssea", "event_id"),
        {"stream_seasonality_daily": seasonality_daily},
    )

    folded = states.groupBy("event_type", "day_idx").agg(
        F.sum("y").cast("bigint").alias("y")
    )
    return seasonality_report(folded)


@graded("q_stream_funnel_ttc", oracle=TIME_TO_CONVERT_ORACLE)
def q_stream_funnel_ttc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the funnel time-to-convert (twin #65): the
    per-user per-stage FIRST-touch state folds by MIN (a later batch
    can only lower a first touch — the heaps word-firsts class);
    latencies and percentiles run only at finalize, because a user's
    first view and first purchase may arrive in different batches and
    a per-batch latency would pair the wrong touches. Shares
    TIME_TO_CONVERT_ORACLE verbatim."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "event_type")
    [states] = fold_stream(
        sf_dir, "stream_ttc", ev, hash_split("sttc", "event_id"),
        {"stream_ttc_firsts": ttc_firsts},
    )

    folded = states.groupBy("user_id").agg(
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min("t_purchase").alias("t_purchase"),
    )
    return ttc_report(folded)


from noaa_etl_spark.queries.temporal import BOUNCE_RATE_ORACLE
from noaa_etl_spark.operators.sessionize import sessionize as _sess_op


@graded("q_stream_bounce_rate", oracle=BOUNCE_RATE_ORACLE)
def q_stream_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the daily bounce rate (twin #66) — SESSION
    STITCHING, the merge shape real streaming sessionizers implement:
    a session is not per-batch computable (its events straddle
    micro-batches), so each event-time-ranged batch sessionizes its
    OWN slice and the state is the per-(user, range) SESSION SUMMARY
    rows (start, end, n_events). The finalize re-runs gaps-and-islands
    over the session rows themselves: consecutive per-range sessions
    merge iff next.start - prev.end <= 30 min — within a range that
    gap is > 30 min by construction, so the rule fires exactly at
    range boundaries and transitive chains stitch across any number of
    batches (the running-island machinery on SESSION state; correct by
    the same argument as twin #57's boundary gaps). Shares
    BOUNCE_RATE_ORACLE verbatim."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", F.unix_micros("ts").alias("t")
    )

    def partial(batch_df: DataFrame) -> DataFrame:
        sess = _sess_op(batch_df, tiebreak_col="event_id")
        return sess.groupBy("user_id", "session_id").agg(
            F.min(F.unix_micros("ts")).cast("bigint").alias("s_us"),
            F.max(F.unix_micros("ts")).cast("bigint").alias("e_us"),
            F.count(F.lit(1)).cast("bigint").alias("n_ev"),
        )

    [states] = fold_stream(
        sf_dir, "stream_bounce", ev.drop("t"), range_split(ev, "t"),
        {"stream_bounce_sessions": partial},
    )

    segs = states.select("user_id", "s_us", "e_us", "n_ev")
    w = Window.partitionBy("user_id").orderBy("s_us")
    new_island = F.when(
        F.lag("e_us").over(w).isNull()
        | (F.col("s_us") - F.lag("e_us").over(w) > 1_800_000_000),
        1,
    ).otherwise(0)
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    islands = segs.withColumn("ni", new_island).withColumn(
        "island", F.sum("ni").over(w_run)
    )
    stitched = islands.groupBy("user_id", "island").agg(
        F.sum("n_ev").cast("bigint").alias("n_events"),
        F.expr("min(s_us) div 86400000000").alias("day_idx"),
    )
    return (
        stitched.groupBy("day_idx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.count_if(F.col("n_events") == 1).cast("bigint").alias("n_bounce"),
            F.round(
                F.count_if(F.col("n_events") == 1).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("bounce_rate"),
        )
        .orderBy("day_idx")
    )


from noaa_etl_spark.queries.temporal import APDEX_ORACLE


@graded("q_stream_apdex", oracle=APDEX_ORACLE)
def q_stream_apdex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the Apdex score (twin #67) — the live SLA
    dial: per-(type, batch) satisfied/tolerating/frustrated counts
    fold by addition (band assignment is a pure per-event literal
    comparison), the score derives from the folded counts at report
    time (never average per-batch Apdex values — unequal batch sizes
    would weight them wrongly). Shares APDEX_ORACLE verbatim."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")

    def partial(batch_df: DataFrame) -> DataFrame:
        band = (
            F.when(F.col("value") <= 50.0, 1)
            .when(F.col("value") <= 200.0, 2)
            .otherwise(3)
        )
        return (
            batch_df.select("event_type", band.alias("band"))
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.count_if(F.col("band") == 1).cast("bigint").alias("n_satisfied"),
                F.count_if(F.col("band") == 2).cast("bigint").alias("n_tolerating"),
                F.count_if(F.col("band") == 3).cast("bigint").alias("n_frustrated"),
            )
        )

    [states] = fold_stream(
        sf_dir, "stream_apdex", ev, hash_split("sapx", "event_id"),
        {"stream_apdex_bands": partial},
    )

    folded = states.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("n_satisfied").cast("bigint").alias("n_satisfied"),
        F.sum("n_tolerating").cast("bigint").alias("n_tolerating"),
        F.sum("n_frustrated").cast("bigint").alias("n_frustrated"),
    )
    return folded.select(
        "event_type",
        "n",
        "n_satisfied",
        "n_tolerating",
        "n_frustrated",
        F.round(
            (
                F.col("n_satisfied").cast("double")
                + F.col("n_tolerating").cast("double") / F.lit(2.0)
            )
            / F.col("n"),
            6,
        ).alias("apdex"),
    ).orderBy("event_type")


from noaa_etl_spark.queries.profiling import (
    COCHRAN_ARMITAGE_ORACLE,
    MCC_ORACLE,
    ca_grid,
    ca_report,
    mcc_confusion,
    mcc_report,
)
from noaa_etl_spark.queries.temporal import (
    SLO_BURN_ORACLE,
    slo_hourly,
    slo_report,
)


@graded("q_stream_error_budget", oracle=SLO_BURN_ORACLE)
def q_stream_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the SLO burn-rate alerter (twin #68) — burn
    alerting's NATIVE deployment (the whole point is paging LIVE):
    hourly (n, n_err) rollups fold by addition; the 6h trailing
    windows and both burn rates run only at finalize, because a late
    batch can add errors to an hour already reported (the
    replay-idempotent fold, not an intake-time carry). Shares
    SLO_BURN_ORACLE verbatim."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    [states] = fold_stream(
        sf_dir, "stream_slo", ev, hash_split("sslo", "event_id"),
        {"stream_slo_hourly": slo_hourly},
    )

    folded = states.groupBy("hour_idx").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("n_err").cast("bigint").alias("n_err"),
    )
    return slo_report(folded)


@graded("q_stream_mcc", oracle=MCC_ORACLE)
def q_stream_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the MCC eval (twin #69): the four confusion
    cells fold by addition and the correlation derives from the folded
    cells (never average per-batch MCCs — the ratio is not linear in
    the cells). Shares MCC_ORACLE verbatim."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    [states] = fold_stream(
        sf_dir, "stream_mcc", ev, hash_split("smcc", "event_id"),
        {"stream_mcc_conf": mcc_confusion},
    )

    folded = states.agg(
        F.sum("tp").cast("bigint").alias("tp"),
        F.sum("fp").cast("bigint").alias("fp"),
        F.sum("fn").cast("bigint").alias("fn"),
        F.sum("tn").cast("bigint").alias("tn"),
    )
    return mcc_report(folded)


@graded("q_stream_cochran_armitage", oracle=COCHRAN_ARMITAGE_ORACLE)
def q_stream_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the Cochran-Armitage trend test (twin #70):
    the 5-band dose grid folds by addition; the scored sums, T, and
    Var(T) run only at finalize (p = R/N shifts with every batch, so
    no per-batch z is meaningful). Shares COCHRAN_ARMITAGE_ORACLE
    verbatim."""
    from noaa_etl_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    [states] = fold_stream(
        sf_dir, "stream_ca", ev, hash_split("sca", "event_id"),
        {"stream_ca_grid": ca_grid},
    )

    folded = states.groupBy("s").agg(
        F.sum("n_i").cast("bigint").alias("n_i"),
        F.sum("r_i").cast("bigint").alias("r_i"),
    )
    return ca_report(folded)
