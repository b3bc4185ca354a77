"""Temporal / events-surface queries: sessionization, time buckets,
as-of join, JSON extraction, date functions, pivot/unpivot.

SURVEY.md §2.J (batch-first, graded) — each op's Structured Streaming
twin lives in noaa_etl_spark/streaming/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from noaa_etl_spark.io import load_table
from noaa_etl_spark.operators.sessionize import (
    sessionize,
    sessionize_auto,
    sessionize_bucketed,
)
from noaa_etl_spark.operators.asof import asof_join, asof_join_nearest
from noaa_etl_spark.registry import graded


SESSIONIZE_ORACLE = """
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
    flagged AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM e
    ),
    sessions AS (
      SELECT user_id, ts, value,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           count(*)   AS n_events,
           sum(value) AS session_value,
           min(ts)    AS session_start,
           max(ts)    AS session_end
    FROM sessions
    GROUP BY user_id, session_id
    """


@graded("q_sessionize", oracle=SESSIONIZE_ORACLE)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min-gap sessionization via lag → flag → running-sum.

    Scale: one window shuffle on user_id (the natural partitioning) plus
    one map-side-combinable agg. No state accumulates beyond a partition.
    No final orderBy: the session table is unordered output (the graded
    compare is order-insensitive; the baseline's lag/cumsum shape carries
    no sort) — a global range-sort of all sessions cost 1.5× the whole
    sessionize at sf0.1 and would be pure waste at 100 TB.
    Streaming twin: F.session_window in streaming/sessions.py.
    """
    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev, user_col="user_id", ts_col="ts", gap_seconds=1800, tiebreak_col="event_id")
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("session_value"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


@graded("q_sessionize_bucketed", oracle=SESSIONIZE_ORACLE)
def q_sessionize_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKEW-SAFE sessionize served end-to-end against the exact same
    oracle as q_sessionize: local (user, day) sessionize → summary
    stitch → null-safe map-back (operators/sessionize.py). Identical
    output by construction (equivalence-tested incl. NULL keys and
    multi-midnight sessions), so the one oracle validates both layouts —
    this entry gives the 100 TB celebrity-user path (SCALING.md: 3.0×
    over the plain window at 8M rows, 50%-hot user) its own driver
    signal instead of riding on the plain form's.
    """
    ev = load_table(spark, sf_dir, "events")
    sess = sessionize_bucketed(
        ev, user_col="user_id", ts_col="ts", gap_seconds=1800, tiebreak_col="event_id"
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("session_value"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@graded("q_sessionize_auto", oracle=SESSIONIZE_ORACLE)
def q_sessionize_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-ADAPTIVE sessionize dispatcher served end-to-end — the
    operator a 100 TB deployment actually calls (operators/
    sessionize.sessionize_auto): one combinable max-events-per-user agg
    picks the plain window form below the measured skew crossover and
    the bucketed stitch form above it (the round-10 probe's rule —
    bucketed is the SKEW gear, never the size gear). Output is
    identical on either path by the pinned equivalence, so all three
    sessionize entries share one oracle; this grades the dispatch
    plumbing (the extra 1-row collect + branch) under the vanilla
    driver rather than only in tests."""
    ev = load_table(spark, sf_dir, "events")
    sess = sessionize_auto(
        ev, user_col="user_id", ts_col="ts", gap_seconds=1800, tiebreak_col="event_id"
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("session_value"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@graded(
    "q_tumbling_window",
    oracle="""
    WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS bucket_start,
           event_type,
           count(*)   AS n_events,
           sum(value) AS total_value
    FROM e
    GROUP BY 1, 2
    ORDER BY bucket_start, event_type
    """,
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling-window aggregate (F.window in batch mode).

    The same groupBy(F.window(...)) shape runs unchanged on readStream
    with a watermark — see streaming/windows.py.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("bucket_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("bucket_start", "event_type")
    )


@graded(
    "q_sliding_window",
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
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute window sliding every 5 minutes.

    Spark's F.window(slide) assigns each row to windowDuration/slide
    windows; the oracle reproduces that by exploding each 5-min bucket
    into the two 10-min windows containing it.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "n_events",
            "total_value",
        )
        .orderBy("window_start")
    )


@graded(
    "q_asof_join",
    oracle="""
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events)
    SELECT p.event_id, p.user_id, p.ts, p.value,
           c.event_id AS click_event_id,
           c.ts       AS click_ts
    FROM (SELECT * FROM e WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM e WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY p.event_id
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest click by the same user
    at or before the purchase time. Composition in operators/asof.py."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_event_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = asof_join(
        probe=purchases,
        build=clicks,
        probe_keys=["user_id"],
        build_keys=["c_user_id"],
        probe_ts="ts",
        build_ts="click_ts",
        build_payload=["click_event_id", "click_ts"],
        tiebreak="click_event_id",
    )
    # No final orderBy: per-purchase output, order-insensitive compare.
    return joined.select(
        "event_id", "user_id", "ts", "value", "click_event_id", "click_ts"
    )


@graded(
    "q_asof_nearest",
    oracle="""
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
    p AS (SELECT * FROM e WHERE event_type = 'purchase'),
    c AS (SELECT * FROM e WHERE event_type = 'click'),
    pairs AS (
      SELECT p.event_id, c.event_id AS c_id, c.ts AS c_ts,
             abs(epoch_us(p.ts) - epoch_us(c.ts)) AS d,
             CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END AS dir,
             CASE WHEN c.ts <= p.ts THEN -c.event_id ELSE c.event_id END AS tb
      FROM p JOIN c ON p.user_id = c.user_id
      WHERE p.ts IS NOT NULL
    ),
    best AS (
      SELECT event_id, c_id AS near_event_id, c_ts AS near_ts
      FROM (
        SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY d, dir, tb) AS rn
        FROM pairs
      ) WHERE rn = 1
    )
    SELECT p.event_id, p.user_id, p.ts, p.value,
           b.near_event_id, b.near_ts
    FROM p LEFT JOIN best b ON p.event_id = b.event_id
    """,
)
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-mode as-of join (pandas merge_asof direction='nearest'):
    each purchase matched to the click by the same user closest in
    time, either side. DuckDB's ASOF is one-directional, so the oracle
    replays the deterministic tie contract (distance, then
    backward-first, then the direction-appropriate event_id tiebreak)
    as a row_number over the (d, dir, tb) order — the quadratic
    pairs form is oracle-only; the engine runs the one-exchange
    two-sort composition (operators/asof.asof_join_nearest).
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("near_event_id"),
        F.col("ts").alias("near_ts"),
    )
    joined = asof_join_nearest(
        probe=purchases,
        build=clicks,
        probe_keys=["user_id"],
        build_keys=["c_user_id"],
        probe_ts="ts",
        build_ts="near_ts",
        build_payload=["near_event_id", "near_ts"],
        tiebreak="near_event_id",
    )
    return joined.select(
        "event_id", "user_id", "ts", "value", "near_event_id", "near_ts"
    )


@graded(
    "q_json_extract",
    oracle="""
    SELECT event_type,
           avg(CAST(props->>'k' AS INT)) AS avg_k,
           count(*) FILTER (WHERE CAST(props->>'k' AS INT) > 50) AS n_high
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the props column + grouped aggregation."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.avg("k").alias("avg_k"),
            F.count_if(F.col("k") > 50).alias("n_high"),
        )
        .orderBy("event_type")
    )


@graded(
    "q_date_functions",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT)         AS order_year,
           CAST(month(o_orderdate) AS INT)         AS order_month,
           count(*)                                AS n_orders,
           sum(o_totalprice)                       AS revenue,
           min(date_trunc('month', o_orderdate))   AS month_start,
           CAST(max(date_diff('day', o_orderdate, TIMESTAMP '2001-12-31')) AS INT) AS max_days_to_eoy
    FROM orders
    GROUP BY 1, 2
    ORDER BY order_year, order_month
    """,
)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date part extraction / truncation / differencing (the NOAA temporal
    bread-and-butter: monthly climate rollups)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("revenue"),
            # .cast("date"): DuckDB date_trunc('month', ts) yields DATE,
            # Spark yields TIMESTAMP — align the collected Python objects.
            F.min(F.date_trunc("month", F.col("o_orderdate")).cast("date")).alias(
                "month_start"
            ),
            F.max(
                F.datediff(
                    F.lit("2001-12-31").cast("timestamp_ntz"), F.col("o_orderdate")
                )
            ).alias("max_days_to_eoy"),
        )
        .orderBy("order_year", "order_month")
    )


@graded(
    "q_pivot_events",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'view')     AS view,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'error')    AS error
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot: event_type rows → per-type count columns (NOAA:
    ELEMENT rows → TMAX/TMIN/PRCP columns).

    Explicit value list — pivot without it adds a distinct pre-scan.
    """
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    pivoted = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )
    return pivoted.orderBy("user_id")


@graded(
    "q_unpivot",
    oracle="""
    SELECT o_orderkey, metric, metric_value
    FROM (
      SELECT o_orderkey,
             o_totalprice AS totalprice,
             CAST(o_custkey AS DOUBLE) AS custkey_num
      FROM orders WHERE o_orderkey < 1000
    )
    UNPIVOT (metric_value FOR metric IN (totalprice, custkey_num))
    ORDER BY o_orderkey, metric
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt)."""
    orders = load_table(spark, sf_dir, "orders")
    narrow = orders.filter(F.col("o_orderkey") < 1000).select(
        "o_orderkey",
        F.col("o_totalprice").alias("totalprice"),
        F.col("o_custkey").cast("double").alias("custkey_num"),
    )
    return narrow.unpivot(
        ids=["o_orderkey"],
        values=["totalprice", "custkey_num"],
        variableColumnName="metric",
        valueColumnName="metric_value",
    ).orderBy("o_orderkey", "metric")


@graded(
    "q_date_spine",
    oracle="""
    WITH spine AS (
      SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                    TIMESTAMP '2024-01-30',
                                    INTERVAL '1 day')) AS day_start
    ),
    daily AS (
      SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day_start, count(*) AS n_events
      FROM events GROUP BY 1
    )
    SELECT s.day_start, coalesce(d.n_events, 0) AS n_events
    FROM spine s LEFT JOIN daily d ON s.day_start = d.day_start
    ORDER BY s.day_start
    """,
)
def q_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine densification: generate a continuous day sequence and
    left-join daily aggregates, filling gaps with zero (the canonical
    missing-observation-day treatment in weather ETL)."""
    ev = load_table(spark, sf_dir, "events")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("timestamp"),
                F.lit("2024-01-30").cast("timestamp"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day_start")
    )
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day_start")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return (
        spine.join(daily, "day_start", "left")
        .select("day_start", F.coalesce("n_events", F.lit(0)).alias("n_events"))
        .orderBy("day_start")
    )


@graded(
    "q_gap_fill",
    oracle="""
    WITH f AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
             event_type, value
      FROM events WHERE value > 150
    ),
    daily AS (
      SELECT d, event_type, count(*) AS n,
             CAST(sum(floor(value)) AS BIGINT) AS ft
      FROM f GROUP BY d, event_type
    ),
    bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
    spine AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
      FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM daily),
    grid AS (SELECT spine.d, types.event_type FROM spine CROSS JOIN types)
    SELECT g.d, g.event_type,
           CAST(coalesce(daily.n, 0) AS BIGINT) AS n_events,
           last_value(daily.ft IGNORE NULLS) OVER (
             PARTITION BY g.event_type ORDER BY g.d
           ) AS floor_total_filled,
           CAST(daily.n IS NULL AS INT) AS is_gap
    FROM grid g LEFT JOIN daily ON g.d = daily.d AND g.event_type = daily.event_type
    ORDER BY g.event_type, g.d
    """,
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap filling with forward-fill — the canonical
    missing-observation repair (NOAA daily series, sensor feeds, sparse
    metrics): build the complete (day × series) grid from the observed
    bounds, left-join the sparse daily aggregates, flag gaps, and carry
    the last observed total forward with last(ignorenulls) over an
    ordered per-series window. The value > 150 slice makes the fixture
    genuinely sparse so gaps exist to fill.

    100 TB: the spine is |days| × |series| — generated from a 1-row
    bounds aggregate, never from the fact table, so the grid join is a
    broadcast of something tiny against the daily aggregate (itself
    map-side combined). The forward-fill window shuffles only the grid
    (|days|×|series| rows), not raw events.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 150)
    daily = (
        ev.groupBy(
            F.to_date("ts").alias("d"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor("value").cast("bigint")).alias("ft"),
        )
    )
    bounds = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("d")
    )
    types = daily.select("event_type").distinct()
    grid = spine.crossJoin(types)
    joined = grid.join(daily, ["d", "event_type"], "left")
    w = Window.partitionBy("event_type").orderBy("d")
    return joined.select(
        "d",
        "event_type",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        F.last("ft", ignorenulls=True).over(w).alias("floor_total_filled"),
        F.col("n").isNull().cast("int").alias("is_gap"),
    ).orderBy("event_type", "d")


@graded(
    "q_interval_merge",
    oracle="""
    WITH iv AS (
        SELECT user_id,
               epoch_us(ts)             AS s,
               epoch_us(ts) + 600000000 AS e
        FROM events
        WHERE user_id IS NOT NULL
    ),
    flagged AS (
        SELECT user_id, s, e,
               CASE WHEN s > max(e) OVER (
                        PARTITION BY user_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    OR max(e) OVER (
                        PARTITION BY user_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       IS NULL
                    THEN 1 ELSE 0 END AS new_island
        FROM iv
    ),
    islands AS (
        SELECT user_id, s, e,
               sum(new_island) OVER (
                   PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM flagged
    ),
    merged AS (
        SELECT user_id, island, min(s) AS m_start, max(e) AS m_end
        FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT)            AS n_intervals,
           CAST(sum(m_end - m_start) AS BIGINT) AS covered_us,
           CAST(max(m_end - m_start) AS BIGINT) AS max_len_us
    FROM merged
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval coalescing (the gaps-and-islands problem):
    each event opens a 10-minute validity interval; per user, merge
    every overlapping-or-touching interval chain and report interval
    count, covered time and longest merged span — the operator behind
    downtime windows, validity ranges and meeting-room style coverage.

    Island detection is the running-max trick: an interval starts a new
    island iff its start exceeds the max end among ALL earlier
    intervals (the cumulative max — comparing only the previous row's
    end is the classic bug that splits chains a long interval bridges).
    All arithmetic is integer micros (epoch_us both engines), so parity
    is exact.

    Plan shape: one exchange on user_id serves the running-max window,
    the island cumsum, and both aggregates (island grain, then user
    grain — each key a prefix of the window partitioning). No self
    join, no agg-and-join-back.

    100 TB: per-user sort like sessionize; the skew escape hatch is the
    same bucketed two-phase form (operators/sessionize.py) because an
    island, like a session, is a prefix-mergeable structure.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    s = F.unix_micros("ts")
    iv = ev.select("user_id", s.alias("s"), (s + F.lit(600_000_000)).alias("e"))

    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_max_end = F.max("e").over(w_prev)
    flagged = iv.withColumn(
        "new_island",
        F.when(prev_max_end.isNull() | (F.col("s") > prev_max_end), 1).otherwise(0),
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(w_run))
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("m_start"), F.max("e").alias("m_end")
    )
    return (
        merged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum(F.col("m_end") - F.col("m_start")).alias("covered_us"),
            F.max(F.col("m_end") - F.col("m_start")).alias("max_len_us"),
        )
        .orderBy("user_id")
    )


FUNNEL_ORACLE = """
    WITH per_user AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view'     THEN epoch_us(ts) END) AS t_view,
               min(CASE WHEN event_type = 'click'    THEN epoch_us(ts) END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
        FROM events
        WHERE user_id IS NOT NULL
        GROUP BY user_id
    )
    SELECT CAST(count(*) FILTER (t_view IS NOT NULL) AS BIGINT) AS n_view,
           CAST(count(*) FILTER (t_view IS NOT NULL AND t_click > t_view)
                AS BIGINT) AS n_view_click,
           CAST(count(*) FILTER (t_view IS NOT NULL AND t_click > t_view
                                 AND t_purchase > t_click)
                AS BIGINT) AS n_full_funnel,
           CAST(sum(t_purchase - t_view)
                    FILTER (t_view IS NOT NULL AND t_click > t_view
                            AND t_purchase > t_click)
                AS BIGINT) AS total_conversion_us
    FROM per_user
    """


def funnel_from_user_mins(per_user: DataFrame) -> DataFrame:
    """Shared funnel finalization over the per-user first-occurrence
    table (t_view, t_click, t_purchase epoch-micros, NULL = stage never
    hit) — used by q_funnel and its streaming twin (per-user mins are
    min-mergeable across micro-batches, the finalize is not)."""
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    converted = clicked & (F.col("t_purchase") > F.col("t_click"))
    return per_user.agg(
        F.count(F.when(viewed, 1)).alias("n_view"),
        F.count(F.when(clicked, 1)).alias("n_view_click"),
        F.count(F.when(converted, 1)).alias("n_full_funnel"),
        F.sum(F.when(converted, F.col("t_purchase") - F.col("t_view"))).alias(
            "total_conversion_us"
        ),
    )


@graded("q_funnel", oracle=FUNNEL_ORACLE)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-event funnel (view → click → purchase): per user take
    the FIRST occurrence of each stage, then count users whose first
    occurrences respect the order — the product-analytics conversion
    funnel, plus total first-view→first-purchase latency over full
    converters.

    Shape: one conditional aggregate per user (min-CASE pivots the
    three stages in a single pass — no per-stage self-joins, which is
    the naive funnel query's downfall), then one global scalar
    aggregate over the tiny per-user frame. NULL ordering is handled
    by strict > comparisons: a missing stage yields NULL and fails the
    predicate on both engines identically.

    100 TB: single shuffle on user_id with map-side combine; the
    per-user frame is |users| rows. Longer funnels add CASE branches,
    not passes.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    t = F.unix_micros("ts")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", t)).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", t)).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", t)).alias("t_purchase"),
    )
    return funnel_from_user_mins(per_user)


@graded(
    "q_cohort_retention",
    oracle="""
    WITH act AS (
        SELECT user_id,
               CAST(floor(epoch_us(ts) / 604800000000.0) AS BIGINT) AS week_idx
        FROM events
        WHERE user_id IS NOT NULL
        GROUP BY user_id, CAST(floor(epoch_us(ts) / 604800000000.0) AS BIGINT)
    ),
    cohorts AS (
        SELECT user_id, min(week_idx) AS cohort_week FROM act GROUP BY user_id
    )
    SELECT c.cohort_week,
           a.week_idx - c.cohort_week AS weeks_since,
           CAST(count(*) AS BIGINT)   AS n_users
    FROM act a JOIN cohorts c ON a.user_id = c.user_id
    GROUP BY c.cohort_week, a.week_idx - c.cohort_week
    ORDER BY cohort_week, weeks_since
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-active week,
    counted in every later week they return — the
    activation/churn report every growth dashboard runs.

    Week index is pure integer arithmetic on epoch micros
    (floor(us / week_us)) rather than date_trunc('week', …):
    engine-neutral (no week-start convention to disagree on) and
    scan-local. Distinct (user, week) activity first (map-side
    combinable), then the cohort week as a MIN window over the user
    partition — the same one-shuffle trick as the funnel: cohort
    assignment and the retention join-back collapse into a window
    because the partitioning (user_id) already matches, so the
    activity table is never scanned twice.

    100 TB: one exchange on user_id (activity distinct + cohort
    window), one tiny exchange on the |cohorts|×|weeks| matrix.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    week = F.floor(F.unix_micros("ts") / F.lit(604_800_000_000.0)).cast("bigint")
    act = ev.select("user_id", week.alias("week_idx")).distinct()
    w_user = Window.partitionBy("user_id")
    with_cohort = act.withColumn("cohort_week", F.min("week_idx").over(w_user))
    return (
        with_cohort.groupBy(
            "cohort_week", (F.col("week_idx") - F.col("cohort_week")).alias("weeks_since")
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "weeks_since")
    )


PIT_ORACLE = """
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                      event_type, value FROM events),
    snap_click AS (
        SELECT user_id, max(ts) AS snap_ts,
               count(*) AS clicks_in_day,
               CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS click_cents
        FROM e WHERE event_type = 'click'
        GROUP BY user_id, date_trunc('day', ts)
    ),
    snap_view AS (
        SELECT user_id, max(ts) AS snap_ts, count(*) AS views_in_day
        FROM e WHERE event_type = 'view'
        GROUP BY user_id, date_trunc('day', ts)
    ),
    p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, p.ts,
           a.clicks_in_day, a.click_cents, b.views_in_day
    FROM p
    ASOF LEFT JOIN snap_click a ON p.user_id = a.user_id AND p.ts >= a.snap_ts
    ASOF LEFT JOIN snap_view  b ON p.user_id = b.user_id AND p.ts >= b.snap_ts
"""


def pit_snapshots(ev: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Daily-grain click/view feature snapshots (shared by the batch PIT
    query and its stream-static enrichment twin)."""
    day = F.date_trunc("day", F.col("ts"))
    snap_click = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.col("user_id").alias("a_user"), day.alias("a_day"))
        .agg(
            F.max("ts").alias("click_snap_ts"),
            F.count(F.lit(1)).alias("clicks_in_day"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("click_cents"),
        )
        .drop("a_day")
    )
    snap_view = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(F.col("user_id").alias("b_user"), day.alias("b_day"))
        .agg(
            F.max("ts").alias("view_snap_ts"),
            F.count(F.lit(1)).alias("views_in_day"),
        )
        .drop("b_day")
    )
    return snap_click, snap_view


def pit_enrich(
    purchases: DataFrame, snap_click: DataFrame, snap_view: DataFrame
) -> DataFrame:
    """Two chained backward as-of joins: label rows pick up the latest
    snapshot at or before their own timestamp from each feature table."""
    with_click = asof_join(
        probe=purchases,
        build=snap_click,
        probe_keys=["user_id"],
        build_keys=["a_user"],
        probe_ts="ts",
        build_ts="click_snap_ts",
        build_payload=["clicks_in_day", "click_cents"],
    )
    with_both = asof_join(
        probe=with_click,
        build=snap_view,
        probe_keys=["user_id"],
        build_keys=["b_user"],
        probe_ts="ts",
        build_ts="view_snap_ts",
        build_payload=["views_in_day"],
    )
    return with_both.select(
        "event_id", "user_id", "ts", "clicks_in_day", "click_cents", "views_in_day"
    )


@graded("q_feature_store_pit", oracle=PIT_ORACLE)
def q_feature_store_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store point-in-time join: each purchase (the training
    label row) picks up the *latest snapshot at or before its own
    timestamp* from two independently-maintained daily feature tables
    (click activity, view activity) — the leakage-free join every
    feature store runs at training-set build time.

    Composition: two chained backward as-of joins (operators/asof.py),
    each one shuffle of (probe ∪ snapshots) on user_id — never the
    (purchase × snapshot) range-join blow-up. Snapshot tables are built
    with one map-side-combinable agg each. Day sums are floor-cents
    BIGINTs (exact cross-engine); snapshot ts is unique per (user, day)
    by construction so the as-of match is deterministic.

    100 TB: feature tables are orders of magnitude smaller than the
    event log (daily grain); each as-of is a single hash-partitioned
    window over user_id — skew handled by AQE, no broadcast needed.
    """
    ev = load_table(spark, sf_dir, "events")
    snap_click, snap_view = pit_snapshots(ev)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return pit_enrich(purchases, snap_click, snap_view)


@graded(
    "q_resample_interpolate",
    oracle="""
    WITH e AS (
        SELECT user_id,
               CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT) AS day_idx,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase' AND user_id < 40
    ),
    obs AS (
        SELECT user_id, day_idx, CAST(sum(cents) AS BIGINT) AS day_cents
        FROM e GROUP BY user_id, day_idx
    ),
    spans AS (
        SELECT user_id, min(day_idx) AS d0, max(day_idx) AS d1
        FROM obs GROUP BY user_id
    ),
    grid AS (
        SELECT s.user_id, g.day_idx
        FROM spans s, LATERAL unnest(generate_series(s.d0, s.d1)) AS g(day_idx)
    ),
    joined AS (
        SELECT g.user_id, g.day_idx, o.day_cents
        FROM grid g LEFT JOIN obs o
          ON g.user_id = o.user_id AND g.day_idx = o.day_idx
    ),
    bounded AS (
        SELECT user_id, day_idx, day_cents,
               last_value(day_cents IGNORE NULLS) OVER
                 (PARTITION BY user_id ORDER BY day_idx
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_c,
               last_value(CASE WHEN day_cents IS NOT NULL THEN day_idx END IGNORE NULLS) OVER
                 (PARTITION BY user_id ORDER BY day_idx
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_d,
               first_value(day_cents IGNORE NULLS) OVER
                 (PARTITION BY user_id ORDER BY day_idx
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_c,
               first_value(CASE WHEN day_cents IS NOT NULL THEN day_idx END IGNORE NULLS) OVER
                 (PARTITION BY user_id ORDER BY day_idx
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
        FROM joined
    )
    SELECT user_id, day_idx,
           day_cents IS NULL AS is_interpolated,
           CASE WHEN day_cents IS NOT NULL THEN CAST(day_cents AS DOUBLE)
                ELSE prev_c + (next_c - prev_c) * (day_idx - prev_d) / (next_d - prev_d)
           END AS value_cents
    FROM bounded
    """,
)
def q_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series upsampling with linear interpolation: per-user daily
    purchase totals resampled onto each user's full [first, last] day
    grid, missing days filled by interpolating between the surrounding
    observed days (no extrapolation — the grid is bounded by observed
    endpoints so every gap has both neighbours).

    Exactness contract: day totals are floor-cents BIGINTs; the
    interpolation `prev + (next-prev)*(d-pd)/(nd-pd)` is a single
    arithmetic expression over those integers evaluated with identical
    association on both engines, so the doubles are bit-equal — no
    tolerance needed.

    100 TB: grid expansion is `sequence()` + explode (scan-local, no
    join against a calendar table); prev/next neighbours are two frames
    over ONE window partitioning (user_id) — Catalyst evaluates both in
    a single sort+shuffle, the same cost as the gap-fill operator.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") < 40)
    )
    day_idx = F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).cast("bigint")
    obs = (
        ev.select("user_id", day_idx.alias("day_idx"),
                  F.floor(F.col("value") * 100).cast("bigint").alias("cents"))
        .groupBy("user_id", "day_idx")
        .agg(F.sum("cents").alias("day_cents"))
    )
    grid = (
        obs.groupBy("user_id")
        .agg(F.min("day_idx").alias("d0"), F.max("day_idx").alias("d1"))
        .select("user_id", F.explode(F.sequence("d0", "d1")).alias("day_idx"))
    )
    joined = grid.join(obs, ["user_id", "day_idx"], "left")
    w_back = (
        Window.partitionBy("user_id").orderBy("day_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id").orderBy("day_idx")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("day_cents").isNotNull(), F.col("day_idx"))
    bounded = joined.select(
        "user_id", "day_idx", "day_cents",
        F.last("day_cents", ignorenulls=True).over(w_back).alias("prev_c"),
        F.last(obs_day, ignorenulls=True).over(w_back).alias("prev_d"),
        F.first("day_cents", ignorenulls=True).over(w_fwd).alias("next_c"),
        F.first(obs_day, ignorenulls=True).over(w_fwd).alias("next_d"),
    )
    interp = (
        F.col("prev_c")
        + (F.col("next_c") - F.col("prev_c"))
        * (F.col("day_idx") - F.col("prev_d"))
        / (F.col("next_d") - F.col("prev_d"))
    )
    return bounded.select(
        "user_id", "day_idx",
        F.col("day_cents").isNull().alias("is_interpolated"),
        F.when(F.col("day_cents").isNotNull(), F.col("day_cents").cast("double"))
        .otherwise(interp)
        .alias("value_cents"),
    )


def cents_by_day(ev: DataFrame) -> DataFrame:
    """(event_type, day_idx, cents): each event's epoch-day index and its
    value in integer cents — the rows every daily-cents rollup sums."""
    return ev.select(
        "event_type",
        F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).cast("bigint").alias("day_idx"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )


def daily_cents(rows: DataFrame) -> DataFrame:
    """The map-side-combinable (event_type, day_idx, day_cents) rollup of
    :func:`cents_by_day` rows — the |types|×|days| reduced relation the
    daily-series queries and their streaming twins' partials read."""
    return rows.groupBy("event_type", "day_idx").agg(F.sum("cents").alias("day_cents"))


@graded(
    "q_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT) AS day_idx,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
      FROM events
      GROUP BY event_type, 2
    ),
    seasonal AS (
      -- ((x % 7) + 7) % 7 mirrors Spark's pmod for negative day_idx
      -- (pre-1970 ts): DuckDB % returns negative remainders (ADVICE r7)
      SELECT event_type,
             CAST(((day_idx + 4) % 7 + 7) % 7 AS INT) AS dow,
             day_idx, day_cents,
             CAST(sum(day_cents) OVER (PARTITION BY event_type, ((day_idx + 4) % 7 + 7) % 7) AS BIGINT) AS dow_sum,
             CAST(count(*)      OVER (PARTITION BY event_type, ((day_idx + 4) % 7 + 7) % 7) AS BIGINT) AS dow_n
      FROM daily
    )
    SELECT event_type, day_idx, dow, day_cents,
           CAST(dow_sum AS DOUBLE) / dow_n            AS dow_mean,
           day_cents - CAST(dow_sum AS DOUBLE) / dow_n AS residual
    FROM seasonal
    """,
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-seasonal decomposition of daily revenue: per event type,
    split each day's total into the day-of-week seasonal mean and the
    residual — the additive-decomposition step behind every
    'is this dip a weekend or an incident' dashboard, and the NOAA
    climatology pattern (normals + anomalies) on business-event data.

    Exactness: day totals are floor-cents BIGINTs; the seasonal mean is
    one double division of two BIGINTs and the residual one subtraction
    in the same op order on both engines ⇒ bit-equal doubles (the
    linear-trend contract). Day-of-week is pure integer arithmetic on
    the epoch-day index ((d+4) % 7, 1970-01-01 = Thursday) — no engine
    week-start convention involved.

    Plan: one map-side-combinable daily agg, then the seasonal mean as
    a WINDOW over (type, dow) on the ~|types|·|days| daily table — the
    SCALING.md double-plan rule (no agg + join-back re-scanning the
    fact: the fact is touched once, the window runs on the reduced
    relation).

    100 TB: the daily rollup shuffles partial sums only; the window
    input is |types|×|days| rows regardless of event volume.
    """
    daily = daily_cents(cents_by_day(load_table(spark, sf_dir, "events")))
    dow = F.pmod(F.col("day_idx") + 4, F.lit(7)).cast("int")
    w = Window.partitionBy("event_type", "dow")
    seasonal = daily.withColumn("dow", dow).select(
        "event_type",
        "day_idx",
        "dow",
        "day_cents",
        F.sum("day_cents").over(w).alias("dow_sum"),
        F.count(F.lit(1)).over(w).alias("dow_n"),
    )
    dow_mean = F.col("dow_sum").cast("double") / F.col("dow_n")
    return seasonal.select(
        "event_type",
        "day_idx",
        "dow",
        "day_cents",
        dow_mean.alias("dow_mean"),
        (F.col("day_cents") - dow_mean).alias("residual"),
    )


# Shared by q_forecast_holt and its streaming twin: the daily rollup is
# mergeable BIGINT addition, so per-batch partials fold to the identical
# daily table and the sequential Holt fold over it is bit-equal — the
# twin grades against this SQL verbatim.
FORECAST_HOLT_ORACLE = """
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT) AS day_idx,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
      FROM events
      GROUP BY event_type, 2
    ),
    series AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             list(CAST(day_cents AS DOUBLE) ORDER BY day_idx) AS ys
      FROM daily GROUP BY event_type
    ),
    folded AS (
      -- accumulator is a 2-list [level, trend], NOT a struct: DuckDB
      -- 1.0's struct-building lambda aliases acc.<f> to the RESULT
      -- struct's already-computed field of the same name, corrupting
      -- the recurrence (probed round 9); list indexing has no aliasing
      SELECT event_type, n_days,
             list_reduce(
               list_transform(ys, v -> [v, CAST(0.0 AS DOUBLE)]),
               (acc, x) -> [
                 CAST(0.5 AS DOUBLE) * x[1]
                   + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]),
                 CAST(0.5 AS DOUBLE) * (CAST(0.5 AS DOUBLE) * x[1]
                   + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]) - acc[1])
                   + CAST(0.5 AS DOUBLE) * acc[2]
               ]
             ) AS st
      FROM series
    )
    SELECT event_type, n_days,
           st[1] AS level, st[2] AS trend,
           st[1] + 3 * st[2] AS forecast_3d
    FROM folded
    """


def holt_from_daily(daily: DataFrame) -> DataFrame:
    """Holt finalization over a (event_type, day_idx, day_cents) daily
    table — shared by q_forecast_holt and its streaming twin."""
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day_idx", "day_cents"))),
            lambda s: s["day_cents"].cast("double"),
        ).alias("ys"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )

    def step(acc, v):
        new_l = F.lit(0.5) * v + F.lit(0.5) * (acc["l"] + acc["b"])
        return F.struct(
            new_l.alias("l"),
            (F.lit(0.5) * (new_l - acc["l"]) + F.lit(0.5) * acc["b"]).alias("b"),
        )

    acc0 = F.struct(F.element_at("ys", 1).alias("l"), F.lit(0.0).alias("b"))
    rest = F.slice(F.col("ys"), F.lit(2), F.greatest(F.size("ys") - 1, F.lit(0)))
    st = F.aggregate(rest, acc0, step)
    folded = series.select("event_type", "n_days", st.alias("st"))
    return folded.select(
        "event_type",
        "n_days",
        F.col("st.l").alias("level"),
        F.col("st.b").alias("trend"),
        (F.col("st.l") + F.lit(3) * F.col("st.b")).alias("forecast_3d"),
    )


@graded("q_forecast_holt", oracle=FORECAST_HOLT_ORACLE)
def q_forecast_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear exponential smoothing (double ETS) over per-type
    daily revenue: level lₜ = α·yₜ + (1−α)(lₜ₋₁+bₜ₋₁), trend
    bₜ = β(lₜ−lₜ₋₁) + (1−β)bₜ₋₁ with α = β = ½, initialized
    l₀ = y₀, b₀ = 0 — the capacity-planning forecast step downstream of
    q_seasonal_decompose, emitting the 3-day-ahead projection l + 3b.

    Exactness: a smoothing recurrence is inherently SEQUENTIAL, so the
    graded contract is the FOLD itself — both engines run the
    textually identical left fold over the identical ordered doubles
    (Spark F.aggregate over the day-sorted array, DuckDB list_reduce
    over list(... ORDER BY day_idx)); α = ½ means every multiply is an
    exact halving, and the adds associate identically ⇒ bit-equal
    level/trend/forecast, no tolerance (the trimmed-mean
    accumulation-order lesson applied to a recurrence).

    Scale: the fact collapses to the |types|×|days| daily rollup
    (map-side combinable); each type's series rides ONE agg row — the
    decayed-sum bounded-cardinality contract (|days| per type, not
    event volume). A per-day-unbounded series would stream through
    applyInPandasWithState instead.
    """
    daily = daily_cents(cents_by_day(load_table(spark, sf_dir, "events")))
    return holt_from_daily(daily)


# Shared by q_decayed_sum and its streaming twin (the per-batch daily
# partial sums are mergeable integers, so fold == recompute and the twin
# grades against the identical SQL).
DECAYED_SUM_ORACLE = """
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT) AS day_idx,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
      FROM events
      GROUP BY event_type, 2
    ),
    based AS (
      SELECT event_type, day_idx, day_cents,
             day_idx - min(day_idx) OVER (PARTITION BY event_type) AS d
      FROM daily
    ),
    acc AS (
      SELECT event_type, day_idx, day_cents, d,
             sum(day_cents * pow(2.0, d)) OVER (
               PARTITION BY event_type ORDER BY day_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS a
      FROM based
    )
    SELECT event_type, day_idx, day_cents,
           a * pow(2.0, -d) AS decayed_cents
    FROM acc
    """


def decayed_from_daily(daily: DataFrame) -> DataFrame:
    """The decay-window finalization over a (event_type, day_idx,
    day_cents) daily rollup — shared by the batch query and the
    streaming twin (which folds per-batch partial rollups first)."""
    wp = Window.partitionBy("event_type")
    wo = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    based = daily.withColumn("d", F.col("day_idx") - F.min("day_idx").over(wp))
    acc = based.withColumn(
        "a", F.sum(F.col("day_cents") * F.pow(F.lit(2.0), F.col("d"))).over(wo)
    )
    return acc.select(
        "event_type",
        "day_idx",
        "day_cents",
        (F.col("a") * F.pow(F.lit(2.0), -F.col("d"))).alias("decayed_cents"),
    )


@graded("q_decayed_sum", oracle=DECAYED_SUM_ORACLE)
def q_decayed_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed running revenue (half-life = 1 day):
    R_t = Σ_{i≤t} v_i · 2^{−(t−dᵢ)} per event type — the decayed
    counter every freshness-weighted dashboard / trending-score system
    keeps, here as a pure window expression.

    The EWMA-family recursion is not window-expressible directly
    (weights depend on the CURRENT row), but with α = 1/2 it factors:
    Σ vᵢ·2^{−(t−dᵢ)} = 2^{−t'} · Σ vᵢ·2^{d'ᵢ} with day re-based per
    type — and every term is a DYADIC rational spanning < 52 mantissa
    bits (cents ≤ 2^21, day span ≤ 2^5 ⇒ products ≤ 2^52), so each
    partial sum is exactly representable and the float result is
    bit-identical regardless of accumulation order or engine: an
    exact-float window over doubles, the trick that makes a decayed
    metric GRADEABLE (general α would need order-matched sums).

    100 TB: one combinable daily rollup, then two window passes over
    the |types|×|days| reduced relation sharing one partitioning —
    volume-independent, the seasonal-decompose shape.
    """
    daily = daily_cents(cents_by_day(load_table(spark, sf_dir, "events")))
    return decayed_from_daily(daily)


@graded(
    "q_changepoint_cusum",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT) AS day_idx,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
      FROM events
      GROUP BY event_type, 2
    ),
    scaled AS (
      SELECT event_type, day_idx, day_cents,
             CAST(count(*)       OVER (PARTITION BY event_type) AS BIGINT) AS n,
             CAST(sum(day_cents) OVER (PARTITION BY event_type) AS BIGINT) AS tot
      FROM daily
    ),
    pre AS (
      SELECT event_type, day_idx, day_cents, tot,
             CAST(sum(n * day_cents - tot) OVER (
               PARTITION BY event_type ORDER BY day_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS c
      FROM scaled
    ),
    dd AS (
      SELECT event_type, day_idx, day_cents, tot, c,
             CAST(min(c) OVER (
               PARTITION BY event_type ORDER BY day_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS m
      FROM pre
    )
    SELECT event_type, day_idx, day_cents,
           CAST(c - least(CAST(0 AS BIGINT), m) AS BIGINT) AS cusum_scaled,
           c - least(CAST(0 AS BIGINT), m) > 2 * tot AS is_alarm
    FROM dd
    """,
)
def q_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint detection (Page 1954) on daily
    revenue per event type: S_t = max(0, S_{t-1} + (x_t − μ)), alarm
    when the accumulated positive drift exceeds a threshold — the
    classic sequential detector behind metric-shift monitors.

    Two exactness tricks make this window-expressible AND gradeable:

    1. The reset-at-zero recursion is not a window function, but it
       factors through the drawdown identity
       S_t = C_t − min(0, min_{i≤t} C_i) with C the plain prefix sum
       of deviations — two stacked ordered windows over ONE partition
       key, no recursion (the interval_merge gaps-and-islands trick,
       applied to CUSUM).
    2. Deviations are scaled by n to stay INTEGER: y_t = n·x_t − Σx
       (mean-centering without the division), so every prefix
       sum/min/comparison is exact BIGINT arithmetic on both engines —
       no float accumulation anywhere. The alarm threshold 2·Σx in
       scaled units is drift > 2·n·μ, i.e. two mean-days of
       accumulated excess.

    Scale: one combinable daily rollup, then three window passes
    sharing one (event_type) partitioning over the |types|×|days|
    reduced relation — the seasonal-decompose cost model.
    """
    daily = daily_cents(cents_by_day(load_table(spark, sf_dir, "events")))
    wp = Window.partitionBy("event_type")
    wo = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scaled = daily.select(
        "event_type",
        "day_idx",
        "day_cents",
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("day_cents").over(wp).alias("tot"),
    )
    pre = scaled.select(
        "event_type",
        "day_idx",
        "day_cents",
        "tot",
        F.sum(F.col("n") * F.col("day_cents") - F.col("tot")).over(wo).alias("c"),
    )
    dd = pre.withColumn("m", F.min("c").over(wo))
    cusum = F.col("c") - F.least(F.lit(0).cast("bigint"), F.col("m"))
    return dd.select(
        "event_type",
        "day_idx",
        "day_cents",
        cusum.alias("cusum_scaled"),
        (cusum > 2 * F.col("tot")).alias("is_alarm"),
    )



# Per-user sequence-length hard cap: the initials string covers at most
# this many events (the user's FIRST cap events by (ts, event_id)).
# Far above any fixture user (max ≈ 10³ events at sf0.1), so grading is
# cap-invariant; at 100 TB it bounds the celebrity-user reducer row at
# a 100 KB string instead of an unbounded one. The oracle applies the
# identical rank filter, so both engines agree on any fixture.
EVENT_SEQ_CAP = 100_000


@graded(
    "q_event_sequence",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
             substr(event_type, 1, 1) AS ini
      FROM events
    ),
    ranked AS (
      SELECT user_id, ini,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id) AS total
      FROM e
    ),
    seqs AS (
      SELECT user_id,
             string_agg(ini, '' ORDER BY rn) AS seq,
             CAST(max(total) AS BIGINT) AS seq_len
      FROM ranked WHERE rn <= {EVENT_SEQ_CAP} GROUP BY user_id
    )
    SELECT user_id, seq, seq_len,
           CAST((length(seq) - length(replace(seq, 'cp', ''))) / 2 AS BIGINT) AS n_click_purchase,
           CAST((length(seq) - length(replace(seq, 'vvv', ''))) / 3 AS BIGINT) AS n_view_burst,
           length(seq) - length(replace(seq, 'cp', '')) > 0 AS converted
    FROM seqs
    """,
)
def q_event_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-SEQUENCE pattern mining (the MATCH_RECOGNIZE-lite of
    clickstream analysis): each user's history becomes a compact
    initials string in strict (ts, event_id) order — click→'c',
    purchase→'p', … (initials are unique across the five types) — and
    behavioural patterns are counted as literal substring occurrences:
    immediate click→purchase conversions ('cp') and view-burst runs
    ('vvv'). Funnels (q_funnel) answer 'did stages happen in order
    anywhere'; this answers 'did they happen ADJACENTLY and how
    often'.

    Exactness, deliberately regex-free: occurrence counting is the
    length−replace identity (len(s) − len(replace(s, pat, ''))) / len(pat)
    — replace() removes non-overlapping occurrences left-to-right
    identically in both engines, so counts are exact integers with no
    Java-vs-RE2 regex semantics in play (the PII-scrub lesson applied
    in reverse: avoid the regex surface entirely). The sequence build
    is an order-qualified aggregation: DuckDB string_agg(... ORDER BY)
    vs Spark array_sort over (ts, event_id, ini) structs then
    array_join — byte-identical because (ts, event_id) is a total
    order.

    Scale: ONE user-keyed exchange. The celebrity-user hazard (one hot
    user's whole history in a single agg buffer row) is closed by a
    HARD length cap: a row_number window over the same user_id
    partitioning the agg needs anyway (no extra exchange; the window
    sort is spill-capable, unlike an agg buffer) keeps each user's
    first EVENT_SEQ_CAP events, so the assembled string is bounded at
    cap bytes while seq_len still reports the TRUE event count from
    the window's count(*). Pattern counts are scan-local post-agg
    expressions over the capped window, so adding patterns is free.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.substring("event_type", 1, 1).alias("ini"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = e.select(
        "user_id",
        "ini",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("total"),
    ).filter(F.col("rn") <= EVENT_SEQ_CAP)
    seqs = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "ini"))),
                lambda s: s["ini"],
            ),
            "",
        ).alias("seq"),
        F.max("total").cast("bigint").alias("seq_len"),
    )

    def n_pat(pat: str):
        return (
            (F.length("seq") - F.length(F.replace(F.col("seq"), F.lit(pat), F.lit(""))))
            / F.lit(len(pat))
        ).cast("bigint")

    return seqs.select(
        "user_id",
        "seq",
        "seq_len",
        n_pat("cp").alias("n_click_purchase"),
        n_pat("vvv").alias("n_view_burst"),
        (
            F.length("seq") - F.length(F.replace(F.col("seq"), F.lit("cp"), F.lit("")))
            > 0
        ).alias("converted"),
    )


@graded(
    "q_markov_transitions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             ) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS curr_type,
             CAST(count(*) AS BIGINT) AS n_trans
      FROM ordered WHERE prev_type IS NOT NULL
      GROUP BY prev_type, curr_type
    )
    SELECT prev_type, curr_type, n_trans,
           CAST(n_trans AS DOUBLE)
             / sum(n_trans) OVER (PARTITION BY prev_type) AS p
    FROM trans
    """,
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences — P(next = j | current = i) with counts, the clickstream
    model behind next-action prediction and anomalous-flow detection
    (q_event_sequence counts fixed literal patterns; this models ALL
    transitions).

    Exactness: transition counts are integers from a lag window over
    the total (ts, event_id) order + one combinable agg; each
    probability is ONE division of a BIGINT by a window-sum of BIGINTs
    (both engines identical expression ⇒ bit-equal).

    Scale: one user-keyed exchange for the lag (pairs are formed
    scan-local within the sorted partition — never a self-join), one
    agg over |types|² keys, and the row-normalization window runs on
    the ≤ |types|² reduced relation.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    trans = ordered.groupBy("prev_type", F.col("event_type").alias("curr_type")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trans")
    )
    wrow = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "curr_type",
        "n_trans",
        (F.col("n_trans").cast("double") / F.sum("n_trans").over(wrow)).alias("p"),
    )


@graded(
    "q_attribution_multitouch",
    oracle="""
    WITH conv_u AS (
      SELECT user_id, event_id AS conv_id,
             epoch_us(ts) AS conv_us,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
      WHERE event_type = 'purchase' AND user_id IS NOT NULL
    ),
    touch AS (
      SELECT user_id, event_id AS touch_id, event_type AS channel,
             epoch_us(ts) AS touch_us
      FROM events
      WHERE event_type IN ('click', 'view') AND user_id IS NOT NULL
    ),
    pairs AS (
      SELECT c.conv_id, c.cents, t.channel, t.touch_us, t.touch_id
      FROM conv_u c JOIN touch t
        ON c.user_id = t.user_id
       AND t.touch_us < c.conv_us
       AND c.conv_us - t.touch_us <= 604800000000
    ),
    ranked AS (
      SELECT conv_id, cents, channel,
             CAST(row_number() OVER (PARTITION BY conv_id
                                     ORDER BY touch_us, touch_id) AS BIGINT) AS rk,
             CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT) AS n
      FROM pairs
    ),
    credited AS (
      SELECT channel,
             rk = 1 AS is_first,
             rk = n AS is_last,
             cents,
             cents // n + CASE WHEN rk <= cents % n THEN 1 ELSE 0 END AS alloc
      FROM ranked
    ),
    attributed AS (
      SELECT channel,
             CAST(count(*) AS BIGINT)                              AS n_touches,
             CAST(count(*) FILTER (is_first) AS BIGINT)            AS first_touch_convs,
             CAST(count(*) FILTER (is_last) AS BIGINT)             AS last_touch_convs,
             CAST(sum(cents) FILTER (is_first) AS BIGINT)          AS first_touch_cents,
             CAST(sum(cents) FILTER (is_last) AS BIGINT)           AS last_touch_cents,
             CAST(sum(alloc) AS BIGINT)                            AS linear_cents
      FROM credited GROUP BY channel
    ),
    orphan AS (
      SELECT '(none)' AS channel,
             CAST(0 AS BIGINT) AS n_touches,
             CAST(count(*) AS BIGINT) AS first_touch_convs,
             CAST(count(*) AS BIGINT) AS last_touch_convs,
             CAST(sum(cents) AS BIGINT) AS first_touch_cents,
             CAST(sum(cents) AS BIGINT) AS last_touch_cents,
             CAST(sum(cents) AS BIGINT) AS linear_cents
      FROM conv_u c
      WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.conv_id = c.conv_id)
      HAVING count(*) > 0
    )
    SELECT * FROM attributed UNION ALL SELECT * FROM orphan
    """,
)
def q_attribution_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch marketing attribution: every purchase credits the
    click/view touches in its 7-day lookback under THREE models at
    once — first-touch, last-touch, and linear revenue split — the
    channel-ROI report every growth team runs. Conversions with no
    in-window touch land in the '(none)' channel (unattributed).

    EXACT-INTEGER linear split (largest-remainder): a conversion of
    `cents` over n touches allocates cents // n to each, +1 cent to
    the first cents % n touches in time order — Σ allocations == cents
    per conversion by construction, so channel sums are exact BIGINTs
    (no 1/n doubles, no accumulation-order sensitivity).

    Scale design: the lookback join is WEEK-BUCKET BLOCKED — each
    conversion explodes to its 2 candidate 7-day buckets and
    equi-joins touches on (user_id, week_bucket) (a touch ≤7 days
    back is in the conversion's bucket or the previous one; each pair
    arises from exactly one bucket key, so no dedup pass). The join is
    LEFT with the range predicate in the join condition, so
    unattributed conversions ride the SAME pass as NULL-channel rows
    (kept via rank-1-of-empty on the conv_id window — never a second
    anti-join branch that would double-plan the join subtree, the
    SCALING.md smell). Ranking runs per-conversion on the candidate
    pairs (bounded by per-user activity × 7 days — the sessionize
    cardinality contract), never a global window; the channel report
    is one combinable agg.
    """
    WEEK_US = 604_800_000_000
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    us = F.unix_micros(F.col("ts"))
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        us.alias("conv_us"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    touch = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("channel"),
        us.alias("touch_us"),
        F.floor(us / WEEK_US).cast("bigint").alias("wb"),
    )
    conv_k = conv.withColumn("dw", F.explode(F.array(F.lit(0), F.lit(1)))).select(
        "user_id",
        "conv_id",
        "conv_us",
        "cents",
        (F.floor(F.col("conv_us") / WEEK_US).cast("bigint") - F.col("dw")).alias("wb"),
    )
    pairs = conv_k.join(
        touch,
        (conv_k["user_id"] == touch["user_id"])
        & (conv_k["wb"] == touch["wb"])
        & (touch["touch_us"] < conv_k["conv_us"])
        & (conv_k["conv_us"] - touch["touch_us"] <= WEEK_US),
        "left",
    ).select(
        "conv_id", "conv_us", "cents", "channel", "touch_us", "touch_id"
    )
    w_rank = Window.partitionBy("conv_id").orderBy(
        F.asc_nulls_last("touch_us"), F.asc_nulls_last("touch_id")
    )
    w_conv = Window.partitionBy("conv_id")
    ranked = pairs.select(
        "conv_id",
        "cents",
        "channel",
        F.col("touch_id").isNotNull().alias("is_touch"),
        F.row_number().over(w_rank).cast("bigint").alias("rk"),
        F.count("touch_id").over(w_conv).cast("bigint").alias("n"),
    ).filter(
        F.col("is_touch") | ((F.col("n") == 0) & (F.col("rk") == 1))
    )
    credited = ranked.select(
        F.coalesce(F.col("channel"), F.lit("(none)")).alias("channel"),
        "is_touch",
        (F.col("rk") == 1).alias("is_first"),
        ((F.col("rk") == F.col("n")) | (F.col("n") == 0)).alias("is_last"),
        "cents",
        F.when(F.col("n") == 0, F.col("cents"))
        .otherwise(
            F.expr("cents div n").cast("bigint")
            + F.when(F.col("rk") <= F.col("cents") % F.col("n"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc"),
    )
    return credited.groupBy("channel").agg(
        F.count_if(F.col("is_touch")).cast("bigint").alias("n_touches"),
        F.count_if(F.col("is_first")).cast("bigint").alias("first_touch_convs"),
        F.count_if(F.col("is_last")).cast("bigint").alias("last_touch_convs"),
        F.sum(F.when(F.col("is_first"), F.col("cents"))).cast("bigint").alias("first_touch_cents"),
        F.sum(F.when(F.col("is_last"), F.col("cents"))).cast("bigint").alias("last_touch_cents"),
        F.sum("alloc").cast("bigint").alias("linear_cents"),
    )


@graded(
    "q_peak_concurrency",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      WHERE user_id IS NOT NULL
    ),
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM e
    ),
    assigned AS (
      SELECT user_id, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    ),
    sessions AS (
      SELECT user_id, session_id,
             min(epoch_us(ts)) AS s_us,
             max(epoch_us(ts)) AS e_us
      FROM assigned GROUP BY user_id, session_id
    ),
    bounds AS (
      SELECT s_us AS us, CAST(1 AS BIGINT) AS s, CAST(0 AS BIGINT) AS e FROM sessions
      UNION ALL
      SELECT e_us AS us, CAST(0 AS BIGINT) AS s, CAST(1 AS BIGINT) AS e FROM sessions
    ),
    per_ts AS (
      SELECT us, sum(s) AS s, sum(e) AS e FROM bounds GROUP BY us
    ),
    swept AS (
      SELECT us, s,
             CAST(sum(s - e) OVER (ORDER BY us ROWS UNBOUNDED PRECEDING) + e
                  AS BIGINT) AS peak_at
      FROM per_ts
    )
    SELECT CAST(max(peak_at) AS BIGINT) AS peak_concurrency,
           CAST(min(us) FILTER (peak_at = (SELECT max(peak_at) FROM swept))
                AS BIGINT) AS at_us,
           CAST(sum(s) AS BIGINT) AS n_sessions
    FROM swept
    """,
)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak platform concurrency: the maximum number of simultaneously
    open user sessions (30-min-gap sessionization, sessions open on the
    closed interval [start, end]) plus the first instant it occurs —
    the capacity-planning number behind autoscaling targets.

    Sweep-line as ALGEBRA, not a sort of raw rows: sessions emit
    (+1 at start, −1 at end) deltas; at one timestamp starts count
    before ends (touching sessions overlap), so concurrency just after
    ts is run(s−e) and the within-ts peak is run(s−e) + e. Peak and
    its first instant come from ONE max over the swept relation
    (max-struct trick: max((peak, −us)) — no second pass, no subquery
    double-plan; the oracle's FILTER subquery replays it).

    Exactness: all BIGINT micros and counts end-to-end.

    Scale: deltas collapse to per-distinct-timestamp (s, e) counts in
    one combinable agg; the running sum is a GLOBAL-ordered window but
    over the reduced |distinct boundary ts| relation (the KS/markov
    reduced-relation contract) — a year of boundaries is ~10^7 rows,
    windowable on one task; sharding by coarse time range with
    per-shard offsets is the documented next gear if boundaries
    themselves explode.
    """
    from noaa_etl_spark.operators.sessionize import sessionize

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    sess = (
        sessionize(ev, tiebreak_col="event_id")
        .groupBy("user_id", "session_id")
        .agg(
            F.min(F.unix_micros(F.col("ts"))).alias("s_us"),
            F.max(F.unix_micros(F.col("ts"))).alias("e_us"),
        )
    )
    bounds = sess.select(
        F.col("s_us").alias("us"), F.lit(1).cast("bigint").alias("s"), F.lit(0).cast("bigint").alias("e")
    ).unionByName(
        sess.select(
            F.col("e_us").alias("us"), F.lit(0).cast("bigint").alias("s"), F.lit(1).cast("bigint").alias("e")
        )
    )
    per_ts = bounds.groupBy("us").agg(F.sum("s").alias("s"), F.sum("e").alias("e"))
    w_run = Window.orderBy("us").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    swept = per_ts.select(
        "us",
        "s",
        (F.sum(F.col("s") - F.col("e")).over(w_run) + F.col("e"))
        .cast("bigint")
        .alias("peak_at"),
    )
    best = swept.agg(
        F.max(F.struct(F.col("peak_at"), (-F.col("us")).alias("neg_us"))).alias("b"),
        F.sum("s").cast("bigint").alias("n_sessions"),
    )
    return best.select(
        F.col("b.peak_at").cast("bigint").alias("peak_concurrency"),
        (-F.col("b.neg_us")).cast("bigint").alias("at_us"),
        "n_sessions",
    )


@graded(
    "q_acf_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    stats AS (
      SELECT CAST(min(day) AS BIGINT) AS dmin, CAST(max(day) AS BIGINT) AS dmax,
             CAST(sum(y) AS BIGINT) AS s, CAST(sum(y * y) AS BIGINT) AS q
      FROM daily
    ),
    lags AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS lag),
    ab AS (
      SELECT l.lag,
             CAST(sum(CASE WHEN d.day - st.dmin >= l.lag THEN d.y ELSE 0 END)
                  AS BIGINT) AS a_k,
             CAST(sum(CASE WHEN d.day - st.dmin <= st.dmax - st.dmin - l.lag
                           THEN d.y ELSE 0 END) AS BIGINT) AS b_k
      FROM lags l CROSS JOIN stats st CROSS JOIN daily d
      GROUP BY 1
    ),
    cross_k AS (
      SELECT l.lag, CAST(sum(d.y * p.y) AS BIGINT) AS c_k
      FROM lags l
      CROSS JOIN daily d
      JOIN daily p ON p.day = d.day - l.lag
      GROUP BY 1
    ),
    final AS (
      SELECT l.lag, coalesce(c.c_k, CAST(0 AS BIGINT)) AS c_k, ab.a_k, ab.b_k,
             st.dmax - st.dmin + 1 AS n, st.s, st.q
      FROM lags l
      JOIN ab ON ab.lag = l.lag
      LEFT JOIN cross_k c ON c.lag = l.lag
      CROSS JOIN stats st
    )
    SELECT CAST(lag AS INT) AS lag, c_k, a_k, b_k,
           CAST(n AS BIGINT) AS n_days,
           round((c_k - (CAST(s AS DOUBLE) / n) * (a_k + b_k)
                  + (n - lag) * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
                 / (q - n * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)),
                 6) AS acf
    FROM final
    """,
)
def q_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the daily order-count series at lags
    1-7 — the seasonality detector that tells you WHICH period to hand
    q_seasonal_decompose (a weekly cycle shows as an ACF spike at lag
    7) and whether q_forecast_holt needs a seasonal term at all.

    EXACT-ALGEBRAIC form (the linear-trend contract): on the zero-
    filled calendar grid [dmin, dmax], r_k = Σ(y_t−m)(y_{t−k}−m) /
    Σ(y_t−m)² expands to (C_k − m(A_k+B_k) + (n−k)m²) / (Q − nm²)
    where C_k = Σ y_t·y_{t−k}, A_k/B_k are head/tail-trimmed sums, and
    S, Q = Σy, Σy² — ALL exact BIGINTs that never materialize the zero
    days (zeros vanish from every sum, so only observed days compute).
    m = S/n is the single double, and both engines evaluate the one
    identical final expression ⇒ bit-equal, graded 6dp with the exact
    integer anchors (C_k, A_k, B_k) alongside.

    Scale: raw orders collapse to |days| rows in one combinable agg
    (the KS/markov reduced-relation contract); the lag-7 cross join
    and the shifted self-join run on that localCheckpointed ~10⁴-row
    relation (4 readers — the double-plan rule; checkpoint, not
    persist, so the build plan stays out of each reader's exchange
    accounting), with the 7-row lag spine and 1-row stats broadcast.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            )
            .cast("bigint")
            .alias("day")
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
        .localCheckpoint()
    )
    stats = daily.agg(
        F.min("day").cast("bigint").alias("dmin"),
        F.max("day").cast("bigint").alias("dmax"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("q"),
    )
    lags = spark.range(1, 8).select(F.col("id").cast("bigint").alias("lag"))
    ab = (
        daily.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(lags))
        .groupBy("lag")
        .agg(
            F.sum(
                F.when(F.col("day") - F.col("dmin") >= F.col("lag"), F.col("y")).otherwise(0)
            )
            .cast("bigint")
            .alias("a_k"),
            F.sum(
                F.when(
                    F.col("day") - F.col("dmin")
                    <= F.col("dmax") - F.col("dmin") - F.col("lag"),
                    F.col("y"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("b_k"),
        )
    )
    prev = daily.select(F.col("day").alias("day_prev"), F.col("y").alias("y_prev"))
    cross_k = (
        daily.crossJoin(F.broadcast(lags))
        .withColumn("day_prev", F.col("day") - F.col("lag"))
        .join(F.broadcast(prev), "day_prev")
        .groupBy("lag")
        .agg(F.sum(F.col("y") * F.col("y_prev")).cast("bigint").alias("c_k"))
    )
    final = (
        lags.join(F.broadcast(ab), "lag")
        .join(F.broadcast(cross_k), "lag", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            "lag",
            F.coalesce(F.col("c_k"), F.lit(0).cast("bigint")).alias("c_k"),
            "a_k",
            "b_k",
            (F.col("dmax") - F.col("dmin") + 1).alias("n"),
            "s",
            "q",
        )
    )
    m = F.col("s").cast("double") / F.col("n")
    return final.select(
        F.col("lag").cast("int").alias("lag"),
        "c_k",
        "a_k",
        "b_k",
        F.col("n").cast("bigint").alias("n_days"),
        F.round(
            (
                F.col("c_k")
                - m * (F.col("a_k") + F.col("b_k"))
                + (F.col("n") - F.col("lag")) * m * m
            )
            / (F.col("q") - F.col("n") * m * m),
            6,
        ).alias("acf"),
    )


# Shared by q_holt_winters_seasonal and a potential streaming twin: the
# daily rollup is mergeable BIGINT addition, so per-batch partials fold
# to the identical daily table and the sequential fold is bit-equal.
HOLT_WINTERS_ORACLE = """
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT) AS day_idx,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
      FROM events
      GROUP BY event_type, 2
    ),
    bounds AS (
      SELECT event_type, min(day_idx) AS mn, max(day_idx) AS mx
      FROM daily GROUP BY event_type
    ),
    spine AS (
      SELECT event_type, CAST(unnest(range(mn, mx + 1)) AS BIGINT) AS day_idx
      FROM bounds
    ),
    dense AS (
      SELECT s.event_type, s.day_idx,
             coalesce(d.day_cents, CAST(0 AS BIGINT)) AS day_cents
      FROM spine s LEFT JOIN daily d USING (event_type, day_idx)
    ),
    series AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             list(CAST(day_cents AS DOUBLE) ORDER BY day_idx) AS ys
      FROM dense GROUP BY event_type
    ),
    folded AS (
      -- 9-list accumulator [l, b, s1..s7]: list_reduce seeds from the
      -- FIRST transformed element, so each y maps to [y, 0, 0*7] and
      -- the seed state is l=y1, b=0, s=zeros (the Holt-fold pattern;
      -- lists, never structs — the DuckDB struct-lambda aliasing probe)
      SELECT event_type, n_days,
             list_reduce(
               list_transform(ys, v -> [v,
                 CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                 CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                 CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)]),
               (acc, x) -> [
                 CAST(0.5 AS DOUBLE) * (x[1] - acc[3])
                   + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]),
                 CAST(0.5 AS DOUBLE)
                   * (CAST(0.5 AS DOUBLE) * (x[1] - acc[3])
                      + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]) - acc[1])
                   + CAST(0.5 AS DOUBLE) * acc[2],
                 acc[4], acc[5], acc[6], acc[7], acc[8], acc[9],
                 CAST(0.5 AS DOUBLE)
                   * (x[1] - (CAST(0.5 AS DOUBLE) * (x[1] - acc[3])
                              + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2])))
                   + CAST(0.5 AS DOUBLE) * acc[3]
               ]
             ) AS st
      FROM series
    )
    SELECT event_type, n_days,
           st[1] AS level, st[2] AS trend, st[3] AS s_next,
           st[1] + 3 * st[2] + st[5] AS forecast_3d
    FROM folded
    """


@graded("q_holt_winters_seasonal", oracle=HOLT_WINTERS_ORACLE)
def q_holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing) over per-type
    daily revenue with weekly seasonality (m = 7), α = β = γ = ½ — the
    seasonal upgrade of q_forecast_holt that q_acf_daily's lag-7 spike
    motivates: level lₜ = α(yₜ−s_{t−m}) + (1−α)(lₜ₋₁+bₜ₋₁), trend as
    Holt, seasonal sₜ = γ(yₜ−lₜ) + (1−γ)s_{t−m}; 3-day-ahead forecast
    l + 3b + s_{t+3−m}.

    The series runs on a DENSE day spine (missing days = 0 revenue) so
    the mod-7 seasonal rotation stays positionally aligned — built
    WITHOUT a join-back: one groupBy collects (day, cents) into a map
    and `transform(sequence(mn, mx), d -> coalesce(m[d], 0))` densifies
    in expression-land (the oracle replays via a range spine + left
    join; the VALUES are identical, only the plan differs).

    Exactness: the graded contract is the FOLD itself (the Holt
    lesson) — both engines run the textually identical left fold over
    identical day-ordered doubles, seeded l=y₁, b=0, s=0⃗; the seasonal
    state rotates through a 7-slot list (head = the slot the CURRENT
    step consumes) ⇒ bit-equal level/trend/seasonal/forecast, no
    tolerance. DuckDB's accumulator is a 9-list (struct lambdas alias —
    the round-9 probe); Spark's is a struct holding an array.

    100 TB: the fact collapses to the |types|×|days| combinable daily
    rollup; each type's fold rides ONE agg row over a bounded-|days|
    array (the forecast_holt cardinality contract).
    """
    daily = daily_cents(cents_by_day(load_table(spark, sf_dir, "events")))
    return holt_winters_from_daily(daily)


def holt_winters_from_daily(daily: DataFrame) -> DataFrame:
    """Holt-Winters finalization over a (event_type, day_idx, day_cents)
    daily table — spine-densified in expression-land, then one
    sequential fold per type."""
    series = daily.groupBy("event_type").agg(
        F.min("day_idx").alias("mn"),
        F.max("day_idx").alias("mx"),
        F.map_from_entries(
            F.collect_list(F.struct("day_idx", F.col("day_cents").cast("double")))
        ).alias("m"),
    )
    dense = series.select(
        "event_type",
        (F.col("mx") - F.col("mn") + 1).cast("bigint").alias("n_days"),
        F.transform(
            F.sequence("mn", "mx"),
            lambda d: F.coalesce(F.element_at("m", d), F.lit(0.0)),
        ).alias("ys"),
    )

    def step(acc, y):
        s1 = F.element_at(acc["s"], 1)
        new_l = F.lit(0.5) * (y - s1) + F.lit(0.5) * (acc["l"] + acc["b"])
        new_b = F.lit(0.5) * (new_l - acc["l"]) + F.lit(0.5) * acc["b"]
        new_s = F.lit(0.5) * (y - new_l) + F.lit(0.5) * s1
        return F.struct(
            new_l.alias("l"),
            new_b.alias("b"),
            F.concat(
                F.slice(acc["s"], 2, 6), F.array(new_s)
            ).alias("s"),
        )

    acc0 = F.struct(
        F.element_at("ys", 1).alias("l"),
        F.lit(0.0).alias("b"),
        F.array_repeat(F.lit(0.0), 7).alias("s"),
    )
    rest = F.slice(F.col("ys"), F.lit(2), F.greatest(F.size("ys") - 1, F.lit(0)))
    st = F.aggregate(rest, acc0, step)
    folded = dense.select("event_type", "n_days", st.alias("st"))
    return folded.select(
        "event_type",
        "n_days",
        F.col("st.l").alias("level"),
        F.col("st.b").alias("trend"),
        F.element_at("st.s", 1).alias("s_next"),
        (
            F.col("st.l") + F.lit(3) * F.col("st.b") + F.element_at("st.s", 3)
        ).alias("forecast_3d"),
    )


@graded(
    "q_bollinger_bands",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT) AS day_idx,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
      FROM events
      GROUP BY event_type, 2
    ),
    winded AS (
      SELECT event_type, day_idx, day_cents,
             CAST(count(*) OVER w AS BIGINT)                          AS n_win,
             CAST(sum(day_cents) OVER w AS BIGINT)                    AS s_win,
             CAST(sum(day_cents * day_cents) OVER w AS BIGINT)        AS s2_win
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day_idx
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day_idx, day_cents, n_win,
           CAST(s_win AS DOUBLE) / n_win AS mean_7d,
           CAST(s_win AS DOUBLE) / n_win
             - 2 * sqrt(CAST(n_win * s2_win - s_win * s_win AS DOUBLE)
                        / (n_win * n_win)) AS lower_band,
           CAST(s_win AS DOUBLE) / n_win
             + 2 * sqrt(CAST(n_win * s2_win - s_win * s_win AS DOUBLE)
                        / (n_win * n_win)) AS upper_band,
           day_cents < CAST(s_win AS DOUBLE) / n_win
             - 2 * sqrt(CAST(n_win * s2_win - s_win * s_win AS DOUBLE)
                        / (n_win * n_win))
           OR day_cents > CAST(s_win AS DOUBLE) / n_win
             + 2 * sqrt(CAST(n_win * s2_win - s_win * s_win AS DOUBLE)
                        / (n_win * n_win)) AS breakout
    FROM winded
    """,
)
def q_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands on per-type daily revenue: trailing-7-day mean
    ± 2σ plus a breakout flag — the volatility envelope
    anomaly-dashboards draw (q_anomaly_mad's MAD score is the robust
    sibling; this is the classic parametric one).

    Exactness (the exact-integer rolling-variance form): the 7-row
    frame accumulates Σx and Σx² as BIGINTs, variance =
    (nΣx² − (Σx)²)/n² with an exact integer numerator (day-cents ≤
    2^31 ⇒ squares ≤ 2^62/7 within BIGINT at fixture scales; at 100 TB
    the numerator moves to DOUBLE and the grade would go tolerance).
    mean/band/flag are then fixed expressions over exact integers —
    division and sqrt are IEEE correctly-rounded ⇒ bit-equal doubles
    and a safe derived boolean, no rounding needed (unlike ln-based
    grades).

    100 TB: raw rows collapse to the combinable |types|×|days| daily
    rollup; the rolling frame is a per-type ordered window over that
    reduced relation (the decayed-sum contract), never over raw events.
    """
    daily = daily_cents(cents_by_day(load_table(spark, sf_dir, "events")))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(-6, Window.currentRow)
    )
    winded = daily.select(
        "event_type",
        "day_idx",
        "day_cents",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_win"),
        F.sum("day_cents").over(w).cast("bigint").alias("s_win"),
        F.sum(F.col("day_cents") * F.col("day_cents")).over(w).cast("bigint").alias("s2_win"),
    )
    mean = F.col("s_win").cast("double") / F.col("n_win")
    sd = F.sqrt(
        (F.col("n_win") * F.col("s2_win") - F.col("s_win") * F.col("s_win")).cast("double")
        / (F.col("n_win") * F.col("n_win"))
    )
    lower = mean - 2 * sd
    upper = mean + 2 * sd
    return winded.select(
        "event_type",
        "day_idx",
        "day_cents",
        "n_win",
        mean.alias("mean_7d"),
        lower.alias("lower_band"),
        upper.alias("upper_band"),
        ((F.col("day_cents") < lower) | (F.col("day_cents") > upper)).alias("breakout"),
    )


@graded(
    "q_running_balance_floor",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
             CASE WHEN event_type = 'purchase'
                  THEN -CAST(floor(value * 100) AS BIGINT)
                  ELSE  CAST(floor(value * 100) AS BIGINT) END AS delta
      FROM events WHERE user_id IS NOT NULL
    ),
    per_user AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             list(delta ORDER BY us, event_id) AS ds
      FROM e GROUP BY user_id
    ),
    folded AS (
      SELECT user_id, n_events,
             list_reduce(
               list_prepend(
                 [CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)],
                 list_transform(ds, d -> [d, CAST(0 AS BIGINT), CAST(0 AS BIGINT)])
               ),
               (acc, x) -> [
                 greatest(CAST(0 AS BIGINT), acc[1] + x[1]),
                 acc[2] + CASE WHEN acc[1] + x[1] < 0 THEN 1 ELSE 0 END,
                 greatest(acc[3], greatest(CAST(0 AS BIGINT), acc[1] + x[1]))
               ]
             ) AS st
      FROM per_user
    )
    SELECT user_id, n_events,
           st[1] AS final_balance_cents,
           CAST(st[2] AS BIGINT) AS n_clamps,
           st[3] AS max_balance_cents
    FROM folded
    """,
)
def q_running_balance_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped running balance per user wallet: clicks/views EARN their
    cents, purchases SPEND theirs, and the balance floors at zero (a
    spend never overdraws) — the prototypical NON-LINEAR running
    aggregate: max(0, bal + δ) is not a prefix sum, not window-
    expressible, and the clamp makes every later value depend on the
    full ordered history. Emits final balance, clamp count (spends that
    hit the floor), and high-water mark.

    Implementation is a per-key sequential FOLD over the (ts, event_id)
    ordered delta array — the Holt/RBO contract applied to integers:
    both engines run the identical left fold (Spark F.aggregate with a
    struct accumulator; DuckDB list_reduce with a 3-list BIGINT
    accumulator seeded by a prepended zero-state, since list_reduce
    takes its seed from the first element). All-BIGINT state ⇒ exact,
    no tolerance anywhere.

    100 TB: one combinable collect per user (bounded per-user
    cardinality — the sessionize contract); an unbounded per-key
    history would stream through applyInPandasWithState instead. No
    window, no join; the single exchange is the per-user groupBy.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    cents = F.floor(F.col("value") * 100).cast("bigint")
    e = ev.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.when(F.col("event_type") == "purchase", -cents).otherwise(cents).alias(
            "delta"
        ),
    )
    per_user = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("us", "event_id", "delta"))),
            lambda s: s["delta"],
        ).alias("ds"),
    )

    zero = F.lit(0).cast("bigint")

    def step(acc, d):
        nb_raw = acc["bal"] + d
        nb = F.greatest(zero, nb_raw)
        return F.struct(
            nb.alias("bal"),
            (acc["nc"] + F.when(nb_raw < 0, F.lit(1)).otherwise(F.lit(0)).cast("bigint")).alias("nc"),
            F.greatest(acc["mx"], nb).alias("mx"),
        )

    acc0 = F.struct(zero.alias("bal"), zero.alias("nc"), zero.alias("mx"))
    st = F.aggregate(F.col("ds"), acc0, step)
    folded = per_user.select("user_id", "n_events", st.alias("st"))
    return folded.select(
        "user_id",
        "n_events",
        F.col("st.bal").alias("final_balance_cents"),
        F.col("st.nc").alias("n_clamps"),
        F.col("st.mx").alias("max_balance_cents"),
    )


# Shared by q_user_ltv and its streaming twin: the (user, week) cents
# rollup is mergeable BIGINT addition AND the cohort key derives from
# the folded state (min week across all batches), so fold-then-finalize
# == one-pass batch and the twin grades against this SQL verbatim.
USER_LTV_ORACLE = """
    WITH e AS (
      SELECT user_id,
             CAST(floor(epoch_us(ts) / 604800000000.0) AS BIGINT) AS week_idx,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(floor(value * 100) AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS cents
      FROM events WHERE user_id IS NOT NULL
    ),
    withc AS (
      SELECT user_id, week_idx, cents,
             min(week_idx) OVER (PARTITION BY user_id) AS cohort_week
      FROM e
    ),
    grid AS (
      SELECT cohort_week, week_idx - cohort_week AS weeks_since,
             CAST(sum(cents) AS BIGINT) AS week_cents
      FROM withc GROUP BY 1, 2
    ),
    sizes AS (
      SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_users
      FROM (SELECT DISTINCT user_id, cohort_week FROM withc)
      GROUP BY cohort_week
    ),
    cum AS (
      SELECT cohort_week, weeks_since, week_cents,
             CAST(sum(week_cents) OVER (PARTITION BY cohort_week
                                        ORDER BY weeks_since
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_cents
      FROM grid
    )
    SELECT c.cohort_week, c.weeks_since, s.n_users, c.week_cents, c.cum_cents,
           CAST(c.cum_cents AS DOUBLE) / s.n_users AS ltv_cents
    FROM cum c JOIN sizes s USING (cohort_week)
    """


@graded("q_user_ltv", oracle=USER_LTV_ORACLE)
def q_user_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: users bucketed by first-active
    week, cumulative purchase revenue per cohort through each
    weeks-since offset, divided by cohort size — the LTV curve
    (payback-period / CAC-ceiling input) that q_cohort_retention's
    count matrix prices out. Zero-revenue active weeks keep their rows
    (the curve flat-lines, it doesn't skip).

    One fact pass — literally: cohort week rides the user-partition
    window (the retention trick), reduces to the per-(cohort, week,
    user) partial, and that partial is CHECKPOINTED — its two readers
    (revenue grid; cohort sizes = users at weeks_since 0, which every
    user has by the min-definition) would otherwise each re-plan the
    fact scan + window (the double-plan smell; plan-gated at exactly
    one Window over the fact). The cumulative sum is a window over the
    reduced |cohorts|×|weeks| grid; sizes broadcast back.

    Exactness: cents/counts are exact BIGINTs end-to-end; ltv is ONE
    correctly-rounded division ⇒ bit-equal doubles, no rounding.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    week = F.floor(F.unix_micros("ts") / F.lit(604_800_000_000.0)).cast("bigint")
    cents = F.when(
        F.col("event_type") == "purchase",
        F.floor(F.col("value") * 100).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    e = ev.select("user_id", week.alias("week_idx"), cents.alias("cents"))
    return ltv_from_user_weeks(e)


def ltv_from_user_weeks(e: DataFrame) -> DataFrame:
    """LTV finalization over a (user_id, week_idx, cents) activity
    relation — grain-insensitive (event-grain or pre-summed (user,
    week) partials give identical results: the per_u agg re-groups by
    user either way and min/sum associate), which is what lets the
    streaming twin fold per-batch rollups and share USER_LTV_ORACLE
    verbatim."""
    w_user = Window.partitionBy("user_id")
    withc = e.withColumn("cohort_week", F.min("week_idx").over(w_user))
    per_u = (
        withc.groupBy(
            "cohort_week",
            (F.col("week_idx") - F.col("cohort_week")).alias("weeks_since"),
            "user_id",
        )
        .agg(F.sum("cents").cast("bigint").alias("u_cents"))
        .localCheckpoint(eager=True)
    )
    grid = per_u.groupBy("cohort_week", "weeks_since").agg(
        F.sum("u_cents").cast("bigint").alias("week_cents")
    )
    sizes = (
        per_u.filter(F.col("weeks_since") == 0)
        .groupBy("cohort_week")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )
    w_cum = (
        Window.partitionBy("cohort_week")
        .orderBy("weeks_since")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.withColumn(
        "cum_cents", F.sum("week_cents").over(w_cum).cast("bigint")
    )
    return cum.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "weeks_since",
        "n_users",
        "week_cents",
        "cum_cents",
        (F.col("cum_cents").cast("double") / F.col("n_users")).alias("ltv_cents"),
    )


THEIL_SEN_ORACLE = """
    WITH daily AS (
      SELECT CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT (b.y - a.y) / CAST(b.d - a.d AS DOUBLE) AS slope
      FROM daily a JOIN daily b ON b.d > a.d
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
           CAST(count(*) AS BIGINT)                     AS n_pairs,
           quantile_cont(slope, 0.5)                    AS slope_med
    FROM pairs
    """


@graded("q_theil_sen", oracle=THEIL_SEN_ORACLE)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend: the MEDIAN of all pairwise slopes of the
    daily order-volume series — the breakdown-point-29% sibling of
    q_linear_trend's least squares (one outlier day cannot move it),
    the standard robust-trend estimator for noisy operational series.

    Exactness: each slope is ONE double division of exact BIGINTs
    (identical operands both engines ⇒ bit-equal doubles); the median
    interpolates exactly like DuckDB quantile_cont (the
    F.percentile == quantile_cont bit-exact precedent from
    q_anomaly_mad).

    Scale: raw orders collapse to the |days| relation in one
    combinable agg (the ACF/markov reduced-relation contract); the
    pairwise enumeration is a broadcast range self-join over that
    BOUNDED relation — |days|² pairs is ~3M for a decade of days
    regardless of row count, so the O(n²) lives where n is the
    calendar, never the data."""
    orders = load_table(spark, sf_dir, "orders")
    return theil_sen_finalize(changepoint_daily(orders))


def theil_sen_finalize(daily: DataFrame) -> DataFrame:
    """Median-of-pairwise-slopes report over a (d, y) daily count table
    — shared verbatim by the batch query and streaming twin #42 (daily
    counts are pure integer addition, so the folded per-batch partials
    reproduce the one-pass rollup exactly and this finalize emits the
    identical slopes). Caller's frame is localCheckpoint'd here: two
    readers (the pair join's both sides + n_days) over a tiny bounded
    relation — the multi-reader double-plan rule."""
    daily = daily.localCheckpoint()
    a = daily.select(F.col("d").alias("d1"), F.col("y").alias("y1"))
    b = daily.select(F.col("d").alias("d2"), F.col("y").alias("y2"))
    pairs = a.join(F.broadcast(b), F.col("d2") > F.col("d1")).select(
        (
            (F.col("y2") - F.col("y1"))
            / (F.col("d2") - F.col("d1")).cast("double")
        ).alias("slope")
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return (
        pairs.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.percentile("slope", 0.5).alias("slope_med"),
        )
        .crossJoin(F.broadcast(n_days))
        .select("n_days", "n_pairs", "slope_med")
    )


CHANGEPOINT_ORACLE = """
    WITH daily AS (
      SELECT CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    pre AS (
      SELECT d, y,
             CAST(row_number() OVER (ORDER BY d) AS BIGINT)   AS np,
             CAST(sum(y)     OVER (ORDER BY d) AS BIGINT)     AS sp,
             CAST(sum(y * y) OVER (ORDER BY d) AS BIGINT)     AS qp
      FROM daily
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s,
             CAST(sum(y * y) AS BIGINT) AS q
      FROM daily
    ),
    gains AS (
      SELECT d, np, sp, qp,
             (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             - (CAST(qp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / CAST(np AS DOUBLE))
             - (CAST(q - qp AS DOUBLE)
                - CAST(s - sp AS DOUBLE) * CAST(s - sp AS DOUBLE) / CAST(n - np AS DOUBLE))
               AS gain
      FROM pre, tot
      WHERE np < n
    )
    SELECT d AS split_day, np, sp, qp, round(gain, 6) AS gain
    FROM gains ORDER BY gain DESC, d ASC LIMIT 1
    """


def changepoint_daily(orders: DataFrame) -> DataFrame:
    """(d, y) daily order-count rollup — the mergeable partial shared
    by the batch changepoint and its streaming twin (counts are pure
    integer addition: folding per-batch partials == one-pass rollup)."""
    return (
        orders.select(
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            )
            .cast("bigint")
            .alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )


def changepoint_finalize(daily: DataFrame) -> DataFrame:
    """Argmax-gain split over a (d, y) daily table — shared by the
    batch query and the streaming twin (identical finalization over
    identical integers ⇒ identical output)."""
    daily = daily.localCheckpoint()
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pre = daily.select(
        "d",
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("np"),
        F.sum("y").over(w).cast("bigint").alias("sp"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("bigint").alias("qp"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("q"),
    )
    d = F.col
    gain = (
        (d("q").cast("double") - d("s").cast("double") * d("s").cast("double") / d("n").cast("double"))
        - (d("qp").cast("double") - d("sp").cast("double") * d("sp").cast("double") / d("np").cast("double"))
        - (
            (d("q") - d("qp")).cast("double")
            - (d("s") - d("sp")).cast("double") * (d("s") - d("sp")).cast("double")
            / (d("n") - d("np")).cast("double")
        )
    )
    gains = (
        pre.crossJoin(F.broadcast(tot))
        .filter(F.col("np") < F.col("n"))
        .select("d", "np", "sp", "qp", gain.alias("gain_full"))
    )
    # Tie semantics mirror the oracle exactly: the argmax orders on the
    # ROUNDED gain (round 6) desc, then earliest day — ordering on the
    # unrounded gain_full could pick a different day when two candidates
    # differ only beyond 6 decimals (r10 ADVICE).
    return (
        gains.orderBy(F.desc(F.round("gain_full", 6)), F.asc("d"))
        .limit(1)
        .select(
            F.col("d").alias("split_day"),
            "np",
            "sp",
            "qp",
            F.round("gain_full", 6).alias("gain"),
        )
    )


@graded("q_changepoint_detect", oracle=CHANGEPOINT_ORACLE)
def q_changepoint_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point detection on the daily order-volume series:
    the split maximizing the between-segment SSE reduction (binary
    segmentation's first step / CUSUM's offline twin). For each
    candidate boundary t, gain(t) = SSE_total − SSE_left − SSE_right,
    with every SSE expanded to Σy² − (Σy)²/n over EXACT BIGINT prefix
    sums — one subtraction chain of correctly-rounded doubles from
    identical integers ⇒ bit-equal, so the argmax day is
    cross-engine-deterministic (the bollinger contract; never ln).
    Ties break to the earliest day; gain is graded at 6dp with the
    exact integer anchors (np, sp, qp) alongside.

    Overflow contract: Σy² < 2^63 ⇒ daily volume to ~3·10⁹ rows/day.

    Scale: orders collapse to |days| rows in one combinable agg; the
    prefix sums are ONE ordered window over that bounded calendar
    relation (the pareto-survivor pattern — single-partition is the
    honest cost of a global prefix on ≤ a few thousand rows), the
    1-row totals broadcast, and the argmax is TakeOrdered(1)."""
    orders = load_table(spark, sf_dir, "orders")
    return changepoint_finalize(changepoint_daily(orders))


@graded(
    "q_interval_overlap_join",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
      FROM events WHERE user_id IS NOT NULL
    ),
    a AS (
      SELECT event_id AS click_id, user_id,
             us AS a_start, us + 7200000000 AS a_end
      FROM e WHERE event_type = 'click'
    ),
    b AS (
      SELECT event_id AS purchase_id, user_id,
             us - 3600000000 AS b_start, us + 3600000000 AS b_end
      FROM e WHERE event_type = 'purchase'
    )
    SELECT a.click_id, b.purchase_id, a.user_id,
           CAST(least(a_end, b_end) - greatest(a_start, b_start) AS BIGINT)
               AS overlap_us
    FROM a JOIN b ON a.user_id = b.user_id
                 AND a_start < b_end AND b_start < a_end
    """,
)
def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL × INTERVAL overlap join — the two-sided sibling of
    q_interval_join's point-in-range: each click opens a 2 h exposure
    window, each purchase a ±1 h session window; emit every overlapping
    (exposure, session) pair per user with the exact overlap length.

    Engine plan is the banded form (the spatial_radius_join pattern in
    time): both interval sets replicate to the 2 h time buckets they
    span (interval length ≤ bucket width ⇒ ≤ 2 copies each — bounded,
    data-independent), join as a plain (user, bucket) EQUI-join, apply
    the exact overlap predicate, and dedupe pairs that co-occur in two
    buckets. Soundness: two intervals overlap ⇒ the overlap point lies
    in some bucket ⇒ both cover that bucket ⇒ the pair meets in the
    equi-join. The oracle runs the quadratic per-user range join the
    engine must avoid. Bucket integer division stays in BIGINT (`div`)
    — epoch micros exceed 2^53 within this century, so a double
    intermediate would mis-bucket edge timestamps.

    Exactness: all BIGINT micros arithmetic."""
    B_US = 7_200_000_000
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    us = F.unix_micros("ts")
    a = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("a_user"),
            us.alias("a_start"),
            (us + F.lit(7_200_000_000)).alias("a_end"),
        )
        .withColumn(
            "bk",
            F.explode(
                F.expr(f"sequence(a_start div {B_US}, (a_end - 1) div {B_US})")
            ),
        )
    )
    b = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("b_user"),
            (us - F.lit(3_600_000_000)).alias("b_start"),
            (us + F.lit(3_600_000_000)).alias("b_end"),
        )
        .withColumn(
            "bk",
            F.explode(
                F.expr(f"sequence(b_start div {B_US}, (b_end - 1) div {B_US})")
            ),
        )
    )
    pairs = a.join(
        b,
        (F.col("a_user") == F.col("b_user"))
        & (a["bk"] == b["bk"])
        & (F.col("a_start") < F.col("b_end"))
        & (F.col("b_start") < F.col("a_end")),
    )
    return pairs.dropDuplicates(["click_id", "purchase_id"]).select(
        "click_id",
        "purchase_id",
        F.col("a_user").alias("user_id"),
        (
            F.least("a_end", "b_end") - F.greatest("a_start", "b_start")
        )
        .cast("bigint")
        .alias("overlap_us"),
    )


@graded(
    "q_kaplan_meier",
    oracle="""
    WITH e AS (
      SELECT user_id,
             CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT) AS day
      FROM events WHERE user_id IS NOT NULL
    ),
    users AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM e GROUP BY user_id),
    study AS (SELECT max(d1) AS dmax FROM users),
    lives AS (
      SELECT user_id, d1 - d0 AS t, (d1 <= dmax - 7) AS died
      FROM users, study
    ),
    grid AS (
      SELECT t,
             CAST(count(*) FILTER (WHERE died) AS BIGINT)     AS d,
             CAST(count(*) FILTER (WHERE NOT died) AS BIGINT) AS c
      FROM lives GROUP BY t
    ),
    atrisk AS (
      SELECT t, d, c,
             CAST(sum(d + c) OVER (ORDER BY t DESC) AS BIGINT) AS n_at_risk
      FROM grid
    ),
    steps AS (SELECT * FROM atrisk WHERE d > 0),
    ser AS (
      SELECT list(t ORDER BY t) AS ts,
             list([CAST(d AS DOUBLE), CAST(n_at_risk AS DOUBLE)] ORDER BY t) AS xs
      FROM steps
    ),
    folded AS (
      -- growing-list accumulator: same DOUBLE[] type as the elements,
      -- seeded via list_prepend (list_reduce seeds from the first
      -- element — the running_balance lesson); acc[-1] on the empty
      -- seed is NULL -> coalesce(1.0)
      SELECT ts,
             list_reduce(
               list_prepend(CAST([] AS DOUBLE[]), xs),
               (acc, x) -> list_append(
                 acc,
                 coalesce(acc[-1], CAST(1 AS DOUBLE))
                   * (CAST(1 AS DOUBLE) - x[1] / x[2])
               )
             ) AS sl
      FROM ser
    ),
    surv AS (SELECT unnest(ts) AS t, unnest(sl) AS survival FROM folded)
    SELECT s.t, g.d, g.c, g.n_at_risk, s.survival
    FROM surv s JOIN steps g ON s.t = g.t
    """,
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve over user activity lifetimes — the
    retention/churn estimator that handles CENSORING correctly: a user
    still active in the last 7 observed days hasn't churned, they're
    censored, and dropping or death-counting them both bias S(t).
    Lifetime t = last−first active day; at each event time,
    S(t) = Π (1 − dᵢ/nᵢ) with dᵢ deaths at tᵢ and nᵢ the at-risk count
    (everyone with lifetime ≥ tᵢ — censored users leave the risk set
    without stepping the curve).

    Exactness: d/c/n_at_risk are exact BIGINTs; the survival product
    folds the identical correctly-rounded doubles in the identical
    ascending-t order on both engines (the Holt fold contract, with the
    growing-LIST accumulator on the DuckDB side) ⇒ bit-equal.

    Scale: the fact collapses to user grain (one combinable agg), then
    to the lifetime grid (≤ |days| rows); the at-risk cumsum and the
    fold run on that bounded relation (pareto-survivor pattern); the
    1-row study horizon broadcasts."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    day = F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).cast("bigint")
    users = ev.select("user_id", day.alias("day")).groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    study = users.agg(F.max("d1").alias("dmax"))
    lives = users.crossJoin(F.broadcast(study)).select(
        (F.col("d1") - F.col("d0")).alias("t"),
        (F.col("d1") <= F.col("dmax") - 7).alias("died"),
    )
    grid = lives.groupBy("t").agg(
        F.count_if(F.col("died")).cast("bigint").alias("d"),
        F.count_if(~F.col("died")).cast("bigint").alias("c"),
    )
    w_desc = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    atrisk = grid.select(
        "t", "d", "c",
        F.sum(F.col("d") + F.col("c")).over(w_desc).cast("bigint").alias("n_at_risk"),
    )
    steps = atrisk.filter(F.col("d") > 0)
    ser = steps.agg(
        F.array_sort(
            F.collect_list(F.struct("t", "d", "c", "n_at_risk"))
        ).alias("xs")
    )

    def fold_step(acc, x):
        prev = F.when(F.size(acc) == 0, F.lit(1.0)).otherwise(
            F.element_at(acc, -1)
        )
        s = prev * (
            F.lit(1.0) - x["d"].cast("double") / x["n_at_risk"].cast("double")
        )
        return F.concat(acc, F.array(s))

    sl = F.aggregate(
        F.col("xs"), F.array().cast("array<double>"), fold_step
    )
    z = ser.select("xs", sl.alias("sl"))
    ex = z.select(F.col("sl"), F.posexplode("xs").alias("i", "x"))
    return ex.select(
        F.col("x.t").alias("t"),
        F.col("x.d").alias("d"),
        F.col("x.c").alias("c"),
        F.col("x.n_at_risk").alias("n_at_risk"),
        F.element_at("sl", F.col("i") + 1).alias("survival"),
    )


@graded(
    "q_logrank_test",
    oracle="""
    WITH users AS (
      SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
    ),
    assigned AS (
      SELECT (substr(md5('lr:' || CAST(user_id AS VARCHAR)), 1, 1) < '8') AS treat,
             1 + CAST(CAST('0x' || substr(md5('lrd:' || CAST(user_id AS VARCHAR)), 1, 12)
                           AS UBIGINT) AS BIGINT) % 40
               + (CASE WHEN (substr(md5('lr:' || CAST(user_id AS VARCHAR)), 1, 1) < '8')
                       THEN 8 ELSE 0 END) AS dur
      FROM users
    ),
    lives AS (
      SELECT least(dur, 30) AS t, (dur <= 30) AS died, treat FROM assigned
    ),
    totals AS (
      SELECT CAST(count(*) FILTER (WHERE treat) AS BIGINT)     AS n1_total,
             CAST(count(*) FILTER (WHERE NOT treat) AS BIGINT) AS n0_total
      FROM lives
    ),
    grid AS (
      SELECT t,
             CAST(count(*) FILTER (WHERE died AND treat) AS BIGINT)         AS dd1,
             CAST(count(*) FILTER (WHERE died AND NOT treat) AS BIGINT)     AS dd0,
             CAST(count(*) FILTER (WHERE NOT died AND treat) AS BIGINT)     AS cc1,
             CAST(count(*) FILTER (WHERE NOT died AND NOT treat) AS BIGINT) AS cc0
      FROM lives GROUP BY t
    ),
    atrisk AS (
      SELECT t, dd1, dd0,
             CAST(sum(dd1 + cc1) OVER (ORDER BY t DESC) AS BIGINT) AS n1,
             CAST(sum(dd0 + cc0) OVER (ORDER BY t DESC) AS BIGINT) AS n0
      FROM grid
    ),
    steps AS (SELECT * FROM atrisk WHERE dd1 + dd0 > 0),
    terms AS (
      SELECT t, dd1,
             CAST(dd1 + dd0 AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE)) AS e_term,
             CASE WHEN n1 + n0 > 1 THEN
               CAST(dd1 + dd0 AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))
                 * (1.0 - CAST(n1 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))
                 * (CAST(n1 + n0 - dd1 - dd0 AS DOUBLE) / CAST(n1 + n0 - 1 AS DOUBLE))
             ELSE 0.0 END AS v_term
      FROM steps
    ),
    folded AS (
      SELECT CAST(sum(dd1) AS BIGINT) AS o1,
             sum(e_term ORDER BY t) AS e1,
             sum(v_term ORDER BY t) AS var_o1
      FROM terms
    )
    SELECT n1_total, n0_total, o1, e1, var_o1,
           (CAST(o1 AS DOUBLE) - e1) / sqrt(var_o1) AS z,
           ((CAST(o1 AS DOUBLE) - e1) / sqrt(var_o1))
             * ((CAST(o1 AS DOUBLE) - e1) / sqrt(var_o1)) AS chi2,
           (((CAST(o1 AS DOUBLE) - e1) / sqrt(var_o1))
             * ((CAST(o1 AS DOUBLE) - e1) / sqrt(var_o1)) > 3.841458820694124) AS reject_95
    FROM folded, totals
    """,
)
def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-arm log-rank test — the survival battery's hypothesis test
    next to q_kaplan_meier's estimator, censoring-correct: subjects
    censored at the administrative horizon leave the risk set without
    counting as deaths.

    Fixture lifetimes are PLANTED by md5 (the mime_sniff construction
    doctrine): the events fixture has no churn structure — every user
    is active essentially daily, so activity-derived lifetimes have
    zero deaths and the statistic is vacuous. Instead each distinct
    user gets dur = 1 + (u48 mod 40) + 8·treat days (treat = the 'lr:'
    gate), administratively censored at day 30 — both arms carry a
    deterministic mix of deaths and censored rows and a real arm
    effect, and the grade proves the log-rank MACHINERY (risk-set
    cumsums, hypergeometric terms, ordered folds) end to end. Real
    deployments swap the planted `lives` relation for observed
    (duration, event) columns; everything from `grid` down is
    unchanged.

    At each pooled death time t: O1 accumulates arm-1 deaths (exact
    BIGINT), E1 accumulates d_t·(n1_t/n_t), and Var accumulates the
    hypergeometric term d_t·r·(1−r)·((n_t−d_t)/(n_t−1)) — every factor
    a correctly-rounded double of exact BIGINTs, summed in ascending-t
    order on both engines (Spark: array_sort + F.aggregate fold;
    DuckDB: sum(x ORDER BY t) — the trimmed-mean precedent) ⇒ E1/Var/
    z/chi2 are bit-equal and reject_95 cannot flip. The n_t=1 tail row
    (a lone subject dying last) zeroes its variance term by CASE on
    both sides rather than risking engine-specific x/0 semantics.

    Scale: one combinable user-grain agg (the only data-sized
    shuffle), then everything runs on the bounded lifetime grid
    (≤ study-day span rows — the kaplan_meier reduced-relation shape);
    the desc-cumsum window and the fold are SinglePartition on that
    bounded relation by design; the 1-row study horizon and arm totals
    broadcast."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    users = ev.select("user_id").distinct()
    treat = (
        F.substring(
            F.md5(F.concat(F.lit("lr:"), F.col("user_id").cast("string"))), 1, 1
        )
        < "8"
    )
    u48 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("lrd:"), F.col("user_id").cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("bigint")
    dur = F.lit(1) + (u48 % 40) + F.when(treat, F.lit(8)).otherwise(F.lit(0))
    lives = users.select(
        F.least(dur, F.lit(30)).alias("t"),
        (dur <= 30).alias("died"),
        treat.alias("treat"),
    )
    lives = lives.localCheckpoint()  # feeds totals AND grid (two readers)
    totals = lives.agg(
        F.count_if(F.col("treat")).cast("bigint").alias("n1_total"),
        F.count_if(~F.col("treat")).cast("bigint").alias("n0_total"),
    )
    grid = lives.groupBy("t").agg(
        F.count_if(F.col("died") & F.col("treat")).cast("bigint").alias("dd1"),
        F.count_if(F.col("died") & ~F.col("treat")).cast("bigint").alias("dd0"),
        F.count_if(~F.col("died") & F.col("treat")).cast("bigint").alias("cc1"),
        F.count_if(~F.col("died") & ~F.col("treat")).cast("bigint").alias("cc0"),
    )
    w_desc = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    atrisk = grid.select(
        "t", "dd1", "dd0",
        F.sum(F.col("dd1") + F.col("cc1")).over(w_desc).cast("bigint").alias("n1"),
        F.sum(F.col("dd0") + F.col("cc0")).over(w_desc).cast("bigint").alias("n0"),
    )
    steps = atrisk.filter((F.col("dd1") + F.col("dd0")) > 0)
    dtot = (F.col("dd1") + F.col("dd0")).cast("double")
    ntot = F.col("n1") + F.col("n0")
    r = F.col("n1").cast("double") / ntot.cast("double")
    e_term = dtot * r
    v_term = F.when(
        ntot > 1,
        dtot
        * r
        * (F.lit(1.0) - r)
        * ((ntot - (F.col("dd1") + F.col("dd0"))).cast("double")
           / (ntot - F.lit(1)).cast("double")),
    ).otherwise(F.lit(0.0))
    terms = steps.select(
        "t", "dd1", e_term.alias("e_term"), v_term.alias("v_term")
    )
    ser = terms.agg(
        F.array_sort(
            F.collect_list(F.struct("t", "e_term", "v_term"))
        ).alias("xs"),
        F.sum("dd1").cast("bigint").alias("o1"),
    )
    e1 = F.aggregate(F.col("xs"), F.lit(0.0), lambda acc, x: acc + x["e_term"])
    v1 = F.aggregate(F.col("xs"), F.lit(0.0), lambda acc, x: acc + x["v_term"])
    folded = ser.select("o1", e1.alias("e1"), v1.alias("var_o1"))
    z = (F.col("o1").cast("double") - F.col("e1")) / F.sqrt(F.col("var_o1"))
    return folded.crossJoin(F.broadcast(totals)).select(
        "n1_total", "n0_total", "o1", "e1", "var_o1",
        z.alias("z"),
        (z * z).alias("chi2"),
        ((z * z) > F.lit(3.841458820694124)).alias("reject_95"),
    )


OHLC_ORACLE = """
    WITH e AS (
      SELECT event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    b AS (
      SELECT event_type, event_id, cents, ts,
             time_bucket(INTERVAL '10 minutes', ts) AS bucket
      FROM e
    ),
    ranked AS (
      SELECT event_type, bucket, cents,
             row_number() OVER (PARTITION BY event_type, bucket
                                ORDER BY ts, event_id) AS rn_open,
             row_number() OVER (PARTITION BY event_type, bucket
                                ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM b
    )
    SELECT event_type, bucket,
           CAST(min(CASE WHEN rn_open = 1 THEN cents END) AS BIGINT)  AS open,
           CAST(max(cents) AS BIGINT)                                 AS high,
           CAST(min(cents) AS BIGINT)                                 AS low,
           CAST(min(CASE WHEN rn_close = 1 THEN cents END) AS BIGINT) AS close,
           CAST(count(*) AS BIGINT)                                   AS volume
    FROM ranked GROUP BY event_type, bucket
    """


@graded("q_ohlc_candles", oracle=OHLC_ORACLE)
def q_ohlc_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candles — the canonical financial/telemetry downsampling:
    per (type, 10-min bucket) open/high/low/close/volume. Open and
    close are ARGMIN/ARGMAX by the total (ts, event_id) order via
    min_by/max_by over a composite struct key (the mode_by_group
    doctrine: agg-only, deterministic under ts ties, never a rank
    window over the raw stream); high/low/volume are plain aggregates.

    Exactness: floor-cents BIGINTs throughout.

    Scale: ONE map-side-combinable agg — per-group state is 4 scalars
    + 2 (key, value) pairs regardless of bucket population; the oracle
    replays open/close with rank windows, the plan the engine avoids."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        "event_id",
        "ts",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        F.window("ts", "10 minutes")["start"].alias("bucket"),
    )
    key = F.struct(F.col("ts"), F.col("event_id"))
    return e.groupBy("event_type", "bucket").agg(
        F.min_by("cents", key).cast("bigint").alias("open"),
        F.max("cents").cast("bigint").alias("high"),
        F.min("cents").cast("bigint").alias("low"),
        F.max_by("cents", key).cast("bigint").alias("close"),
        F.count(F.lit(1)).cast("bigint").alias("volume"),
    )


ROLLING_MEDIAN_ORACLE = """
WITH daily AS (
  SELECT event_type,
         CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT) AS day_idx,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
  FROM events
  GROUP BY event_type, 2
)
SELECT event_type, day_idx, day_cents,
       quantile_cont(day_cents, 0.5) OVER w AS med7,
       CAST(count(*) OVER w AS BIGINT)      AS n_win,
       day_cents > 2 * quantile_cont(day_cents, 0.5) OVER w AS spike
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day_idx
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


def rolling_median_from_daily(daily: DataFrame) -> DataFrame:
    """Trailing-7-day median over a (event_type, day_idx, day_cents)
    daily table — shared by the batch query and the streaming twin
    (identical finalization over identical integers ⇒ identical
    doubles; Spark's exact F.percentile over a rows frame is bit-equal
    to DuckDB quantile_cont, the q_anomaly_mad adjudication extended to
    bounded frames)."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(-6, Window.currentRow)
    )
    med = F.percentile("day_cents", 0.5).over(w)
    return daily.select(
        "event_type",
        "day_idx",
        "day_cents",
        med.alias("med7"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_win"),
        (F.col("day_cents") > 2 * med).alias("spike"),
    )


@graded("q_rolling_median", oracle=ROLLING_MEDIAN_ORACLE)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median (trailing-7-day) of per-type daily revenue with a
    robust spike flag (day > 2× trailing median) — the outlier-immune
    sibling of q_bollinger_bands' parametric envelope: one fat-finger
    day shifts a trailing MEAN for a week but leaves the median
    untouched, so ops dashboards watch this envelope for real demand
    spikes.

    Exactness: day-cents are exact BIGINTs; the interpolated median of
    ≤7 integers is one IEEE-correctly-rounded interpolation — Spark's
    exact F.percentile over the rows frame is bit-equal to DuckDB
    quantile_cont (verified on bounded frames, extending the
    q_anomaly_mad unbounded-frame adjudication), so med7 and the
    derived boolean grade with no rounding.

    100 TB: raw events collapse to the combinable |types|×|days| daily
    rollup FIRST; the rolling median runs over that reduced relation —
    a per-type ordered window whose per-row cost is the 7-row frame,
    never a window over raw events (the bollinger/decayed-sum
    contract). An exact sliding median at raw-row grain would need a
    two-heap state; at daily grain it is free.
    """
    daily = daily_cents(cents_by_day(load_table(spark, sf_dir, "events")))
    return rolling_median_from_daily(daily)


@graded(
    "q_session_funnel",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE user_id IS NOT NULL
    ),
    flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM e
    ),
    sessions AS (
      SELECT user_id, event_type, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
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
def q_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel at SESSION grain — the composition q_sessionize × q_funnel
    answers the question the user-grain funnel cannot: 'did the visit
    convert?' A user who viewed in January and purchased in March
    counts for the lifetime funnel but for NO session funnel; dividing
    n_full_funnel by n_sessions here gives per-visit conversion, the
    number growth teams actually A/B against.

    Shape: ONE user_id window shuffle (the sessionize lag/cumsum),
    then two stacked combinable aggs — (user, session) min-CASE pivot,
    global census. The session id and the funnel predicates both ride
    the same partitioning; no join anywhere. First-occurrence times
    are epoch-micros BIGINTs; the latency sum is exact integer
    arithmetic.

    100 TB: identical posture to q_sessionize (its 2-exchange plan) —
    the funnel pivot adds CASE branches to the agg, never a pass.
    """
    from noaa_etl_spark.operators.sessionize import sessionize

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    sess = sessionize(
        ev, user_col="user_id", ts_col="ts", gap_seconds=1800, tiebreak_col="event_id"
    )
    t = F.unix_micros("ts")
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.min(F.when(F.col("event_type") == "view", t)).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", t)).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", t)).alias("t_purchase"),
    )
    return session_funnel_census(per_session)


def session_funnel_census(per_session: DataFrame) -> DataFrame:
    """Funnel census over a (…, t_view, t_click, t_purchase) per-session
    table — shared by q_session_funnel and its streaming twin (the
    census is one combinable agg over the per-session relation, so the
    finalization is identical whichever engine produced the sessions)."""
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    converted = clicked & (F.col("t_purchase") > F.col("t_click"))
    return per_session.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count(F.when(viewed, 1)).alias("n_view"),
        F.count(F.when(clicked, 1)).alias("n_view_click"),
        F.count(F.when(converted, 1)).alias("n_full_funnel"),
        F.sum(F.when(converted, F.col("t_purchase") - F.col("t_view"))).alias(
            "total_conversion_us"
        ),
    )


@graded(
    "q_ewma_irregular",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, value
      FROM events WHERE user_id IS NOT NULL
    ),
    anchored AS (
      SELECT user_id, value, t_us,
             max(t_us) OVER (PARTITION BY user_id) AS t_last
      FROM e
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value * exp(-(CAST(t_last - t_us AS DOUBLE) / 86400000000.0))), 3)
             AS decay_score
    FROM anchored
    GROUP BY user_id
    """,
)
def q_ewma_irregular(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Irregular-gap exponential time-decay score per user (tau = 1
    day) — the feature-store "recency-weighted engagement" shape where
    events arrive at arbitrary timestamps, complementing q_decayed_sum
    (whose dyadic per-DAY alpha=1/2 fold is the exact-arithmetic gear on
    a regular grid).

    The naive form is a per-user recurrence s_i = v_i + e^(-dt/tau)*s_i-1
    — but the recurrence has a CLOSED FORM: s_n = sum_i v_i *
    exp(-(t_last - t_i)/tau), which turns the sequential fold into ONE
    map-side-combinable aggregate after a per-user max window on the
    same partitioning — the rolling_1h plan shape (one user-key
    exchange), no collect_list, no per-user state, no UDF. That is the
    100 TB difference between "ordered fold per user" and "plain agg".

    Grading: exp() is not correctly-rounded and libm differs across
    engines (the perplexity ln() adjudication), and the sum order is
    engine-arbitrary — both effects are bounded by ~n*ulp relative
    error, so the score is graded ROUNDED. 3dp, not 6: the terms are
    all-positive and summed in engine-arbitrary order, so the noise
    floor is ~n*eps*score (~1e-9 at fixture scale) — against a 6dp
    half-gap of 5e-7 that is a ~2e-3 flip probability PER USER per
    regen (an expected red row every few rounds); at 3dp the flip
    probability is ~3e-4 per grading. Counts exact."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w_u = Window.partitionBy("user_id")
    anchored = ev.select(
        "user_id", "value", F.unix_micros("ts").alias("t_us")
    ).withColumn("t_last", F.max("t_us").over(w_u))
    decay = F.exp(
        -((F.col("t_last") - F.col("t_us")).cast("double") / F.lit(86400000000.0))
    )
    return anchored.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.sum(F.col("value") * decay), 3).alias("decay_score"),
    )


OUT_OF_ORDER_ORACLE = """
    WITH e AS (
      SELECT event_id, user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t,
             epoch_us(CAST(ts AS TIMESTAMP))
               + CAST(CAST('0x' || substr(md5('ooo:' || CAST(event_id AS VARCHAR)), 1, 12)
                           AS UBIGINT) AS BIGINT) % 600000000 AS arrival
      FROM events WHERE user_id IS NOT NULL
    ),
    w AS (
      SELECT event_type, t,
             max(t) OVER (PARTITION BY user_id ORDER BY arrival, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
      FROM e
    ),
    l AS (
      SELECT event_type,
             CASE WHEN runmax IS NULL OR runmax <= t THEN 0
                  ELSE runmax - t END AS late_us
      FROM w
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (late_us > 0) AS BIGINT) AS n_late,
           CAST(max(late_us) AS BIGINT) AS max_late_us,
           quantile_cont(CASE WHEN late_us > 0 THEN late_us END, 0.95)
             AS p95_late_us
    FROM l GROUP BY event_type ORDER BY event_type
    """


@graded("q_out_of_order_audit", oracle=OUT_OF_ORDER_ORACLE)
def q_out_of_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder census — THE report that sizes a streaming
    watermark: per event type, how many events arrive after a
    later-timestamped event of the same user has already arrived, and
    how late (max + p95 of the lateness an ingest would observe).
    Lateness of an event = max(0, max event-time among its user's
    EARLIER ARRIVALS − its own event-time), i.e. exactly the gap
    withWatermark must tolerate to not drop it.

    The fixture's event_id order is perfectly time-sorted (zero
    disorder — a vacuous audit, the logrank lesson), so arrival order
    is PLANTED as ts + an md5 network delay in [0, 10 min) on event_id
    (the construction doctrine): deterministic in both engines, and the
    resulting disorder census is a theorem of the construction.

    Exactness: lateness values are exact BIGINT micros; p95 among late
    events via F.percentile == DuckDB quantile_cont (the anomaly_mad
    adjudication; NULL when a type has no late events, both engines).
    Scale: one user-partition window (arrival order rides the user
    exchange — the sessionize shape) + one combinable type-grain agg;
    no skewed global window."""
    e = out_of_order_events(load_table(spark, sf_dir, "events"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("arrival", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    runmax = F.max("t").over(w)
    late = F.when(
        runmax.isNull() | (runmax <= F.col("t")), F.lit(0)
    ).otherwise(runmax - F.col("t"))
    l = e.select("event_type", late.alias("late_us"))
    return out_of_order_census(l)


def out_of_order_events(ev: DataFrame) -> DataFrame:
    """The disorder-audit event relation shared by q_out_of_order_audit
    and its streaming twin: event-time micros t + a PLANTED md5 arrival
    delay in [0, 10 min) on event_id (the fixture's event_id order is
    perfectly ts-sorted — zero natural disorder, the logrank vacuity
    lesson)."""
    t = F.unix_micros("ts")
    delay = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ooo:"), F.col("event_id").cast("string"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        % 600_000_000
    )
    return ev.filter(F.col("user_id").isNotNull()).select(
        "event_id", "user_id", "event_type",
        t.alias("t"), (t + delay).alias("arrival"),
    )


def out_of_order_census(l: DataFrame) -> DataFrame:
    """Shared disorder-census finalization over the per-event
    (event_type, late_us) relation — one combinable type-grain agg."""
    return (
        l.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.count_if(F.col("late_us") > 0).cast("bigint").alias("n_late"),
            F.max("late_us").cast("bigint").alias("max_late_us"),
            F.expr(
                "percentile(CASE WHEN late_us > 0 THEN late_us END, 0.95)"
            ).alias("p95_late_us"),
        )
        .orderBy("event_type")
    )


ROLLING_CORR_ORACLE = """
    WITH e AS (
      SELECT event_type,
             CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT) AS day,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    daily AS (
      SELECT day,
             CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN cents END), 0)
                  AS BIGINT) AS x,
             CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN cents END), 0)
                  AS BIGINT) AS y
      FROM e GROUP BY day
    ),
    win AS (
      SELECT day, x, y,
             CAST(count(*) OVER w AS BIGINT) AS n,
             CAST(sum(x) OVER w AS BIGINT) AS sx,
             CAST(sum(y) OVER w AS BIGINT) AS sy,
             CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
             CAST(sum(y * y) OVER w AS BIGINT) AS syy,
             CAST(sum(x * y) OVER w AS BIGINT) AS sxy
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day, x, y, n,
           CASE WHEN n > 1
                 AND CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
                 AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0
           THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                   * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
           END AS corr7
    FROM win
    """


@graded("q_rolling_corr", oracle=ROLLING_CORR_ORACLE)
def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day Pearson correlation between two series (daily
    click vs purchase revenue) — the rolling JOINT-moment shape
    (co-movement monitoring: did the funnel decouple this week?),
    extending q_bollinger_bands' exact-integer rolling variance to the
    cross-moment. All six window sums are exact BIGINTs over a bounded
    rows frame on the dense daily grid; corr = one fixed double chain
    (n-scaled covariance over the product of two correctly-rounded
    sqrts) ⇒ bit-equal, with degenerate windows (n = 1 or a constant
    series) NULLed by CASE on both sides rather than risking 0/0.

    Overflow: daily cents ~5e7 at sf0.1 ⇒ x·y ~2.5e15/term, 7-term
    window sums ~2e16, n·sxy ~1.4e17 — the finalize products stay in
    DOUBLE per the round-11 lesson, and the BIGINT window sums
    themselves are safe to ~1e3× fixture volume (documented bound;
    dollars-quantize the daily grain beyond that).

    Scale: one combinable (day)-grain agg collapses the fact; the
    window runs on the bounded daily spine (SinglePartition by design —
    the kaplan_meier reduced-relation posture)."""
    ev = load_table(spark, sf_dir, "events")
    return rolling_corr_report(rolling_corr_daily(ev))


def rolling_corr_daily(ev: DataFrame) -> DataFrame:
    """The per-day (x, y) cents-sum relation — the sum-mergeable state
    of the rolling correlation (the streaming twin folds these per
    micro-batch; a day split across batches merges by addition, with
    the coalesce-to-0 preserved since a partial with only one series
    contributes 0 to the other)."""
    day = F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).cast("bigint")
    cents = F.floor(F.col("value") * 100).cast("bigint")
    return (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .select(F.col("event_type").alias("et"), day.alias("day"), cents.alias("cents"))
        .groupBy("day")
        .agg(
            F.coalesce(F.sum(F.when(F.col("et") == "click", F.col("cents"))), F.lit(0))
            .cast("bigint").alias("x"),
            F.coalesce(F.sum(F.when(F.col("et") == "purchase", F.col("cents"))), F.lit(0))
            .cast("bigint").alias("y"),
        )
    )


def rolling_corr_report(daily: DataFrame) -> DataFrame:
    """Shared trailing-7d correlation finalize over the folded daily
    relation: six exact BIGINT window moments on the bounded day spine,
    corr = one fixed double chain (finalize products in DOUBLE per the
    round-11 overflow doctrine)."""
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    win = daily.select(
        "day", "x", "y",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
        F.sum("x").over(w).cast("bigint").alias("sx"),
        F.sum("y").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("bigint").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    vx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vy = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    cov = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    corr = F.when(
        (F.col("n") > 1) & (vx > 0) & (vy > 0),
        cov / (F.sqrt(vx) * F.sqrt(vy)),
    )
    return win.select("day", "x", "y", "n", corr.alias("corr7"))


SPEARMAN_ORACLE = """
    WITH e AS (
      SELECT event_type,
             CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT) AS day,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    daily AS (
      SELECT day,
             CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN cents END), 0)
                  AS BIGINT) AS x,
             CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN cents END), 0)
                  AS BIGINT) AS y
      FROM e GROUP BY day
    ),
    r AS (
      SELECT CAST(2 * rank() OVER (ORDER BY x) + count(*) OVER (PARTITION BY x) - 1
                  AS BIGINT) AS r2x,
             CAST(2 * rank() OVER (ORDER BY y) + count(*) OVER (PARTITION BY y) - 1
                  AS BIGINT) AS r2y
      FROM daily
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r2x) AS BIGINT) AS sa, CAST(sum(r2y) AS BIGINT) AS sb,
             CAST(sum(r2x * r2x) AS BIGINT) AS saa,
             CAST(sum(r2y * r2y) AS BIGINT) AS sbb,
             CAST(sum(r2x * r2y) AS BIGINT) AS sab
      FROM r
    )
    SELECT n AS n_days,
           CASE WHEN n > 1
                 AND CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa > 0
                 AND CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb > 0
           THEN (CAST(n AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb)
                / (sqrt(CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa)
                   * sqrt(CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb))
           END AS rho
    FROM m
    """


@graded("q_spearman_corr", oracle=SPEARMAN_ORACLE)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between the daily click and purchase
    revenue series — the monotonic-association companion to
    q_rolling_corr's Pearson (robust to the heavy-tailed revenue
    distribution that dominates a Pearson estimate).

    TIES VIA DOUBLED MIDRANKS, the Mann-Whitney discipline: midrank =
    rank_min + (tied−1)/2 halves on ties, so the operator carries
    2·midrank = 2·rank() + tied − 1 — every rank statistic stays BIGINT
    through tie blocks, and the ½ factors cancel in the correlation.
    rho is then Pearson over the doubled ranks: exact BIGINT moments on
    the bounded daily relation, one token-identical double chain with
    degenerate (constant-series) windows NULLed by CASE ⇒ bit-equal.
    Overflow: Σr2² ≤ n·(2n)² = 4n³ — safe to ~1.3M days.

    Scale: the fact collapses to the day grain once; both rank windows
    and the moment agg run on the bounded calendar relation
    (SinglePartition by design — the kaplan_meier posture)."""
    ev = load_table(spark, sf_dir, "events")
    return spearman_report(rolling_corr_daily(ev))


def spearman_report(daily: DataFrame) -> DataFrame:
    """Shared Spearman finalize over the folded daily (day, x, y)
    relation: doubled-midrank windows + exact BIGINT moments + one
    token-identical double chain — rank statistics do not merge, the
    daily cents sums do."""
    r2x = (
        F.lit(2) * F.rank().over(Window.orderBy("x"))
        + F.count(F.lit(1)).over(Window.partitionBy("x"))
        - 1
    ).cast("bigint")
    r2y = (
        F.lit(2) * F.rank().over(Window.orderBy("y"))
        + F.count(F.lit(1)).over(Window.partitionBy("y"))
        - 1
    ).cast("bigint")
    r = daily.select(r2x.alias("r2x"), r2y.alias("r2y"))
    m = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r2x").cast("bigint").alias("sa"),
        F.sum("r2y").cast("bigint").alias("sb"),
        F.sum(F.col("r2x") * F.col("r2x")).cast("bigint").alias("saa"),
        F.sum(F.col("r2y") * F.col("r2y")).cast("bigint").alias("sbb"),
        F.sum(F.col("r2x") * F.col("r2y")).cast("bigint").alias("sab"),
    )
    nd = F.col("n").cast("double")
    va = nd * F.col("saa") - F.col("sa").cast("double") * F.col("sa")
    vb = nd * F.col("sbb") - F.col("sb").cast("double") * F.col("sb")
    cov = nd * F.col("sab") - F.col("sa").cast("double") * F.col("sb")
    rho = F.when((F.col("n") > 1) & (va > 0) & (vb > 0), cov / (F.sqrt(va) * F.sqrt(vb)))
    return m.select(F.col("n").alias("n_days"), rho.alias("rho"))


KENDALL_TAU_ORACLE = """
    WITH e AS (
      SELECT event_type,
             CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT) AS day,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    daily AS (
      SELECT day,
             CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN cents END), 0)
                  AS BIGINT) AS x,
             CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN cents END), 0)
                  AS BIGINT) AS y
      FROM e GROUP BY day
    ),
    pairs AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(count(*) FILTER ((a.x < b.x AND a.y < b.y)
                                OR (a.x > b.x AND a.y > b.y)) AS BIGINT) AS n_conc,
             CAST(count(*) FILTER ((a.x < b.x AND a.y > b.y)
                                OR (a.x > b.x AND a.y < b.y)) AS BIGINT) AS n_disc,
             CAST(count(*) FILTER (a.x = b.x AND a.y <> b.y) AS BIGINT) AS n_tie_x,
             CAST(count(*) FILTER (a.y = b.y AND a.x <> b.x) AS BIGINT) AS n_tie_y
      FROM daily a JOIN daily b ON a.day < b.day
    )
    SELECT n_pairs, n_conc, n_disc, n_tie_x, n_tie_y,
           CASE WHEN n_conc + n_disc + n_tie_x > 0 AND n_conc + n_disc + n_tie_y > 0
           THEN (CAST(n_conc AS DOUBLE) - CAST(n_disc AS DOUBLE))
                / (sqrt(CAST(n_conc + n_disc + n_tie_x AS DOUBLE))
                   * sqrt(CAST(n_conc + n_disc + n_tie_y AS DOUBLE)))
           END AS tau_b
    FROM pairs
    """


@graded("q_kendall_tau", oracle=KENDALL_TAU_ORACLE)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between the daily click and purchase revenue
    series — pairwise concordance with the tie correction, completing
    the correlation battery (Pearson = linear, Spearman = monotonic
    rank, Kendall = pairwise order agreement, the most
    outlier-insensitive of the three).

    Pair classes are PURE COMPARISONS — never the sign of
    (x1−x2)·(y1−y2), whose BIGINT product overflows at ~2.5e19 once
    daily cents reach 100× fixture volume (the finalize-product
    doctrine applied to a predicate). All counts exact BIGINTs from one
    pair agg; tau_b = (C−D)/(√(C+D+Tx)·√(C+D+Ty)) is one
    token-identical double chain, degenerate denominators NULLed.

    BOUNDED-CALENDAR CONTRACT (the theil_sen precedent): the self-join
    is quadratic in DAYS, not events — ~11k pairs on the 150-day
    fixture, ~6.7e10 at a millennium of days; beyond that, subsample
    the calendar or fall back to Spearman (computable in O(n log n))."""
    ev = load_table(spark, sf_dir, "events")
    return kendall_report(rolling_corr_daily(ev))


def kendall_report(daily: DataFrame) -> DataFrame:
    """Shared tau-b finalize over the folded daily (day, x, y) relation
    — pair concordance classes do not merge across batches (a pair's
    two days' sums are only final after every batch contributes), the
    daily cents sums do; the streaming twin folds those and shares
    KENDALL_TAU_ORACLE verbatim. The daily frame is localCheckpoint'd
    here (both pair-join sides read it)."""
    daily = daily.localCheckpoint()
    a = daily.select(
        F.col("day").alias("day_a"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("day").alias("day_b"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    xa, xb, ya, yb = F.col("xa"), F.col("xb"), F.col("ya"), F.col("yb")
    pairs = a.join(b, F.col("day_a") < F.col("day_b")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.count_if(((xa < xb) & (ya < yb)) | ((xa > xb) & (ya > yb)))
        .cast("bigint")
        .alias("n_conc"),
        F.count_if(((xa < xb) & (ya > yb)) | ((xa > xb) & (ya < yb)))
        .cast("bigint")
        .alias("n_disc"),
        F.count_if((xa == xb) & (ya != yb)).cast("bigint").alias("n_tie_x"),
        F.count_if((ya == yb) & (xa != xb)).cast("bigint").alias("n_tie_y"),
    )
    dx = (F.col("n_conc") + F.col("n_disc") + F.col("n_tie_x")).cast("double")
    dy = (F.col("n_conc") + F.col("n_disc") + F.col("n_tie_y")).cast("double")
    num = F.col("n_conc").cast("double") - F.col("n_disc").cast("double")
    tau = F.when((dx > 0) & (dy > 0), num / (F.sqrt(dx) * F.sqrt(dy)))
    return pairs.select(
        "n_pairs", "n_conc", "n_disc", "n_tie_x", "n_tie_y", tau.alias("tau_b")
    )


FORECAST_BASELINE_ORACLE = """
    WITH e AS (
      SELECT event_type,
             CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT) AS day,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    daily AS (
      SELECT event_type, day, CAST(sum(cents) AS BIGINT) AS a
      FROM e GROUP BY event_type, day
    ),
    mx AS (SELECT max(day) AS maxday FROM daily),
    ev AS (
      SELECT d.event_type, d.day, d.a, p.a AS p
      FROM daily d
      JOIN daily p ON p.event_type = d.event_type AND p.day = d.day - 7
      CROSS JOIN mx WHERE d.day > mx.maxday - 28
    ),
    terms AS (
      SELECT event_type, day, a, p,
             abs(a - p) AS abs_err,
             (a // 100 - p // 100) * (a // 100 - p // 100) AS sq_dollar,
             CASE WHEN a + p > 0
                  THEN 2.0 * CAST(abs(a - p) AS DOUBLE) / CAST(a + p AS DOUBLE)
                  ELSE 0.0 END AS smape_t
      FROM ev
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(abs_err) AS BIGINT) AS sum_abs_err,
           CAST(sum(abs_err) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mae_cents,
           sqrt(CAST(sum(sq_dollar) AS DOUBLE) / CAST(count(*) AS DOUBLE))
             AS rmse_dollars,
           sum(smape_t ORDER BY day) / CAST(count(*) AS DOUBLE) AS smape
    FROM terms GROUP BY event_type ORDER BY event_type
    """


@graded("q_forecast_baseline_eval", oracle=FORECAST_BASELINE_ORACLE)
def q_forecast_baseline_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest of the SEASONAL-NAIVE baseline (predict each
    day with the value 7 days earlier) over the last 28 days —
    MAE / RMSE / sMAPE per series. This is the eval the Holt /
    Holt-Winters operators must beat before anyone trusts them: a
    forecasting pipeline without a naive-baseline backtest is the
    classic silent failure (the model can lose to last-week's value
    and nobody notices).

    Exactness: Σ|a−p| is an exact BIGINT (mae one division). The
    squared-error sum is quantized to DOLLARS first — cents-grain
    (a−p)² reaches 2.5e19 per term at 100× daily volume (the
    covariance/chi² overflow class, pre-empted at design time); dollar
    diffs keep Σd² < 2^63 to ~1000×. sMAPE terms are exact-integer
    divisions folded in DAY order (sum ORDER BY / sorted-struct
    aggregate — the ordered-fold doctrine for engine-arbitrary double
    addition) ⇒ bit-equal, no rounding needed.

    Plan: one (type, day) combinable agg collapses the fact; the
    7-day-lag self-join and the 28-day filter run on the bounded,
    localCheckpoint'd daily relation (it feeds the lag probe, the lag
    build, and the max-day scalar — the multi-reader rule)."""
    ev = load_table(spark, sf_dir, "events")
    return forecast_baseline_report(forecast_eval_daily(ev))


def forecast_eval_daily(ev: DataFrame) -> DataFrame:
    """The per-(type, day) cents relation — the sum-mergeable state of
    the backtest (the streaming twin folds these per micro-batch)."""
    day = F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).cast("bigint")
    cents = F.floor(F.col("value") * 100).cast("bigint")
    return (
        ev.select("event_type", day.alias("day"), cents.alias("cents"))
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("bigint").alias("a"))
    )


def forecast_baseline_report(daily: DataFrame) -> DataFrame:
    """Shared seasonal-naive backtest finalize over the folded daily
    relation (checkpointed here — it feeds the lag probe, the lag
    build, and the max-day scalar)."""
    daily = daily.localCheckpoint()
    mx = daily.agg(F.max("day").alias("maxday"))
    p = daily.select(
        F.col("event_type").alias("et_p"),
        (F.col("day") + 7).alias("day_p"),
        F.col("a").alias("p"),
    )
    evl = (
        daily.join(
            p, (F.col("event_type") == F.col("et_p")) & (F.col("day") == F.col("day_p"))
        )
        .crossJoin(F.broadcast(mx))
        .filter(F.col("day") > F.col("maxday") - 28)
    )
    abs_err = F.abs(F.col("a") - F.col("p"))
    sq_dollar = (F.expr("a div 100") - F.expr("p div 100")) * (
        F.expr("a div 100") - F.expr("p div 100")
    )
    smape_t = F.when(
        F.col("a") + F.col("p") > 0,
        F.lit(2.0) * abs_err.cast("double") / (F.col("a") + F.col("p")).cast("double"),
    ).otherwise(F.lit(0.0))
    terms = evl.select(
        "event_type", "day",
        abs_err.alias("abs_err"), sq_dollar.alias("sq_dollar"), smape_t.alias("smape_t"),
    )
    n = F.count(F.lit(1))
    return (
        terms.groupBy("event_type")
        .agg(
            n.cast("bigint").alias("n_days"),
            F.sum("abs_err").cast("bigint").alias("sum_abs_err"),
            (F.sum("abs_err").cast("double") / n.cast("double")).alias("mae_cents"),
            F.sqrt(F.sum("sq_dollar").cast("double") / n.cast("double")).alias(
                "rmse_dollars"
            ),
            (
                F.aggregate(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(F.col("day").alias("d"), F.col("smape_t").alias("t"))
                            )
                        ),
                        lambda s: s["t"],
                    ),
                    F.lit(0.0),
                    lambda acc, t: acc + t,
                )
                / n.cast("double")
            ).alias("smape"),
        )
        .orderBy("event_type")
    )


GAP_REGULARITY_ORACLE = """
    WITH ordered AS (
      SELECT user_id, epoch_us(ts) AS t, event_id FROM events
    ),
    gaps AS (
      SELECT user_id,
             (t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id))
               // 1000000 AS g
      FROM ordered
    ),
    m AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT)     AS n,
             CAST(sum(g) AS BIGINT)       AS sg,
             CAST(sum(g * g) AS BIGINT)   AS qg
      FROM gaps WHERE g IS NOT NULL GROUP BY user_id
    ),
    fin AS (
      SELECT user_id, n, sg,
             CAST(sg AS DOUBLE) / n AS mean_g,
             greatest((CAST(qg AS DOUBLE) - CAST(sg AS DOUBLE) * sg / n)
                      / (n - 1), 0.0) AS var_g
      FROM m
    )
    SELECT user_id,
           n AS n_gaps,
           round(mean_g, 6) AS mean_gap_s,
           CASE WHEN n > 1 AND sg > 0
                THEN round(sqrt(var_g) / mean_g, 6) END AS cv,
           CASE WHEN n > 1 AND sg > 0
                THEN n >= 20 AND round(sqrt(var_g) / mean_g, 6) < 0.5
           END AS is_regular
    FROM fin
    """


@graded("q_gap_regularity", oracle=GAP_REGULARITY_ORACLE)
def q_gap_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap regularity per user — the bot / scripted-traffic
    detector: human activity has bursty, high-variance gaps
    (CV = std/mean well above 1); schedulers and scrapers fire on
    near-constant intervals (CV -> 0). Flag users with >= 20 gaps and
    CV < 0.5 as suspiciously regular — the per-user companion to
    q_out_of_order_audit's arrival census.

    Exactness: gaps quantize to integer SECONDS (micros div 1e6 — the
    micros-squared sum would overflow BIGINT at ~2e5 events/user;
    seconds-grain is safe past 1e9), ordered by (t, event_id) so tied
    timestamps cannot flip gap attribution between engines; per-user
    (n, sum, sum-of-squares) moments are exact BIGINTs; mean/cv are
    token-identical double chains with the variance FLOORED AT ZERO via
    greatest(var, 0.0) — an all-equal-gaps user's exact-zero variance
    lands as a tiny NEGATIVE double on both engines and sqrt would NaN
    (the q_jsd degenerate class, caught at design time). cv graded
    ROUNDED 6dp, is_regular derived from the ROUNDED value; n <= 1 or
    zero-sum gaps NULL cv/flag on both sides.

    Scale: ONE user-partitioned window (the sessionize exchange) + one
    combinable agg; output is user-grain. Skewed users route through
    the same salting gear as sessionize_auto if a celebrity user ever
    dominates."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("t"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    gaps = ev.select(
        "user_id", (F.col("t") - F.lag("t").over(w)).alias("dt")
    )
    gaps = gaps.filter(F.col("dt").isNotNull()).select(
        "user_id", F.expr("dt div 1000000").alias("g")
    )
    m = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("g").cast("bigint").alias("sg"),
        F.sum(F.col("g") * F.col("g")).cast("bigint").alias("qg"),
    )
    return gap_report(m)


def gap_report(m: DataFrame) -> DataFrame:
    """Shared gap-CV finalize over the per-user (n, sg, qg) gap
    moments — consumed by the batch query and the streaming twin's
    boundary-reconstructing fold."""
    mean_g = F.col("sg").cast("double") / F.col("n")
    var_g = F.greatest(
        (F.col("qg").cast("double") - F.col("sg").cast("double") * F.col("sg") / F.col("n"))
        / (F.col("n") - 1),
        F.lit(0.0),
    )
    fin = m.select(
        "user_id", "n", "sg", mean_g.alias("mean_g"), var_g.alias("var_g")
    )
    ok = (F.col("n") > 1) & (F.col("sg") > 0)
    cv = F.round(F.sqrt(F.col("var_g")) / F.col("mean_g"), 6)
    return fin.select(
        "user_id",
        F.col("n").alias("n_gaps"),
        F.round(F.col("mean_g"), 6).alias("mean_gap_s"),
        F.when(ok, cv).alias("cv"),
        F.when(ok, (F.col("n") >= 20) & (cv < 0.5)).alias("is_regular"),
    )


PAGE_HINKLEY_ORACLE = """
    WITH daily AS (
      SELECT CAST(date_diff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY d
    ),
    series AS (
      SELECT CAST(count(*) AS BIGINT) AS n_days,
             list(CAST(y AS DOUBLE) ORDER BY d) AS ys
      FROM daily
    ),
    folded AS (
      -- accumulator is a 5-list [t, cum, m, minm, ph], NOT a struct
      -- (the DuckDB struct-lambda aliasing gotcha); list_reduce seeds
      -- from the first element, so the zero state is list_prepend'ed
      SELECT n_days,
             list_reduce(
               list_prepend(
                 [CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                  CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                  CAST(0.0 AS DOUBLE)],
                 list_transform(ys, v -> [v, CAST(0.0 AS DOUBLE),
                                          CAST(0.0 AS DOUBLE),
                                          CAST(0.0 AS DOUBLE),
                                          CAST(0.0 AS DOUBLE)])
               ),
               (acc, x) -> [
                 acc[1] + 1.0,
                 acc[2] + x[1],
                 acc[3] + (x[1] - (acc[2] + x[1]) / (acc[1] + 1.0)),
                 least(acc[4],
                       acc[3] + (x[1] - (acc[2] + x[1]) / (acc[1] + 1.0))),
                 greatest(acc[5],
                          acc[3] + (x[1] - (acc[2] + x[1]) / (acc[1] + 1.0))
                          - least(acc[4],
                                  acc[3] + (x[1] - (acc[2] + x[1])
                                            / (acc[1] + 1.0))))
               ]
             ) AS st
      FROM series
    )
    SELECT n_days,
           round(st[3], 6) AS final_m,
           round(st[5], 6) AS ph_stat,
           round(st[5], 6) > 100.0 AS alarm
    FROM folded
    """


@graded("q_page_hinkley", oracle=PAGE_HINKLEY_ORACLE)
def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley mean-shift monitor over the daily order-count
    series — the classic SEQUENTIAL drift detector (the online sibling
    of q_changepoint_detect's offline argmax): m_T = sum_t (x_t -
    xbar_t), M_T = min m_t, PH = max_T (m_T - M_T); an upward mean
    shift makes m climb away from its historical minimum. delta = 0,
    demo threshold lambda = 100 (daily-count units, mirrored literal).

    A running-mean recurrence is inherently SEQUENTIAL (xbar_t depends
    on t), so the graded contract is the FOLD itself — the forecast_
    holt doctrine: both engines run the token-identical recurrence over
    the day-ordered list (Spark F.aggregate with a struct accumulator;
    DuckDB list_reduce with a 5-LIST accumulator [t, cum, m, minm, ph]
    — the struct-lambda aliasing gotcha — and a list_prepend'ed zero
    state since list_reduce seeds from the first element). Every
    division cum/t is exact-int-to-double, every step deterministic,
    so the fold is bit-equal; graded ROUNDED 6dp anyway, alarm from
    the rounded value.

    Scale: the fact collapses to the bounded day calendar in one
    combinable agg; the fold runs on ~|days| values driver-free."""
    from noaa_etl_spark.queries.temporal import changepoint_daily

    orders = load_table(spark, sf_dir, "orders")
    return page_hinkley_finalize(changepoint_daily(orders))


def page_hinkley_finalize(daily: DataFrame) -> DataFrame:
    """Shared PH finalize: the token-identical sequential fold over the
    day-ordered (d, y) relation."""
    series = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "y"))),
            lambda s: s["y"].cast("double"),
        ).alias("ys"),
    )

    def step(acc, x):
        newt = acc["t"] + F.lit(1.0)
        newcum = acc["cum"] + x
        m2 = acc["m"] + (x - newcum / newt)
        minm2 = F.least(acc["minm"], m2)
        ph2 = F.greatest(acc["ph"], m2 - minm2)
        return F.struct(
            newt.alias("t"),
            newcum.alias("cum"),
            m2.alias("m"),
            minm2.alias("minm"),
            ph2.alias("ph"),
        )

    acc0 = F.struct(
        F.lit(0.0).alias("t"),
        F.lit(0.0).alias("cum"),
        F.lit(0.0).alias("m"),
        F.lit(0.0).alias("minm"),
        F.lit(0.0).alias("ph"),
    )
    folded = series.select(
        "n_days", F.aggregate("ys", acc0, step).alias("st")
    )
    ph_r = F.round(F.col("st.ph"), 6)
    return folded.select(
        "n_days",
        F.round(F.col("st.m"), 6).alias("final_m"),
        ph_r.alias("ph_stat"),
        (ph_r > 100.0).alias("alarm"),
    )


TIME_TO_CONVERT_ORACLE = """
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)     AS t_view,
             min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)    AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
      FROM events GROUP BY user_id
    ),
    lat AS (
      SELECT stage, lat_s FROM (
        SELECT 'view_to_click' AS stage,
               (t_click - t_view) // 1000000 AS lat_s
        FROM firsts WHERE t_view IS NOT NULL AND t_click IS NOT NULL
                      AND t_click >= t_view
        UNION ALL
        SELECT 'click_to_purchase' AS stage,
               (t_purchase - t_click) // 1000000 AS lat_s
        FROM firsts WHERE t_click IS NOT NULL AND t_purchase IS NOT NULL
                      AND t_purchase >= t_click
      )
    )
    SELECT stage,
           CAST(count(*) AS BIGINT) AS n_converted,
           round(quantile_cont(lat_s, 0.5), 6) AS median_s,
           round(quantile_cont(lat_s, 0.9), 6) AS p90_s
    FROM lat GROUP BY stage ORDER BY stage
    """


@graded("q_funnel_time_to_convert", oracle=TIME_TO_CONVERT_ORACLE)
def q_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution per funnel stage — the latency
    companion to q_funnel's conversion COUNTS (product teams tune the
    step whose p90 latency blows up, not just the step where users
    drop): per user the FIRST occurrence of each stage, the
    view->click and click->purchase latencies in integer seconds
    (micros div 1e6 — first-touch ordering only counts forward
    progressions), then exact median/p90 per stage.

    Exactness: first-touch timestamps are exact min-aggregates;
    latencies are integer seconds; F.percentile over integers is
    bit-equal to quantile_cont (the established parity), rounded 6dp
    for display. Users missing a stage (or converting out of order)
    are excluded by mirrored NULL/ordering guards.

    Scale: fact -> user grain in one combinable FILTER-min agg (the
    funnel posture); latencies stack to a (stage, lat) relation and
    the exact percentile runs per stage (two groups)."""
    ev = load_table(spark, sf_dir, "events")
    return ttc_report(ttc_firsts(ev))


def ttc_firsts(ev: DataFrame) -> DataFrame:
    """Per-user first-touch timestamps per stage — the MIN-mergeable
    time-to-convert state (a later batch can only LOWER a first touch,
    the heaps word-firsts merge class)."""
    t = F.unix_micros("ts")
    return ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", t)).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", t)).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", t)).alias("t_purchase"),
    )


def ttc_report(firsts: DataFrame) -> DataFrame:
    """Shared time-to-convert finalize over the folded first-touch
    relation."""
    vc = firsts.filter(
        F.col("t_view").isNotNull()
        & F.col("t_click").isNotNull()
        & (F.col("t_click") >= F.col("t_view"))
    ).select(
        F.lit("view_to_click").alias("stage"),
        F.expr("(t_click - t_view) div 1000000").alias("lat_s"),
    )
    cp = firsts.filter(
        F.col("t_click").isNotNull()
        & F.col("t_purchase").isNotNull()
        & (F.col("t_purchase") >= F.col("t_click"))
    ).select(
        F.lit("click_to_purchase").alias("stage"),
        F.expr("(t_purchase - t_click) div 1000000").alias("lat_s"),
    )
    lat = vc.unionByName(cp)
    return (
        lat.groupBy("stage")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_converted"),
            F.round(F.percentile("lat_s", F.lit(0.5)), 6).alias("median_s"),
            F.round(F.percentile("lat_s", F.lit(0.9)), 6).alias("p90_s"),
        )
        .orderBy("stage")
    )


SLO_BURN_ORACLE = """
    WITH hourly AS (
      SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour_idx,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_err
      FROM events GROUP BY hour_idx
    ),
    windows AS (
      SELECT hour_idx, n, n_err,
             CAST(sum(n) OVER (ORDER BY hour_idx
               RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT)   AS n_6h,
             CAST(sum(n_err) OVER (ORDER BY hour_idx
               RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT)   AS err_6h
      FROM hourly
    )
    SELECT hour_idx, n, n_err,
           round(CAST(n_err AS DOUBLE) / n / 0.22, 6)       AS burn_1h,
           round(CAST(err_6h AS DOUBLE) / n_6h / 0.22, 6)   AS burn_6h,
           round(CAST(n_err AS DOUBLE) / n / 0.22, 6) > 1.0
             AND round(CAST(err_6h AS DOUBLE) / n_6h / 0.22, 6) > 1.0
             AS page_alert
    FROM windows ORDER BY hour_idx
    """


@graded("q_error_budget_slo", oracle=SLO_BURN_ORACLE)
def q_error_budget_slo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget burn-rate alerting — the Google-SRE multiwindow
    pattern: page only when BOTH the fast (1h) and slow (6h trailing)
    burn rates exceed 1.0x of the 22% error budget, so a one-hour blip
    doesn't page but a sustained burn does. The standard production
    alerting shape for any availability SLO.

    Exactness: hourly (n, n_err) counts are exact BIGINTs from one
    combinable agg on the integer hour index (epoch-micros div 3.6e9);
    the 6h trailing sums are RANGE windows over the hour axis (hour
    gaps handled by value-range, not row-count); burn rates are one
    division each graded ROUNDED 6dp, and the page flag derives from
    the ROUNDED burns on both sides.

    Scale: fact -> bounded hour calendar in one agg; windows on the
    ~|hours| relation."""
    ev = load_table(spark, sf_dir, "events")
    return slo_report(slo_hourly(ev))


def slo_hourly(ev: DataFrame) -> DataFrame:
    """The (hour, n, n_err) rollup — the SUM-mergeable SLO state."""
    hour_idx = F.expr("unix_micros(ts) div 3600000000")
    return ev.groupBy(hour_idx.alias("hour_idx")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_if(F.col("event_type") == "error").cast("bigint").alias("n_err"),
    )


def slo_report(hourly: DataFrame) -> DataFrame:
    """Shared burn-rate finalize over the folded hourly relation."""
    w6 = Window.orderBy("hour_idx").rangeBetween(-5, 0)
    windows = hourly.select(
        "hour_idx",
        "n",
        "n_err",
        F.sum("n").over(w6).cast("bigint").alias("n_6h"),
        F.sum("n_err").over(w6).cast("bigint").alias("err_6h"),
    )
    burn1 = F.round(F.col("n_err").cast("double") / F.col("n") / F.lit(0.22), 6)
    burn6 = F.round(
        F.col("err_6h").cast("double") / F.col("n_6h") / F.lit(0.22), 6
    )
    return windows.select(
        "hour_idx",
        "n",
        "n_err",
        burn1.alias("burn_1h"),
        burn6.alias("burn_6h"),
        ((burn1 > 1.0) & (burn6 > 1.0)).alias("page_alert"),
    ).orderBy("hour_idx")


SEASONALITY_STRENGTH_ORACLE = """
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day_idx,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY event_type, day_idx
    ),
    with_season AS (
      SELECT event_type, day_idx, y,
             CAST(sum(y) OVER (PARTITION BY event_type, (day_idx + 4) % 7)
                  AS DOUBLE)
               / count(*) OVER (PARTITION BY event_type, (day_idx + 4) % 7)
               AS smean
      FROM daily
    ),
    resid AS (
      SELECT event_type, day_idx, y, y - smean AS r FROM with_season
    ),
    folds AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT)       AS n,
             CAST(sum(y) AS BIGINT)         AS sy,
             CAST(sum(y * y) AS BIGINT)     AS syy,
             sum(r ORDER BY day_idx)        AS sr,
             sum(r * r ORDER BY day_idx)    AS srr
      FROM resid GROUP BY event_type
    ),
    fin AS (
      SELECT event_type, n,
             (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / n AS vd,
             (srr - sr * sr / n) / n                                 AS vr
      FROM folds
    )
    SELECT event_type, n AS n_days,
           CASE WHEN n > 1 THEN round(vd, 2) END AS var_daily,
           CASE WHEN n > 1 THEN round(vr, 2) END AS var_resid,
           CASE WHEN n > 1 AND vd > 0
                THEN round(greatest(0.0, 1.0 - vr / vd), 6) END AS strength
    FROM fin ORDER BY event_type
    """


@graded("q_seasonality_strength", oracle=SEASONALITY_STRENGTH_ORACLE)
def q_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strength-of-seasonality score per event type (Hyndman's F_s =
    max(0, 1 - Var(residual)/Var(series)) on the weekly decomposition)
    — the one-number answer to 'does this metric actually have a
    weekly cycle', gating whether dashboards should de-seasonalize and
    whether forecast models need the seasonal term. Complements
    q_seasonal_decompose (which emits the components) with the
    decision statistic.

    Exactness: daily totals are exact floor-cent BIGINTs; the seasonal
    mean is one division per (type, dow) window; residuals are
    bit-equal doubles, so their variance sums fold in DAY order (sum
    ORDER BY day_idx vs array_sort+aggregate — the unordered-float-sum
    doctrine) while the raw series variance uses exact BIGINT moments;
    strength (an O(1) ratio) is graded 6dp while the RAW variances are
    graded 2dp — at magnitude ~3e9 a 6dp rounding grain sits below one
    double ulp and the engines' rounding algorithms can disagree on the
    16th significant digit (caught live in the first sim: .756673 vs
    .756674); mirrored degenerate guards (n <= 1, zero variance).

    Scale: fact -> |types|x|days| daily relation in one combinable
    agg; windows and folds on the bounded relation."""
    ev = load_table(spark, sf_dir, "events")
    return seasonality_report(seasonality_daily(ev))


def seasonality_daily(ev: DataFrame) -> DataFrame:
    """The (type, day, cents) daily rollup — the SUM-mergeable
    seasonality state (the changepoint_daily class per type)."""
    day_idx = F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).cast("bigint")
    return (
        ev.select(
            "event_type",
            day_idx.alias("day_idx"),
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "day_idx")
        .agg(F.sum("cents").cast("bigint").alias("y"))
    )


def seasonality_report(daily: DataFrame) -> DataFrame:
    """Shared strength-of-seasonality finalize over the folded daily
    relation."""
    w_dow = Window.partitionBy("event_type", (F.col("day_idx") + 4) % 7)
    with_season = daily.select(
        "event_type",
        "day_idx",
        "y",
        (
            F.sum("y").over(w_dow).cast("double")
            / F.count(F.lit(1)).over(w_dow)
        ).alias("smean"),
    )
    resid = with_season.select(
        "event_type", "day_idx", "y", (F.col("y") - F.col("smean")).alias("r")
    )

    def _dfold(expr, name):
        return F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("day_idx").alias("d"), expr.alias("t")))
                ),
                lambda s: s["t"],
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ).alias(name)

    folds = resid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        _dfold(F.col("r"), "sr"),
        _dfold(F.col("r") * F.col("r"), "srr"),
    )
    vd = (
        F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / F.col("n")
    ) / F.col("n")
    vr = (F.col("srr") - F.col("sr") * F.col("sr") / F.col("n")) / F.col("n")
    fin = folds.select("event_type", "n", vd.alias("vd"), vr.alias("vr"))
    ok = F.col("n") > 1
    return fin.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.when(ok, F.round(F.col("vd"), 2)).alias("var_daily"),
        F.when(ok, F.round(F.col("vr"), 2)).alias("var_resid"),
        F.when(
            ok & (F.col("vd") > 0),
            F.round(F.greatest(F.lit(0.0), F.lit(1.0) - F.col("vr") / F.col("vd")), 6),
        ).alias("strength"),
    ).orderBy("event_type")


BOUNCE_RATE_ORACLE = """
    WITH e AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id))
                     > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM e
    ),
    sessions AS (
      SELECT user_id,
             CAST(sum(new_session) OVER (PARTITION BY user_id
               ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id,
             ts
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, session_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(floor(epoch_us(min(ts)) / 86400000000) AS BIGINT) AS day_idx
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT day_idx,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(*) FILTER (n_events = 1) AS BIGINT) AS n_bounce,
           round(CAST(count(*) FILTER (n_events = 1) AS DOUBLE)
                 / count(*), 6) AS bounce_rate
    FROM per_session GROUP BY day_idx ORDER BY day_idx
    """


@graded("q_bounce_rate", oracle=BOUNCE_RATE_ORACLE)
def q_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate — the canonical engagement KPI downstream of
    sessionization: the share of sessions (30-min gap, the shared
    sessionize contract) containing exactly ONE event, bucketed by the
    session's START day. Single-event sessions are the 'landed and
    left' signal every funnel review starts from.

    Exactness: sessions come from the shared sessionize operator
    ((ts, event_id) total order, gap > 30 min); per-session event
    counts and the start-day index are exact integers; the rate is one
    division graded ROUNDED 6dp.

    Scale: the sessionize exchange (one user window) + two combinable
    aggs riding the same partitioning; output is the bounded day
    calendar."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    sess = sessionize(ev, tiebreak_col="event_id")
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.floor(F.unix_micros(F.min("ts")) / F.lit(86_400_000_000))
        .cast("bigint")
        .alias("day_idx"),
    )
    return (
        per_session.groupBy("day_idx")
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


APDEX_ORACLE = """
    WITH scored AS (
      SELECT event_type,
             CASE WHEN value <= 50.0 THEN 1
                  WHEN value <= 200.0 THEN 2
                  ELSE 3 END AS band
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT)                    AS n,
           CAST(count(*) FILTER (band = 1) AS BIGINT)  AS n_satisfied,
           CAST(count(*) FILTER (band = 2) AS BIGINT)  AS n_tolerating,
           CAST(count(*) FILTER (band = 3) AS BIGINT)  AS n_frustrated,
           round((CAST(count(*) FILTER (band = 1) AS DOUBLE)
                  + CAST(count(*) FILTER (band = 2) AS DOUBLE) / 2.0)
                 / count(*), 6) AS apdex
    FROM scored GROUP BY event_type ORDER BY event_type
    """


@graded("q_apdex_score", oracle=APDEX_ORACLE)
def q_apdex_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apdex score per event type — the industry-standard user-
    satisfaction index over a latency-like measure (value read as ms):
    Apdex_T = (satisfied + tolerating/2) / total with the satisfied
    threshold T = 50 and the tolerating ceiling 4T = 200 (both fixed
    literals, mirrored). The single-number SLA companion to
    q_error_budget_slo's burn alerts.

    Exactness: band assignment is two literal comparisons; all counts
    exact BIGINTs in one combinable FILTER-agg; the score is a fixed
    double chain graded ROUNDED 6dp.

    Scale: one map-side-combinable agg; K-row output."""
    ev = load_table(spark, sf_dir, "events")
    band = (
        F.when(F.col("value") <= 50.0, 1)
        .when(F.col("value") <= 200.0, 2)
        .otherwise(3)
    )
    scored = ev.select("event_type", band.alias("band"))
    sat = F.count_if(F.col("band") == 1)
    tol = F.count_if(F.col("band") == 2)
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            sat.cast("bigint").alias("n_satisfied"),
            tol.cast("bigint").alias("n_tolerating"),
            F.count_if(F.col("band") == 3).cast("bigint").alias("n_frustrated"),
            F.round(
                (sat.cast("double") + tol.cast("double") / F.lit(2.0))
                / F.count(F.lit(1)),
                6,
            ).alias("apdex"),
        )
        .orderBy("event_type")
    )
