"""ETL-load graded queries: merge/upsert and SCD2 dimension history
(SURVEY.md §1.1 'load' leg; operators/merge.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from noaa_etl_spark.io import load_table
from noaa_etl_spark.operators.merge import merge_upsert, scd2_intervals
from noaa_etl_spark.registry import graded


@graded(
    "q_merge_upsert",
    oracle="""
    WITH source AS (
      SELECT c_custkey, 0.0 AS c_acctbal, 'RECOVERED' AS c_mktsegment
      FROM customer WHERE c_acctbal < 0
      UNION ALL
      SELECT c_custkey + 10000000 AS c_custkey, 100.0 AS c_acctbal,
             'NEW' AS c_mktsegment
      FROM customer WHERE c_custkey <= 5
    ),
    merged AS (
      SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
      WHERE c_custkey NOT IN (SELECT c_custkey FROM source)
      UNION ALL
      SELECT * FROM source
    )
    SELECT c_mktsegment,
           count(*)                                  AS n_rows,
           CAST(sum(floor(c_acctbal)) AS BIGINT)     AS floor_balance,
           min(c_custkey)                            AS min_key,
           max(c_custkey)                            AS max_key
    FROM merged
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replace-or-insert by key: negative-balance customers are replaced
    with zeroed 'RECOVERED' rows, plus five brand-new keys inserted —
    then summarized. The oracle replays the same merge relationally."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    updates = cust.filter(F.col("c_acctbal") < 0).select(
        "c_custkey",
        F.lit(0.0).alias("c_acctbal"),
        F.lit("RECOVERED").alias("c_mktsegment"),
    )
    inserts = cust.filter(F.col("c_custkey") <= 5).select(
        (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
        F.lit(100.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
    )
    merged = merge_upsert(cust, updates.unionByName(inserts), ["c_custkey"])
    return (
        merged.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.floor("c_acctbal").cast("bigint")).alias("floor_balance"),
            F.min("c_custkey").alias("min_key"),
            F.max("c_custkey").alias("max_key"),
        )
        .orderBy("c_mktsegment")
    )


@graded(
    "q_incremental_agg",
    oracle="""
    SELECT o_orderpriority,
           count(*)                               AS n_rows,
           CAST(sum(floor(o_totalprice)) AS BIGINT) AS total,
           min(CAST(floor(o_totalprice) AS BIGINT)) AS min_value,
           max(CAST(floor(o_totalprice) AS BIGINT)) AS max_value,
           CASE WHEN count(o_totalprice) > 0
                THEN CAST(sum(floor(o_totalprice)) AS BIGINT) / count(o_totalprice)
           END AS avg_value
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance: build aggregate state on the
    pre-1998 slice, fold in the 1998+ delta as a separate state, and
    finalize — the oracle recomputes from scratch, so the hash match
    proves fold(state(old), state(delta)) == full recompute."""
    from noaa_etl_spark.io import ntz_lit
    from noaa_etl_spark.operators.incremental import agg_state, finalize, merge_states

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderdate",
        F.floor("o_totalprice").cast("bigint").alias("fp"),
    )
    cutoff = ntz_lit("1998-01-01")
    old_state = agg_state(orders.filter(F.col("o_orderdate") < cutoff), ["o_orderpriority"], "fp")
    delta_state = agg_state(orders.filter(F.col("o_orderdate") >= cutoff), ["o_orderpriority"], "fp")
    merged = merge_states(old_state, delta_state)
    return finalize(merged.drop("o_orderdate", "fp")).orderBy("o_orderpriority")


@graded(
    "q_scd2_intervals",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE event_type = 'signup'
    )
    SELECT user_id, event_id,
           ts                                                    AS valid_from,
           lead(ts)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           lead(ts)  OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
    FROM e
    ORDER BY user_id, valid_from, event_id
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 build: each signup event opens a validity interval
    closed by the user's next signup (NULL = current version)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    hist = scd2_intervals(
        ev.select("event_id", "user_id", "ts", "value"),
        keys=["user_id"],
        ts_col="ts",
        tiebreak="event_id",
    )
    return hist.select(
        "user_id", "event_id", "valid_from", "valid_to", "is_current"
    ).orderBy("user_id", "valid_from", "event_id")


@graded(
    "q_incremental_dedup",
    oracle="""
    WITH history AS (
      SELECT * FROM documents WHERE doc_id % 3 <> 0
    ),
    incoming AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, text FROM history WHERE doc_id % 7 = 0
    ),
    seen AS (SELECT DISTINCT md5(text) AS h FROM history),
    inc AS (SELECT doc_id, md5(text) AS h FROM incoming)
    SELECT inc.doc_id, inc.h AS text_hash
    FROM inc ANTI JOIN seen ON inc.h = seen.h
    ORDER BY inc.doc_id
    """,
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch incremental dedup: an incoming batch (fresh docs plus
    a deterministic replay of history docs — the re-crawl scenario) is
    anti-joined by content hash against the signature store of
    everything already ingested; only genuinely-new content survives.
    This is the nightly-ingest form of dedup — the full-corpus groupBy
    (q_dedup_exact) is the bootstrap, this is every run after it.

    100 TB: the signature store holds 16-byte hashes, not text; the
    anti-join shuffles on the hash key. In production the store is
    bucketed by hash so the nightly anti-join co-locates without a
    store-side shuffle (tests/test_scale.py shows the bucketed-join
    mechanics); the incoming batch is the only side that moves.
    """
    docs = load_table(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") % 3 != 0)
    incoming = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text").unionAll(
        history.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text")
    )
    seen = history.select(
        F.md5(F.col("text").cast("binary")).alias("h")
    ).distinct()
    inc = incoming.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("h")
    )
    return (
        inc.join(seen, "h", "left_anti")
        .select("doc_id", F.col("h").alias("text_hash"))
        .orderBy("doc_id")
    )


@graded(
    "q_referential_audit",
    oracle="""
    SELECT
      CAST(count(*) FILTER (e.vec_id IS NULL) AS BIGINT)  AS docs_without_embedding,
      CAST(count(*) FILTER (d.doc_id IS NULL) AS BIGINT)  AS embeddings_without_doc,
      CAST(count(*) FILTER (d.doc_id IS NOT NULL AND e.vec_id IS NOT NULL) AS BIGINT)
        AS matched
    FROM documents d
    FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def q_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit between the text corpus and its
    embedding table: docs missing embeddings (never indexed), embeddings
    whose doc was deleted (stale index entries), and the matched core —
    the consistency check every corpus⇄index pair needs after
    independent batch updates.

    100 TB: one full-outer join on the id key (both sides shuffle once;
    co-partitioned if both are bucketed by id) feeding a single
    map-side-combinable count row."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    j = docs.join(emb, docs.doc_id == emb.vec_id, "full_outer")
    return j.agg(
        F.count(F.when(F.col("vec_id").isNull(), 1)).alias("docs_without_embedding"),
        F.count(F.when(F.col("doc_id").isNull(), 1)).alias("embeddings_without_doc"),
        F.count(
            F.when(F.col("doc_id").isNotNull() & F.col("vec_id").isNotNull(), 1)
        ).alias("matched"),
    )


@graded(
    "q_table_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
    ), gated AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority,
             substr(md5('diff:' || CAST(o_orderkey AS VARCHAR)), 1, 2) AS g
      FROM orders
    ), new AS (
      -- deleted: g < '15'; changed price: '15' <= g < '30';
      -- changed priority: '30' <= g < '40'; rest unchanged
      SELECT o_orderkey,
             CASE WHEN g >= '15' AND g < '30'
                  THEN floor(o_totalprice * 110) / 100 ELSE o_totalprice END
               AS o_totalprice,
             CASE WHEN g >= '30' AND g < '40'
                  THEN '9-RECLASSIFIED' ELSE o_orderpriority END
               AS o_orderpriority
      FROM gated WHERE g >= '15'
      UNION ALL
      SELECT o_orderkey + 1000000000, 0.0, '0-NEW'
      FROM gated WHERE g >= 'f8'
    ), j AS (
      SELECT coalesce(o.o_orderkey, n.o_orderkey) AS key,
             o.o_orderkey IS NULL AS is_added,
             n.o_orderkey IS NULL AS is_removed,
             o.o_totalprice IS DISTINCT FROM n.o_totalprice AS price_chg,
             o.o_orderpriority IS DISTINCT FROM n.o_orderpriority AS prio_chg
      FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    )
    SELECT CASE WHEN is_added THEN 'added'
                WHEN is_removed THEN 'removed'
                WHEN price_chg OR prio_chg THEN 'changed'
                ELSE 'unchanged' END AS status,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN NOT is_added AND NOT is_removed AND price_chg
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_price_changed,
           CAST(sum(CASE WHEN NOT is_added AND NOT is_removed AND prio_chg
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_priority_changed
    FROM j
    GROUP BY 1
    ORDER BY status
    """,
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two pipeline versions of a table — the
    regression-comparison report (added / removed / changed / unchanged
    with per-column change attribution) every ETL migration runs before
    cutting over. The "new version" is synthesized deterministically
    from orders by md5 gate (delete ~8%, reprice ~10%, reclassify ~6%,
    append ~3% new keys) so both engines diff identical inputs; the
    diff logic itself — full outer join on the key, null-safe
    IS DISTINCT FROM per column — is what is graded.

    100 TB: one full-outer join co-partitioned on the key (both sides
    shuffle once; bucketed tables would make it exchange-free) and a
    tiny status agg; per-column attribution is expression-only on the
    joined row. Null-safe comparison (eqNullSafe) is the part hand
    rolled diffs get wrong — NULL→value transitions count as changes.
    """
    orders = load_table(spark, sf_dir, "orders")
    old = orders.select("o_orderkey", "o_totalprice", "o_orderpriority")
    g = F.substring(
        F.md5(F.concat(F.lit("diff:"), F.col("o_orderkey").cast("string"))), 1, 2
    )
    gated = old.withColumn("g", g)
    modified = gated.filter(F.col("g") >= "15").select(
        "o_orderkey",
        F.when(
            (F.col("g") >= "15") & (F.col("g") < "30"),
            F.floor(F.col("o_totalprice") * 110) / 100,
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        F.when((F.col("g") >= "30") & (F.col("g") < "40"), "9-RECLASSIFIED")
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    )
    appended = gated.filter(F.col("g") >= "f8").select(
        (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
        F.lit(0.0).alias("o_totalprice"),
        F.lit("0-NEW").alias("o_orderpriority"),
    )
    new = modified.unionByName(appended)

    o = old.alias("o")
    n = new.alias("n")
    j = o.join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full").select(
        F.col("o.o_orderkey").isNull().alias("is_added"),
        F.col("n.o_orderkey").isNull().alias("is_removed"),
        (~F.col("o.o_totalprice").eqNullSafe(F.col("n.o_totalprice"))).alias(
            "price_chg"
        ),
        (
            ~F.col("o.o_orderpriority").eqNullSafe(F.col("n.o_orderpriority"))
        ).alias("prio_chg"),
    )
    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")
    return (
        j.select(
            F.when(F.col("is_added"), "added")
            .when(F.col("is_removed"), "removed")
            .when(F.col("price_chg") | F.col("prio_chg"), "changed")
            .otherwise("unchanged")
            .alias("status"),
            "is_added",
            "is_removed",
            "price_chg",
            "prio_chg",
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(
                    ~F.col("is_added") & ~F.col("is_removed") & F.col("price_chg"),
                    one,
                ).otherwise(zero)
            ).alias("n_price_changed"),
            F.sum(
                F.when(
                    ~F.col("is_added") & ~F.col("is_removed") & F.col("prio_chg"),
                    one,
                ).otherwise(zero)
            ).alias("n_priority_changed"),
        )
        .orderBy("status")
    )


STATS_MERGE_ORACLE = """
    WITH e AS (
      SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    st AS (
      SELECT event_type,
             count(*) AS n,
             count(cents) AS nn,
             CAST(sum(cents) AS BIGINT)          AS s,
             CAST(sum(cents * cents) AS BIGINT)  AS s2
      FROM e GROUP BY event_type
    )
    SELECT event_type,
           n AS n_rows,
           CASE WHEN nn > 0 THEN CAST(s AS DOUBLE) / nn END AS mean_value,
           CASE WHEN nn > 0 THEN (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / nn) / nn END AS var_pop,
           CASE WHEN nn > 0 THEN sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / nn) / nn) END AS std_pop
    FROM st
    ORDER BY event_type
"""


@graded("q_incremental_stats_merge", oracle=STATS_MERGE_ORACLE)
def q_incremental_stats_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental *second-moment* maintenance: per-type mean/variance/
    stddev kept as mergeable (n, Σv, Σv²) BIGINT state over floor-cents —
    the old half-month and the new half-month build state separately,
    fold with pure integer addition, and finalize. The oracle recomputes
    from scratch, so the hash match proves fold == recompute INCLUDING
    the derived floats (one fixed expression over identical integers ⇒
    bit-equal doubles; sqrt is correctly rounded by both engines).

    This is the sketch-free path to streaming/batch-incremental quality
    dashboards at 100 TB: state is one row per key; each load shuffles
    only the delta's partial states. Overflow contract documented in
    operators/incremental.py (cents ≤ 5·10⁴ here)."""
    from noaa_etl_spark.io import ntz_lit
    from noaa_etl_spark.operators.incremental import (
        finalize_stats,
        merge_stats_states,
        stats_state,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    mid = ntz_lit("2024-01-16")
    old_state = stats_state(ev.filter(F.col("ts") < mid), ["event_type"], "cents")
    new_state = stats_state(ev.filter(F.col("ts") >= mid), ["event_type"], "cents")
    merged = merge_stats_states(old_state, new_state)
    return finalize_stats(merged.drop("ts", "cents")).orderBy("event_type")


@graded(
    "q_linear_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT) - 19723 AS x,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events
      GROUP BY event_type, 2
    ),
    sums AS (
      SELECT event_type,
             count(*)                        AS n,
             CAST(sum(x) AS BIGINT)          AS sx,
             CAST(sum(y) AS BIGINT)          AS sy,
             CAST(sum(x * y) AS BIGINT)      AS sxy,
             CAST(sum(x * x) AS BIGINT)      AS sxx
      FROM daily GROUP BY event_type
    )
    SELECT event_type,
           n AS n_days,
           CASE WHEN n * sxx - sx * sx <> 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx)
           END AS slope_cents_per_day,
           CASE WHEN n * sxx - sx * sx <> 0
                THEN (sy - CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx) * sx) / n
           END AS intercept_cents
    FROM sums
    ORDER BY event_type
    """,
)
def q_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key linear trend (least-squares slope/intercept of daily
    revenue vs day index) computed from ALGEBRAIC integer sums —
    n, Σx, Σy, Σxy, Σx² — instead of regr_slope/corr, whose double
    accumulators are accumulation-order-sensitive and would hash-differ
    across engines/partitionings. Day index is re-based (x = days since
    2024-01-01) so every product stays far inside BIGINT; the closed
    form `(nΣxy − ΣxΣy)/(nΣxx − ΣxΣx)` is one double expression over
    identical integers ⇒ bit-equal cross-engine. The same trick is the
    100 TB answer to trend dashboards: a single map-side-combinable
    pass, mergeable state (these five sums fold like
    operators/incremental.stats_state), no second scan, no UDF."""
    ev = load_table(spark, sf_dir, "events")
    day_x = (
        F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).cast("bigint")
        - F.lit(19723)
    )
    daily = (
        ev.select(
            "event_type",
            day_x.alias("x"),
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "x")
        .agg(F.sum("cents").alias("y"))
    )
    sums = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    # Degenerate group guard: an event_type seen on exactly ONE distinct
    # day has n·Σxx − (Σx)² = 0, and under ANSI mode the unguarded double
    # division throws DIVIDE_BY_ZERO and kills the whole query. The
    # guarded branch yields NULL slope/intercept (no trend is definable
    # from one point) — the oracle mirrors with CASE WHEN.
    denom = n * sxx - sx * sx
    slope = F.when(denom != 0, (n * sxy - sx * sy).cast("double") / denom)
    return sums.select(
        "event_type",
        n.alias("n_days"),
        slope.alias("slope_cents_per_day"),
        F.when(denom != 0, (sy - slope * sx) / n).alias("intercept_cents"),
    ).orderBy("event_type")


@graded(
    "q_distinct_rollup_exact",
    oracle="""
    SELECT CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000 / 7) AS BIGINT) AS week_idx,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY 1
    ORDER BY week_idx
    """,
)
def q_distinct_rollup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-user rollup maintained from MERGEABLE per-day set
    state: each day's state is its sorted distinct-user array (the
    bitmap-index pattern with arrays standing in for roaring bitmaps);
    the weekly rollup folds daily states with set union instead of
    rescanning events — and the oracle recomputes count(DISTINCT) from
    raw events, so the hash match proves fold(day states) == recompute,
    the exact-cardinality sibling of q_hll_sketch_union's sketch fold
    (same maintenance pattern, zero error, per-key-cardinality-bounded
    state instead of fixed-size).

    100 TB: daily state size is bounded by per-day distinct users, not
    events (the first agg is map-side combinable on (day, user)); the
    weekly fold shuffles state arrays once. When per-key cardinality
    outgrows memory the documented swap is the HLL twin — this pair of
    queries IS that trade, measured.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    day = F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).cast("bigint")
    daily_state = (
        ev.select(day.alias("day_idx"), "user_id", "event_id")
        .groupBy("day_idx")
        .agg(
            F.collect_set("user_id").alias("users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    folded = (
        daily_state.select(
            F.floor(F.col("day_idx") / 7).cast("bigint").alias("week_idx"),
            "users",
            "n_events",
        )
        .groupBy("week_idx")
        .agg(
            F.size(F.array_distinct(F.flatten(F.collect_list("users")))).cast(
                "bigint"
            ).alias("n_users"),
            F.sum("n_events").alias("n_events"),
        )
    )
    return folded.orderBy("week_idx")


# Shared by q_cdc_apply and its streaming twin: the changelog fold is
# per-key argmax over a UNIQUE total-order sequence, so any batching of
# the log folds to the same final state and the twin grades against the
# identical SQL.
CDC_APPLY_ORACLE = """
    WITH log AS (
      SELECT o_orderkey AS seq, o_custkey AS key,
             CASE WHEN substr(md5('cdc:' || CAST(o_orderkey AS VARCHAR)), 1, 1) < '2'
                  THEN 'D' ELSE 'U' END AS op,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS new_bal_cents
      FROM orders
    ),
    latest AS (
      SELECT key,
             arg_max(op, seq)            AS op,
             arg_max(new_bal_cents, seq) AS new_bal_cents,
             CAST(max(seq) AS BIGINT)    AS last_seq
      FROM log GROUP BY key
    )
    SELECT COALESCE(c.c_custkey, l.key) AS key,
           CASE WHEN l.key IS NULL THEN CAST(floor(c.c_acctbal * 100) AS BIGINT)
                ELSE l.new_bal_cents END AS bal_cents,
           CASE WHEN l.key IS NULL THEN 'unchanged'
                WHEN c.c_custkey IS NULL THEN 'inserted'
                ELSE 'updated' END AS status,
           l.last_seq
    FROM customer c FULL JOIN latest l ON c.c_custkey = l.key
    WHERE l.key IS NULL OR l.op <> 'D'
    """


def cdc_apply(base: DataFrame, latest: DataFrame) -> DataFrame:
    """Apply a folded latest-change-per-key view onto a base snapshot
    with full Debezium upsert semantics: an upsert for a key ABSENT
    from the base INSERTS it (status 'inserted'); a delete for an
    absent key is a no-op. Shared by q_cdc_apply and its streaming
    twin so both grade against the identical oracle.

    `base` must have (c_custkey, c_acctbal); `latest` must have
    (key, op, new_bal_cents, last_seq). The full-outer join stays
    co-partitioned on the key exactly like the left-join form — the
    insert path costs nothing extra at scale.
    """
    joined = base.join(latest, base["c_custkey"] == latest["key"], "full_outer")
    return joined.filter(F.col("key").isNull() | (F.col("op") != "D")).select(
        F.coalesce(F.col("c_custkey"), F.col("key")).alias("key"),
        F.when(
            F.col("key").isNull(),
            F.floor(F.col("c_acctbal") * 100).cast("bigint"),
        )
        .otherwise(F.col("new_bal_cents"))
        .alias("bal_cents"),
        F.when(F.col("key").isNull(), F.lit("unchanged"))
        .when(F.col("c_custkey").isNull(), F.lit("inserted"))
        .otherwise(F.lit("updated"))
        .alias("status"),
        "last_seq",
    )


@graded("q_cdc_apply", oracle=CDC_APPLY_ORACLE)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture apply: fold an ordered changelog (upserts +
    deletes keyed by a unique sequence number) onto a base snapshot —
    the Debezium/binlog-consumer semantic that merge_upsert (one update
    set, no ordering, no deletes) does not cover. Last op per key wins;
    a final D removes the key; untouched base rows pass through; an
    upsert for a key absent from the base INSERTS it (full-outer
    apply — on this fixture the log's keys are FK-guaranteed ⊆ base so
    no row takes the insert path here; tests/test_etl.py proves it on
    synthetic data).

    The changelog is synthesized deterministically from orders (seq =
    o_orderkey — unique and totally ordered; ~12.5% deletes by md5
    nibble), so both engines replay the identical log.

    Exactness: the per-key fold is arg_max over the unique seq —
    deterministic with no tie rule needed — and all payloads are
    floor-cents BIGINTs.

    Scale design: the fold is ONE map-side-combinable max_by aggregate
    over the log (shuffles (key, op, cents, seq) rows — never the log
    payload twice); the apply is one co-partitioned FULL-OUTER join
    against the base (full outer can't broadcast, so this is a
    sort-merge join on the key — the standard CDC-merge shape, and the
    plan you'd run at 100 TB anyway where log >> base and neither side
    broadcasts). The alternative that keeps a broadcast (latest⟕base
    for updates/inserts ∪ base⟕̸latest for untouched) references both
    inputs twice — the double-plan smell — so the single-pass SMJ wins.
    No window, no per-op iteration: a month of binlog folds in a single
    agg regardless of how many times a key churned, and hot keys
    (celebrity rows updated millions of times) collapse map-side
    before the exchange.
    """
    base = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    log = cdc_changelog(spark, sf_dir)
    latest = log.groupBy("key").agg(
        F.max_by("op", "seq").alias("op"),
        F.max_by("new_bal_cents", "seq").alias("new_bal_cents"),
        F.max("seq").alias("last_seq"),
    )
    return cdc_apply(base, latest)


def cdc_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic synthetic changelog both CDC queries replay:
    (seq, key, op, new_bal_cents) derived from orders."""
    orders = load_table(spark, sf_dir, "orders")
    nib = F.substring(
        F.md5(F.concat(F.lit("cdc:"), F.col("o_orderkey").cast("string"))), 1, 1
    )
    return orders.select(
        F.col("o_orderkey").alias("seq"),
        F.col("o_custkey").alias("key"),
        F.when(nib < "2", F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("new_bal_cents"),
    )


@graded(
    "q_golden_record",
    oracle="""
    WITH replicas AS (
      SELECT c_custkey, r.seq,
             CASE WHEN substr(md5('gr_bal:' || CAST(c_custkey AS VARCHAR) || ':' || CAST(r.seq AS VARCHAR)), 1, 1) < '4'
                  THEN NULL ELSE CAST(floor(c_acctbal * 100) AS BIGINT) + r.seq END AS bal_cents,
             CASE WHEN substr(md5('gr_seg:' || CAST(c_custkey AS VARCHAR) || ':' || CAST(r.seq AS VARCHAR)), 1, 1) < '4'
                  THEN NULL ELSE c_mktsegment END AS segment,
             CASE WHEN substr(md5('gr_nam:' || CAST(c_custkey AS VARCHAR) || ':' || CAST(r.seq AS VARCHAR)), 1, 1) < '4'
                  THEN NULL ELSE c_name END AS name
      FROM customer CROSS JOIN (SELECT unnest([0, 1, 2]) AS seq) r
    )
    SELECT c_custkey AS key,
           arg_max(bal_cents, CASE WHEN bal_cents IS NULL THEN -1 ELSE seq END) AS golden_bal_cents,
           arg_max(segment,   CASE WHEN segment   IS NULL THEN -1 ELSE seq END) AS golden_segment,
           arg_max(name,      CASE WHEN name      IS NULL THEN -1 ELSE seq END) AS golden_name,
           CAST(count(bal_cents) AS BIGINT) AS n_bal_present,
           CAST(count(DISTINCT segment) AS BIGINT) AS n_segment_variants
    FROM replicas
    GROUP BY c_custkey
    """,
)
def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship MERGE (MDM golden record): three degraded replicas
    of each customer — fields independently NULLed by md5 gates and
    balances drifted per replica, the multi-source-ingest reality —
    are folded to one golden row by the per-ATTRIBUTE rule
    'latest non-null wins'. This completes the dedup story:
    q_dedup_survivor_policy picks one whole ROW per cluster; golden
    record composes the best value per COLUMN across the cluster
    (address from the CRM, balance from billing, name from signup).

    Exactness: each pick is arg_max over the encoded key
    (NULL → −1, else replica seq) — the same scalar-key encoding as
    dedup_survivor_policy; a −1 tie can only occur between NULL values
    so every tie is outcome-identical. Counts/variants are integers.

    Scale design: ONE map-side-combinable aggregate over the replica
    stream — no window, no per-attribute join: K attribute rules ride
    the same groupBy as K max_by expressions, so a 50-column golden
    record still costs one shuffle of (key, attrs). The replica
    explode is scan-local.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment", "c_name"
    )
    replicas = cust.crossJoin(
        F.broadcast(
            cust.sparkSession.range(3).select(F.col("id").cast("int").alias("seq"))
        )
    )

    def gate(tag: str):
        return F.substring(
            F.md5(
                F.concat(
                    F.lit(f"{tag}:"),
                    F.col("c_custkey").cast("string"),
                    F.lit(":"),
                    F.col("seq").cast("string"),
                )
            ),
            1,
            1,
        )

    degraded = replicas.select(
        "c_custkey",
        "seq",
        F.when(gate("gr_bal") < "4", F.lit(None)).otherwise(
            F.floor(F.col("c_acctbal") * 100).cast("bigint") + F.col("seq")
        ).alias("bal_cents"),
        F.when(gate("gr_seg") < "4", F.lit(None)).otherwise(
            F.col("c_mktsegment")
        ).alias("segment"),
        F.when(gate("gr_nam") < "4", F.lit(None)).otherwise(F.col("c_name")).alias(
            "name"
        ),
    )

    def pick(col: str):
        key = F.when(F.col(col).isNull(), F.lit(-1)).otherwise(F.col("seq"))
        return F.max_by(col, key)

    return degraded.groupBy(F.col("c_custkey").alias("key")).agg(
        pick("bal_cents").alias("golden_bal_cents"),
        pick("segment").alias("golden_segment"),
        pick("name").alias("golden_name"),
        F.count("bal_cents").cast("bigint").alias("n_bal_present"),
        F.countDistinct("segment").cast("bigint").alias("n_segment_variants"),
    )


@graded(
    "q_proration_largest_remainder",
    oracle="""
    WITH li AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
    ),
    ord AS (
      SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS total_cents
      FROM orders
    ),
    weighted AS (
      SELECT l_orderkey, l_linenumber, w, total_cents,
             CAST(sum(w) OVER (PARTITION BY l_orderkey) AS BIGINT) AS big_w
      FROM li JOIN ord ON l_orderkey = o_orderkey
    ),
    shares AS (
      SELECT l_orderkey, l_linenumber, w, total_cents,
             (total_cents * w) // big_w AS base,
             (total_cents * w) % big_w AS rem
      FROM weighted
    ),
    ranked AS (
      SELECT l_orderkey, l_linenumber, w, total_cents, base,
             CAST(row_number() OVER (PARTITION BY l_orderkey
                                     ORDER BY rem DESC, l_linenumber) AS BIGINT) AS rk,
             CAST(sum(base) OVER (PARTITION BY l_orderkey) AS BIGINT) AS sum_base
      FROM shares
    ),
    final AS (
      SELECT l_orderkey, l_linenumber, w,
             CAST(base + CASE WHEN rk <= total_cents - sum_base
                              THEN 1 ELSE 0 END AS BIGINT) AS alloc_cents
      FROM ranked
    )
    SELECT l_orderkey, CAST(l_linenumber AS INT) AS l_linenumber, w AS weight, alloc_cents
    FROM final
    """,
)
def q_proration_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Financial proration: split each order's total (in cents) across
    its lineitems proportional to quantity using the LARGEST-REMAINDER
    (Hamilton) method — the allocation every billing/revenue-recognition
    pipeline needs, where per-line amounts must be whole cents AND sum
    exactly back to the order total (no penny leakage).

    Exact integers end-to-end: base_i = (total·wᵢ) div W (true BIGINT
    division — `div`, never F.floor(x / y), whose DOUBLE intermediate
    is exact only below 2^53), and the leftover total − Σ base (which
    is < n lines) goes one cent each to the lines with the largest
    integer remainder (total·wᵢ) % W, ties broken by line number.
    Both engines evaluate the identical BIGINT expressions ⇒ exact up
    to products of 2^63: totals to ~10^14 cents × quantity 10^4.

    Scale: one co-partitioned join on the order key (both sides are
    order-grain facts — never broadcast), then ALL windows (ΣW,
    remainder rank, Σbase) share the l_orderkey partitioning ⇒ exactly
    one exchange per side; per-order group size is lineitems-per-order
    (bounded ~7 in TPC-H), so no reducer hot spot.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_linenumber").cast("int").alias("l_linenumber"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    ord_ = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("total_cents"),
    )
    j = li.join(ord_, "l_orderkey")
    w_ord = Window.partitionBy("l_orderkey")
    big_w = F.sum("w").over(w_ord).cast("bigint")
    num = F.col("total_cents") * F.col("w")
    shares = j.select(
        "l_orderkey",
        "l_linenumber",
        "w",
        "total_cents",
        num.alias("num"),
        big_w.alias("big_w"),
    ).select(
        "l_orderkey",
        "l_linenumber",
        "w",
        "total_cents",
        F.expr("num div big_w").cast("bigint").alias("base"),
        (F.col("num") % F.col("big_w")).cast("bigint").alias("rem"),
    )
    w_rank = Window.partitionBy("l_orderkey").orderBy(F.desc("rem"), F.asc("l_linenumber"))
    ranked = shares.select(
        "l_orderkey",
        "l_linenumber",
        "w",
        "total_cents",
        "base",
        F.row_number().over(w_rank).cast("bigint").alias("rk"),
        F.sum("base").over(w_ord).cast("bigint").alias("sum_base"),
    )
    return ranked.select(
        "l_orderkey",
        "l_linenumber",
        F.col("w").alias("weight"),
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("total_cents") - F.col("sum_base"), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("alloc_cents"),
    )


@graded(
    "q_entity_resolution",
    oracle="""
    WITH RECURSIVE n AS (
      SELECT p_name AS name, min(p_partkey) AS mk,
             CAST(count(*) AS BIGINT) AS np
      FROM part GROUP BY 1
    ),
    pairs AS (
      SELECT a.name AS u, b.name AS v
      FROM n a JOIN n b ON a.name < b.name
      WHERE levenshtein(a.name, b.name) <= 1
    ),
    edges AS (SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs),
    reach AS (
      SELECT name AS node, name AS lab FROM n
      UNION
      SELECT e.v AS node, r.lab FROM reach r JOIN edges e ON e.u = r.node
    ),
    labels AS (SELECT node, min(lab) AS rep FROM reach GROUP BY node)
    SELECT l.rep AS cluster_rep,
           CAST(count(*) AS BIGINT)  AS n_members,
           CAST(sum(n.np) AS BIGINT) AS n_parts,
           min(n.mk)                 AS min_partkey
    FROM labels l JOIN n ON n.name = l.node
    GROUP BY l.rep
    """,
)
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END entity resolution over the part-name catalog — the
    full MDM flow as ONE graded composition of this engine's building
    blocks: (1) candidate BLOCKING + verify via the lossless positional
    q-gram fuzzy join (edit distance ≤ 1), (2) transitive CLUSTERING
    via hash-min connected components over the match edges (fuzzy
    matches chain: A~B, B~C ⇒ one entity {A,B,C} even when A!~C),
    (3) GOLDEN-RECORD survivorship per cluster (lexicographically
    first name as the canonical label; earliest partkey; member/part
    rollups). Singleton names (no match) survive as their own
    entities, so output = one row per resolved entity.

    EXACT despite blocking: the q-gram count filter is a necessary
    condition for edit distance ≤ d, so the verified match set — and
    therefore the clustering — reproduces the brute-force cross join
    bit-for-bit (q_fuzzy_name_match's contract); the oracle IS the
    cross join + a recursive-CTE reachability closure (the
    q_connected_components oracle pattern). Cluster labels are
    engine-independent by construction: CC's internal min-NODE-ID
    label is relabeled to the min NAME on the reduced cluster
    relation, so the grade never sees internal ids.

    100 TB: blocking is the Ed-Join prefix form (never |N|² pairs);
    CC is O(log diameter) pointer jumping moving 16-byte rows; the
    survivorship pass is one combinable agg; name→id joins are
    equi-joins on the deduped name relation.
    """
    from noaa_etl_spark.operators.fuzzy import fuzzy_self_join
    from noaa_etl_spark.operators.graph import (
        _graph_sized_shuffle,
        connected_components,
    )

    part = load_table(spark, sf_dir, "part")
    # The name rollup, fuzzy join, and CC loop all EAGERLY materialize
    # frames (persist, Ed-Join prefix persist, per-round
    # localCheckpoint) — materialized frames bake in the session's
    # shuffle partitioning and set every reader's map-side task count
    # (the graph-loop lesson: AQE coalescing never reaches them), so
    # the WHOLE blocking+clustering stretch runs under catalog-sized
    # shuffles; the sizing count is a cheap count-star scan.
    with _graph_sized_shuffle(spark, part.count()):
        n = (
            part.groupBy(F.col("p_name").alias("name"))
            .agg(
                F.min("p_partkey").alias("mk"),
                F.count(F.lit(1)).cast("bigint").alias("np"),
            )
            .persist()  # read by the fuzzy join, two id lookups, the rollup
        )
        n.count()
        pairs = fuzzy_self_join(n.select("name"), "name", max_dist=1)
        ida = n.select(F.col("name").alias("name_a"), F.col("mk").alias("src"))
        idb = n.select(F.col("name").alias("name_b"), F.col("mk").alias("dst"))
        edges = (
            pairs.join(ida, "name_a").join(idb, "name_b").select("src", "dst")
        ).persist()
        edges.count()
        # r15 opt: size-dispatched CC — a catalog-scale match graph
        # union-finds on the driver (identical labels), a 100 TB one
        # takes the distributed loop off the same probe.
        labels = connected_components(edges)
    resolved = n.join(
        labels, n["mk"] == labels["node"], "left"
    ).select(
        "name",
        "mk",
        "np",
        F.coalesce(F.col("component"), F.col("mk")).alias("component"),
    )
    return resolved.groupBy("component").agg(
        F.min("name").alias("cluster_rep"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum("np").cast("bigint").alias("n_parts"),
        F.min("mk").alias("min_partkey"),
    ).drop("component").select("cluster_rep", "n_members", "n_parts", "min_partkey")


@graded(
    "q_quantile_normalize",
    oracle="""
    WITH grid AS (
      SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ),
    ref AS (SELECT v, c AS a FROM grid WHERE source = 'src0'),
    refc AS (
      SELECT v,
             CAST(sum(a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS ca,
             CAST(sum(a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - a
                  AS BIGINT) AS cp
      FROM ref
    ),
    refidx AS (
      SELECT v AS norm_v, unnest(generate_series(cp + 1, ca)) AS idx
      FROM refc
    ),
    natot AS (SELECT CAST(sum(a) AS BIGINT) AS na FROM ref),
    cur AS (
      SELECT source, v, c,
             CAST(sum(c) OVER (PARTITION BY source ORDER BY v
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs,
             CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS ns
      FROM grid WHERE source <> 'src0'
    )
    SELECT cur.source, cur.v, cur.c, CAST(r.norm_v AS BIGINT) AS norm_v
    FROM cur, natot, refidx r
    WHERE r.idx = (cur.cs * natot.na + cur.ns - 1) // cur.ns
    """,
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization (histogram matching) of every source's
    document-length distribution onto reference src0 — the batch-effect
    correction / feature-calibration op (microarray heritage, image
    histogram matching, cross-corpus length calibration): value v in
    source s maps to the reference order statistic at the same
    empirical-CDF position, norm_v = ref_(⌈c_s(v)·n_a/n_s⌉).

    EXACT-INTEGER rendering: the mapping index is pure rank arithmetic
    — ceil as (c_s·n_a + n_s − 1) div n_s (true integer div, the
    proration `div` doctrine) — and the match is an EQUI-join against
    the reference ranks expanded from cumulative-count blocks
    (sequence(cp+1, ca) explode), never a theta/range join. Every
    graded column is BIGINT; no floats exist anywhere in the operator.

    Scale: raw rows collapse to the (source, value) grid in one
    combinable agg (the MW/KS reduced relation); per-source CDF windows
    partition by source; the REFERENCE is a fixed calibration sample by
    contract (the ann-drift out-of-sample rule), so its rank expansion
    (n_a rows) broadcasts — a continuous value domain would be
    histogram-bucketed first (the KS gear). The graded output is the
    value-grain MAPPING TABLE (|sources|×|distinct v| rows), which is
    also what a production pipeline persists and broadcast-joins onto
    the corpus to rewrite per-doc values scan-locally."""
    docs = load_table(spark, sf_dir, "documents")
    grid = docs.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    grid = grid.localCheckpoint()  # two readers: ref + current splits
    ref = grid.filter(F.col("source") == "src0").select("v", F.col("c").alias("a"))
    w_ref = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    refc = ref.select(
        "v",
        F.sum("a").over(w_ref).cast("bigint").alias("ca"),
        (F.sum("a").over(w_ref) - F.col("a")).cast("bigint").alias("cp"),
    )
    refidx = refc.select(
        F.col("v").alias("norm_v"),
        F.explode(F.sequence(F.col("cp") + 1, F.col("ca"))).alias("idx"),
    )
    na = ref.agg(F.sum("a").cast("bigint").alias("na"))
    w_run = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_src = Window.partitionBy("source")
    cur = grid.filter(F.col("source") != "src0").select(
        "source",
        "v",
        "c",
        F.sum("c").over(w_run).cast("bigint").alias("cs"),
        F.sum("c").over(w_src).cast("bigint").alias("ns"),
    )
    idx = F.expr("(cs * na + ns - 1) div ns")
    joined = (
        cur.crossJoin(F.broadcast(na))
        .withColumn("idx", idx)
        .join(F.broadcast(refidx), "idx")
    )
    return joined.select("source", "v", "c", F.col("norm_v").cast("bigint").alias("norm_v"))


# Fellegi–Sunter log-likelihood weights, PRECOMPUTED as decimal literals
# so neither engine evaluates ln() at query time (the 1-ulp ln doctrine,
# solved at the source: identical literals -> identical doubles, and the
# 3-term sum folds left-to-right in both engines -> bit-equal weights).
# m = P(agree | match), u = P(agree | non-match):
#   name  (levenshtein <= 1): m=0.95, u=0.001
#   segment (exact):          m=0.97, u=0.2
#   balance (within $10):     m=0.99, u=0.05
FS_W = {
    "name_a": "6.856461984594587",
    "name_d": "-2.9947317732204066",
    "seg_a": "1.5789787049493917",
    "seg_d": "-3.283414346005771",
    "bal_a": "2.9856819377004893",
    "bal_d": "-4.55387689160054",
}
FS_MATCH_THRESHOLD = 5.0
# Per-block occupancy guardrail (each side): a blocking key whose block
# exceeds this is DEGENERATE — its all-pairs comparison is quadratic
# garbage (exact-copy entities can't be disambiguated by any
# comparator) — so the whole block is refused, the Splink
# exploding-blocking-rule discipline. Fixture blocks are ≤ ~5 deep; the
# 100x replica's 600-deep verbatim-name blocks are exactly what this
# refuses (measured 20x wall at 10x, 299 s at 100x, pre-guardrail).
FS_BLOCK_CAP = 512

def fs_clean(cust: DataFrame) -> DataFrame:
    """Clean-registry projection for FS linkage."""
    return cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
    )


def fs_dirty(clean: DataFrame) -> DataFrame:
    """Deterministic md5-gated corruption of the clean registry (30%
    name char-drop, 20% segment wipe, 10% balance shift) — both engines
    synthesize IDENTICAL dirty twins."""
    g = lambda tag: F.substring(  # noqa: E731 — md5 gate, the house pattern
        F.md5(F.concat(F.lit(tag), F.col("k").cast("string"))), 1, 2
    )
    return clean.select(
        (F.col("k") + 10_000_000).alias("k"),
        F.when(
            g("rl1:") < "4d",
            F.concat(F.substring("name", 1, 9), F.expr("substring(name, 11)")),
        )
        .otherwise(F.col("name"))
        .alias("name"),
        "nat",
        F.when(g("rl2:") < "33", F.lit("UNKNOWN")).otherwise(F.col("seg")).alias("seg"),
        F.when(g("rl3:") < "1a", F.col("cents") + 250_000)
        .otherwise(F.col("cents"))
        .alias("cents"),
    )


def fs_cap_blocks(df: DataFrame) -> DataFrame:
    """Degenerate-block guardrail (FS_BLOCK_CAP): refuse blocks whose
    occupancy exceeds the cap — the count window rides the same
    (nation, suffix) partitioning the join shuffles on. The cap is a
    CORPUS-WIDE property: the streaming twin cannot apply it per batch
    (a block split across batches would evade it) and instead filters
    at finalize over folded per-block counts."""
    suf = F.expr("substring(name, length(name) - 1)")
    keyed = df.withColumn("blk", suf)
    w = Window.partitionBy("nat", "blk")
    return (
        keyed.withColumn("blk_n", F.count(F.lit(1)).over(w))
        .filter(F.col("blk_n") <= FS_BLOCK_CAP)
        .drop("blk_n")
    )


def fs_link(clean_side: DataFrame, dirty_side: DataFrame) -> DataFrame:
    """Blocked FS scoring join over pre-capped sides (each must carry
    the `blk` suffix column). Output keeps the dirty block key so a
    streaming caller can late-filter refused blocks at finalize."""
    c = clean_side.select(
        F.col("k").alias("clean_key"),
        F.col("name").alias("name_c"),
        F.col("nat").alias("nat_c"),
        F.col("seg").alias("seg_c"),
        F.col("cents").alias("cents_c"),
        F.col("blk").alias("blk_c"),
    )
    d = dirty_side.select(
        F.col("k").alias("dirty_key"),
        F.col("name").alias("name_d"),
        F.col("nat").alias("nat_d"),
        F.col("seg").alias("seg_d"),
        F.col("cents").alias("cents_d"),
        F.col("blk").alias("blk_d"),
    )
    pairs = c.join(
        d, (F.col("nat_c") == F.col("nat_d")) & (F.col("blk_c") == F.col("blk_d"))
    )
    w = (
        F.when(
            F.levenshtein("name_c", "name_d") <= 1, F.lit(float(FS_W["name_a"]))
        ).otherwise(F.lit(float(FS_W["name_d"])))
        + F.when(F.col("seg_c") == F.col("seg_d"), F.lit(float(FS_W["seg_a"]))).otherwise(
            F.lit(float(FS_W["seg_d"]))
        )
        + F.when(
            F.abs(F.col("cents_c") - F.col("cents_d")) <= 1000,
            F.lit(float(FS_W["bal_a"])),
        ).otherwise(F.lit(float(FS_W["bal_d"])))
    )
    return pairs.select(
        "clean_key",
        "dirty_key",
        F.col("nat_d"),
        F.col("blk_d"),
        w.alias("fs_weight"),
        (w >= FS_MATCH_THRESHOLD).alias("is_match"),
    )



RECORD_LINKAGE_ORACLE = f"""
    WITH clean0 AS (
      SELECT c_custkey AS k, c_name AS name, c_nationkey AS nat,
             c_mktsegment AS seg,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    ),
    clean AS (
      SELECT * FROM (
        SELECT *, count(*) OVER (
          PARTITION BY nat, substr(name, length(name) - 1)) AS blk_n
        FROM clean0
      ) WHERE blk_n <= {FS_BLOCK_CAP}
    ),
    dirty0 AS (
      SELECT k + 10000000 AS k,
             CASE WHEN substr(md5('rl1:' || CAST(k AS VARCHAR)), 1, 2) < '4d'
                  THEN substr(name, 1, 9) || substr(name, 11)
                  ELSE name END AS name,
             nat,
             CASE WHEN substr(md5('rl2:' || CAST(k AS VARCHAR)), 1, 2) < '33'
                  THEN 'UNKNOWN' ELSE seg END AS seg,
             CASE WHEN substr(md5('rl3:' || CAST(k AS VARCHAR)), 1, 2) < '1a'
                  THEN cents + 250000 ELSE cents END AS cents
      FROM clean0
    ),
    dirty AS (
      SELECT * FROM (
        SELECT *, count(*) OVER (
          PARTITION BY nat, substr(name, length(name) - 1)) AS blk_n
        FROM dirty0
      ) WHERE blk_n <= {FS_BLOCK_CAP}
    ),
    pairs AS (
      SELECT c.k AS clean_key, d.k AS dirty_key,
             (CASE WHEN levenshtein(c.name, d.name) <= 1
                   THEN CAST({FS_W["name_a"]} AS DOUBLE)
                   ELSE CAST({FS_W["name_d"]} AS DOUBLE) END)
             + (CASE WHEN c.seg = d.seg
                     THEN CAST({FS_W["seg_a"]} AS DOUBLE)
                     ELSE CAST({FS_W["seg_d"]} AS DOUBLE) END)
             + (CASE WHEN abs(c.cents - d.cents) <= 1000
                     THEN CAST({FS_W["bal_a"]} AS DOUBLE)
                     ELSE CAST({FS_W["bal_d"]} AS DOUBLE) END) AS w
      FROM clean c JOIN dirty d
        ON c.nat = d.nat
       AND substr(c.name, length(c.name) - 1) = substr(d.name, length(d.name) - 1)
    )
    SELECT clean_key, dirty_key, w AS fs_weight,
           w >= {FS_MATCH_THRESHOLD!r} AS is_match
    FROM pairs
    ORDER BY clean_key, dirty_key
    """


@graded("q_record_linkage_fs", oracle=RECORD_LINKAGE_ORACLE)
def q_record_linkage_fs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage: score candidate
    (clean, dirty) customer pairs by the classic log-likelihood weight
    w = Σ_fields ln(m/u) if the field agrees else ln((1−m)/(1−u)), and
    classify matches at a weight threshold — the statistical backbone
    of master-data matching (Splink/dedupe.io), composing with
    q_fuzzy_name_match (comparators) and q_entity_resolution
    (clustering) into the full MDM stack.

    The dirty side is synthesized deterministically from the clean one
    (md5-gated corruptions: 30% name char-drop at position 10, 20%
    segment wipe, 10% balance shift by $2,500), so both engines build
    IDENTICAL inputs. Field comparators: levenshtein(name) ≤ 1 —
    tolerant of exactly the planted drop; segment equality; |balance
    difference| ≤ $10 on floor-cents BIGINTs (floor, never CAST —
    DuckDB CAST rounds half-away and acctbal goes negative).

    BLOCKING: (nationkey, last-2-chars-of-name). The name suffix
    survives the mid-name corruption by construction — blocking keys
    must be chosen from corruption-stable features, the real-world MDM
    discipline — and spreads each nation's customers across 100
    sub-blocks, so block size stays O(customers / 2500): the all-pairs
    comparison this bounds is the operator's scale story (a 100×
    corpus grows block COUNT, not block size, because the suffix
    distribution is uniform). ENFORCED by FS_BLOCK_CAP: a block deeper
    than 512 on either side is refused outright (the Splink
    exploding-blocking-rule discipline — verbatim-duplicate entities
    cannot be disambiguated by any comparator, so their quadratic
    all-pairs is garbage linkage, measured 20× wall at 10× replication
    pre-guardrail); the count windows ride the join's own
    partitioning. Fixture blocks are ≤ ~5 deep — the cap never binds
    at graded scale.

    Exactness: ln() never runs at query time — the six FS weights are
    precomputed decimal literals (FS_W) shared verbatim by both
    engines, and each pair's weight is one fixed 3-term double sum ⇒
    bit-equal, so is_match cannot flip cross-engine.
    """
    cust = load_table(spark, sf_dir, "customer")
    return fs_link(fs_cap_blocks(fs_clean(cust)), fs_cap_blocks(fs_dirty(fs_clean(cust)))).select(
        "clean_key", "dirty_key", "fs_weight", "is_match"
    )


@graded(
    "q_sorted_neighborhood_dedup",
    oracle="""
    WITH base AS (SELECT c_custkey AS k, c_name AS name FROM customer),
    twins AS (
      SELECT k + 10000000 AS k, substr(name, 1, length(name) - 1) AS name
      FROM base
      WHERE substr(md5('snm:' || CAST(k AS VARCHAR)), 1, 2) < '40'
    ),
    allr AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
    pos AS (
      SELECT k, name, row_number() OVER (ORDER BY name, k) - 1 AS pos
      FROM allr
    ),
    pairs AS (
      SELECT a.k AS id_a, b.k AS id_b, a.name AS name_a, b.name AS name_b,
             CAST(levenshtein(a.name, b.name) AS INT) AS dist
      FROM pos a JOIN pos b ON b.pos > a.pos AND b.pos - a.pos <= 8
    )
    SELECT id_a, id_b, name_a, name_b, dist FROM pairs WHERE dist <= 2
    """,
)
def q_sorted_neighborhood_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record linkage (Hernandez-Stolfo SNM) — the
    THIRD blocking gear next to q-gram count-filtering
    (q_fuzzy_name_match) and FS suffix blocks (q_record_linkage_fs):
    sort all records by a key, compare only rows within w positions.
    SNM's sweet spot is tail typos that preserve the sort prefix — the
    planted twins (25% md5 gate, last char dropped) sort IMMEDIATELY
    before their source's trailing-digit block, so w=8 captures them;
    edits that shift the sort prefix are exactly what SNM misses and
    what the q-gram gear exists for (documented trade, both graded).

    Spark-first scale shape: the global sort position comes from
    operators/order_index.global_sort_index (range exchange +
    mapInPandas local indexes + driver offsets — NEVER a global
    row_number window; its single-reducer sort is the canonical scale
    cliff this operator replaces), and the w-neighborhood materializes
    as a BANDED equi-join: left rows emit (blk, blk+1) for blk =
    pos div w, right rows emit blk, so each qualifying ordered pair
    (0 < pos_b - pos_a <= w) matches on exactly ONE key — no
    dropDuplicates needed. Candidates are bounded at N*w at any corpus
    size; levenshtein verifies only candidates. The oracle replays the
    identical total order (name, k) with a row_number window — at
    fixture scale the single-partition plan is exactly what the
    operator avoids at 100 TB."""
    from noaa_etl_spark.operators.order_index import global_sort_index

    w = 8
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_name").alias("name")
    )
    gate = F.substring(
        F.md5(F.concat(F.lit("snm:"), F.col("k").cast("string"))), 1, 2
    )
    twins = cust.filter(gate < "40").select(
        (F.col("k") + 10_000_000).alias("k"),
        F.expr("substring(name, 1, length(name) - 1)").alias("name"),
    )
    allr = cust.unionByName(twins)
    pos = global_sort_index(allr, [("name", True), ("k", True)], out_col="pos")
    blk = F.expr(f"pos div {w}")
    left = pos.select(
        F.col("k").alias("id_a"),
        F.col("name").alias("name_a"),
        F.col("pos").alias("pos_a"),
        F.explode(F.array(blk, blk + 1)).alias("bk"),
    )
    right = pos.select(
        F.col("k").alias("id_b"),
        F.col("name").alias("name_b"),
        F.col("pos").alias("pos_b"),
        blk.alias("bk"),
    )
    cand = left.join(right, "bk").filter(
        (F.col("pos_b") > F.col("pos_a"))
        & ((F.col("pos_b") - F.col("pos_a")) <= w)
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        cand.withColumn("dist", dist)
        .filter(F.col("dist") <= 2)
        .select("id_a", "id_b", "name_a", "name_b", "dist")
    )


@graded(
    "q_target_encode_loo",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_orderpriority AS cat,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    stats AS (
      SELECT cat, CAST(sum(cents) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
      FROM o GROUP BY cat
    ),
    g AS (
      SELECT CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS gm FROM o
    )
    SELECT o.o_orderkey, o.cat, o.cents,
           CASE WHEN st.n > 1
                THEN CAST(st.s - o.cents AS DOUBLE) / CAST(st.n - 1 AS DOUBLE)
           END AS te_loo,
           (CAST(st.s - o.cents AS DOUBLE) + 10.0 * g.gm)
             / (CAST(st.n - 1 AS DOUBLE) + 10.0) AS te_smooth
    FROM o JOIN stats st ON o.cat = st.cat CROSS JOIN g
    ORDER BY o.o_orderkey
    """,
)
def q_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of a categorical feature — the
    leakage-aware form of mean encoding (a row's own target is EXCLUDED
    from its encoding, otherwise the feature memorizes the label and
    the model overfits it; the m=10 smoothed variant shrinks small
    categories toward the global mean, the Micci-Barreca formula).

    te_loo = (Σcat − x)/(n_cat − 1) is one division of exact BIGINT
    cents ⇒ bit-equal; singleton categories NULL by CASE on both sides
    (their LOO encoding is undefined). te_smooth is one token-identical
    double chain over the same exact integers and the exact-division
    global mean.

    Plan: the per-category stats are a 5-row partial-combined agg
    BROADCAST back onto the fact, plus the 1-row global-mean broadcast —
    never a window over the 5-value category key (a celebrity-skew
    window by construction). The fact is planned twice (stats pass +
    enrich pass) — deliberate: the agg outputs are O(|cats|) rows, so
    broadcasting them back is the 100 TB-honest enrichment; a
    co-partitioned join would shuffle the full fact on 5 keys."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("cat"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    stats = o.groupBy("cat").agg(
        F.sum("cents").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    g = o.agg(
        (F.sum("cents").cast("double") / F.count(F.lit(1)).cast("double")).alias("gm")
    )
    e = o.join(F.broadcast(stats), "cat").crossJoin(F.broadcast(g))
    loo_num = (F.col("s") - F.col("cents")).cast("double")
    te_loo = F.when(
        F.col("n") > 1, loo_num / (F.col("n") - 1).cast("double")
    )
    te_smooth = (loo_num + F.lit(10.0) * F.col("gm")) / (
        (F.col("n") - 1).cast("double") + F.lit(10.0)
    )
    return e.select(
        "o_orderkey", "cat", "cents",
        te_loo.alias("te_loo"), te_smooth.alias("te_smooth"),
    )


def _ols3_finalize_sql() -> dict:
    """Shared 2-feature OLS finalize fragments (Cramer's rule on the
    3x3 normal equations), generated ONCE and consumed verbatim by BOTH
    engines (Spark selectExpr and the DuckDB oracle) - the geohash
    shared-expression doctrine, so every double chain is token-
    identical by construction. Inputs are the named BIGINT moment
    columns n, sx1, sx2, sy, sx11, sx22, sx12, sx1y, sx2y, syy."""
    d = {c: f"CAST({c} AS DOUBLE)" for c in
         ("n", "sx1", "sx2", "sy", "sx11", "sx22", "sx12", "sx1y", "sx2y", "syy")}

    def det3(c1, c2, c3):
        # expansion along the first row; each c is a (top, mid, bot) triple
        return (
            f"({c1[0]} * ({c2[1]} * {c3[2]} - {c2[2]} * {c3[1]})"
            f" - {c2[0]} * ({c1[1]} * {c3[2]} - {c1[2]} * {c3[1]})"
            f" + {c3[0]} * ({c1[1]} * {c2[2]} - {c1[2]} * {c2[1]}))"
        )

    c1 = (d["n"], d["sx1"], d["sx2"])
    c2 = (d["sx1"], d["sx11"], d["sx12"])
    c3 = (d["sx2"], d["sx12"], d["sx22"])
    r = (d["sy"], d["sx1y"], d["sx2y"])
    det = det3(c1, c2, c3)
    b0 = f"({det3(r, c2, c3)} / {det})"
    b1 = f"({det3(c1, r, c3)} / {det})"
    b2 = f"({det3(c1, c2, r)} / {det})"
    sst = f"({d['syy']} - {d['sy']} * {d['sy']} / {d['n']})"
    sse = (
        f"({d['syy']} - {b0} * {d['sy']} - {b1} * {d['sx1y']}"
        f" - {b2} * {d['sx2y']})"
    )
    ok = f"(n > 2 AND {det} <> 0)"
    return {
        "det": det,
        "b0": f"CASE WHEN {ok} THEN round({b0}, 6) END",
        "b1": f"CASE WHEN {ok} THEN round({b1}, 6) END",
        "b2": f"CASE WHEN {ok} THEN round({b2}, 6) END",
        "r2": (
            f"CASE WHEN {ok} AND {sst} > 0"
            f" THEN round(1.0 - {sse} / {sst}, 6) END"
        ),
    }


_OLS3 = _ols3_finalize_sql()

MULTI_REG_ORACLE = f"""
    WITH obs AS (
      SELECT CAST(floor(l_quantity + 0.5) AS BIGINT)        AS x1,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT)  AS x2,
             CAST(floor(l_extendedprice) AS BIGINT)         AS y
      FROM lineitem
    ),
    moments AS (
      SELECT CAST(count(*) AS BIGINT)      AS n,
             CAST(sum(x1) AS BIGINT)       AS sx1,
             CAST(sum(x2) AS BIGINT)       AS sx2,
             CAST(sum(y) AS BIGINT)        AS sy,
             CAST(sum(x1 * x1) AS BIGINT)  AS sx11,
             CAST(sum(x2 * x2) AS BIGINT)  AS sx22,
             CAST(sum(x1 * x2) AS BIGINT)  AS sx12,
             CAST(sum(x1 * y) AS BIGINT)   AS sx1y,
             CAST(sum(x2 * y) AS BIGINT)   AS sx2y,
             CAST(sum(y * y) AS BIGINT)    AS syy
      FROM obs
    )
    SELECT n,
           {_OLS3['b0']} AS b0,
           {_OLS3['b1']} AS b1,
           {_OLS3['b2']} AS b2,
           {_OLS3['r2']} AS r2
    FROM moments
    """


def ols_obs(li: DataFrame) -> DataFrame:
    """The integer-quantized (x1, x2, y) observation projection shared
    by the batch query and the streaming twin's per-batch absorb."""
    return li.select(
        F.floor(F.col("l_quantity") + 0.5).cast("bigint").alias("x1"),
        F.floor(F.col("l_discount") * 100 + 0.5).cast("bigint").alias("x2"),
        F.floor(F.col("l_extendedprice")).cast("bigint").alias("y"),
    )


def ols_moments(obs: DataFrame) -> DataFrame:
    """The ten-column sufficient-statistic row — the SUM-mergeable OLS
    state (per-micro-batch rows fold by column-wise addition: the
    normal equations depend on the data only through these sums, so
    incremental regression is exact)."""
    return obs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("sx1"),
        F.sum("x2").cast("bigint").alias("sx2"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("bigint").alias("sx11"),
        F.sum(F.col("x2") * F.col("x2")).cast("bigint").alias("sx22"),
        F.sum(F.col("x1") * F.col("x2")).cast("bigint").alias("sx12"),
        F.sum(F.col("x1") * F.col("y")).cast("bigint").alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).cast("bigint").alias("sx2y"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )


def ols_report(m: DataFrame) -> DataFrame:
    """Shared OLS finalize: the verbatim _OLS3 fragments via selectExpr."""
    return m.selectExpr(
        "n",
        f"{_OLS3['b0']} AS b0",
        f"{_OLS3['b1']} AS b1",
        f"{_OLS3['b2']} AS b2",
        f"{_OLS3['r2']} AS r2",
    )


@graded("q_multiple_regression", oracle=MULTI_REG_ORACLE)
def q_multiple_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature multiple linear regression by the closed-form normal
    equations: price_dollars ~ b0 + b1*quantity + b2*discount_pts over
    lineitem - the exact-moment generalization of q_linear_trend (and
    the op DuckDB's regr_slope cannot express: it is single-feature
    only). Cramer's rule on the 3x3 system needs only the ten
    sufficient statistics, so 100 TB collapses to ONE combinable agg
    row and the solve runs driver-free on that row.

    Exactness: predictors quantize integer-exact (quantity is integral;
    discount via floor(d*100 + 0.5) - the quantize_int8 rounding
    contract, since 0.06*100 = 5.9999... floors wrong raw); y in
    DOLLARS so sum(y^2) stays BIGINT to n ~ 8e8 rows (the covariance
    dollars-quantization precedent; cents-grain would abort at ~60M).
    The ENTIRE finalize - three 3x3 determinants, coefficients, and
    R^2 = 1 - SSE/SST with SSE from the fitted-moments identity - is
    generated as ONE shared SQL fragment consumed verbatim by Spark
    selectExpr AND the DuckDB oracle (the geohash doctrine), making
    every double chain token-identical by construction; graded ROUNDED
    6dp. Singular design (det = 0) or n <= 2 NULLs the coefficients,
    SST = 0 NULLs r2 - mirrored in the shared fragment.

    Replay-tested against numpy lstsq (tests/test_round15b_ops.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    return ols_report(ols_moments(ols_obs(li)))


METRIC_WATERFALL_ORACLE = """
    WITH assigned AS (
      SELECT event_type,
             CASE WHEN epoch_us(ts) < 1705363200000000 THEN 0 ELSE 1 END AS post,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    m AS (
      SELECT event_type,
             CAST(count(*) FILTER (post = 0) AS BIGINT)   AS n0,
             CAST(count(*) FILTER (post = 1) AS BIGINT)   AS n1,
             CAST(sum(cents) FILTER (post = 0) AS BIGINT) AS r0,
             CAST(sum(cents) FILTER (post = 1) AS BIGINT) AS r1
      FROM assigned GROUP BY event_type
    )
    SELECT event_type, n0, n1, r0, r1,
           r1 - r0 AS delta_cents,
           CASE WHEN n0 > 0 THEN
             round((CAST(n1 AS DOUBLE) - n0) * (CAST(r0 AS DOUBLE) / n0), 6)
           END AS volume_effect,
           CASE WHEN n0 > 0 AND n1 > 0 THEN
             round(CAST(n0 AS DOUBLE)
                   * (CAST(r1 AS DOUBLE) / n1 - CAST(r0 AS DOUBLE) / n0), 6)
           END AS rate_effect,
           CASE WHEN n0 > 0 AND n1 > 0 THEN
             round((CAST(n1 AS DOUBLE) - n0)
                   * (CAST(r1 AS DOUBLE) / n1 - CAST(r0 AS DOUBLE) / n0), 6)
           END AS mix_effect
    FROM m ORDER BY event_type
    """


@graded("q_metric_waterfall", oracle=METRIC_WATERFALL_ORACLE)
def q_metric_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric-change waterfall decomposition — the 'why did revenue
    move' bridge every metrics review draws: between the pre and post
    periods (the shared epoch cut), the revenue delta decomposes
    EXACTLY as delta = volume_effect + rate_effect + mix_effect with
    volume = (n1-n0)*rate0, rate = n0*(rate1-rate0), and the
    interaction (n1-n0)*(rate1-rate0) — per event type, so the
    waterfall attributes the move to traffic vs per-event value vs
    their interaction.

    Exactness: four BIGINT cell aggregates per type in ONE combinable
    FILTER-agg; delta_cents is exact integer; the three effects are
    token-identical double chains graded ROUNDED 6dp (their unrounded
    sum telescopes to the exact delta — asserted in tests); empty
    periods NULL the affected effects (mirrored).

    Scale: one map-side-combinable agg; finalize on K rows."""
    ev = load_table(spark, sf_dir, "events")
    return waterfall_report(waterfall_cells(ev))


def waterfall_cells(ev: DataFrame) -> DataFrame:
    """The per-type 2-period (n, revenue) cells — the SUM-mergeable
    waterfall state."""
    post = F.when(F.unix_micros("ts") < 1705363200000000, F.lit(0)).otherwise(F.lit(1))
    cents = F.floor(F.col("value") * 100).cast("bigint")
    rows = ev.select(
        "event_type", post.alias("post"), cents.alias("cents")
    )
    return rows.groupBy("event_type").agg(
        F.count_if(F.col("post") == 0).cast("bigint").alias("n0"),
        F.count_if(F.col("post") == 1).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("post") == 0, F.col("cents"))).cast("bigint").alias("r0"),
        F.sum(F.when(F.col("post") == 1, F.col("cents"))).cast("bigint").alias("r1"),
    )


def waterfall_report(m: DataFrame) -> DataFrame:
    """Shared waterfall finalize over the folded cells."""
    rate0 = F.col("r0").cast("double") / F.col("n0")
    rate1 = F.col("r1").cast("double") / F.col("n1")
    dn = F.col("n1").cast("double") - F.col("n0")
    ok0 = F.col("n0") > 0
    ok01 = ok0 & (F.col("n1") > 0)
    return m.select(
        "event_type",
        "n0",
        "n1",
        "r0",
        "r1",
        (F.col("r1") - F.col("r0")).alias("delta_cents"),
        F.when(ok0, F.round(dn * rate0, 6)).alias("volume_effect"),
        F.when(ok01, F.round(F.col("n0").cast("double") * (rate1 - rate0), 6)).alias(
            "rate_effect"
        ),
        F.when(ok01, F.round(dn * (rate1 - rate0), 6)).alias("mix_effect"),
    ).orderBy("event_type")
