"""Scale-posture graded queries: salted aggregation (identical results,
skew-proof shuffle layout), approximate aggregates (the 100 TB
dashboard path), multi-granularity time rollup."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from noaa_etl_spark.io import load_table
from noaa_etl_spark.operators.skew import salted_agg
from noaa_etl_spark.registry import graded


@graded(
    "q_salted_agg",
    oracle="""
    SELECT event_type,
           count(*)                          AS n_events,
           CAST(sum(floor(value)) AS BIGINT) AS floor_total,
           min(value)                        AS min_value,
           max(value)                        AS max_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation over a 5-value key — the classic
    skew shape. Results are identical to the plain groupBy (the oracle
    IS the plain groupBy); only the shuffle layout differs: phase 1
    spreads each hot key over 16 salt buckets."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "floor_value", F.floor("value").cast("bigint")
    )
    return salted_agg(
        ev,
        keys=["event_type"],
        aggs={
            "n_events": ("count", "event_id"),
            "floor_total": ("sum", "floor_value"),
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
        },
        salt_col="event_id",
        buckets=16,
    ).orderBy("event_type")


@graded("q_approx_aggs")  # rows-only: approx sketches are engine-specific
def q_approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates — the monitoring/dashboard path at 100 TB
    (HLL count-distinct, quantile sketch). Deterministic within Spark
    (merge-order-insensitive sketches) but not comparable to an exact
    oracle; sanity bounds are asserted in tests."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


@graded(
    "q_time_rollup",
    oracle="""
    WITH e AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
             CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS h,
             value
      FROM events
    )
    SELECT d, h,
           CAST(grouping(d) AS TINYINT) AS g_d, CAST(grouping(h) AS TINYINT) AS g_h,
           count(*)                          AS n_events,
           CAST(sum(floor(value)) AS BIGINT) AS floor_total
    FROM e
    GROUP BY ROLLUP (d, h)
    ORDER BY g_d, g_h, d NULLS LAST, h NULLS LAST
    """,
)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity temporal rollup: (day, hour) →
    day → grand total in one pass via ROLLUP — one shuffle produces all
    three granularities (vs three separate scans)."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
        F.hour("ts").alias("h"),
        "value",
    )
    return (
        e.rollup("d", "h")
        .agg(
            F.grouping("d").alias("g_d"),
            F.grouping("h").alias("g_h"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor("value").cast("bigint")).alias("floor_total"),
        )
        .orderBy(
            "g_d",
            "g_h",
            F.col("d").asc_nulls_last(),
            F.col("h").asc_nulls_last(),
        )
    )


@graded("q_hll_sketch_union")  # rows-only: sketch bytes/estimates are engine-specific
def q_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches as first-class columns — the incremental
    distinct-count pattern at 100 TB: build one compact sketch per
    partition-of-record (per-day here), persist them (a few KB each),
    then answer "distinct users over any day range" by unioning sketches
    WITHOUT rescanning the events. The per-day estimates and the
    union-of-all estimate are emitted side by side; a tolerance test vs
    exact distinct counts guards the estimates (tests/test_properties.py).

    Scale: stage 1 is a map-side-combinable sketch agg (bytes-per-group
    = sketch size, not cardinality); stage 2 aggregates |days| sketches
    — driver-trivial. This is how nightly jobs maintain rolling
    distincts without a count_distinct re-shuffle of history.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg("user_id", 14).alias("sketch"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        daily.select(
            "d",
            "n_events",
            F.hll_sketch_estimate("sketch").alias("approx_users"),
            F.lit(None).cast("bigint").alias("approx_users_total"),
        )
        .unionByName(
            daily.agg(
                F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(
                    "approx_users_total"
                ),
                F.count(F.lit(1)).alias("n_days"),
            ).select(
                F.lit(None).cast("date").alias("d"),
                F.col("n_days").alias("n_events"),
                F.lit(None).cast("bigint").alias("approx_users"),
                "approx_users_total",
            )
        )
    )


HIST_QUANTILES_ORACLE = """
    WITH dom AS (
        SELECT min(value) AS lo, max(value) AS hi FROM events
    ),
    binned AS (
        SELECT event_type,
               greatest(least(CAST(floor((value - lo) / ((hi - lo) / 64))
                                   AS INT), 63), 0) AS bin
        FROM events, dom
    ),
    hist AS (
        SELECT event_type, bin, count(*) AS cnt
        FROM binned GROUP BY event_type, bin
    ),
    cum AS (
        SELECT event_type, bin,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
               sum(cnt) OVER (PARTITION BY event_type)              AS n_total
        FROM hist
    ),
    qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q),
    est AS (
        SELECT event_type, q,
               min(lo + (bin + 1) * ((hi - lo) / 64)) AS est
        FROM cum, qs, dom
        WHERE cum >= ceil(q * n_total)
        GROUP BY event_type, q
    ),
    ranked AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
               count(*)     OVER (PARTITION BY event_type)                AS n
        FROM events
    ),
    disc AS (
        SELECT r.event_type, q.q, min(r.value) AS x_disc
        FROM ranked r, qs q
        WHERE r.rn = CAST(ceil(q.q * r.n) AS BIGINT)
        GROUP BY r.event_type, q.q
    )
    SELECT e.event_type, e.q, e.est, d.x_disc,
           (d.x_disc <= e.est AND e.est - d.x_disc
                <= (SELECT (hi - lo) / 64 FROM dom)) AS within_one_bin
    FROM est e JOIN disc d ON e.event_type = d.event_type AND e.q = d.q
    ORDER BY e.event_type, e.q
    """


@graded("q_hist_quantiles", oracle=HIST_QUANTILES_ORACLE)
def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equi-width histogram sketch → bounded-error quantiles
    (operators/histogram.py), graded against the exact discrete
    quantile: per (event_type, q ∈ {0.5, 0.9, 0.99}) the sketch
    estimate, the exact rank-⌈q·N⌉ value, and the one-bin-error bound —
    which is a THEOREM of the construction (x_disc ≤ est ≤ x_disc + w),
    so the booleans are deterministic under any fixture. The oracle
    replays the identical bin arithmetic, making `est` itself exact-
    comparable (pure IEEE arithmetic on both engines).

    This is the quantile member of the persisted-sketch kit (HLL =
    distincts, CMS = point frequencies): fixed global bin edges make
    per-day grids cell-wise ADDITIVE (tests prove merge-exactness), so
    range quantile queries read KB-sized grids, never history.

    100 TB: the sketch build shuffles ≤ |groups|·|bins| combined cells
    per partition; quantile extraction runs on the cell table alone.
    The exact-quantile leg here exists only to grade the bound — it is
    the expensive path the sketch replaces in production.
    """
    from noaa_etl_spark.operators.histogram import hist_build, hist_quantiles

    N_BINS, QS = 64, [0.5, 0.9, 0.99]
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    dom = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi")).collect()[0]
    lo, hi = float(dom.lo), float(dom.hi)
    w = (hi - lo) / N_BINS

    hist = hist_build(ev, "value", lo, hi, N_BINS, group_cols=("event_type",))
    est = hist_quantiles(hist, QS, lo, hi, N_BINS, group_cols=("event_type",))

    gw = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(gw.orderBy("value")).alias("rn"),
        F.count(F.lit(1)).over(gw).alias("n"),
    )
    q_df = spark.createDataFrame([(q,) for q in QS], "q double")
    disc = (
        ranked.crossJoin(F.broadcast(q_df))
        .filter(F.col("rn") == F.ceil(F.col("q") * F.col("n")))
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


@graded(
    "q_connected_components",
    oracle="""
    WITH RECURSIVE
    e0 AS (
        SELECT DISTINCT CAST(l_orderkey * 2 AS BIGINT)     AS u,
                        CAST(l_partkey * 2 + 1 AS BIGINT)  AS v
        FROM lineitem WHERE l_quantity >= 49
    ),
    edges AS (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0),
    reach(node, lab) AS (
        SELECT u AS node, u AS lab FROM edges
        UNION
        SELECT e.v AS node, r.lab FROM reach r JOIN edges e ON e.u = r.node
    )
    SELECT node, CAST(min(lab) AS BIGINT) AS component
    FROM reach GROUP BY node
    """,
)
def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the high-quantity co-purchase graph
    (orders ↔ parts that appear together with l_quantity ≥ 49) — the
    graph primitive under every dedup-cluster / entity-resolution job.
    Bipartite node encoding: order → 2k, part → 2k+1 (disjoint id
    spaces, reversible). At sf0.01 this is ~1.2k components of up to
    16 nodes, so the propagation genuinely runs multiple hops.

    Engine side (r16 opt): connected_components' size dispatch
    (operators/graph.py), first given to entity_resolution. The
    high-quantity subgraph is ~1.2k–12k edges at graded SFs, so the distributed
    O(log d) loop (hash-min propagation + pointer jumping,
    operators/graph.py) was pure rounds × scheduling floor here:
    7.7 s warm at sf0.1 vs ~0.5 s via the probe + driver union-find
    (identical min-labels, pinned in tests/test_graph.py; the
    distributed loop itself stays covered by tests and by every
    above-cap caller). The oracle is a DuckDB recursive CTE computing
    min reachable id per node (exact reachability semantics —
    tractable because the graded subgraph's transitive closure is
    ~13k pairs at sf0.01).

    100 TB: the raw-limit probe early-terminates, a data-sized edge
    list takes the distributed path — per-round shuffle volume there is
    16 bytes/node regardless of edge payloads; hub skew is AQE-split
    aggregation skew, not a cartesian (full analysis in
    operators/graph.py docstring).
    """
    from noaa_etl_spark.operators.graph import connected_components

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.filter(F.col("l_quantity") >= 49).select(
        (F.col("l_orderkey") * 2).cast("bigint").alias("src"),
        (F.col("l_partkey") * 2 + 1).cast("bigint").alias("dst"),
    )
    return connected_components(edges)


@graded("q_pagerank")  # rows-only: float ranks are iteration-scheme-
# specific (no SQL oracle — DuckDB 1.0 lacks recursive USING KEY);
# exactness vs a numpy power iteration is pinned to 1e-9 in
# tests/test_algorithms.py::test_pagerank_matches_numpy_power_iteration
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality of the high-quantity co-purchase graph (the
    q_connected_components graph, symmetrized): which orders/parts sit
    at the center of the co-purchase web — the link-analysis step
    behind dedup-cluster canonical-document election and catalog
    importance scoring. Top 50 nodes by rank.

    operators/graph.pagerank: per-iteration one (node, rank) hash join
    to the edge table + a combinable sum, dangling mass redistributed,
    shuffles sized to the graph (the CC cost model; 16-byte rows, no
    adjacency materialization).
    """
    from noaa_etl_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    fwd = li.filter(F.col("l_quantity") >= 49).select(
        (F.col("l_orderkey") * 2).cast("bigint").alias("src"),
        (F.col("l_partkey") * 2 + 1).cast("bigint").alias("dst"),
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = pagerank(edges, n_iter=10)
    return ranks.orderBy(F.desc("rank"), F.asc("node")).limit(50)


@graded(
    "q_skew_diagnose",
    oracle="""
    WITH freq AS (
      SELECT CASE WHEN grouping(l_orderkey) = 0 THEN 'l_orderkey'
                  WHEN grouping(l_partkey) = 0 THEN 'l_partkey'
                  ELSE 'l_suppkey' END AS key_col,
             count(*) AS freq
      FROM lineitem
      GROUP BY GROUPING SETS ((l_orderkey), (l_partkey), (l_suppkey))
    )
    SELECT key_col,
           CAST(count(*) AS BIGINT)  AS n_keys,
           CAST(sum(freq) AS BIGINT) AS n_rows,
           CAST(max(freq) AS BIGINT) AS max_freq,
           CAST(max(freq) AS DOUBLE) / sum(freq)  AS top_share,
           quantile_cont(freq, 0.5)  AS p50_freq,
           quantile_cont(freq, 0.99) AS p99_freq,
           quantile_cont(freq, 0.99) / quantile_cont(freq, 0.5) AS skew_ratio
    FROM freq
    GROUP BY key_col
    ORDER BY key_col
    """,
)
def q_skew_diagnose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis: per candidate shuffle key of the fact
    table, the key-frequency distribution stats that decide the
    physical strategy — top-key share (broadcast the dim? salt the
    key?), p99/p50 frequency ratio (AQE skew-split territory above
    ~5), key cardinality (bucketing width). This is the measurement
    step behind every salting/bucketing rule in SCALING.md, packaged
    as an operator.

    One-pass design: GROUPING SETS over the three key columns builds
    all three frequency tables in a single scan + one Expand+combinable
    agg (the q_profile_columns trick applied to key heat); the stats
    agg then runs per key_col on the tiny freq relation. Exact
    percentiles — Spark F.percentile == DuckDB quantile_cont
    bit-for-bit (the q_percentiles/q_anomaly_mad parity).

    100 TB: the Expand triples the scanned rows but they collapse in
    the map-side partial agg (distinct keys, not rows, cross the
    wire); the stats pass input is |keys| rows. Exact percentiles over
    per-key freq lists are bounded by key cardinality per group —
    the operator's own n_keys output tells you when to switch the
    percentile leg to the histogram sketch (operators/histogram.py).
    """
    li = load_table(spark, sf_dir, "lineitem")
    li.select("l_orderkey", "l_partkey", "l_suppkey").createOrReplaceTempView(
        "skew_diag_lineitem"
    )
    freq = spark.sql(
        """
        SELECT CASE WHEN grouping(l_orderkey) = 0 THEN 'l_orderkey'
                    WHEN grouping(l_partkey) = 0 THEN 'l_partkey'
                    ELSE 'l_suppkey' END AS key_col,
               count(*) AS freq
        FROM skew_diag_lineitem
        GROUP BY GROUPING SETS ((l_orderkey), (l_partkey), (l_suppkey))
        """
    )
    p50 = F.percentile("freq", F.lit(0.5))
    p99 = F.percentile("freq", F.lit(0.99))
    return (
        freq.groupBy("key_col")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("freq").alias("n_rows"),
            F.max("freq").alias("max_freq"),
            (F.max("freq").cast("double") / F.sum("freq")).alias("top_share"),
            p50.alias("p50_freq"),
            p99.alias("p99_freq"),
            (p99 / p50).alias("skew_ratio"),
        )
        .orderBy("key_col")
    )


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The high-quantity part co-purchase graph the graph queries share:
    one (u, v) edge, u < v, per pair of distinct parts bought together
    with l_quantity >= 45 in some order. Unmaterialised — each caller
    persists or checkpoints it as its reader count needs."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    return (
        a.join(b, ["l_orderkey"])
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )


@graded(
    "q_triangle_count",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_quantity >= 45 AND b.l_quantity >= 45
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs
      ) GROUP BY node
    ),
    tri AS (
      SELECT count(*) AS t
      FROM pairs e1
      JOIN pairs e2 ON e2.u = e1.v
      JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT CAST((SELECT count(*) FROM pairs) AS BIGINT)        AS n_edges,
           CAST((SELECT sum(d * (d - 1) / 2) FROM deg) AS BIGINT) AS n_wedges,
           CAST((SELECT t FROM tri) AS BIGINT)                 AS n_triangles,
           CAST(3 AS DOUBLE) * (SELECT t FROM tri)
             / (SELECT sum(d * (d - 1) / 2) FROM deg)          AS global_clustering
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + global clustering coefficient of the
    part-co-purchase graph (parts bought together in one high-quantity
    order; every within-order pair is an edge, so orders form cliques
    and cross-order overlaps knit them together) — the graph-quality
    metric behind community detection and link-spam screens.

    Engine: the DEGREE-ORIENTED wedge algorithm — orient each
    canonical (u < v) edge from its lower-degree endpoint (ties by
    id), join oriented edges on their source to enumerate wedges, and
    close each wedge against the canonical edge set. Orientation
    bounds out-degree at O(√m), so wedge volume is O(m^1.5) worst-case
    instead of Σd² — the standard distributed-triangle trade (oracle
    replays the u<v<w triple join, which is exact but quadratic in hub
    degree; the engine never enumerates an unoriented hub's wedges).

    Exactness: counts are integers; the clustering coefficient is one
    double division of exact integers.

    Scale: three co-partitioned equi-joins over (node, node) rows; the
    degree table is a combinable agg; no collect. Hub skew lands on
    the wedge join's source key, where orientation has already capped
    fan-out at √m.
    """
    # referenced 3× (degrees, wedge sides, closure)
    pairs = copurchase_edges(spark, sf_dir).persist()
    pairs.count()
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionByName(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .persist()
    )
    deg.count()
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    with_deg = pairs.join(du, "u").join(dv, "v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).persist()
    oriented.count()
    o1 = oriented.select("src", F.col("dst").alias("w1"))
    o2 = oriented.select("src", F.col("dst").alias("w2"))
    wedges = o1.join(o2, "src").filter(F.col("w1") < F.col("w2"))
    closed = wedges.join(
        pairs,
        (F.col("w1") == F.col("u")) & (F.col("w2") == F.col("v")),
        "left_semi",
    )
    n_tri = closed.count()
    n_edges_row = pairs.count()
    wedge_total = deg.agg(
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("bigint")).alias("w")
    ).collect()[0]["w"]
    out = spark.createDataFrame(
        [(int(n_edges_row), int(wedge_total), int(n_tri))],
        "n_edges bigint, n_wedges bigint, n_triangles bigint",
    )
    return out.select(
        "n_edges",
        "n_wedges",
        "n_triangles",
        (
            F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges")
        ).alias("global_clustering"),
    )


@graded(
    "q_shortest_path_bfs",
    oracle="""
    WITH RECURSIVE pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      WHERE a.l_quantity >= 45 AND b.l_quantity >= 45
    ),
    seeds AS (
      SELECT DISTINCT u AS node
      FROM pairs JOIN part ON p_partkey = u
      WHERE p_type LIKE 'PROMO%'
    ),
    walk(node, d) AS (
      SELECT node, 0 AS d FROM seeds
      UNION
      SELECT p.v, w.d + 1 FROM walk w JOIN pairs p ON p.u = w.node
      WHERE w.d < 6
    )
    SELECT node AS part_key, CAST(min(d) AS INT) AS hops
    FROM walk GROUP BY node
    """,
)
def q_shortest_path_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source shortest path: each part's hop distance (≤ 6) to
    the nearest PROMO-type part through the high-quantity co-purchase
    graph — the blast-radius / degrees-of-separation query behind
    fraud-ring scoring and promo-influence analysis. Nodes further
    than 6 hops (or unreachable) are absent.

    Engine: operators/graph.py level-synchronous frontier BFS — per
    hop ONE co-partitioned (node, hop) join along persisted symmetric
    edges + an anti-join that keeps first arrivals, so rounds are
    bounded by the hop cap (bounded-reach contract; unbounded
    reachability is connected_components' job). The oracle is a DuckDB
    recursive CTE whose UNION-dedup working table is bounded by
    |nodes| × 7 (node, depth) pairs — exact min-hop semantics.

    100 TB: per-round shuffle is 12-byte rows; hub fan-out is AQE-split
    join skew; the candidate graph build is the triangle-count
    co-partitioned self-join, never a cross join.
    """
    from noaa_etl_spark.operators.graph import bfs_distances

    pairs = copurchase_edges(spark, sf_dir)
    promo = load_table(spark, sf_dir, "part").filter(
        F.col("p_type").like("PROMO%")
    ).select(F.col("p_partkey").alias("node"))
    nodes = pairs.select(F.col("u").alias("node")).unionByName(
        pairs.select(F.col("v").alias("node"))
    )
    seeds = nodes.join(F.broadcast(promo), "node", "left_semi")
    dist = bfs_distances(pairs, seeds, src="u", dst="v", max_hops=6)
    return dist.select(F.col("node").alias("part_key"), "hops")


@graded(
    "q_market_basket_lift",
    oracle="""
    WITH basket AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
             CAST(count(*) AS BIGINT) AS pair_n
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    ),
    marg AS (
      SELECT p_brand, CAST(count(*) AS BIGINT) AS n FROM basket GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM basket
    )
    SELECT brand_a, brand_b, pair_n,
           ma.n AS n_a, mb.n AS n_b, n_orders,
           round(CAST(pair_n AS DOUBLE) / n_orders, 6)              AS support,
           round(CAST(pair_n AS DOUBLE) / ma.n, 6)                  AS conf_a_b,
           round(CAST(pair_n AS DOUBLE) / mb.n, 6)                  AS conf_b_a,
           round(CAST(pair_n AS DOUBLE) * n_orders / (ma.n * mb.n), 6) AS lift
    FROM pairs
    JOIN marg ma ON brand_a = ma.p_brand
    JOIN marg mb ON brand_b = mb.p_brand
    CROSS JOIN tot
    WHERE pair_n >= 5
    """,
)
def q_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules at the brand level: for every
    co-purchased brand pair, support / both-direction confidence /
    lift — the classic recommender-bootstrap report (Agrawal-Srikant
    heritage) and the batch complement of q_cooccurrence_pmi's
    event-bigram collocations (PMI scores sequences; lift scores
    unordered baskets).

    Exactness: pair and marginal counts are exact BIGINTs; each
    support/confidence/lift is ONE fixed double expression per row
    from those integers (rounded 6dp) — no accumulation order.

    Scale: the pair enumeration is a co-partitioned self-join on the
    ORDER key with per-group fan-out bounded by |brands| ≤ 25 (the
    triangle-count cost model — never an item×item cross join); the
    basket frame is localCheckpointed because FOUR subtrees read it
    (two join sides, marginals, order count — the SCALING.md
    double-plan rule; checkpoint, not persist, so the build plan stays
    out of each reader's exchange accounting); marginals and the
    one-row total broadcast onto
    the pair relation; pair_n ≥ 5 prunes the long random tail at the
    report edge only.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    brands = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    basket = (
        li.join(F.broadcast(brands), "l_partkey")
        .select("l_orderkey", "p_brand")
        .distinct()
        .localCheckpoint()
    )
    a = basket.select("l_orderkey", F.col("p_brand").alias("brand_a"))
    b = basket.select("l_orderkey", F.col("p_brand").alias("brand_b"))
    # The pair enumeration is basket×basket on the ORDER key — big×big
    # BY DESIGN at 100 TB, pinned MERGE (not shuffle_hash): the
    # checkpointed scan carries no stats so AQE's fixture-scale
    # broadcast flip must be pinned away, but ShuffledHashJoin builds a
    # NON-SPILLABLE per-partition hash relation and aborted the 100×
    # sweep with "Can't acquire ... to build hash relation" — sort-merge
    # spills, which is the honest plan when the per-partition build side
    # grows with data (contrast skew_join_salted, where the salt BOUNDS
    # the build partition and shuffle_hash stays correct).
    pairs = (
        a.join(b.hint("merge"), "l_orderkey")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_n"))
        .filter(F.col("pair_n") >= 5)
    )
    marg = basket.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = basket.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    ma = marg.select(F.col("p_brand").alias("brand_a"), F.col("n").alias("n_a"))
    mb = marg.select(F.col("p_brand").alias("brand_b"), F.col("n").alias("n_b"))
    pair_d = F.col("pair_n").cast("double")
    return (
        pairs.join(F.broadcast(ma), "brand_a")
        .join(F.broadcast(mb), "brand_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "brand_a",
            "brand_b",
            "pair_n",
            "n_a",
            "n_b",
            "n_orders",
            F.round(pair_d / F.col("n_orders"), 6).alias("support"),
            F.round(pair_d / F.col("n_a"), 6).alias("conf_a_b"),
            F.round(pair_d / F.col("n_b"), 6).alias("conf_b_a"),
            F.round(
                pair_d * F.col("n_orders") / (F.col("n_a") * F.col("n_b")), 6
            ).alias("lift"),
        )
    )


@graded(
    "q_jaccard_neighbors",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_quantity >= 45 AND b.l_quantity >= 45
    ),
    nbrs AS (
      SELECT u AS node, v AS nbr FROM pairs
      UNION ALL
      SELECT v AS node, u AS nbr FROM pairs
    ),
    common AS (
      SELECT n1.nbr AS a, n2.nbr AS b, CAST(count(*) AS BIGINT) AS common_neighbors
      FROM nbrs n1 JOIN nbrs n2
        ON n1.node = n2.node AND n1.nbr < n2.nbr
      GROUP BY 1, 2
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d FROM nbrs GROUP BY node
    )
    SELECT c.a AS u, c.b AS v, c.common_neighbors,
           da.d AS deg_u, db.d AS deg_v,
           CAST(c.common_neighbors AS DOUBLE)
             / (da.d + db.d - c.common_neighbors) AS jaccard
    FROM common c
    JOIN deg da ON da.node = c.a
    JOIN deg db ON db.node = c.b
    WHERE c.common_neighbors >= 2
    """,
)
def q_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard link prediction on the part-co-purchase
    graph: for every node pair sharing ≥ 2 common neighbors — whether
    or not they are themselves connected — emit
    |N(u)∩N(v)| / |N(u)∪N(v)| (union via inclusion-exclusion:
    dᵤ + dᵥ − common). The classic "customers who bought these also
    bought..." candidate generator and the simplest structural
    link-prediction score (Liben-Nowell & Kleinberg '03).

    Exactness: common counts and degrees are exact BIGINTs from
    combinable aggs; jaccard is ONE division of exact integers —
    correctly-rounded ⇒ bit-equal, no rounding.

    Scale: wedges (a—w—b) are enumerated from each common neighbor w
    via the co-partitioned self-join on w and counted by a combinable
    (a,b) agg — Σ d(w)·(d(w)−1)/2 candidate rows, the inherent
    common-neighbor volume (unlike triangle counting there is no
    orientation trick: every wedge IS output evidence, not a closure
    probe). A hot hub w inflates that bound quadratically — the
    containment-dedup df-cap (cap per-node neighbor lists at the
    join's own partitioning, documented Σmin(d,cap)² bound) is the
    next gear when the graph carries celebrity nodes; the ≥2-common
    output filter keeps the result relation sparse either way. Degree
    lookups are two broadcast-size joins on the reduced pair relation.
    """
    # localCheckpoint, not persist: the edge set is read by FOUR
    # branches (nbrs union sides, deg, and through them common) — a
    # cached frame EMBEDS its build plan under every InMemoryTableScan,
    # so audits double-count the build exchanges per reader;
    # checkpointing truncates lineage to a scan (and re-reads survive
    # executor loss, unlike MEMORY_ONLY cache).
    pairs = copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    nbrs = pairs.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionByName(
        pairs.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    n1 = nbrs.select("node", F.col("nbr").alias("a"))
    n2 = nbrs.select("node", F.col("nbr").alias("b"))
    # merge hint: the wedge self-join is big×big at scale (both sides
    # are the full neighbor relation), so pin a deterministic strategy
    # instead of letting AQE flip it to broadcast at fixture sizes —
    # the flip KEEPS the feeding exchanges and proved session-order-
    # dependent, flapping the COSTS gate. MERGE, not shuffle_hash: the
    # per-partition build side grows with the data and SHJ's hash
    # relation cannot spill (the basket_lift 100×-sweep abort class);
    # sort-merge pays a spillable sort instead of an un-spillable OOM.
    common = (
        n1.hint("merge").join(n2, "node")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common_neighbors"))
        .filter(F.col("common_neighbors") >= 2)
    )
    # deg is read TWICE (u-side and v-side lookups) — checkpoint the
    # tiny degree table so the duplicated agg subtree doesn't re-plan
    # per branch (exchange-reuse across duplicated subtrees proved
    # run-order-dependent under AQE, flapping the COSTS gate ±2).
    deg = (
        nbrs.groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .localCheckpoint(eager=True)
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("deg_u"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("deg_v"))
    return (
        common.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            "common_neighbors",
            "deg_u",
            "deg_v",
            (
                F.col("common_neighbors").cast("double")
                / (F.col("deg_u") + F.col("deg_v") - F.col("common_neighbors"))
            ).alias("jaccard"),
        )
    )


# Shared by the batch query and its streaming twin (twin #14): both
# reduce to the identical one-row summary, so the twin grades against
# this oracle verbatim — KMV min-k merge is exact by theorem (the
# global k smallest distinct hashes are contained in the union of any
# cover's per-part k smallest), extending the twin-equality contract
# from linear sketch grids (CMS) and moment states (stats merge) to
# ORDER-STATISTIC sketches.
KMV_K = 64
KMV_ORACLE = """
WITH d AS (SELECT DISTINCT o_custkey FROM orders),
v AS (
  SELECT DISTINCT
         CAST(CAST('0x' || substr(md5('kmv:' || CAST(o_custkey AS VARCHAR)), 1, 12)
              AS UBIGINT) AS BIGINT) AS v
  FROM d
),
mink AS (SELECT v FROM v ORDER BY v LIMIT 64)
SELECT CAST(64 AS BIGINT) AS k,
       (SELECT max(v) FROM mink) AS kth_v,
       CAST(63 AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
           / (SELECT max(v) FROM mink) AS est_distinct,
       (SELECT CAST(count(*) AS BIGINT) FROM d) AS exact_distinct
"""


def kmv_hash(col):
    """48-bit uniform hash for KMV: the first 12 hex digits of
    md5('kmv:' || key) as a BIGINT in [0, 2^48) — the same
    hash-to-integer derivation both engines evaluate identically
    (q_weighted_sample's u, kept integer here so the order statistic
    is EXACT; the single division happens once, in the estimate)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit("kmv:"), col.cast("string"))), 1, 12),
        16,
        10,
    ).cast("bigint")


def kmv_summarize(spark: SparkSession, distinct_keys: DataFrame, key: str) -> DataFrame:
    """One-row KMV summary from a DISTINCT-key frame: hash keys to
    48-bit integers, keep the k smallest DISTINCT hash values (the KMV
    sketch), and estimate the cardinality as (k−1)/u_(k) with
    u_(k) = v_k / 2^48 — the classic bottom-k estimator (Bar-Yossef
    et al.). The order statistic stays INTEGER end-to-end; the single
    division happens once in the estimate, so the emitted double is
    bit-equal cross-engine.

    Scale: min-k is TakeOrderedAndProject (per-partition heaps, k rows
    to the driver-side merge — no global sort); the hash-distinct runs
    on the already-reduced key relation."""
    vs = distinct_keys.select(kmv_hash(F.col(key)).alias("v")).dropDuplicates(["v"])
    mink = vs.orderBy("v").limit(KMV_K)
    kth = mink.agg(F.max("v").cast("bigint").alias("kth_v"))
    exact = distinct_keys.agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_distinct")
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


@graded("q_kmv_distinct", oracle=KMV_ORACLE)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct-count sketch as a
    DataFrame composition — the ORDER-STATISTIC member of the mergeable
    sketch family (HLL = register-max, CMS = counter-grid, stats-merge
    = moment state, distinct-rollup = set state). The sketch is just
    the k smallest distinct 48-bit key hashes; merging sketches is a
    min-k of their union, EXACTLY equal to the sketch of the union (a
    theorem, not an approximation — the global k smallest are
    contained in every cover's per-part k smallest), which is what the
    streaming twin grades and tests/test_heavy_hitters.py pins.

    Unlike HLL the estimate is engine-reproducible: both engines
    derive the identical md5-based hash, so kth_v is an EXACT BIGINT
    and the (k−1)/u_(k) estimate one bit-equal division — an
    oracle-paired approximate-distinct, where q_approx_aggs' HLL leg
    is rows-only by necessity.

    Plan: one fact scan → distinct custkeys (ONE exchange, map-side
    combined); the two one-row legs (kth order statistic, exact count)
    read the localCheckpointed reduced relation, never the fact.
    """
    orders = load_table(spark, sf_dir, "orders")
    d = orders.select("o_custkey").distinct().localCheckpoint()
    return kmv_summarize(spark, d, "o_custkey")


@graded(
    "q_degree_distribution",
    oracle="""
    WITH li AS (
      SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 45
    ),
    pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
      GROUP BY node
    )
    SELECT d,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(count(*)) OVER (ORDER BY d DESC) AS BIGINT) AS n_nodes_ge_d
    FROM deg GROUP BY d
    """,
)
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part-co-purchase graph with the
    complementary-cumulative column (n_nodes with degree ≥ d) — the
    diagnostic that tells you BEFORE running triangles/CC/PageRank
    whether hub skew will straggle a join (the q_skew_diagnose of the
    graph family; its heavy tail is what the triangle count's
    degree-orientation and the event-sequence celebrity cap exist for).

    Exactness: all BIGINT counts; the ccdf rides one window over the
    |distinct degrees|-sized relation.

    Scale: same bounded clique-expansion edge build as q_triangle_count
    (within-order pairs, quantity-filtered); degrees are one combinable
    agg; the histogram is |degrees| rows."""
    pairs = copurchase_edges(spark, sf_dir)
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionByName(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    hist = deg.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    w = Window.orderBy(F.desc("d")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return hist.select(
        "d", "n_nodes", F.sum("n_nodes").over(w).cast("bigint").alias("n_nodes_ge_d")
    )


@graded(
    "q_skew_join_salted",
    oracle="""
    WITH fact AS (
      SELECT CASE WHEN substr(md5('skj:' || CAST(l_orderkey AS VARCHAR) || ':'
                                  || CAST(l_linenumber AS VARCHAR)), 1, 1) < '4'
                  THEN 1 ELSE l_suppkey END AS k,
             l_orderkey,
             CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    )
    SELECT n.n_name,
           CAST(count(*) AS BIGINT)    AS n_items,
           CAST(sum(f.cents) AS BIGINT) AS floor_cents
    FROM fact f
    JOIN supplier s ON f.k = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted big×big skew JOIN (operators/skew.salted_shuffle_join) —
    the join-side sibling of q_salted_agg: 25% of lineitem rows are
    remapped to a single celebrity supplier key (the md5-gate
    synthesized hot key), then joined to the supplier build side with
    the fact salted and the build replicated ×16, so the hot key's rows
    spread over 16 reducers instead of melting one task. The oracle IS
    the plain join — salting must be result-invisible; only the shuffle
    layout differs.

    The join is pinned .hint("shuffle_hash") inside the operator: it is
    big×big BY DESIGN, and AQE's fixture-scale broadcast flip is
    session-order-dependent (the COSTS-gate rule). Exactness: exact
    floor-cents BIGINTs everywhere.

    100 TB: this is the manual gear when AQE's skew split can't act —
    stats-free checkpoint scans, or a hot key whose single-key volume
    exceeds what split-by-size can rebalance (split subpartitions still
    hash to the same reducer set under a follow-on window/agg on the
    key). The build side crosses the wire buckets× — profitable when
    build ≪ fact/buckets, the medium-dim × skewed-fact regime; beyond
    that, the hot/cold split (replicated_broadcast_join) is the next
    gear."""
    from noaa_etl_spark.operators.skew import salted_shuffle_join

    li = load_table(spark, sf_dir, "lineitem")
    hot = (
        F.substring(
            F.md5(
                F.concat(
                    F.lit("skj:"),
                    F.col("l_orderkey").cast("string"),
                    F.lit(":"),
                    F.col("l_linenumber").cast("string"),
                )
            ),
            1,
            1,
        )
        < "4"
    )
    fact = li.select(
        F.when(hot, F.lit(1)).otherwise(F.col("l_suppkey")).alias("k"),
        "l_orderkey",
        F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    build = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", "n_name")
    joined = salted_shuffle_join(
        fact, build, fact_key="k", build_key="s_suppkey", salt_col="l_orderkey"
    )
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("cents").cast("bigint").alias("floor_cents"),
    )


@graded("q_kcore")  # rows-only: iterative peeling has no SQL oracle
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the part-co-purchase graph (operators/graph.kcore):
    the maximal subgraph where every part co-occurs with ≥3 other core
    parts — the density filter that strips tendrils/leaf noise before
    community detection, and the standard engagement-tier cut in social
    graphs. Same edge universe as q_triangle_count.

    Rows-only grade (iterative peeling to fixpoint — DuckDB 1.0's
    recursive CTE cannot re-aggregate degrees per round); correctness
    is pinned in tests/test_algorithms.py against a brute-force Python
    peel (exact node set + per-node core degree) plus the min-degree
    and maximality properties on adversarial shapes (a clique wearing a
    chain tail peels to the clique; a (k-1)-regular graph peels to
    nothing).

    100 TB: O(shell-depth) rounds of combinable degree agg + two
    semi-joins over the shrinking edge list, co-partitioned on the
    node key; per-round localCheckpoint + data-sized scoped shuffles
    (the connected-components iterative-loop rule)."""
    from noaa_etl_spark.operators.graph import kcore

    edges = copurchase_edges(spark, sf_dir)
    return kcore(edges, k=3).select(
        F.col("node").cast("bigint").alias("part"), "core_deg"
    )


@graded("q_label_propagation")  # rows-only: iterative sync rounds have
# no SQL oracle (DuckDB recursive CTEs cannot re-aggregate neighbor
# modes per round); exactness vs a Python reference LPA is pinned in
# tests/test_algorithms.py on planted two-community and barbell graphs.
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the high-quantity part-co-purchase graph
    (the q_kcore / q_triangle_count edge universe) via deterministic
    synchronous label propagation (operators/graph.label_propagation,
    5 rounds, min-label tiebreak) — the clustering step after the
    density filter (kcore) and before per-community rollups; completes
    the graph family (CC, BFS, PageRank, triangles, degrees, k-core,
    LPA).

    Output: one row per community (label, n_members, min_part) for
    communities of ≥ 2 parts — the community census, not the raw
    assignment (compact and grading-stable).

    100 TB: 5 rounds × (edge-label join + combinable count + node-grain
    argmax), 16-byte rows, data-sized scoped shuffles — the CC cost
    model with a constant round budget.
    """
    from noaa_etl_spark.operators.graph import label_propagation

    edges = copurchase_edges(spark, sf_dir)
    labels = label_propagation(edges, rounds=5)
    return (
        labels.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("node").cast("bigint").alias("min_part"),
        )
        .filter(F.col("n_members") >= 2)
        .select(F.col("label").cast("bigint").alias("label"), "n_members", "min_part")
    )


LOCAL_CC_ORACLE = """
    WITH li AS (
      SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 45
    ),
    pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
      GROUP BY node
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM pairs e1
      JOIN pairs e2 ON e2.u = e1.v
      JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    tnodes AS (
      SELECT node, CAST(count(*) AS BIGINT) AS t
      FROM (SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
      GROUP BY node
    ),
    fin AS (
      SELECT d.node, d.d, CAST(coalesce(t.t, 0) AS BIGINT) AS t
      FROM deg d LEFT JOIN tnodes t USING (node) WHERE d.d >= 2
    )
    SELECT node, d AS degree, t AS n_triangles,
           round(2.0 * t / (CAST(d AS DOUBLE) * (d - 1)), 6) AS local_cc
    FROM fin ORDER BY d DESC, node LIMIT 20
    """


@graded("q_clustering_coefficient", oracle=LOCAL_CC_ORACLE)
def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-NODE local clustering coefficient of the part-co-purchase
    graph — the node-grain companion to q_triangle_count's global
    statistic (cc_v = 2 T_v / (d_v (d_v - 1)): how clique-like is each
    hub's neighborhood? link-spam and bot rings read near-1.0; organic
    hubs read low) — reported for the top-20 nodes by (degree DESC,
    node) so the output is bounded and integer-ordered.

    Engine: the degree-oriented wedge enumeration (the q_triangle_count
    trade, O(m^1.5) wedge volume) finds each triangle EXACTLY once;
    per-node counts come from exploding each closed triangle to its
    three corners and one combinable count agg — no per-node wedge
    re-scan. Multi-reader frames (pairs, deg, oriented) are
    localCheckpoint'd, not persist'd (the plan-accounting lesson). The
    coefficient is one double division of exact integers (rounded 6dp
    for display); the oracle replays the exact u<v<w triple join.

    Scale: co-partitioned equi-joins over (node, node) rows;
    orientation caps wedge fan-out at O(sqrt(m)); explode is 3 rows
    per triangle."""
    li = load_table(spark, sf_dir, "lineitem")
    return cc_report_from_items(cc_items(li))


def cc_items(li: DataFrame) -> DataFrame:
    """The distinct (orderkey, part) high-quantity item relation — the
    UNION-DISTINCT-mergeable clustering state: co-purchase EDGES are
    NOT per-batch computable when an order's lines split across
    micro-batches (the cross-batch pairs exist in neither), but the
    item set folds by distinct union and pairs are derived at
    finalize — the gap-regularity boundary lesson on the graph axis."""
    return (
        li.filter(F.col("l_quantity") >= 45)
        .select("l_orderkey", F.col("l_partkey").alias("part"))
        .distinct()
    )


def cc_report_from_items(items: DataFrame) -> DataFrame:
    """Shared local-clustering finalize: pairs from the folded item
    relation, degree-oriented wedges, per-node triangle counts."""
    a = items.select("l_orderkey", F.col("part").alias("u"))
    b = items.select("l_orderkey", F.col("part").alias("v"))
    pairs = (
        a.join(b, ["l_orderkey"])
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .localCheckpoint()
    )
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionByName(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .localCheckpoint()
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    with_deg = pairs.join(du, "u").join(dv, "v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).localCheckpoint()
    o1 = oriented.select("src", F.col("dst").alias("w1"))
    o2 = oriented.select("src", F.col("dst").alias("w2"))
    wedges = o1.join(o2, "src").filter(F.col("w1") < F.col("w2"))
    closed = wedges.join(
        pairs,
        (F.col("w1") == F.col("u")) & (F.col("w2") == F.col("v")),
        "left_semi",
    )
    tnodes = (
        closed.select(
            F.explode(F.array(F.col("src"), F.col("w1"), F.col("w2"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    fin = (
        deg.join(tnodes, "node", "left")
        .select(
            "node",
            "d",
            F.coalesce(F.col("t"), F.lit(0).cast("bigint")).alias("t"),
        )
        .filter(F.col("d") >= 2)
    )
    cc = F.round(
        F.lit(2.0) * F.col("t") / (F.col("d").cast("double") * (F.col("d") - 1)), 6
    )
    return (
        fin.orderBy(F.desc("d"), F.asc("node"))
        .limit(20)
        .select(
            "node",
            F.col("d").alias("degree"),
            F.col("t").alias("n_triangles"),
            cc.alias("local_cc"),
        )
    )
