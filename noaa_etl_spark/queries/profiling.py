"""Data-profiling and constraint-suite graded queries — the Deequ-style
observability surface every production table needs (SURVEY.md §2
adjunct; operators/quality.py carries the fail-fast/observe twin used
inside pipelines, these queries grade the REPORT form cross-engine).

Both queries are deliberately single-pass: the profile is one aggregate
over the table (multi-countDistinct planned as one Expand, not N scans),
and the constraint suite folds its row rules, the composite-key
uniqueness count, and the referential check into ONE aggregate over a
single broadcast-joined scan — the SCALING.md "agg + join-back =
double-plan smell" rule applied to QC: never pay a second 100 TB read
for metrics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from noaa_etl_spark.io import load_table, ntz_lit, spread_small_scan
from noaa_etl_spark.registry import graded

_PROFILE_NUM = ["event_id", "user_id", "value"]
_PROFILE_STR = ["event_type"]


@graded(
    "q_profile_columns",
    oracle="""
    SELECT 'event_id' AS col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nulls,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
           CAST(min(event_id) AS DOUBLE) AS min_num,
           CAST(max(event_id) AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str,
           CAST(NULL AS VARCHAR) AS max_str
    FROM events
    UNION ALL
    SELECT 'user_id', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT user_id) AS BIGINT),
           CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE),
           NULL, NULL
    FROM events
    UNION ALL
    SELECT 'value', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT value) AS BIGINT),
           CAST(min(value) AS DOUBLE), CAST(max(value) AS DOUBLE),
           NULL, NULL
    FROM events
    UNION ALL
    SELECT 'event_type', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT event_type) AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           min(event_type), max(event_type)
    FROM events
    ORDER BY col_name
    """,
)
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column table profile (row count, null count, exact distinct
    count, numeric/lexicographic envelopes) — the ANALYZE/Deequ-profile
    report, one row per column with a single stable schema across
    numeric and string columns.

    100 TB: ONE aggregate job — the multi-column countDistinct plans as
    a single Expand (k groupings in one shuffle), never one scan per
    column, and the per-column report rows are a ``stack`` projection
    of the single aggregate row (no re-scan per report row — the
    double-plan smell applied to profiling). Exact distincts are the
    graded contract; the 100 TB default swaps them for
    approx_count_distinct (one pass, no Expand, mergeable sketches —
    q_approx_aggs grades that path).
    """
    ev = load_table(spark, sf_dir, "events")
    n_rows = F.count(F.lit(1)).alias("n_rows")
    aggs = [n_rows]
    for c in _PROFILE_NUM + _PROFILE_STR:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"nd_{c}"))
    for c in _PROFILE_NUM:
        aggs.append(F.min(F.col(c)).cast("double").alias(f"mn_{c}"))
        aggs.append(F.max(F.col(c)).cast("double").alias(f"mx_{c}"))
    for c in _PROFILE_STR:
        aggs.append(F.min(F.col(c)).alias(f"mns_{c}"))
        aggs.append(F.max(F.col(c)).alias(f"mxs_{c}"))
    one = ev.agg(*aggs)

    rows = []
    for c in _PROFILE_NUM:
        rows.append(
            f"'{c}', n_rows, nn_{c}, nd_{c}, mn_{c}, mx_{c}, "
            "CAST(NULL AS STRING), CAST(NULL AS STRING)"
        )
    for c in _PROFILE_STR:
        rows.append(
            f"'{c}', n_rows, nn_{c}, nd_{c}, CAST(NULL AS DOUBLE), "
            f"CAST(NULL AS DOUBLE), mns_{c}, mxs_{c}"
        )
    n = len(rows)
    return one.select(
        F.expr(
            f"stack({n}, {', '.join(rows)}) AS "
            "(col_name, n_rows, n_nulls, n_distinct, min_num, max_num, "
            "min_str, max_str)"
        )
    ).orderBy("col_name")


@graded(
    "q_dq_checks",
    oracle="""
    WITH j AS (
      SELECT l.*, o.o_orderkey AS ref_key
      FROM lineitem l
      LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        ON l.l_orderkey = o.o_orderkey
    ), a AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS v_complete,
             CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END)
                  AS BIGINT) AS v_range,
             CAST(sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END)
                  AS BIGINT) AS v_accepted,
             CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '2000-01-01'
                           THEN 0 ELSE 1 END) AS BIGINT) AS v_ship,
             CAST(sum(CASE WHEN ref_key IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS v_ref,
             CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber))
                  AS BIGINT) AS v_unique
      FROM j
    )
    SELECT rule, violations, n_rows, violations = 0 AS passed
    FROM (
      SELECT 'completeness_orderkey' AS rule, v_complete AS violations, n_rows FROM a
      UNION ALL SELECT 'range_quantity_1_50', v_range, n_rows FROM a
      UNION ALL SELECT 'accepted_returnflag', v_accepted, n_rows FROM a
      UNION ALL SELECT 'ship_before_2000', v_ship, n_rows FROM a
      UNION ALL SELECT 'referential_orders', v_ref, n_rows FROM a
      UNION ALL SELECT 'unique_order_line', v_unique, n_rows FROM a
    )
    ORDER BY rule
    """,
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-suite report (Deequ/expect-style, report form): each
    named rule with its violation count and pass verdict — completeness,
    numeric range, accepted values, freshness bound, referential
    integrity against orders, and composite-key uniqueness. The suite
    intentionally contains rules that FAIL on the fixture (late
    shipments, the non-unique (orderkey, linenumber) pair) so the
    report's failure path is graded, not just the happy path.

    100 TB: all six rules cost ONE pass — row rules and the uniqueness
    countDistinct fold into a single aggregate over one broadcast-joined
    scan (referential violations are null refs from the broadcast left
    join, not a second anti-join scan). Report rows are a stack
    projection of the one aggregate row. At real scale the orders side
    outgrows broadcast → the join shuffles but stays one pass;
    operators/quality.observe_quality is the zero-extra-scan variant
    that rides an existing sink write.
    """
    # spread_small_scan (r15 opt): the six-rule agg + broadcast probe ran
    # entirely on the single-row-group scan task; no-op at real volume.
    li = spread_small_scan(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate"
        ),
        "l_orderkey",
    )
    refs = load_table(spark, sf_dir, "orders").select("o_orderkey").distinct()
    j = li.join(F.broadcast(refs), li["l_orderkey"] == refs["o_orderkey"], "left")

    def violations(ok_cond):
        return F.sum(F.when(ok_cond, 0).otherwise(1).cast("long"))

    one = j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_orderkey").isNull().cast("long")).alias("v_complete"),
        violations(F.col("l_quantity").between(1, 50)).alias("v_range"),
        violations(F.col("l_returnflag").isin("A", "N", "R")).alias("v_accepted"),
        violations(F.col("l_shipdate") < ntz_lit("2000-01-01")).alias("v_ship"),
        F.sum(F.col("o_orderkey").isNull().cast("long")).alias("v_ref"),
        (
            F.count(F.lit(1))
            - F.count_distinct(F.col("l_orderkey"), F.col("l_linenumber"))
        ).alias("v_unique"),
    )
    rules = [
        ("completeness_orderkey", "v_complete"),
        ("range_quantity_1_50", "v_range"),
        ("accepted_returnflag", "v_accepted"),
        ("ship_before_2000", "v_ship"),
        ("referential_orders", "v_ref"),
        ("unique_order_line", "v_unique"),
    ]
    stacked = ", ".join(f"'{name}', {col}, n_rows" for name, col in rules)
    return (
        one.select(
            F.expr(
                f"stack({len(rules)}, {stacked}) AS (rule, violations, n_rows)"
            )
        )
        .withColumn("passed", F.col("violations") == 0)
        .orderBy("rule")
    )


@graded(
    "q_k_anonymity",
    oracle="""
    WITH classes AS (
        SELECT c_nationkey, c_mktsegment,
               count(*)                          AS n,
               count(DISTINCT sign(c_acctbal))   AS n_sensitive
        FROM customer
        GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CAST(count(*) AS BIGINT)                                   AS n_classes,
           CAST(sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT)    AS n_violating,
           CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)    AS n_exposed_rows,
           CAST(min(n) AS BIGINT)                                     AS min_class_size,
           CAST(max(n) AS BIGINT)                                     AS max_class_size,
           CAST(sum(CASE WHEN n_sensitive < 2 THEN 1 ELSE 0 END) AS BIGINT)
                                                                      AS n_low_diversity
    FROM classes
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit over the quasi-identifier pair
    (c_nationkey, c_mktsegment) with balance sign as the sensitive
    attribute: one report row counting equivalence classes, classes
    smaller than k=10 (re-identifiable), the rows they expose, the
    class-size envelope, and classes with fewer than 2 distinct
    sensitive values (attribute disclosure even when k holds) — the
    privacy gate a dataset passes before leaving a governed zone.

    100 TB: one hash aggregate on the QI key (map-side combinable — the
    sensitive distinct-count is per-class, planned as a single Expand)
    then a second aggregate over |classes| rows, which is tiny by
    construction; no join-back to the source, no second scan.
    """
    cust = load_table(spark, sf_dir, "customer")
    # collect_set, not countDistinct: the sensitive domain is bounded
    # (sign ∈ {-1,0,1}), so the set is ≤3 elements and the whole class
    # table builds in ONE map-side-combinable aggregate — countDistinct
    # would plan a second Expand+exchange phase for the same answer.
    classes = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.size(F.collect_set(F.sign("c_acctbal"))).alias("n_sensitive"),
    )
    k = F.lit(10)
    return classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(F.when(F.col("n") < k, 1).otherwise(0)).alias("n_violating"),
        F.sum(F.when(F.col("n") < k, F.col("n")).otherwise(0)).alias("n_exposed_rows"),
        F.min("n").alias("min_class_size"),
        F.max("n").alias("max_class_size"),
        F.sum(F.when(F.col("n_sensitive") < 2, 1).otherwise(0)).alias("n_low_diversity"),
    )


@graded(
    "q_ks_drift",
    oracle="""
    WITH ref AS (
      SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS a
      FROM documents WHERE source = 'src0' GROUP BY 1
    ),
    oth AS (
      SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS b
      FROM documents WHERE source <> 'src0' GROUP BY 1, 2
    ),
    srcs AS (SELECT DISTINCT source FROM oth),
    refrep AS (SELECT s.source, r.v, r.a FROM srcs s CROSS JOIN ref r),
    pooled AS (
      SELECT coalesce(rr.source, o.source) AS source,
             coalesce(rr.v, o.v) AS v,
             coalesce(rr.a, CAST(0 AS BIGINT)) AS a,
             coalesce(o.b, CAST(0 AS BIGINT)) AS b
      FROM refrep rr FULL OUTER JOIN oth o
        ON rr.source = o.source AND rr.v = o.v
    ),
    cums AS (
      SELECT source,
             CAST(sum(a) OVER (PARTITION BY source ORDER BY v
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ca,
             CAST(sum(b) OVER (PARTITION BY source ORDER BY v
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cb,
             CAST(sum(a) OVER (PARTITION BY source) AS BIGINT) AS na,
             CAST(sum(b) OVER (PARTITION BY source) AS BIGINT) AS nb
      FROM pooled
    ),
    agg AS (
      SELECT source,
             CAST(max(abs(ca * nb - cb * na)) AS BIGINT) AS d_num,
             max(na) AS na, max(nb) AS nb
      FROM cums GROUP BY source
    )
    SELECT source, na, nb, d_num,
           CAST(d_num AS DOUBLE) / CAST(na * nb AS DOUBLE) AS ks_stat,
           CAST(d_num AS DOUBLE) / CAST(na * nb AS DOUBLE)
             > CAST(1.358 AS DOUBLE)
               * sqrt(CAST(na + nb AS DOUBLE) / CAST(na * nb AS DOUBLE)) AS reject_95
    FROM agg
    """,
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test of every source's
    document-length distribution against the reference source src0 —
    the distribution-shift gate a corpus-refresh pipeline runs before
    mixing a new crawl batch into training data (the batch analogue of
    the streaming ANN drift monitor).

    EXACT-INTEGER rendering of D = sup_x |F1(x) − F2(x)|: at each
    pooled distinct value, |F1 − F2| = |c1·n2 − c2·n1| / (n1·n2), so
    the supremum is max over an all-BIGINT expression and the statistic
    is ONE final IEEE division — no float CDFs, bit-equal cross-engine
    (c·n products stay under 2^63 for samples to ~3·10^9 rows).
    reject_95 compares against the asymptotic critical value
    1.358·sqrt((n1+n2)/(n1·n2)) (Smirnov), computed by an identical
    double expression on both engines.

    Scale design: raw rows collapse to per-(source, value) counts in
    one combinable agg; the CDF windows run per SOURCE over the
    |sources|×|distinct lengths| reduced relation (never a global
    single-partition window). A continuous-valued column would be
    histogram-bucketed first (operators/histogram.py) — KS on bin
    edges bounds D within one bin mass, same as the quantile theorem.
    """
    docs = load_table(spark, sf_dir, "documents")
    ref = (
        docs.filter(F.col("source") == "src0")
        .groupBy(F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    )
    oth = (
        docs.filter(F.col("source") != "src0")
        .groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("b"))
    )
    srcs = oth.select("source").distinct()
    refrep = F.broadcast(srcs).crossJoin(ref)
    pooled = (
        refrep.join(oth, ["source", "v"], "full_outer")
        .select(
            "source",
            "v",
            F.coalesce(F.col("a"), F.lit(0).cast("bigint")).alias("a"),
            F.coalesce(F.col("b"), F.lit(0).cast("bigint")).alias("b"),
        )
    )
    w_run = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("source")
    cums = pooled.select(
        "source",
        F.sum("a").over(w_run).alias("ca"),
        F.sum("b").over(w_run).alias("cb"),
        F.sum("a").over(w_all).alias("na"),
        F.sum("b").over(w_all).alias("nb"),
    )
    agg = cums.groupBy("source").agg(
        F.max(F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))).alias("d_num"),
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
    )
    ks = F.col("d_num").cast("double") / (F.col("na") * F.col("nb")).cast("double")
    crit = F.lit(1.358) * F.sqrt(
        (F.col("na") + F.col("nb")).cast("double")
        / (F.col("na") * F.col("nb")).cast("double")
    )
    return agg.select(
        "source", "na", "nb", "d_num", ks.alias("ks_stat"), (ks > crit).alias("reject_95")
    )


@graded(
    "q_dp_noisy_counts",
    oracle="""
    WITH counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    u AS (
      SELECT source, n_docs,
             (CAST(CAST('0x' || substr(md5('dp:' || source), 1, 13) AS UBIGINT) AS DOUBLE) + 0.5)
               / 4503599627370496.0 AS unif
      FROM counts
    )
    SELECT source, n_docs,
           round(n_docs + (CASE WHEN unif < 0.5 THEN 1.0 ELSE -1.0 END)
                 * ln(1.0 - 2.0 * abs(unif - 0.5)) * (-1.0), 9) AS noisy_count,
           CAST(1.0 AS DOUBLE) AS epsilon
    FROM u
    """,
)
def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy release mechanism: per-source document
    counts with Laplace(1/ε) noise at ε=1, sensitivity 1 (one document
    changes one count by one) — the counting-query mechanism of Dwork
    et al.'s calibrated-noise result, rendered with the engine's
    standard inverse-CDF sampling: x = −sgn(u−½)·b·ln(1−2|u−½|).

    HONESTY NOTE: the uniform draw is md5-DERIVED (seeded by the group
    key) so the release is reproducible and cross-engine gradeable —
    that is release-pipeline determinism, NOT a DP guarantee (true DP
    requires fresh secret randomness per release; swap the md5 uniform
    for a CSPRNG draw in production and the mechanism/accounting here
    are unchanged). The true n_docs column is kept for grading; the
    published view drops it.

    Exactness: the 52-bit md5 mantissa → (k+0.5)/2^52 uniform is exact
    integer arithmetic; the noise expression is one fixed double chain
    graded at 9 decimals (the ln() 1-ulp contract).

    Scale: one map-side-combinable count per group + scan-local noise
    on the |groups|-row result. Zero extra shuffles.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    unif = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dp:"), F.col("source"))), 1, 13),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(4503599627370496.0)
    with_u = counts.withColumn("unif", unif)
    noise = (
        F.when(F.col("unif") < 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(F.col("unif") - F.lit(0.5)))
        * F.lit(-1.0)
    )
    return with_u.select(
        "source",
        "n_docs",
        F.round(F.col("n_docs") + noise, 9).alias("noisy_count"),
        F.lit(1.0).alias("epsilon"),
    )


@graded(
    "q_gdpr_erasure",
    oracle="""
    WITH del AS (
      SELECT c_custkey FROM customer
      WHERE substr(md5('del:' || CAST(c_custkey AS VARCHAR)), 1, 1) < '1'
    ),
    po AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM del)
    )
    SELECT 'customer' AS table_name,
           CAST((SELECT count(*) FROM del) AS BIGINT) AS n_purged,
           CAST((SELECT count(*) FROM customer) - (SELECT count(*) FROM del) AS BIGINT) AS n_retained
    UNION ALL
    SELECT 'orders',
           CAST((SELECT count(*) FROM po) AS BIGINT),
           CAST((SELECT count(*) FROM orders) - (SELECT count(*) FROM po) AS BIGINT)
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT count(*) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM po)) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM po)) AS BIGINT)
    """,
)
def q_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure CASCADE audit: a deletion-request set (~6% of
    customers by md5 gate — the synthesized DSAR queue) propagates
    through the FK chain customer → orders → lineitem; the report
    counts purged vs retained rows per table — the compliance evidence
    a deletion run must produce before the actual rewrite (which is
    q_partition_overwrite's dynamic-overwrite mechanics).

    Scale design: each table is scanned ONCE with its purge flag
    counted in a single agg (count_if + count — never two passes); the
    request set rides a broadcast semi/left join onto orders, and the
    purged-order keyset (larger — FK fan-out) flows into lineitem as a
    co-partitioned join. No table is collected; the cascade is
    key-joins all the way down, so a 10⁹-row DSAR backlog only changes
    the broadcast to a shuffled semi-join.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    gate = (
        F.substring(
            F.md5(F.concat(F.lit("del:"), F.col("c_custkey").cast("string"))), 1, 1
        )
        < "1"
    )
    del_cust = cust.filter(gate).select("c_custkey")

    cust_report = cust.agg(
        F.count_if(gate).cast("bigint").alias("n_purged"),
        (F.count(F.lit(1)) - F.count_if(gate)).cast("bigint").alias("n_retained"),
    ).select(F.lit("customer").alias("table_name"), "n_purged", "n_retained")

    # The flagged-orders frame feeds BOTH the orders report and the
    # lineitem cascade — persist + materialize so the cascade reads the
    # cache instead of re-planning the join (the double-plan rule); a
    # real erasure job materializes each cascade level's affected-key
    # table anyway, for the audit trail.
    o_flag = (
        orders.join(
            F.broadcast(del_cust),
            orders["o_custkey"] == del_cust["c_custkey"],
            "left",
        )
        .select("o_orderkey", F.col("c_custkey").isNotNull().alias("del"))
        .persist()
    )
    o_flag.count()
    orders_report = o_flag.agg(
        F.count_if(F.col("del")).cast("bigint").alias("n_purged"),
        (F.count(F.lit(1)) - F.count_if(F.col("del"))).cast("bigint").alias("n_retained"),
    ).select(F.lit("orders").alias("table_name"), "n_purged", "n_retained")

    purged_orders = o_flag.filter(F.col("del")).select("o_orderkey")
    l_flag = li.join(
        purged_orders.withColumnRenamed("o_orderkey", "po_key"),
        li["l_orderkey"] == F.col("po_key"),
        "left",
    ).select(F.col("po_key").isNotNull().alias("del"))
    li_report = l_flag.agg(
        F.count_if(F.col("del")).cast("bigint").alias("n_purged"),
        (F.count(F.lit(1)) - F.count_if(F.col("del"))).cast("bigint").alias("n_retained"),
    ).select(F.lit("lineitem").alias("table_name"), "n_purged", "n_retained")

    return cust_report.unionByName(orders_report).unionByName(li_report)


# Shared by q_ab_test_report and its streaming twin: the per-arm
# moments (n, Σcents, Σcents²) are mergeable BIGINTs, so per-batch
# partials fold to the identical moment table and the twin grades
# against this SQL verbatim.
AB_TEST_ORACLE = """
    WITH assigned AS (
      SELECT event_type,
             CASE WHEN substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    moments AS (
      SELECT event_type,
             CAST(count(*) FILTER (arm = 'A') AS BIGINT)          AS n_a,
             CAST(count(*) FILTER (arm = 'B') AS BIGINT)          AS n_b,
             CAST(sum(cents)  FILTER (arm = 'A') AS BIGINT)       AS s_a,
             CAST(sum(cents)  FILTER (arm = 'B') AS BIGINT)       AS s_b,
             CAST(sum(cents * cents) FILTER (arm = 'A') AS BIGINT) AS q_a,
             CAST(sum(cents * cents) FILTER (arm = 'B') AS BIGINT) AS q_b
      FROM assigned GROUP BY event_type
    )
    SELECT event_type, n_a, n_b,
           CAST(s_a AS DOUBLE) / n_a AS mean_a,
           CAST(s_b AS DOUBLE) / n_b AS mean_b,
           (CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
             / sqrt(
                 (CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * s_a / n_a) / (n_a - 1) / n_a
               + (CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * s_b / n_b) / (n_b - 1) / n_b
               ) AS welch_z
    FROM moments
    """


def ab_arm(label: bool = True) -> Column:
    """The shared 'ab:' experiment's 50/50 arm of each ``user_id``: arm A
    when the first hex digit of md5('ab:' || user_id) is below '8'.
    Returns the 'A'/'B' label, or with ``label=False`` the is-arm-A
    boolean. The DuckDB oracles replay the same rule in SQL."""
    is_a = (
        F.substring(F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 1)
        < "8"
    )
    return F.when(is_a, F.lit("A")).otherwise(F.lit("B")) if label else is_a


def ab_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic arm assignment + integer metric both A/B
    queries consume: (event_type, arm, cents)."""
    ev = load_table(spark, sf_dir, "events")
    arm = ab_arm()
    cents = F.floor(F.col("value") * 100).cast("bigint")
    return ev.select("event_type", arm.alias("arm"), cents.alias("cents"))


def ab_report_from_moments(m: DataFrame) -> DataFrame:
    """Welch-z finalization over a per-type moment table
    (n_a, n_b, s_a, s_b, q_a, q_b) — shared by batch and stream."""
    mean_a = F.col("s_a").cast("double") / F.col("n_a")
    mean_b = F.col("s_b").cast("double") / F.col("n_b")
    var_term_a = (
        (F.col("q_a").cast("double") - F.col("s_a").cast("double") * F.col("s_a") / F.col("n_a"))
        / (F.col("n_a") - 1)
        / F.col("n_a")
    )
    var_term_b = (
        (F.col("q_b").cast("double") - F.col("s_b").cast("double") * F.col("s_b") / F.col("n_b"))
        / (F.col("n_b") - 1)
        / F.col("n_b")
    )
    return m.select(
        "event_type",
        "n_a",
        "n_b",
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        ((mean_a - mean_b) / F.sqrt(var_term_a + var_term_b)).alias("welch_z"),
    )


def ab_moments(assigned: DataFrame) -> DataFrame:
    """One combinable agg carrying both arms' exact integer moments."""
    is_a, is_b = F.col("arm") == "A", F.col("arm") == "B"
    return assigned.groupBy("event_type").agg(
        F.count_if(is_a).cast("bigint").alias("n_a"),
        F.count_if(is_b).cast("bigint").alias("n_b"),
        F.sum(F.when(is_a, F.col("cents"))).cast("bigint").alias("s_a"),
        F.sum(F.when(is_b, F.col("cents"))).cast("bigint").alias("s_b"),
        F.sum(F.when(is_a, F.col("cents") * F.col("cents"))).cast("bigint").alias("q_a"),
        F.sum(F.when(is_b, F.col("cents") * F.col("cents"))).cast("bigint").alias("q_b"),
    )


@graded("q_ab_test_report", oracle=AB_TEST_ORACLE)
def q_ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users hash-assigned 50/50 to arms (md5
    gate — the deterministic randomization unit every experimentation
    platform uses), per-metric Welch z-statistic comparing arm means of
    event value — the ship/no-ship significance table.

    Exactness: both arms' moments are exact BIGINT sums (n, Σcents,
    Σcents²) in ONE grouped agg with FILTER clauses; mean/variance/z
    are a fixed double expression over those integers, written
    identically in both engines ⇒ bit-equal (the incremental-stats
    contract applied to inference).

    Scale: one map-side-combinable agg over the fact — adding arms or
    metrics adds agg columns, never passes. The z formula uses
    Σv² − (Σv)²/n (exact integers in, one expression out), so no
    two-pass mean-centering.
    """
    return ab_report_from_moments(ab_moments(ab_assigned(spark, sf_dir)))


SEQUENTIAL_MSPT_ORACLE = """
    WITH assigned AS (
      SELECT event_type,
             CASE WHEN substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    moments AS (
      SELECT event_type,
             CAST(count(*) FILTER (arm = 'A') AS BIGINT)          AS n_a,
             CAST(count(*) FILTER (arm = 'B') AS BIGINT)          AS n_b,
             CAST(sum(cents)  FILTER (arm = 'A') AS BIGINT)       AS s_a,
             CAST(sum(cents)  FILTER (arm = 'B') AS BIGINT)       AS s_b,
             CAST(sum(cents * cents) FILTER (arm = 'A') AS BIGINT) AS q_a,
             CAST(sum(cents * cents) FILTER (arm = 'B') AS BIGINT) AS q_b
      FROM assigned GROUP BY event_type
    ),
    stat AS (
      SELECT event_type, n_a, n_b,
             CAST(s_b AS DOUBLE) / n_b - CAST(s_a AS DOUBLE) / n_a AS delta,
             (CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * s_a / n_a) / (n_a - 1) / n_a
             + (CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * s_b / n_b) / (n_b - 1) / n_b
               AS v
      FROM moments
    ),
    lam AS (
      SELECT event_type, n_a, n_b, delta,
             CASE WHEN n_a > 1 AND n_b > 1 AND v > 0 THEN
               round(0.5 * ln(v / (v + 10000.0))
                     + 10000.0 * delta * delta / (2.0 * v * (v + 10000.0)), 6)
             END AS ln_lambda
      FROM stat
    )
    SELECT event_type, n_a, n_b, delta, ln_lambda,
           CASE WHEN ln_lambda IS NULL THEN NULL
                ELSE round(least(1.0, exp(-ln_lambda)), 6) END AS p_always_valid,
           CASE WHEN ln_lambda IS NULL THEN NULL
                ELSE ln_lambda > 2.995732273553991 END AS reject_av
    FROM lam
    """


@graded("q_sequential_mspt", oracle=SEQUENTIAL_MSPT_ORACLE)
def q_sequential_mspt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid inference (experimentation battery #9): the mixture
    sequential probability ratio test (mSPRT) of Johari/Pekelis/Walsh —
    the statistic that lets an experimenter PEEK at a running A/B test
    without inflating false positives (the fixed-n Welch z of
    q_ab_test_report is only valid at one pre-registered look; peeking
    at it daily multiplies alpha).

    Normal-mixture form with mixture variance tau^2 = 10000 cents^2
    (tau = $1 on the metric scale): with delta the arm-mean difference
    and V its Welch variance,
      ln(Lambda) = 0.5 ln(V/(V+tau^2)) + tau^2 delta^2/(2 V (V+tau^2)),
    always-valid p = min(1, exp(-ln Lambda)); reject at alpha=0.05 when
    ln Lambda > ln 20 = 2.995732... (literal).

    Exactness: the six arm moments are exact BIGINTs in ONE combinable
    FILTER-agg (the AB_TEST machinery, ab_moments); delta and V are
    token-identical double chains (bit-equal); ln/exp are the 1-ulp
    cross-engine class, so ln_lambda is graded ROUNDED 6dp with BOTH
    p_always_valid and reject_av derived from the ROUNDED value (the
    ln-ordering doctrine). Degenerates (arm < 2 or V <= 0) grade NULL.

    Scale: one map-side-combinable agg over the fact; the sequential
    statistic is a finalize over the moment row — the streaming twin
    folds the same additive moments per micro-batch and re-issues the
    always-valid p after every batch (the statistic's whole point)."""
    return mspt_report(ab_moments(ab_assigned(spark, sf_dir)))


def mspt_report(m: DataFrame) -> DataFrame:
    """mSPRT finalize over a per-type arm-moment table — shared
    verbatim by the batch query and streaming twin #46 (the six
    moments are additive BIGINTs; always-valid p is exactly the
    statistic you recompute after every fold)."""
    mean_a = F.col("s_a").cast("double") / F.col("n_a")
    mean_b = F.col("s_b").cast("double") / F.col("n_b")
    delta = mean_b - mean_a
    va = (
        (
            F.col("q_a").cast("double")
            - F.col("s_a").cast("double") * F.col("s_a") / F.col("n_a")
        )
        / (F.col("n_a") - 1)
        / F.col("n_a")
    )
    vb = (
        (
            F.col("q_b").cast("double")
            - F.col("s_b").cast("double") * F.col("s_b") / F.col("n_b")
        )
        / (F.col("n_b") - 1)
        / F.col("n_b")
    )
    v = va + vb
    tau2 = F.lit(10000.0)
    lnl = F.when(
        (F.col("n_a") > 1) & (F.col("n_b") > 1) & (v > 0),
        F.round(
            F.lit(0.5) * F.log(v / (v + tau2))
            + tau2 * delta * delta / (F.lit(2.0) * v * (v + tau2)),
            6,
        ),
    )
    st = m.select(
        "event_type", "n_a", "n_b", delta.alias("delta"),
        lnl.alias("ln_lambda"),
    )
    p = F.when(
        F.col("ln_lambda").isNull(), F.lit(None).cast("double")
    ).otherwise(F.round(F.least(F.lit(1.0), F.exp(-F.col("ln_lambda"))), 6))
    rej = F.when(
        F.col("ln_lambda").isNull(), F.lit(None).cast("boolean")
    ).otherwise(F.col("ln_lambda") > 2.995732273553991)
    return st.select(
        "event_type", "n_a", "n_b", "delta", "ln_lambda",
        p.alias("p_always_valid"), rej.alias("reject_av"),
    )


PSI_DRIFT_ORACLE = """
    WITH binned AS (
      SELECT source, least(n_chars // 100, 9) AS bin,
             CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ),
    ref AS (SELECT bin, c AS a FROM binned WHERE source = 'src0'),
    oth AS (SELECT source, bin, c AS b FROM binned WHERE source <> 'src0'),
    srcs AS (SELECT DISTINCT source FROM oth),
    spine AS (
      SELECT s.source, CAST(unnest(range(0, 10)) AS BIGINT) AS bin FROM srcs s
    ),
    pooled AS (
      SELECT sp.source, sp.bin,
             coalesce(r.a, CAST(0 AS BIGINT)) AS a,
             coalesce(o.b, CAST(0 AS BIGINT)) AS b
      FROM spine sp
      LEFT JOIN ref r ON sp.bin = r.bin
      LEFT JOIN oth o ON sp.source = o.source AND sp.bin = o.bin
    ),
    tot AS (
      SELECT source, bin, a, b,
             CAST(sum(a) OVER (PARTITION BY source) AS BIGINT) AS na,
             CAST(sum(b) OVER (PARTITION BY source) AS BIGINT) AS nb
      FROM pooled
    ),
    terms AS (
      SELECT source, bin, a, b, na, nb,
             (CAST(a + 1 AS DOUBLE) / (na + 10) - CAST(b + 1 AS DOUBLE) / (nb + 10))
               * ln((CAST(a + 1 AS DOUBLE) / (na + 10))
                    / (CAST(b + 1 AS DOUBLE) / (nb + 10))) AS term
      FROM tot
    )
    SELECT source,
           CAST(max(na) AS BIGINT) AS n_ref,
           CAST(max(nb) AS BIGINT) AS n_cur,
           round(sum(term ORDER BY bin), 6) AS psi,
           round(sum(term ORDER BY bin), 6) > CAST(0.2 AS DOUBLE) AS drifted
    FROM terms GROUP BY source
"""


@graded("q_psi_drift", oracle=PSI_DRIFT_ORACLE)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of every source's document-length
    distribution against reference source src0 — the industry-standard
    binned drift score (credit-risk monitoring heritage) that
    complements q_ks_drift's exact sup-norm test: PSI weights ALL bins,
    KS only the worst point. PSI > 0.2 = the conventional
    'significant shift' action threshold.

    Semantics: 10 fixed width-100 bins (clamped at 900+) — data-
    independent edges, so regenerated corpora land in the same grid;
    Laplace-smoothed proportions p_i = (a_i+1)/(n_a+10) make every
    ln defined without dropping empty bins (deterministic, unlike
    epsilon-replacement conventions). PSI = Σ (p_i − q_i)·ln(p_i/q_i).

    Exactness: counts are exact BIGINTs on a broadcast bin spine; each
    term is one fixed double expression; the 10 terms fold in BIN
    ORDER on both engines (Spark: array_sort + aggregate — the RBO
    contract; DuckDB: sum(... ORDER BY bin)); psi is graded at 6dp and
    `drifted` derives from the ROUNDED value (the perplexity lesson —
    no 1-ulp ln flip can cross the flag).

    Scale: raw rows collapse to |sources|×10 counts in one combinable
    agg; everything after runs on that reduced relation.
    """
    return psi_report_from_binned(psi_binned(load_table(spark, sf_dir, "documents")))


def psi_binned(docs: DataFrame) -> DataFrame:
    """Per-(source, length-bin) exact counts — the mergeable PSI state
    (additive BIGINTs: per-micro-batch partial grids fold by sum to the
    one-pass global grid, the CMS-additivity contract — which is what
    lets q_stream_psi_drift share PSI_DRIFT_ORACLE verbatim)."""
    return docs.groupBy(
        "source",
        F.least(F.floor(F.col("n_chars") / 100), F.lit(9)).cast("bigint").alias("bin"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))


def psi_report_from_binned(binned: DataFrame) -> DataFrame:
    """Spine-filled, Laplace-smoothed PSI finalization over a (source,
    bin, c) count grid — shared verbatim by the batch query and the
    streaming twin's folded state."""
    ref = binned.filter(F.col("source") == "src0").select("bin", F.col("c").alias("a"))
    oth = binned.filter(F.col("source") != "src0").select(
        "source", "bin", F.col("c").alias("b")
    )
    srcs = oth.select("source").distinct()
    bins = F.broadcast(
        srcs.crossJoin(
            oth.sparkSession.range(0, 10).select(F.col("id").cast("bigint").alias("bin"))
        )
    )
    pooled = (
        bins.join(F.broadcast(ref), "bin", "left")
        .join(oth, ["source", "bin"], "left")
        .select(
            "source",
            "bin",
            F.coalesce(F.col("a"), F.lit(0).cast("bigint")).alias("a"),
            F.coalesce(F.col("b"), F.lit(0).cast("bigint")).alias("b"),
        )
    )
    w_src = Window.partitionBy("source")
    tot = pooled.select(
        "source",
        "bin",
        "a",
        "b",
        F.sum("a").over(w_src).cast("bigint").alias("na"),
        F.sum("b").over(w_src).cast("bigint").alias("nb"),
    )
    p = (F.col("a") + 1).cast("double") / (F.col("na") + 10)
    q = (F.col("b") + 1).cast("double") / (F.col("nb") + 10)
    term = (p - q) * F.log(p / q)
    folded = (
        tot.select("source", "bin", "na", "nb", term.alias("term"))
        .groupBy("source")
        .agg(
            F.max("na").cast("bigint").alias("n_ref"),
            F.max("nb").cast("bigint").alias("n_cur"),
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("bin", F.col("term").alias("t")))),
                    lambda s: s["t"],
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("raw_psi"),
        )
    )
    psi = F.round(F.col("raw_psi"), 6)
    return folded.select(
        "source",
        "n_ref",
        "n_cur",
        psi.alias("psi"),
        (psi > 0.2).alias("drifted"),
    )


@graded(
    "q_benford_audit",
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INT) AS d
      FROM orders WHERE o_totalprice > 0
    ),
    counts AS (
      SELECT d, CAST(count(*) AS BIGINT) AS observed
      FROM digits GROUP BY d
    ),
    spine AS (SELECT CAST(unnest(range(1, 10)) AS INT) AS d),
    filled AS (
      SELECT s.d, coalesce(c.observed, CAST(0 AS BIGINT)) AS observed
      FROM spine s LEFT JOIN counts c ON s.d = c.d
    ),
    tot AS (
      SELECT d, observed, CAST(sum(observed) OVER () AS BIGINT) AS n
      FROM filled
    )
    SELECT d AS first_digit, observed,
           round(CAST(observed AS DOUBLE) / n, 6)        AS observed_p,
           round(log10(1.0 + 1.0 / d), 6)                AS benford_p,
           round(pow(CAST(observed AS DOUBLE) - n * log10(1.0 + 1.0 / d), 2)
                 / (n * log10(1.0 + 1.0 / d)), 6)        AS chi2_term
    FROM tot
    """,
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    forensic-accounting / data-fabrication screen: natural multi-scale
    amounts follow P(d) = log10(1 + 1/d); a synthetic or truncated
    column shows up as fat chi-square contributions.

    Exactness: the first significant digit comes from the DECIMAL
    STRING of the integer cents (substr of CAST(BIGINT AS STRING)) —
    never floor(v / 10^floor(log10 v)), whose double log10 is
    off-by-one-digit exactly at powers of ten. Counts are exact
    BIGINTs on a 9-row digit spine; each p / chi² term is one fixed
    double expression per row (no cross-row accumulation), graded 6dp.

    Scale: one combinable agg to 9 counts; the total-n window runs on
    the 9-row spine.
    """
    ords = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digits = ords.select(
        F.substring(
            F.floor(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("d")
    )
    counts = digits.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("observed"))
    spine = ords.sparkSession.range(1, 10).select(F.col("id").cast("int").alias("d"))
    filled = (
        F.broadcast(spine)
        .join(counts, "d", "left")
        .select("d", F.coalesce(F.col("observed"), F.lit(0).cast("bigint")).alias("observed"))
    )
    w_all = Window.partitionBy()
    tot = filled.select(
        "d", "observed", F.sum("observed").over(w_all).cast("bigint").alias("n")
    )
    benford = F.log10(1.0 + 1.0 / F.col("d"))
    obs_d = F.col("observed").cast("double")
    return tot.select(
        F.col("d").alias("first_digit"),
        "observed",
        F.round(obs_d / F.col("n"), 6).alias("observed_p"),
        F.round(benford, 6).alias("benford_p"),
        F.round(
            F.pow(obs_d - F.col("n") * benford, 2) / (F.col("n") * benford), 6
        ).alias("chi2_term"),
    )


GINI_ORACLE = """
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    cust AS (
      SELECT c.c_custkey, n.n_name, COALESCE(r.cents, 0) AS cents
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      LEFT JOIN rev r ON r.o_custkey = c.c_custkey
    ),
    ranked AS (
      SELECT n_name, cents,
             CAST(row_number() OVER (
               PARTITION BY n_name ORDER BY cents, c_custkey
             ) AS BIGINT) AS i
      FROM cust
    )
    SELECT n_name,
           CAST(count(*) AS BIGINT)                               AS n_cust,
           CAST(sum(cents) AS BIGINT)                             AS total_cents,
           CAST(2 * sum(i * cents) - (count(*) + 1) * sum(cents) AS BIGINT)
                                                                  AS gini_num,
           CASE WHEN sum(cents) = 0 THEN NULL
                ELSE CAST(2 * sum(i * cents) - (count(*) + 1) * sum(cents) AS DOUBLE)
                     / (CAST(count(*) AS DOUBLE) * CAST(sum(cents) AS DOUBLE))
           END AS gini
    FROM ranked GROUP BY n_name
"""


@graded("q_gini_concentration", oracle=GINI_ORACLE)
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration audit: per-nation Gini coefficient over
    customer lifetime revenue (floor-cents) — the inequality metric
    every marketplace-health / whale-risk dashboard carries, computed
    from the rank identity G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) with xᵢ
    ascending (ties i·x-invariant within a tie block only in aggregate:
    the ORDER is made total with the custkey tiebreak, and Σ i·xᵢ over
    any permutation of equal x values is identical, so the grade is
    tie-robust). Customers with no orders count as zero-revenue rows —
    dropping them would understate concentration.

    Exactness: numerator and Σx are BIGINTs; gini is one double
    division of exact integers ⇒ bit-equal. Overflow contract: Σ i·xᵢ
    ≤ n_group·Σx_group < 2^63 — on this schema ≈ sf 30; beyond that the
    rank sums need DECIMAL(38) or per-group sharding (the stats-merge
    overflow-contract pattern). Zero-revenue groups grade NULL (ANSI
    guard; implausible but regen-robust).

    Scale: orders collapse to customer grain in ONE combinable agg; the
    dim join broadcasts nation; the rank window partitions by nation —
    per-nation sort is the honest rank-statistic cost (the MAD/quantile
    family), parallel across |nations|, with the binned Lorenz
    approximation (hist_quantiles family) as the extreme-group-size
    gear."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("ocents"),
    )
    rev = orders.groupBy("o_custkey").agg(
        F.sum("ocents").cast("bigint").alias("cents")
    )
    return gini_finalize(spark, sf_dir, rev)


def gini_finalize(spark: SparkSession, sf_dir: str, rev: DataFrame) -> DataFrame:
    """Per-nation Gini from a customer-grain (o_custkey, cents) revenue
    relation — shared by the batch query and the streaming twin
    (per-batch partial sums fold to the identical customer grain, so
    the rank identity over identical integers emits identical
    doubles)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select("c_custkey", "n_name")
    j = c.join(rev, c.c_custkey == rev.o_custkey, "left").select(
        "n_name", "c_custkey", F.coalesce(F.col("cents"), F.lit(0)).cast("bigint").alias("cents")
    )
    w = Window.partitionBy("n_name").orderBy(F.asc("cents"), F.asc("c_custkey"))
    ranked = j.select(
        "n_name", "cents", F.row_number().over(w).cast("bigint").alias("i")
    )
    agg = ranked.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        (
            F.lit(2) * F.sum(F.col("i") * F.col("cents"))
            - (F.count(F.lit(1)) + F.lit(1)) * F.sum("cents")
        )
        .cast("bigint")
        .alias("gini_num"),
    )
    return agg.select(
        "n_name",
        "n_cust",
        "total_cents",
        "gini_num",
        F.when(
            F.col("total_cents") == 0, F.lit(None).cast("double")
        )
        .otherwise(
            F.col("gini_num").cast("double")
            / (F.col("n_cust").cast("double") * F.col("total_cents").cast("double"))
        )
        .alias("gini"),
    )


@graded(
    "q_rfm_segmentation",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(datediff('day', DATE '1970-01-01', max(CAST(o_orderdate AS DATE)))
                  AS BIGINT) AS recency_day,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS monetary_cents
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT CAST(ntile(5) OVER (ORDER BY recency_day, o_custkey) AS INT)    AS r_score,
             CAST(ntile(5) OVER (ORDER BY frequency, o_custkey) AS INT)      AS f_score,
             CAST(ntile(5) OVER (ORDER BY monetary_cents, o_custkey) AS INT) AS m_score,
             monetary_cents
      FROM cust
    )
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT)            AS n_customers,
           CAST(sum(monetary_cents) AS BIGINT) AS total_cents
    FROM scored GROUP BY r_score, f_score, m_score
    """,
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic CRM customer-value grid: quintile
    scores for Recency (last order day), Frequency (order count), and
    Monetary (lifetime floor-cents), reported as segment cells with
    size and revenue. Every ntile runs over a TOTAL order (metric +
    custkey tiebreak) so quintile boundaries are deterministic and
    cross-engine identical — ntile on a partial order would split ties
    arbitrarily and hash-fail.

    Exactness: all BIGINT metrics; ntile is integer rank arithmetic.

    Scale: orders collapse to customer grain in one combinable agg; the
    three ntile windows run over that REDUCED relation (gini's
    rank-statistic class — global ranks on customer-grain data are the
    honest cost; the binned approximation is the extreme-cardinality
    gear); the final grid is ≤125 cells."""
    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.max(F.col("o_orderdate").cast("date")),
            F.lit("1970-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("recency_day"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("monetary_cents"),
    )
    scored = cust.select(
        F.ntile(5)
        .over(Window.orderBy("recency_day", "o_custkey"))
        .cast("int")
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy("frequency", "o_custkey"))
        .cast("int")
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy("monetary_cents", "o_custkey"))
        .cast("int")
        .alias("m_score"),
        "monetary_cents",
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("monetary_cents").cast("bigint").alias("total_cents"),
    )


OBSERVED_METRICS_ORACLE = """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count_if(o_totalprice <= 0) AS BIGINT) AS nonpositive_price,
           CAST(count_if(o_custkey IS NULL) AS BIGINT) AS null_custkey,
           CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS floor_total,
           CAST(count_if(o_orderstatus NOT IN ('O','F','P')) AS BIGINT)
               AS bad_status
    FROM orders
"""


@graded("q_observed_metrics", oracle=OBSERVED_METRICS_ORACLE)
def q_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass pipeline observability via df.observe() — Spark's
    accumulator-backed metric channel: the data-quality counters ride
    the SAME scan/action as the real work instead of a second audit
    pass (q_dq_checks' separate aggregate). At 100 TB this is the
    difference between free DQ and a second full-table scan: every
    production write attaches observe() metrics and alerts on them
    per-batch (the streaming twin of this API is
    StreamingQueryListener).

    The observed aggregates are exact integers (counts + floor-cents),
    so the driver grade is exact; the action that materializes them is
    one count() over the observed frame (bounded, metric-only — the
    result of the pass itself is deliberately not the graded surface).
    """
    from pyspark.sql import Observation

    orders = load_table(spark, sf_dir, "orders")
    obs = Observation("dq_metrics")
    observed = orders.observe(
        obs,
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
    observed.count()  # the pass the metrics ride on
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["nonpositive_price"],
                m["null_custkey"],
                m["floor_total"],
                m["bad_status"],
            )
        ],
        "n_rows bigint, nonpositive_price bigint, null_custkey bigint, "
        "floor_total bigint, bad_status bigint",
    )


MANNWHITNEY_ORACLE = """
    WITH ref AS (
      SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS a
      FROM documents WHERE source = 'src0' GROUP BY 1
    ),
    oth AS (
      SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS b
      FROM documents WHERE source <> 'src0' GROUP BY 1, 2
    ),
    srcs AS (SELECT DISTINCT source FROM oth),
    refrep AS (SELECT s.source, r.v, r.a FROM srcs s CROSS JOIN ref r),
    pooled AS (
      SELECT coalesce(rr.source, o.source) AS source,
             coalesce(rr.v, o.v) AS v,
             coalesce(rr.a, CAST(0 AS BIGINT)) AS a,
             coalesce(o.b, CAST(0 AS BIGINT)) AS b
      FROM refrep rr FULL OUTER JOIN oth o
        ON rr.source = o.source AND rr.v = o.v
    ),
    cums AS (
      SELECT source, a, b,
             CAST(sum(a + b) OVER (PARTITION BY source ORDER BY v
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               - (a + b) AS cum_prev
      FROM pooled
    ),
    agg AS (
      SELECT source,
             CAST(sum(a) AS BIGINT) AS na,
             CAST(sum(b) AS BIGINT) AS nb,
             CAST(sum(b * (2 * cum_prev + a + b + 1)) AS BIGINT) AS r2b,
             CAST(sum((a + b) * (a + b) * (a + b) - (a + b)) AS BIGINT) AS tie_t
      FROM cums GROUP BY source
    ),
    stat AS (
      SELECT source, na, nb, tie_t,
             CAST(r2b - nb * (nb + 1) AS BIGINT) AS u2,
             na + nb AS nn
      FROM agg
    ),
    z AS (
      SELECT source, na, nb, u2, tie_t,
             CASE WHEN na < 1 OR nb < 1 OR nn < 2
                       OR nn * nn * nn - nn - tie_t = 0
                  THEN NULL
                  ELSE CAST(u2 - na * nb AS DOUBLE)
                       / (2.0 * sqrt(
                           CAST(na * nb AS DOUBLE)
                           * CAST(nn * nn * nn - nn - tie_t AS DOUBLE)
                           / (12.0 * CAST(nn AS DOUBLE) * CAST(nn - 1 AS DOUBLE))))
             END AS z
      FROM stat
    )
    SELECT source, na, nb, u2, tie_t, z,
           CASE WHEN z IS NULL THEN NULL ELSE abs(z) > 1.959964 END AS reject_95
    FROM z
"""


@graded("q_mannwhitney_u", oracle=MANNWHITNEY_ORACLE)
def q_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test of every source's
    document-length distribution against reference src0 — the
    non-parametric LOCATION-shift test that completes the drift
    battery: KS bounds the worst CDF gap, PSI weights all bins, MW
    detects a median shift with full power under heavy tails (where
    Welch's t on the raw lengths is junk).

    EXACT-INTEGER rendering with the textbook tie treatment: at the
    (source, value) grain, a tie block of t = a+b pooled observations
    starting after cum_prev earlier rows has average rank
    (2·cum_prev + t + 1)/2 — kept as the DOUBLED rank sum
    R2 = Σ b·(2·cum_prev + t + 1) so every rank statistic stays BIGINT
    (no .5 halves). U2 = 2·U = R2 − n_b(n_b+1) is exact; the normal
    approximation uses the tie-corrected variance
    var = n_a·n_b·(N³ − N − T) / (12·N·(N−1)) with T = Σ(t³ − t), and
    z = (U2 − n_a·n_b) / (2·√var) is one fixed IEEE chain over exact
    integers ⇒ bit-equal, so reject_95 (|z| > 1.959964) cannot flip
    cross-engine. Degenerate pools (one tie block ⇒ var = 0, or
    samples under 2) grade NULL — regen-robust.

    Overflow contract: n_a·n_b·(N³−N−T) is evaluated as a product of
    DOUBLE casts of exact BIGINTs (each factor < 2^63 to N ≈ 2·10^6;
    beyond that pre-bin values first — the KS histogram gear).

    Scale: identical shape to q_ks_drift — raw rows collapse to
    per-(source, value) counts in ONE combinable agg over ONE scan
    (ref and current samples split from the same reduced grid, which is
    localCheckpoint'd — two readers, the multi-reader rule); the rank
    window runs per SOURCE over the reduced relation (never a global
    single-partition window); ref counts broadcast-replicate."""
    docs = load_table(spark, sf_dir, "documents")
    return mannwhitney_finalize(mannwhitney_grid(docs).localCheckpoint())


def mannwhitney_grid(docs: DataFrame) -> DataFrame:
    """Exact per-(source, value) counts INCLUDING the reference source
    — the mergeable Mann–Whitney state (additive BIGINTs: per-micro-
    batch partial grids fold by sum to the one-pass grid, which is what
    lets q_stream_mannwhitney share the batch oracle verbatim)."""
    return docs.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )


def mw_rank_agg(grid: DataFrame) -> DataFrame:
    """The per-source doubled-rank aggregate (source, na, nb, r2b,
    tie_t) over the (source, value, c) count grid — the exact-BIGINT
    rank machinery shared by the Mann-Whitney test and the Cliff's
    delta effect size (u2 = 2U derives from r2b in both)."""
    ref = grid.filter(F.col("source") == "src0").select(
        "v", F.col("c").alias("a")
    )
    oth = grid.filter(F.col("source") != "src0").select(
        "source", "v", F.col("c").alias("b")
    )
    srcs = oth.select("source").distinct()
    refrep = F.broadcast(srcs).crossJoin(ref)
    pooled = refrep.join(oth, ["source", "v"], "full_outer").select(
        "source",
        "v",
        F.coalesce(F.col("a"), F.lit(0).cast("bigint")).alias("a"),
        F.coalesce(F.col("b"), F.lit(0).cast("bigint")).alias("b"),
    )
    w_run = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = F.col("a") + F.col("b")
    cums = pooled.select(
        "source",
        "a",
        "b",
        (F.sum(t).over(w_run) - t).alias("cum_prev"),
    )
    return cums.groupBy("source").agg(
        F.sum("a").cast("bigint").alias("na"),
        F.sum("b").cast("bigint").alias("nb"),
        F.sum(
            F.col("b") * (F.lit(2) * F.col("cum_prev") + F.col("a") + F.col("b") + 1)
        )
        .cast("bigint")
        .alias("r2b"),
        F.sum(t * t * t - t).cast("bigint").alias("tie_t"),
    )


def mannwhitney_finalize(grid: DataFrame) -> DataFrame:
    """Tie-corrected rank-sum report from the (source, value, c) count
    grid — shared verbatim by the batch query and the streaming twin.
    Callers pass a localCheckpoint'd grid (two readers: the ref split
    and the current split)."""
    agg = mw_rank_agg(grid)
    nn = F.col("na") + F.col("nb")
    u2 = (F.col("r2b") - F.col("nb") * (F.col("nb") + 1)).cast("bigint")
    var_num = nn * nn * nn - nn - F.col("tie_t")
    z = F.when(
        (F.col("na") < 1) | (F.col("nb") < 1) | (nn < 2) | (var_num == 0),
        F.lit(None).cast("double"),
    ).otherwise(
        (u2 - F.col("na") * F.col("nb")).cast("double")
        / (
            F.lit(2.0)
            * F.sqrt(
                (F.col("na") * F.col("nb")).cast("double")
                * var_num.cast("double")
                / (F.lit(12.0) * nn.cast("double") * (nn - 1).cast("double"))
            )
        )
    )
    stat = agg.select("source", "na", "nb", u2.alias("u2"), "tie_t", z.alias("z"))
    return stat.select(
        "source",
        "na",
        "nb",
        "u2",
        "tie_t",
        "z",
        F.when(F.col("z").isNull(), F.lit(None).cast("boolean"))
        .otherwise(F.abs(F.col("z")) > 1.959964)
        .alias("reject_95"),
    )


CLIFFS_DELTA_ORACLE = """
    WITH ref AS (
      SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS a
      FROM documents WHERE source = 'src0' GROUP BY 1
    ),
    oth AS (
      SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS b
      FROM documents WHERE source <> 'src0' GROUP BY 1, 2
    ),
    srcs AS (SELECT DISTINCT source FROM oth),
    refrep AS (SELECT s.source, r.v, r.a FROM srcs s CROSS JOIN ref r),
    pooled AS (
      SELECT coalesce(rr.source, o.source) AS source,
             coalesce(rr.v, o.v) AS v,
             coalesce(rr.a, CAST(0 AS BIGINT)) AS a,
             coalesce(o.b, CAST(0 AS BIGINT)) AS b
      FROM refrep rr FULL OUTER JOIN oth o
        ON rr.source = o.source AND rr.v = o.v
    ),
    cums AS (
      SELECT source, a, b,
             CAST(sum(a + b) OVER (PARTITION BY source ORDER BY v
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               - (a + b) AS cum_prev
      FROM pooled
    ),
    agg AS (
      SELECT source,
             CAST(sum(a) AS BIGINT) AS na,
             CAST(sum(b) AS BIGINT) AS nb,
             CAST(sum(b * (2 * cum_prev + a + b + 1)) AS BIGINT) AS r2b
      FROM cums GROUP BY source
    ),
    d AS (
      SELECT source, na, nb,
             CAST(r2b - nb * (nb + 1) AS BIGINT) AS u2,
             CASE WHEN na > 0 AND nb > 0 THEN
               round(CAST(r2b - nb * (nb + 1) AS DOUBLE)
                     / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) - 1.0, 6)
             END AS delta
      FROM agg
    )
    SELECT source, na, nb, u2, delta,
           CASE WHEN delta IS NULL THEN NULL
                WHEN abs(delta) < 0.147 THEN 'negligible'
                WHEN abs(delta) < 0.33  THEN 'small'
                WHEN abs(delta) < 0.474 THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM d
"""


@graded("q_cliffs_delta", oracle=CLIFFS_DELTA_ORACLE)
def q_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta — the ORDINAL effect size that accompanies the
    Mann-Whitney test: delta = P(X_b > X_a) - P(X_b < X_a) of every
    source's document-length distribution against reference src0.
    MW's z says a shift is STATISTICALLY detectable (which at corpus
    scale is always, n being huge); delta says whether it is LARGE —
    the standard Romano magnitude bands (0.147/0.33/0.474) make the
    report actionable where a p-value saturates.

    Exactness: delta derives from the SAME doubled-rank BIGINT
    machinery as MW (mw_rank_agg): 2U = r2b - nb(nb+1) is exact, and
    delta = 2U/(na*nb) - 1 is evaluated as a DOUBLE chain over the
    exact integers (na*nb as a BIGINT product would overflow at
    na,nb > ~3e9 — the finalize-product doctrine), token-identical in
    both engines, graded ROUNDED 6dp with the magnitude label derived
    from the ROUNDED value (never from an unrounded float ordering).
    Empty sides grade NULL (regen-proofing doctrine).

    Scale: identical to q_mannwhitney_u — one combinable agg collapses
    the corpus to the per-(source, value) grid, ranks run per source
    over the reduced relation, ref counts broadcast-replicate."""
    docs = load_table(spark, sf_dir, "documents")
    return cliffs_delta_report(mannwhitney_grid(docs).localCheckpoint())


def cliffs_delta_report(grid: DataFrame) -> DataFrame:
    """Shared Cliff's-delta finalize over the (source, value, c) count
    grid — the grid is the SAME sum-mergeable Mann-Whitney state, so
    the streaming twin folds per-batch grids and shares
    CLIFFS_DELTA_ORACLE verbatim. Callers pass a localCheckpoint'd
    grid (mw_rank_agg reads it twice)."""
    agg = mw_rank_agg(grid)
    u2 = (F.col("r2b") - F.col("nb") * (F.col("nb") + 1)).cast("bigint")
    delta = F.when(
        (F.col("na") > 0) & (F.col("nb") > 0),
        F.round(
            u2.cast("double")
            / (F.col("na").cast("double") * F.col("nb").cast("double"))
            - F.lit(1.0),
            6,
        ),
    )
    with_d = agg.select(
        "source", "na", "nb", u2.alias("u2"), delta.alias("delta")
    )
    mag = (
        F.when(F.col("delta").isNull(), F.lit(None).cast("string"))
        .when(F.abs(F.col("delta")) < 0.147, F.lit("negligible"))
        .when(F.abs(F.col("delta")) < 0.33, F.lit("small"))
        .when(F.abs(F.col("delta")) < 0.474, F.lit("medium"))
        .otherwise(F.lit("large"))
    )
    return with_d.select(
        "source", "na", "nb", "u2", "delta", mag.alias("magnitude")
    )


CHI_SQUARE_ORACLE = """
    WITH grid AS (
      SELECT event_type,
             CAST(least(floor(value / 50), 4) AS BIGINT) AS band,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    spine AS (
      SELECT t.event_type, b.band
      FROM (SELECT DISTINCT event_type FROM grid) t
      CROSS JOIN (SELECT DISTINCT band FROM grid) b
    ),
    filled AS (
      SELECT s.event_type, s.band, coalesce(g.o, CAST(0 AS BIGINT)) AS o
      FROM spine s LEFT JOIN grid g USING (event_type, band)
    ),
    tot AS (
      SELECT event_type, band, o,
             CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS r,
             CAST(sum(o) OVER (PARTITION BY band) AS BIGINT)       AS c,
             CAST(sum(o) OVER () AS BIGINT)                        AS nn
      FROM filled
    ),
    terms AS (
      SELECT event_type, band, nn,
             ((CAST(o AS DOUBLE) * CAST(nn AS DOUBLE)
               - CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
              * (CAST(o AS DOUBLE) * CAST(nn AS DOUBLE)
                 - CAST(r AS DOUBLE) * CAST(c AS DOUBLE)))
               / (CAST(nn AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
               AS term
      FROM tot
    ),
    fin AS (
      SELECT CAST(max(nn) AS BIGINT) AS n_total,
             CAST((count(DISTINCT event_type) - 1)
                  * (count(DISTINCT band) - 1) AS BIGINT) AS dof,
             round(sum(term ORDER BY event_type, band), 6) AS chi2
      FROM terms
    )
    SELECT n_total, dof, chi2,
           CASE dof WHEN 12 THEN chi2 > 21.026
                    WHEN 16 THEN chi2 > 26.296
                    WHEN 20 THEN chi2 > 31.410
                    WHEN 24 THEN chi2 > 36.415
                    ELSE NULL END AS indep_rejected
    FROM fin
"""


@graded("q_chi_square_independence", oracle=CHI_SQUARE_ORACLE)
def q_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between event type and
    value band (width-50 bins clamped at 200+) — the categorical
    association test every experimentation / segmentation audit runs
    (is the metric distribution independent of the segment?), closing
    the inference family: Welch z (ab_test), rank shift (mannwhitney),
    CDF gap (ks), now contingency association.

    EXACT-INTEGER rendering: each cell's term is
    (o·N − r·c)² / (N·r·c) — numerator and denominator are exact
    BIGINTs (the o·N form avoids the fractional expected count
    e = r·c/N entirely), so each term is ONE IEEE division ⇒ bit-equal,
    and the |types|×|bands| terms fold in (type, band) order on both engines
    (Spark: array_sort + aggregate; DuckDB: sum ORDER BY — the PSI
    contract). chi2 is graded ROUNDED 6dp with the rejection flag
    derived from the rounded value against a CASE-mapped critical value
    (dof 12/16/20/24 at α=0.05); other dofs grade NULL (regen-robust:
    a regenerated fixture that empties a band changes dof, never the
    flag's semantics). Empty cells are REAL terms: the spine
    cross-joins observed types × observed bands so a type missing a
    band still contributes (0·N − r·c)²/(N·r·c) — dropping it would
    understate the statistic; spine-derived marginals are all > 0 by
    construction (no division guard needed).

    Scale: raw rows collapse to the |types|×|bands| grid in one
    combinable agg; the grid is localCheckpoint'd (three readers —
    types, bands, fill join — the multi-reader double-plan rule) and
    every window/fold after runs on that bounded relation. Overflow:
    counts are exact BIGINTs at any realistic N; the term arithmetic
    runs as a DOUBLE chain (the integer square binds at a residual of
    ~3·10^9 — measured live at the 100× probe and fixed), so nothing
    in the statistic can overflow."""
    ev = load_table(spark, sf_dir, "events")
    return chi_square_finalize(chi_square_grid(ev).localCheckpoint())


def chi_square_grid(ev: DataFrame) -> DataFrame:
    """Exact (event_type, band) cell counts — the mergeable χ² state
    (additive BIGINTs: per-micro-batch partial grids fold by sum to the
    one-pass contingency table, the PSI-grid contract — which is what
    lets q_stream_chi_square share the batch oracle verbatim)."""
    band = F.least(F.floor(F.col("value") / 50), F.lit(4)).cast("bigint")
    return ev.groupBy(F.col("event_type"), band.alias("band")).agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )


def chi_square_finalize(grid: DataFrame) -> DataFrame:
    """Spine-filled χ² report from the contingency grid — shared
    verbatim by the batch query and the streaming twin. Callers pass a
    localCheckpoint'd grid (three readers: types, bands, fill join —
    the multi-reader double-plan rule)."""
    types = grid.select("event_type").distinct()
    bands = grid.select("band").distinct()
    spine = F.broadcast(types).crossJoin(F.broadcast(bands))
    filled = spine.join(grid, ["event_type", "band"], "left").select(
        "event_type",
        "band",
        F.coalesce(F.col("o"), F.lit(0).cast("bigint")).alias("o"),
    )
    w_t = Window.partitionBy("event_type")
    w_b = Window.partitionBy("band")
    w_all = Window.partitionBy(F.lit(1))
    tot = filled.select(
        "event_type",
        "band",
        "o",
        F.sum("o").over(w_t).cast("bigint").alias("r"),
        F.sum("o").over(w_b).cast("bigint").alias("c"),
        F.sum("o").over(w_all).cast("bigint").alias("nn"),
    )
    # The cell term is computed as a DOUBLE chain, not BIGINT-then-cast:
    # num² overflows 2^63 once the independence residual o·N − r·c
    # reaches ~3·10^9 (caught LIVE by the 100× probe at N = 10M events —
    # the exact failure mode the covariance finalize hit). Token-
    # identical chain in the oracle keeps the grade bit-equal; the cell
    # counts stay exact BIGINTs.
    o_d, r_d = F.col("o").cast("double"), F.col("r").cast("double")
    c_d, nn_d = F.col("c").cast("double"), F.col("nn").cast("double")
    num_d = o_d * nn_d - r_d * c_d
    terms = tot.select(
        "event_type",
        "band",
        "nn",
        ((num_d * num_d) / (nn_d * r_d * c_d)).alias("term"),
    )
    fin = terms.agg(
        F.max("nn").cast("bigint").alias("n_total"),
        (
            (F.countDistinct("event_type") - 1) * (F.countDistinct("band") - 1)
        )
        .cast("bigint")
        .alias("dof"),
        F.round(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("event_type").alias("e"),
                                F.col("band").alias("bd"),
                                F.col("term").alias("t"),
                            )
                        )
                    ),
                    lambda s: s["t"],
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ).alias("chi2"),
    )
    crit = (
        F.when(F.col("dof") == 12, F.col("chi2") > 21.026)
        .when(F.col("dof") == 16, F.col("chi2") > 26.296)
        .when(F.col("dof") == 20, F.col("chi2") > 31.410)
        .when(F.col("dof") == 24, F.col("chi2") > 36.415)
        .otherwise(F.lit(None).cast("boolean"))
    )
    return fin.select("n_total", "dof", "chi2", crit.alias("indep_rejected"))


@graded(
    "q_ab_srm_check",
    oracle="""
    WITH u AS (
      SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
    ),
    arms AS (
      SELECT CASE WHEN substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm
      FROM u
    ),
    agg AS (
      SELECT CAST(count(*) FILTER (arm = 'A') AS BIGINT) AS a,
             CAST(count(*) AS BIGINT) AS n
      FROM arms
    )
    SELECT a                    AS n_a,
           CAST(n - a AS BIGINT) AS n_b,
           n                    AS n_units,
           CASE WHEN n = 0 THEN NULL
                ELSE CAST((2 * a - n) * (2 * a - n) AS DOUBLE) / CAST(n AS DOUBLE)
           END AS chi2,
           CASE WHEN n = 0 THEN NULL
                ELSE CAST((2 * a - n) * (2 * a - n) AS DOUBLE) / CAST(n AS DOUBLE)
                     > 3.841459
           END AS srm_detected
    FROM agg
    """,
)
def q_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for the SAME experiment
    q_ab_test_report reads out (identical 'ab:' md5 assignment): a χ²
    goodness-of-fit of the realized arm split against the designed
    50/50, on the RANDOMIZATION UNIT (distinct users, never events —
    per-user event counts differ by design and would fake an SRM). SRM
    is the experimentation platform's first invalidity alarm: an
    imbalanced split means assignment, logging, or filtering is biased
    and every downstream p-value is garbage — platforms gate readouts
    on it (Kohavi's trustworthy-experiments rule).

    EXACT-INTEGER rendering: with designed p = 1/2 and b = n − a, the
    two-cell GOF statistic collapses to χ² = (2a − n)²/n — numerator
    and denominator exact BIGINTs, ONE IEEE division ⇒ bit-equal, so
    srm_detected (χ² > 3.841459, dof 1 at α=0.05) cannot flip
    cross-engine. n = 0 grades NULL (regen guard).

    Scale: distinct users is one combinable agg (partial distinct
    map-side); the statistic is arithmetic on a 1-row aggregate. The
    md5 gate makes the audit replayable anywhere — the same property
    that makes the assignment itself rerun-stable after executor
    loss."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    users = ev.select("user_id").distinct()
    arm_a = ab_arm(label=False)
    agg = users.agg(
        F.count_if(arm_a).cast("bigint").alias("a"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    dev = F.lit(2) * F.col("a") - F.col("n")
    chi2 = F.when(F.col("n") == 0, F.lit(None).cast("double")).otherwise(
        (dev * dev).cast("double") / F.col("n").cast("double")
    )
    return agg.select(
        F.col("a").alias("n_a"),
        (F.col("n") - F.col("a")).cast("bigint").alias("n_b"),
        F.col("n").alias("n_units"),
        chi2.alias("chi2"),
        F.when(F.col("n") == 0, F.lit(None).cast("boolean"))
        .otherwise(chi2 > 3.841459)
        .alias("srm_detected"),
    )


@graded(
    "q_ratio_metric_delta",
    oracle="""
    WITH ug AS (
      SELECT user_id,
             CASE WHEN substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(floor(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS y
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ),
    m AS (
      SELECT arm,
             CAST(count(*) AS BIGINT)      AS n,
             CAST(sum(x) AS BIGINT)        AS sx,
             CAST(sum(y) AS BIGINT)        AS sy,
             CAST(sum(x * x) AS BIGINT)    AS sxx,
             CAST(sum(y * y) AS BIGINT)    AS syy,
             CAST(sum(x * y) AS BIGINT)    AS sxy
      FROM ug GROUP BY arm
    ),
    r AS (
      SELECT arm, n, sx, sy,
             CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS ratio,
             ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
              - 2.0 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                * ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
              + (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                * ((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))))
             / (CAST(n AS DOUBLE)
                * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) AS var_r
      FROM m WHERE n >= 2 AND sy > 0
    ),
    pivoted AS (
      SELECT max(CASE WHEN arm = 'A' THEN n END)     AS n_a,
             max(CASE WHEN arm = 'B' THEN n END)     AS n_b,
             max(CASE WHEN arm = 'A' THEN ratio END) AS ratio_a,
             max(CASE WHEN arm = 'B' THEN ratio END) AS ratio_b,
             max(CASE WHEN arm = 'A' THEN var_r END) AS va,
             max(CASE WHEN arm = 'B' THEN var_r END) AS vb
      FROM r
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           ratio_a, ratio_b,
           CASE WHEN va IS NULL OR vb IS NULL OR va + vb <= 0 THEN NULL
                ELSE (ratio_a - ratio_b) / sqrt(va + vb) END AS z,
           CASE WHEN va IS NULL OR vb IS NULL OR va + vb <= 0 THEN NULL
                ELSE abs((ratio_a - ratio_b) / sqrt(va + vb)) > 1.959964
           END AS significant
    FROM pivoted
    """,
)
def q_ratio_metric_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method readout for a RATIO metric — revenue per click —
    in the same 'ab:' experiment: ratio metrics (CTR, revenue/click,
    items/session) are means of a QUOTIENT of per-user totals, so the
    naive per-event variance is wrong (events within a user are
    correlated); the industry answer (Deng et al., 'Applying the Delta
    Method in Metric Analytics') is Var(X̄/Ȳ) ≈ (s_xx − 2R·s_xy +
    R²·s_yy) / (n·ȳ²) over USER-grain (x, y). Completes the
    experimentation battery: Welch z (mean metrics, q_ab_test_report),
    SRM (validity, q_ab_srm_check), delta method (ratio metrics).

    Exactness: user-grain x (purchase floor-cents) and y (click count)
    are exact BIGINTs; each arm's six moments (n, Σx, Σy, Σxx, Σyy,
    Σxy) ride ONE combinable agg; ratio/variance/z are a fixed double
    chain over exact integers written token-identically in both engines
    ⇒ bit-equal; degenerate arms (n < 2, Σy = 0, var ≤ 0) grade NULL.

    OVERFLOW CONTRACT (per-row, in the moment sums — not a finalize):
    x·x is computed on the user-grain BIGINT total, so a single user
    with |x| > ~3.04e9 cents (≈ $30M lifetime purchases) makes x²
    exceed 2⁶³ and ANSI-aborts inside the agg; the Σ itself then needs
    n·x̄² < 2⁶³ on top. A corpus with whale users beyond that bound
    must quantize x to a coarser unit (dollars: bound becomes ~$3.04e9
    per user) before squaring — same class as the covariance 2^20
    contract, documented rather than silently widened because the
    delta-method z is graded bit-equal on the exact-integer moments.

    Scale: two stacked combinable aggs (events → user grain → arm
    moments) — the randomization-unit collapse IS the first agg, so no
    user ever materializes its events anywhere; adding metrics adds
    moment columns, never passes. The moments are pure integer
    addition — a streaming twin would fold (user, x, y) state, the
    stats-merge contract."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    cents = F.floor(F.col("value") * 100).cast("bigint")
    ug = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", cents).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("x"),
        F.count_if(F.col("event_type") == "click").cast("bigint").alias("y"),
    )
    arm = ab_arm()
    m = ug.select(arm.alias("arm"), "x", "y").groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    ratio = sx_d / sy_d
    denom = n_d * (F.col("n") - 1).cast("double")
    s_xx = (n_d * F.col("sxx").cast("double") - sx_d * sx_d) / denom
    s_xy = (n_d * F.col("sxy").cast("double") - sx_d * sy_d) / denom
    s_yy = (n_d * F.col("syy").cast("double") - sy_d * sy_d) / denom
    var_r = (
        s_xx - F.lit(2.0) * ratio * s_xy + ratio * ratio * s_yy
    ) / (n_d * (sy_d / n_d) * (sy_d / n_d))
    r = m.filter((F.col("n") >= 2) & (F.col("sy") > 0)).select(
        "arm", "n", ratio.alias("ratio"), var_r.alias("var_r")
    )
    piv = r.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).cast("bigint").alias("n_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).cast("bigint").alias("n_b"),
        F.max(F.when(F.col("arm") == "A", F.col("ratio"))).alias("ratio_a"),
        F.max(F.when(F.col("arm") == "B", F.col("ratio"))).alias("ratio_b"),
        F.max(F.when(F.col("arm") == "A", F.col("var_r"))).alias("va"),
        F.max(F.when(F.col("arm") == "B", F.col("var_r"))).alias("vb"),
    )
    bad = (
        F.col("va").isNull()
        | F.col("vb").isNull()
        | ((F.col("va") + F.col("vb")) <= 0)
    )
    z = (F.col("ratio_a") - F.col("ratio_b")) / F.sqrt(F.col("va") + F.col("vb"))
    return piv.select(
        "n_a",
        "n_b",
        "ratio_a",
        "ratio_b",
        F.when(bad, F.lit(None).cast("double")).otherwise(z).alias("z"),
        F.when(bad, F.lit(None).cast("boolean"))
        .otherwise(F.abs(z) > 1.959964)
        .alias("significant"),
    )


CALIBRATION_ORACLE = """
    WITH scored AS (
      SELECT CAST(CAST('0x' || substr(md5('cal:' || CAST(user_id AS VARCHAR)), 1, 12)
                  AS UBIGINT) AS BIGINT) AS s48,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
      FROM events WHERE user_id IS NOT NULL
    ),
    binned AS (
      SELECT CAST(s48 * 10 // 281474976710656 AS BIGINT) AS bin,
             s48 // 1048576 AS s28, y
      FROM scored
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS n_pos,
           CAST(sum(s28) AS BIGINT) / (CAST(count(*) AS DOUBLE) * 268435456.0)
             AS mean_pred,
           CAST(sum(y) AS BIGINT) / CAST(count(*) AS DOUBLE) AS obs_rate
    FROM binned
    GROUP BY bin
    ORDER BY bin
    """


def calibration_finalize(partials: DataFrame) -> DataFrame:
    """Shared calibration finalization over the per-bin integer partials
    (bin, n, n_pos, s28_sum) — all three measures are pure addition, so
    the streaming twin folds them per micro-batch; the two divisions
    happen here, once, over exact BIGINTs ⇒ bit-equal either route."""
    return (
        partials.groupBy("bin")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("n_pos").cast("bigint").alias("n_pos"),
            F.sum("s28_sum").cast("bigint").alias("s28_sum"),
        )
        .select(
            "bin",
            "n",
            "n_pos",
            (
                F.col("s28_sum").cast("double")
                / (F.col("n").cast("double") * F.lit(268435456.0))
            ).alias("mean_pred"),
            (F.col("n_pos").cast("double") / F.col("n").cast("double")).alias(
                "obs_rate"
            ),
        )
        .select("bin", "n", "n_pos", "mean_pred", "obs_rate")
    )


def calibration_partials(ev: DataFrame) -> DataFrame:
    """Per-bin integer partials from a (user_id, event_type) slice —
    the mergeable state of the calibration-bin report."""
    s48 = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cal:"), F.col("user_id").cast("string"))), 1, 12
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("s48")
    )
    y = F.when(F.col("event_type") == "click", 1).otherwise(0).alias("y")
    binned = ev.select(s48, y).select(
        F.expr("s48 * 10 div 281474976710656").cast("bigint").alias("bin"),
        F.expr("s48 div 1048576").alias("s28"),
        "y",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum("s28").cast("bigint").alias("s28_sum"),
    )


@graded("q_calibration_bins", oracle=CALIBRATION_ORACLE)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram (calibration bins) for a scored classifier —
    the ML-eval step between ranking metrics (q_ndcg_eval) and
    inference tests (q_ab_test_report): decile-bin the model score,
    compare mean predicted probability against observed positive rate
    per bin. A calibrated model sits on the diagonal; the per-bin gap
    is what Platt scaling / isotonic regression would correct.

    The 'model' is the house deterministic stand-in: score = 48-bit
    md5 uniform of user_id (kmv_hash's derivation), outcome = the
    event being a click — both engines score IDENTICAL integers, so
    the operator's arithmetic, not a trained artifact, is what's
    graded. Bin index is ALL-INTEGER (s48·10 div 2^48 — never a float
    multiply that could straddle a bin edge). OVERFLOW CONTRACT
    (applied up front per the finalize-product doctrine): Σs48 at
    2^48/term would ANSI-abort at ~2^15 rows per bin — well inside the
    100× probe — so the mean sums the PRE-SCALED s48 div 2^20
    (≤ 2^28/term, safe to 2^35 rows per bin ≈ 3.4e10), both engines
    truncating identically; mean_pred divides by n·2^28 once ⇒
    bit-equal. obs_rate is one division of exact counts.

    100 TB: scan-local scoring, one combinable 10-group agg — the
    q_pricing_summary shape.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return calibration_finalize(calibration_partials(ev))


@graded(
    "q_dp_noise_agg",
    oracle="""
    WITH counts AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type
    ),
    noised AS (
      SELECT event_type, n,
             (CAST(CAST('0x' || substr(md5('dp:' || event_type), 1, 12)
                   AS UBIGINT) AS BIGINT) + 0.5) / 281474976710656.0 AS u
      FROM counts
    )
    SELECT event_type, n,
           round(n + (CASE WHEN u >= 0.5 THEN -2.0 ELSE 2.0 END)
                     * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noisy_n,
           CAST(floor(round(n + (CASE WHEN u >= 0.5 THEN -2.0 ELSE 2.0 END)
                            * ln(1.0 - 2.0 * abs(u - 0.5)), 6) + 0.5)
                AS BIGINT) AS released_n
    FROM noised
    ORDER BY event_type
    """,
)
def q_dp_noise_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private released counts — the Laplace mechanism
    on a grouped count query (sensitivity 1, ε = 0.5 ⇒ scale b = 2):
    the privacy family's release step, after q_k_anonymity (suppression)
    and q_pii_scrub (redaction). Noise is drawn by inverse-CDF from the
    house deterministic uniform (48-bit md5 of the GROUP KEY, +0.5
    offset keeps u strictly inside (0,1) so ln(1−2|u−½|) is finite):
    lap = −b·sign(u−½)·ln(1−2|u−½|). A deterministic 'draw' is of
    course not private in the cryptographic sense — the operator
    demonstrates the MECHANISM arithmetic (and keeps the release
    reproducible for the engineering pipeline); production swaps the
    md5 for a sealed RNG and drops true n from the output.

    Exactness: the single ln() per group follows the ln doctrine —
    noisy_n graded ROUNDED 6dp, released_n derived from the ROUNDED
    value (floor(x+0.5), the quantize_int8 rounding contract), so a
    1-ulp ln difference cannot flip the integer release.

    100 TB: one combinable count agg; the noise is a literal-arithmetic
    projection on the |groups|-row aggregate. ε composes across
    releases by simple addition — run the budget ledger outside.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("dp:"), F.col("event_type"))), 1, 12), 16, 10)
        .cast("bigint")
        + F.lit(0.5)
    ) / F.lit(281474976710656.0)
    lap = (
        F.when(u >= 0.5, F.lit(-2.0)).otherwise(F.lit(2.0))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5)))
    )
    noisy = F.round(F.col("n") + lap, 6)
    return counts.select(
        "event_type",
        "n",
        noisy.alias("noisy_n"),
        F.floor(noisy + F.lit(0.5)).cast("bigint").alias("released_n"),
    )


AUC_ORACLE = """
    WITH scored AS (
      SELECT CAST(CAST('0x' || substr(md5('cal:' || CAST(user_id AS VARCHAR)), 1, 12)
                  AS UBIGINT) AS BIGINT) // 268435456 AS s20,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
      FROM events WHERE user_id IS NOT NULL
    ),
    grid AS (
      SELECT s20,
             CAST(count(*) FILTER (y = 1) AS BIGINT) AS pos_c,
             CAST(count(*) FILTER (y = 0) AS BIGINT) AS neg_c
      FROM scored GROUP BY s20
    ),
    cums AS (
      SELECT pos_c, neg_c,
             coalesce(sum(neg_c) OVER (ORDER BY s20
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
      FROM grid
    ),
    agg AS (
      SELECT CAST(sum(pos_c) AS BIGINT) AS n_pos,
             CAST(sum(neg_c) AS BIGINT) AS n_neg,
             CAST(sum(pos_c * (2 * neg_below + neg_c)) AS BIGINT) AS u2
      FROM cums
    )
    SELECT n_pos, n_neg,
           CAST(u2 AS DOUBLE) / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
             AS auc
    FROM agg
    """


def auc_grid(ev: DataFrame) -> DataFrame:
    """The (s20, pos_c, neg_c) quantized-score count grid — the
    sum-mergeable state of the AUC report (streaming twin folds these
    per micro-batch)."""
    s48 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("cal:"), F.col("user_id").cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("bigint")
    scored = ev.select(
        s48.alias("s48"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("y"),
    ).select(F.expr("s48 div 268435456").alias("s20"), "y")
    return scored.groupBy("s20").agg(
        F.sum("y").cast("bigint").alias("pos_c"),
        F.sum(F.lit(1) - F.col("y")).cast("bigint").alias("neg_c"),
    )


def auc_finalize(grid: DataFrame) -> DataFrame:
    """Shared AUC finalization over the folded score grid: the
    cumulative window and the single division run on the bounded
    ≤2^20-row relation — rank statistics do not merge, counts do."""
    w_run = Window.orderBy("s20").rowsBetween(Window.unboundedPreceding, -1)
    cums = grid.select(
        "pos_c",
        "neg_c",
        F.coalesce(F.sum("neg_c").over(w_run), F.lit(0)).alias("neg_below"),
    )
    agg = cums.agg(
        F.sum("pos_c").cast("bigint").alias("n_pos"),
        F.sum("neg_c").cast("bigint").alias("n_neg"),
        F.sum(F.col("pos_c") * (F.lit(2) * F.col("neg_below") + F.col("neg_c")))
        .cast("bigint")
        .alias("u2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        (
            F.col("u2").cast("double")
            / (F.lit(2.0) * F.col("n_pos").cast("double") * F.col("n_neg").cast("double"))
        ).alias("auc"),
    )


@graded("q_auc_eval", oracle=AUC_ORACLE)
def q_auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of a scored binary classifier by the rank identity
    AUC = P(s⁺ > s⁻) + ½P(s⁺ = s⁻) — the ML-eval companion to
    q_calibration_bins (same deterministic md5 score, outcome = click),
    computed EXACTLY from the score-value count grid: per distinct
    score, u2-contribution = pos_c·(2·neg_below + neg_c) (doubled so
    tie halves stay integer — the Mann-Whitney doubled-rank discipline;
    AUC and U are the same statistic, U = u2/2), one division at the
    end ⇒ bit-equal.

    BOUNDED-GRID design: the score is QUANTIZED to 20 bits
    (s48 div 2^28) as part of the operator contract, so the cumulative
    window runs on a ≤ 2^20-row relation no matter the corpus size —
    the chi-square bounded-grid rule applied to ranking evaluation
    (Mann-Whitney bounds its window per source; AUC's rank is global,
    so the GRID must be bounded instead). Overflow: u2 terms sum to
    2·n_pos·n_neg ≤ 2^63 up to n_pos·n_neg ≈ 4.6e18 (~3e9 events
    balanced) — document past that, quantize counts.

    100 TB: one combinable grid agg (≤1M groups), window + finalize on
    the bounded grid.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return auc_finalize(auc_grid(ev))


@graded(
    "q_mutual_information",
    oracle="""
    WITH grid AS (
      SELECT event_type,
             CAST(least(floor(value / 50), 4) AS BIGINT) AS band,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, band, o,
             CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS r,
             CAST(sum(o) OVER (PARTITION BY band) AS BIGINT)       AS c,
             CAST(sum(o) OVER () AS BIGINT)                        AS nn
      FROM grid
    ),
    terms AS (
      SELECT event_type, band, nn,
             (CAST(o AS DOUBLE) / CAST(nn AS DOUBLE))
               * ln((CAST(o AS DOUBLE) * CAST(nn AS DOUBLE))
                    / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE))) AS term
      FROM tot
    )
    SELECT CAST(max(nn) AS BIGINT) AS n_total,
           round(sum(term ORDER BY event_type, band), 6) AS mi_nats
    FROM terms
    """,
)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(type; band) over the chi-square contingency
    grid — the information-theoretic member of the association family
    (χ² asks 'is there dependence?', MI asks 'how many nats does one
    variable carry about the other?' — the feature-screening score
    behind MI-based feature selection and decision-tree splits).

    Reuses chi_square_grid verbatim (one combinable agg to the bounded
    |types|×|bands| relation, localCheckpoint'd for its marginal-window
    readers). Only OBSERVED cells contribute (the o·ln(o·…) term of an
    empty cell is 0 — no spine needed, unlike χ² where empty cells
    carry (r·c)²-shaped mass). The per-cell ln() follows the ln
    doctrine: terms fold in (type, band) order on both engines (ordered
    struct fold / sum ORDER BY — the PSI contract) and mi_nats is
    graded ROUNDED 6dp.

    100 TB: identical posture to q_chi_square_independence — fact
    collapses to the grid once; everything after is bounded-relation
    arithmetic.
    """
    ev = load_table(spark, sf_dir, "events")
    grid = chi_square_grid(ev).localCheckpoint()
    w_t = Window.partitionBy("event_type")
    w_b = Window.partitionBy("band")
    w_all = Window.partitionBy()
    tot = grid.select(
        "event_type",
        "band",
        "o",
        F.sum("o").over(w_t).cast("bigint").alias("r"),
        F.sum("o").over(w_b).cast("bigint").alias("c"),
        F.sum("o").over(w_all).cast("bigint").alias("nn"),
    )
    o_d, r_d = F.col("o").cast("double"), F.col("r").cast("double")
    c_d, nn_d = F.col("c").cast("double"), F.col("nn").cast("double")
    term = (o_d / nn_d) * F.log((o_d * nn_d) / (r_d * c_d))
    terms = tot.select("event_type", "band", "nn", term.alias("term"))
    return terms.agg(
        F.max("nn").cast("bigint").alias("n_total"),
        F.round(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("event_type").alias("e"),
                                F.col("band").alias("bd"),
                                F.col("term").alias("t"),
                            )
                        )
                    ),
                    lambda s: s["t"],
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ),
            6,
        ).alias("mi_nats"),
    )


@graded(
    "q_gains_table",
    oracle="""
    WITH scored AS (
      SELECT CAST(CAST('0x' || substr(md5('cal:' || CAST(user_id AS VARCHAR)), 1, 12)
                  AS UBIGINT) AS BIGINT) AS s48,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
      FROM events WHERE user_id IS NOT NULL
    ),
    binned AS (
      SELECT CAST(s48 * 10 // 281474976710656 AS BIGINT) AS bin, y FROM scored
    ),
    per_bin AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos
      FROM binned GROUP BY bin
    ),
    cum AS (
      SELECT bin, n, n_pos,
             CAST(sum(n) OVER (ORDER BY bin DESC) AS BIGINT) AS cum_n,
             CAST(sum(n_pos) OVER (ORDER BY bin DESC) AS BIGINT) AS cum_pos,
             CAST(sum(n) OVER () AS BIGINT) AS tot_n,
             CAST(sum(n_pos) OVER () AS BIGINT) AS tot_pos
      FROM per_bin
    )
    SELECT bin, n, n_pos,
           CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE) AS cum_gain,
           (CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE))
             / (CAST(tot_pos AS DOUBLE) / CAST(tot_n AS DOUBLE)) AS cum_lift
    FROM cum
    ORDER BY bin DESC
    """,
)
def q_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift table — the campaign-targeting readout
    that completes the ML-eval trio (calibration = probability quality,
    AUC = ranking quality, gains = business yield of targeting the top
    k deciles): walk score deciles best-first, report the cumulative
    fraction of positives captured and the lift over random targeting.

    Reuses calibration_partials' integer state (bin, n, n_pos); the
    cumulative window runs best-bin-first over the TEN-row aggregate
    (bounded by construction — the chi-square grid rule at its
    smallest); gains/lift are fixed divisions of exact BIGINTs ⇒
    bit-equal.

    100 TB: one combinable 10-group agg; everything after is 10-row
    arithmetic.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    per_bin = calibration_partials(ev).select("bin", "n", "n_pos")
    w_cum = Window.orderBy(F.desc("bin")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cum = per_bin.select(
        "bin",
        "n",
        "n_pos",
        F.sum("n").over(w_cum).cast("bigint").alias("cum_n"),
        F.sum("n_pos").over(w_cum).cast("bigint").alias("cum_pos"),
        F.sum("n").over(w_all).cast("bigint").alias("tot_n"),
        F.sum("n_pos").over(w_all).cast("bigint").alias("tot_pos"),
    )
    return cum.select(
        "bin",
        "n",
        "n_pos",
        (F.col("cum_pos").cast("double") / F.col("tot_pos").cast("double")).alias(
            "cum_gain"
        ),
        (
            (F.col("cum_pos").cast("double") / F.col("cum_n").cast("double"))
            / (F.col("tot_pos").cast("double") / F.col("tot_n").cast("double"))
        ).alias("cum_lift"),
    )


CUPED_ORACLE = """
    WITH e AS (
      SELECT user_id,
             CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT) AS day,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE user_id IS NOT NULL
    ),
    span AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM e),
    per_user AS (
      SELECT user_id,
             CAST(coalesce(sum(CASE WHEN day <  mid THEN cents END), 0) AS BIGINT) // 100 AS x,
             CAST(coalesce(sum(CASE WHEN day >= mid THEN cents END), 0) AS BIGINT) // 100 AS y,
             (substr(md5('cuped:' || CAST(user_id AS VARCHAR)), 1, 1) < '8') AS treat
      FROM e, span GROUP BY user_id, mid
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(count(*) FILTER (treat) AS BIGINT) AS n_a,
             CAST(count(*) FILTER (NOT treat) AS BIGINT) AS n_b,
             CAST(coalesce(sum(x) FILTER (treat), 0) AS BIGINT) AS sx_a,
             CAST(coalesce(sum(y) FILTER (treat), 0) AS BIGINT) AS sy_a,
             CAST(coalesce(sum(x) FILTER (NOT treat), 0) AS BIGINT) AS sx_b,
             CAST(coalesce(sum(y) FILTER (NOT treat), 0) AS BIGINT) AS sy_b
      FROM per_user
    )
    SELECT n, n_a, n_b,
           (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             AS theta,
           (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
             / CAST(n - 1 AS DOUBLE) AS var_y,
           ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
             - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))
             / CAST(n - 1 AS DOUBLE) AS var_y_cuped,
           ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
             / (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
             AS var_reduction,
           CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
             - CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS diff_raw,
           (CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
             - CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE))
           - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
              / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
             * (CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                - CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)) AS diff_cuped
    FROM m
    """


@graded("q_cuped_adjustment", oracle=CUPED_ORACLE)
def q_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng/Xu/Kohavi/Walker 2013) — the
    fourth tool of the experimentation battery (Welch z, SRM, delta
    method, CUPED): the pre-period covariate X absorbs between-user
    variance from the post-period metric Y via theta = cov(X,Y)/var(X),
    and var(Y_cuped) = var(Y) - cov^2/var(X) in CLOSED FORM from pooled
    moments — no per-user adjusted values are ever materialized. Pre =
    days before the integer midpoint of the study span; arm = the
    'cuped:' md5 gate on the randomization unit (distinct users, the
    SRM doctrine).

    Exactness & overflow (the round-11 finalize lesson applied at
    design time): per-user revenue totals are exact floor-cents BIGINTs
    quantized to DOLLARS (div 100, nonnegative so div == floor-div)
    before the pooled second moments — per-user dollars ~5e6 at
    fixture scale means sum(x*x) stays ~1e16 even at 100x replication
    (cents-grain would abort at ~4e19); every finalize product
    (n-free cov/var forms, theta, reduction) is a token-identical
    DOUBLE chain, bit-equal cross-engine. Scale: one user-grain agg
    (the only data-sized shuffle), then ONE combinable 12-column moment
    agg; the report is literal arithmetic on a 1-row frame."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    day = F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).cast("bigint")
    cents = F.floor(F.col("value") * 100).cast("bigint")
    # ONE fact pass: reduce to (user, day) grain first (combinable),
    # derive the midpoint from the reduced relation, then split — the
    # naive form (global span agg + user agg) scans the fact twice.
    ud = (
        ev.select("user_id", day.alias("day"), cents.alias("cents"))
        .groupBy("user_id", "day")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    return cuped_report(ud)


def cuped_report(ud: DataFrame) -> DataFrame:
    """CUPED finalize over a (user_id, day, cents) relation — shared by
    q_cuped_adjustment and its streaming twin: the (user, day) rollup
    is pure-addition mergeable, while the midpoint, the pre/post split,
    and every moment DEPEND on the full horizon and so run only at
    report time over the folded relation (the stream_hist_quantiles
    domain-free-state doctrine)."""
    ud = ud.localCheckpoint()  # feeds span AND per_user (two readers)
    span = ud.agg(
        F.expr("(min(day) + max(day) + 1) div 2").cast("bigint").alias("mid")
    )
    treat = (
        F.substring(
            F.md5(F.concat(F.lit("cuped:"), F.col("user_id").cast("string"))), 1, 1
        )
        < "8"
    )
    per_user = (
        ud.crossJoin(F.broadcast(span))
        .groupBy("user_id", "mid")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("day") < F.col("mid"), F.col("cents"))), F.lit(0)
            ).cast("bigint").alias("pre_cents"),
            F.coalesce(
                F.sum(F.when(F.col("day") >= F.col("mid"), F.col("cents"))), F.lit(0)
            ).cast("bigint").alias("post_cents"),
        )
        .select(
            F.expr("pre_cents div 100").alias("x"),
            F.expr("post_cents div 100").alias("y"),
            treat.alias("treat"),
        )
    )
    is_a, is_b = F.col("treat"), ~F.col("treat")
    m = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.count_if(is_a).cast("bigint").alias("n_a"),
        F.count_if(is_b).cast("bigint").alias("n_b"),
        F.coalesce(F.sum(F.when(is_a, F.col("x"))), F.lit(0)).cast("bigint").alias("sx_a"),
        F.coalesce(F.sum(F.when(is_a, F.col("y"))), F.lit(0)).cast("bigint").alias("sy_a"),
        F.coalesce(F.sum(F.when(is_b, F.col("x"))), F.lit(0)).cast("bigint").alias("sx_b"),
        F.coalesce(F.sum(F.when(is_b, F.col("y"))), F.lit(0)).cast("bigint").alias("sy_b"),
    )
    nd = F.col("n").cast("double")
    cov_n = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / nd
    varx_n = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / nd
    vary_n = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / nd
    theta = cov_n / varx_n
    mean = lambda s, c: F.col(s).cast("double") / F.col(c).cast("double")  # noqa: E731
    diff_raw = mean("sy_a", "n_a") - mean("sy_b", "n_b")
    return m.select(
        "n", "n_a", "n_b",
        theta.alias("theta"),
        (vary_n / (F.col("n") - 1).cast("double")).alias("var_y"),
        ((vary_n - (cov_n * cov_n / varx_n)) / (F.col("n") - 1).cast("double")).alias(
            "var_y_cuped"
        ),
        ((cov_n * cov_n / varx_n) / vary_n).alias("var_reduction"),
        diff_raw.alias("diff_raw"),
        (
            diff_raw - theta * (mean("sx_a", "n_a") - mean("sx_b", "n_b"))
        ).alias("diff_cuped"),
    )


# --- threshold-metric evaluation battery (round 14) --------------------
# Companion to the ranking metrics (AUC / calibration / gains / NDCG):
# the METRICS-AT-A-THRESHOLD family a model report actually ships —
# confusion counts, precision/recall/F1, chance-corrected agreement
# (Cohen's kappa), and the paired-classifier McNemar test. All reuse
# the deterministic md5 score construction of q_auc_eval (score s48 on
# user_id, outcome y = click) so the whole eval battery describes ONE
# classifier consistently.

_CLS_GRID_SQL = """
    scored AS (
      SELECT CAST(CAST('0x' || substr(md5('cal:' || CAST(user_id AS VARCHAR)), 1, 12)
                  AS UBIGINT) AS BIGINT) // 268435456 AS s20,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
      FROM events WHERE user_id IS NOT NULL
    ),
    grid AS (
      SELECT s20,
             CAST(count(*) FILTER (y = 1) AS BIGINT) AS pos_c,
             CAST(count(*) FILTER (y = 0) AS BIGINT) AS neg_c
      FROM scored GROUP BY s20
    )
"""

CLS_THRESHOLDS = [393216, 524288, 655360]  # 0.375/0.5/0.625 of the 2^20 grid


@graded(
    "q_classification_report",
    oracle=f"""
    WITH {_CLS_GRID_SQL},
    thr AS (SELECT unnest([393216, 524288, 655360]) AS thr),
    cm AS (
      SELECT thr,
             CAST(sum(CASE WHEN s20 >= thr THEN pos_c ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN s20 >= thr THEN neg_c ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN s20 <  thr THEN pos_c ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN s20 <  thr THEN neg_c ELSE 0 END) AS BIGINT) AS tn
      FROM grid, thr GROUP BY thr
    )
    SELECT CAST(thr AS BIGINT) AS thr, tp, fp, fn, tn,
           CASE WHEN tp + fp > 0
                THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS prec,
           CASE WHEN tp + fn > 0
                THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS rec,
           CASE WHEN tp + fp > 0 AND tp + fn > 0
                 AND CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
                   + CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) > 0
                THEN 2.0 * (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))
                         * (CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE))
                     / (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
                        + CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)) END AS f1
    FROM cm ORDER BY thr
    """,
)
def q_classification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision / recall / F1 at three operating thresholds of the
    q_auc_eval classifier — the threshold-metric report that turns a
    ranking (AUC) into a deployable operating point.

    Confusion counts come from the SAME bounded s20 score grid as AUC
    (one combinable fact agg; the 3-row threshold table broadcasts onto
    the ≤2^20-row grid, so the fact is read once no matter how many
    operating points are evaluated). tp/fp/fn/tn are exact BIGINTs;
    prec/rec are single divisions and f1 one token-identical double
    chain (left-assoc 2.0·p·r/(p+r) both engines) ⇒ bit-equal, with
    degenerate operating points (no predicted / no actual positives)
    NULLed by CASE on both sides.

    100 TB: identical posture to q_auc_eval — the fact collapses to the
    quantized grid once; everything after is bounded-relation math."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    grid = auc_grid(ev)
    thr = spark.createDataFrame([(t,) for t in CLS_THRESHOLDS], "thr bigint")
    above = F.col("s20") >= F.col("thr")
    cm = (
        grid.crossJoin(F.broadcast(thr))
        .groupBy("thr")
        .agg(
            F.sum(F.when(above, F.col("pos_c")).otherwise(0)).cast("bigint").alias("tp"),
            F.sum(F.when(above, F.col("neg_c")).otherwise(0)).cast("bigint").alias("fp"),
            F.sum(F.when(~above, F.col("pos_c")).otherwise(0)).cast("bigint").alias("fn"),
            F.sum(F.when(~above, F.col("neg_c")).otherwise(0)).cast("bigint").alias("tn"),
        )
    )
    tp_d = F.col("tp").cast("double")
    p = tp_d / (F.col("tp") + F.col("fp")).cast("double")
    r = tp_d / (F.col("tp") + F.col("fn")).cast("double")
    prec = F.when(F.col("tp") + F.col("fp") > 0, p)
    rec = F.when(F.col("tp") + F.col("fn") > 0, r)
    f1 = F.when(
        (F.col("tp") + F.col("fp") > 0)
        & (F.col("tp") + F.col("fn") > 0)
        & (p + r > 0),
        F.lit(2.0) * p * r / (p + r),
    )
    return cm.select(
        "thr", "tp", "fp", "fn", "tn",
        prec.alias("prec"), rec.alias("rec"), f1.alias("f1"),
    ).orderBy("thr")


@graded(
    "q_cohens_kappa",
    oracle=f"""
    WITH {_CLS_GRID_SQL},
    cm AS (
      SELECT CAST(sum(CASE WHEN s20 >= 524288 THEN pos_c ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN s20 >= 524288 THEN neg_c ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN s20 <  524288 THEN pos_c ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN s20 <  524288 THEN neg_c ELSE 0 END) AS BIGINT) AS tn
      FROM grid
    ),
    r AS (
      SELECT tp, fp, fn, tn, tp + fp + fn + tn AS n,
             CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE) AS po,
             (CAST(tp + fp AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE))
               * (CAST(tp + fn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE))
             + (CAST(fn + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE))
               * (CAST(fp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE)) AS pe
      FROM cm
    )
    SELECT CAST(n AS BIGINT) AS n, tp, fp, fn, tn, po, pe,
           CASE WHEN pe < 1.0 THEN (po - pe) / (1.0 - pe) END AS kappa
    FROM r
    """,
)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the midpoint-threshold classifier and the
    truth label — chance-corrected agreement, the metric that exposes a
    high-accuracy-by-imbalance classifier (po can be 0.95 while kappa
    is ~0 if the base rate is 95%). The inter-annotator form is
    identical math: rater A = the model, rater B = the label.

    po = (tp+tn)/n is one exact division; pe is computed as the sum of
    MARGINAL-SHARE PRODUCTS — (a1/n)(b1/n) + (a0/n)(b0/n), each factor
    a single division — rather than marginal-count products, because
    (tp+fp)·(tp+fn) is a BIGINT product of two n-proportional
    aggregates and overflows near n ≈ 3e9 (the round-11
    finalize-product doctrine applied at design time). kappa is one
    further token-identical chain; the pe = 1 degenerate (a constant
    classifier AND constant labels) NULLs by CASE on both sides.

    100 TB: the fact collapses to the s20 grid once (shared auc_grid);
    the confusion matrix is one agg over the bounded grid."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    grid = auc_grid(ev)
    above = F.col("s20") >= 524288
    cm = grid.agg(
        F.sum(F.when(above, F.col("pos_c")).otherwise(0)).cast("bigint").alias("tp"),
        F.sum(F.when(above, F.col("neg_c")).otherwise(0)).cast("bigint").alias("fp"),
        F.sum(F.when(~above, F.col("pos_c")).otherwise(0)).cast("bigint").alias("fn"),
        F.sum(F.when(~above, F.col("neg_c")).otherwise(0)).cast("bigint").alias("tn"),
    )
    n = F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")
    n_d = n.cast("double")
    po = (F.col("tp") + F.col("tn")).cast("double") / n_d
    pe = ((F.col("tp") + F.col("fp")).cast("double") / n_d) * (
        (F.col("tp") + F.col("fn")).cast("double") / n_d
    ) + ((F.col("fn") + F.col("tn")).cast("double") / n_d) * (
        (F.col("fp") + F.col("tn")).cast("double") / n_d
    )
    r = cm.select(
        "tp", "fp", "fn", "tn",
        n.cast("bigint").alias("n"), po.alias("po"), pe.alias("pe"),
    )
    kappa = F.when(
        F.col("pe") < 1.0, (F.col("po") - F.col("pe")) / (F.lit(1.0) - F.col("pe"))
    )
    return r.select("n", "tp", "fp", "fn", "tn", "po", "pe", kappa.alias("kappa"))


FLEISS_KAPPA_ORACLE = """
    WITH rated AS (
      SELECT d.doc_id,
             CASE WHEN substr(md5('fk:' || CAST(r.r AS VARCHAR) || ':'
                                  || CAST(d.doc_id AS VARCHAR)), 1, 2) < '40'
                  THEN CAST((strpos('0123456789abcdef',
                              substr(md5('fk:' || CAST(r.r AS VARCHAR) || ':'
                                         || CAST(d.doc_id AS VARCHAR)), 3, 1))
                             - 1) % 4 AS BIGINT)
                  ELSE CAST(least(n_chars // 500, 3) AS BIGINT)
             END AS label
      FROM documents d CROSS JOIN (VALUES (1), (2), (3)) r(r)
    ),
    counts AS (
      SELECT doc_id, label, CAST(count(*) AS BIGINT) AS nij
      FROM rated GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_items,
             CAST(sum(nij * nij) AS BIGINT) AS s_sq
      FROM counts
    ),
    cats AS (
      SELECT label, CAST(sum(nij) AS BIGINT) AS cj FROM counts GROUP BY 1
    ),
    pe AS (
      SELECT sum((CAST(cj AS DOUBLE) / (t.n_items * 3))
                 * (CAST(cj AS DOUBLE) / (t.n_items * 3))
                 ORDER BY label) AS p_e
      FROM cats, tot t
    )
    SELECT t.n_items, t.s_sq,
           CAST(t.s_sq - t.n_items * 3 AS DOUBLE)
             / CAST(t.n_items * 6 AS DOUBLE) AS p_bar,
           pe.p_e AS p_e,
           CASE WHEN 1.0 - pe.p_e <> 0 THEN
             round((CAST(t.s_sq - t.n_items * 3 AS DOUBLE)
                      / CAST(t.n_items * 6 AS DOUBLE) - pe.p_e)
                   / (1.0 - pe.p_e), 6)
           END AS kappa
    FROM tot t, pe
    """


@graded("q_fleiss_kappa", oracle=FLEISS_KAPPA_ORACLE)
def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa — MULTI-rater chance-corrected agreement (Cohen's
    kappa generalized past two raters), the standard QA statistic for
    labeling crews and LLM-judge ensembles: n=3 raters assign each
    document one of k=4 length-band categories.

    Rater labels are md5-PLANTED (the logrank/out-of-order doctrine —
    the fixture has no rater structure): each rater reports the true
    band least(n_chars div 500, 3) but with 25% probability (first two
    digest hex chars < '40') replaces it with a digest-derived random
    category (3rd hex char mod 4) — so the statistic measures a real
    ~0.56 planted agreement, and BOTH engines generate identical
    ratings from the shared formula (integer/md5 arithmetic only).

    Exactness: per-(doc, category) counts nij <= 3 so S = sum(nij^2) is
    an exact BIGINT; P_bar = (S - 3N)/(6N) is one division of exact
    integers. P_e sums category-share SQUARES — shares as doubles, a
    label-ORDERED fold (sum ORDER BY label vs array_sort+aggregate;
    marginal-count products C_j^2 would overflow BIGINT at N*3 > ~3e9,
    the cohens_kappa share doctrine). kappa graded ROUNDED 6dp; the
    p_e = 1 degenerate NULLs by CASE.

    Scale: one explode-by-3 over the corpus scan, one combinable
    (doc, label) agg, then everything is bounded (k=4 categories; the
    counts frame is localCheckpoint'd — two readers)."""
    docs = load_table(spark, sf_dir, "documents")
    rated = docs.select(
        "doc_id",
        "n_chars",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("r"),
    )
    digest = F.md5(
        F.concat(
            F.lit("fk:"), F.col("r").cast("string"), F.lit(":"),
            F.col("doc_id").cast("string"),
        )
    )
    noise_cat = (F.conv(F.substring(digest, 3, 1), 16, 10).cast("bigint") % 4)
    true_cat = F.expr("least(n_chars div 500, 3)").cast("bigint")
    label = F.when(F.substring(digest, 1, 2) < "40", noise_cat).otherwise(true_cat)
    counts = (
        rated.select("doc_id", label.alias("label"))
        .groupBy("doc_id", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nij"))
        .localCheckpoint()
    )
    tot = counts.agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_items"),
        F.sum(F.col("nij") * F.col("nij")).cast("bigint").alias("s_sq"),
    ).localCheckpoint()
    cats = counts.groupBy("label").agg(F.sum("nij").cast("bigint").alias("cj"))
    share = F.col("cj").cast("double") / (F.col("n_items") * 3)
    pe = (
        cats.crossJoin(F.broadcast(tot))
        .select("label", (share * share).alias("term"))
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("label").alias("lb"), F.col("term").alias("t"))
                        )
                    ),
                    lambda s: s["t"],
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ).alias("p_e")
        )
    )
    base = pe.crossJoin(F.broadcast(tot))
    p_bar = (F.col("s_sq") - F.col("n_items") * 3).cast("double") / (
        F.col("n_items") * 6
    ).cast("double")
    out = base.select(
        "n_items", "s_sq", p_bar.alias("p_bar"), "p_e"
    )
    kappa = F.when(
        F.lit(1.0) - F.col("p_e") != 0,
        F.round(
            (F.col("p_bar") - F.col("p_e")) / (F.lit(1.0) - F.col("p_e")), 6
        ),
    )
    return out.select("n_items", "s_sq", "p_bar", "p_e", kappa.alias("kappa"))


@graded(
    "q_mcnemar_test",
    oracle="""
    WITH e AS (
      SELECT CASE WHEN CAST(CAST('0x' || substr(md5('cal:' || CAST(user_id AS VARCHAR)), 1, 12)
                       AS UBIGINT) AS BIGINT) >= 140737488355328 THEN 1 ELSE 0 END AS c1,
             CASE WHEN CAST(floor(value * 100) AS BIGINT) >= 5000 THEN 1 ELSE 0 END AS c2,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
      FROM events WHERE user_id IS NOT NULL
    ),
    cm AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (c1 = y AND c2 <> y) AS BIGINT) AS n_disc_a,
             CAST(count(*) FILTER (c1 <> y AND c2 = y) AS BIGINT) AS n_disc_b
      FROM e
    )
    SELECT n, n_disc_a, n_disc_b,
           CASE WHEN n_disc_a + n_disc_b > 0
                THEN (CAST(n_disc_a AS DOUBLE) - CAST(n_disc_b AS DOUBLE))
                   * (CAST(n_disc_a AS DOUBLE) - CAST(n_disc_b AS DOUBLE))
                   / CAST(n_disc_a + n_disc_b AS DOUBLE) END AS chi2,
           CASE WHEN n_disc_a + n_disc_b > 0
                THEN (CAST(n_disc_a AS DOUBLE) - CAST(n_disc_b AS DOUBLE))
                   * (CAST(n_disc_a AS DOUBLE) - CAST(n_disc_b AS DOUBLE))
                   / CAST(n_disc_a + n_disc_b AS DOUBLE) > 3.841458820694124
                ELSE FALSE END AS reject_95
    FROM cm
    """,
)
def q_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired-classifier test (experimentation battery #5,
    after Welch z / SRM / delta-method / CUPED): do two classifiers
    scored on the SAME events differ, judged only on their DISCORDANT
    pairs — the correct test when per-event outcomes are paired, where
    an unpaired two-proportion z is anticonservative. Classifier 1 is
    the md5-score midpoint rule (the auc/kappa model), classifier 2 a
    value-based business rule (cents ≥ 5000 ⇒ click); both are
    deterministic integer predicates, so the discordant-pair counts
    n_disc_a / n_disc_b are exact BIGINTs from ONE fact agg.

    chi2 = (a−b)²/(a+b) runs entirely in DOUBLES (a−b is n-proportional
    and squaring it overflows BIGINT near 3e9 events — the round-11
    finalize-product doctrine), one token-identical chain ⇒ bit-equal;
    reject compares against the same χ²₁ 0.95 literal as
    q_chi_square_independence. The zero-discordance degenerate NULLs
    chi2 and reports FALSE on both sides.

    100 TB: one combinable scan-local agg; no grid, no window, no
    join."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    s48 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("cal:"), F.col("user_id").cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("bigint")
    c1 = F.when(s48 >= F.lit(140737488355328), 1).otherwise(0)
    c2 = F.when(F.floor(F.col("value") * 100).cast("bigint") >= 5000, 1).otherwise(0)
    y = F.when(F.col("event_type") == "click", 1).otherwise(0)
    e = ev.select(c1.alias("c1"), c2.alias("c2"), y.alias("y"))
    cm = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_if((F.col("c1") == F.col("y")) & (F.col("c2") != F.col("y")))
        .cast("bigint")
        .alias("n_disc_a"),
        F.count_if((F.col("c1") != F.col("y")) & (F.col("c2") == F.col("y")))
        .cast("bigint")
        .alias("n_disc_b"),
    )
    d = F.col("n_disc_a").cast("double") - F.col("n_disc_b").cast("double")
    tot = (F.col("n_disc_a") + F.col("n_disc_b")).cast("double")
    chi2 = F.when(F.col("n_disc_a") + F.col("n_disc_b") > 0, d * d / tot)
    reject = F.when(
        F.col("n_disc_a") + F.col("n_disc_b") > 0,
        d * d / tot > F.lit(3.841458820694124),
    ).otherwise(F.lit(False))
    return cm.select(
        "n", "n_disc_a", "n_disc_b", chi2.alias("chi2"), reject.alias("reject_95")
    )


@graded(
    "q_covariate_balance",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CASE WHEN substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) // 100 AS BIGINT) AS dollars,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000)
                  AS BIGINT)) AS BIGINT) AS n_days
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    stacked AS (
      SELECT arm, 'dollars' AS covariate, dollars AS x FROM u
      UNION ALL SELECT arm, 'n_events', n_events FROM u
      UNION ALL SELECT arm, 'n_days', n_days FROM u
    ),
    m AS (
      SELECT covariate,
             CAST(count(*) FILTER (arm = 'A') AS BIGINT) AS n_a,
             CAST(count(*) FILTER (arm = 'B') AS BIGINT) AS n_b,
             CAST(sum(x) FILTER (arm = 'A') AS BIGINT) AS s_a,
             CAST(sum(x) FILTER (arm = 'B') AS BIGINT) AS s_b,
             CAST(sum(x * x) FILTER (arm = 'A') AS BIGINT) AS q_a,
             CAST(sum(x * x) FILTER (arm = 'B') AS BIGINT) AS q_b
      FROM stacked GROUP BY covariate
    ),
    g AS (
      SELECT covariate, n_a, n_b,
             CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
             CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
             CASE WHEN n_a > 1 AND n_b > 1 THEN
               ((CAST(n_a AS DOUBLE) * q_a - CAST(s_a AS DOUBLE) * s_a)
                  / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0))
                + (CAST(n_b AS DOUBLE) * q_b - CAST(s_b AS DOUBLE) * s_b)
                  / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0))) / 2.0
             END AS pooled
      FROM m
    )
    SELECT covariate, n_a, n_b, mean_a, mean_b,
           CASE WHEN pooled > 0.0
                THEN (mean_a - mean_b) / sqrt(pooled) END AS smd,
           CASE WHEN pooled > 0.0
                THEN abs((mean_a - mean_b) / sqrt(pooled)) < 0.1 END AS balanced
    FROM g ORDER BY covariate
    """,
)
def q_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariate-balance check for the 'ab:' experiment (battery #6):
    standardized mean difference (SMD) of three PRE-TREATMENT user
    covariates between arms — the randomization-health diagnostic run
    before trusting any effect estimate (|SMD| < 0.1 is the standard
    balance threshold; imbalance means the gate is broken or the unit
    is wrong, the SRM check's distribution-level sibling).

    The randomization unit is the USER (covariates are user-grain
    aggregates: spend dollars, event count, active days), so moments
    are over users, never events. Spend is quantized to DOLLARS so
    Σx² survives 100× (the CUPED precedent — user cents totals hit the
    ~3e9 moment-sum bound). SMD = (mean_a − mean_b)/√((s²_a + s²_b)/2)
    is one token-identical double chain over exact BIGINT moments
    (n·q products in DOUBLE per the finalize doctrine) ⇒ bit-equal,
    and `balanced` compares the identical double to 0.1.

    Plan: one user-grain agg (the only data-sized exchange), a 3-way
    covariate stack on the user relation, one combinable moment agg."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    arm = ab_arm()
    day = F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).cast("bigint")
    cents = F.floor(F.col("value") * 100).cast("bigint")
    u = (
        ev.select("user_id", arm.alias("arm"), day.alias("day"), cents.alias("cents"))
        .groupBy("user_id", "arm")
        .agg(
            F.expr("sum(cents) div 100").cast("bigint").alias("dollars"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("day").cast("bigint").alias("n_days"),
        )
    )
    stacked = u.selectExpr(
        "arm",
        "stack(3, 'dollars', dollars, 'n_events', n_events, 'n_days', n_days)"
        " AS (covariate, x)",
    )
    m = stacked.groupBy("covariate").agg(
        F.count_if(F.col("arm") == "A").cast("bigint").alias("n_a"),
        F.count_if(F.col("arm") == "B").cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("arm") == "A", F.col("x"))).cast("bigint").alias("s_a"),
        F.sum(F.when(F.col("arm") == "B", F.col("x"))).cast("bigint").alias("s_b"),
        F.sum(F.when(F.col("arm") == "A", F.col("x") * F.col("x")))
        .cast("bigint")
        .alias("q_a"),
        F.sum(F.when(F.col("arm") == "B", F.col("x") * F.col("x")))
        .cast("bigint")
        .alias("q_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, sb = F.col("s_a").cast("double"), F.col("s_b").cast("double")
    mean_a, mean_b = sa / na, sb / nb
    va = (na * F.col("q_a") - sa * F.col("s_a")) / (na * (na - F.lit(1.0)))
    vb = (nb * F.col("q_b") - sb * F.col("s_b")) / (nb * (nb - F.lit(1.0)))
    # singleton arms (n−1 = 0) and constant covariates (pooled var 0)
    # would produce NaN/Inf whose cross-engine hash is undefined — NULL
    # the degenerates by CASE on both sides (regen-proofing).
    pooled = F.when(
        (F.col("n_a") > 1) & (F.col("n_b") > 1), (va + vb) / F.lit(2.0)
    )
    smd = F.when(pooled > 0.0, (mean_a - mean_b) / F.sqrt(pooled))
    balanced = F.when(pooled > 0.0, F.abs((mean_a - mean_b) / F.sqrt(pooled)) < 0.1)
    return m.select(
        "covariate", "n_a", "n_b",
        mean_a.alias("mean_a"), mean_b.alias("mean_b"),
        smd.alias("smd"), balanced.alias("balanced"),
    ).orderBy("covariate")


@graded(
    "q_power_mde",
    oracle="""
    WITH e AS (
      SELECT CASE WHEN substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE user_id IS NOT NULL
    ),
    m AS (
      SELECT CAST(count(*) FILTER (arm = 'A') AS BIGINT) AS n_a,
             CAST(count(*) FILTER (arm = 'B') AS BIGINT) AS n_b,
             CAST(sum(cents) FILTER (arm = 'A') AS BIGINT) AS s_a,
             CAST(sum(cents) FILTER (arm = 'B') AS BIGINT) AS s_b,
             CAST(sum(cents * cents) FILTER (arm = 'A') AS BIGINT) AS q_a,
             CAST(sum(cents * cents) FILTER (arm = 'B') AS BIGINT) AS q_b
      FROM e
    ),
    se AS (
      SELECT n_a, n_b,
             CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
             CASE WHEN n_a > 1 AND n_b > 1 THEN
               sqrt((CAST(n_a AS DOUBLE) * q_a - CAST(s_a AS DOUBLE) * s_a)
                      / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0))
                      / CAST(n_a AS DOUBLE)
                    + (CAST(n_b AS DOUBLE) * q_b - CAST(s_b AS DOUBLE) * s_b)
                      / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0))
                      / CAST(n_b AS DOUBLE))
             END AS se
      FROM m
    )
    SELECT n_a, n_b, se,
           (1.959963984540054 + 0.8416212335729143) * se AS mde_abs_cents,
           CASE WHEN mean_a > 0.0
                THEN (1.959963984540054 + 0.8416212335729143) * se / mean_a
           END AS mde_rel
    FROM se
    """,
)
def q_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect at the CURRENT sample sizes
    (experimentation battery #7): the pre-readout power check — with
    these n's and this variance, the smallest true lift a
    two-sided α=0.05 test detects with 80% power is
    (z_{0.975} + z_{0.80})·SE. An observed effect below the MDE means
    'underpowered', not 'no effect' — the report that prevents the
    classic false-negative ship decision.

    SE is the Welch standard error from the same exact BIGINT moments
    as q_ab_test_report (one combinable FILTER-agg); the z quantiles
    are LITERALS in both engines (no erf at query time — the
    record-linkage precomputed-constant doctrine); mde_abs/mde_rel are
    token-identical chains ⇒ bit-equal.

    100 TB: one scan-local combinable agg; finalize on one row."""
    m = ab_assigned(spark, sf_dir).agg(
        F.count_if(F.col("arm") == "A").cast("bigint").alias("n_a"),
        F.count_if(F.col("arm") == "B").cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("arm") == "A", F.col("cents"))).cast("bigint").alias("s_a"),
        F.sum(F.when(F.col("arm") == "B", F.col("cents"))).cast("bigint").alias("s_b"),
        F.sum(F.when(F.col("arm") == "A", F.col("cents") * F.col("cents")))
        .cast("bigint")
        .alias("q_a"),
        F.sum(F.when(F.col("arm") == "B", F.col("cents") * F.col("cents")))
        .cast("bigint")
        .alias("q_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, sb = F.col("s_a").cast("double"), F.col("s_b").cast("double")
    mean_a = sa / na
    # singleton arms (n−1 = 0) → NaN se; all-zero arm-A revenue → Inf
    # mde_rel — NULL both degenerates by CASE (regen-proofing).
    se = F.when(
        (F.col("n_a") > 1) & (F.col("n_b") > 1),
        F.sqrt(
            (na * F.col("q_a") - sa * F.col("s_a")) / (na * (na - F.lit(1.0))) / na
            + (nb * F.col("q_b") - sb * F.col("s_b")) / (nb * (nb - F.lit(1.0))) / nb
        ),
    )
    z = F.lit(1.959963984540054) + F.lit(0.8416212335729143)
    out = m.select("n_a", "n_b", se.alias("se"), mean_a.alias("mean_a"))
    return out.select(
        "n_a", "n_b", "se",
        (z * F.col("se")).alias("mde_abs_cents"),
        F.when(
            F.col("mean_a") > 0.0, z * F.col("se") / F.col("mean_a")
        ).alias("mde_rel"),
    )


JSD_DRIFT_ORACLE = """
    WITH e AS (
      SELECT CASE WHEN substr(md5('jsd:' || CAST(event_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'ref' ELSE 'cur' END AS half,
             CAST(least(floor(value / 25), 9) AS BIGINT) AS band
      FROM events
    ),
    grid AS (
      SELECT band,
             CAST(count(*) FILTER (half = 'ref') AS BIGINT) AS a,
             CAST(count(*) FILTER (half = 'cur') AS BIGINT) AS b
      FROM e GROUP BY band
    ),
    tot AS (
      SELECT band, a, b,
             CAST(sum(a) OVER () AS BIGINT) AS na,
             CAST(sum(b) OVER () AS BIGINT) AS nb
      FROM grid
    ),
    terms AS (
      SELECT band, na, nb,
             CASE WHEN na > 0 AND nb > 0 THEN
             0.5 * (CASE WHEN a > 0 THEN (CAST(a AS DOUBLE) / na)
                      * ln((CAST(a AS DOUBLE) / na)
                           / ((CAST(a AS DOUBLE) / na + CAST(b AS DOUBLE) / nb) / 2.0))
                    ELSE 0.0 END)
             + 0.5 * (CASE WHEN b > 0 THEN (CAST(b AS DOUBLE) / nb)
                      * ln((CAST(b AS DOUBLE) / nb)
                           / ((CAST(a AS DOUBLE) / na + CAST(b AS DOUBLE) / nb) / 2.0))
                    ELSE 0.0 END)
             ELSE 0.0 END AS term
      FROM tot
    )
    SELECT CAST(max(na) AS BIGINT) AS n_ref,
           CAST(max(nb) AS BIGINT) AS n_cur,
           CASE WHEN max(na) > 0 AND max(nb) > 0
                THEN round(sum(term ORDER BY band), 6) END AS jsd_nats,
           CASE WHEN max(na) > 0 AND max(nb) > 0
                THEN round(sum(term ORDER BY band), 6) > CAST(0.05 AS DOUBLE)
                END AS drifted
    FROM terms
    """


@graded("q_jsd_drift", oracle=JSD_DRIFT_ORACLE)
def q_jsd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between two md5-split halves of the
    value distribution — the symmetric, bounded (≤ ln 2) member of the
    drift battery (KS = max CDF gap, PSI = weighted log-odds, χ² =
    count-scaled, JSD = information-theoretic and safe on empty bins
    WITHOUT smoothing: a zero-probability side contributes exactly 0
    via its p·ln(p/m) limit, handled by CASE on both engines, never an
    add-one prior distorting small bins).

    One combinable FILTER-agg collapses the fact to the ≤10-band grid;
    totals ride two unbounded windows on the grid (bounded relation —
    the mutual_information posture). Terms fold in band order (the
    ln/PSI ordering doctrine), jsd graded ROUNDED 6dp with `drifted`
    derived from the rounded value.

    100 TB: fact → 10-row grid once; everything after is bounded."""
    return jsd_report(jsd_grid(load_table(spark, sf_dir, "events")))


def jsd_grid(ev: DataFrame) -> DataFrame:
    """The (band, a, b) count grid — the sum-mergeable state of the JSD
    drift report (the streaming twin folds these per micro-batch)."""
    half = F.when(
        F.substring(
            F.md5(F.concat(F.lit("jsd:"), F.col("event_id").cast("string"))), 1, 1
        )
        < "8",
        F.lit("ref"),
    ).otherwise(F.lit("cur"))
    band = F.least(F.floor(F.col("value") / 25), F.lit(9)).cast("bigint")
    return (
        ev.select(half.alias("half"), band.alias("band"))
        .groupBy("band")
        .agg(
            F.count_if(F.col("half") == "ref").cast("bigint").alias("a"),
            F.count_if(F.col("half") == "cur").cast("bigint").alias("b"),
        )
    )


def jsd_report(grid: DataFrame) -> DataFrame:
    """Shared JSD finalize over the folded band grid (bounded
    relation): totals via two unbounded windows, terms folded in band
    order, jsd graded rounded 6dp."""
    w_all = Window.partitionBy()
    tot = grid.select(
        "band", "a", "b",
        F.sum("a").over(w_all).cast("bigint").alias("na"),
        F.sum("b").over(w_all).cast("bigint").alias("nb"),
    )
    p = F.col("a").cast("double") / F.col("na")
    q = F.col("b").cast("double") / F.col("nb")
    mid = (p + q) / F.lit(2.0)
    # Degenerate guard (ADVICE r14): an empty half (na=0 or nb=0) makes
    # p or q a 0/0 = NaN double — double division does NOT abort under
    # ANSI, and NaN's fold/hash is cross-engine-undefined. Same doctrine
    # as q_neyman_allocation / q_covariate_balance / q_power_mde;
    # mirrored CASE in JSD_DRIFT_ORACLE. ~2^-n on real fixtures.
    term = F.when(
        (F.col("na") > 0) & (F.col("nb") > 0),
        F.lit(0.5) * F.when(F.col("a") > 0, p * F.log(p / mid)).otherwise(F.lit(0.0))
        + F.lit(0.5)
        * F.when(F.col("b") > 0, q * F.log(q / mid)).otherwise(F.lit(0.0)),
    ).otherwise(F.lit(0.0))
    terms = tot.select("band", "na", "nb", term.alias("term"))
    jsd = F.round(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("band").alias("bd"), F.col("term").alias("t")))
                ),
                lambda s: s["t"],
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
        6,
    )
    # Empty-grid / empty-half mirror: the oracle's guarded CASE yields
    # NULL where an unguarded Spark fold over zero collected rows would
    # yield 0.0 — make both NULL (the hash must agree on degenerates).
    ok = (F.max("na") > 0) & (F.max("nb") > 0)
    return terms.agg(
        F.max("na").cast("bigint").alias("n_ref"),
        F.max("nb").cast("bigint").alias("n_cur"),
        F.when(ok, jsd).alias("jsd_nats"),
        F.when(ok, jsd > F.lit(0.05)).alias("drifted"),
    )


@graded(
    "q_brier_score",
    oracle="""
    WITH scored AS (
      SELECT CAST(CAST('0x' || substr(md5('cal:' || CAST(user_id AS VARCHAR)), 1, 12)
                  AS UBIGINT) AS BIGINT) // 274877906944 AS s10,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
      FROM events WHERE user_id IS NOT NULL
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum((s10 - y * 1024) * (s10 - y * 1024)) AS BIGINT) AS sum_sq
      FROM scored
    )
    SELECT n, sum_sq,
           CAST(sum_sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0) AS brier
    FROM agg
    """,
)
def q_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the calibration-family classifier — mean squared
    error of the predicted probability against the outcome, the proper
    scoring rule that punishes BOTH miscalibration and low resolution
    in one number (q_calibration_bins shows WHERE the probabilities
    drift; Brier says HOW MUCH it costs overall).

    ALL-INTEGER FORM: the probability is the 10-bit quantized score
    p = s10/1024 (operator contract, the AUC bounded-grid discipline),
    so (p − y)² = (s10 − 1024·y)²/2²⁰ and the sum is an EXACT BIGINT —
    Σ(s10 − 1024y)² ≤ 2²⁰·n stays under 2⁶³ to ~8.8e12 events (the
    10-bit width is chosen so even 1000× fixture volume has 1000×
    headroom); brier is one division ⇒ bit-equal, no rounding, no
    ordered fold (an unquantized double-sum form would need one).

    100 TB: one scan-local combinable agg; nothing else."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    y = F.when(F.col("event_type") == "click", 1).otherwise(0)
    # integer floor-div via `div` — a double divide + cast would round,
    # not floor, and shift grid-boundary scores.
    scored = ev.select(
        F.expr(
            "cast(conv(substring(md5(concat('cal:', cast(user_id as string))), 1, 12), 16, 10) as bigint)"
            " div 274877906944"
        ).alias("s10"),
        y.alias("y"),
    )
    d = F.col("s10") - F.col("y") * 1024
    agg = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(d * d).cast("bigint").alias("sum_sq"),
    )
    return agg.select(
        "n", "sum_sq",
        (F.col("sum_sq").cast("double") / (F.col("n").cast("double") * F.lit(1048576.0)))
        .alias("brier"),
    )


@graded(
    "q_isotonic_calibration",
    oracle="""
    WITH scored AS (
      SELECT CAST(CAST('0x' || substr(md5('cal:' || CAST(user_id AS VARCHAR)), 1, 12)
                  AS UBIGINT) AS BIGINT) // 274877906944 AS s10,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
      FROM events WHERE user_id IS NOT NULL
    ),
    grid AS (
      SELECT s10, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS c
      FROM scored GROUP BY s10
    ),
    pre AS (
      SELECT s10, n, c,
             CAST(sum(n) OVER w AS BIGINT) AS pn,
             CAST(sum(c) OVER w AS BIGINT) AS pc,
             CAST(sum(n) OVER w AS BIGINT) - n AS qn,
             CAST(sum(c) OVER w AS BIGINT) - c AS qc
      FROM grid
      WINDOW w AS (ORDER BY s10 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    pairs AS (
      SELECT a.s10 AS i, b.s10 AS j,
             CAST(b.pc - a.qc AS DOUBLE) / CAST(b.pn - a.qn AS DOUBLE) AS av
      FROM pre a JOIN pre b ON a.s10 <= b.s10
    ),
    mm AS (
      SELECT i, j,
             min(av) OVER (PARTITION BY i ORDER BY j DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
      FROM pairs
    ),
    iso AS (
      SELECT j AS s10, max(m) AS iso_rate FROM mm GROUP BY j
    )
    SELECT g.s10, g.n, g.c,
           CAST(g.c AS DOUBLE) / CAST(g.n AS DOUBLE) AS raw_rate,
           iso.iso_rate
    FROM grid g JOIN iso USING (s10) ORDER BY g.s10
    """,
)
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of the md5-scored classifier — the
    nonparametric recalibration map every platt-or-isotonic pipeline
    fits on holdout data, completing the calibration battery
    (calibration_bins = diagnosis, Brier = cost, isotonic = the fix).

    NOT the sequential pool-adjacent-violators loop: the L2 isotonic
    fit has the CLOSED minimax form iso(k) = max_{i≤k} min_{j≥k}
    Av(i, j) (Robertson-Wright-Dykstra), and on the 10-bit-quantized
    score grid (≤1024 buckets, the AUC bounded-grid contract) the full
    (i, j) pair relation is ≤ 2^20 rows REGARDLESS of corpus size — so
    an inherently iterative-looking operator becomes one bounded
    self-join + one running-min window + one max agg, exactly
    replayable in SQL. Av(i,j) is one division of exact BIGINT prefix
    sums; min/max are SELECTIONS (no accumulation), so every output
    double is bit-equal cross-engine — an ORACLE-PAIRED isotonic
    regression, where a PAV loop would have been rows-only.

    100 TB: the fact collapses to the grid once; everything after is
    bounded-relation math (the chi-square posture). Monotonicity and
    level-set mean preservation are tested against a reference PAV
    implementation in tests/test_round14_ops.py."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    y = F.when(F.col("event_type") == "click", 1).otherwise(0)
    scored = ev.select(
        F.expr(
            "cast(conv(substring(md5(concat('cal:', cast(user_id as string))), 1, 12), 16, 10) as bigint)"
            " div 274877906944"
        ).alias("s10"),
        y.alias("y"),
    )
    grid = (
        scored.groupBy("s10")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("c"),
        )
        .localCheckpoint()
    )
    w = Window.orderBy("s10").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pre = grid.select(
        "s10", "n", "c",
        F.sum("n").over(w).cast("bigint").alias("pn"),
        F.sum("c").over(w).cast("bigint").alias("pc"),
        (F.sum("n").over(w) - F.col("n")).cast("bigint").alias("qn"),
        (F.sum("c").over(w) - F.col("c")).cast("bigint").alias("qc"),
    ).localCheckpoint()
    a = pre.select(F.col("s10").alias("i"), F.col("qn").alias("qn"), F.col("qc").alias("qc"))
    b = pre.select(F.col("s10").alias("j"), F.col("pn").alias("pn"), F.col("pc").alias("pc"))
    pairs = a.join(b, F.col("i") <= F.col("j")).select(
        "i", "j",
        (
            (F.col("pc") - F.col("qc")).cast("double")
            / (F.col("pn") - F.col("qn")).cast("double")
        ).alias("av"),
    )
    wm = (
        Window.partitionBy("i")
        .orderBy(F.desc("j"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mm = pairs.select("i", "j", F.min("av").over(wm).alias("m"))
    iso = mm.groupBy("j").agg(F.max("m").alias("iso_rate"))
    return (
        grid.join(iso.withColumnRenamed("j", "s10"), "s10")
        .select(
            "s10", "n", "c",
            (F.col("c").cast("double") / F.col("n").cast("double")).alias("raw_rate"),
            "iso_rate",
        )
        .orderBy("s10")
    )


@graded(
    "q_ece_score",
    oracle="""
    WITH scored AS (
      SELECT CAST(CAST('0x' || substr(md5('cal:' || CAST(user_id AS VARCHAR)), 1, 12)
                  AS UBIGINT) AS BIGINT) AS s48,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
      FROM events WHERE user_id IS NOT NULL
    ),
    binned AS (
      SELECT CAST(s48 * 10 // 281474976710656 AS BIGINT) AS bin,
             s48 // 1048576 AS s28, y
      FROM scored
    ),
    b AS (
      SELECT bin,
             CAST(count(*) AS BIGINT) AS n_b,
             CAST(sum(s28) AS BIGINT) / (CAST(count(*) AS DOUBLE) * 268435456.0)
               AS conf,
             CAST(sum(y) AS BIGINT) / CAST(count(*) AS DOUBLE) AS obs
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT CAST(sum(n_b) AS BIGINT) AS n FROM b)
    SELECT tot.n,
           sum((CAST(b.n_b AS DOUBLE) / tot.n) * abs(b.obs - b.conf)
               ORDER BY b.bin) AS ece
    FROM b CROSS JOIN tot GROUP BY tot.n
    """,
)
def q_ece_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Calibration Error — the headline calibration scalar
    (the per-bin reliability table collapsed to one number): the
    bin-weighted mean |observed rate − mean confidence| over the SAME
    10 equal-width score bins as q_calibration_bins. Completes the
    battery: bins = WHERE it drifts, Brier = total cost, isotonic =
    the fix, ECE = the one-number tracking metric.

    Per-bin obs/conf are exact divisions of BIGINTs; |obs − conf| and
    the weight are single chains; the ≤10-term weighted sum folds in
    BIN ORDER (sum ORDER BY / sorted-struct aggregate — engine-
    arbitrary double addition otherwise) ⇒ bit-equal, no rounding.

    100 TB: one combinable fact agg to the 10-bin grid; finalize on
    ≤10 rows."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    y = F.when(F.col("event_type") == "click", 1).otherwise(0)
    # integer floor-div via `div` (a double divide + cast would round,
    # shifting bin-boundary scores) — same binning as CALIBRATION_ORACLE.
    binned = ev.select(
        F.expr(
            "cast(conv(substring(md5(concat('cal:', cast(user_id as string))), 1, 12), 16, 10) as bigint)"
            " * 10 div 281474976710656"
        ).alias("bin"),
        F.expr(
            "cast(conv(substring(md5(concat('cal:', cast(user_id as string))), 1, 12), 16, 10) as bigint)"
            " div 1048576"
        ).alias("s28"),
        y.alias("y"),
    )
    b = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        (
            F.sum("s28").cast("bigint")
            / (F.count(F.lit(1)).cast("double") * F.lit(268435456.0))
        ).alias("conf"),
        (F.sum("y").cast("bigint") / F.count(F.lit(1)).cast("double")).alias("obs"),
    )
    # the 10-row bin frame feeds BOTH the total and the term projection —
    # un-checkpointed, each reader re-plans the fact scan (the
    # source_entropy 1-row-tot lesson).
    b = b.localCheckpoint()
    tot = b.agg(F.sum("n_b").cast("bigint").alias("n"))
    terms = b.crossJoin(F.broadcast(tot)).select(
        "n", "bin",
        (
            (F.col("n_b").cast("double") / F.col("n"))
            * F.abs(F.col("obs") - F.col("conf"))
        ).alias("t"),
    )
    return terms.groupBy("n").agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("bin").alias("bd"), F.col("t").alias("v")))
                ),
                lambda s: s["v"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("ece")
    )


@graded(
    "q_permutation_test",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CASE WHEN substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    obs AS (
      SELECT CAST(sum(cents) FILTER (arm = 'A') AS DOUBLE)
               / CAST(count(*) FILTER (arm = 'A') AS DOUBLE)
             - CAST(sum(cents) FILTER (arm = 'B') AS DOUBLE)
               / CAST(count(*) FILTER (arm = 'B') AS DOUBLE) AS obs_diff
      FROM u
    ),
    reps AS (
      SELECT r.r, u.cents,
             CASE WHEN substr(md5('perm:' || CAST(r.r AS VARCHAR) || ':'
                               || CAST(u.user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm
      FROM u CROSS JOIN (SELECT unnest(range(0, 64)) AS r) r
    ),
    diffs AS (
      SELECT r,
             CAST(sum(cents) FILTER (arm = 'A') AS DOUBLE)
               / CAST(count(*) FILTER (arm = 'A') AS DOUBLE)
             - CAST(sum(cents) FILTER (arm = 'B') AS DOUBLE)
               / CAST(count(*) FILTER (arm = 'B') AS DOUBLE) AS d
      FROM reps GROUP BY r
    )
    SELECT obs.obs_diff,
           CAST(64 AS BIGINT) AS b,
           CAST(count(*) FILTER (abs(diffs.d) >= abs(obs.obs_diff)) AS BIGINT)
             AS n_ge,
           CAST(1 + count(*) FILTER (abs(diffs.d) >= abs(obs.obs_diff)) AS DOUBLE)
             / 65.0 AS p_value
    FROM diffs CROSS JOIN obs GROUP BY obs.obs_diff
    """,
)
def q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test for the 'ab:' experiment (battery #8 — the
    NONPARAMETRIC p-value): re-randomize the USER-grain assignment 64
    times with md5-seeded gates (RNG-free, the bootstrap doctrine) and
    count replicates whose |mean difference| meets the observed one;
    p = (1 + n_ge)/(B + 1), the add-one Monte-Carlo estimator that can
    never report 0. The Welch z (q_ab_test_report) assumes near-normal
    means; this assumes ONLY exchangeability under the null — the
    robustness cross-check when revenue is heavy-tailed.

    Every replicate diff is the same token-identical chain over exact
    BIGINT user sums as the observed diff, so the |d| ≥ |obs|
    comparisons are deterministic cross-engine and n_ge is an exact
    BIGINT; p is one division. Randomization is at the USER (the SRM
    unit lesson), so the fact collapses to user grain once, and the
    ×64 replicate expansion happens on the REDUCED relation — a
    per-event expansion would be 64 fact scans' worth of shuffle.

    100 TB: fact → user grain (the only data-sized exchange);
    64·|users| rows through one combinable (r, arm) agg."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    arm = ab_arm()
    cents = F.floor(F.col("value") * 100).cast("bigint")
    u = (
        ev.select("user_id", arm.alias("arm"), cents.alias("cents"))
        .groupBy("user_id", "arm")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
        .localCheckpoint()
    )
    diff = (
        F.sum(F.when(F.col("arm") == "A", F.col("cents"))).cast("double")
        / F.count_if(F.col("arm") == "A").cast("double")
        - F.sum(F.when(F.col("arm") == "B", F.col("cents"))).cast("double")
        / F.count_if(F.col("arm") == "B").cast("double")
    )
    obs = u.agg(diff.alias("obs_diff"))
    reps = u.select(
        "user_id", "cents", F.explode(F.sequence(F.lit(0), F.lit(63))).alias("r")
    ).select(
        "r",
        "cents",
        F.when(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("perm:"),
                        F.col("r").cast("string"),
                        F.lit(":"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                1,
            )
            < "8",
            F.lit("A"),
        )
        .otherwise(F.lit("B"))
        .alias("arm"),
    )
    diffs = reps.groupBy("r").agg(diff.alias("d"))
    ge = F.count_if(F.abs(F.col("d")) >= F.abs(F.col("obs_diff"))).cast("bigint")
    return (
        diffs.crossJoin(F.broadcast(obs))
        .groupBy("obs_diff")
        .agg(
            F.lit(64).cast("bigint").alias("b"),
            ge.alias("n_ge"),
            ((F.lit(1) + ge).cast("double") / F.lit(65.0)).alias("p_value"),
        )
        .select("obs_diff", "b", "n_ge", "p_value")
    )


CONFORMAL_ORACLE = """
    WITH grid AS (
      SELECT event_type,
             substr(md5('conf:' || CAST(event_id AS VARCHAR)), 1, 1) < '8' AS is_cal,
             CAST(floor(value * 100) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2, 3
    ),
    calstats AS (
      SELECT event_type,
             CAST(sum(cnt) AS BIGINT) AS n_cal,
             CAST(sum(cents * cnt) AS BIGINT) // CAST(sum(cnt) AS BIGINT) AS pred_cents,
             (9 * (CAST(sum(cnt) AS BIGINT) + 1) + 9) // 10 AS k
      FROM grid WHERE is_cal GROUP BY 1
    ),
    scores AS (
      SELECT g.event_type, abs(g.cents - c.pred_cents) AS s,
             CAST(sum(g.cnt) AS BIGINT) AS cnt
      FROM grid g JOIN calstats c ON g.event_type = c.event_type
      WHERE g.is_cal GROUP BY 1, 2
    ),
    cums AS (
      SELECT event_type, s,
             CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY s
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM scores
    ),
    qhat AS (
      SELECT c.event_type,
             CASE WHEN c.k <= c.n_cal
                  THEN (SELECT min(u.s) FROM cums u
                        WHERE u.event_type = c.event_type AND u.cum >= c.k)
             END AS q_hat
      FROM calstats c
    ),
    test AS (
      SELECT g.event_type,
             CAST(sum(g.cnt) AS BIGINT) AS n_test,
             CAST(coalesce(sum(g.cnt)
                    FILTER (abs(g.cents - c.pred_cents) <= q.q_hat), 0)
                  AS BIGINT) AS covered
      FROM grid g
      JOIN calstats c ON g.event_type = c.event_type
      JOIN qhat q ON g.event_type = q.event_type
      WHERE NOT g.is_cal GROUP BY 1
    )
    SELECT c.event_type, c.n_cal, t.n_test, c.pred_cents, c.k, q.q_hat,
           t.covered,
           CASE WHEN q.q_hat IS NOT NULL AND t.n_test > 0
                THEN CAST(t.covered AS DOUBLE) / t.n_test END AS coverage
    FROM calstats c
    JOIN qhat q ON c.event_type = q.event_type
    JOIN test t ON c.event_type = t.event_type
    """


@graded("q_conformal_interval", oracle=CONFORMAL_ORACLE)
def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction calibration — the distribution-free
    coverage guarantee every model-serving pipeline should ship with:
    events md5-split 50/50 into calibration/test, the per-type
    predictor is the calibration integer-cents mean (s_sum div n_cal),
    the nonconformity score is |cents - pred|, and the conformal radius
    q_hat is the k-th smallest calibration score with
    k = ceil(0.9 (n_cal+1)) — guaranteeing P(|v - pred| <= q_hat) >=
    0.9 on exchangeable test points. The report measures realized test
    coverage.

    Exactness: conformal calibration is an ORDER STATISTIC, not an
    interpolated quantile — and order statistics over an INTEGER score
    domain are exactly SQL-expressible: scores are exact BIGINTs
    (integer-div predictor keeps them so), k is pure integer arithmetic
    (ceil(9(n+1)/10) = (9(n+1)+9) div 10), and q_hat is min(s) over
    cum >= k on the cumulative-BIGINT grid (the weighted_median
    selection pattern). coverage is one exact division.

    Scale: ONE fact scan collapses to the (type, is_cal, cents) count
    grid (combinable agg; localCheckpoint'd — cal and test legs both
    read it); every later step runs on the reduced bounded-domain
    relation: score grid, per-type cumsum window (rides the type
    partitioning), broadcast joins of the |types|-row stats."""
    ev = load_table(spark, sf_dir, "events")
    return conformal_report(conformal_grid(ev))


def conformal_grid(ev: DataFrame) -> DataFrame:
    """The (event_type, is_cal, cents) count grid — the sum-mergeable
    conformal state (per-micro-batch grids fold by addition; the md5
    split is row-deterministic, so the union of batch grids IS the
    one-pass grid and the streaming twin shares CONFORMAL_ORACLE)."""
    return (
        ev.select(
            "event_type",
            (
                F.substring(
                    F.md5(F.concat(F.lit("conf:"), F.col("event_id").cast("string"))),
                    1,
                    1,
                )
                < "8"
            ).alias("is_cal"),
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "is_cal", "cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def conformal_report(grid: DataFrame) -> DataFrame:
    """Shared conformal finalize over the folded (type, is_cal, cents)
    grid: calibration order statistic + realized test coverage. The
    grid is localCheckpoint'd here — the cal and test legs both read
    it (multi-reader rule)."""
    grid = grid.localCheckpoint()
    cal = grid.filter(F.col("is_cal"))
    n_cal = F.sum("cnt").cast("bigint")
    # calstats has FOUR readers (score join, q_hat selection, the left
    # join spine, the test leg) and qhat two — un-checkpointed, each
    # reader re-plans the aggregate subtree (first audit read 20
    # executed exchanges / 17 broadcasts for a ~8-exchange shape; the
    # DSIR multi-reader lesson). Both are |types|-row frames.
    calstats = cal.groupBy("event_type").agg(
        n_cal.alias("n_cal"),
        F.expr(
            "CAST(sum(cents * cnt) AS BIGINT) div CAST(sum(cnt) AS BIGINT)"
        ).alias("pred_cents"),
        F.expr("(9 * (CAST(sum(cnt) AS BIGINT) + 1) + 9) div 10").alias("k"),
    ).localCheckpoint()
    scores = (
        cal.join(F.broadcast(calstats), "event_type")
        .select(
            "event_type",
            F.abs(F.col("cents") - F.col("pred_cents")).alias("s"),
            "cnt",
        )
        .groupBy("event_type", "s")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cums = scores.select(
        "event_type", "s", F.sum("cnt").over(w_cum).cast("bigint").alias("cum")
    )
    qhat_sel = (
        cums.join(F.broadcast(calstats.select("event_type", "k", "n_cal")), "event_type")
        .filter((F.col("cum") >= F.col("k")) & (F.col("k") <= F.col("n_cal")))
        .groupBy("event_type")
        .agg(F.min("s").alias("q_hat"))
    )
    qhat = (
        calstats.select("event_type")
        .join(F.broadcast(qhat_sel), "event_type", "left")
        .localCheckpoint()
    )
    test = (
        grid.filter(~F.col("is_cal"))
        .join(F.broadcast(calstats.select("event_type", "pred_cents")), "event_type")
        .join(F.broadcast(qhat), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_test"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.abs(F.col("cents") - F.col("pred_cents"))
                        <= F.col("q_hat"),
                        F.col("cnt"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("covered"),
        )
    )
    out = (
        calstats.join(F.broadcast(qhat), "event_type")
        .join(F.broadcast(test), "event_type")
    )
    coverage = F.when(
        F.col("q_hat").isNotNull() & (F.col("n_test") > 0),
        F.col("covered").cast("double") / F.col("n_test"),
    )
    return out.select(
        "event_type", "n_cal", "n_test", "pred_cents", "k", "q_hat",
        "covered", coverage.alias("coverage"),
    )


COCHRAN_Q_ORACLE = """
    WITH e AS (
      SELECT CASE WHEN CAST(CAST('0x' || substr(md5('cal:' || CAST(user_id AS VARCHAR)), 1, 12)
                       AS UBIGINT) AS BIGINT) >= 140737488355328 THEN 1 ELSE 0 END AS c1,
             CASE WHEN CAST(floor(value * 100) AS BIGINT) >= 5000 THEN 1 ELSE 0 END AS c2,
             CASE WHEN CAST(floor(value * 100) AS BIGINT) >= 2000 THEN 1 ELSE 0 END AS c3,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
      FROM events WHERE user_id IS NOT NULL
    ),
    x AS (
      SELECT CASE WHEN c1 = y THEN 1 ELSE 0 END AS x1,
             CASE WHEN c2 = y THEN 1 ELSE 0 END AS x2,
             CASE WHEN c3 = y THEN 1 ELSE 0 END AS x3
      FROM e
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x1) AS BIGINT) AS cc1,
             CAST(sum(x2) AS BIGINT) AS cc2,
             CAST(sum(x3) AS BIGINT) AS cc3,
             CAST(sum((x1 + x2 + x3) * (x1 + x2 + x3)) AS BIGINT) AS sum_r2
      FROM x
    ),
    q AS (
      SELECT n, cc1, cc2, cc3, sum_r2,
             CASE WHEN 3.0 * (CAST(cc1 AS DOUBLE) + cc2 + cc3) - sum_r2 > 0 THEN
               2.0 * (3.0 * (CAST(cc1 AS DOUBLE) * cc1
                             + CAST(cc2 AS DOUBLE) * cc2
                             + CAST(cc3 AS DOUBLE) * cc3)
                      - (CAST(cc1 AS DOUBLE) + cc2 + cc3)
                        * (CAST(cc1 AS DOUBLE) + cc2 + cc3))
               / (3.0 * (CAST(cc1 AS DOUBLE) + cc2 + cc3) - sum_r2)
             END AS q_stat
      FROM agg
    )
    SELECT n, cc1, cc2, cc3, sum_r2, q_stat,
           CASE WHEN q_stat IS NULL THEN NULL
                ELSE q_stat > 5.991464547107979 END AS reject_95
    FROM q
    """


@graded("q_cochran_q", oracle=COCHRAN_Q_ORACLE)
def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q (experimentation battery #10) — McNemar generalized
    to k=3 paired classifiers scored on the SAME events: the md5-score
    midpoint rule, the cents >= 5000 business rule, and a looser
    cents >= 2000 rule, each judged correct/incorrect against the
    click label. Q ~ chi^2_{k-1} under the null that all classifiers
    share one accuracy; it is the gate before pairwise McNemar tests
    (the ANOVA-before-t-tests discipline for paired binary outcomes).

    Q = (k-1)(k * sum C_j^2 - T^2) / (k*T - sum R_i^2) with C_j the
    per-classifier correct counts, R_i the per-event row sums, T = sum.
    All inputs are exact BIGINTs from ONE combinable FILTER-free agg
    (row sums are 0..3 so sum R_i^2 <= 9n stays BIGINT); the finalize
    runs entirely in DOUBLES (C_j^2 and T^2 are n-proportional squares
    — the round-11 overflow doctrine), one token-identical chain ⇒
    bit-equal, graded raw with reject vs the chi^2_2 0.95 literal.
    The all-agree degenerate (denominator 0) NULLs both sides.

    100 TB: one scan-local agg; no grid, no window, no join."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    s48 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("cal:"), F.col("user_id").cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("bigint")
    cents = F.floor(F.col("value") * 100).cast("bigint")
    y = F.when(F.col("event_type") == "click", 1).otherwise(0)
    c1 = F.when(s48 >= F.lit(140737488355328), 1).otherwise(0)
    c2 = F.when(cents >= 5000, 1).otherwise(0)
    c3 = F.when(cents >= 2000, 1).otherwise(0)
    x1 = F.when(c1 == y, 1).otherwise(0)
    x2 = F.when(c2 == y, 1).otherwise(0)
    x3 = F.when(c3 == y, 1).otherwise(0)
    e = ev.select(x1.alias("x1"), x2.alias("x2"), x3.alias("x3"))
    r = F.col("x1") + F.col("x2") + F.col("x3")
    agg = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("cc1"),
        F.sum("x2").cast("bigint").alias("cc2"),
        F.sum("x3").cast("bigint").alias("cc3"),
        F.sum(r * r).cast("bigint").alias("sum_r2"),
    )
    t = F.col("cc1").cast("double") + F.col("cc2") + F.col("cc3")
    sum_c2 = (
        F.col("cc1").cast("double") * F.col("cc1")
        + F.col("cc2").cast("double") * F.col("cc2")
        + F.col("cc3").cast("double") * F.col("cc3")
    )
    den = F.lit(3.0) * t - F.col("sum_r2")
    q_stat = F.when(den > 0, F.lit(2.0) * (F.lit(3.0) * sum_c2 - t * t) / den)
    withq = agg.select("n", "cc1", "cc2", "cc3", "sum_r2", q_stat.alias("q_stat"))
    rej = F.when(
        F.col("q_stat").isNull(), F.lit(None).cast("boolean")
    ).otherwise(F.col("q_stat") > 5.991464547107979)
    return withq.select(
        "n", "cc1", "cc2", "cc3", "sum_r2", "q_stat", rej.alias("reject_95")
    )


POST_STRAT_ORACLE = """
    WITH assigned AS (
      SELECT event_type AS stratum,
             CASE WHEN substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    moments AS (
      SELECT stratum,
             CAST(count(*) FILTER (arm = 'A') AS BIGINT)          AS n_a,
             CAST(count(*) FILTER (arm = 'B') AS BIGINT)          AS n_b,
             CAST(sum(cents)  FILTER (arm = 'A') AS BIGINT)       AS s_a,
             CAST(sum(cents)  FILTER (arm = 'B') AS BIGINT)       AS s_b,
             CAST(sum(cents * cents) FILTER (arm = 'A') AS BIGINT) AS q_a,
             CAST(sum(cents * cents) FILTER (arm = 'B') AS BIGINT) AS q_b
      FROM assigned GROUP BY stratum
    ),
    tot AS (SELECT CAST(sum(n_a + n_b) AS BIGINT) AS n FROM moments),
    terms AS (
      SELECT m.stratum, m.n_a, m.n_b, t.n,
             CASE WHEN m.n_a > 0 AND m.n_b > 0 THEN
               (CAST(m.n_a + m.n_b AS DOUBLE) / t.n)
               * (CAST(m.s_b AS DOUBLE) / m.n_b - CAST(m.s_a AS DOUBLE) / m.n_a)
             END AS w_diff,
             CASE WHEN m.n_a > 1 AND m.n_b > 1 THEN
               (CAST(m.n_a + m.n_b AS DOUBLE) / t.n)
               * (CAST(m.n_a + m.n_b AS DOUBLE) / t.n)
               * ((CAST(m.q_a AS DOUBLE) - CAST(m.s_a AS DOUBLE) * m.s_a / m.n_a)
                  / (m.n_a - 1) / m.n_a
                  + (CAST(m.q_b AS DOUBLE) - CAST(m.s_b AS DOUBLE) * m.s_b / m.n_b)
                  / (m.n_b - 1) / m.n_b)
             END AS w_var
      FROM moments m, tot t
    )
    SELECT CAST(count(*) AS BIGINT) AS n_strata,
           CAST(max(n) AS BIGINT) AS n,
           CASE WHEN count(*) = count(w_diff)
                THEN round(sum(w_diff ORDER BY stratum), 6) END AS ate_ps,
           CASE WHEN count(*) = count(w_var)
                THEN round(sqrt(sum(w_var ORDER BY stratum)), 6) END AS se_ps
    FROM terms
    """


@graded("q_post_stratification", oracle=POST_STRAT_ORACLE)
def q_post_stratification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratified treatment-effect estimate (experimentation
    battery #11, the third variance-reduction tool beside CUPED and
    the delta method): strata = event_type, arms = the shared 'ab:'
    md5 assignment; ATE_ps = sum_s w_s (mean_B,s - mean_A,s) with
    w_s = n_s/n, SE_ps = sqrt(sum_s w_s^2 (var_A,s/n_A,s +
    var_B,s/n_B,s)) — removing the between-strata component a pooled
    Welch z pays for.

    Exactness: the per-(stratum, arm) moments are exact BIGINTs in ONE
    combinable FILTER-agg; per-stratum terms are token-identical
    double chains; the cross-strata sums fold in STRATUM order (sum
    ORDER BY vs array_sort+aggregate — engine-arbitrary double
    addition), graded ROUNDED 6dp. A stratum with an empty (or
    singleton, for SE) arm NULLs the whole estimate by the
    count(*) = count(term) guard on both sides — mirrored degenerates.

    Scale: one map-side-combinable agg over the fact; strata terms and
    folds run on the |strata|-row relation (1-row tot checkpointed —
    the source_entropy lesson)."""
    ev = load_table(spark, sf_dir, "events")
    arm = ab_arm()
    cents = F.floor(F.col("value") * 100).cast("bigint")
    assigned = ev.select(
        F.col("event_type").alias("stratum"), arm.alias("arm"), cents.alias("cents")
    )
    is_a, is_b = F.col("arm") == "A", F.col("arm") == "B"
    m = assigned.groupBy("stratum").agg(
        F.count_if(is_a).cast("bigint").alias("n_a"),
        F.count_if(is_b).cast("bigint").alias("n_b"),
        F.sum(F.when(is_a, F.col("cents"))).cast("bigint").alias("s_a"),
        F.sum(F.when(is_b, F.col("cents"))).cast("bigint").alias("s_b"),
        F.sum(F.when(is_a, F.col("cents") * F.col("cents"))).cast("bigint").alias("q_a"),
        F.sum(F.when(is_b, F.col("cents") * F.col("cents"))).cast("bigint").alias("q_b"),
    ).localCheckpoint()
    tot = m.agg(
        F.sum(F.col("n_a") + F.col("n_b")).cast("bigint").alias("n")
    ).localCheckpoint()
    w = (F.col("n_a") + F.col("n_b")).cast("double") / F.col("n")
    diff = F.col("s_b").cast("double") / F.col("n_b") - F.col(
        "s_a"
    ).cast("double") / F.col("n_a")
    var_term = (
        (
            F.col("q_a").cast("double")
            - F.col("s_a").cast("double") * F.col("s_a") / F.col("n_a")
        )
        / (F.col("n_a") - 1)
        / F.col("n_a")
        + (
            F.col("q_b").cast("double")
            - F.col("s_b").cast("double") * F.col("s_b") / F.col("n_b")
        )
        / (F.col("n_b") - 1)
        / F.col("n_b")
    )
    terms = m.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n",
        F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), w * diff).alias("w_diff"),
        F.when((F.col("n_a") > 1) & (F.col("n_b") > 1), w * w * var_term).alias(
            "w_var"
        ),
    )

    def _sfold(col, name):
        return F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("stratum").alias("st"), col.alias("t"))
                    )
                ),
                lambda s: s["t"],
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ).alias(name)

    agg = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.max("n").cast("bigint").alias("n"),
        F.count("w_diff").alias("c_diff"),
        F.count("w_var").alias("c_var"),
        _sfold(F.col("w_diff"), "sum_diff"),
        _sfold(F.col("w_var"), "sum_var"),
    )
    return agg.select(
        "n_strata",
        "n",
        F.when(
            F.col("n_strata") == F.col("c_diff"), F.round(F.col("sum_diff"), 6)
        ).alias("ate_ps"),
        F.when(
            F.col("n_strata") == F.col("c_var"),
            F.round(F.sqrt(F.col("sum_var")), 6),
        ).alias("se_ps"),
    )


ANOVA_ORACLE = """
    WITH assigned AS (
      SELECT event_type AS grp, CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    moments AS (
      SELECT grp,
             CAST(count(*) AS BIGINT)          AS n_g,
             CAST(sum(cents) AS BIGINT)        AS s_g,
             CAST(sum(cents * cents) AS BIGINT) AS q_g
      FROM assigned GROUP BY grp
    ),
    terms AS (
      SELECT grp, n_g, s_g, q_g,
             CAST(s_g AS DOUBLE) * s_g / n_g                        AS ssb_t,
             CAST(q_g AS DOUBLE) - CAST(s_g AS DOUBLE) * s_g / n_g  AS ssw_t
      FROM moments
    ),
    folds AS (
      SELECT CAST(count(*) AS BIGINT)   AS k,
             CAST(sum(n_g) AS BIGINT)   AS n,
             CAST(sum(s_g) AS BIGINT)   AS s,
             sum(ssb_t ORDER BY grp)    AS sum_ssb,
             sum(ssw_t ORDER BY grp)    AS sum_ssw
      FROM terms
    ),
    fin AS (
      SELECT k, n,
             sum_ssb - CAST(s AS DOUBLE) * s / n AS ssb,
             sum_ssw                             AS ssw
      FROM folds
    )
    SELECT k, n,
           CASE WHEN k > 1 AND n > k THEN round(ssb, 6) END AS ssb,
           CASE WHEN k > 1 AND n > k THEN round(ssw, 6) END AS ssw,
           CASE WHEN k > 1 AND n > k AND ssw > 0
                THEN round((ssb / (k - 1)) / (ssw / (n - k)), 6) END AS f_stat,
           CASE WHEN k = 5 AND n - k > 1000 AND ssw > 0
                THEN round((ssb / (k - 1)) / (ssw / (n - k)), 6) > 2.371932
           END AS reject_95
    FROM fin
    """


@graded("q_one_way_anova", oracle=ANOVA_ORACLE)
def q_one_way_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across event types (experimentation battery #12):
    does mean spend differ across the K = 5 event-type groups? F =
    (SSB/(K-1)) / (SSW/(N-K)) with SSB = sum_g s_g^2/n_g - S^2/N and
    SSW = sum_g (q_g - s_g^2/n_g) - the K-sample generalization of the
    Welch/t machinery in q_ab_test_report.

    Exactness: per-group (n, sum, sum-of-squares) moments are exact
    BIGINTs in ONE combinable agg; each group's SSB/SSW term is a
    token-identical double chain (s_g^2 computed as DOUBLE*BIGINT -
    two aggregated BIGINTs multiplied raw overflow long before the
    per-row contract suggests, the covariance-finalize doctrine); the
    cross-group sums fold in GROUP order (sum ORDER BY grp vs
    array_sort+aggregate). f_stat graded ROUNDED 6dp; reject_95 derives
    from the ROUNDED value against the F(4, inf) = chi2_0.95(4)/4 =
    2.371932 asymptotic critical point, emitted only when the
    denominator dof exceeds 1000 (the finite-dof correction is < 1e-3
    there) and NULL otherwise - mirrored CASE both engines.

    Degenerates (regen-proof): k <= 1 or n <= k or ssw = 0 NULL every
    statistic on both sides.

    Scale: one map-side-combinable agg over the fact reduces 100 TB to
    K rows; all finalize arithmetic runs on the K-row relation."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("bigint")
    m = (
        ev.select(F.col("event_type").alias("grp"), cents.alias("cents"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_g"),
            F.sum("cents").cast("bigint").alias("s_g"),
            F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("q_g"),
        )
    )
    return anova_report(m)


def anova_report(m: DataFrame) -> DataFrame:
    """Shared one-way-ANOVA finalize over a (grp, n_g, s_g, q_g) moment
    relation — consumed by q_one_way_anova (response = cents) and
    q_levene_test (response = absolute deviation from the group
    median, the Brown-Forsythe transform): SSB/SSW terms as
    token-identical double chains, cross-group sums folded in GROUP
    order, F rounded 6dp, reject vs the F(4, inf) asymptotic literal
    gated on denominator dof > 1000."""
    s_d = F.col("s_g").cast("double")
    ssb_t = (s_d * F.col("s_g") / F.col("n_g")).alias("ssb_t")
    ssw_t = (
        F.col("q_g").cast("double") - s_d * F.col("s_g") / F.col("n_g")
    ).alias("ssw_t")
    terms = m.select("grp", "n_g", "s_g", "q_g", ssb_t, ssw_t)

    def _gfold(col, name):
        return F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("grp").alias("g"), col.alias("t")))
                ),
                lambda s: s["t"],
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ).alias(name)

    folds = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("bigint").alias("s"),
        _gfold(F.col("ssb_t"), "sum_ssb"),
        _gfold(F.col("ssw_t"), "sum_ssw"),
    )
    ssb = F.col("sum_ssb") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ssw = F.col("sum_ssw")
    fin = folds.select("k", "n", ssb.alias("ssb"), ssw.alias("ssw"))
    ok = (F.col("k") > 1) & (F.col("n") > F.col("k"))
    f_stat = (F.col("ssb") / (F.col("k") - 1)) / (F.col("ssw") / (F.col("n") - F.col("k")))
    return fin.select(
        "k",
        "n",
        F.when(ok, F.round(F.col("ssb"), 6)).alias("ssb"),
        F.when(ok, F.round(F.col("ssw"), 6)).alias("ssw"),
        F.when(ok & (F.col("ssw") > 0), F.round(f_stat, 6)).alias("f_stat"),
        F.when(
            (F.col("k") == 5) & (F.col("n") - F.col("k") > 1000) & (F.col("ssw") > 0),
            F.round(f_stat, 6) > 2.371932,
        ).alias("reject_95"),
    )


KRUSKAL_ORACLE = """
    WITH grid AS (
      SELECT event_type AS grp,
             CAST(floor(value * 100) AS BIGINT) AS v,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY grp, v
    ),
    ranked AS (
      SELECT grp, v, c,
             CAST(coalesce(sum(c) OVER (
               ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS cum_prev,
             CAST(sum(c) OVER (
               ORDER BY v RANGE BETWEEN CURRENT ROW AND CURRENT ROW
             ) AS BIGINT) AS t
      FROM grid
    ),
    gsums AS (
      SELECT grp,
             CAST(sum(c) AS BIGINT) AS n_g,
             CAST(sum(c * (2 * cum_prev + t + 1)) AS BIGINT) AS r2_g
      FROM ranked GROUP BY grp
    ),
    ties AS (
      SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tt
      FROM (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM grid GROUP BY v)
    ),
    folds AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n_g) AS BIGINT) AS n,
             sum(CAST(r2_g AS DOUBLE) * r2_g / n_g ORDER BY grp) AS sum_t
      FROM gsums
    ),
    fin AS (
      SELECT f.k, f.n, t.tt,
             3.0 * f.sum_t / (CAST(f.n AS DOUBLE) * (CAST(f.n AS DOUBLE) + 1.0))
               - 3.0 * (CAST(f.n AS DOUBLE) + 1.0) AS h,
             1.0 - CAST(t.tt AS DOUBLE)
               / (CAST(f.n AS DOUBLE) * CAST(f.n AS DOUBLE) * CAST(f.n AS DOUBLE)
                  - CAST(f.n AS DOUBLE)) AS corr
      FROM folds f, ties t
    )
    SELECT k, n,
           CASE WHEN k > 1 AND n > 1 THEN round(h, 6) END AS h,
           CASE WHEN k > 1 AND n > 1 AND corr > 0
                THEN round(h / corr, 6) END AS h_adj,
           CASE WHEN k = 5 AND n > 1 AND corr > 0
                THEN round(h / corr, 6) > 9.487729
           END AS reject_95
    FROM fin
    """


def kruskal_grid(ev: DataFrame) -> DataFrame:
    """The (grp, cents, count) grid — the SUM-mergeable Kruskal-Wallis
    state (per-micro-batch grids fold by addition; ranks are computed
    only at finalize because a value's pooled rank is meaningless until
    every batch has contributed — the stream_mannwhitney precedent)."""
    cents = F.floor(F.col("value") * 100).cast("bigint")
    return (
        ev.select(F.col("event_type").alias("grp"), cents.alias("v"))
        .groupBy("grp", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


def kruskal_report(grid: DataFrame) -> DataFrame:
    """Shared Kruskal-Wallis finalize over the (grp, v, c) grid; the
    caller localCheckpoints the grid (it feeds BOTH the rank path and
    the tie path — the multi-reader double-plan lesson)."""
    w_prev = Window.orderBy("v").rangeBetween(Window.unboundedPreceding, -1)
    w_cur = Window.orderBy("v").rangeBetween(0, 0)
    ranked = grid.select(
        "grp",
        "v",
        "c",
        F.coalesce(F.sum("c").over(w_prev), F.lit(0)).cast("bigint").alias("cum_prev"),
        F.sum("c").over(w_cur).cast("bigint").alias("t"),
    )
    gsums = ranked.groupBy("grp").agg(
        F.sum("c").cast("bigint").alias("n_g"),
        F.sum(
            F.col("c") * (F.lit(2) * F.col("cum_prev") + F.col("t") + 1)
        )
        .cast("bigint")
        .alias("r2_g"),
    )
    vals = grid.groupBy("v").agg(F.sum("c").cast("bigint").alias("t"))
    ties = vals.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tt")
    )
    folds = gsums.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("grp").alias("g"),
                            (
                                F.col("r2_g").cast("double")
                                * F.col("r2_g")
                                / F.col("n_g")
                            ).alias("t"),
                        )
                    )
                ),
                lambda s: s["t"],
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ).alias("sum_t"),
    )
    nd = F.col("n").cast("double")
    h = (
        F.lit(3.0) * F.col("sum_t") / (nd * (nd + F.lit(1.0)))
        - F.lit(3.0) * (nd + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.col("tt").cast("double") / (nd * nd * nd - nd)
    fin = folds.crossJoin(F.broadcast(ties)).select(
        "k", "n", "tt", h.alias("h"), corr.alias("corr")
    )
    ok = (F.col("k") > 1) & (F.col("n") > 1)
    return fin.select(
        "k",
        "n",
        F.when(ok, F.round(F.col("h"), 6)).alias("h"),
        F.when(ok & (F.col("corr") > 0), F.round(F.col("h") / F.col("corr"), 6)).alias(
            "h_adj"
        ),
        F.when(
            (F.col("k") == 5) & (F.col("n") > 1) & (F.col("corr") > 0),
            F.round(F.col("h") / F.col("corr"), 6) > 9.487729,
        ).alias("reject_95"),
    )


@graded("q_kruskal_wallis", oracle=KRUSKAL_ORACLE)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis K-sample rank test (experimentation battery #13):
    the nonparametric sibling of q_one_way_anova - do the K = 5
    event-type spend distributions share a location? H =
    12/(N(N+1)) sum_g R_g^2/n_g - 3(N+1), tie-corrected by
    C = 1 - sum_v (t_v^3 - t_v)/(N^3 - N).

    The Mann-Whitney DOUBLED-midrank discipline generalized to K
    samples: on the (grp, cents, count) grid, the doubled midrank of
    every member at value v is 2*cum_prev + t + 1 (cum_prev/t via two
    RANGE windows over the pooled value axis - no join-back), so the
    per-group doubled rank sum R2_g is an exact BIGINT through
    arbitrary tie blocks; sum R_g^2/n_g = sum R2_g^2/(4 n_g) folds in
    GROUP order as a double chain (R2_g^2 as DOUBLE*BIGINT - the
    finalize-product doctrine; raw BIGINT R2_g^2 ~ 4N^4 overflows at
    ~50k rows), and N^3 - N runs in doubles (N^3 overflows BIGINT past
    ~2M rows). h/h_adj graded ROUNDED 6dp; reject_95 from the ROUNDED
    h_adj vs chi2_0.95(4) = 9.487729, NULL at other K - mirrored CASE.
    Per-value tie cubes t^3 - t stay BIGINT (bound: largest tie block
    <= 2M rows; cents spread over the [0, 49003) domain keeps real
    blocks ~N/5e4).

    Scale: the fact collapses to the (grp, v) grid in one combinable
    agg; the rank windows run on the grid (SinglePartition over a
    DOMAIN-bounded <= K*49003-row relation, the auc/isotonic posture);
    group sums and the fold run on K rows."""
    ev = load_table(spark, sf_dir, "events")
    return kruskal_report(kruskal_grid(ev).localCheckpoint())


DID_ORACLE = """
    WITH assigned AS (
      SELECT CASE WHEN substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             CASE WHEN epoch_us(ts) < 1705363200000000 THEN 0 ELSE 1 END AS post,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    cells AS (
      SELECT
        CAST(count(*) FILTER (arm = 'A' AND post = 0) AS BIGINT) AS n_a0,
        CAST(count(*) FILTER (arm = 'A' AND post = 1) AS BIGINT) AS n_a1,
        CAST(count(*) FILTER (arm = 'B' AND post = 0) AS BIGINT) AS n_b0,
        CAST(count(*) FILTER (arm = 'B' AND post = 1) AS BIGINT) AS n_b1,
        CAST(sum(cents) FILTER (arm = 'A' AND post = 0) AS BIGINT) AS s_a0,
        CAST(sum(cents) FILTER (arm = 'A' AND post = 1) AS BIGINT) AS s_a1,
        CAST(sum(cents) FILTER (arm = 'B' AND post = 0) AS BIGINT) AS s_b0,
        CAST(sum(cents) FILTER (arm = 'B' AND post = 1) AS BIGINT) AS s_b1,
        CAST(sum(cents * cents) FILTER (arm = 'A' AND post = 0) AS BIGINT) AS q_a0,
        CAST(sum(cents * cents) FILTER (arm = 'A' AND post = 1) AS BIGINT) AS q_a1,
        CAST(sum(cents * cents) FILTER (arm = 'B' AND post = 0) AS BIGINT) AS q_b0,
        CAST(sum(cents * cents) FILTER (arm = 'B' AND post = 1) AS BIGINT) AS q_b1
      FROM assigned
    ),
    fin AS (
      SELECT *,
        (CAST(s_b1 AS DOUBLE) / n_b1 - CAST(s_b0 AS DOUBLE) / n_b0)
          - (CAST(s_a1 AS DOUBLE) / n_a1 - CAST(s_a0 AS DOUBLE) / n_a0) AS did,
        (CAST(q_a0 AS DOUBLE) - CAST(s_a0 AS DOUBLE) * s_a0 / n_a0)
          / (n_a0 - 1) / n_a0
        + (CAST(q_a1 AS DOUBLE) - CAST(s_a1 AS DOUBLE) * s_a1 / n_a1)
          / (n_a1 - 1) / n_a1
        + (CAST(q_b0 AS DOUBLE) - CAST(s_b0 AS DOUBLE) * s_b0 / n_b0)
          / (n_b0 - 1) / n_b0
        + (CAST(q_b1 AS DOUBLE) - CAST(s_b1 AS DOUBLE) * s_b1 / n_b1)
          / (n_b1 - 1) / n_b1 AS var_sum
      FROM cells
    )
    SELECT n_a0, n_a1, n_b0, n_b1,
           CASE WHEN n_a0 > 1 AND n_a1 > 1 AND n_b0 > 1 AND n_b1 > 1
                THEN round(did, 6) END AS did,
           CASE WHEN n_a0 > 1 AND n_a1 > 1 AND n_b0 > 1 AND n_b1 > 1
                AND var_sum > 0 THEN round(sqrt(var_sum), 6) END AS se,
           CASE WHEN n_a0 > 1 AND n_a1 > 1 AND n_b0 > 1 AND n_b1 > 1
                AND var_sum > 0 THEN round(did / sqrt(var_sum), 6) END AS z,
           CASE WHEN n_a0 > 1 AND n_a1 > 1 AND n_b0 > 1 AND n_b1 > 1
                AND var_sum > 0
                THEN abs(round(did / sqrt(var_sum), 6)) > 1.959964
           END AS reject_95
    FROM fin
    """


def did_assign(ev):
    """The (arm, post, cents) projection shared by the batch query and
    the streaming twin's per-batch absorb."""
    arm = ab_arm()
    post = F.when(F.unix_micros("ts") < 1705363200000000, F.lit(0)).otherwise(F.lit(1))
    cents = F.floor(F.col("value") * 100).cast("bigint")
    return ev.select(arm.alias("arm"), post.alias("post"), cents.alias("cents"))


def did_cells(assigned: DataFrame) -> DataFrame:
    """The 12-column 2x2 cell-moment row — the SUM-mergeable DiD state
    (per-micro-batch cell rows fold by column-wise addition; an
    all-batches-empty cell folds to NULL exactly as the batch agg
    reports it, since sum() skips NULLs on both paths)."""

    def cell(a, p):
        return (F.col("arm") == a) & (F.col("post") == p)

    aggs = []
    for pref, fn in (
        ("n", lambda cond: F.count_if(cond)),
        ("s", lambda cond: F.sum(F.when(cond, F.col("cents")))),
        ("q", lambda cond: F.sum(F.when(cond, F.col("cents") * F.col("cents")))),
    ):
        for a in ("a", "b"):
            for p in (0, 1):
                aggs.append(
                    fn(cell(a.upper(), p)).cast("bigint").alias(f"{pref}_{a}{p}")
                )
    return assigned.agg(*aggs)


def did_report(cells: DataFrame) -> DataFrame:
    """Shared DiD finalize over the folded cell-moment row."""

    def mean(c):
        return F.col(f"s_{c}").cast("double") / F.col(f"n_{c}")

    def vterm(c):
        return (
            (
                F.col(f"q_{c}").cast("double")
                - F.col(f"s_{c}").cast("double") * F.col(f"s_{c}") / F.col(f"n_{c}")
            )
            / (F.col(f"n_{c}") - 1)
            / F.col(f"n_{c}")
        )

    did = (mean("b1") - mean("b0")) - (mean("a1") - mean("a0"))
    var_sum = vterm("a0") + vterm("a1") + vterm("b0") + vterm("b1")
    fin = cells.select(
        "n_a0", "n_a1", "n_b0", "n_b1", did.alias("did"), var_sum.alias("var_sum")
    )
    ok = (
        (F.col("n_a0") > 1)
        & (F.col("n_a1") > 1)
        & (F.col("n_b0") > 1)
        & (F.col("n_b1") > 1)
    )
    okv = ok & (F.col("var_sum") > 0)
    z = F.round(F.col("did") / F.sqrt(F.col("var_sum")), 6)
    return fin.select(
        "n_a0",
        "n_a1",
        "n_b0",
        "n_b1",
        F.when(ok, F.round(F.col("did"), 6)).alias("did"),
        F.when(okv, F.round(F.sqrt(F.col("var_sum")), 6)).alias("se"),
        F.when(okv, z).alias("z"),
        F.when(okv, F.abs(z) > 1.959964).alias("reject_95"),
    )


@graded("q_diff_in_diff", oracle=DID_ORACLE)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate (experimentation battery
    #14): the quasi-experimental workhorse when treatment switches on
    at a known date - DiD = (mean_B_post - mean_B_pre) -
    (mean_A_post - mean_A_pre) cancels both the arm-level baseline
    difference and the common time trend; SE = sqrt of the four cell
    variance-of-mean terms (the Welch machinery on a 2x2 design).

    Arms are the shared 'ab:' md5 assignment; the period cut is the
    FIXED epoch-micros literal 1705363200000000 (2024-01-16 UTC,
    mid-fixture) on unix_micros(ts) - all-integer, never a data-derived
    float quantile. Cell moments are exact BIGINTs in ONE combinable
    FILTER-agg (12 columns); did/se/z are token-identical double chains
    (s_c^2 as DOUBLE*BIGINT per the finalize-product doctrine; the four
    variance terms ADD IN FIXED WRITTEN ORDER - a 4-term literal chain,
    not an engine-ordered fold), graded ROUNDED 6dp with reject_95
    derived from the ROUNDED z vs 1.959964. Any cell with n <= 1 NULLs
    every statistic - mirrored CASE (regen-proof).

    Scale: one map-side-combinable aggregate over the fact; finalize on
    one row. Note the per-event grain deliberately mirrors
    q_ab_test_report; the user-grain ratio-metric variant is
    q_ratio_metric_delta's territory."""
    ev = load_table(spark, sf_dir, "events")
    return did_report(did_cells(did_assign(ev)))


def _ent_sql(n: str, p: str) -> str:
    """Binary-entropy SQL fragment H(p/n) with 0*ln(0) = 0 by CASE -
    generated ONCE and shared by the oracle so both engines run the
    token-identical chain (the geohash shared-expression doctrine)."""
    return (
        f"- (CASE WHEN {p} > 0 THEN (CAST({p} AS DOUBLE) / {n})"
        f" * ln(CAST({p} AS DOUBLE) / {n}) ELSE 0.0 END)"
        f" - (CASE WHEN {n} - {p} > 0 THEN (CAST({n} - {p} AS DOUBLE) / {n})"
        f" * ln(CAST({n} - {p} AS DOUBLE) / {n}) ELSE 0.0 END)"
    )


STUMP_ORACLE = f"""
    WITH grid AS (
      SELECT least(CAST(floor(value * 100) AS BIGINT) // 50, 1023) AS bucket,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS pos
      FROM events GROUP BY bucket
    ),
    cums AS (
      SELECT bucket,
             CAST(sum(n) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nl,
             CAST(sum(pos) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pl,
             CAST(sum(n) OVER () AS BIGINT) AS nn,
             CAST(sum(pos) OVER () AS BIGINT) AS pp
      FROM grid
    ),
    cands AS (
      SELECT bucket, nl, pl, nn - nl AS nr, pp - pl AS pr, nn, pp
      FROM cums WHERE nl > 0 AND nn - nl > 0
    ),
    gains AS (
      SELECT bucket, nl, pl, nr, pr,
             round(({_ent_sql('nn', 'pp')})
               - (CAST(nl AS DOUBLE) / nn * ({_ent_sql('nl', 'pl')})
                  + CAST(nr AS DOUBLE) / nn * ({_ent_sql('nr', 'pr')})), 6) AS gain
      FROM cands
    )
    SELECT bucket AS split_bucket,
           (bucket + 1) * 50 AS threshold_cents,
           nl AS n_left, pl AS pos_left, nr AS n_right, pr AS pos_right, gain
    FROM gains ORDER BY gain DESC, bucket LIMIT 1
    """


@graded("q_decision_stump", oracle=STUMP_ORACLE)
def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single-feature split by information gain - the decision-
    stump / tree-node primitive (the inner loop of every gradient-
    boosting and random-forest trainer, and the classic weak learner):
    which spend threshold best separates purchase events from the
    rest? gain(k) = H(parent) - (nL/N) H(left) - (nR/N) H(right) over
    left = {bucket <= k}.

    The isotonic-grid discipline: spend quantizes to a FIXED
    1024-bucket grid (50-cent buckets over [0, $512), least-capped -
    domain-bounded, never data-derived), per-bucket (n, pos) counts are
    exact BIGINTs from ONE combinable agg, and prefix sums via a rows
    window on the bucket axis give every candidate split's confusion
    counts without a self-join. Entropy terms are ln (the 1-ulp class),
    so the gain is ROUNDED 6dp BEFORE the argmax and the winner is
    ORDER BY (rounded gain DESC, bucket ASC) LIMIT 1 - the
    keyword_extraction doctrine: never argmax on a raw float. The
    entropy chain is generated from ONE shared fragment (_ent_sql) so
    both engines run token-identical arithmetic.

    Scale: 100 TB collapses to <= 1024 grid rows in one map-side-
    combinable agg; windows + argmax run SinglePartition on the
    bounded grid (the auc/isotonic posture)."""
    ev = load_table(spark, sf_dir, "events")
    return stump_report(stump_grid(ev))


def stump_grid(ev: DataFrame) -> DataFrame:
    """The (bucket, n, pos) grid — the SUM-mergeable decision-stump
    state (per-micro-batch grids fold by addition; the gain scan runs
    only at finalize because every candidate split's confusion counts
    depend on the full prefix sums)."""
    bucket = F.least(
        F.expr("CAST(floor(value * 100) AS BIGINT) div 50"), F.lit(1023)
    )
    return (
        ev.select(
            bucket.alias("bucket"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("pos"),
        )
    )


def stump_report(grid: DataFrame) -> DataFrame:
    """Shared decision-stump finalize over the folded bucket grid."""
    w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cums = grid.select(
        "bucket",
        F.sum("n").over(w_cum).cast("bigint").alias("nl"),
        F.sum("pos").over(w_cum).cast("bigint").alias("pl"),
        F.sum("n").over(w_all).cast("bigint").alias("nn"),
        F.sum("pos").over(w_all).cast("bigint").alias("pp"),
    )
    cands = cums.filter((F.col("nl") > 0) & (F.col("nn") - F.col("nl") > 0)).select(
        "bucket",
        "nl",
        "pl",
        (F.col("nn") - F.col("nl")).alias("nr"),
        (F.col("pp") - F.col("pl")).alias("pr"),
        "nn",
        "pp",
    )

    def ent(n, p):
        nc, pc = F.col(n), F.col(p)
        t1 = F.when(
            pc > 0, (pc.cast("double") / nc) * F.log(pc.cast("double") / nc)
        ).otherwise(F.lit(0.0))
        t2 = F.when(
            nc - pc > 0,
            ((nc - pc).cast("double") / nc) * F.log((nc - pc).cast("double") / nc),
        ).otherwise(F.lit(0.0))
        return -t1 - t2

    gain = F.round(
        ent("nn", "pp")
        - (
            F.col("nl").cast("double") / F.col("nn") * ent("nl", "pl")
            + F.col("nr").cast("double") / F.col("nn") * ent("nr", "pr")
        ),
        6,
    )
    gains = cands.select(
        "bucket", "nl", "pl", "nr", "pr", gain.alias("gain")
    )
    return gains.orderBy(F.desc("gain"), F.asc("bucket")).limit(1).select(
        F.col("bucket").alias("split_bucket"),
        ((F.col("bucket") + 1) * 50).alias("threshold_cents"),
        F.col("nl").alias("n_left"),
        F.col("pl").alias("pos_left"),
        F.col("nr").alias("n_right"),
        F.col("pr").alias("pos_right"),
        "gain",
    )


WILCOXON_ORACLE = """
    WITH per_user AS (
      SELECT user_id,
             CAST(sum(CASE WHEN epoch_us(ts) < 1705363200000000
                           THEN CAST(floor(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS pre,
             CAST(sum(CASE WHEN epoch_us(ts) >= 1705363200000000
                           THEN CAST(floor(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS post
      FROM events GROUP BY user_id
    ),
    diffs AS (
      SELECT user_id, post - pre AS d FROM per_user WHERE post - pre <> 0
    ),
    grid AS (
      SELECT abs(d) AS v,
             CAST(count(*) AS BIGINT) AS c,
             CAST(count(*) FILTER (d > 0) AS BIGINT) AS cpos
      FROM diffs GROUP BY abs(d)
    ),
    ranked AS (
      SELECT v, c, cpos,
             CAST(coalesce(sum(c) OVER (
               ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS cum_prev
      FROM grid
    ),
    sums AS (
      SELECT CAST(sum(c) AS BIGINT)  AS n,
             CAST(sum(cpos * (2 * cum_prev + c + 1)) AS BIGINT) AS w2_plus,
             CAST(sum(c * c * c - c) AS BIGINT) AS tt
      FROM ranked
    ),
    fin AS (
      SELECT n, w2_plus,
             CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 2.0 AS mean2,
             CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
               * (2.0 * CAST(n AS DOUBLE) + 1.0) / 6.0
               - CAST(tt AS DOUBLE) / 12.0 AS var2
      FROM sums
    )
    SELECT n AS n_nonzero, w2_plus,
           CASE WHEN n > 1 AND var2 > 0
                THEN round((CAST(w2_plus AS DOUBLE) - mean2) / sqrt(var2), 6)
           END AS z,
           CASE WHEN n > 1 AND var2 > 0
                THEN abs(round((CAST(w2_plus AS DOUBLE) - mean2)
                               / sqrt(var2), 6)) > 1.959964
           END AS reject_95
    FROM fin
    """


@graded("q_wilcoxon_signed_rank", oracle=WILCOXON_ORACLE)
def q_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test (experimentation battery #15): the
    PAIRED nonparametric test — did per-user spend shift between the
    pre and post periods (same fixed epoch cut as q_diff_in_diff)?
    Pairs are the user's own (pre, post) cent totals, so each user is
    their own control; zero differences are excluded per the standard
    procedure.

    The doubled-midrank discipline on the |d| axis: the (|d|, count,
    positive-count) grid is value-grain, so the doubled midrank of
    every member at |d| = v is 2*cum_prev + c + 1 (one RANGE window),
    and W2+ = sum over positive diffs is an exact BIGINT through tie
    blocks. Normal approximation with tie correction in DOUBLES at
    finalize (mean2 = n(n+1)/2, var2 = n(n+1)(2n+1)/6 - T/12 on the
    DOUBLED scale; T = sum(c^3 - c) stays BIGINT under the documented
    tie-block bound); z graded ROUNDED 6dp, reject from the rounded
    value; n <= 1 or var2 = 0 NULLs inference (mirrored).

    Scale: fact -> user grain in one combinable agg (the ratio-metric
    randomization-unit discipline); the rank machinery runs on the
    |distinct nonzero diffs|-row grid."""
    ev = load_table(spark, sf_dir, "events")
    return wilcoxon_report(wilcoxon_user_state(ev))


def wilcoxon_user_state(ev: DataFrame) -> DataFrame:
    """The per-user (pre, post) cent totals — the SUM-mergeable
    Wilcoxon state: a user's events may span micro-batches, but the
    paired totals fold by per-user addition; the diff/rank machinery
    runs only at finalize (ranks of |d| are per-batch meaningless, the
    stream_mannwhitney lesson on the paired axis)."""
    cents = F.floor(F.col("value") * 100).cast("bigint")
    t_us = F.unix_micros("ts")
    return ev.groupBy("user_id").agg(
        F.sum(F.when(t_us < 1705363200000000, cents).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("pre"),
        F.sum(F.when(t_us >= 1705363200000000, cents).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("post"),
    )


def wilcoxon_report(per_user: DataFrame) -> DataFrame:
    """Shared signed-rank finalize over the folded per-user totals."""
    diffs = per_user.select(
        (F.col("post") - F.col("pre")).alias("d")
    ).filter(F.col("d") != 0)
    grid = diffs.groupBy(F.abs(F.col("d")).alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.count_if(F.col("d") > 0).cast("bigint").alias("cpos"),
    )
    w_prev = Window.orderBy("v").rangeBetween(Window.unboundedPreceding, -1)
    ranked = grid.select(
        "v",
        "c",
        "cpos",
        F.coalesce(F.sum("c").over(w_prev), F.lit(0)).cast("bigint").alias("cum_prev"),
    )
    sums = ranked.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("cpos") * (F.lit(2) * F.col("cum_prev") + F.col("c") + 1))
        .cast("bigint")
        .alias("w2_plus"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("bigint")
        .alias("tt"),
    )
    nd = F.col("n").cast("double")
    mean2 = nd * (nd + F.lit(1.0)) / F.lit(2.0)
    var2 = (
        nd * (nd + F.lit(1.0)) * (F.lit(2.0) * nd + F.lit(1.0)) / F.lit(6.0)
        - F.col("tt").cast("double") / F.lit(12.0)
    )
    fin = sums.select(
        "n", "w2_plus", mean2.alias("mean2"), var2.alias("var2")
    )
    ok = (F.col("n") > 1) & (F.col("var2") > 0)
    z = F.round(
        (F.col("w2_plus").cast("double") - F.col("mean2")) / F.sqrt(F.col("var2")), 6
    )
    return fin.select(
        F.col("n").alias("n_nonzero"),
        "w2_plus",
        F.when(ok, z).alias("z"),
        F.when(ok, F.abs(z) > 1.959964).alias("reject_95"),
    )


PAIRWISE_ARMS_ORACLE = """
    WITH moments AS (
      SELECT event_type AS grp,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS s,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)
                      * CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS q
      FROM events GROUP BY grp
    ),
    ks AS (SELECT CAST(count(*) AS BIGINT) AS k FROM moments),
    pairs AS (
      SELECT a.grp AS grp_a, b.grp AS grp_b,
             a.n AS na, b.n AS nb, a.s AS sa, b.s AS sb, a.q AS qa, b.q AS qb
      FROM moments a JOIN moments b ON a.grp < b.grp
    ),
    fin AS (
      SELECT grp_a, grp_b, na, nb, k,
             (CAST(sb AS DOUBLE) / nb - CAST(sa AS DOUBLE) / na)
               / sqrt((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / na)
                        / (na - 1) / na
                      + (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / nb)
                        / (nb - 1) / nb) AS z
      FROM pairs CROSS JOIN ks
    )
    SELECT grp_a, grp_b, na, nb,
           CASE WHEN na > 1 AND nb > 1 THEN round(z, 6) END AS z,
           CASE WHEN na > 1 AND nb > 1 AND k = 5
                THEN abs(round(z, 6)) > 2.807034
           END AS reject_bonf
    FROM fin ORDER BY grp_a, grp_b
    """


@graded("q_pairwise_arms_bonferroni", oracle=PAIRWISE_ARMS_ORACLE)
def q_pairwise_arms_bonferroni(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs Welch comparisons with Bonferroni correction
    (experimentation battery #16) — the multiple-comparison follow-up
    q_one_way_anova demands: after the omnibus F, WHICH of the
    K(K-1)/2 = 10 group pairs differ? Each pair's Welch z from the
    shared exact-BIGINT moments; the family-wise error rate is held at
    0.05 by the Bonferroni critical z = Phi^-1(1 - 0.025/10) =
    2.807034 — a PRECOMPUTED literal (the record_linkage_fs doctrine:
    ln/Phi never run at query time), emitted only when K = 5 (the m
    the literal encodes; any other K grades NULL, mirrored CASE — the
    chi-square dof-CASE discipline).

    Scale: ONE combinable agg collapses the fact to K rows; the pair
    self-join and z chains run on the K-row relation (checkpointed —
    it feeds both the pair join's two sides and the k count, the
    multi-reader rule). z graded ROUNDED 6dp; singleton arms NULL."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("bigint")
    m = (
        ev.select(F.col("event_type").alias("grp"), cents.alias("cents"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("s"),
            F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("q"),
        )
        .localCheckpoint()
    )
    ks = m.agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    a = m.select(
        F.col("grp").alias("grp_a"),
        F.col("n").alias("na"),
        F.col("s").alias("sa"),
        F.col("q").alias("qa"),
    )
    b = m.select(
        F.col("grp").alias("grp_b"),
        F.col("n").alias("nb"),
        F.col("s").alias("sb"),
        F.col("q").alias("qb"),
    )
    pairs = a.join(F.broadcast(b), F.col("grp_a") < F.col("grp_b")).crossJoin(
        F.broadcast(ks)
    )
    z = (
        F.col("sb").cast("double") / F.col("nb")
        - F.col("sa").cast("double") / F.col("na")
    ) / F.sqrt(
        (F.col("qa").cast("double") - F.col("sa").cast("double") * F.col("sa") / F.col("na"))
        / (F.col("na") - 1)
        / F.col("na")
        + (F.col("qb").cast("double") - F.col("sb").cast("double") * F.col("sb") / F.col("nb"))
        / (F.col("nb") - 1)
        / F.col("nb")
    )
    fin = pairs.select("grp_a", "grp_b", "na", "nb", "k", z.alias("z"))
    ok = (F.col("na") > 1) & (F.col("nb") > 1)
    zr = F.round(F.col("z"), 6)
    return fin.select(
        "grp_a",
        "grp_b",
        "na",
        "nb",
        F.when(ok, zr).alias("z"),
        F.when(ok & (F.col("k") == 5), F.abs(zr) > 2.807034).alias("reject_bonf"),
    )


CRAMERS_V_ORACLE = """
    WITH grid AS (
      SELECT event_type,
             CAST(least(floor(value / 50), 4) AS BIGINT) AS band,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    spine AS (
      SELECT t.event_type, b.band
      FROM (SELECT DISTINCT event_type FROM grid) t
      CROSS JOIN (SELECT DISTINCT band FROM grid) b
    ),
    filled AS (
      SELECT s.event_type, s.band, coalesce(g.o, CAST(0 AS BIGINT)) AS o
      FROM spine s LEFT JOIN grid g USING (event_type, band)
    ),
    tot AS (
      SELECT event_type, band, o,
             CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS r,
             CAST(sum(o) OVER (PARTITION BY band) AS BIGINT)       AS c,
             CAST(sum(o) OVER () AS BIGINT)                        AS nn
      FROM filled
    ),
    terms AS (
      SELECT event_type, band, nn,
             ((CAST(o AS DOUBLE) * CAST(nn AS DOUBLE)
               - CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
              * (CAST(o AS DOUBLE) * CAST(nn AS DOUBLE)
                 - CAST(r AS DOUBLE) * CAST(c AS DOUBLE)))
               / (CAST(nn AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
               AS term
      FROM tot
    ),
    fin AS (
      SELECT CAST(max(nn) AS BIGINT) AS n_total,
             CAST(count(DISTINCT event_type) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT band) AS BIGINT)       AS n_cols,
             round(sum(term ORDER BY event_type, band), 6) AS chi2
      FROM terms
    )
    SELECT n_total, n_rows, n_cols, chi2,
           CASE WHEN n_total > 0 AND least(n_rows - 1, n_cols - 1) > 0
                THEN round(sqrt(chi2 / (CAST(n_total AS DOUBLE)
                     * least(n_rows - 1, n_cols - 1))), 6)
           END AS v
    FROM fin
    """


@graded("q_cramers_v", oracle=CRAMERS_V_ORACLE)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V — the EFFECT SIZE for the chi-square association
    (the cliffs_delta lesson on the contingency axis: at corpus n the
    chi-square p-value saturates and every association "rejects"; V =
    sqrt(chi2 / (N * min(r-1, c-1))) in [0, 1] says whether the
    association is LARGE). Reuses the shared chi_square_grid state and
    the same exact-integer (o*N - r*c)^2/(N*r*c) term rendering; V is
    derived from the ROUNDED chi2 (one sqrt of one division — the
    derived-from-rounded doctrine, so the grade can never split from
    the chi2 grade). Degenerate 1-row/1-column tables NULL v
    (mirrored).

    Scale: identical to q_chi_square_independence — the fact collapses
    to the |types|x|bands| grid (checkpointed, three readers), all
    finalize on the bounded relation."""
    ev = load_table(spark, sf_dir, "events")
    grid = chi_square_grid(ev).localCheckpoint()
    types = grid.select("event_type").distinct()
    bands = grid.select("band").distinct()
    spine = types.crossJoin(F.broadcast(bands))
    filled = spine.join(grid, ["event_type", "band"], "left").select(
        "event_type",
        "band",
        F.coalesce(F.col("o"), F.lit(0).cast("bigint")).alias("o"),
    )
    w_t = Window.partitionBy("event_type")
    w_b = Window.partitionBy("band")
    w_all = Window.partitionBy()
    tot = filled.select(
        "event_type",
        "band",
        "o",
        F.sum("o").over(w_t).cast("bigint").alias("r"),
        F.sum("o").over(w_b).cast("bigint").alias("c"),
        F.sum("o").over(w_all).cast("bigint").alias("nn"),
    )
    o_d, r_d = F.col("o").cast("double"), F.col("r").cast("double")
    c_d, nn_d = F.col("c").cast("double"), F.col("nn").cast("double")
    num_d = o_d * nn_d - r_d * c_d
    terms = tot.select(
        "event_type",
        "band",
        "nn",
        ((num_d * num_d) / (nn_d * r_d * c_d)).alias("term"),
    )
    fin = terms.agg(
        F.max("nn").cast("bigint").alias("n_total"),
        F.countDistinct("event_type").cast("bigint").alias("n_rows"),
        F.countDistinct("band").cast("bigint").alias("n_cols"),
        F.round(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("event_type").alias("e"),
                                F.col("band").alias("bd"),
                                F.col("term").alias("t"),
                            )
                        )
                    ),
                    lambda s: s["t"],
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ).alias("chi2"),
    )
    minrc = F.least(F.col("n_rows") - 1, F.col("n_cols") - 1)
    return fin.select(
        "n_total",
        "n_rows",
        "n_cols",
        "chi2",
        F.when(
            (F.col("n_total") > 0) & (minrc > 0),
            F.round(
                F.sqrt(F.col("chi2") / (F.col("n_total").cast("double") * minrc)), 6
            ),
        ).alias("v"),
    )


LEVENE_ORACLE = """
    WITH assigned AS (
      SELECT event_type AS grp, CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    deviations AS (
      SELECT grp,
             CAST(abs(2 * cents - 2 * quantile_cont(cents, 0.5)
                      OVER (PARTITION BY grp)) AS BIGINT) AS z
      FROM assigned
    ),
    moments AS (
      SELECT grp,
             CAST(count(*) AS BIGINT)      AS n_g,
             CAST(sum(z) AS BIGINT)        AS s_g,
             CAST(sum(z * z) AS BIGINT)    AS q_g
      FROM deviations GROUP BY grp
    ),
    terms AS (
      SELECT grp, n_g, s_g, q_g,
             CAST(s_g AS DOUBLE) * s_g / n_g                        AS ssb_t,
             CAST(q_g AS DOUBLE) - CAST(s_g AS DOUBLE) * s_g / n_g  AS ssw_t
      FROM moments
    ),
    folds AS (
      SELECT CAST(count(*) AS BIGINT)   AS k,
             CAST(sum(n_g) AS BIGINT)   AS n,
             CAST(sum(s_g) AS BIGINT)   AS s,
             sum(ssb_t ORDER BY grp)    AS sum_ssb,
             sum(ssw_t ORDER BY grp)    AS sum_ssw
      FROM terms
    ),
    fin AS (
      SELECT k, n,
             sum_ssb - CAST(s AS DOUBLE) * s / n AS ssb,
             sum_ssw                             AS ssw
      FROM folds
    )
    SELECT k, n,
           CASE WHEN k > 1 AND n > k THEN round(ssb, 6) END AS ssb,
           CASE WHEN k > 1 AND n > k THEN round(ssw, 6) END AS ssw,
           CASE WHEN k > 1 AND n > k AND ssw > 0
                THEN round((ssb / (k - 1)) / (ssw / (n - k)), 6) END AS f_stat,
           CASE WHEN k = 5 AND n - k > 1000 AND ssw > 0
                THEN round((ssb / (k - 1)) / (ssw / (n - k)), 6) > 2.371932
           END AS reject_95
    FROM fin
    """


@graded("q_levene_test", oracle=LEVENE_ORACLE)
def q_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test (experimentation
    battery #17): do the K event-type groups share a SPREAD? — the
    diagnostic q_one_way_anova's equal-variance reading quietly
    assumes, and the robust (median-centred) Levene form every modern
    package defaults to. F_BF = one-way ANOVA on z = |x - median_g|.

    THE EXACT-INTEGER TRICK: quantile_cont(0.5) is either a data value
    or the midpoint of two, so 2*median is ALWAYS an integer (exact in
    IEEE: (a+b)/2 then *2 reconstructs a+b) - the deviations are
    computed on the DOUBLED scale, z = |2x - 2med|, and land as exact
    BIGINTs: the whole Brown-Forsythe transform never leaves integer
    arithmetic (an undoubled |x - med| would be a .5-valued double and
    its sum-of-squares accumulation-order-sensitive). After that the
    shared anova_report machinery applies verbatim (group-ordered
    folds, F(4, inf) literal; SSB/SSW here are on the doubled-z scale,
    which scales F by exactly 1 - both engines identically).

    Scale: one window exchange on event_type (the anomaly_mad
    percentile posture) + one combinable moment agg on the same key;
    finalize on K rows."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("bigint")
    w = Window.partitionBy("grp")
    assigned = ev.select(F.col("event_type").alias("grp"), cents.alias("cents"))
    med2 = F.percentile("cents", F.lit(0.5)).over(w) * 2
    z = F.abs(F.lit(2) * F.col("cents") - med2).cast("bigint")
    devs = assigned.select("grp", z.alias("z"))
    m = devs.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("z").cast("bigint").alias("s_g"),
        F.sum(F.col("z") * F.col("z")).cast("bigint").alias("q_g"),
    )
    return anova_report(m)


MANN_KENDALL_ORACLE = """
    WITH daily AS (
      SELECT CAST(date_diff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY d
    ),
    pairs AS (
      SELECT CAST(count(*) FILTER (b.y > a.y) AS BIGINT) AS conc,
             CAST(count(*) FILTER (b.y < a.y) AS BIGINT) AS disc
      FROM daily a JOIN daily b ON a.d < b.d
    ),
    ties AS (
      SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tt
      FROM (SELECT y, CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY y)
    ),
    ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
    fin AS (
      SELECT n, conc - disc AS s_stat,
             (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
                * (2.0 * CAST(n AS DOUBLE) + 5.0)
              - CAST(tt AS DOUBLE)) / 18.0 AS var_s
      FROM pairs CROSS JOIN ties CROSS JOIN ns
    )
    SELECT n AS n_days, s_stat,
           CASE WHEN n > 1 AND var_s > 0 THEN
             round(CASE WHEN s_stat > 0
                        THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)
                        WHEN s_stat < 0
                        THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)
                        ELSE 0.0 END, 6)
           END AS z,
           CASE WHEN n > 1 AND var_s > 0 THEN
             abs(round(CASE WHEN s_stat > 0
                        THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)
                        WHEN s_stat < 0
                        THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)
                        ELSE 0.0 END, 6)) > 1.959964
           END AS reject_95
    FROM fin
    """


@graded("q_mann_kendall", oracle=MANN_KENDALL_ORACLE)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend TEST on the daily order-count series — the
    inference companion to q_theil_sen's slope ESTIMATE (the standard
    pairing in environmental/ops monitoring: MK decides IF there is a
    monotone trend, Theil-Sen says how steep). S = sum over day pairs
    of sign(y_j - y_i), rendered as pure COMPARISONS (concordant minus
    discordant counts — the kendall_tau doctrine: never sign() of a
    BIGINT product), exact through ties; var(S) with the tie
    correction sum t(t-1)(2t+5) in doubles; the continuity-corrected
    z = (S -/+ 1)/sqrt(var) graded ROUNDED 6dp, reject from the
    rounded value; n <= 1 or zero variance NULLs inference.

    Scale: the fact collapses to the BOUNDED day calendar (the
    theil_sen contract) in one combinable agg; the O(n^2) pair join,
    tie grid, and finalize all run on that checkpointed ~|days|-row
    relation (multi-reader rule)."""
    from noaa_etl_spark.queries.temporal import changepoint_daily

    orders = load_table(spark, sf_dir, "orders")
    daily = changepoint_daily(orders).localCheckpoint()
    return mann_kendall_finalize(daily)


def mann_kendall_finalize(daily: DataFrame) -> DataFrame:
    """Shared MK finalize over the (checkpointed) folded (d, y) daily
    relation: pure-comparison S, tie-corrected variance, continuity-
    corrected z."""
    a = daily.select(F.col("d").alias("da"), F.col("y").alias("ya"))
    b = daily.select(F.col("d").alias("db"), F.col("y").alias("yb"))
    pairs = a.join(F.broadcast(b), F.col("da") < F.col("db")).agg(
        F.count_if(F.col("yb") > F.col("ya")).cast("bigint").alias("conc"),
        F.count_if(F.col("yb") < F.col("ya")).cast("bigint").alias("disc"),
    )
    ties = (
        daily.groupBy("y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (F.lit(2) * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tt")
        )
    )
    ns = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    nd = F.col("n").cast("double")
    var_s = (
        nd * (nd - F.lit(1.0)) * (F.lit(2.0) * nd + F.lit(5.0))
        - F.col("tt").cast("double")
    ) / F.lit(18.0)
    fin = (
        pairs.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(ns))
        .select(
            "n",
            (F.col("conc") - F.col("disc")).alias("s_stat"),
            var_s.alias("var_s"),
        )
    )
    s_d = F.col("s_stat").cast("double")
    zc = (
        F.when(F.col("s_stat") > 0, (s_d - F.lit(1.0)) / F.sqrt(F.col("var_s")))
        .when(F.col("s_stat") < 0, (s_d + F.lit(1.0)) / F.sqrt(F.col("var_s")))
        .otherwise(F.lit(0.0))
    )
    ok = (F.col("n") > 1) & (F.col("var_s") > 0)
    return fin.select(
        F.col("n").alias("n_days"),
        "s_stat",
        F.when(ok, F.round(zc, 6)).alias("z"),
        F.when(ok, F.abs(F.round(zc, 6)) > 1.959964).alias("reject_95"),
    )


CRONBACH_ORACLE = """
    WITH per_user AS (
      SELECT user_id,
             CAST(sum(CASE WHEN event_type = 'click'
                           THEN CAST(floor(value) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS x1,
             CAST(sum(CASE WHEN event_type = 'view'
                           THEN CAST(floor(value) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS x2,
             CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(floor(value) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS x3
      FROM events GROUP BY user_id
    ),
    moments AS (
      SELECT CAST(count(*) AS BIGINT)                       AS n,
             CAST(sum(x1) AS BIGINT)                        AS s1,
             CAST(sum(x2) AS BIGINT)                        AS s2,
             CAST(sum(x3) AS BIGINT)                        AS s3,
             CAST(sum(x1 * x1) AS BIGINT)                   AS q1,
             CAST(sum(x2 * x2) AS BIGINT)                   AS q2,
             CAST(sum(x3 * x3) AS BIGINT)                   AS q3,
             CAST(sum(x1 + x2 + x3) AS BIGINT)              AS st,
             CAST(sum((x1 + x2 + x3) * (x1 + x2 + x3)) AS BIGINT) AS qt
      FROM per_user
    ),
    fin AS (
      SELECT n,
             (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) AS v1,
             (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n) / (n - 1) AS v2,
             (CAST(q3 AS DOUBLE) - CAST(s3 AS DOUBLE) * s3 / n) / (n - 1) AS v3,
             (CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * st / n) / (n - 1) AS vt
      FROM moments
    )
    SELECT n AS n_users,
           CASE WHEN n > 1 THEN round(v1, 6) END AS var_item1,
           CASE WHEN n > 1 THEN round(v2, 6) END AS var_item2,
           CASE WHEN n > 1 THEN round(v3, 6) END AS var_item3,
           CASE WHEN n > 1 THEN round(vt, 6) END AS var_total,
           CASE WHEN n > 1 AND vt > 0
                THEN round(3.0 / 2.0 * (1.0 - (v1 + v2 + v3) / vt), 6)
           END AS alpha
    FROM fin
    """


@graded("q_cronbach_alpha", oracle=CRONBACH_ORACLE)
def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over the three per-user spend items (click /
    view / purchase dollar totals) — the internal-consistency
    coefficient for any multi-item score (labeling rubrics, LLM-judge
    ensembles, survey scales): alpha = k/(k-1) * (1 - sum var_i /
    var_total) says whether the items measure one construct.

    Exactness: items are user-grain DOLLAR totals (the covariance
    dollars-quantization precedent — the TOTAL's square q_t must stay
    BIGINT: cents-grain would overflow at ~1e4x replication) from ONE
    combinable agg; all five variances are token-identical double
    chains over the nine exact moments; the item-variance sum is the
    FIXED literal chain v1 + v2 + v3 (fixed written order, the DiD
    four-term precedent — items are named columns, not an
    engine-ordered fold). alpha graded ROUNDED 6dp; n <= 1 or zero
    total variance NULLs (mirrored).

    Scale: fact -> user grain -> one moment row; finalize on one row."""
    ev = load_table(spark, sf_dir, "events")
    return cronbach_report(cronbach_user_state(ev))


def levene_report_from_grid(grid: DataFrame) -> DataFrame:
    """Brown-Forsythe finalize from the folded (grp, v, c) count grid —
    the streaming twin's path: the group median comes by CUMULATIVE
    SELECTION on the grid (2*med = v@rank((n+1) div 2) +
    v@rank((n+2) div 2), the weighted_median machinery — identical to
    quantile_cont(0.5) by the odd/even midpoint identity), and the
    deviation moments come from the grid itself (sum c*z, c*z^2), so
    the whole transform equals the per-event batch form exactly."""
    w_cum = (
        Window.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("grp")
    cums = grid.select(
        "grp",
        "v",
        "c",
        F.sum("c").over(w_cum).cast("bigint").alias("cum"),
        F.sum("c").over(w_all).cast("bigint").alias("n_g"),
    )
    r1 = F.expr("(n_g + 1) div 2")
    r2 = F.expr("(n_g + 2) div 2")
    med2 = cums.groupBy("grp").agg(
        (
            F.min(F.when(F.col("cum") >= r1, F.col("v")))
            + F.min(F.when(F.col("cum") >= r2, F.col("v")))
        )
        .cast("bigint")
        .alias("med2")
    )
    z = F.abs(F.lit(2) * F.col("v") - F.col("med2")).cast("bigint")
    devs = grid.join(F.broadcast(med2), "grp").select(
        "grp", "c", z.alias("z")
    )
    m = devs.groupBy("grp").agg(
        F.sum("c").cast("bigint").alias("n_g"),
        F.sum(F.col("c") * F.col("z")).cast("bigint").alias("s_g"),
        F.sum(F.col("c") * F.col("z") * F.col("z")).cast("bigint").alias("q_g"),
    )
    return anova_report(m)


def cronbach_user_state(ev: DataFrame) -> DataFrame:
    """Per-user (x1, x2, x3) item dollar totals — the SUM-mergeable
    Cronbach state (a user's events span batches; item totals fold by
    user-grain addition)."""
    dollars = F.floor(F.col("value")).cast("bigint")

    def item(t):
        return (
            F.sum(F.when(F.col("event_type") == t, dollars).otherwise(F.lit(0)))
            .cast("bigint")
        )

    return ev.groupBy("user_id").agg(
        item("click").alias("x1"),
        item("view").alias("x2"),
        item("purchase").alias("x3"),
    )


def cronbach_report(per_user: DataFrame) -> DataFrame:
    """Shared Cronbach finalize over the folded per-user item totals."""
    tot = F.col("x1") + F.col("x2") + F.col("x3")
    m = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("s1"),
        F.sum("x2").cast("bigint").alias("s2"),
        F.sum("x3").cast("bigint").alias("s3"),
        F.sum(F.col("x1") * F.col("x1")).cast("bigint").alias("q1"),
        F.sum(F.col("x2") * F.col("x2")).cast("bigint").alias("q2"),
        F.sum(F.col("x3") * F.col("x3")).cast("bigint").alias("q3"),
        F.sum(tot).cast("bigint").alias("st"),
        F.sum(tot * tot).cast("bigint").alias("qt"),
    )

    def var(q, sv):
        return (
            (F.col(q).cast("double") - F.col(sv).cast("double") * F.col(sv) / F.col("n"))
            / (F.col("n") - 1)
        )

    fin = m.select(
        "n",
        var("q1", "s1").alias("v1"),
        var("q2", "s2").alias("v2"),
        var("q3", "s3").alias("v3"),
        var("qt", "st").alias("vt"),
    )
    ok = F.col("n") > 1
    alpha = F.lit(3.0) / F.lit(2.0) * (
        F.lit(1.0) - (F.col("v1") + F.col("v2") + F.col("v3")) / F.col("vt")
    )
    return fin.select(
        F.col("n").alias("n_users"),
        F.when(ok, F.round(F.col("v1"), 6)).alias("var_item1"),
        F.when(ok, F.round(F.col("v2"), 6)).alias("var_item2"),
        F.when(ok, F.round(F.col("v3"), 6)).alias("var_item3"),
        F.when(ok, F.round(F.col("vt"), 6)).alias("var_total"),
        F.when(ok & (F.col("vt") > 0), F.round(alpha, 6)).alias("alpha"),
    )


FRIEDMAN_ORACLE = """
    WITH cell AS (
      SELECT user_id, event_type,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY user_id, event_type
    ),
    complete AS (
      SELECT user_id FROM cell GROUP BY user_id HAVING count(*) = 5
    ),
    blocks AS (
      SELECT c.user_id, c.event_type, c.x
      FROM cell c JOIN complete u USING (user_id)
    ),
    ranked AS (
      SELECT user_id, event_type,
             CAST(2 * coalesce(count(*) OVER (PARTITION BY user_id
                    ORDER BY x RANGE BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0)
                  + count(*) OVER (PARTITION BY user_id
                    ORDER BY x RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
                  + 1 AS BIGINT) AS r2
      FROM blocks
    ),
    rsums AS (
      SELECT event_type, CAST(sum(r2) AS BIGINT) AS r2_j FROM ranked
      GROUP BY event_type
    ),
    a2s AS (
      SELECT CAST(sum(r2 * r2) AS BIGINT) AS a2,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n
      FROM ranked
    ),
    fin AS (
      SELECT a.n,
             CAST(sum(r.r2_j * r.r2_j) AS BIGINT) AS sr2,
             CAST(max(a.a2) AS BIGINT) AS a2
      FROM rsums r CROSS JOIN a2s a GROUP BY a.n
    )
    SELECT n AS n_blocks,
           CASE WHEN n > 0 AND a2 - 180 * n <> 0 THEN
             round(4.0 * (CAST(sr2 AS DOUBLE) - 180.0 * n * n)
                   / (CAST(a2 AS DOUBLE) - 180.0 * n), 6)
           END AS chi2,
           CASE WHEN n > 0 AND a2 - 180 * n <> 0 THEN
             round(4.0 * (CAST(sr2 AS DOUBLE) - 180.0 * n * n)
                   / (CAST(a2 AS DOUBLE) - 180.0 * n), 6) > 9.487729
           END AS reject_95
    FROM fin
    """


@graded("q_friedman_test", oracle=FRIEDMAN_ORACLE)
def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test (experimentation battery #18): the K-related-
    samples rank test over COMPLETE BLOCKS — does per-user spend rank
    the five event types consistently? Each user is a block (their own
    control, the Wilcoxon pairing generalized to K = 5 treatments);
    users missing any type are excluded (the complete-block
    requirement), ranks are computed WITHIN each user.

    Doubled midranks within blocks via two per-user RANGE windows on
    the (user, type, total) relation (k = 5 rows per user — no grid
    needed); with ranks sum-constrained per block the tie-corrected
    statistic collapses to chi2 = (k-1)(sum_j R_j^2 - n^2 k(k+1)^2/4)
    / (A - nk(k+1)^2/4), which on the DOUBLED scale is the all-BIGINT
    ratio 4*(sum R2_j^2 - 180 n^2)/(A2 - 180 n) — exact integers into
    ONE division, bit-equal cross-engine (rounded 6dp anyway; reject
    vs chi2_0.95(4) from the rounded value). All-tied blocks
    everywhere (A2 = 180n) NULL the statistic (mirrored). Overflow:
    sum R2_j^2 <= k(2k+1)^2 n^2 -> n safe to ~8e7 blocks; doubled
    ranks are <= 11 so A2 is tiny.

    Scale: fact -> (user, type) grain in one combinable agg; block
    windows ride the user partitioning; finalize on K + 1 rows."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("bigint")
    cell = ev.groupBy("user_id", "event_type").agg(
        F.sum(cents).cast("bigint").alias("x")
    )
    complete = cell.groupBy("user_id").agg(F.count(F.lit(1)).alias("ct")).filter(
        F.col("ct") == 5
    ).select("user_id")
    blocks = cell.join(complete, "user_id")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("x")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_cur = Window.partitionBy("user_id").orderBy("x").rangeBetween(0, 0)
    ranked = blocks.select(
        "user_id",
        "event_type",
        (
            F.lit(2) * F.coalesce(F.count(F.lit(1)).over(w_prev), F.lit(0))
            + F.count(F.lit(1)).over(w_cur)
            + 1
        )
        .cast("bigint")
        .alias("r2"),
    )
    rsums = ranked.groupBy("event_type").agg(
        F.sum("r2").cast("bigint").alias("r2_j")
    )
    a2s = ranked.agg(
        F.sum(F.col("r2") * F.col("r2")).cast("bigint").alias("a2"),
        F.countDistinct("user_id").cast("bigint").alias("n"),
    )
    fin = (
        rsums.crossJoin(F.broadcast(a2s))
        .groupBy("n")
        .agg(
            F.sum(F.col("r2_j") * F.col("r2_j")).cast("bigint").alias("sr2"),
            F.max("a2").cast("bigint").alias("a2"),
        )
    )
    ok = (F.col("n") > 0) & (F.col("a2") - 180 * F.col("n") != 0)
    chi2 = F.round(
        F.lit(4.0)
        * (F.col("sr2").cast("double") - F.lit(180.0) * F.col("n") * F.col("n"))
        / (F.col("a2").cast("double") - F.lit(180.0) * F.col("n")),
        6,
    )
    return fin.select(
        F.col("n").alias("n_blocks"),
        F.when(ok, chi2).alias("chi2"),
        F.when(ok, chi2 > 9.487729).alias("reject_95"),
    )


SIMPSON_ORACLE = """
    WITH assigned AS (
      SELECT event_type AS stratum,
             CASE WHEN substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    m AS (
      SELECT stratum,
             CAST(count(*) FILTER (arm = 'A') AS BIGINT)    AS n_a,
             CAST(count(*) FILTER (arm = 'B') AS BIGINT)    AS n_b,
             CAST(sum(cents) FILTER (arm = 'A') AS BIGINT)  AS s_a,
             CAST(sum(cents) FILTER (arm = 'B') AS BIGINT)  AS s_b
      FROM assigned GROUP BY stratum
    ),
    strata AS (
      SELECT stratum, n_a, n_b,
             CASE WHEN n_a > 0 AND n_b > 0 THEN
               round(CAST(s_b AS DOUBLE) / n_b - CAST(s_a AS DOUBLE) / n_a, 6)
             END AS diff_s,
             CASE WHEN n_a > 0 AND n_b > 0 THEN
               (CAST(n_a + n_b AS DOUBLE)
                  / (SELECT sum(n_a + n_b) FROM m))
               * (CAST(s_b AS DOUBLE) / n_b - CAST(s_a AS DOUBLE) / n_a)
             END AS w_diff
      FROM m
    ),
    pooled AS (
      SELECT CAST(sum(n_a) AS BIGINT) AS na, CAST(sum(n_b) AS BIGINT) AS nb,
             CAST(sum(s_a) AS BIGINT) AS sa, CAST(sum(s_b) AS BIGINT) AS sb
      FROM m
    ),
    fin AS (
      SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM strata)                AS n_strata,
        (SELECT CAST(count(diff_s) AS BIGINT) FROM strata)           AS n_ok,
        (SELECT CAST(count(*) FILTER (diff_s > 0) AS BIGINT)
         FROM strata)                                                AS n_pos,
        (SELECT CAST(count(*) FILTER (diff_s < 0) AS BIGINT)
         FROM strata)                                                AS n_neg,
        (SELECT CASE WHEN na > 0 AND nb > 0 THEN
           round(CAST(sb AS DOUBLE) / nb - CAST(sa AS DOUBLE) / na, 6) END
         FROM pooled)                                                AS pooled_diff,
        (SELECT round(sum(w_diff ORDER BY stratum), 6) FROM strata)  AS ate_ps_raw
    )
    SELECT n_strata, n_pos, n_neg, pooled_diff,
           CASE WHEN n_strata = n_ok THEN ate_ps_raw END AS ate_ps,
           CASE WHEN n_strata = n_ok AND pooled_diff IS NOT NULL THEN
             (pooled_diff > 0 AND ate_ps_raw < 0)
             OR (pooled_diff < 0 AND ate_ps_raw > 0)
           END AS reversal
    FROM fin
    """


@graded("q_simpson_check", oracle=SIMPSON_ORACLE)
def q_simpson_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox guardrail (experimentation battery #19): does
    the POOLED treatment effect disagree in SIGN with the
    stratum-adjusted (post-stratified) effect? The classic aggregation
    trap every metrics review should run before shipping a 'win' — a
    pooled lift driven by stratum mix, not by any stratum improving,
    reverses here. Reports the pooled B-A cent-mean difference, the
    post-stratified ATE (the q_post_stratification estimator), the
    per-stratum sign census, and the reversal flag.

    Exactness: one (stratum x arm) FILTER-agg; per-stratum and pooled
    diffs are token-identical double chains graded ROUNDED 6dp; the
    cross-strata weighted sum folds in stratum order; sign counts and
    the reversal flag derive from the ROUNDED values (mirrored CASE).
    Any stratum with an empty arm NULLs ate_ps/reversal, an empty
    pooled arm NULLs pooled_diff (regen-proof).

    Scale: one combinable agg to K rows; everything after runs on the
    K-row relation (tot checkpointed via broadcast of the 1-row sum -
    the source_entropy lesson)."""
    ev = load_table(spark, sf_dir, "events")
    return simpson_report(simpson_cells(ev).localCheckpoint())


def simpson_cells(ev: DataFrame) -> DataFrame:
    """The (stratum, n_a, n_b, s_a, s_b) moment relation — the
    SUM-mergeable Simpson state (per-micro-batch rows fold by
    stratum-grain addition)."""
    arm = ab_arm()
    cents = F.floor(F.col("value") * 100).cast("bigint")
    rows = ev.select(
        F.col("event_type").alias("stratum"), arm.alias("arm"), cents.alias("cents")
    )
    is_a, is_b = F.col("arm") == "A", F.col("arm") == "B"
    return rows.groupBy("stratum").agg(
        F.count_if(is_a).cast("bigint").alias("n_a"),
        F.count_if(is_b).cast("bigint").alias("n_b"),
        F.sum(F.when(is_a, F.col("cents"))).cast("bigint").alias("s_a"),
        F.sum(F.when(is_b, F.col("cents"))).cast("bigint").alias("s_b"),
    )


def simpson_report(m: DataFrame) -> DataFrame:
    """Shared Simpson finalize over the (checkpointed) folded cells."""
    tot = m.agg(
        F.sum(F.col("n_a") + F.col("n_b")).cast("bigint").alias("n"),
        F.sum("n_a").cast("bigint").alias("na"),
        F.sum("n_b").cast("bigint").alias("nb"),
        F.sum("s_a").cast("bigint").alias("sa"),
        F.sum("s_b").cast("bigint").alias("sb"),
    ).localCheckpoint()
    ok_s = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    diff = F.col("s_b").cast("double") / F.col("n_b") - F.col(
        "s_a"
    ).cast("double") / F.col("n_a")
    w = (F.col("n_a") + F.col("n_b")).cast("double") / F.col("n")
    strata = m.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n",
        "na",
        "nb",
        "sa",
        "sb",
        F.when(ok_s, F.round(diff, 6)).alias("diff_s"),
        F.when(ok_s, w * diff).alias("w_diff"),
    )
    fin = strata.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.count("diff_s").cast("bigint").alias("n_ok"),
        F.count_if(F.col("diff_s") > 0).cast("bigint").alias("n_pos"),
        F.count_if(F.col("diff_s") < 0).cast("bigint").alias("n_neg"),
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
        F.max("sa").alias("sa"),
        F.max("sb").alias("sb"),
        F.round(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("stratum").alias("st"),
                                F.col("w_diff").alias("t"),
                            )
                        )
                    ),
                    lambda s: s["t"],
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ),
            6,
        ).alias("ate_ps_raw"),
    )
    pooled = F.when(
        (F.col("na") > 0) & (F.col("nb") > 0),
        F.round(
            F.col("sb").cast("double") / F.col("nb")
            - F.col("sa").cast("double") / F.col("na"),
            6,
        ),
    )
    ok_all = F.col("n_strata") == F.col("n_ok")
    return fin.select(
        "n_strata",
        "n_pos",
        "n_neg",
        pooled.alias("pooled_diff"),
        F.when(ok_all, F.col("ate_ps_raw")).alias("ate_ps"),
        F.when(
            ok_all & pooled.isNotNull(),
            ((pooled > 0) & (F.col("ate_ps_raw") < 0))
            | ((pooled < 0) & (F.col("ate_ps_raw") > 0)),
        ).alias("reversal"),
    )


COCHRAN_ARMITAGE_ORACLE = """
    WITH banded AS (
      SELECT CAST(least(floor(value / 50), 4) AS BIGINT) AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    grid AS (
      SELECT s, CAST(count(*) AS BIGINT) AS n_i,
             CAST(sum(y) AS BIGINT) AS r_i
      FROM banded GROUP BY s
    ),
    sums AS (
      SELECT CAST(sum(n_i) AS BIGINT)        AS n,
             CAST(sum(r_i) AS BIGINT)        AS r,
             CAST(sum(s * n_i) AS BIGINT)    AS sn,
             CAST(sum(s * r_i) AS BIGINT)    AS sr,
             CAST(sum(s * s * n_i) AS BIGINT) AS ssn
      FROM grid
    ),
    fin AS (
      SELECT n, r,
             CAST(n AS DOUBLE) * sr - CAST(r AS DOUBLE) * sn AS t_stat,
             (CAST(r AS DOUBLE) / n) * (1.0 - CAST(r AS DOUBLE) / n)
               * (CAST(n AS DOUBLE) * ssn - CAST(sn AS DOUBLE) * sn) AS var_t
      FROM sums
    )
    SELECT n, r,
           CASE WHEN n > 1 AND r > 0 AND r < n AND var_t > 0
                THEN round(t_stat / sqrt(var_t), 6) END AS z,
           CASE WHEN n > 1 AND r > 0 AND r < n AND var_t > 0
                THEN abs(round(t_stat / sqrt(var_t), 6)) > 1.959964
           END AS reject_95
    FROM fin
    """


@graded("q_cochran_armitage", oracle=COCHRAN_ARMITAGE_ORACLE)
def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test (experimentation battery #20): does
    purchase propensity rise MONOTONICALLY with the spend band? The
    ordered-dose test chi-square independence cannot express (chi2
    sees association, CA sees direction): scores s_i = band index,
    T = N*sum(s_i r_i) - R*sum(s_i n_i), Var(T) = p(1-p)(N*sum(s^2 n)
    - (sum(s n))^2) with p = R/N.

    Exactness: the fact collapses to the 5-band (n_i, r_i) grid in one
    combinable agg; all five scored sums are exact BIGINTs (bound:
    s^2 <= 16 keeps ssn safe past 1e17 rows); T and Var(T) are
    token-identical double chains (T^2 would overflow - the
    finalize-product doctrine, so z = T/sqrt(V) directly); z graded
    ROUNDED 6dp, reject from the rounded value; degenerate all-
    positive/all-negative outcomes or zero variance NULL (mirrored).

    Scale: one agg to 5 rows; finalize on one row."""
    ev = load_table(spark, sf_dir, "events")
    return ca_report(ca_grid(ev))


def ca_grid(ev: DataFrame) -> DataFrame:
    """The 5-band (n_i, r_i) dose grid — the SUM-mergeable
    Cochran-Armitage state."""
    s_band = F.least(F.floor(F.col("value") / 50), F.lit(4)).cast("bigint")
    y = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    return (
        ev.select(s_band.alias("s"), y.alias("y"))
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_i"),
            F.sum("y").cast("bigint").alias("r_i"),
        )
    )


def ca_report(grid: DataFrame) -> DataFrame:
    """Shared trend-test finalize over the folded dose grid."""
    sums = grid.agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum("r_i").cast("bigint").alias("r"),
        F.sum(F.col("s") * F.col("n_i")).cast("bigint").alias("sn"),
        F.sum(F.col("s") * F.col("r_i")).cast("bigint").alias("sr"),
        F.sum(F.col("s") * F.col("s") * F.col("n_i")).cast("bigint").alias("ssn"),
    )
    nd = F.col("n").cast("double")
    rd = F.col("r").cast("double")
    t_stat = nd * F.col("sr") - rd * F.col("sn")
    p = rd / F.col("n")
    var_t = p * (F.lit(1.0) - rd / F.col("n")) * (
        nd * F.col("ssn") - F.col("sn").cast("double") * F.col("sn")
    )
    fin = sums.select("n", "r", t_stat.alias("t_stat"), var_t.alias("var_t"))
    ok = (
        (F.col("n") > 1)
        & (F.col("r") > 0)
        & (F.col("r") < F.col("n"))
        & (F.col("var_t") > 0)
    )
    z = F.round(F.col("t_stat") / F.sqrt(F.col("var_t")), 6)
    return fin.select(
        "n",
        "r",
        F.when(ok, z).alias("z"),
        F.when(ok, F.abs(z) > 1.959964).alias("reject_95"),
    )


MCC_ORACLE = """
    WITH scored AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             CASE WHEN value >= 100.0 THEN 1 ELSE 0 END AS pred
      FROM events
    ),
    conf AS (
      SELECT CAST(count(*) FILTER (y = 1 AND pred = 1) AS BIGINT) AS tp,
             CAST(count(*) FILTER (y = 0 AND pred = 1) AS BIGINT) AS fp,
             CAST(count(*) FILTER (y = 1 AND pred = 0) AS BIGINT) AS fn,
             CAST(count(*) FILTER (y = 0 AND pred = 0) AS BIGINT) AS tn
      FROM scored
    )
    SELECT tp, fp, fn, tn,
           CASE WHEN (tp + fp) > 0 AND (tp + fn) > 0
                 AND (tn + fp) > 0 AND (tn + fn) > 0
                THEN round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                     / sqrt((CAST(tp AS DOUBLE) + fp) * (CAST(tp AS DOUBLE) + fn)
                            * (CAST(tn AS DOUBLE) + fp)
                            * (CAST(tn AS DOUBLE) + fn)), 6)
           END AS mcc
    FROM conf
    """


@graded("q_mcc_score", oracle=MCC_ORACLE)
def q_mcc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient of the value>=100 purchase
    predictor — the eval battery's class-imbalance-proof single
    number (accuracy and F1 both mislead at skewed prevalence; MCC is
    the +-1-bounded correlation of the full confusion matrix, the
    metric the classification_report family still lacked).

    Exactness: the four confusion cells are exact BIGINTs from ONE
    FILTER-agg; numerator products stay within BIGINT but the
    DENOMINATOR (a product of four marginals ~ N^4) overflows long
    before any realistic N - the whole chain runs in token-identical
    DOUBLES (the cohens_kappa marginal-product lesson), graded ROUNDED
    6dp; any zero marginal NULLs mcc (the standard convention,
    mirrored).

    Scale: one combinable agg; finalize on one row."""
    ev = load_table(spark, sf_dir, "events")
    return mcc_report(mcc_confusion(ev))


def mcc_confusion(ev: DataFrame) -> DataFrame:
    """The 4-cell confusion row — the SUM-mergeable MCC state."""
    y = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    pred = F.when(F.col("value") >= 100.0, 1).otherwise(0)
    scored = ev.select(y.alias("y"), pred.alias("pred"))
    return scored.agg(
        F.count_if((F.col("y") == 1) & (F.col("pred") == 1)).cast("bigint").alias("tp"),
        F.count_if((F.col("y") == 0) & (F.col("pred") == 1)).cast("bigint").alias("fp"),
        F.count_if((F.col("y") == 1) & (F.col("pred") == 0)).cast("bigint").alias("fn"),
        F.count_if((F.col("y") == 0) & (F.col("pred") == 0)).cast("bigint").alias("tn"),
    )

def mcc_report(conf: DataFrame) -> DataFrame:
    """Shared MCC finalize over the folded confusion row."""
    tp_d, fp_d = F.col("tp").cast("double"), F.col("fp").cast("double")
    fn_d, tn_d = F.col("fn").cast("double"), F.col("tn").cast("double")
    ok = (
        (F.col("tp") + F.col("fp") > 0)
        & (F.col("tp") + F.col("fn") > 0)
        & (F.col("tn") + F.col("fp") > 0)
        & (F.col("tn") + F.col("fn") > 0)
    )
    mcc = F.round(
        (tp_d * F.col("tn") - fp_d * F.col("fn"))
        / F.sqrt(
            (tp_d + F.col("fp"))
            * (tp_d + F.col("fn"))
            * (tn_d + F.col("fp"))
            * (tn_d + F.col("fn"))
        ),
        6,
    )
    return conf.select("tp", "fp", "fn", "tn", F.when(ok, mcc).alias("mcc"))
