"""Scalar-function surface (SURVEY.md §2.H) + SQL entry points: string,
math (haversine), date arithmetic, map functions, hash functions, text
normalization, grouping sets via SQL, union-distinct, interval join,
deterministic sampling.

Oracle-dialect notes are inline where DuckDB and Spark function names or
semantics diverge (R3 in SURVEY.md §5) — each oracle was run locally
against DuckDB 1.x before landing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from noaa_etl_spark.io import load_table, register_views
from noaa_etl_spark.registry import graded


@graded(
    "q_string_functions",
    oracle="""
    SELECT p_partkey,
           upper(p_brand)                                   AS brand_up,
           reverse(p_brand)                                 AS brand_rev,
           length(p_name)                                   AS name_len,
           substr(p_name, 1, 8)                             AS name_prefix,
           replace(p_type, ' ', '_')                        AS type_snake,
           lpad(CAST(p_size AS VARCHAR), 4, '0')            AS size_padded,
           levenshtein(p_brand, 'Brand#11')                 AS brand_dist,
           contains(p_type, 'BRASS')                        AS is_brass,
           concat_ws('|', p_brand, p_type)                  AS brand_type,
           trim(p_name)                                     AS name_trim
    FROM part
    WHERE p_partkey <= 500
    ORDER BY p_partkey
    """,
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String surface: case, reverse, length, substring, replace, pad,
    edit distance, containment, concat — all JVM-native expressions."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_partkey") <= 500)
        .select(
            "p_partkey",
            F.upper("p_brand").alias("brand_up"),
            F.reverse("p_brand").alias("brand_rev"),
            F.length("p_name").cast("bigint").alias("name_len"),
            F.substring("p_name", 1, 8).alias("name_prefix"),
            F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
            F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
            F.levenshtein(F.col("p_brand"), F.lit("Brand#11")).cast("bigint").alias("brand_dist"),
            F.contains(F.col("p_type"), F.lit("BRASS")).alias("is_brass"),
            F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
            F.trim(F.col("p_name")).alias("name_trim"),
        )
        .orderBy("p_partkey")
    )


@graded(
    "q_regexp_extract",
    oracle="""
    -- DuckDB regexp_extract(string, pattern, group) matches Spark's
    -- argument order; group 1 = the brand's numeric suffix.
    SELECT regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS brand_num,
           count(*)                                   AS n_parts,
           CAST(sum(p_size) AS BIGINT)                AS total_size
    FROM part
    GROUP BY 1
    ORDER BY brand_num
    """,
)
def q_regexp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex field extraction + group-by over the extracted key."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.groupBy(
            F.regexp_extract(F.col("p_brand"), r"Brand#(\d+)", 1).alias("brand_num")
        )
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(F.col("p_size").cast("bigint")).alias("total_size"),
        )
        .orderBy("brand_num")
    )


@graded(
    "q_math_haversine",
    oracle="""
    WITH pts AS (
      SELECT c_custkey,
             CAST(c_custkey % 120 AS DOUBLE) - 60.0 + 0.5  AS lat,
             CAST(c_custkey % 300 AS DOUBLE) - 150.0 + 0.5 AS lon
      FROM customer WHERE c_custkey <= 1000
    )
    SELECT c_custkey,
           round(2 * 6371.0 * asin(sqrt(
             pow(sin(radians(lat) / 2), 2)
             + cos(radians(lat)) * cos(radians(0.0)) * pow(sin(radians(lon) / 2), 2)
           )), 6)                                           AS dist_km,
           round(abs(lat) + greatest(lat, lon) - least(lat, lon), 6) AS box_span,
           CAST(sign(lat) AS DOUBLE)                        AS lat_sign
    FROM pts
    ORDER BY c_custkey
    """,
)
def q_math_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math surface via the NOAA staple: haversine great-circle distance
    from derived station coordinates to (0,0); plus abs/greatest/least/
    sign. Trig argument order mirrors the oracle term-for-term so the
    double arithmetic is bit-identical."""
    cust = load_table(spark, sf_dir, "customer")
    lat = (F.col("c_custkey") % 120).cast("double") - 60.0 + 0.5
    lon = (F.col("c_custkey") % 300).cast("double") - 150.0 + 0.5
    half_lat = F.radians(lat) / 2
    half_lon = F.radians(lon) / 2
    hav = F.pow(F.sin(half_lat), 2) + F.cos(F.radians(lat)) * F.cos(
        F.radians(F.lit(0.0))
    ) * F.pow(F.sin(half_lon), 2)
    return (
        cust.filter(F.col("c_custkey") <= 1000)
        .select(
            "c_custkey",
            F.round(2 * 6371.0 * F.asin(F.sqrt(hav)), 6).alias("dist_km"),
            F.round(F.abs(lat) + F.greatest(lat, lon) - F.least(lat, lon), 6).alias("box_span"),
            F.signum(lat).alias("lat_sign"),
        )
        .orderBy("c_custkey")
    )


@graded(
    "q_date_arithmetic",
    oracle="""
    SELECT o_orderkey,
           o_orderdate + INTERVAL 3 MONTH                      AS due_date,
           last_day(CAST(o_orderdate AS DATE))                 AS month_end,
           CAST(o_orderdate AS DATE) + 30                      AS plus_30d,
           quarter(o_orderdate)                                AS q,
           isodow(o_orderdate)                                 AS iso_dow,
           make_date(CAST(year(o_orderdate) AS INT),
                     CAST(month(o_orderdate) AS INT), 1)       AS month_start,
           (year(TIMESTAMP '2002-01-01') - year(o_orderdate)) * 12
             + (month(TIMESTAMP '2002-01-01') - month(o_orderdate)) AS months_to_2002
    FROM orders
    WHERE o_orderkey <= 300
    ORDER BY o_orderkey
    """,
)
def q_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic surface: interval add (month-clamped in both
    engines), last_day, day add, quarter, ISO weekday (Spark weekday()+1
    == DuckDB isodow), make_date, month differencing (explicit
    year*12+month form — Spark months_between is fractional and has no
    DuckDB equivalent)."""
    orders = load_table(spark, sf_dir, "orders")
    ymd_2002 = F.lit("2002-01-01").cast("timestamp_ntz")
    return (
        orders.filter(F.col("o_orderkey") <= 300)
        .select(
            "o_orderkey",
            (F.col("o_orderdate") + F.expr("INTERVAL 3 MONTH")).alias("due_date"),
            F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
            F.date_add(F.col("o_orderdate").cast("date"), 30).alias("plus_30d"),
            F.quarter("o_orderdate").cast("bigint").alias("q"),
            (F.weekday("o_orderdate") + 1).cast("bigint").alias("iso_dow"),
            F.make_date(F.year("o_orderdate"), F.month("o_orderdate"), F.lit(1)).alias("month_start"),
            (
                (F.year(ymd_2002) - F.year("o_orderdate")) * 12
                + (F.month(ymd_2002) - F.month("o_orderdate"))
            ).cast("bigint").alias("months_to_2002"),
        )
        .orderBy("o_orderkey")
    )


@graded(
    "q_map_functions",
    oracle="""
    -- Oracle computes the same facts relationally; the Spark side routes
    -- them through MapType (map_from_entries / element_at / cardinality)
    -- to exercise the map surface without putting a map column in the
    -- hashed output.
    SELECT user_id,
           count(DISTINCT event_type)                        AS n_types,
           count(*) FILTER (WHERE event_type = 'click')      AS click_cnt,
           count(*) FILTER (WHERE event_type = 'purchase')   AS purchase_cnt
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map surface: per-user event_type→count map built with
    map_from_entries, then element_at lookups and cardinality."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    mapped = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("type_counts")
    )
    return (
        mapped.select(
            "user_id",
            F.size(F.map_keys(F.col("type_counts"))).cast("bigint").alias("n_types"),
            F.coalesce(F.element_at("type_counts", "click"), F.lit(0)).alias("click_cnt"),
            F.coalesce(F.element_at("type_counts", "purchase"), F.lit(0)).alias("purchase_cnt"),
        )
        .orderBy("user_id")
    )


@graded(
    "q_hash_functions",
    oracle="""
    SELECT doc_id,
           md5(text)      AS text_md5,
           sha256(text)   AS text_sha256
    FROM documents
    WHERE doc_id < 100
    ORDER BY doc_id
    """,
)
def q_hash_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine-comparable content hashes (md5 / sha-256 hex). The
    engine's shuffle-key hash is xxhash64 (not comparable to DuckDB —
    exercised rows-only via q_fingerprint)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.md5(F.col("text").cast("binary")).alias("text_md5"),
            F.sha2(F.col("text").cast("binary"), 256).alias("text_sha256"),
        )
        .orderBy("doc_id")
    )


@graded(
    "q_text_norm",
    oracle="""
    -- DuckDB regexp_replace needs the 'g' flag to replace all matches;
    -- Spark's replaces all by default.
    SELECT doc_id,
           length(trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) AS norm_len,
           length(text) - length(replace(text, ' ', '')) + 1               AS n_words_approx
    FROM documents
    ORDER BY doc_id
    """,
)
def q_text_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization pass (lowercase, strip non-alphanumerics, trim) —
    the canonical pre-dedup cleaner."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""))
    n_words = F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) + 1
    return docs.select(
        "doc_id",
        F.length(norm).cast("bigint").alias("norm_len"),
        n_words.cast("bigint").alias("n_words_approx"),
    ).orderBy("doc_id")


@graded(
    "q_sql_surface",
    oracle="""
    SELECT c_mktsegment,
           count(*)                  AS n_orders,
           round(sum(o_totalprice), 4) AS segment_revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """table_register + spark.sql: the engine's SQL entry point. Views
    are registered through the same loader (nanos handling included) so
    SQL users see identical schemas to DataFrame users."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_mktsegment,
               count(*)                    AS n_orders,
               round(sum(o_totalprice), 4) AS segment_revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderdate >= TIMESTAMP_NTZ '1997-01-01'
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
        """
    )


@graded(
    "q_grouping_sets",
    oracle="""
    SELECT c_mktsegment, n_name,
           CAST(grouping(c_mktsegment) AS TINYINT) AS g_seg,
           CAST(grouping(n_name) AS TINYINT)       AS g_nat,
           count(*)               AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
    ORDER BY g_seg, g_nat, c_mktsegment NULLS LAST, n_name NULLS LAST
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (segment totals, nation totals, grand
    total in one pass) through the SQL surface."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_mktsegment, n_name,
               grouping(c_mktsegment) AS g_seg,
               grouping(n_name)       AS g_nat,
               count(*)               AS n_customers
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
        ORDER BY g_seg, g_nat, c_mktsegment NULLS LAST, n_name NULLS LAST
        """
    )


@graded(
    "q_union_distinct",
    oracle="""
    SELECT nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION
      SELECT s_nationkey AS nationkey FROM supplier
    )
    ORDER BY nationkey
    """,
)
def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two keysets."""
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    sup = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.unionByName(sup).distinct().orderBy("nationkey")


@graded(
    "q_interval_join",
    oracle="""
    WITH periods AS (
      SELECT CAST(i AS INT) AS period_id,
             TIMESTAMP '2024-01-01' + to_days(CAST(i * 3 AS INT))       AS p_start,
             TIMESTAMP '2024-01-01' + to_days(CAST((i + 1) * 3 AS INT)) AS p_end
      FROM (SELECT unnest(range(0, 10)) AS i)
    )
    SELECT p.period_id,
           count(*)                         AS n_events,
           CAST(sum(floor(value)) AS BIGINT) AS floor_value
    FROM events e JOIN periods p
      ON CAST(e.ts AS TIMESTAMP) >= p.p_start AND CAST(e.ts AS TIMESTAMP) < p.p_end
    GROUP BY p.period_id
    ORDER BY p.period_id
    """,
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join in the scalable banded form: equi-join on a
    coarse day bucket (dim exploded to one row per day covered) +
    residual range predicate — never a broadcast-nested-loop over raw
    ranges. At 100 TB this is a plain hash join on the bucket key; the
    residual filter is evaluated post-match per row."""
    ev = load_table(spark, sf_dir, "events")
    periods = spark.range(10).select(
        F.col("id").cast("int").alias("period_id"),
        (F.lit("2024-01-01").cast("timestamp") + F.make_interval(days=F.col("id") * 3)).alias("p_start"),
        (F.lit("2024-01-01").cast("timestamp") + F.make_interval(days=(F.col("id") + 1) * 3)).alias("p_end"),
    )
    # Explode each period to the day buckets it covers (3 per period).
    period_days = periods.select(
        "period_id",
        "p_start",
        "p_end",
        F.explode(
            F.sequence(
                F.to_date("p_start"),
                F.date_sub(F.to_date("p_end"), 1),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day_bucket"),
    )
    ev_b = ev.withColumn("day_bucket", F.to_date("ts"))
    joined = ev_b.join(F.broadcast(period_days), "day_bucket").filter(
        (F.col("ts") >= F.col("p_start")) & (F.col("ts") < F.col("p_end"))
    )
    return (
        joined.groupBy("period_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor("value").cast("bigint")).alias("floor_value"),
        )
        .orderBy("period_id")
    )


@graded(
    "q_try_cast_qc",
    oracle="""
    SELECT p_partkey,
           try_cast(regexp_extract(p_brand, '(\\d+)', 1) AS INT) AS brand_num,
           try_cast(p_type AS INT)                               AS type_as_int,
           try_cast(CAST(p_size AS VARCHAR) AS INT)              AS size_roundtrip
    FROM part
    WHERE p_partkey <= 500
    ORDER BY p_partkey
    """,
)
def q_try_cast_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QC-tolerant casting: ANSI mode (default in Spark 4) makes CAST
    throw on garbage — try_cast is the ingest-grade form that yields
    NULL instead, letting downstream QC filters decide (the NOAA
    malformed-field pattern). type_as_int is always-garbage (NULL),
    size_roundtrip always-valid — both paths exercised."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_partkey") <= 500)
        .select(
            "p_partkey",
            F.regexp_extract(F.col("p_brand"), r"(\d+)", 1).try_cast("int").alias("brand_num"),
            F.col("p_type").try_cast("int").alias("type_as_int"),
            F.col("p_size").cast("string").try_cast("int").alias("size_roundtrip"),
        )
        .orderBy("p_partkey")
    )


@graded(
    "q_variant_json",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k,
           max(CAST(props->>'k' AS INT))  AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VariantType path (Spark 4): parse_json →
    variant_get with a typed extraction. Variant is the engine's
    schema-on-read answer for heterogeneous JSON at scale (binary
    encoded, no per-row re-parse downstream); the oracle extracts the
    same field relationally."""
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("bigint").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@graded(
    "q_sample",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE substr(md5('sample:' || CAST(o_orderkey AS VARCHAR)), 1, 4) < '1999'
    """,
)
def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% Bernoulli sample as a deterministic md5 hash gate
    (0x1999/0x10000 = 9.998% keep rate) — engine-reproducible, so it is
    oracle-paired, unlike Spark's seeded ``.sample`` whose draw depends
    on partition layout. Same gate family as queries/sampling.py.

    100 TB: scan-local predicate, zero shuffle, identical survivors on
    1 or 1000 executors, and rerun-stable after executor loss (a seeded
    RNG re-draws different rows when a lost partition recomputes)."""
    orders = load_table(spark, sf_dir, "orders")
    gate = F.substring(
        F.md5(F.concat(F.lit("sample:"), F.col("o_orderkey").cast("string"))), 1, 4
    )
    return orders.where(gate < F.lit("1999")).select("o_orderkey", "o_totalprice")


@graded("q_fingerprint")  # rows-only: xxhash64 is not comparable to DuckDB hashes
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive document fingerprint (1-perm MinHash over
    3-gram shingles, xxhash64) — stable across runs on the Spark side."""
    from noaa_etl_spark.functions.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp")).orderBy("doc_id")


@graded(
    "q_fingerprint_md5",
    oracle="""
    WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
    g AS (
      SELECT doc_id, text,
             CASE WHEN len(t) >= 3
                  THEN list_transform(t[1:len(t)-2],
                         (x, i) -> x || ' ' || t[i+1] || ' ' || t[i+2])
                  ELSE NULL END AS grams
      FROM toks
    )
    SELECT doc_id,
           CASE WHEN grams IS NOT NULL
                THEN list_min(list_transform(grams, s -> md5(s)))
                ELSE md5(text) END AS fp
    FROM g
    ORDER BY doc_id
    """,
)
def q_fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine-verifiable document fingerprint: 1-perm MinHash over
    3-gram shingles with md5 as the permutation (min hex string over the
    shingle set — order-insensitive by construction, so shuffled token
    windows with the same shingle set collide). Short docs (<3 tokens)
    fall back to a whole-text hash. The production form is
    q_fingerprint's xxhash64 (8-byte, faster, not DuckDB-comparable);
    this md5 twin exists so the ALGORITHM — shingle → hash → min — is
    oracle-graded, not just run-to-run stable.

    100 TB: per-row expression pipeline, zero shuffles; min-over-array
    is O(tokens) per doc.
    """
    from noaa_etl_spark.functions.text import ngrams, tokenize

    docs = load_table(spark, sf_dir, "documents")
    t = tokenize(F.col("text"))
    grams = ngrams(t, 3)
    fp = F.when(
        F.size(t) >= 3,
        F.array_min(F.transform(grams, lambda s: F.md5(s))),
    ).otherwise(F.md5(F.col("text")))
    return docs.select("doc_id", fp.alias("fp")).orderBy("doc_id")


@graded(
    "q_array_functions",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE doc_id < 50
    )
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(list_filter(toks, x -> length(x) > 3)) AS INT)
               AS n_long_tokens,
           len(list_filter(toks, x -> regexp_matches(x, '[0-9]'))) > 0
               AS has_digit,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
               AS total_chars,
           array_to_string(toks[1:3], '-') AS first3
    FROM t
    ORDER BY doc_id
    """,
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions (filter / exists / aggregate /
    slice) evaluated entirely in the JVM — the lambda surface that
    keeps per-element logic out of Python. DuckDB's list lambdas are
    the oracle, so the cross-engine contract covers lambda SEMANTICS
    (empty arrays, no matches, fold initial value), not just plain
    projections.

    Lambdas are single-argument or (acc, x) fold form — never bare
    arity-2 element lambdas, which Spark reinterprets as
    (element, index) (CLAUDE.md pitfall).

    100 TB: all codegen'd expressions on the scan — zero shuffles,
    zero Python; the doc_id<50 bound exists only to keep the graded
    artifact small.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = F.split("text", " ")
    return (
        docs.select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            F.size(F.filter(toks, lambda x: F.length(x) > 3)).alias("n_long_tokens"),
            F.exists(toks, lambda x: x.rlike("[0-9]")).alias("has_digit"),
            F.aggregate(
                toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
            ).alias("total_chars"),
            F.array_join(F.slice(toks, 1, 3), "-").alias("first3"),
        )
        .orderBy("doc_id")
    )


@graded(
    "q_spatial_radius_join",
    oracle="""
    WITH cust AS (
      SELECT c_custkey,
             CAST(c_custkey % 120 AS DOUBLE) - 60.0 + 0.5  AS lat,
             CAST(c_custkey % 300 AS DOUBLE) - 150.0 + 0.5 AS lon
      FROM customer
    ),
    supp AS (
      SELECT s_suppkey,
             CAST((s_suppkey * 7) % 120 AS DOUBLE) - 60.0 + 0.5   AS slat,
             CAST((s_suppkey * 13) % 300 AS DOUBLE) - 150.0 + 0.5 AS slon
      FROM supplier
    )
    SELECT c_custkey, s_suppkey,
           round(2 * 6371.0 * asin(sqrt(
             pow(sin(radians(slat - lat) / 2), 2)
             + cos(radians(lat)) * cos(radians(slat))
               * pow(sin(radians(slon - lon) / 2), 2)
           )), 6) AS dist_km
    FROM cust JOIN supp ON TRUE
    WHERE 2 * 6371.0 * asin(sqrt(
            pow(sin(radians(slat - lat) / 2), 2)
            + cos(radians(lat)) * cos(radians(slat))
              * pow(sin(radians(slon - lon) / 2), 2)
          )) <= 200.0
    """,
)
def q_spatial_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join: every (customer, supplier) site pair within
    200 km great-circle distance — the geo primitive behind
    store-catchment and nearest-facility analytics. Coordinates are
    synthesized from keys (the q_math_haversine convention), bounded to
    |lat| ≤ 59.5 by construction.

    Scale design — GRID-CELL BLOCKING, never the cross join the oracle
    replays: sites key into 2°-lat × 4°-lon cells; each probe explodes
    its 3×3 cell neighborhood and equi-joins on the cell key. The
    neighborhood is SOUND for R = 200 km at |lat| ≤ 60: Δlat ≤
    R/111 km° = 1.8° ≤ one 2° cell, Δlon ≤ R/(111·cos 60°) = 3.6° ≤
    one 4° cell. Exact haversine verification touches candidates only.

    Exactness: both engines evaluate the term-for-term identical
    haversine; membership compares the UNROUNDED bit-equal double, the
    emitted distance rounds to 6dp.
    """
    cand, dist = _spatial_candidates(spark, sf_dir)
    return cand.filter(dist <= 200.0).select(
        "c_custkey", "s_suppkey", F.round(dist, 6).alias("dist_km")
    )


def _spatial_candidates(spark: SparkSession, sf_dir: str):
    """Grid-cell-blocked (customer, supplier) candidate pairs + the
    exact haversine distance Column — shared by the radius join and the
    nearest-site query (identical soundness argument, see
    q_spatial_radius_join)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") % 120).cast("double") - 60.0 + 0.5).alias("lat"),
        ((F.col("c_custkey") % 300).cast("double") - 150.0 + 0.5).alias("lon"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (((F.col("s_suppkey") * 7) % 120).cast("double") - 60.0 + 0.5).alias("slat"),
        (((F.col("s_suppkey") * 13) % 300).cast("double") - 150.0 + 0.5).alias("slon"),
    )
    s_cells = supp.select(
        "s_suppkey",
        "slat",
        "slon",
        F.floor((F.col("slat") + 60.0) / 2).cast("int").alias("cell_lat"),
        F.floor((F.col("slon") + 150.0) / 4).cast("int").alias("cell_lon"),
    )
    offsets = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    probes = (
        cust.select(
            "c_custkey",
            "lat",
            "lon",
            F.floor((F.col("lat") + 60.0) / 2).cast("int").alias("p_lat"),
            F.floor((F.col("lon") + 150.0) / 4).cast("int").alias("p_lon"),
        )
        .withColumn("dy", F.explode(offsets))
        .withColumn("dx", F.explode(offsets))
        .select(
            "c_custkey",
            "lat",
            "lon",
            (F.col("p_lat") + F.col("dy")).alias("cell_lat"),
            (F.col("p_lon") + F.col("dx")).alias("cell_lon"),
        )
    )
    cand = probes.join(s_cells, ["cell_lat", "cell_lon"])
    hav = F.pow(F.sin(F.radians(F.col("slat") - F.col("lat")) / 2), 2) + F.cos(
        F.radians(F.col("lat"))
    ) * F.cos(F.radians(F.col("slat"))) * F.pow(
        F.sin(F.radians(F.col("slon") - F.col("lon")) / 2), 2
    )
    dist = 2 * 6371.0 * F.asin(F.sqrt(hav))
    return cand, dist


@graded(
    "q_spatial_nearest",
    oracle="""
    WITH cust AS (
      SELECT c_custkey,
             CAST(c_custkey % 120 AS DOUBLE) - 60.0 + 0.5  AS lat,
             CAST(c_custkey % 300 AS DOUBLE) - 150.0 + 0.5 AS lon
      FROM customer
    ),
    supp AS (
      SELECT s_suppkey,
             CAST((s_suppkey * 7) % 120 AS DOUBLE) - 60.0 + 0.5   AS slat,
             CAST((s_suppkey * 13) % 300 AS DOUBLE) - 150.0 + 0.5 AS slon
      FROM supplier
    ),
    within AS (
      SELECT c_custkey, s_suppkey,
             2 * 6371.0 * asin(sqrt(
               pow(sin(radians(slat - lat) / 2), 2)
               + cos(radians(lat)) * cos(radians(slat))
                 * pow(sin(radians(slon - lon) / 2), 2)
             )) AS dist
      FROM cust JOIN supp ON TRUE
    ),
    ranked AS (
      SELECT c_custkey, s_suppkey, dist,
             row_number() OVER (PARTITION BY c_custkey
                                ORDER BY dist, s_suppkey) AS rn
      FROM within WHERE dist <= 200.0
    )
    SELECT c_custkey, s_suppkey AS nearest_suppkey, round(dist, 6) AS dist_km
    FROM ranked WHERE rn = 1
    """,
)
def q_spatial_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-facility query: each customer's closest supplier within
    200 km (customers with none in range are absent) — the assignment
    step of territory planning / fulfillment routing.

    Argmin WITHOUT a window sort: min(struct(dist, s_suppkey)) over the
    cell-blocked candidates is one combinable agg per customer — struct
    ordering gives (smallest distance, then smallest key) and both
    engines compare the SAME bit-equal haversine double, so the
    tie-break is deterministic cross-engine (the oracle replays it as
    a row_number argmin over the exhaustive cross join).

    Scale: candidates come from the shared 3×3 grid-cell equi-join
    (sound for 200 km at |lat| ≤ 60 — q_spatial_radius_join); the
    argmin agg combines map-side, so per-customer state is one struct
    regardless of cell occupancy.
    """
    cand, dist = _spatial_candidates(spark, sf_dir)
    best = (
        cand.filter(dist <= 200.0)
        .select("c_custkey", dist.alias("dist"), "s_suppkey")
        .groupBy("c_custkey")
        .agg(F.min(F.struct("dist", "s_suppkey")).alias("b"))
    )
    return best.select(
        "c_custkey",
        F.col("b.s_suppkey").alias("nearest_suppkey"),
        F.round(F.col("b.dist"), 6).alias("dist_km"),
    )


@graded(
    "q_geo_cluster",
    oracle="""
    WITH RECURSIVE sites AS (
      SELECT c_custkey,
             CAST(floor((CAST(c_custkey % 120 AS DOUBLE) - 60.0 + 0.5 + 60.0) / 2)
                  AS BIGINT) AS cell_lat,
             CAST(floor((CAST(c_custkey % 300 AS DOUBLE) - 150.0 + 0.5 + 150.0) / 4)
                  AS BIGINT) AS cell_lon
      FROM customer
    ),
    cells AS (
      SELECT cell_lat, cell_lon,
             cell_lat * 1000 + cell_lon AS cid,
             CAST(count(*) AS BIGINT) AS n_points
      FROM sites GROUP BY 1, 2
    ),
    dense AS (SELECT * FROM cells WHERE n_points >= 3),
    adj AS (
      SELECT a.cid AS u, b.cid AS v
      FROM dense a JOIN dense b
        ON a.cid < b.cid
       AND abs(a.cell_lat - b.cell_lat) <= 1
       AND abs(a.cell_lon - b.cell_lon) <= 1
    ),
    edges AS (SELECT u, v FROM adj UNION SELECT v AS u, u AS v FROM adj),
    reach AS (
      SELECT cid AS node, cid AS lab FROM dense
      UNION
      SELECT e.v AS node, r.lab FROM reach r JOIN edges e ON e.u = r.node
    ),
    labels AS (SELECT node, min(lab) AS rep FROM reach GROUP BY node)
    SELECT l.rep // 1000 AS rep_cell_lat,
           l.rep % 1000  AS rep_cell_lon,
           CAST(count(*) AS BIGINT)        AS n_cells,
           CAST(sum(d.n_points) AS BIGINT) AS n_points
    FROM labels l JOIN dense d ON d.cid = l.node
    GROUP BY l.rep
    """,
)
def q_geo_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density spatial clustering (DBSCAN-lite) of customer sites:
    bucket points into the shared 2°×4° grid, keep DENSE cells
    (≥ 3 points), and merge 8-neighborhood-adjacent dense cells into
    clusters via connected components — the scalable two-level density
    clustering every geo stack runs (cell-grid density first, exact
    point-level DBSCAN only inside clusters if ever needed). One output
    row per cluster: representative cell (min cell id — replayed
    identically by both engines, so the grade never sees CC's internal
    labels), cell count, point count.

    Scale: point→cell is scan-local; per-cell counts are one combinable
    agg over the BOUNDED cell universe (60×75 here — grid size is a
    resolution choice, not a data volume); adjacency is a self-join of
    the dense-cell relation with a ±1 band predicate over that bounded
    universe; CC is O(log diameter) pointer jumping on cell ids. The
    raw-point relation is touched exactly ONCE.

    Exactness: integer cell arithmetic end-to-end; cluster membership
    is exact CC; no doubles anywhere.
    """
    from noaa_etl_spark.operators.graph import connected_components

    cust = load_table(spark, sf_dir, "customer")
    sites = cust.select(
        F.floor(((F.col("c_custkey") % 120).cast("double") - 60.0 + 0.5 + 60.0) / 2)
        .cast("bigint")
        .alias("cell_lat"),
        F.floor(((F.col("c_custkey") % 300).cast("double") - 150.0 + 0.5 + 150.0) / 4)
        .cast("bigint")
        .alias("cell_lon"),
    )
    cells = (
        sites.groupBy("cell_lat", "cell_lon")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
        .withColumn("cid", F.col("cell_lat") * 1000 + F.col("cell_lon"))
    )
    dense = cells.filter(F.col("n_points") >= 3).localCheckpoint(eager=True)
    a = dense.select(
        F.col("cid").alias("u"),
        F.col("cell_lat").alias("alat"),
        F.col("cell_lon").alias("alon"),
    )
    b = dense.select(
        F.col("cid").alias("v"),
        F.col("cell_lat").alias("blat"),
        F.col("cell_lon").alias("blon"),
    )
    adj = a.crossJoin(F.broadcast(b)).filter(
        (F.col("u") < F.col("v"))
        & (F.abs(F.col("alat") - F.col("blat")) <= 1)
        & (F.abs(F.col("alon") - F.col("blon")) <= 1)
    ).select("u", "v")
    # The node universe is the 60x75 GRID (a resolution constant, never
    # data volume), far below connected_components' local edge cap ->
    # driver-side union-find, identical labels (r15 opt: the distributed
    # loop spent ~7 s of round scheduling on a <=4.5k-node graph).
    labels = connected_components(adj, src="u", dst="v")
    # labels ≤ |dense cells| — bounded by the grid universe, always
    # broadcastable (checkpoint scans carry no stats, so left alone the
    # planner falls back to a sort-merge join here).
    lab = dense.join(F.broadcast(labels), dense["cid"] == labels["node"], "left").select(
        "cid",
        "n_points",
        F.coalesce(F.col("component"), F.col("cid")).alias("rep"),
    )
    return lab.groupBy("rep").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("n_points").cast("bigint").alias("n_points"),
    ).select(
        F.expr("rep div 1000").alias("rep_cell_lat"),
        F.pmod(F.col("rep"), F.lit(1000)).cast("bigint").alias("rep_cell_lon"),
        "n_cells",
        "n_points",
    )


ACTIVITY_BITMASK_ORACLE = """
    WITH e AS (
      SELECT user_id,
             CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT)
                 AS day
      FROM events WHERE user_id IS NOT NULL
    ),
    base AS (SELECT min(day) AS dmin FROM e),
    offs AS (
      SELECT user_id, day - dmin AS off FROM e, base WHERE day - dmin < 63
    ),
    m AS (
      SELECT user_id,
             CAST(bit_or(CAST(1 AS BIGINT) << off) AS BIGINT) AS mask
      FROM offs GROUP BY user_id
    )
    SELECT user_id, mask,
           CAST(bit_count(mask) AS INT)        AS n_active_days,
           (mask & 127) <> 0                   AS active_week1,
           CAST(mask & (mask >> 1) AS BIGINT)  AS consec_pairs
    FROM m
    """


@graded("q_activity_bitmask", oracle=ACTIVITY_BITMASK_ORACLE)
def q_activity_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity BITMASK over a 63-day window — the
    roaring-bitmap-lite retention representation: one BIGINT per user
    where bit i = active on day i, built with a single bit_or
    aggregate. Day-level retention questions (active days, first-week
    activity, consecutive-day pairs via mask & mask>>1) become pure
    BITWISE arithmetic on the 8-byte mask — no re-scan, no join, no
    array state; masks from different loads merge with OR (the
    mergeable-state family, bit edition).

    Exactness: all integer bit ops; offsets beyond bit 62 are excluded
    by rule (both engines) to stay in non-negative BIGINT.

    Scale: ONE map-side-combinable agg on user_id (the per-group state
    is 8 bytes regardless of activity); the 1-row day base broadcasts."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    day = F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).cast("bigint")
    e = ev.select("user_id", day.alias("day"))
    base = e.agg(F.min("day").alias("dmin"))
    offs = (
        e.crossJoin(F.broadcast(base))
        .select("user_id", (F.col("day") - F.col("dmin")).alias("off"))
        .filter(F.col("off") < 63)
    )
    m = offs.groupBy("user_id").agg(
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), off)"))
        .cast("bigint")
        .alias("mask")
    )
    return m.select(
        "user_id",
        "mask",
        F.bit_count("mask").cast("int").alias("n_active_days"),
        (F.col("mask").bitwiseAND(F.lit(127)) != 0).alias("active_week1"),
        F.col("mask")
        .bitwiseAND(F.expr("shiftright(mask, 1)"))
        .cast("bigint")
        .alias("consec_pairs"),
    )


@graded(
    "q_sql_pipe_syntax",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS floor_total
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe-operator surface (Spark 4.0+ `|>` syntax, the
    GoogleSQL-pipe style): the same relational program expressed as a
    linear pipeline — FROM |> WHERE |> AGGREGATE |> ORDER BY — which is
    how exploratory 100 TB SQL increasingly gets written (each stage
    appended without re-nesting the query). Semantically identical to
    the classic form (the oracle IS the classic form); Catalyst plans
    both to the same pushdown + partial-agg shape, so the pipe surface
    costs nothing.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "pipe_orders_v"
    )
    return spark.sql(
        """
        FROM pipe_orders_v
        |> WHERE o_orderstatus = 'F'
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n_orders,
                     CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
                         AS floor_total
           GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority
        """
    )


# --- geohash encode (round 11) ---

GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_sql(lonq: str, latq: str, div: str) -> tuple[str, str]:
    """Build (morton_expr, geohash_expr) as pure integer arithmetic from
    quantized 15-bit lon/lat expressions. `div` is the engine's integer
    division operator ('div' for Spark SQL, '//' for DuckDB) — the only
    dialect difference; everything else is identical arithmetic, so the
    two engines compute the hash bit-for-bit the same way."""
    terms = []
    for j in range(15):
        terms.append(f"((({lonq}) {div} {1 << j}) % 2) * {1 << (2 * j + 1)}")
        terms.append(f"((({latq}) {div} {1 << j}) % 2) * {1 << (2 * j)}")
    morton = " + ".join(terms)
    chars = [
        f"substring('{GEOHASH_B32}', CAST(((morton {div} {1 << (25 - 5 * t)}) % 32)"
        f" + 1 AS INT), 1)"
        for t in range(6)
    ]
    return morton, " || ".join(chars)


_GH_LATQ = "(((2 * (c_custkey % 120) + 61) * 4096) {div} 45)"
_GH_LONQ = "(((2 * (c_custkey % 300) + 61) * 2048) {div} 45)"


def _geohash_oracle_clean() -> str:
    morton, gh = _geohash_sql("lonq", "latq", "//")
    latq = _GH_LATQ.format(div="//")
    lonq = _GH_LONQ.format(div="//")
    return f"""
    WITH q AS (
      SELECT c_custkey,
             CAST({latq} AS BIGINT) AS latq,
             CAST({lonq} AS BIGINT) AS lonq
      FROM customer
    ),
    m AS (
      SELECT c_custkey, latq, lonq, CAST({morton} AS BIGINT) AS morton
      FROM q
    )
    SELECT c_custkey, latq, lonq, morton, {gh} AS geohash FROM m
    """


@graded("q_geohash_encode", oracle=_geohash_oracle_clean())
def q_geohash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash-6 encoding of every customer site (coordinates from the
    spatial family's custkey-residue convention) — the interleaved-bit
    spatial KEY that gives prefix-truncation cell hierarchies: GROUP BY
    substring(geohash, 1, k) is the multi-resolution rollup, and equal
    prefixes are adjacency candidates (the geo_cluster / radius-join
    blocking key expressed as a portable string).

    ALL-INTEGER rendering — no floats anywhere: the half-degree lattice
    makes the standard quantization latq = ⌊(lat+90)/180·2^15⌋ an exact
    integer division ((2k+61)·4096 div 45); the 30-bit Morton interleave
    and the base-32 digits are pure div/mod arithmetic, generated once
    and shared verbatim by both engines (only the integer-div token
    differs: Spark `div`, DuckDB `//`). Verified bit-for-bit against a
    classic bisection geohash encoder in tests.

    Scale: scan-local projection — zero exchanges, zero UDFs; at 100 TB
    this is a free column riding any existing pass (the observe()
    argument), and downstream cell joins are equi-joins on a string
    prefix."""
    latq_s = _GH_LATQ.format(div="div")
    lonq_s = _GH_LONQ.format(div="div")
    morton, gh = _geohash_sql("lonq", "latq", "div")
    cust = load_table(spark, sf_dir, "customer")
    q = cust.select(
        "c_custkey",
        F.expr(f"CAST({latq_s} AS BIGINT)").alias("latq"),
        F.expr(f"CAST({lonq_s} AS BIGINT)").alias("lonq"),
    )
    m = q.select(
        "c_custkey", "latq", "lonq", F.expr(f"CAST({morton} AS BIGINT)").alias("morton")
    )
    return m.select("c_custkey", "latq", "lonq", "morton", F.expr(gh).alias("geohash"))


def _hilbert_rounds(div: str) -> list[tuple[str, str, str]]:
    """Unrolled Hilbert xy→d rounds (order 8, 256×256 grid) as pure
    integer SQL: per round (d_expr, x_expr, y_expr) in terms of the
    PREVIOUS round's column names x{i}/y{i}/d{i}. Shared verbatim by
    both engines — only the integer-div token differs (Spark `div`,
    DuckDB `//`). The XOR in the canonical quadrant code collapses to
    arithmetic on {0,1} bits: (3·rx) ^ ry = 3·rx + ry − 2·rx·ry."""
    rounds = []
    px, py, pd = "x0", "y0", "CAST(0 AS BIGINT)"
    for i, s in enumerate([128, 64, 32, 16, 8, 4, 2, 1]):
        rx = f"((({px}) {div} {s}) % 2)"
        ry = f"((({py}) {div} {s}) % 2)"
        d_expr = f"({pd}) + {s * s} * (3 * {rx} + {ry} - 2 * {rx} * {ry})"
        x_expr = (
            f"CASE WHEN {ry} = 1 THEN ({px}) "
            f"WHEN {rx} = 1 THEN 255 - ({py}) ELSE ({py}) END"
        )
        y_expr = (
            f"CASE WHEN {ry} = 1 THEN ({py}) "
            f"WHEN {rx} = 1 THEN 255 - ({px}) ELSE ({px}) END"
        )
        rounds.append((d_expr, x_expr, y_expr))
        px, py, pd = f"x{i + 1}", f"y{i + 1}", f"d{i + 1}"
    return rounds


_HILBERT_X0 = "CAST(c_custkey % 256 AS BIGINT)"
_HILBERT_Y0 = "CAST((c_custkey * 7919) % 256 AS BIGINT)"


def _hilbert_oracle() -> str:
    rounds = _hilbert_rounds("//")
    ctes = [
        f"q AS (SELECT c_custkey, {_HILBERT_X0} AS x0, {_HILBERT_Y0} AS y0"
        " FROM customer)"
    ]
    prev = "q"
    for i, (d_expr, x_expr, y_expr) in enumerate(rounds):
        cur = f"h{i + 1}"
        ctes.append(
            f"{cur} AS (SELECT c_custkey, x0, y0, {d_expr} AS d{i + 1}, "
            f"{x_expr} AS x{i + 1}, {y_expr} AS y{i + 1} FROM {prev})"
        )
        prev = cur
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT c_custkey, x0 AS x, y0 AS y, CAST(d8 AS BIGINT) AS h"
        f" FROM {prev}"
    )


@graded("q_hilbert_order", oracle=_hilbert_oracle())
def q_hilbert_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout index (order 8, 256×256 grid) over the
    customer lattice — the data-layout key that BEATS Morton/z-order
    for multi-dimensional skipping: consecutive Hilbert indexes are
    always grid-NEIGHBORS (no z-order diagonal jumps), so
    repartitionByRange(h) + per-file min/max stats gives tighter
    2-D range pruning (the zorder_bench/stats_skipping story's next
    gear). x = custkey % 256, y = custkey·7919 % 256 (deterministic
    scatter).

    The canonical iterative xy→d walk (8 rounds of quadrant
    classification + rotate/flip) is UNROLLED into a fixed integer
    expression chain generated ONCE and shared verbatim by both
    engines (_hilbert_rounds; the geohash doctrine — only the int-div
    token differs). Verified against a classic Python Hilbert encoder
    + the adjacency theorem in tests.

    Scale: scan-local projection — zero exchanges, zero UDFs; the
    index is a free column riding any pass, and the layout write is
    one repartitionByRange on it."""
    cust = load_table(spark, sf_dir, "customer")
    df = cust.select(
        "c_custkey",
        F.expr(_HILBERT_X0).alias("x0"),
        F.expr(_HILBERT_Y0).alias("y0"),
    )
    for i, (d_expr, x_expr, y_expr) in enumerate(_hilbert_rounds("div")):
        df = df.select(
            "*",
            F.expr(d_expr).alias(f"d{i + 1}"),
            F.expr(x_expr).alias(f"x{i + 1}"),
            F.expr(y_expr).alias(f"y{i + 1}"),
        )
    return df.select(
        "c_custkey",
        F.col("x0").alias("x"),
        F.col("y0").alias("y"),
        F.expr("CAST(d8 AS BIGINT)").alias("h"),
    )
