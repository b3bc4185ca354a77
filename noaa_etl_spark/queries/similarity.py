"""Similarity-search graded queries over the embeddings table
(SURVEY.md §2.I): brute-force knn (exact oracle), LSH knn (rows-only),
semantic dedup, vector-math surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from noaa_etl_spark.functions.vectors import as_double, dot, l2_norm
from noaa_etl_spark.io import load_table
from noaa_etl_spark.operators.similarity import (
    knn_bruteforce,
    knn_bruteforce_blas,
    knn_lsh,
    semantic_dedup,
)
from noaa_etl_spark.registry import graded

# DuckDB-side cosine written as the same explicit composition the engine
# uses (inner product / (sqrt·sqrt)) over DOUBLE[], so both engines run
# identical double arithmetic in identical order.
_DUCK_COS = (
    "list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))"
    " / (sqrt(list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))"
    " * sqrt(list_inner_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))))"
)


@graded(
    "q_knn_cosine",
    oracle=f"""
    SELECT query_id, neighbor_id, cos_sim FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({_DUCK_COS}, 6) AS cos_sim,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round({_DUCK_COS}, 6) DESC, c.vec_id
             ) AS rn
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 100
    ) t
    WHERE rn <= 5
    ORDER BY query_id, cos_sim DESC, neighbor_id
    """,
)
def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for the first 100 vectors.

    Served by the blocked-BLAS form (broadcast query matrix + one
    matmul per Arrow batch + per-batch top-k): ~4x faster than the
    expression-tree brute force at sf0.1 and bit-identical at the
    rounded output contract (equality asserted in tests; the all-JVM
    knn_bruteforce remains the reference implementation)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 100)
    return knn_bruteforce_blas(queries, emb, k=5).orderBy(
        "query_id", F.desc("cos_sim"), F.asc("neighbor_id")
    )


@graded(
    "q_mutual_knn",
    oracle=f"""
    WITH a AS (SELECT * FROM embeddings
               WHERE substr(md5('mk:' || CAST(vec_id AS VARCHAR)), 1, 1) < '4'),
    b AS (SELECT * FROM embeddings
          WHERE substr(md5('mk:' || CAST(vec_id AS VARCHAR)), 1, 1) >= 'c'),
    ab AS (
      SELECT query_id, neighbor_id, cos_sim FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round({_DUCK_COS}, 6) AS cos_sim,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round({_DUCK_COS}, 6) DESC, c.vec_id
               ) AS rn
        FROM a q JOIN b c ON TRUE
      ) WHERE rn = 1
    ),
    ba AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round({_DUCK_COS}, 6) DESC, c.vec_id
               ) AS rn
        FROM b q JOIN a c ON TRUE
      ) WHERE rn = 1
    )
    SELECT ab.query_id AS a_id, ab.neighbor_id AS b_id, ab.cos_sim
    FROM ab JOIN ba ON ab.query_id = ba.neighbor_id
                   AND ab.neighbor_id = ba.query_id
    """,
)
def q_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal best match (mutual 1-NN) between two embedding sets —
    the cross-corpus ALIGNMENT operator (bitext mining, entity
    alignment, near-dup pairing across crawls): an (a, b) pair survives
    only if b is a's top cosine neighbor AND a is b's. Mutuality is the
    classic precision filter — one-directional best matches include
    every hub vector's fan-in; reciprocity keeps only stable pairs.

    Both directions ride knn_bruteforce_blas (k=1): broadcast query
    matrix, one BLAS matmul per corpus batch, per-batch top-k, rounded
    output contract — so ties and float accumulation match the oracle's
    quadratic replay exactly (the q_knn_cosine precedent). The two
    directions' results join on the pair — ≤ |A| + |B| rows, trivially
    co-partitioned.

    Scale: this exact form collects one side per direction (bounded by
    the same contract as q_knn_cosine's query set). At corpus scale run
    ann_index (IVF) in each direction and keep the same mutuality join —
    the reciprocity filter is index-agnostic.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    gate = F.substring(
        F.md5(F.concat(F.lit("mk:"), F.col("vec_id").cast("string"))), 1, 1
    )
    a = emb.filter(gate < "4")
    b = emb.filter(gate >= "c")
    ab = knn_bruteforce_blas(a, b, k=1).select(
        F.col("query_id").alias("a_id"),
        F.col("neighbor_id").alias("b_id"),
        "cos_sim",
    )
    ba = knn_bruteforce_blas(b, a, k=1).select(
        F.col("query_id").alias("r_b_id"), F.col("neighbor_id").alias("r_a_id")
    )
    return ab.join(
        ba,
        (F.col("a_id") == F.col("r_a_id")) & (F.col("b_id") == F.col("r_b_id")),
    ).select("a_id", "b_id", "cos_sim")


@graded("q_knn_lsh")  # rows-only: approximate (banded SRP-LSH) result set
def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate knn via signed-random-projection LSH. Recall vs the
    brute-force baseline is asserted in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 100)
    return knn_lsh(queries, emb, k=5, dim=64, num_planes=16, bands=4).orderBy(
        "query_id", F.desc("cos_sim"), F.asc("neighbor_id")
    )


@graded(
    "q_semantic_dedup",
    oracle=f"""
    SELECT DISTINCT c.vec_id AS dropped_id
    FROM embeddings q JOIN embeddings c ON q.vec_id < c.vec_id
    WHERE {_DUCK_COS} >= 0.4
    ORDER BY dropped_id
    """,
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space dedup: drop every vector with a ≥0.4-cosine
    neighbor of smaller id (keep-first semantics). Threshold chosen so
    the result is non-trivial on the fixture embeddings (~10% dropped
    at sf0.01 — the fixtures have no true near-duplicate pairs at
    conventional 0.9+ thresholds).

    Scale: this exact form is the oracle-checkable one and is HARD-CAPPED
    (operators/similarity.py BRUTE_FORCE_PAIR_CAP) — above the cap it
    raises rather than launching an O(N²) theta join; corpus-scale dedup
    goes through the LSH branch (use_lsh=True, recall-tested in
    tests/test_algorithms.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.4).orderBy("dropped_id")


@graded(
    "q_vector_stats",
    oracle="""
    SELECT vec_id, label,
           round(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))), 6) AS l2_norm,
           round(list_aggregate(CAST(embedding AS DOUBLE[]), 'sum'), 6)    AS comp_sum,
           CAST(len(embedding) AS INT)                                     AS dim
    FROM embeddings
    ORDER BY vec_id
    """,
)
def q_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-lambda surface: per-vector norm / component sum / dimension."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    return emb.select(
        "vec_id",
        "label",
        F.round(l2_norm(v), 6).alias("l2_norm"),
        F.round(
            F.aggregate(as_double(v), F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("comp_sum"),
        F.size(v).alias("dim"),
    ).orderBy("vec_id")


@graded(
    "q_centroid_by_label",
    oracle="""
    WITH comps AS (
      SELECT label, i, avg(v) AS c
      FROM (
        SELECT label,
               unnest(CAST(embedding AS DOUBLE[])) AS v,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings
      )
      GROUP BY label, i
    )
    SELECT label,
           round(sqrt(sum(c * c)), 6) AS centroid_norm,
           CAST(count(*) AS INT)      AS dim
    FROM comps
    GROUP BY label
    ORDER BY label
    """,
)
def q_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster centroid norm: posexplode → per-component avg →
    re-aggregate. The unnest/posexplode + component-index groupBy is the
    scalable distributed form of vector averaging (no driver collect).

    Note: sum(c*c) over components must accumulate in a deterministic
    order for bit-exactness; component index is the group key and both
    engines reduce per-group sequentially at this cardinality (64 rows
    per label) — verified stable vs oracle.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comps = (
        emb.select("label", F.posexplode(as_double(F.col("embedding"))).alias("i0", "v"))
        .select("label", (F.col("i0") + 1).alias("i"), "v")
        .groupBy("label", "i")
        .agg(F.avg("v").alias("c"))
    )
    return (
        comps.groupBy("label")
        .agg(
            F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias("centroid_norm"),
            F.count(F.lit(1)).cast("int").alias("dim"),
        )
        .orderBy("label")
    )


@graded("q_semantic_dedup_lsh")  # rows-only: approximate (SRP-LSH) result set
def q_semantic_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale branch of semantic dedup: SRP-LSH candidate
    pairs threshold-filtered directly (no top-k ranking window anywhere
    in the plan — asserted in tests/test_plans.py). This is the form a
    100 TB corpus runs; the brute-force q_semantic_dedup is the
    oracle-checkable twin, and the LSH branch's recall against it is
    measured across controlled-similarity pairs in
    tests/test_algorithms.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.4, use_lsh=True)


@graded("q_knn_ivf")  # rows-only: approximate (k-means IVF) result set
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate knn via an IVF index (spherical k-means cells,
    n_probe nearest cells per query). Recall vs brute force asserted in
    tests/test_algorithms.py; recall/latency vs SRP-LSH in SCALING.md."""
    from noaa_etl_spark.operators.similarity import knn_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 100)
    return knn_ivf(queries, emb, k=5, n_cells=16, n_probe=4).orderBy(
        "query_id", F.desc("cos_sim"), F.asc("neighbor_id")
    )


@graded(
    "q_quantize_int8",
    oracle="""
    WITH scaled AS (
      SELECT vec_id,
             CAST(len(embedding) AS INT) AS dim,
             greatest(CAST(list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) AS DOUBLE), 1e-12) AS scale,
             embedding
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, dim, scale,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5) AS INT)) AS qv
      FROM scaled
    )
    SELECT vec_id, dim,
           round(scale, 6)                  AS scale_r,
           CAST(list_sum(qv) AS BIGINT)     AS q_sum,
           CAST(list_sum(list_transform(qv, v -> abs(v))) AS BIGINT) AS q_l1
    FROM q
    """,
)
def q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization: per-vector absolute-max
    scale, elements mapped to round(x * 127 / scale) — the storage/
    bandwidth form ANN indexes ship at corpus scale (4x smaller than
    f32, dot products in integer SIMD). Output verifies the quantized
    vectors via exact integer aggregates (sum and L1 mass) plus the
    per-vector scale.

    Rounding is written as ``floor(v + 0.5)`` on BOTH sides because the
    engines' ``round()`` conventions are not contractually identical;
    floor is. All element math is pure per-row double arithmetic in
    identical op order, so the integer outputs match exactly — no
    accumulation-order hazard (integer sums are exact).

    100 TB: narrow-only plan, zero shuffles; quantization is the
    map-side stage in front of an ANN index build, and the int8 vectors
    cut the index's shuffle bytes 4x (the real win at cluster scale).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    xd = F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    scaled = emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.greatest(F.array_max(xd).cast("double"), F.lit(1e-12)).alias("scale"),
        "embedding",
    )
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 127.0 / F.col("scale") + 0.5).cast("int"),
    )
    q = scaled.select("vec_id", "dim", "scale", qv.alias("qv"))
    return q.select(
        "vec_id",
        "dim",
        F.round(F.col("scale"), 6).alias("scale_r"),
        F.aggregate("qv", F.lit(0).cast("bigint"), lambda acc, v: acc + v).alias("q_sum"),
        F.aggregate(
            "qv", F.lit(0).cast("bigint"), lambda acc, v: acc + F.abs(v)
        ).alias("q_l1"),
    )


@graded("q_cluster_corpus")  # rows-only: k-means cells are engine-specific
def q_cluster_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus clustering report — per-cluster size, majority label, and
    purity over the embedding corpus (spherical k-means, 8 cells). The
    corpus-analysis step (topic balance, cluster-stratified sampling)
    a training pipeline runs before fixing its data mix.

    Shares the IVF machinery: driver-side sample-trained seeded
    centroids, one Arrow matmul per batch for assignment (no shuffle,
    no window, no row inflation); only the (cell × label) counts
    shuffle. Contract + determinism + cluster-recovery asserted in
    tests/test_algorithms.py."""
    from noaa_etl_spark.operators.similarity import cluster_report

    emb = load_table(spark, sf_dir, "embeddings")
    return cluster_report(emb, n_cells=8)


@graded("q_ann_index_update")  # rows-only: centroids are engine-trained
def q_ann_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF maintenance report: train the index on the ~60%
    md5-gated split of the embedding corpus, take the distance baseline
    from a ~20% CALIBRATION split (out-of-sample — in-sample training
    distances are biased low, so a training-data baseline reads every
    future batch as "elevated": the generalization gap, not drift),
    then absorb the remaining ~20% as an arriving batch against the
    FROZEN centroids and report per-cell (n_base, n_new, mean
    assignment distances, drift verdict). This is the index-operations
    view a serving pipeline watches — the retrain trigger is rising
    assignment distance, not a wall clock.

    100 TB: batch absorption is scan-local (one Arrow matmul per batch
    against the tiny frozen centroid matrix, zero shuffle); the report
    is |cells| rows; the existing index rows never move. Determinism,
    the calibration-baseline rationale, and the
    drift-fires-on-shifted-data property are tested in
    tests/test_algorithms.py.
    """
    from noaa_etl_spark.operators.ann_maintenance import (
        assign_with_distance,
        cell_stats,
        drift_report,
    )
    from noaa_etl_spark.operators.similarity import _train_ivf_cells

    emb = load_table(spark, sf_dir, "embeddings")
    gate = F.substring(
        F.md5(F.concat(F.lit("ann_update:"), F.col("vec_id").cast("string"))), 1, 2
    )
    train = emb.filter(gate < "99")                      # ~60%
    calib = emb.filter((gate >= "99") & (gate < "cc"))   # ~20%
    arriving = emb.filter(gate >= "cc")                  # ~20%
    cents = _train_ivf_cells(train, n_cells=8)
    base_stats = cell_stats(assign_with_distance(calib, cents))
    new_assigned = assign_with_distance(arriving, cents)
    return drift_report(base_stats, new_assigned).orderBy("cell_id")


def _rrf_oracle() -> str:
    """Compose the RRF oracle from the BM25 CTE constants (deferred
    import keeps module import order free of query-module coupling)."""
    from noaa_etl_spark.queries.text import (
        BM25_ORACLE_CTES,
        BM25_ORACLE_MATCHED,
        BM25_ORACLE_SCORE,
    )

    return f"""
    WITH {BM25_ORACLE_CTES},
    bm AS (
      SELECT doc_id, {BM25_ORACLE_SCORE} AS score
      FROM per_doc CROSS JOIN stats
      WHERE {BM25_ORACLE_MATCHED}
    ),
    bm_top AS (
      SELECT doc_id, bm25_rank FROM (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS bm25_rank
        FROM bm
      ) WHERE bm25_rank <= 50
    ),
    cosd AS (
      SELECT c.vec_id AS doc_id, round({_DUCK_COS}, 6) AS cos_sim
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id = 0
    ),
    cos_top AS (
      SELECT doc_id, cos_rank FROM (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS INT) AS cos_rank
        FROM cosd
      ) WHERE cos_rank <= 50
    ),
    fused AS (
      SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
             b.bm25_rank, c.cos_rank,
             coalesce(CAST(1.0 AS DOUBLE) / (60 + b.bm25_rank), CAST(0.0 AS DOUBLE))
           + coalesce(CAST(1.0 AS DOUBLE) / (60 + c.cos_rank), CAST(0.0 AS DOUBLE)) AS rrf_score
      FROM bm_top b FULL OUTER JOIN cos_top c ON b.doc_id = c.doc_id
    )
    SELECT doc_id, bm25_rank, cos_rank, rrf_score,
           CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT) AS fused_rank
    FROM fused
    """


@graded("q_rrf_fusion", oracle=_rrf_oracle())
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by Reciprocal Rank Fusion (Cormack, Clarke &
    Buettcher, SIGIR'09): fuse a LEXICAL ranking (BM25 over the fixed
    query-term set — q_bm25_rank's scorer, reused verbatim) with a
    SEMANTIC ranking (cosine similarity to document 0's embedding —
    vec_id aligns 1:1 with doc_id in the fixture) via

        rrf(d) = Σ_lists 1 / (60 + rank_list(d))

    over the top-50 of each list (k=60 is the paper's constant; absent
    docs contribute 0 — the standard treatment). This is the
    first-stage retrieval fusion every RAG / search stack runs where
    BM25 and an embedding index disagree.

    Exactness: each RRF term is ONE IEEE double division of integers
    and the fusion is a fixed two-term sum — bit-identical cross-engine
    (no accumulation-order sensitivity; ranks are integers with
    deterministic (score DESC, doc_id) tie-breaks; BM25 score at the
    9-decimal ln() contract, cosine at knn's 6-decimal contract).

    Scale design: each ranker reduces to its top-50 via orderBy+limit —
    TakeOrderedAndProject per-partition heaps, NO global sort shuffle —
    and ranks are then assigned by a window over the 50-row frame (a
    single-partition window over ≤50 rows, not over the corpus). The
    fusion join touches ≤100 rows. At 100 TB: two corpus scans (BM25's
    zero-shuffle scan + the broadcast-query cosine scan), two 50-row
    heaps, and driver-scale fusion.
    """
    from noaa_etl_spark.queries.text import bm25_matched
    from pyspark.sql import Window

    K = 50
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    bm_top = (
        bm25_matched(docs)
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(K)
    )
    w_bm = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    bm_rank = bm_top.select(
        "doc_id", F.row_number().over(w_bm).cast("int").alias("bm25_rank")
    )

    cos_top = (
        knn_bruteforce(emb.filter(F.col("vec_id") == 0), emb, k=K)
        .select(F.col("neighbor_id").alias("doc_id"), "cos_sim")
    )
    w_cos = Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"))
    cos_rank = cos_top.select(
        "doc_id", F.row_number().over(w_cos).cast("int").alias("cos_rank")
    )

    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(60) + F.col("bm25_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("cos_rank")), F.lit(0.0))
    fused = (
        bm_rank.join(cos_rank, "doc_id", "full_outer")
        .select("doc_id", "bm25_rank", "cos_rank", rrf.alias("rrf_score"))
    )
    w_f = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return fused.select(
        "doc_id",
        "bm25_rank",
        "cos_rank",
        "rrf_score",
        F.row_number().over(w_f).cast("int").alias("fused_rank"),
    )


def _rbo_oracle() -> str:
    """RBO oracle over the same two rankers as RRF, truncated depth 20,
    persistence p = 1/2 (dyadic weights ⇒ exact powers)."""
    from noaa_etl_spark.queries.text import (
        BM25_ORACLE_CTES,
        BM25_ORACLE_MATCHED,
        BM25_ORACLE_SCORE,
    )

    return f"""
    WITH {BM25_ORACLE_CTES},
    bm AS (
      SELECT doc_id, {BM25_ORACLE_SCORE} AS score
      FROM per_doc CROSS JOIN stats
      WHERE {BM25_ORACLE_MATCHED}
    ),
    bm_top AS (
      SELECT doc_id, bm25_rank FROM (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS bm25_rank
        FROM bm
      ) WHERE bm25_rank <= 20
    ),
    cosd AS (
      SELECT c.vec_id AS doc_id, round({_DUCK_COS}, 6) AS cos_sim
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id = 0
    ),
    cos_top AS (
      SELECT doc_id, cos_rank FROM (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS INT) AS cos_rank
        FROM cosd
      ) WHERE cos_rank <= 20
    ),
    common AS (
      SELECT b.doc_id, greatest(b.bm25_rank, c.cos_rank) AS m
      FROM bm_top b JOIN cos_top c ON b.doc_id = c.doc_id
    ),
    depths AS (SELECT CAST(unnest(range(1, 21)) AS INT) AS d),
    xd AS (
      SELECT d, CAST(count(m) AS BIGINT) AS x
      FROM depths LEFT JOIN common ON m <= d GROUP BY d
    )
    SELECT CAST(20 AS INT) AS depth,
           CAST(0.5 AS DOUBLE) AS p,
           sum(CAST(0.5 AS DOUBLE) * pow(CAST(0.5 AS DOUBLE), d - 1) * x / d
               ORDER BY d) AS rbo,
           CAST(max(CASE WHEN d = 20 THEN x END) AS BIGINT) AS overlap_at_k
    FROM xd
    """


@graded("q_rbo_rank_similarity", oracle=_rbo_oracle())
def q_rbo_rank_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-Biased Overlap (Webber et al., TOIS'10) between the lexical
    (BM25) and semantic (cosine) rankings at depth 20, persistence
    p = ½ — the ranking-agreement metric a retrieval stack monitors to
    detect index drift (RRF asks 'how do I combine them'; RBO asks
    'how much do they still agree').

    RBO@k = Σ_{{d=1..k}} (1−p)·p^(d−1)·|A₁..d ∩ B₁..d|/d. A common doc
    with ranks (rₐ, r_b) enters the overlap at depth max(rₐ, r_b), so
    X_d = #{{m ≤ d}} — computed by a 20-row depth spine left-joined to
    the ≤20-row common set (never a per-depth rescan).

    Exactness: p = ½ makes every p^(d−1) an exact dyadic; X_d integers;
    the 20 terms are summed in ASCENDING d order in both engines
    (Spark: fold over the d-sorted array — the trimmed-mean
    accumulation-order contract; DuckDB: sum(... ORDER BY d)) ⇒
    bit-equal.

    Scale: both rankers reduce via per-partition heaps to 20 rows; all
    RBO arithmetic happens on ≤ 40 rows.
    """
    from pyspark.sql import Window

    from noaa_etl_spark.queries.text import bm25_matched

    K = 20
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    bm_top = (
        bm25_matched(docs)
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(K)
    )
    w_bm = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    bm_rank = bm_top.select(
        "doc_id", F.row_number().over(w_bm).cast("int").alias("bm25_rank")
    )
    cos_top = knn_bruteforce(emb.filter(F.col("vec_id") == 0), emb, k=K).select(
        F.col("neighbor_id").alias("doc_id"), "cos_sim"
    )
    w_cos = Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"))
    cos_rank = cos_top.select(
        "doc_id", F.row_number().over(w_cos).cast("int").alias("cos_rank")
    )
    common = bm_rank.join(cos_rank, "doc_id").select(
        F.greatest("bm25_rank", "cos_rank").alias("m")
    )
    depths = spark.range(1, K + 1).select(F.col("id").cast("int").alias("d"))
    xd = (
        depths.join(common, common["m"] <= depths["d"], "left")
        .groupBy("d")
        .agg(F.count("m").cast("bigint").alias("x"))
    )
    term = (
        F.lit(0.5)
        * F.pow(F.lit(0.5), F.col("d") - 1)
        * F.col("x")
        / F.col("d")
    )
    folded = xd.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", term.alias("t")))),
                lambda s: s["t"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("rbo"),
        F.max(F.when(F.col("d") == K, F.col("x"))).cast("bigint").alias("overlap_at_k"),
    )
    return folded.select(
        F.lit(K).cast("int").alias("depth"),
        F.lit(0.5).alias("p"),
        "rbo",
        "overlap_at_k",
    )


@graded("q_pq_encode")  # rows-only: codebooks are sample/seed-specific
def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode of the embedding corpus (m=8
    subspaces × k=256 centroids, 8-bit codes: 64-dim float → 8 codes,
    32× memory
    compression with ADC-searchable distances) — the index-build step
    that makes billion-vector ANN fit in RAM; operators/pq.py.

    Rows-only grade (codebooks depend on the training sample + seed,
    like the IVF cells); the CONTRACTS are tested instead: codes in
    range, deterministic re-encode, reconstruction MSE beats the
    1-centroid baseline per subspace by construction, and ADC top-10
    recall vs exact brute force (tests/test_algorithms.py).

    100 TB: train on a ≤50k driver sample (the IVF adjudication),
    broadcast the (8×16×8) codebook, encode via ONE scan-local
    vectorized mapInPandas pass — no shuffle anywhere; the encoded
    table is 32× smaller than its source before it ever moves.

    Grading surface: `codes` is emitted as a comma-joined STRING, not
    array<int> — the driver's rows-only canonicalizer sorts all columns
    in pandas and ndarray cells are unhashable (r10 verdict: the one
    red driver row). The array form stays available to internal callers
    via operators/pq.pq_encode.
    """
    from noaa_etl_spark.operators.pq import pq_encode, train_pq_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(emb)
    enc = pq_encode(emb, books)
    return enc.select(
        "vec_id",
        F.array_join(F.transform("codes", lambda c: c.cast("string")), ",").alias(
            "codes"
        ),
        F.round(F.col("recon_mse"), 9).alias("recon_mse"),
    )


@graded(
    "q_semantic_decontaminate",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE substr(md5('sdc:' || CAST(vec_id AS VARCHAR)), 1, 1) = '0'
    ),
    scored AS (
      SELECT q.vec_id, c.vec_id AS bench_id,
             round({_DUCK_COS}, 6) AS cos_sim,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round({_DUCK_COS}, 6) DESC, c.vec_id
             ) AS rn
      FROM embeddings q JOIN b c ON true
    )
    SELECT vec_id, bench_id, cos_sim
    FROM scored WHERE rn = 1 AND cos_sim >= 0.95
    """,
)
def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space complement of
    q_decontaminate's exact 3-gram overlap: flag every corpus vector
    whose best cosine match against the benchmark set clears 0.95
    (paraphrased or verbatim eval leakage that n-gram matching misses).
    The benchmark here is an md5-gated 5% of the corpus itself — the
    planted-leak construction: the query must recover exactly the
    planted rows and flag nothing else (precision AND recall on the
    plant; pinned in tests).

    Engine plan is operators/similarity.best_match_against: the
    benchmark (small by contract — eval sets are thousands of rows)
    broadcasts; each corpus Arrow batch takes ONE BLAS matmul and a
    row-wise argmax — ZERO exchanges, the scan-local dual of the
    per-query knn ranker. The oracle runs the |corpus|×|bench| cross
    join the engine must avoid. Rounded-cosine tie contract matches
    the knn family (6dp, smallest bench id)."""
    from noaa_etl_spark.operators.similarity import best_match_against

    emb = load_table(spark, sf_dir, "embeddings")
    bench = emb.filter(
        F.substring(
            F.md5(F.concat(F.lit("sdc:"), F.col("vec_id").cast("string"))), 1, 1
        )
        == "0"
    )
    best = best_match_against(emb, bench, ref_id_out="bench_id")
    return best.filter(F.col("cos_sim") >= 0.95)


# --- class-conditional covariance / correlation matrix (round 11) ---

COV_DIMS = 8
_COV_Q = 1048576.0  # 2^20 quantization width
_COV_Q2 = 1099511627776.0  # 2^40 = _COV_Q^2 (back to value units^2)

COVARIANCE_ORACLE = """
    WITH q AS (
      SELECT e.label,
             CAST(i.i AS INT) AS i, CAST(j.j AS INT) AS j,
             CAST(floor(CAST(e.embedding[i.i + 1] AS DOUBLE) * 1048576.0)
                  AS BIGINT) AS qx,
             CAST(floor(CAST(e.embedding[j.j + 1] AS DOUBLE) * 1048576.0)
                  AS BIGINT) AS qy
      FROM embeddings e, generate_series(0, 7) i(i), generate_series(0, 7) j(j)
      WHERE i.i <= j.j
    ),
    m AS (
      SELECT label, i, j,
             CAST(count(*) AS BIGINT)      AS n,
             CAST(sum(qx) AS BIGINT)       AS sx,
             CAST(sum(qy) AS BIGINT)       AS sy,
             CAST(sum(qx * qy) AS BIGINT)  AS sxy,
             CAST(sum(qx * qx) AS BIGINT)  AS sxx,
             CAST(sum(qy * qy) AS BIGINT)  AS syy
      FROM q GROUP BY label, i, j
    )
    SELECT label, i, j, n, sx, sy, sxy,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1099511627776.0) AS cov,
           CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0
                  OR CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <= 0
                THEN NULL
                ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
           END AS corr
    FROM m
"""


def covariance_moments(emb: DataFrame) -> DataFrame:
    """Per-label raw moment state over the first COV_DIMS embedding
    dimensions, quantized to BIGINT at 2^20 — the MERGEABLE covariance
    state: (n, s_k, p_i_j) are pure integer sums, so per-micro-batch
    partials fold by addition to the one-pass global moments (the
    stats-merge contract extended to cross-moments), which is what lets
    the streaming twin share COVARIANCE_ORACLE verbatim.

    ONE combinable agg: every product is computed scan-local and
    partial-aggregated map-side; the exchange carries |labels| rows of
    45 BIGINT columns — never a per-pair exploded relation.

    Overflow contract (the stats-merge class): |q| ≤ 2^20, so each
    product ≤ 2^40 and a group's p_i_j ≤ n·2^40 — exact to n ≈ 8·10^6
    per label at this width; at larger group sizes shrink the
    quantization (2^10 is exact to n ≈ 8·10^12) or shard per group.
    """
    qc = [
        F.floor(F.col("embedding")[k].cast("double") * F.lit(_COV_Q))
        .cast("bigint")
        .alias(f"q{k}")
        for k in range(COV_DIMS)
    ]
    qd = emb.select("label", *qc)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    aggs += [
        F.sum(F.col(f"q{k}")).cast("bigint").alias(f"s{k}") for k in range(COV_DIMS)
    ]
    aggs += [
        F.sum(F.col(f"q{i}") * F.col(f"q{j}")).cast("bigint").alias(f"p{i}_{j}")
        for i in range(COV_DIMS)
        for j in range(i, COV_DIMS)
    ]
    return qd.groupBy("label").agg(*aggs)


def covariance_finalize(mom: DataFrame) -> DataFrame:
    """Upper-triangle (i, j) covariance/correlation report from the
    moment state — shared verbatim by the batch query and the streaming
    twin (identical folded BIGINTs ⇒ identical doubles: cov is one
    division of exact integers, corr two correctly-rounded sqrts, one
    product, one division — all IEEE-deterministic)."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("i"),
                F.lit(j).cast("int").alias("j"),
                F.col(f"s{i}").alias("sx"),
                F.col(f"s{j}").alias("sy"),
                F.col(f"p{i}_{j}").alias("sxy"),
                F.col(f"p{i}_{i}").alias("sxx"),
                F.col(f"p{j}_{j}").alias("syy"),
            )
            for i in range(COV_DIMS)
            for j in range(i, COV_DIMS)
        ]
    )
    ex = mom.select("label", "n", F.explode(pairs).alias("p")).select(
        "label",
        F.col("p.i").alias("i"),
        F.col("p.j").alias("j"),
        "n",
        F.col("p.sx").alias("sx"),
        F.col("p.sy").alias("sy"),
        F.col("p.sxy").alias("sxy"),
        F.col("p.sxx").alias("sxx"),
        F.col("p.syy").alias("syy"),
    )
    # The n·sxy / sx·sy products are computed in DOUBLE, not BIGINT:
    # the integer form overflows 2^63 once n·E[q²] approaches 2^63/n
    # (caught LIVE by the 100× probe at n = 50k/label — the binding
    # constraint is this finalize, not the moment sums). Each cast and
    # operation is IEEE-deterministic and the oracle runs the token-
    # identical chain, so the grade stays bit-equal; the moments
    # themselves stay exact BIGINTs.
    n_d = F.col("n").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    num = n_d * F.col("sxy").cast("double") - sx_d * sy_d
    vx = n_d * F.col("sxx").cast("double") - sx_d * sx_d
    vy = n_d * F.col("syy").cast("double") - sy_d * sy_d
    cov = num / (n_d * n_d * F.lit(_COV_Q2))
    corr = F.when((vx <= 0) | (vy <= 0), F.lit(None).cast("double")).otherwise(
        num / (F.sqrt(vx) * F.sqrt(vy))
    )
    return ex.select(
        "label", "i", "j", "n", "sx", "sy", "sxy", cov.alias("cov"), corr.alias("corr")
    )


@graded("q_covariance_matrix", oracle=COVARIANCE_ORACLE)
def q_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-conditional covariance + correlation matrix over the first
    8 embedding dimensions — the feature-statistics pass every
    whitening / PCA / LDA / Mahalanobis-drift stage runs before
    touching a 100 TB embedding corpus. Output is the per-label upper
    triangle (36 pairs × |labels|); the diagonal (i == j) carries the
    variances.

    EXACT-INTEGER rendering: components quantize to BIGINT at 2^20
    (the quantize_int8 floor contract), so all raw moments are exact
    integer sums in ANY accumulation order — immune to the double-sum
    ordering trap — and cov/corr are fixed IEEE expressions over exact
    integers ⇒ bit-equal cross-engine. Zero-variance dimensions grade
    NULL corr (regen-robust guard).

    Scale: ONE combinable groupBy over the scan (45 BIGINT sums,
    map-side partial agg); the pair explosion happens on the |labels|-
    row AGGREGATE, never on the data. The oracle pays the 36× row
    blow-up the engine avoids. D grows quadratically (d=64 → 2080
    sums): past codegen comfort (~d 100+) switch to the Arrow matmul
    Gram-accumulator (mapInArrow per-batch X^T X, the mapinarrow_hist
    partial-agg shape).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return covariance_finalize(covariance_moments(emb))


@graded("q_mutual_knn_ivf")  # rows-only: IVF capture is probabilistic
# (cell-probe recall < 1 by design); precision vs the exact mutual
# pairs and a recall floor are asserted in tests/test_algorithms.py.
def q_mutual_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100×/corpus-scale GEAR of q_mutual_knn, made literal: both
    best-match directions run through ann_index (IVF — trained
    centroids, cogroup-by-cell BLAS) instead of the exact quadratic
    matmul, and the SAME mutuality join filters to reciprocal pairs.
    The reciprocity filter is index-agnostic (a pair survives only if
    each side is the other's retrieved top-1), so swapping the index
    changes RECALL (IVF may miss a true best neighbor whose cell was
    not probed) but never admits a pair that is not mutually-best
    within the retrieved sets — mutual-kNN precision degrades
    gracefully, which is exactly why alignment pipelines run it over
    ANN at scale (the exact form's brute-force matmul is quadratic:
    cap-cancelled at 1800 s in the round-12 100× probe, while each IVF
    direction is cells-probed-bounded).

    100 TB: per direction, one sample-trained centroid set (driver-side
    ≤50k collect), scan-local cell assignment, one cogroup-by-cell BLAS
    pass; the mutuality join is |A|+|B| rows on the pair key.
    """
    from noaa_etl_spark.operators.similarity import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    gate = F.substring(
        F.md5(F.concat(F.lit("mk:"), F.col("vec_id").cast("string"))), 1, 1
    )
    a = emb.filter(gate < "4")
    b = emb.filter(gate >= "c")
    ab = ann_index(a, b, k=1, index="ivf").select(
        F.col("query_id").alias("a_id"),
        F.col("neighbor_id").alias("b_id"),
        "cos_sim",
    )
    ba = ann_index(b, a, k=1, index="ivf").select(
        F.col("query_id").alias("r_b_id"), F.col("neighbor_id").alias("r_a_id")
    )
    return ab.join(
        ba,
        (F.col("a_id") == F.col("r_a_id")) & (F.col("b_id") == F.col("r_b_id")),
    ).select("a_id", "b_id", F.round("cos_sim", 6).alias("cos_sim"))


NORM_AUDIT_ORACLE = """
    WITH norms AS (
      SELECT label,
             CAST(floor(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                                CAST(embedding AS DOUBLE[])))
                        * 1000000 + 0.5) AS BIGINT) AS qn
      FROM embeddings
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(min(qn) AS BIGINT)  AS min_norm_u,
           CAST(max(qn) AS BIGINT)  AS max_norm_u,
           round(CAST(sum(qn) AS DOUBLE) / count(*) / 1000000.0, 6)
             AS mean_norm,
           CAST(count(*) FILTER (qn = 0) AS BIGINT) AS n_zero,
           CAST(count(*) FILTER (qn BETWEEN 990000 AND 1010000) AS BIGINT)
             AS n_unit
    FROM norms GROUP BY label ORDER BY label
    """


@graded("q_embedding_norm_audit", oracle=NORM_AUDIT_ORACLE)
def q_embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding NORM audit per label — the vector-quality gate every
    embedding pipeline needs before ANN indexing: zero-norm vectors
    (failed encoder calls) poison cosine math, and a mix of unit and
    non-unit norms means someone skipped normalization and dot-product
    ranking is silently magnitude-biased. Reports per-label count,
    min/max/mean norm, zero-norm count, and the near-unit census
    (norm in [0.99, 1.01]).

    Exactness: each vector's norm is the established bit-equal chain
    (sequential double fold == list_inner_product over DOUBLE[], the
    functions/vectors contract), then QUANTIZED to micro-units via
    floor(norm*1e6 + 0.5) — an exact BIGINT per vector, so every
    downstream aggregate (sums, extrema, range counts) is exact
    integer arithmetic and the mean is one division (the quantize_int8
    doctrine applied to audit statistics: never sum raw doubles in an
    engine-arbitrary order).

    Scale: scan-local norms + one combinable agg; output is
    |labels| rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    qn = F.floor(l2_norm(F.col("embedding")) * 1000000 + 0.5).cast("bigint")
    norms = emb.select("label", qn.alias("qn"))
    return (
        norms.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.min("qn").cast("bigint").alias("min_norm_u"),
            F.max("qn").cast("bigint").alias("max_norm_u"),
            F.round(
                F.sum("qn").cast("double") / F.count(F.lit(1)) / F.lit(1000000.0), 6
            ).alias("mean_norm"),
            F.count_if(F.col("qn") == 0).cast("bigint").alias("n_zero"),
            F.count_if(
                (F.col("qn") >= 990000) & (F.col("qn") <= 1010000)
            )
            .cast("bigint")
            .alias("n_unit"),
        )
        .orderBy("label")
    )
