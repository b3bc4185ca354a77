"""Algorithm-level tests for the rows-only (non-SQL-expressible)
operators: golden/recall checks for LSH near-dedup and approximate knn,
plus the cheap property checks from SURVEY.md §5.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from noaa_etl_spark.io import SCRATCH_ROOT, load_table
from noaa_etl_spark.operators.dedup import minhash_lsh_candidates, minhash_lsh_dedup
from noaa_etl_spark.operators.graph import connected_components
from noaa_etl_spark.operators.similarity import knn_bruteforce, knn_lsh
from tests.conftest import SF_SMALL


# --- MinHash LSH near-dedup -------------------------------------------


def test_lsh_candidates_agree_with_exact_jaccard(spark):
    """Every LSH candidate pair at jaccard >= 0.8 must be a genuine
    >= 0.8 pair (the attached jaccard is exact, so this is definitional)
    and the pipeline must find the exact duplicates that exist."""
    docs = load_table(spark, SF_SMALL, "documents")
    pairs = minhash_lsh_candidates(docs).filter(F.col("jaccard_sim") >= 0.999).collect()
    # Exact text duplicates (known to exist in fixtures via q_dedup_exact
    # n_copies > 1) must surface as jaccard-1.0 candidate pairs.
    dup_groups = (
        docs.groupBy("text")
        .agg(F.count(F.lit(1)).alias("n"), F.collect_list("doc_id").alias("ids"))
        .filter(F.col("n") > 1)
        .collect()
    )
    expected_pairs = set()
    for row in dup_groups:
        ids = sorted(row["ids"])
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                expected_pairs.add((ids[i], ids[j]))
    found_pairs = {(r["id_a"], r["id_b"]) for r in pairs}
    missing = expected_pairs - found_pairs
    assert not missing, f"exact duplicates missed by LSH: {missing}"


def test_lsh_dedup_idempotent_and_total(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    result = minhash_lsh_dedup(docs, threshold=0.5)
    rows = result.collect()
    # Total: every doc labeled exactly once.
    assert len(rows) == docs.count()
    # Survivor = min id of its component; every component keeps exactly one.
    by_comp: dict = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r)
    for comp, members in by_comp.items():
        keepers = [m for m in members if m["keep"]]
        assert len(keepers) == 1
        assert keepers[0]["id"] == min(m["id"] for m in members) == comp


def test_connected_components_chain(spark):
    """A 5-node chain must collapse to one component labeled by its min,
    exercising multi-iteration label propagation."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a bigint, id_b bigint"
    )
    comps = {
        r["node"]: r["component"]
        for r in connected_components(edges, "id_a", "id_b").collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


# --- knn ---------------------------------------------------------------


def test_knn_bruteforce_properties(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    result = knn_bruteforce(queries, emb, k=5).collect()
    by_q: dict = {}
    for r in result:
        assert r["query_id"] != r["neighbor_id"], "self must be excluded"
        assert -1.000001 <= r["cos_sim"] <= 1.000001
        by_q.setdefault(r["query_id"], []).append(r["cos_sim"])
    assert set(by_q) == set(range(20))
    for q, sims in by_q.items():
        assert len(sims) == 5, f"query {q} must have exactly k neighbors"
        assert sims == sorted(sims, reverse=True), "neighbors ordered by sim"


def test_knn_blas_equals_native_bruteforce(spark):
    """The BLAS-blocked form must be indistinguishable from the
    expression-tree brute force at the rounded output contract."""
    from noaa_etl_spark.operators.similarity import knn_bruteforce_blas

    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    native = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"])
        for r in knn_bruteforce(queries, emb, k=5).collect()
    }
    blas = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"])
        for r in knn_bruteforce_blas(queries, emb, k=5).collect()
    }
    assert native == blas


def test_knn_lsh_recall_vs_bruteforce(spark):
    """SRP-LSH approximate knn must recover a reasonable fraction of the
    exact top-5 at fixture scale (seeded hyperplanes → deterministic)."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = knn_bruteforce(queries, emb, k=5).collect()
    approx = knn_lsh(queries, emb, k=5, dim=64, num_planes=16, bands=8).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3, f"LSH recall collapsed: {recall:.2f}"
    # And every approx neighbor must at least be a real vector pair.
    for q, n in approx_set:
        assert q != n


def test_semantic_dedup_lsh_subset_of_bruteforce(spark):
    """The LSH-candidate variant verifies exact cosine before dropping,
    so its drop set must be a subset of the brute-force drop set — and
    non-trivial at the fixture threshold."""
    from noaa_etl_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, SF_SMALL, "embeddings")
    brute = {r["dropped_id"] for r in semantic_dedup(emb, threshold=0.4).collect()}
    lsh = {
        r["dropped_id"]
        for r in semantic_dedup(emb, threshold=0.4, use_lsh=True).collect()
    }
    assert lsh <= brute
    assert len(brute) > 0
    assert len(lsh) / len(brute) >= 0.2, f"LSH recall collapsed: {len(lsh)}/{len(brute)}"


def test_semantic_dedup_lsh_matches_topk_detour(spark):
    """The direct threshold-filter form must return exactly the drop set
    of the (removed) top-k detour — same candidates, same exact-cosine
    verify, minus the wasted per-query ranking sort."""
    from noaa_etl_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, SF_SMALL, "embeddings")
    detour = (
        knn_lsh(emb, emb, k=1_000_000, dim=64)
        .filter((F.col("cos_sim") >= 0.4) & (F.col("query_id") < F.col("neighbor_id")))
        .select(F.col("neighbor_id").alias("dropped_id"))
        .distinct()
    )
    direct = semantic_dedup(emb, threshold=0.4, use_lsh=True)
    assert {r["dropped_id"] for r in direct.collect()} == {
        r["dropped_id"] for r in detour.collect()
    }


def test_semantic_dedup_brute_force_is_size_capped(spark):
    """The all-pairs branch is O(N²) — it must refuse oversized inputs
    instead of silently launching a corpus-scale theta join."""
    from noaa_etl_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, SF_SMALL, "embeddings")
    with pytest.raises(ValueError, match="use_lsh=True"):
        semantic_dedup(emb, threshold=0.4, max_brute_force_rows=10)


# --- property checks ---------------------------------------------------


def test_groupby_sum_equals_total(spark):
    li = load_table(spark, SF_SMALL, "lineitem")
    total = li.agg(F.sum("l_quantity")).collect()[0][0]
    by_flag = (
        li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s")).collect()
    )
    assert sum(r["s"] for r in by_flag) == pytest.approx(total)


def test_union_rowcount_additivity(spark):
    cust = load_table(spark, SF_SMALL, "customer")
    sup = load_table(spark, SF_SMALL, "supplier")
    a = cust.select(F.col("c_nationkey").alias("k"))
    b = sup.select(F.col("s_nationkey").alias("k"))
    assert a.unionByName(b).count() == a.count() + b.count()


def test_dedup_idempotence(spark):
    from noaa_etl_spark.operators.dedup import exact_dedup

    docs = load_table(spark, SF_SMALL, "documents")
    once = exact_dedup(docs)
    # Re-deduping the survivors must be the identity (all n_copies == 1).
    again = (
        once.select(F.col("kept_doc_id").alias("doc_id"), F.col("text"))
        if "text" in once.columns
        else None
    )
    assert once.filter(F.col("n_copies") < 1).count() == 0
    assert once.count() == docs.select("text").distinct().count()


def test_knn_ivf_recall_beats_probe_budget(spark):
    """IVF approximate knn: with 4 of 16 cells probed, recall of the
    exact top-5 must clear 0.45 (it reaches ~0.65 on the clustered
    fixture embeddings — data-adaptive cells beat random hyperplanes),
    results must be deterministic across runs (seeded k-means), and
    obey the k-bound/self-exclusion contract."""
    from noaa_etl_spark.operators.similarity import knn_ivf

    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact_set = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_bruteforce(queries, emb, k=5).collect()
    }
    approx = knn_ivf(queries, emb, k=5, n_probe=4).collect()
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.45, f"IVF recall collapsed: {recall:.2f}"
    again = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_ivf(queries, emb, k=5, n_probe=4).collect()
    }
    assert approx_set == again
    per_query = {}
    for q, n in approx_set:
        assert q != n
        per_query[q] = per_query.get(q, 0) + 1
    assert all(v <= 5 for v in per_query.values())
    # Probing ALL cells with unlimited k degenerates to exact: sanity
    # that the candidate pipeline loses only what the probe budget cuts.
    full = knn_ivf(queries, emb, k=5, n_probe=16).collect()
    full_set = {(r["query_id"], r["neighbor_id"]) for r in full}
    assert len(exact_set & full_set) / len(exact_set) >= 0.99


def test_zero_vector_scores_cosine_zero_everywhere(spark):
    """An all-zero vector (a hashed BoW whose signs cancel) has cosine 0
    with everything, finite, in every exact and IVF search form — and
    the BLAS form still equals the brute-force form (ties at 0 keep the
    smallest neighbor ids)."""
    import numpy as np

    from noaa_etl_spark.operators.similarity import (
        best_match_against,
        knn_bruteforce_blas,
        knn_ivf,
    )

    rng = np.random.default_rng(5)
    mat = np.vstack([np.zeros(8), rng.normal(size=(39, 8))])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(mat)],
        "vec_id bigint, embedding array<double>",
    )

    def rows(df):
        return sorted((r["query_id"], r["neighbor_id"], r["cos_sim"]) for r in df.collect())

    brute = rows(knn_bruteforce(emb, emb, k=2))
    assert [r for r in brute if r[0] == 0] == [(0, 1, 0.0), (0, 2, 0.0)]
    assert all(math.isfinite(r[2]) for r in brute)
    assert rows(knn_bruteforce_blas(emb, emb, k=2)) == brute
    # every cell probed: the IVF candidate set is the whole corpus
    ivf = rows(knn_ivf(emb, emb, k=2, n_cells=4, n_probe=4))
    assert [r for r in ivf if r[0] == 0] == [(0, 1, 0.0), (0, 2, 0.0)]
    assert all(math.isfinite(r[2]) for r in ivf)
    best = {
        r["vec_id"]: (r["bench_id"], r["cos_sim"])
        for r in best_match_against(emb, emb.filter(F.col("vec_id") >= 30)).collect()
    }
    assert best[0] == (30, 0.0)
    assert all(math.isfinite(s) for _, s in best.values())


def test_doc_similarity_ivf_recall_vs_exact(spark):
    """q_doc_similarity now serves through the IVF index (the corpus-
    scale default); its recall against the exact blocked-BLAS baseline
    on the same stub embeddings must stay high (measured 0.92+ at
    n_probe=4/16) — and the dispatcher's exact backend must equal the
    baseline identically."""
    from noaa_etl_spark.io import load_table
    from noaa_etl_spark.operators.similarity import ann_index, knn_bruteforce_blas
    from noaa_etl_spark.queries.multimodal import _hashed_bow_embed

    docs = load_table(spark, SF_SMALL, "documents")
    emb = docs.select(
        F.col("doc_id").alias("vec_id"), _hashed_bow_embed(F.col("text")).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 50)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_bruteforce_blas(queries, emb, k=3).collect()
    }
    served = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_index(queries, emb, k=3, index="ivf", n_cells=16, n_probe=4).collect()
    }
    recall = len(exact & served) / len(exact)
    assert recall >= 0.8, f"IVF-served doc similarity recall collapsed: {recall:.2f}"
    via_exact = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_index(queries, emb, k=3, index="exact").collect()
    }
    assert via_exact == exact


def test_connected_components_raises_on_nonconvergence(spark, monkeypatch):
    """A chain whose diameter exceeds the distributed loop's round cap
    must raise, not return silently split components."""
    from noaa_etl_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a bigint, id_b bigint"
    )
    monkeypatch.setattr(graph, "LOCAL_EDGE_CAP", 0)
    monkeypatch.setattr(graph, "MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, "id_a", "id_b")


def _controlled_cosine_vectors(
    n_per_level, levels, dim=64, clusters=8, seed=42, center_scale=3.0
):
    """(rows, levels) — pairs (i, 10000+i) with EXACT cosine s: variant =
    s·base + sqrt(1-s²)·orthonormal-noise. ``center_scale`` > 0 draws
    bases around cluster centers (IVF sees structure); 0 gives uniform
    sphere directions (cells partition evenly — the right regime for
    measuring probe-budget capture, since dominant clusters make cells
    so coarse that even orthogonal pairs share probed cells). Fixture
    near-dups all sit at cosine ≈ 1.0, far above any S-curve midpoint —
    only synthesized mid-similarity pairs can catch a banding mis-tune."""
    import numpy as np

    rng = np.random.RandomState(seed)
    centers = rng.randn(clusters, dim) * center_scale
    rows = []
    i = 0
    for s in levels:
        for _ in range(n_per_level):
            base = centers[i % clusters] + rng.randn(dim)
            base = base / np.linalg.norm(base)
            noise = rng.randn(dim)
            noise -= noise.dot(base) * base
            noise /= np.linalg.norm(noise)
            variant = s * base + np.sqrt(max(0.0, 1 - s * s)) * noise
            rows.append((i, [float(x) for x in base], float(s)))
            rows.append((10_000 + i, [float(x) for x in variant], float(s)))
            i += 1
    return rows


def test_srp_lsh_capture_follows_s_curve(spark):
    """SRP-LSH banding capture vs the theoretical S-curve
    p(s) = 1 - (1 - p_plane^r)^b with p_plane = 1 - arccos(s)/π
    (r bits/band, b bands), measured on controlled-cosine pairs at five
    similarity levels. Catches a planes/bands mis-tune that the ≈1.0
    fixture near-dups cannot."""
    import math

    from noaa_etl_spark.operators.similarity import lsh_candidate_pairs

    levels = [0.95, 0.8, 0.6, 0.3, 0.0]
    n_per = 60
    rows = _controlled_cosine_vectors(n_per, levels)
    df = spark.createDataFrame(
        [(i, v) for i, v, _ in rows], "vec_id bigint, embedding array<double>"
    )
    found = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_candidate_pairs(df, df, dim=64, num_planes=16, bands=4)
        .filter(F.col("query_id") < F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .collect()
    }
    sims = {i: s for i, _, s in rows if i < 10_000}

    r_bits, b_bands = 4, 4
    for li, s in enumerate(levels):
        ids = [i for i in sims if sims[i] == s]
        capture = sum(1 for i in ids if (i, 10_000 + i) in found) / len(ids)
        p_plane = 1 - math.acos(min(1.0, s)) / math.pi
        theory = 1 - (1 - p_plane**r_bits) ** b_bands
        assert abs(capture - theory) <= 0.25, (
            f"s={s}: capture {capture:.2f} vs theory {theory:.2f} — "
            f"banding mis-tuned"
        )
    # Ends of the curve: near-dups near-certain, orthogonal mostly missed.
    hi = [i for i in sims if sims[i] == 0.95]
    lo = [i for i in sims if sims[i] == 0.0]
    assert sum(1 for i in hi if (i, 10_000 + i) in found) / len(hi) >= 0.75
    assert sum(1 for i in lo if (i, 10_000 + i) in found) / len(lo) <= 0.45


def test_ivf_capture_rises_with_cosine(spark):
    """IVF candidate capture (variant's cell within the base's n_probe
    probed cells) must rise steeply with cosine: the embedding-side
    mirror of the MinHash S-curve check. No closed-form curve exists
    (capture follows the learned cells), so the gate is the shape:
    near-dups nearly always captured, orthogonal pairs mostly cut by the
    probe budget, monotone in between. Measured on UNCLUSTERED vectors —
    with dominant clusters the cells are so coarse that orthogonal pairs
    share probed cells ~90% of the time (observed), which is a property
    of the data, not a banding bug."""
    from noaa_etl_spark.functions.vectors import as_double
    from noaa_etl_spark.operators.similarity import _nearest_cells, _train_ivf_cells

    levels = [0.95, 0.8, 0.6, 0.3, 0.0]
    n_per = 60
    rows = _controlled_cosine_vectors(n_per, levels, center_scale=0.0)
    df = spark.createDataFrame(
        [(i, v) for i, v, _ in rows], "vec_id bigint, embedding array<double>"
    )
    cells = _train_ivf_cells(df, n_cells=16)
    base = df.filter(F.col("vec_id") < 10_000).select(
        F.col("vec_id").alias("query_id"), as_double(F.col("embedding")).alias("query_vec")
    )
    var = df.filter(F.col("vec_id") >= 10_000).select(
        (F.col("vec_id") - 10_000).alias("neighbor_id"),
        as_double(F.col("embedding")).alias("neighbor_vec"),
    )
    probed = {
        (r["query_id"], r["cell_id"])
        for r in _nearest_cells(base, cells, "query", 4).collect()
    }
    assigned = {
        r["neighbor_id"]: r["cell_id"]
        for r in _nearest_cells(var, cells, "neighbor", 1).collect()
    }
    sims = {i: s for i, _, s in rows if i < 10_000}
    captures = []
    for s in levels:
        ids = [i for i in sims if sims[i] == s]
        cap = sum(1 for i in ids if (i, assigned[i]) in probed) / len(ids)
        captures.append(cap)
    assert captures[0] >= 0.9, f"near-dup IVF capture collapsed: {captures[0]:.2f}"
    assert captures[-1] <= 0.55, f"orthogonal pairs probed too often: {captures[-1]:.2f}"
    # Monotone within sampling noise.
    for a, b in zip(captures, captures[1:]):
        assert b <= a + 0.15, f"capture not decreasing with cosine: {captures}"


def test_minhash_banding_recall_follows_s_curve(spark):
    """Fixture near-dups all sit at jaccard 1.0, so pipeline recall there
    is trivial. Synthesize controlled-similarity pairs (token replacement
    at several rates) and check banding recall against the LSH S-curve
    p(s) = 1 - (1 - s^r)^b with r=4 rows/band, b=8 bands: near-certain
    capture above the curve's midpoint (~0.59), mostly-missed far below
    it (that miss rate IS the efficiency — low-sim pairs shouldn't
    become candidates)."""
    from noaa_etl_spark.operators.dedup import minhash_lsh_candidates

    vocab = [f"w{v}" for v in range(500)]
    rows = []
    for i in range(150):
        base = [vocab[(i * 7 + j * 13) % 500] for j in range(60)]
        rows.append((i, " ".join(base)))
        m = (2, 3, 5, 10, 20)[i % 5]  # replacement density → similarity band
        variant = [
            f"n{i}x{j}" if j % m == 0 else tok for j, tok in enumerate(base)
        ]
        rows.append((10000 + i, " ".join(variant)))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    found = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(docs).collect()
    }

    # Exact jaccard of each constructed pair, same shingle definition.
    from noaa_etl_spark.functions.text import ngrams, tokenize
    from noaa_etl_spark.operators.dedup import jaccard

    grams = F.array_distinct(ngrams(tokenize(F.col("text")), 3))
    g = docs.select("doc_id", grams.alias("g"))
    pairs = (
        g.filter(F.col("doc_id") < 10000)
        .select(F.col("doc_id").alias("id_a"), F.col("g").alias("ga"))
        .join(
            g.filter(F.col("doc_id") >= 10000)
            .select((F.col("doc_id") - 10000).alias("id_a"), F.col("doc_id").alias("id_b"), F.col("g").alias("gb")),
            "id_a",
        )
        .select("id_a", "id_b", jaccard(F.col("ga"), F.col("gb")).alias("j"))
        .collect()
    )

    def recall(lo, hi):
        bucket = [r for r in pairs if lo <= r["j"] < hi]
        if not bucket:
            return None, 0
        hit = sum(1 for r in bucket if (r["id_a"], r["id_b"]) in found)
        return hit / len(bucket), len(bucket)

    high, n_high = recall(0.7, 1.01)   # S-curve predicts ≥ 0.95 capture
    mid, n_mid = recall(0.45, 0.7)     # transition zone
    low, n_low = recall(0.0, 0.2)      # predicts ≤ ~0.1 capture
    assert n_high >= 20 and n_low >= 20, f"similarity spectrum collapsed: {n_high}/{n_mid}/{n_low}"
    assert high >= 0.9, f"high-sim recall {high:.2f} (n={n_high})"
    if mid is not None:
        assert mid >= 0.3, f"transition-zone recall collapsed: {mid:.2f} (n={n_mid})"
    assert low <= 0.3, f"low-sim pairs becoming candidates: {low:.2f} (n={n_low}) — banding too loose"


def test_ngram_jaccard_cap_bounds_pathological_corpus(spark):
    """The candidate_cap_per_doc contract (round 12, VERDICT r11 item 4):
    on a replicated/boilerplate corpus the TRUE pair count is quadratic
    in clique size and the uncapped verify OOMs emitting it at 100×.
    The cap bounds output to ≤ N·cap while keeping every clique
    connected (doc i always keeps (i, i+1): rank-1 for id_a = i), and a
    non-binding cap is EXACT (== uncapped)."""
    from noaa_etl_spark.operators.dedup import ngram_jaccard_pairs

    # 12 base docs × 30 exact copies = 360 docs; true answer is
    # 12 × C(30,2) = 5220 pairs, all jaccard 1.0.
    rows = []
    for base in range(12):
        text = " ".join(f"b{base}w{j} filler token" for j in range(25))
        for copy in range(30):
            rows.append((base * 100 + copy, text))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    capped = ngram_jaccard_pairs(docs, candidate_cap_per_doc=5).collect()
    # Per clique of 30: ids ranked 1..30; id at rank r has min(5, 30-r)
    # kept co-ids → 5·25 + 4+3+2+1 = 135 pairs; 12 cliques = 1620.
    assert len(capped) == 12 * 135, len(capped)
    assert all(abs(r["jaccard_sim"] - 1.0) < 1e-9 for r in capped)
    got = {(r["id_a"], r["id_b"]) for r in capped}
    # Consecutive chain present in every clique → connectivity held.
    for base in range(12):
        for copy in range(29):
            assert (base * 100 + copy, base * 100 + copy + 1) in got

    # A non-binding cap is exact: small corpus, cap far above max pairs.
    small = spark.createDataFrame(rows[:60], "doc_id bigint, text string")
    exact = {
        (r["id_a"], r["id_b"], r["jaccard_sim"])
        for r in ngram_jaccard_pairs(small).collect()
    }
    loose = {
        (r["id_a"], r["id_b"], r["jaccard_sim"])
        for r in ngram_jaccard_pairs(small, candidate_cap_per_doc=1000).collect()
    }
    assert exact == loose and len(exact) == 2 * (30 * 29 // 2)


def test_minhash_hot_band_star_keeps_clusters_connected(spark):
    """The hot-band cap (the round-12 100× OOM fix): a clique of exact
    duplicates larger than the cap must emit BOUNDED candidates (star
    edges, not all-pairs) while the dedup pipeline still resolves it as
    ONE cluster with the min-id survivor. Also pins that the cap never
    fires below its threshold (planted small cluster yields identical
    pairs with and without a binding cap)."""
    from noaa_etl_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_lsh_dedup,
    )

    clique_text = " ".join(f"tok{j} common phrase" for j in range(40))
    rows = [(i, clique_text) for i in range(150)]  # 150 exact twins
    # control pair: a small distinct near-dup cluster far from the clique
    other = " ".join(f"zz{j} unrelated words here" for j in range(40))
    rows += [(500, other), (501, other)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    cand = minhash_lsh_candidates(docs, verify=False, hot_band_cap=16)
    pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    # Bounded: all-pairs would be C(150,2)=11175 (+1); star caps it at
    # C(16,2) + (150-16) hub edges per band, deduped across bands.
    assert len(pairs) < 2000, f"cap did not bound the clique: {len(pairs)}"
    # Every over-cap member still reaches the hub (id 0).
    members_with_edges = {a for a, _ in pairs} | {b for _, b in pairs}
    assert set(range(150)) <= members_with_edges
    assert (500, 501) in pairs

    # End-to-end: one component, min-id survivor — cap binding or not.
    import noaa_etl_spark.operators.dedup as dmod

    old = dmod.HOT_BAND_CAP
    try:
        dmod.HOT_BAND_CAP = 16
        labeled = minhash_lsh_dedup(docs, threshold=0.8).collect()
    finally:
        dmod.HOT_BAND_CAP = old
    comp = {r["id"]: r["component"] for r in labeled}
    assert {comp[i] for i in range(150)} == {0}
    assert comp[500] == comp[501] == 500
    keep = {r["id"] for r in labeled if r["keep"]}
    assert keep == {0, 500}


def test_srp_hot_bucket_star_keeps_clusters_connected(spark):
    """SRP sibling of the minhash hot-band star test (ADVICE r12): a
    planted clique of identical embeddings larger than the cap must emit
    BOUNDED candidates (head all-pairs + hub star edges) in BOTH ordered
    and unordered modes, every over-cap id must stay connected through
    the bucket hub (cos 1 to every clique member), a control pair far
    from the clique must survive, and a non-binding cap must be exact
    (== the default-cap result)."""
    import numpy as np

    from noaa_etl_spark.operators.similarity import lsh_candidate_pairs

    rng = np.random.RandomState(7)
    base = rng.randn(64)
    base /= np.linalg.norm(base)
    other = rng.randn(64)
    other -= other.dot(base) * base
    other /= np.linalg.norm(other)
    n_clique = 100
    rows = [(i, [float(x) for x in base]) for i in range(n_clique)]
    rows += [(500, [float(x) for x in other]), (501, [float(x) for x in other])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    for ordered in (True, False):
        cand = lsh_candidate_pairs(
            df, df, ordered=ordered, hot_bucket_cap=8
        ).collect()
        pairs = {(r["query_id"], r["neighbor_id"]) for r in cand}
        # Bounded: identical vectors share every band bucket; all-pairs
        # would be C(100,2)=4950 (ordered) / 9900 (unordered). The star
        # form is C(8,2)+92 = 120 ordered, 8·7+92·2 = 240 unordered.
        bound = 150 if ordered else 300
        assert len(pairs) <= bound + 2, (ordered, len(pairs))
        # Every clique member appears, over-cap ids via the hub (id 0).
        seen = {a for a, _ in pairs} | {b for _, b in pairs}
        assert set(range(n_clique)) <= seen
        for i in range(8, n_clique):
            assert ((0, i) in pairs) or ((i, 0) in pairs), i
        # Hub edges carry the true cosine (identical vectors → 1.0).
        sims = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in cand}
        hub_edge = (0, 8) if (0, 8) in sims else (8, 0)
        assert abs(sims[hub_edge] - 1.0) < 1e-9
        # Control pair far from the clique survives the cap.
        assert ((500, 501) in pairs) or ((501, 500) in pairs)

    # Non-binding cap is exact: same pairs as the module default.
    small = spark.createDataFrame(rows[:10] + rows[-2:],
                                  "vec_id bigint, embedding array<double>")
    got_default = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_candidate_pairs(small, small, ordered=True).collect()
    }
    got_loose = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_candidate_pairs(
            small, small, ordered=True, hot_bucket_cap=10_000
        ).collect()
    }
    assert got_default == got_loose and len(got_default) >= 45 + 1


def test_cluster_report_contract_and_determinism(spark):
    """cluster_report on the fixture embeddings: every vector assigned
    exactly once, at most n_cells rows, internally consistent purity,
    deterministic across runs. (Fixture labels are NOT geometric
    clusters — purity vs label is near chance here by design; the
    recovery property is asserted on the synthetic corpus below.)"""
    from noaa_etl_spark.operators.similarity import cluster_report

    emb = load_table(spark, SF_SMALL, "embeddings")
    rows = cluster_report(emb, n_cells=8).collect()
    assert 0 < len(rows) <= 8
    assert sum(r["n_vecs"] for r in rows) == emb.count()
    for r in rows:
        assert 1 <= r["top_label_n"] <= r["n_vecs"]
        assert r["purity"] == round(r["top_label_n"] / r["n_vecs"], 4)
    again = cluster_report(emb, n_cells=8).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # label_col=None: counts-only report, same totals
    plain = cluster_report(emb, n_cells=8, label_col=None).collect()
    assert sum(r["n_vecs"] for r in plain) == emb.count()
    assert {r["cell_id"]: r["n_vecs"] for r in plain} == {
        r["cell_id"]: r["n_vecs"] for r in rows
    }


def test_cluster_report_recovers_separated_clusters(spark):
    """On a synthetic corpus of 4 well-separated direction clusters,
    k-means with n_cells=4 must recover them: purity 1.0 in every cell
    and cluster sizes matching the generator."""
    import numpy as np

    from noaa_etl_spark.operators.similarity import cluster_report

    rng = np.random.default_rng(7)
    dim, per = 16, 50
    # 4 orthogonal anchor directions + small noise => unambiguous cells
    anchors = np.eye(dim)[:4]
    rows = []
    vid = 0
    for lab, anchor in enumerate(anchors):
        for _ in range(per):
            v = anchor + rng.normal(0, 0.05, dim)
            rows.append((vid, [float(x) for x in v], lab))
            vid += 1
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    rep = cluster_report(df, n_cells=4).collect()
    assert len(rep) == 4
    assert sorted(r["n_vecs"] for r in rep) == [per] * 4
    assert all(r["purity"] == 1.0 for r in rep)
    # each generator label claims exactly one cell
    assert sorted(r["top_label"] for r in rep) == [0, 1, 2, 3]


class TestAnnMaintenance:
    def _emb(self, spark):
        from noaa_etl_spark.io import load_table
        from tests.conftest import SF_DIR

        return load_table(spark, SF_DIR, "embeddings")

    def test_add_batch_matches_full_rebuild_assignment(self, spark):
        """Absorbing a batch against frozen centroids must give each
        new vector the SAME cell a full re-assignment pass would (the
        index stays consistent — only training is skipped)."""
        from noaa_etl_spark.operators.ann_maintenance import (
            assign_with_distance,
            ivf_add_batch,
        )
        from noaa_etl_spark.operators.similarity import _train_ivf_cells
        from pyspark.sql import functions as F

        emb = self._emb(spark)
        base = emb.filter(F.col("vec_id") % 5 != 0)
        batch = emb.filter(F.col("vec_id") % 5 == 0)
        cents = _train_ivf_cells(base, n_cells=8)

        index = assign_with_distance(base, cents)
        updated = {
            r["vec_id"]: r["cell_id"]
            for r in ivf_add_batch(index, batch, cents).collect()
        }
        full = {
            r["vec_id"]: r["cell_id"]
            for r in assign_with_distance(emb, cents).collect()
        }
        assert updated == full
        assert len(updated) == emb.count()

    @staticmethod
    def _clustered(spark, anchors, per, vid0, seed):
        """Rows around the given anchor directions + small noise."""
        import numpy as np

        rng = np.random.default_rng(seed)
        rows, vid = [], vid0
        for anchor in anchors:
            for _ in range(per):
                v = anchor + rng.normal(0, 0.05, len(anchor))
                rows.append((vid, [float(x) for x in v]))
                vid += 1
        return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    def test_drift_silent_on_in_distribution_batch(self, spark):
        """An in-distribution batch scored against an OUT-OF-SAMPLE
        calibration baseline must not trip the monitor. (The baseline
        must be a calibration split, not the training data: in-sample
        assignment distances are biased low, so any new data reads
        'elevated' against them — the generalization gap, not drift.)"""
        import numpy as np

        from noaa_etl_spark.operators.ann_maintenance import (
            assign_with_distance,
            cell_stats,
            drift_report,
        )
        from noaa_etl_spark.operators.similarity import _train_ivf_cells

        anchors = np.eye(16)[:4]
        train = self._clustered(spark, anchors, 50, 0, seed=7)
        calib = self._clustered(spark, anchors, 20, 1000, seed=8)
        indist = self._clustered(spark, anchors, 20, 2000, seed=9)
        cents = _train_ivf_cells(train, n_cells=4)
        rep = drift_report(
            cell_stats(assign_with_distance(calib, cents)),
            assign_with_distance(indist, cents),
        ).collect()
        assert 0 < len(rep) <= 4
        assert not any(r["drift"] for r in rep)
        assert sum(r["n_new"] for r in rep) == indist.count()

    def test_drift_fires_on_shifted_batch(self, spark):
        """A batch drawn from DIFFERENT directions (orthogonal anchors
        the index never trained on) must trip the monitor in at least
        one populated cell — the retrain signal the operator exists
        for."""
        import numpy as np

        from noaa_etl_spark.operators.ann_maintenance import (
            assign_with_distance,
            cell_stats,
            drift_report,
        )
        from noaa_etl_spark.operators.similarity import _train_ivf_cells

        anchors = np.eye(16)[:4]
        shifted_anchors = np.eye(16)[8:12]  # orthogonal to every trained cell
        train = self._clustered(spark, anchors, 50, 0, seed=7)
        calib = self._clustered(spark, anchors, 20, 1000, seed=8)
        shifted = self._clustered(spark, shifted_anchors, 20, 3000, seed=10)
        cents = _train_ivf_cells(train, n_cells=4)
        rep = drift_report(
            cell_stats(assign_with_distance(calib, cents)),
            assign_with_distance(shifted, cents),
        ).collect()
        touched = [r for r in rep if r["n_new"] >= 5]
        assert touched, "shifted batch landed nowhere (bad test setup)"
        assert any(r["drift"] for r in touched)

    def test_assignment_follows_the_index_cell_rule(self, spark):
        """Maintenance files every vector into the cell its queries probe
        first: assign_with_distance's cell equals the index rule's
        nearest cell (_nearest_cells with n=1) for every sf0.01
        embedding at 8 cells."""
        from noaa_etl_spark.functions.vectors import as_double
        from noaa_etl_spark.operators.ann_maintenance import assign_with_distance
        from noaa_etl_spark.operators.similarity import _nearest_cells, _train_ivf_cells
        from pyspark.sql import functions as F

        emb = self._emb(spark)
        cells = _train_ivf_cells(emb, n_cells=8)
        maintained = {
            r["vec_id"]: r["cell_id"] for r in assign_with_distance(emb, cells).collect()
        }
        probed = {
            r["v_id"]: r["cell_id"]
            for r in _nearest_cells(
                emb.select(
                    F.col("vec_id").alias("v_id"),
                    as_double(F.col("embedding")).alias("v_vec"),
                ),
                cells,
                "v",
                1,
            ).collect()
        }
        assert len(maintained) == emb.count()
        assert maintained == probed

    def test_graded_report_contract(self, spark):
        from noaa_etl_spark.queries import QUERIES
        from tests.conftest import SF_DIR

        rows = QUERIES["q_ann_index_update"](spark, SF_DIR).collect()
        assert 0 < len(rows) <= 8
        assert [r["cell_id"] for r in rows] == sorted(r["cell_id"] for r in rows)
        for r in rows:
            assert r["n_base"] + r["n_new"] > 0
            if r["n_base"] > 0:
                assert r["mean_d2_base"] >= 0.0
            assert r["drift"] in (True, False)


class TestFuzzyJoin:
    def test_blocked_equals_bruteforce_on_fixture(self, spark):
        """The q-gram count filter must be lossless: the blocked result
        equals the O(N^2) cross-join answer exactly."""
        from pyspark.sql import functions as F

        from noaa_etl_spark.io import load_table
        from noaa_etl_spark.operators.fuzzy import fuzzy_self_join
        from tests.conftest import SF_DIR

        part = load_table(spark, SF_DIR, "part")
        blocked = {
            (r["name_a"], r["name_b"], r["dist"])
            for r in fuzzy_self_join(part, "p_name", max_dist=2).collect()
        }
        n = part.select("p_name").distinct()
        a = n.select(F.col("p_name").alias("name_a"))
        b = n.select(F.col("p_name").alias("name_b"))
        brute = {
            (r["name_a"], r["name_b"], r["dist"])
            for r in a.join(b, F.col("name_a") < F.col("name_b"))
            .withColumn("dist", F.levenshtein("name_a", "name_b"))
            .filter(F.col("dist") <= 2)
            .collect()
        }
        assert blocked == brute
        assert len(blocked) > 0, "fixture has no close name pairs (bad setup)"
        assert any(d == 1 for _, _, d in blocked)
        assert any(d == 2 for _, _, d in blocked)

    def test_blocked_equals_bruteforce_on_adversarial_strings(self, spark):
        """Synthetic keys with repeated grams, indels, and prefix edits
        (the cases a naive prefix/length blocker drops)."""
        from pyspark.sql import functions as F

        from noaa_etl_spark.operators.fuzzy import fuzzy_self_join

        words = [
            "abababab", "babababa",     # shifted repeats (indel-like)
            "xbababab", "abababay",     # prefix and suffix edits
            "mississippi", "misisippi", # deletion inside repeats
            "mississippx", "qmississippi",
            "zzzzzzzz", "zzzzzzz",
            "distinct", "disjoint",
        ]
        df = spark.createDataFrame([(w,) for w in words], "key string")
        blocked = {
            tuple(r)
            for r in fuzzy_self_join(df, "key", max_dist=2).collect()
        }
        a = df.select(F.col("key").alias("name_a"))
        b = df.select(F.col("key").alias("name_b"))
        brute = {
            tuple(r)
            for r in a.join(b, F.col("name_a") < F.col("name_b"))
            .withColumn("dist", F.levenshtein("name_a", "name_b"))
            .filter(F.col("dist") <= 2)
            .collect()
        }
        assert blocked == brute
        assert len(blocked) > 0

    def test_short_key_contract_raises(self, spark):
        from noaa_etl_spark.operators.fuzzy import fuzzy_self_join

        df = spark.createDataFrame([("abc",), ("abd",)], "key string")
        try:
            fuzzy_self_join(df, "key", max_dist=2)
            assert False, "expected ValueError for short keys"
        except ValueError as e:
            assert "length-band" in str(e)


class TestCountMinSketch:
    """operators/cms.py: the two CMS guarantees, exact grid
    mergeability, and unseen-key behavior."""

    def _skewed(self, spark):
        # zipf-ish: key k appears ~ 2000/k times, 200 distinct keys
        from pyspark.sql import functions as F

        return (
            spark.range(1, 201)
            .select(
                F.col("id").alias("key"),
                F.explode(
                    F.sequence(F.lit(1), (F.lit(2000) / F.col("id")).cast("int"))
                ).alias("rep"),
            )
            .select(F.concat(F.lit("k"), F.col("key").cast("string")).alias("key"))
        )

    def test_overestimate_and_tight_bound(self, spark):
        from pyspark.sql import functions as F

        from noaa_etl_spark.operators.cms import cms_build, cms_estimate, cms_total

        df = self._skewed(spark)
        depth, width = 5, 2048
        cells = cms_build(df, "key", depth=depth, width=width)
        true = df.groupBy("key").agg(F.count(F.lit(1)).alias("cnt"))
        est = cms_estimate(cells, true, "key", depth=depth, width=width)
        n = cms_total(cells).collect()[0].n_total
        joined = true.join(est, "key").collect()
        assert len(joined) == 200
        eps_n = 2.718281828459045 * n / width
        for r in joined:
            assert r.est >= r.cnt, f"{r.key}: CMS under-counted"
        # the (e/w)·N bound holds for at least 1−e^−d of keys; with
        # d=5 and 200 keys expect ≈1.3 violations — allow a handful
        bad = sum(1 for r in joined if r.est > r.cnt + eps_n)
        assert bad <= 5, f"{bad}/200 keys exceed the eps·N bound"

    def test_grid_merge_is_exact(self, spark):
        from pyspark.sql import functions as F

        from noaa_etl_spark.operators.cms import cms_build, cms_merge

        df = self._skewed(spark).withColumn(
            "day", F.pmod(F.xxhash64("key"), F.lit(7))
        )
        global_grid = {
            (r.d, r.bucket): r.cnt
            for r in cms_build(df, "key", depth=3, width=256).collect()
        }
        merged = {
            (r.d, r.bucket): r.cnt
            for r in cms_merge(
                cms_build(df, "key", depth=3, width=256, group_cols=("day",))
            ).collect()
        }
        assert merged == global_grid  # cells are additive, exactly

    def test_unseen_key_bounded_by_collisions(self, spark):
        from noaa_etl_spark.operators.cms import cms_build, cms_estimate, cms_total

        df = self._skewed(spark)
        cells = cms_build(df, "key", depth=5, width=2048)
        probes = spark.createDataFrame([("never-seen",)], "key string")
        est = cms_estimate(cells, probes, "key", depth=5, width=2048).collect()[0]
        n = cms_total(cells).collect()[0].n_total
        assert 0 <= est.est <= 4 * 2.718281828459045 * n / 2048

    def test_null_keys_ignored(self, spark):
        from noaa_etl_spark.operators.cms import cms_build, cms_total

        df = spark.createDataFrame(
            [("a",), (None,), ("a",), (None,)], "key string"
        )
        cells = cms_build(df, "key", depth=2, width=16)
        assert cms_total(cells).collect()[0].n_total == 2


class TestHistogramSketch:
    """operators/histogram.py: one-bin error theorem, exact grid
    mergeability, and domain-edge clamping."""

    def test_quantile_within_one_bin_of_exact(self, spark):
        from pyspark.sql import functions as F

        from noaa_etl_spark.operators.histogram import hist_build, hist_quantiles

        # deterministic lumpy data: squares mod a prime, two groups
        df = spark.range(0, 4000).select(
            (F.col("id") % 2).cast("string").alias("g"),
            ((F.col("id") * F.col("id")) % 997).cast("double").alias("v"),
        )
        lo, hi, n_bins = 0.0, 996.0, 32
        w = (hi - lo) / n_bins
        hist = hist_build(df, "v", lo, hi, n_bins, group_cols=("g",))
        est = hist_quantiles(hist, [0.25, 0.5, 0.95], lo, hi, n_bins, ("g",))
        rows = {(r.g, r.q): r.est for r in est.collect()}
        pdf = df.toPandas()
        for (g, q), e in rows.items():
            vals = sorted(pdf[pdf.g == g].v)
            x = vals[max(0, -(-int(q * len(vals)) // 1) - 1)]  # rank ceil(qN), 1-based
            assert x <= e <= x + w + 1e-9, (g, q, x, e)

    def test_per_day_grids_merge_exactly(self, spark):
        from pyspark.sql import functions as F

        from noaa_etl_spark.operators.histogram import hist_build, hist_merge

        df = spark.range(0, 3000).select(
            (F.col("id") % 7).alias("day"),
            (F.col("id") % 2).cast("string").alias("g"),
            ((F.col("id") * 37) % 500).cast("double").alias("v"),
        )
        per_day = hist_build(df, "v", 0.0, 499.0, 16, group_cols=("day", "g"))
        merged = {
            (r.g, r.bin): r.cnt
            for r in hist_merge(per_day, group_cols=("g",)).collect()
        }
        direct = {
            (r.g, r.bin): r.cnt
            for r in hist_build(df, "v", 0.0, 499.0, 16, group_cols=("g",)).collect()
        }
        assert merged == direct

    def test_out_of_domain_values_clamp_into_edge_bins(self, spark):
        from noaa_etl_spark.operators.histogram import hist_build

        df = spark.createDataFrame(
            [(-5.0,), (0.0,), (50.0,), (100.0,), (250.0,)], "v double"
        )
        hist = {r.bin: r.cnt for r in hist_build(df, "v", 0.0, 100.0, 10).collect()}
        assert hist[0] == 2   # -5 clamped in, 0.0
        assert hist[9] == 2   # 100.0 (== hi) and 250 clamped in
        assert hist[5] == 1
        assert sum(hist.values()) == 5


class TestJaroWinkler:
    """functions/strings.py: bit-exact calibration against DuckDB's
    jaro_winkler_similarity — the property that lets q_fuzzy_rank grade
    similarity floats cross-engine."""

    def test_matches_duckdb_bit_exactly(self, duck):
        import random
        import string as _string

        from noaa_etl_spark.functions.strings import jaro_winkler_py

        rng = random.Random(7)
        pairs = [
            ("martha", "marhta"), ("dixon", "dicksonx"), ("abc", "abc"),
            ("abc", "xyz"), ("dwayne", "duane"), ("arnab", "aranb"),
            ("ab", ""), ("", ""), ("prefix", "prefixxxxxxlong"),
        ]
        for _ in range(300):
            a = "".join(rng.choices(_string.ascii_lowercase[:6], k=rng.randint(0, 10)))
            b = "".join(rng.choices(_string.ascii_lowercase[:6], k=rng.randint(0, 10)))
            pairs.append((a, b))
        for a, b in pairs:
            want = duck.execute(
                "SELECT jaro_winkler_similarity(?, ?)", [a, b]
            ).fetchone()[0]
            got = jaro_winkler_py(a, b)
            assert got == want, (a, b, got, want)

    def test_null_propagates(self, spark):
        from noaa_etl_spark.functions.strings import jaro_winkler

        df = spark.createDataFrame(
            [("a", None), (None, "b"), ("ab", "ab")], "x string, y string"
        ).select(jaro_winkler("x", "y").alias("jw"))
        vals = [r.jw for r in df.collect()]
        assert vals == [None, None, 1.0]


class TestHierarchy:
    """operators/hierarchy.py pointer doubling: deep-chain resolution in
    O(log depth) rounds, forests, and cycle failure."""

    def test_deep_chain_resolves_logarithmically(self, spark):
        from pyspark.sql import functions as F

        from noaa_etl_spark.operators.hierarchy import resolve_roots

        # a single 200-deep chain: node i's parent is i-1, root is 0
        nodes = spark.range(0, 200).select(
            F.col("id").alias("node"),
            F.when(F.col("id") == 0, F.lit(None).cast("bigint"))
            .otherwise(F.col("id") - 1)
            .alias("parent"),
        )
        # 2^9 = 512 ≥ 200: must converge within 9+1 doubling rounds
        out = {r.node: (r.root, r.depth) for r in resolve_roots(nodes, max_iter=10).collect()}
        assert out[0] == (0, 0)
        assert out[199] == (0, 199)
        assert out[100] == (0, 100)

    def test_forest_keeps_trees_apart(self, spark):
        from noaa_etl_spark.operators.hierarchy import resolve_roots

        rows = [(1, None), (2, None), (10, 1), (11, 1), (20, 2), (21, 20)]
        nodes = spark.createDataFrame(rows, "node bigint, parent bigint")
        out = {r.node: (r.root, r.depth) for r in resolve_roots(nodes).collect()}
        assert out == {
            1: (1, 0), 2: (2, 0),
            10: (1, 1), 11: (1, 1),
            20: (2, 1), 21: (2, 2),
        }

    def test_cycle_raises(self, spark):
        import pytest as _pytest

        from noaa_etl_spark.operators.hierarchy import resolve_roots

        nodes = spark.createDataFrame(
            [(1, 2), (2, 1)], "node bigint, parent bigint"
        )
        with _pytest.raises(RuntimeError, match="did not resolve"):
            resolve_roots(nodes, max_iter=5)


def test_hierarchy_dangling_parent_resolves_as_root(spark):
    """A parent referenced but absent from the node set (trimmed input,
    partial snapshot) must terminate as the deepest KNOWN ancestor, not
    spin to the iteration cap (surfaced by the 10x key-offset fixture)."""
    from noaa_etl_spark.operators.hierarchy import resolve_roots

    rows = [(5, None), (50, 5), (51, 5), (99, 9), (990, 99)]  # 9 missing
    nodes = spark.createDataFrame(rows, "node bigint, parent bigint")
    out = {r.node: (r.root, r.depth) for r in resolve_roots(nodes).collect()}
    assert out[5] == (5, 0) and out[50] == (5, 1) and out[51] == (5, 1)
    # 99's parent 9 is unknown: 99 roots at 9 with the known 1 edge
    assert out[99] == (9, 1)
    assert out[990] == (9, 2)


def test_approx_mad_tracks_exact_within_bin_bounds(spark):
    """operators/histogram.approx_mad: sketch median/MAD within the
    composed one-bin bounds of the exact values on the events fixture —
    the claimed scale swap for q_anomaly_mad, proven not just cited."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from noaa_etl_spark.io import load_table
    from noaa_etl_spark.operators.histogram import approx_mad

    ev = load_table(spark, "/root/testdata/sf0.01", "events").select(
        "event_type", "value"
    )
    dom = ev.agg(F.min("value"), F.max("value")).collect()[0]
    lo, hi = float(dom[0]), float(dom[1])
    n_bins = 256
    w = (hi - lo) / n_bins

    est = {
        r.event_type: (r.med_est, r.mad_est)
        for r in approx_mad(ev, "value", lo, hi, n_bins, ("event_type",)).collect()
    }

    gw = Window.partitionBy("event_type")
    exact = {
        r.event_type: (r.med, r.mad)
        for r in ev.withColumn("med", F.percentile("value", F.lit(0.5)).over(gw))
        .withColumn(
            "mad",
            F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).over(gw),
        )
        .select("event_type", "med", "mad")
        .distinct()
        .collect()
    }
    assert set(est) == set(exact)
    for g, (me, mde) in est.items():
        mex, mdx = exact[g]
        assert abs(me - mex) <= w + 1e-9, (g, me, mex)
        # med shift (≤w) + deviation-bin width (≤w here: same n_bins
        # over a span ≤ value span)
        assert abs(mde - mdx) <= 2 * w + 1e-9, (g, mde, mdx)


def test_bpe_train_textbook_corpus(spark):
    """Golden BPE merges on the classic low/lower/newest/widest corpus —
    hand-computable: es(9), est(9), lo(7), low(7), ew(6), ewest(6),
    newest(6), dest(3) with the (count desc, left asc, right asc)
    tie-break."""
    from noaa_etl_spark.operators.bpe import train_bpe

    words = spark.createDataFrame(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)],
        "word string, cnt bigint",
    )
    merges = train_bpe(words, 8)
    assert merges == [
        (0, "e", "s", 9),
        (1, "es", "t", 9),
        (2, "l", "o", 7),
        (3, "lo", "w", 7),
        (4, "e", "w", 6),
        (5, "ew", "est", 6),
        (6, "n", "ewest", 6),
        (7, "d", "est", 3),
    ]


def test_bpe_greedy_merge_nonoverlapping(spark):
    """The aggregate() fold is greedy left-to-right: 'aaa' under ('a','a')
    → ['aa','a'], never ['a','aa'] or a double-merge."""
    from noaa_etl_spark.operators.bpe import train_bpe

    merges = train_bpe(
        spark.createDataFrame([("aaa", 1)], "word string, cnt bigint"), 2
    )
    # round 0: pairs (a,a)x2 → merge; round 1: symbols ['aa','a'] → pair
    # (aa,a)x1 → merge
    assert merges == [(0, "a", "a", 2), (1, "aa", "a", 1)]


def test_bpe_stops_when_no_pairs(spark):
    from noaa_etl_spark.operators.bpe import train_bpe

    merges = train_bpe(
        spark.createDataFrame([("ab", 1)], "word string, cnt bigint"), 5
    )
    assert merges == [(0, "a", "b", 1)]


def test_bpe_local_equals_distributed(spark):
    """The driver-local fast path and the distributed per-round loop
    produce identical merge sequences (same argmax total order)."""
    from noaa_etl_spark.operators.bpe import train_bpe, train_bpe_local

    words = [("banana", 4), ("bandana", 2), ("cabana", 3), ("nab", 7)]
    df = spark.createDataFrame(words, "word string, cnt bigint")
    local = train_bpe_local(words, 10)
    dist = train_bpe(df, 10, local_vocab_cap=0)  # force distributed loop
    assert local == dist
    assert train_bpe(df, 10) == local  # default takes the local path


def test_bpe_encode_textbook_sequences(spark):
    """Encoding with the trained table reproduces the hand-derivable
    segmentations: training-corpus words collapse to their merged
    forms; unseen words segment with the same table."""
    from noaa_etl_spark.operators.bpe import encode_word, train_bpe

    words = spark.createDataFrame(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)],
        "word string, cnt bigint",
    )
    merges = train_bpe(words, 8)
    ranks = {(l, r): k for k, l, r, _ in merges}
    assert encode_word("low", ranks) == ["low"]
    assert encode_word("newest", ranks) == ["newest"]
    # 'lower': low + e + r (no 'er'/'we' merge was learned)
    assert encode_word("lower", ranks) == ["low", "e", "r"]
    # 'widest': w,i,d,est → d+est merged at rank 7
    assert encode_word("widest", ranks) == ["w", "i", "dest"]
    # unseen word reusing learned merges
    assert encode_word("lowest", ranks) == ["low", "est"]


def test_connected_components_path_star_and_isolation(spark, monkeypatch):
    """operators/graph.py hash-min + pointer jumping (the distributed
    arm, forced): a 9-node path (worst case for plain propagation —
    needs multi-hop), a star, a 2-cycle, and NULL endpoints (dropped,
    per the asof NULL contract)."""
    from noaa_etl_spark.operators import graph
    from noaa_etl_spark.operators.graph import connected_components

    monkeypatch.setattr(graph, "LOCAL_EDGE_CAP", 0)

    edges = [
        # path 1-2-3-...-9 (component min = 1)
        *[(i, i + 1) for i in range(1, 9)],
        # star centered at 20 (component min = 20)
        (20, 21), (20, 22), (20, 23),
        # 2-cycle 30-31 given both directions (symmetrize must dedup)
        (30, 31), (31, 30),
        # NULL endpoints: contribute nothing
        (None, 40), (41, None),
    ]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert {n for n in got if 1 <= n <= 9} == set(range(1, 10))
    assert all(got[n] == 1 for n in range(1, 10))
    assert all(got[n] == 20 for n in (20, 21, 22, 23))
    assert got[30] == 30 and got[31] == 30
    assert 40 not in got and 41 not in got


def test_connected_components_matches_union_find_on_random_graph(spark, monkeypatch):
    """Randomized (seeded) graph through the distributed arm (forced) vs
    a driver-side union-find reference."""
    import random

    from noaa_etl_spark.operators import graph
    from noaa_etl_spark.operators.graph import connected_components

    monkeypatch.setattr(graph, "LOCAL_EDGE_CAP", 0)

    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    want = {}
    comps: dict[int, int] = {}
    for n in parent:
        root = find(n)
        comps.setdefault(root, n)
        comps[root] = min(comps[root], n)
    for n in parent:
        want[n] = comps[find(n)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == want


def test_connected_components_log_depth_on_long_path(spark):
    """Pointer jumping must make a 2048-node path converge in O(log n)
    rounds: 16 rounds would be hopeless for plain min-label
    propagation (needs ~2047 rounds on this graph) but are ample for
    the shortcut form (2·log2(2048) = 22 ≥ actual)."""
    from noaa_etl_spark.operators.graph import _distributed_components, _edge_pairs

    n = 2048
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "src bigint, dst bigint"
    )
    got, rounds = _distributed_components(_edge_pairs(df, "src", "dst"))
    assert rounds <= 16
    assert got.filter("component != 1").count() == 0
    assert got.count() == n


def test_pagerank_matches_numpy_power_iteration(spark):
    """operators/graph.pagerank vs a dense numpy rendering of the SAME
    fixed-iteration scheme (damping 0.85, 15 rounds, dangling mass
    redistributed) — agreement to 1e-9, mass conservation to 1e-9·N,
    and the hub outranks its spokes."""
    import numpy as np

    from noaa_etl_spark.operators.graph import pagerank

    edges = [
        (1, 2), (2, 1),        # 2-cycle
        (3, 1), (4, 1), (5, 1),  # spokes -> hub 1
        (1, 6),                # hub passes mass on
        (7, 3),                # chain into a spoke
        (6, 8),                # 8 is dangling (no out-edges)
    ]
    nodes = sorted({n for e in edges for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = {u: 0 for u in nodes}
    for u, _ in edges:
        out[u] += 1
    r = np.ones(n)
    d = 0.85
    for _ in range(15):
        contrib = np.zeros(n)
        for u, v in edges:
            contrib[idx[v]] += r[idx[u]] / out[u]
        dangling = sum(r[idx[u]] for u in nodes if out[u] == 0)
        r = (1 - d) + d * (contrib + dangling / n)

    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {row["node"]: row["rank"] for row in pagerank(df).collect()}
    assert set(got) == set(nodes)
    for node in nodes:
        assert abs(got[node] - r[idx[node]]) < 1e-9, (node, got[node], r[idx[node]])
    assert abs(sum(got.values()) - n) < 1e-9 * n
    assert got[1] == max(got.values())


def test_graph_sized_shuffle_restores_conf(spark):
    """The scoped shuffle-partition sizing must restore the previous
    session value even when the loop raises."""
    from noaa_etl_spark.operators.graph import _graph_sized_shuffle

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key, None)
    try:
        with _graph_sized_shuffle(spark, 10_000_000):
            assert spark.conf.get(key) != before
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key, None) == before


def test_cross_corpus_minhash_recall_vs_bruteforce(spark):
    """minhash_lsh_cross_candidates vs the exact A×B Jaccard join at
    sf0.001: precision is exact by construction (survivors carry exact
    Jaccard), recall at tau=0.6 must clear the S-curve expectation
    (capture ≥ 1-(1-s^4)^8 ≈ 0.93 at s=0.6; ≥0.8 asserted to absorb
    fixture variance), and every reported pair crosses the corpora."""
    from pyspark.sql import functions as F

    from noaa_etl_spark.functions.text import ngrams, tokenize
    from noaa_etl_spark.io import load_table
    from noaa_etl_spark.operators.dedup import (
        jaccard,
        minhash_lsh_candidates,
        minhash_lsh_cross_candidates,
    )
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    gate = F.substring(
        F.md5(F.concat(F.lit("xc:"), F.col("doc_id").cast("string"))), 1, 1
    )
    a = docs.filter(gate >= "c")
    b = docs.filter(gate < "c")

    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_cross_candidates(a, b)
        .filter(F.col("jaccard_sim") >= 0.6)
        .collect()
    }

    grams = F.array_distinct(ngrams(tokenize(F.col("text")), 3))
    ga = a.select(F.col("doc_id").alias("id_a"), grams.alias("grams_a")).filter(
        F.size("grams_a") > 0
    )
    gb = b.select(F.col("doc_id").alias("id_b"), grams.alias("grams_b")).filter(
        F.size("grams_b") > 0
    )
    want = {
        (r["id_a"], r["id_b"])
        for r in ga.crossJoin(gb)
        .select("id_a", "id_b", jaccard(F.col("grams_a"), F.col("grams_b")).alias("j"))
        .filter(F.col("j") >= 0.6)
        .collect()
    }
    assert got <= want, "precision must be exact (verified candidates only)"
    if want:
        assert len(got) / len(want) >= 0.8, (len(got), len(want))
    a_ids = {r["doc_id"] for r in a.select("doc_id").collect()}
    for ia, ib in got:
        assert ia in a_ids and ib not in a_ids

    # Same banding as the self-join form: before the threshold, the
    # cross pairs are exactly the union's candidate pairs that cross A→B
    # (the hot-band cap never binds at this scale).
    cross = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_cross_candidates(a, b).select("id_a", "id_b").collect()
    }
    self_pairs = minhash_lsh_candidates(a.unionByName(b), verify=False).collect()
    crossing = {
        (x, y) if x in a_ids else (y, x)
        for x, y in ((r["id_a"], r["id_b"]) for r in self_pairs)
        if (x in a_ids) != (y in a_ids)
    }
    assert cross == crossing


def test_minhash_core_has_one_definition_per_stage():
    """Spark-free guard: in operators/dedup.py exactly one function
    builds MinHash band-key structs, spreads a gram array, ranks band
    buckets for the hot-band star, and labels survivors."""
    import ast

    import noaa_etl_spark.operators.dedup as mod

    tree = ast.parse(open(mod.__file__).read())
    builders = {"band keys": set(), "gram frame": set(), "band cap": set(), "survivors": set()}
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        for call in ast.walk(fn):
            if not isinstance(call, ast.Call):
                continue
            callee = getattr(call.func, "attr", getattr(call.func, "id", ""))
            consts = {
                n.value for a in call.args for n in ast.walk(a) if isinstance(n, ast.Constant)
            }
            names = {n.id for a in call.args for n in ast.walk(a) if isinstance(n, ast.Name)}
            if callee == "struct" and "band" in consts:
                builders["band keys"].add(fn.name)
            if callee == "spread_small_scan" and ("grams" in consts or "grams" in names):
                builders["gram frame"].add(fn.name)
            if callee == "alias" and consts == {"hub"}:
                builders["band cap"].add(fn.name)
            if callee == "coalesce" and "component" in consts:
                builders["survivors"].add(fn.name)
    assert {k: len(v) for k, v in builders.items()} == dict.fromkeys(builders, 1), builders


def test_ann_and_cc_cores_have_one_definition_per_stage():
    """Spark-free guard over operators/: exactly one function seeds
    kmeans++ (a weighted ``rng.choice``), exactly one takes row norms
    with ``np.linalg.norm``, exactly one in similarity.py ranks the
    per-query top-k window, and exactly one public function is a
    connected-components entry point."""
    import ast
    import pathlib

    import noaa_etl_spark.operators as ops

    found = {"kmeans++ seeding": set(), "row norms": set(), "top-k window": set(), "cc entry": set()}
    for path in sorted(pathlib.Path(ops.__file__).parent.glob("*.py")):
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            where = f"{path.stem}.{fn.name}"
            if fn.name.startswith("connected_components"):
                found["cc entry"].add(where)
            for call in ast.walk(fn):
                if not isinstance(call, ast.Call):
                    continue
                func = call.func
                callee = getattr(func, "attr", getattr(func, "id", ""))
                consts = {n.value for a in call.args for n in ast.walk(a) if isinstance(n, ast.Constant)}
                if callee == "choice" and any(kw.arg == "p" for kw in call.keywords):
                    found["kmeans++ seeding"].add(where)
                if callee == "norm" and getattr(func.value, "attr", "") == "linalg":
                    found["row norms"].add(where)
                if path.stem == "similarity" and callee == "partitionBy" and "query_id" in consts:
                    found["top-k window"].add(where)
    assert found == {
        "kmeans++ seeding": {"similarity._kmeans"},
        "row norms": {"similarity._row_norms"},
        "top-k window": {"similarity._rank_top_k"},
        "cc entry": {"graph.connected_components"},
    }, found


# ---------------------------------------------------------------------------
# Round-8 operators: CUSUM, KS drift, containment, RRF fusion

from tests.conftest import SF_DIR


def test_cusum_matches_reference_recursion(spark):
    """The drawdown identity S_t = C_t - min(0, min C_i) must reproduce
    the textbook recursion S_t = max(0, S_{t-1} + y_t) exactly — run the
    Python loop on the same scaled integers and compare every row."""
    from noaa_etl_spark.queries import QUERIES

    rows = QUERIES["q_changepoint_cusum"](spark, SF_DIR).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    assert by_type
    for et, group in by_type.items():
        group.sort(key=lambda r: r["day_idx"])
        n = len(group)
        tot = sum(r["day_cents"] for r in group)
        s = 0
        for r in group:
            s = max(0, s + (n * r["day_cents"] - tot))
            assert r["cusum_scaled"] == s, (et, r["day_idx"])
            assert r["is_alarm"] == (s > 2 * tot)


def test_ks_drift_matches_numpy_reference(spark):
    """d_num / (na*nb) must equal the directly-computed two-sample KS
    statistic sup|F1 - F2| for every source."""
    import numpy as np

    from noaa_etl_spark.io import load_table
    from noaa_etl_spark.queries import QUERIES

    docs = load_table(spark, SF_DIR, "documents").select("source", "n_chars").collect()
    ref = np.sort([r["n_chars"] for r in docs if r["source"] == "src0"])
    got = {r["source"]: r for r in QUERIES["q_ks_drift"](spark, SF_DIR).collect()}
    assert got
    for src, row in got.items():
        other = np.sort([r["n_chars"] for r in docs if r["source"] == src])
        pooled = np.union1d(ref, other)
        f1 = np.searchsorted(ref, pooled, side="right") / len(ref)
        f2 = np.searchsorted(other, pooled, side="right") / len(other)
        d = float(np.max(np.abs(f1 - f2)))
        assert row["na"] == len(ref) and row["nb"] == len(other)
        assert abs(row["ks_stat"] - d) < 1e-12, src


def test_containment_detects_planted_subset(spark, tmp_dir):
    """A doc pasted verbatim inside a larger doc must fire containment
    ≈ 1.0 in the small→big direction while its Jaccard stays low — the
    asymmetry that motivates the operator."""
    import os

    from noaa_etl_spark.queries import QUERIES

    base = ["alpha beta gamma delta epsilon zeta eta theta"]
    chunk = "iota kappa lambda mu nu xi omicron pi rho sigma"
    big = base[0] + " " + chunk + " tau upsilon phi chi psi omega " + base[0]
    rows = [
        (0, chunk, "en", "s", len(chunk)),
        (1, big, "en", "s", len(big)),
        (2, "unrelated words entirely different content here now", "en", "s", 50),
    ]
    sf = os.path.join(tmp_dir, "contain_sf")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))

    out = {
        (r["contained_id"], r["container_id"]): r["containment"]
        for r in QUERIES["q_containment_dedup"](spark, sf).collect()
    }
    assert out[(0, 1)] == 1.0          # chunk fully inside big
    assert (1, 0) not in out           # big is NOT contained in chunk
    assert (2, 1) not in out and (2, 0) not in out


def test_containment_df_cap_ignores_boilerplate_overlap(spark, tmp_dir):
    """On a templated corpus (80 docs sharing one boilerplate sentence
    that dominates their grams), the df-cap must (a) keep candidate
    generation bounded — no O(N²) pair explosion from hot shingles —
    and (b) not fire on pure-boilerplate overlap, while a planted
    subset pair with unique content is still found."""
    import os

    from noaa_etl_spark.queries import QUERIES

    boiler = " ".join(f"tpl{i}" for i in range(30))  # 28 hot grams, df=80
    rows = []
    for d in range(78):
        rows.append((d, f"{boiler} unique{d}a unique{d}b", "en", "s", 100))
    chunk = "planted alpha beta gamma delta epsilon zeta planted2"
    rows.append((100, chunk, "en", "s", len(chunk)))
    rows.append((101, chunk + " extra tail words here", "en", "s", 80))
    sf = os.path.join(tmp_dir, "contain_cap_sf")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))

    out = {
        (r["contained_id"], r["container_id"]): r["containment"]
        for r in QUERIES["q_containment_dedup"](spark, sf).collect()
    }
    # The planted subset pair fires through its (df=2) unique grams.
    assert out[(100, 101)] == 1.0
    # No templated pair fires: their only overlap is hot boilerplate.
    assert all(k == (100, 101) for k in out), sorted(out)[:5]


def test_containment_lsh_equals_exact_on_planted_subsets(spark, tmp_dir):
    """The LSH-blocked composition must agree with the exact df-capped
    form on planted subset-duplicates (deterministic MinHash seeds make
    capture on this fixed corpus reproducible, not flaky)."""
    import os

    from noaa_etl_spark.queries import QUERIES

    rng_words = [f"w{i}" for i in range(400)]
    rows = []
    for d in range(20):  # unrelated background docs
        ws = rng_words[d * 20:(d + 1) * 20]
        rows.append((d, " ".join(ws), "en", "s", 100))
    # Planted subsets: chunk pasted into a ~2x container (Jaccard ≈ 0.4,
    # comfortably above the 32/16 banding midpoint ≈ 0.25).
    chunk = "pl0 pl1 pl2 pl3 pl4 pl5 pl6 pl7 pl8 pl9 pl10 pl11"
    rows.append((200, chunk, "en", "s", len(chunk)))
    rows.append((201, chunk + " t0 t1 t2 t3 t4 t5", "en", "s", 90))
    chunk2 = "qq0 qq1 qq2 qq3 qq4 qq5 qq6 qq7 qq8 qq9"
    rows.append((300, chunk2, "en", "s", len(chunk2)))
    rows.append((301, "h0 h1 " + chunk2 + " h2 h3 h4", "en", "s", 80))
    sf = os.path.join(tmp_dir, "contain_lsh_sf")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))

    exact = {
        (r["contained_id"], r["container_id"]): (r["inter"], r["containment"])
        for r in QUERIES["q_containment_dedup"](spark, sf).collect()
    }
    lsh = {
        (r["contained_id"], r["container_id"]): (r["inter"], r["containment"])
        for r in QUERIES["q_containment_lsh"](spark, sf).collect()
    }
    # Both planted pairs are captured and score identically (shared
    # exact verify stage), and LSH emits nothing the exact form lacks.
    assert (200, 201) in lsh and (300, 301) in lsh
    for k, v in lsh.items():
        assert exact[k] == v, k
    assert exact[(200, 201)][1] == 1.0 and exact[(300, 301)][1] == 1.0


def test_rrf_fusion_rank_arithmetic(spark):
    """Fused scores must equal 1/(60+r_bm25) + 1/(60+r_cos) with absent
    ranks contributing 0, and the fused ordering must follow the score
    with doc_id tie-breaks."""
    from noaa_etl_spark.queries import QUERIES

    rows = QUERIES["q_rrf_fusion"](spark, SF_DIR).collect()
    assert rows
    seen_both = False
    for r in rows:
        expect = 0.0
        if r["bm25_rank"] is not None:
            assert 1 <= r["bm25_rank"] <= 50
            expect += 1.0 / (60 + r["bm25_rank"])
        if r["cos_rank"] is not None:
            assert 1 <= r["cos_rank"] <= 50
            expect += 1.0 / (60 + r["cos_rank"])
        seen_both = seen_both or (r["bm25_rank"] is not None and r["cos_rank"] is not None)
        assert r["rrf_score"] == expect, r
    ordered = sorted(rows, key=lambda r: (-r["rrf_score"], r["doc_id"]))
    assert [r["fused_rank"] for r in ordered] == list(range(1, len(rows) + 1))


def test_cdc_apply_matches_sequential_replay(spark):
    """Folding by arg_max(seq) must equal literally replaying the log
    in sequence order against a dict — the semantics CDC consumers
    promise."""
    from noaa_etl_spark.queries import QUERIES
    from noaa_etl_spark.queries.etl import cdc_changelog
    from noaa_etl_spark.io import load_table

    import math

    base = {
        r["c_custkey"]: math.floor(r["c_acctbal"] * 100)
        for r in load_table(spark, SF_DIR, "customer")
        .select("c_custkey", "c_acctbal")
        .collect()
    }
    log = sorted(
        cdc_changelog(spark, SF_DIR).collect(), key=lambda r: r["seq"]
    )
    state = dict(base)
    touched = {}
    for r in log:
        touched[r["key"]] = r["seq"]
        if r["op"] == "D":
            state.pop(r["key"], None)
        else:
            state[r["key"]] = r["new_bal_cents"]
    got = {
        r["key"]: (r["bal_cents"], r["status"], r["last_seq"])
        for r in QUERIES["q_cdc_apply"](spark, SF_DIR).collect()
    }
    assert set(got) == set(state)
    for k, bal in state.items():
        status = "updated" if k in touched else "unchanged"
        last = touched.get(k)
        assert got[k] == (bal, status, last), k


def test_winsorize_approx_properties_hold_and_cuts_near_exact(spark):
    """All graded envelope booleans must be TRUE, and the sketch
    cutpoints must sit within a ±2-rank envelope of the exact order
    statistics per event_type (accuracy 10k on ~600-row types ⇒ the
    sketch is effectively exact)."""
    from noaa_etl_spark.queries import QUERIES

    rows = QUERIES["q_winsorize_approx"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["lo_tail_upper_ok"] and r["lo_tail_lower_ok"], r
        assert r["hi_tail_upper_ok"] and r["hi_tail_lower_ok"], r


def test_anomaly_mad_approx_envelope_vs_exact(spark):
    """The approx med AND mad must land inside a ±2-rank envelope of
    the exact per-type order statistics (the sketch-dependent MAD leg
    a SQL oracle cannot express — asserted here instead)."""
    import math

    from noaa_etl_spark.io import load_table
    from noaa_etl_spark.queries import QUERIES
    from noaa_etl_spark.queries.windows import WINSOR_ACC

    pdf = (
        load_table(spark, SF_DIR, "events")
        .select("event_type", "value")
        .toPandas()
    )
    # reconstruct the twin's sketch outputs
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_DIR, "events").select("event_type", "value")
    med = {
        r["event_type"]: r["med"]
        for r in ev.groupBy("event_type")
        .agg(F.percentile_approx("value", F.lit(0.5), F.lit(WINSOR_ACC)).alias("med"))
        .collect()
    }

    def env(sorted_vals, q):
        n = len(sorted_vals)
        i = max(0, math.floor(q * n) - 2)
        j = min(n - 1, math.ceil(q * n) + 2)
        return sorted_vals[i], sorted_vals[j]

    for etype, grp in pdf.groupby("event_type"):
        vals = sorted(grp["value"].tolist())
        lo_b, hi_b = env(vals, 0.5)
        assert lo_b <= med[etype] <= hi_b, etype
        adev = sorted(abs(v - med[etype]) for v in vals)
        lo_b, hi_b = env(adev, 0.5)
        mad_rows = (
            ev.filter(F.col("event_type") == etype)
            .select(F.abs(F.col("value") - F.lit(med[etype])).alias("adev"))
            .agg(F.percentile_approx("adev", F.lit(0.5), F.lit(WINSOR_ACC)).alias("mad"))
            .collect()
        )
        assert lo_b <= mad_rows[0]["mad"] <= hi_b, etype

    # and the production outlier path runs clean end-to-end
    from noaa_etl_spark.queries.windows import mad_outliers_approx

    out = mad_outliers_approx(spark, SF_DIR)
    assert out.count() >= 0 and "mad" in out.columns


def test_event_sequence_cap_bounds_celebrity_user(spark, monkeypatch):
    """With the cap lowered to 5, a user's seq covers only their FIRST
    5 events by (ts, event_id) while seq_len reports the true count —
    the bounded-reducer contract for celebrity users."""
    from noaa_etl_spark.queries import QUERIES, temporal

    monkeypatch.setattr(temporal, "EVENT_SEQ_CAP", 5)
    rows = QUERIES["q_event_sequence"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert len(r["seq"]) == min(r["seq_len"], 5)
        assert r["seq_len"] >= 5  # fixture users all exceed the test cap


def test_cdc_apply_inserts_unseen_keys(spark):
    """Full Debezium semantics on synthetic data: an upsert for a key
    absent from the base snapshot INSERTS it; a delete for an absent
    key is a no-op. (The graded fixture can't exercise this path — its
    log keys are FK-guaranteed ⊆ base.)"""
    from noaa_etl_spark.queries.etl import cdc_apply

    base = spark.createDataFrame(
        [(1, 10.00), (2, 20.00), (3, 30.00)], ["c_custkey", "c_acctbal"]
    )
    latest = spark.createDataFrame(
        [
            (2, "U", 2222, 7),   # update existing
            (3, "D", 0, 8),      # delete existing
            (9, "U", 9999, 9),   # INSERT: key absent from base
            (10, "D", 0, 10),    # delete of absent key: no-op
        ],
        ["key", "op", "new_bal_cents", "last_seq"],
    )
    got = {
        r["key"]: (r["bal_cents"], r["status"], r["last_seq"])
        for r in cdc_apply(base, latest).collect()
    }
    assert got == {
        1: (1000, "unchanged", None),
        2: (2222, "updated", 7),
        9: (9999, "inserted", 9),
    }


def test_stream_cdc_apply_equals_batch(spark):
    """Hash-split (un-ordered) micro-batches must fold to the identical
    final snapshot."""
    from noaa_etl_spark.queries import QUERIES

    b = {r["key"]: (r["bal_cents"], r["status"], r["last_seq"])
         for r in QUERIES["q_cdc_apply"](spark, SF_SMALL).collect()}
    s = {r["key"]: (r["bal_cents"], r["status"], r["last_seq"])
         for r in QUERIES["q_stream_cdc_apply"](spark, SF_SMALL).collect()}
    assert b == s and b


def test_entropy_filter_matches_python_reference(spark):
    """27-expression entropy must match a direct Python computation to
    the 9-decimal grade on every doc."""
    import math

    from noaa_etl_spark.io import load_table
    from noaa_etl_spark.queries import QUERIES
    from noaa_etl_spark.queries.text import ENTROPY_ALPHABET

    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_DIR, "documents").collect()
    }
    rows = QUERIES["q_entropy_filter"](spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows[:200]:
        t = texts[r["doc_id"]].lower()
        counts = [t.count(c) for c in ENTROPY_ALPHABET]
        n = sum(counts)
        ent = 0.0
        for c in counts:
            if c > 0:
                p = c / n
                ent += -p * math.log2(p)
        assert r["n_counted"] == n
        assert abs(r["entropy_bits"] - ent) < 1e-8, r["doc_id"]
        assert r["keep"] == (r["entropy_bits"] >= 3.0)


def test_golden_record_latest_nonnull_rule(spark):
    """Per-attribute survivorship must pick the highest-seq NON-NULL
    replica value (reference replay over the same md5 gates)."""
    import hashlib
    import math

    from noaa_etl_spark.io import load_table
    from noaa_etl_spark.queries import QUERIES

    cust = {
        r["c_custkey"]: r
        for r in load_table(spark, SF_DIR, "customer").collect()
    }

    def gate(tag, key, seq):
        return hashlib.md5(f"{tag}:{key}:{seq}".encode()).hexdigest()[0] < "4"

    got = {r["key"]: r for r in QUERIES["q_golden_record"](spark, SF_DIR).collect()}
    assert set(got) == set(cust)
    for key, c in list(cust.items())[:300]:
        row = got[key]
        for tag, col, mk in (
            ("gr_bal", "golden_bal_cents", lambda s: math.floor(c["c_acctbal"] * 100) + s),
            ("gr_seg", "golden_segment", lambda s: c["c_mktsegment"]),
            ("gr_nam", "golden_name", lambda s: c["c_name"]),
        ):
            vals = [None if gate(tag, key, s) else mk(s) for s in (0, 1, 2)]
            nonnull = [(s, v) for s, v in zip((0, 1, 2), vals) if v is not None]
            expect = nonnull[-1][1] if nonnull else None
            assert row[col] == expect, (key, col)


def test_mutual_knn_is_reciprocal_and_nonempty(spark):
    """Every emitted pair must be each side's top-1 of the other (checked
    against a numpy cross-score reference), and the fixture yields a
    non-trivial pair set."""
    import numpy as np

    from noaa_etl_spark.io import load_table
    from noaa_etl_spark.queries import QUERIES
    from pyspark.sql import functions as F

    got = {(r["a_id"], r["b_id"]) for r in QUERIES["q_mutual_knn"](spark, SF_DIR).collect()}
    assert got

    emb = load_table(spark, SF_DIR, "embeddings")
    gate = F.substring(F.md5(F.concat(F.lit("mk:"), F.col("vec_id").cast("string"))), 1, 1)
    a_rows = emb.filter(gate < "4").select("vec_id", "embedding").collect()
    b_rows = emb.filter(gate >= "c").select("vec_id", "embedding").collect()
    a_ids = np.array([r[0] for r in a_rows]); b_ids = np.array([r[0] for r in b_rows])
    A = np.array([r[1] for r in a_rows], dtype=np.float64)
    B = np.array([r[1] for r in b_rows], dtype=np.float64)
    A /= np.linalg.norm(A, axis=1, keepdims=True)
    B /= np.linalg.norm(B, axis=1, keepdims=True)
    sims = np.round(A @ B.T, 6)  # the rounded output contract

    def top1(sim_row, ids):
        best = sim_row.max()
        return ids[np.flatnonzero(sim_row == best)].min()  # min-id tiebreak

    expect = set()
    for i, aid in enumerate(a_ids):
        bid = top1(sims[i], b_ids)
        j = int(np.flatnonzero(b_ids == bid)[0])
        if top1(sims[:, j], a_ids) == aid:
            expect.add((int(aid), int(bid)))
    assert got == expect


def test_triangle_count_matches_python_bruteforce(spark):
    """Edge/wedge/triangle counts must equal a set-based Python count
    over the identical co-purchase pair set."""
    from itertools import combinations

    from noaa_etl_spark.io import load_table
    from noaa_etl_spark.queries import QUERIES
    from pyspark.sql import functions as F

    li = load_table(spark, SF_SMALL, "lineitem").filter(F.col("l_quantity") >= 45)
    rows = li.select("l_orderkey", "l_partkey").collect()
    by_order = {}
    for r in rows:
        by_order.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    edges = set()
    for parts in by_order.values():
        for u, v in combinations(sorted(parts), 2):
            edges.add((u, v))
    deg = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    tri = sum(
        1
        for (u, v) in edges
        for w in adj[u] & adj[v]
        if w > v  # u < v < w once
    )
    wedges = sum(d * (d - 1) // 2 for d in deg.values())

    got = QUERIES["q_triangle_count"](spark, SF_SMALL).collect()[0]
    assert got["n_edges"] == len(edges)
    assert got["n_wedges"] == wedges
    assert got["n_triangles"] == tri
    if wedges:
        assert abs(got["global_clustering"] - 3.0 * tri / wedges) < 1e-15


def test_pareto_frontier_matches_bruteforce(spark):
    """The two-phase frontier must equal the O(n²) dominance scan."""
    import math

    from noaa_etl_spark.io import load_table
    from noaa_etl_spark.queries import QUERIES

    rows = load_table(spark, SF_DIR, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    ).collect()
    pts = [(r["p_partkey"], math.floor(r["p_retailprice"] * 100), r["p_size"]) for r in rows]

    def dominated(p):
        return any(
            q[1] <= p[1] and q[2] >= p[2] and (q[1] < p[1] or q[2] > p[2])
            for q in pts
        )

    want = {p[0] for p in pts if not dominated(p)}
    got = {r["p_partkey"] for r in QUERIES["q_pareto_frontier"](spark, SF_DIR).collect()}
    assert got == want and got


def test_ab_test_report_matches_python_reference(spark):
    """Welch z per event_type must match a direct Python computation
    over the identical hash assignment (sequential-sum tolerance only —
    Python sums in row order, the engines in partition order, so exact
    bit-equality is engine-to-engine, not engine-to-Python)."""
    import hashlib
    import math

    from noaa_etl_spark.io import load_table
    from noaa_etl_spark.queries import QUERIES

    rows = load_table(spark, SF_SMALL, "events").select(
        "event_type", "user_id", "value"
    ).collect()
    groups = {}
    for r in rows:
        arm = "A" if hashlib.md5(f"ab:{r['user_id']}".encode()).hexdigest()[0] < "8" else "B"
        groups.setdefault((r["event_type"], arm), []).append(math.floor(r["value"] * 100))
    for r in QUERIES["q_ab_test_report"](spark, SF_SMALL).collect():
        a = groups[(r["event_type"], "A")]
        b = groups[(r["event_type"], "B")]
        assert (r["n_a"], r["n_b"]) == (len(a), len(b))
        ma, mb = sum(a) / len(a), sum(b) / len(b)
        va = (sum(x * x for x in a) - sum(a) ** 2 / len(a)) / (len(a) - 1)
        vb = (sum(x * x for x in b) - sum(b) ** 2 / len(b)) / (len(b) - 1)
        z = (ma - mb) / math.sqrt(va / len(a) + vb / len(b))
        assert abs(r["mean_a"] - ma) < 1e-9 and abs(r["mean_b"] - mb) < 1e-9
        assert abs(r["welch_z"] - z) < 1e-9


def test_bfs_distances_path_graph(spark):
    """Hop distances on a 12-node path seeded at one end: node i is
    exactly i hops away, nodes beyond the cap absent; a disconnected
    node never appears; a NULL endpoint is dropped not propagated."""
    from noaa_etl_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)] + [(100, 101), (None, 5)],
        "src bigint, dst bigint",
    )
    seeds = spark.createDataFrame([(0,)], "node bigint")
    got = {
        r["node"]: r["hops"]
        for r in bfs_distances(edges, seeds, max_hops=6).collect()
    }
    assert got == {i: i for i in range(7)}  # 0..6, beyond-cap absent


def test_bfs_distances_multi_source_min(spark):
    """Two seeds: every node takes the distance to its NEAREST seed
    (first-arrival anti-join = min), and early exit on a drained
    frontier terminates before the cap."""
    from noaa_etl_spark.operators.graph import bfs_distances

    # path 0-1-2-3-4 with seeds {0, 4}: middle node 2 is 2 hops either way
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "src bigint, dst bigint"
    )
    seeds = spark.createDataFrame([(0,), (4,)], "node bigint")
    got = {
        r["node"]: r["hops"]
        for r in bfs_distances(edges, seeds, max_hops=50).collect()
    }
    assert got == {0: 0, 4: 0, 1: 1, 3: 1, 2: 2}


# --- Holt-Winters seasonal fold ---------------------------------------


def test_holt_winters_matches_python_reference(spark):
    """The Spark fold must equal a plain-Python implementation of the
    identical recurrence over the identical dense series (alpha = beta =
    gamma = 1/2, m = 7, seed l=y1/b=0/s=zeros) — bit-exact."""
    from noaa_etl_spark.queries.temporal import q_holt_winters_seasonal

    out = {
        r["event_type"]: r
        for r in q_holt_winters_seasonal(spark, SF_SMALL).collect()
    }
    daily = (
        load_table(spark, SF_SMALL, "events")
        .select(
            "event_type",
            F.floor(F.unix_micros("ts") / F.lit(86_400_000_000))
            .cast("bigint")
            .alias("d"),
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("cents").alias("c"))
        .collect()
    )
    by_type: dict = {}
    for r in daily:
        by_type.setdefault(r["event_type"], {})[r["d"]] = float(r["c"])
    assert out, "fixture must produce at least one series"
    for et, days in by_type.items():
        mn, mx = min(days), max(days)
        ys = [days.get(d, 0.0) for d in range(mn, mx + 1)]
        l, b, s = ys[0], 0.0, [0.0] * 7
        for y in ys[1:]:
            nl = 0.5 * (y - s[0]) + 0.5 * (l + b)
            nb = 0.5 * (nl - l) + 0.5 * b
            ns = 0.5 * (y - nl) + 0.5 * s[0]
            l, b, s = nl, nb, s[1:] + [ns]
        row = out[et]
        assert row["n_days"] == len(ys)
        assert row["level"] == l and row["trend"] == b
        assert row["s_next"] == s[0]
        assert row["forecast_3d"] == l + 3 * b + s[2]


# --- clamped running balance ------------------------------------------


def test_running_balance_floor_matches_python_fold(spark):
    """Per-user clamped fold == a plain-Python replay over the same
    (ts, event_id)-ordered deltas; clamp count and high-water exact."""
    from noaa_etl_spark.queries.temporal import q_running_balance_floor

    got = {
        r["user_id"]: r for r in q_running_balance_floor(spark, SF_SMALL).collect()
    }
    ev = (
        load_table(spark, SF_SMALL, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .collect()
    )
    hist: dict = {}
    for r in ev:
        d = -r["cents"] if r["event_type"] == "purchase" else r["cents"]
        hist.setdefault(r["user_id"], []).append((r["us"], r["event_id"], d))
    assert len(got) == len(hist)
    clamped_somewhere = False
    for uid, rows in hist.items():
        bal = nc = mx = 0
        for _, _, d in sorted(rows):
            raw = bal + d
            if raw < 0:
                nc += 1
            bal = max(0, raw)
            mx = max(mx, bal)
        row = got[uid]
        assert (row["final_balance_cents"], row["n_clamps"], row["max_balance_cents"]) == (bal, nc, mx)
        assert row["n_events"] == len(rows)
        clamped_somewhere = clamped_somewhere or nc > 0
    assert clamped_somewhere, "fixture should exercise the clamp branch"


# --- NDCG ---------------------------------------------------------------


def test_ndcg_perfect_ranker_scores_one(spark):
    """When the ranker order equals the ideal order, NDCG == 1 exactly
    (dcg and idcg are the same rounded fold)."""
    from noaa_etl_spark.queries.text import q_ndcg_eval

    rows = q_ndcg_eval(spark, SF_SMALL).collect()
    assert rows, "every BM25 term occurs in the fixture corpus"
    for r in rows:
        assert 0.0 < r["ndcg"] <= 1.0
        assert r["idcg"] >= r["dcg"] > 0.0
        assert r["n_matched"] > 0


# --- neighborhood Jaccard ----------------------------------------------


def test_jaccard_neighbors_matches_bruteforce(spark):
    """Engine output == a Python brute force over the same edge set."""
    from noaa_etl_spark.queries.scale import q_jaccard_neighbors

    li = (
        load_table(spark, SF_SMALL, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_partkey")
        .collect()
    )
    orders: dict = {}
    for r in li:
        orders.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    edges = set()
    for parts in orders.values():
        ps = sorted(parts)
        for i, u in enumerate(ps):
            for v in ps[i + 1:]:
                edges.add((u, v))
    nbr: dict = {}
    for u, v in edges:
        nbr.setdefault(u, set()).add(v)
        nbr.setdefault(v, set()).add(u)
    expect = {}
    nodes = sorted(nbr)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            common = len(nbr[a] & nbr[b])
            if common >= 2:
                expect[(a, b)] = (
                    common,
                    len(nbr[a]),
                    len(nbr[b]),
                    common / (len(nbr[a]) + len(nbr[b]) - common),
                )
    got = {
        (r["u"], r["v"]): (
            r["common_neighbors"],
            r["deg_u"],
            r["deg_v"],
            r["jaccard"],
        )
        for r in q_jaccard_neighbors(spark, SF_SMALL).collect()
    }
    assert got == expect
    assert expect, "fixture graph must contain >=1 common-neighbor pair"


# --- n-gram novelty ------------------------------------------------------


def test_ngram_novelty_duplicate_contributes_zero(spark):
    """A later exact duplicate adds grams but zero novel grams: on a
    synthetic frame [fresh doc, exact copy], the copy's source shows
    novelty 0 while the original's shows 1."""
    from noaa_etl_spark.queries import text as text_q

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", "en", "first", 30),
            (2, "alpha beta gamma delta epsilon", "en", "copy", 30),
            (3, "zeta eta theta iota kappa", "en", "first", 25),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    import noaa_etl_spark.io as io_mod

    orig = io_mod.load_table
    try:
        io_mod.load_table = lambda _s, _d, _t: docs
        text_q.load_table = io_mod.load_table
        out = {r["source"]: r for r in text_q.q_ngram_novelty(spark, "ignored").collect()}
    finally:
        io_mod.load_table = orig
        text_q.load_table = orig
    assert out["first"]["novelty"] == 1.0
    assert out["copy"]["novelty"] == 0.0
    assert out["copy"]["n_grams"] == 3 and out["copy"]["n_novel"] == 0


# --- global sort index ---------------------------------------------------


def test_global_sort_index_matches_window_rank(spark):
    """Positions from the two-pass range scheme == row_number()-1 under
    the same total order, on a skewed synthetic frame (one hot key value
    spanning many range partitions' worth of rows)."""
    from pyspark.sql import Window

    from noaa_etl_spark.operators.order_index import global_sort_index

    df = spark.range(0, 10000).select(
        F.col("id"),
        F.when(F.col("id") % 10 < 7, F.lit(42)).otherwise(F.col("id") % 97).alias("k"),
    )
    got = {
        r["id"]: r["position"]
        for r in global_sort_index(df, [("k", True), ("id", True)]).collect()
    }
    w = Window.orderBy("k", "id")
    want = {
        r["id"]: r["p"]
        for r in df.select(
            "id", (F.row_number().over(w) - 1).cast("bigint").alias("p")
        ).collect()
    }
    assert got == want
    assert sorted(got.values()) == list(range(10000))


def test_global_sort_index_empty_frame(spark):
    from noaa_etl_spark.operators.order_index import global_sort_index

    df = spark.range(0).select(F.col("id"), (F.col("id") % 3).alias("k"))
    assert global_sort_index(df, [("k", True), ("id", True)]).count() == 0


# --- entity resolution ----------------------------------------------------


def test_entity_resolution_transitive_chaining(spark):
    """A~B and B~C at distance 1 (A and C at distance 2) must resolve to
    ONE entity labeled by the lexicographically first name; unrelated
    names stay singletons."""
    from noaa_etl_spark.queries import etl as etl_q

    part = spark.createDataFrame(
        [
            (1, "steel bolt", "B1", "t", 1, 1.0),
            (2, "steel bolts", "B1", "t", 1, 1.0),   # dist 1 from "steel bolt"
            (3, "steel boltss", "B1", "t", 1, 1.0),  # dist 1 from "steel bolts", 2 from "steel bolt"
            (4, "copper pipe", "B2", "t", 1, 1.0),
            (5, "steel bolt", "B9", "t", 1, 1.0),    # duplicate name rides the same node
        ],
        "p_partkey bigint, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
    )
    import noaa_etl_spark.io as io_mod

    orig = io_mod.load_table
    try:
        io_mod.load_table = lambda _s, _d, _t: part
        etl_q.load_table = io_mod.load_table
        out = {r["cluster_rep"]: r for r in etl_q.q_entity_resolution(spark, "x").collect()}
    finally:
        io_mod.load_table = orig
        etl_q.load_table = orig
    assert set(out) == {"copper pipe", "steel bolt"}
    chain = out["steel bolt"]
    assert chain["n_members"] == 3 and chain["n_parts"] == 4
    assert chain["min_partkey"] == 1
    single = out["copper pipe"]
    assert single["n_members"] == 1 and single["n_parts"] == 1


# --- grid-density geo clustering -----------------------------------------


def test_geo_cluster_separated_blobs(spark):
    """Two dense blobs separated by >1 empty cell resolve to two
    clusters; sparse cells (< 3 points) never appear."""
    from noaa_etl_spark.queries import scalars as scalars_q

    # custkey % 120 drives lat, % 300 drives lon — the joint residue
    # lattice (period 600) realizes only some (lat_cell, lon_cell)
    # combos, so derive REACHABLE cells: k and k+600·j share a cell.
    cell_of = {}
    for k in range(600):
        cell_of.setdefault(((k % 120) // 2, (k % 300) // 4), k)
    cells = sorted(cell_of)

    def cheb(a, b):
        return max(abs(a[0] - b[0]), abs(a[1] - b[1]))

    c1, c2 = next(
        (a, b) for a in cells for b in cells if a < b and cheb(a, b) == 1
    )
    c3 = next(c for c in cells if cheb(c, c1) > 2 and cheb(c, c2) > 2)
    c4 = next(
        c for c in cells if all(cheb(c, o) > 2 for o in (c1, c2, c3))
    )
    ks = (
        [cell_of[c1] + 600 * j for j in range(3)]    # blob A cell 1 (dense)
        + [cell_of[c2] + 600 * j for j in range(3)]  # blob A cell 2 (adjacent)
        + [cell_of[c3] + 600 * j for j in range(4)]  # blob B (far away)
        + [cell_of[c4] + 600 * j for j in range(2)]  # sparse cell (dropped)
    )
    cust = spark.createDataFrame(
        [(k, f"c{k}", 0, 0.0, "S") for k in ks],
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    )
    import noaa_etl_spark.io as io_mod

    orig = io_mod.load_table
    try:
        io_mod.load_table = lambda _s, _d, _t: cust
        scalars_q.load_table = io_mod.load_table
        rows = {
            (r["rep_cell_lat"], r["rep_cell_lon"]): r
            for r in scalars_q.q_geo_cluster(spark, "x").collect()
        }
    finally:
        io_mod.load_table = orig
        scalars_q.load_table = orig
    rep_a = min(c1, c2)
    assert set(rows) == {rep_a, c3}
    assert rows[rep_a]["n_cells"] == 2 and rows[rep_a]["n_points"] == 6
    assert rows[c3]["n_cells"] == 1 and rows[c3]["n_points"] == 4


# --- cohort LTV ----------------------------------------------------------


def test_user_ltv_cumulative_invariants(spark):
    """Per cohort: weeks_since 0 exists, cum_cents is nondecreasing in
    weeks_since, ltv = cum/n exactly, and cohort sizes match the
    retention query's week-0 counts."""
    from noaa_etl_spark.queries.temporal import q_cohort_retention, q_user_ltv

    rows = q_user_ltv(spark, SF_SMALL).collect()
    assert rows
    by_cohort: dict = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_week"], []).append(r)
        assert r["ltv_cents"] == r["cum_cents"] / r["n_users"]
    ret0 = {
        r["cohort_week"]: r["n_users"]
        for r in q_cohort_retention(spark, SF_SMALL).collect()
        if r["weeks_since"] == 0
    }
    for cw, rs in by_cohort.items():
        rs.sort(key=lambda r: r["weeks_since"])
        assert rs[0]["weeks_since"] == 0
        assert all(a["cum_cents"] <= b["cum_cents"] for a, b in zip(rs, rs[1:]))
        assert all(r["n_users"] == rs[0]["n_users"] for r in rs)
        assert ret0[cw] == rs[0]["n_users"]


def test_holt_winters_zero_fills_day_gaps(spark):
    """A missing day is a 0-revenue step in the dense series (n_days
    counts it; the fold consumes it) — and the map lookup behind the
    spine returns NULL (not an ANSI error) for absent keys, so a
    gappier regenerated fixture cannot throw."""
    from noaa_etl_spark.queries.temporal import holt_winters_from_daily

    df = spark.createDataFrame(
        [("a", 0, 100), ("a", 2, 300)],
        "event_type string, day_idx bigint, day_cents bigint",
    )
    row = holt_winters_from_daily(df).collect()[0]
    # python replay over ys = [100, 0, 300]
    l, b, s = 100.0, 0.0, [0.0] * 7
    for y in (0.0, 300.0):
        nl = 0.5 * (y - s[0]) + 0.5 * (l + b)
        nb = 0.5 * (nl - l) + 0.5 * b
        ns = 0.5 * (y - nl) + 0.5 * s[0]
        l, b, s = nl, nb, s[1:] + [ns]
    assert row["n_days"] == 3
    assert (row["level"], row["trend"], row["s_next"]) == (l, b, s[0])
    assert row["forecast_3d"] == l + 3 * b + s[2]


# --- PERMISSIVE csv pruning trap ------------------------------------------


def test_csv_corrupt_marker_lost_under_pruning(spark):
    """Pin the trap q_csv_malformed_recovery defends against: a SHORT
    row gets the corrupt marker when all columns are read, but NOT in
    a column-pruned read — so quarantine logic must also check
    required-field nullness."""
    import os

    p = os.path.join(SCRATCH_ROOT, "csv_prune_probe")
    spark.createDataFrame([("1,A,10.5",), ("13,C",)], "value string") \
        .coalesce(1).write.mode("overwrite").text(p)
    reader = (
        spark.read.schema("k BIGINT, s STRING, v DOUBLE, _corrupt STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
    )
    full = reader.csv(p).collect()          # all columns -> marker set
    assert sum(r["_corrupt"] is not None for r in full) == 1
    pruned = reader.csv(p).select("s", "_corrupt").collect()
    assert all(r["_corrupt"] is None for r in pruned), (
        "pruned reads now mark short rows — the belt-and-suspenders "
        "nullness check in q_csv_malformed_recovery can be simplified"
    )


def test_balanced_class_sample_exact_k(spark):
    """Exactly min(50, |class|) rows per language, ranks 1..k."""
    from noaa_etl_spark.queries.sampling import q_balanced_class_sample

    rows = q_balanced_class_sample(spark, SF_SMALL).collect()
    sizes = {
        r["lang"]: r["n"]
        for r in load_table(spark, SF_SMALL, "documents")
        .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r["rk"])
    assert set(by_lang) == set(sizes)
    for lang, rks in by_lang.items():
        k = min(50, sizes[lang])
        assert sorted(rks) == list(range(1, k + 1))


# --- product quantization -------------------------------------------------


def test_pq_encode_contracts(spark):
    """Codes in range, deterministic re-encode, reconstruction beats the
    1-centroid (global mean) baseline, ADC top-10 overlaps exact
    brute-force top-10."""
    import numpy as np

    from noaa_etl_spark.operators.pq import (
        pq_adc_scores,
        pq_encode,
        train_pq_codebooks,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    books = train_pq_codebooks(emb)
    m, k, sub = books.shape
    rows = pq_encode(emb, books).collect()
    rows2 = pq_encode(emb, books).collect()
    assert sorted((r["vec_id"], tuple(r["codes"])) for r in rows) == sorted(
        (r["vec_id"], tuple(r["codes"])) for r in rows2
    )
    assert all(0 <= c < k for r in rows for c in r["codes"])
    assert all(len(r["codes"]) == m for r in rows)

    raw = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    mat = np.array([raw[r["vec_id"]] for r in rows])
    # 1-centroid baseline: quantize every vector to the global mean
    base_mse = ((mat - mat.mean(0)) ** 2).sum(1).mean() / mat.shape[1]
    mean_mse = float(np.mean([r["recon_mse"] for r in rows]))
    assert mean_mse < base_mse, (mean_mse, base_mse)

    # ADC recall@10 vs exact L2 for 5 held-in queries
    ids = [r["vec_id"] for r in rows]
    codes = np.array([r["codes"] for r in rows])
    hits = 0
    for qid in ids[:5]:
        q = raw[qid]
        exact = sorted(ids, key=lambda i: ((raw[i] - q) ** 2).sum())[1:11]
        adc = pq_adc_scores(q, codes, books)
        approx = [ids[j] for j in np.argsort(adc, kind="stable")][:12]
        hits += len(set(exact) & set(approx))
    assert hits / 50 >= 0.4, f"ADC recall@10 too low: {hits/50}"  # measured 0.70-0.72 both SFs


def test_semantic_decontaminate_recovers_planted_leak_exactly(spark):
    """The benchmark is an md5-gated subset of the corpus itself: the
    flagged set must be EXACTLY the planted rows (recall: every plant
    self-matches at cos 1.0; precision: nothing else clears 0.95 on
    this fixture — max cross cosine ~0.49, probed)."""
    from pyspark.sql import functions as F

    from noaa_etl_spark.io import load_table
    from noaa_etl_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    flagged = {
        r["vec_id"]: (r["bench_id"], r["cos_sim"])
        for r in QUERIES["q_semantic_decontaminate"](spark, SF_DIR).collect()
    }
    emb = load_table(spark, SF_DIR, "embeddings")
    planted = {
        r["vec_id"]
        for r in emb.filter(
            F.substring(
                F.md5(F.concat(F.lit("sdc:"), F.col("vec_id").cast("string"))), 1, 1
            )
            == "0"
        ).collect()
    }
    assert set(flagged) == planted and planted
    for vid, (bid, cs) in flagged.items():
        assert bid == vid, "plant must match itself, not a neighbor"
        assert cs == 1.0


def _brute_kcore(edges, k):
    """Reference peel: remove nodes with degree < k until fixpoint.
    Returns {node: core_degree}."""
    import collections

    adj = collections.defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj[n]:
                    adj[m].discard(n)
                del adj[n]
                changed = True
    return {n: len(ns) for n, ns in adj.items()}


def test_kcore_clique_with_tail(spark):
    """A K5 clique wearing a chain tail: the 3-core is exactly the
    clique (tail nodes peel off one shell at a time), every survivor at
    core degree 4."""
    from noaa_etl_spark.operators.graph import kcore

    clique = [(u, v) for u in range(5) for v in range(u + 1, 5)]
    tail = [(4, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(clique + tail, "u bigint, v bigint")
    got = {r["node"]: r["core_deg"] for r in kcore(edges, k=3).collect()}
    assert got == {n: 4 for n in range(5)}


def test_kcore_regular_graph_below_k_empty(spark):
    """A cycle is 2-regular: its 3-core is empty (the whole graph peels
    in one round)."""
    from noaa_etl_spark.operators.graph import kcore

    n = 12
    cyc = [(min(i, (i + 1) % n), max(i, (i + 1) % n)) for i in range(n)]
    edges = spark.createDataFrame(sorted(set(cyc)), "u bigint, v bigint")
    assert kcore(edges, k=3).count() == 0


def test_kcore_matches_bruteforce_on_random_graph(spark):
    """Random graph (seeded): distributed peel == reference peel exactly,
    node set AND per-node core degree, across two k values."""
    import random

    from noaa_etl_spark.operators.graph import kcore

    rng = random.Random(711)
    n = 60
    raw = {(min(u, v), max(u, v))
           for u, v in (sorted(rng.sample(range(n), 2)) for _ in range(220))}
    edges = spark.createDataFrame(sorted(raw), "u bigint, v bigint")
    for k in (2, 3):
        got = {r["node"]: r["core_deg"] for r in kcore(edges, k=k).collect()}
        assert got == _brute_kcore(raw, k), f"k={k}"


def test_salted_shuffle_join_matches_plain_join(spark):
    """Salting is result-invisible: inner and left legs must equal the
    plain join exactly, including NULL fact keys (never match) and hot
    keys (match every build row for the key exactly once)."""
    from noaa_etl_spark.operators.skew import salted_shuffle_join

    fact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (3, 30), (None, 40), (9, 50)],
        "k int, payload int",
    )
    build = spark.createDataFrame(
        [(1, "a"), (2, "b"), (4, "d")], "bk int, tag string"
    )
    for how in ("inner", "left"):
        got = sorted(
            [
                (r["k"], r["payload"], r["tag"])
                for r in salted_shuffle_join(
                    fact, build, "k", "bk", salt_col="payload", buckets=4, how=how
                ).collect()
            ],
            key=str,
        )
        want = sorted(
            [
                (r["k"], r["payload"], r["tag"])
                for r in fact.join(build, fact.k == build.bk, how).collect()
            ],
            key=str,
        )
        assert got == want, how

    import pytest as _pytest

    with _pytest.raises(ValueError):
        salted_shuffle_join(fact, build, "k", "bk", salt_col="payload", how="full")


class TestCovarianceMatrix:
    """q_covariance_matrix: exact quantized-moment covariance."""

    def test_matches_numpy_exactly(self, spark):
        """cov/corr doubles must equal an independent numpy evaluation
        of the same fixed expressions over the same quantized integers
        (not just the DuckDB mirror of the same SQL)."""
        import numpy as np
        import pandas as pd

        from noaa_etl_spark.queries import QUERIES
        from tests.conftest import SF_DIR

        out = (
            QUERIES["q_covariance_matrix"](spark, SF_DIR)
            .toPandas()
            .set_index(["label", "i", "j"])
            .sort_index()
        )
        emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
        mat = np.stack(emb["embedding"].to_numpy())[:, :8].astype(np.float64)
        q = np.floor(mat * 1048576.0).astype(np.int64)
        for label, grp in emb.groupby("label"):
            qg = q[emb["label"].to_numpy() == label]
            n = len(qg)
            for i in range(8):
                for j in range(i, 8):
                    sx, sy = int(qg[:, i].sum()), int(qg[:, j].sum())
                    sxy = int((qg[:, i] * qg[:, j]).sum())
                    sxx = int((qg[:, i] * qg[:, i]).sum())
                    syy = int((qg[:, j] * qg[:, j]).sum())
                    row = out.loc[(label, i, j)]
                    assert row["n"] == n
                    assert row["sx"] == sx and row["sy"] == sy and row["sxy"] == sxy
                    # mirror the engines' DOUBLE chain (the finalize is
                    # float-form so it cannot overflow BIGINT at scale —
                    # the 100x-probe lesson), not integer-then-cast
                    num = float(n) * float(sxy) - float(sx) * float(sy)
                    cov = num / (float(n) * float(n) * 1099511627776.0)
                    assert row["cov"] == cov  # bit-equal, not approx
                    vx = float(n) * float(sxx) - float(sx) * float(sx)
                    vy = float(n) * float(syy) - float(sy) * float(sy)
                    if vx <= 0 or vy <= 0:
                        assert pd.isna(row["corr"])
                    else:
                        corr = num / (math.sqrt(vx) * math.sqrt(vy))
                        assert row["corr"] == corr

    def test_moments_merge_equals_recompute(self, spark):
        """The twin contract: per-split moment partials folded by
        addition equal the one-pass moments (pure BIGINT sums)."""
        from pyspark.sql import functions as F

        from noaa_etl_spark.io import load_table
        from noaa_etl_spark.queries.similarity import covariance_moments
        from tests.conftest import SF_DIR

        emb = load_table(spark, SF_DIR, "embeddings")
        full = covariance_moments(emb).toPandas().set_index("label").sort_index()
        gate = F.pmod(F.xxhash64(F.lit("t"), F.col("vec_id")), F.lit(3))
        parts = [covariance_moments(emb.filter(gate == i)) for i in range(3)]
        import functools

        union = functools.reduce(lambda a, b: a.unionByName(b), parts)
        sum_cols = [c for c in full.columns]
        folded = (
            union.groupBy("label")
            .agg(*[F.sum(c).cast("bigint").alias(c) for c in sum_cols])
            .toPandas()
            .set_index("label")
            .sort_index()
        )
        assert folded.equals(full)


class TestMannWhitneyU:
    """q_mannwhitney_u: tie-corrected rank-sum vs brute force."""

    def test_matches_bruteforce_ranks(self, spark):
        """U and z must equal an independent average-rank computation
        (scipy-style midranks over the pooled sample)."""
        import numpy as np
        import pandas as pd

        from noaa_etl_spark.queries import QUERIES
        from tests.conftest import SF_DIR

        out = (
            QUERIES["q_mannwhitney_u"](spark, SF_DIR)
            .toPandas()
            .set_index("source")
            .sort_index()
        )
        docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
        ref = docs.loc[docs["source"] == "src0", "n_chars"].to_numpy()
        for src, grp in docs[docs["source"] != "src0"].groupby("source"):
            cur = grp["n_chars"].to_numpy()
            pool = np.concatenate([ref, cur])
            order = np.argsort(pool, kind="mergesort")
            ranks = np.empty(len(pool), dtype=np.float64)
            sorted_vals = pool[order]
            i = 0
            r = 1
            while i < len(pool):
                jj = i
                while jj + 1 < len(pool) and sorted_vals[jj + 1] == sorted_vals[i]:
                    jj += 1
                avg = (r + (r + (jj - i))) / 2.0
                ranks[order[i : jj + 1]] = avg
                r += jj - i + 1
                i = jj + 1
            rb = ranks[len(ref) :].sum()
            na, nb = len(ref), len(cur)
            u = rb - nb * (nb + 1) / 2.0
            row = out.loc[src]
            assert row["u2"] == int(round(2 * u))
            # tie term
            _, counts = np.unique(pool, return_counts=True)
            t = int((counts.astype(np.int64) ** 3 - counts).sum())
            assert row["tie_t"] == t
            nn = na + nb
            var = (
                float(na * nb)
                * float(nn**3 - nn - t)
                / (12.0 * float(nn) * float(nn - 1))
            )
            z = (row["u2"] - na * nb) / (2.0 * math.sqrt(var))
            assert abs(row["z"] - z) < 1e-12

    def test_degenerate_single_tie_block_is_null(self, spark, tmp_path):
        """All pooled values equal -> var 0 -> z NULL (regen guard)."""
        import pandas as pd

        from noaa_etl_spark.queries import QUERIES

        d = tmp_path / "sf"
        d.mkdir()
        docs = pd.DataFrame(
            {
                "doc_id": range(6),
                "text": ["x"] * 6,
                "lang": ["en"] * 6,
                "source": ["src0"] * 3 + ["src1"] * 3,
                "n_chars": [7] * 6,
            }
        )
        docs.to_parquet(d / "documents.parquet")
        out = QUERIES["q_mannwhitney_u"](spark, str(d)).toPandas()
        assert len(out) == 1
        assert pd.isna(out.loc[0, "z"]) and pd.isna(out.loc[0, "reject_95"])


class TestChiSquareIndependence:
    """q_chi_square_independence vs an independent numpy evaluation."""

    def test_matches_numpy(self, spark):
        import numpy as np
        import pandas as pd

        from noaa_etl_spark.queries import QUERIES
        from tests.conftest import SF_DIR

        out = QUERIES["q_chi_square_independence"](spark, SF_DIR).toPandas()
        ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
        band = np.minimum(np.floor(ev["value"].to_numpy() / 50), 4).astype(np.int64)
        ct = pd.crosstab(ev["event_type"], band)
        o = ct.to_numpy().astype(np.int64)
        n = int(o.sum())
        r = o.sum(axis=1)
        c = o.sum(axis=0)
        chi2 = 0.0
        # fold in (type, band) order like both engines
        for i in range(o.shape[0]):
            for j in range(o.shape[1]):
                num = int(o[i, j]) * n - int(r[i]) * int(c[j])
                chi2 += float(num * num) / float(n * int(r[i]) * int(c[j]))
        assert out.loc[0, "n_total"] == n
        assert out.loc[0, "dof"] == (o.shape[0] - 1) * (o.shape[1] - 1)
        assert abs(out.loc[0, "chi2"] - round(chi2, 6)) < 1e-9


class TestQuantileNormalize:
    """q_quantile_normalize: empirical-CDF matching contracts."""

    def test_mapping_properties(self, spark):
        import pandas as pd

        from noaa_etl_spark.queries import QUERIES
        from tests.conftest import SF_DIR

        out = QUERIES["q_quantile_normalize"](spark, SF_DIR).toPandas()
        docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
        ref = sorted(docs.loc[docs["source"] == "src0", "n_chars"].tolist())
        ref_set = set(ref)
        for src, grp in out.groupby("source"):
            g = grp.sort_values("v")
            # monotone: higher source value never maps lower
            assert g["norm_v"].is_monotonic_increasing
            # every normalized value is an actual reference value
            assert set(g["norm_v"]).issubset(ref_set)
            # the top of each source maps to the reference max
            assert g["norm_v"].iloc[-1] == ref[-1]

    def test_matches_numpy_replay(self, spark):
        """Independent replay of the rank arithmetic (not the SQL)."""
        import math as m

        import pandas as pd

        from noaa_etl_spark.queries import QUERIES
        from tests.conftest import SF_DIR

        out = (
            QUERIES["q_quantile_normalize"](spark, SF_DIR)
            .toPandas()
            .set_index(["source", "v"])
            .sort_index()
        )
        docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
        ref = sorted(docs.loc[docs["source"] == "src0", "n_chars"].tolist())
        na = len(ref)
        for src, grp in docs[docs["source"] != "src0"].groupby("source"):
            vals = sorted(grp["n_chars"].tolist())
            ns = len(vals)
            cs = 0
            from collections import Counter

            for v, c in sorted(Counter(vals).items()):
                cs += c
                idx = -(-cs * na // ns)  # ceil
                row = out.loc[(src, v)]
                assert row["c"] == c
                assert row["norm_v"] == ref[idx - 1]


class TestGeohashEncode:
    """q_geohash_encode vs the classic bisection encoder."""

    @staticmethod
    def _ref_geohash(lat: float, lon: float, length: int = 6) -> str:
        from noaa_etl_spark.queries.scalars import GEOHASH_B32

        lat_lo, lat_hi = -90.0, 90.0
        lon_lo, lon_hi = -180.0, 180.0
        bits = []
        even = True  # longitude first
        while len(bits) < 5 * length:
            if even:
                mid = (lon_lo + lon_hi) / 2
                if lon >= mid:
                    bits.append(1)
                    lon_lo = mid
                else:
                    bits.append(0)
                    lon_hi = mid
            else:
                mid = (lat_lo + lat_hi) / 2
                if lat >= mid:
                    bits.append(1)
                    lat_lo = mid
                else:
                    bits.append(0)
                    lat_hi = mid
            even = not even
        out = []
        for t in range(length):
            v = 0
            for b in bits[5 * t : 5 * t + 5]:
                v = v * 2 + b
            out.append(GEOHASH_B32[v])
        return "".join(out)

    def test_matches_bisection_encoder(self, spark):
        from noaa_etl_spark.queries import QUERIES
        from tests.conftest import SF_DIR

        rows = QUERIES["q_geohash_encode"](spark, SF_DIR).collect()
        assert rows
        for r in rows:
            k = r["c_custkey"]
            lat = (k % 120) - 60.0 + 0.5
            lon = (k % 300) - 150.0 + 0.5
            assert r["geohash"] == self._ref_geohash(lat, lon), (
                k,
                lat,
                lon,
                r["geohash"],
            )

    def test_prefix_is_containment(self, spark):
        """Geohash contract: equal 4-char prefixes = same 20-bit cell
        (truncation is the multi-resolution rollup)."""
        from noaa_etl_spark.queries import QUERIES
        from tests.conftest import SF_DIR

        rows = QUERIES["q_geohash_encode"](spark, SF_DIR).collect()
        for r in rows:
            assert r["geohash"][:4] == self._ref_geohash(
                (r["c_custkey"] % 120) - 59.5,
                (r["c_custkey"] % 300) - 149.5,
                length=4,
            )


class TestAbSrmAndDelta:
    """SRM goodness-of-fit + delta-method ratio metric vs numpy."""

    def test_srm_matches_direct_computation(self, spark):
        import hashlib

        import pandas as pd

        from noaa_etl_spark.queries import QUERIES
        from tests.conftest import SF_DIR

        out = QUERIES["q_ab_srm_check"](spark, SF_DIR).toPandas()
        ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
        users = ev["user_id"].dropna().unique()
        a = sum(
            1
            for u in users
            if hashlib.md5(f"ab:{u}".encode()).hexdigest()[0] < "8"
        )
        n = len(users)
        assert out.loc[0, "n_a"] == a and out.loc[0, "n_units"] == n
        chi2 = float((2 * a - n) ** 2) / float(n)
        assert out.loc[0, "chi2"] == chi2
        assert bool(out.loc[0, "srm_detected"]) == (chi2 > 3.841459)

    def test_delta_method_matches_numpy(self, spark):
        """z must match an independent numpy delta-method evaluation
        to float precision (the formula, not the SQL mirror)."""
        import hashlib

        import numpy as np
        import pandas as pd

        from noaa_etl_spark.queries import QUERIES
        from tests.conftest import SF_DIR

        out = QUERIES["q_ratio_metric_delta"](spark, SF_DIR).toPandas()
        ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
        ev = ev[ev["user_id"].notna()].copy()
        ev["cents"] = np.floor(ev["value"] * 100).astype(np.int64)
        stats = {}
        for arm_name in ("A", "B"):
            rows = []
            for u, g in ev.groupby("user_id"):
                arm = (
                    "A"
                    if hashlib.md5(f"ab:{u}".encode()).hexdigest()[0] < "8"
                    else "B"
                )
                if arm != arm_name:
                    continue
                x = int(g.loc[g["event_type"] == "purchase", "cents"].sum())
                y = int((g["event_type"] == "click").sum())
                rows.append((x, y))
            xs = np.array([r[0] for r in rows], dtype=np.float64)
            ys = np.array([r[1] for r in rows], dtype=np.float64)
            n = len(rows)
            r = xs.sum() / ys.sum()
            sxx = np.cov(xs, ddof=1)
            syy = np.cov(ys, ddof=1)
            sxy = np.cov(xs, ys, ddof=1)[0, 1]
            var = (sxx - 2 * r * sxy + r * r * syy) / (n * (ys.mean() ** 2))
            stats[arm_name] = (n, r, float(var))
        za = (stats["A"][1] - stats["B"][1]) / np.sqrt(
            stats["A"][2] + stats["B"][2]
        )
        assert out.loc[0, "n_a"] == stats["A"][0]
        assert out.loc[0, "n_b"] == stats["B"][0]
        assert abs(out.loc[0, "ratio_a"] - stats["A"][1]) < 1e-12
        assert abs(out.loc[0, "z"] - za) < 1e-9


class TestSimhashNearDup:
    """simhash_near_dup == brute-force hamming over all pairs (the
    banding is lossless for hamming <= 3 by pigeonhole: 4 chunks, at
    most 3 differing bits => one chunk untouched)."""

    def test_matches_bruteforce(self, spark):
        import itertools

        from noaa_etl_spark.functions.text import tokenize
        from noaa_etl_spark.operators.dedup import simhash64, simhash_near_dup

        rows = [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dogs"),  # near-dup of 1
            (3, "completely different text about spark physical plans"),
            (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (5, "spark physical plans are completely different text about"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_near_dup(df, max_hamming=3).collect()
        }
        sh = {
            r["doc_id"]: r["sh"]
            for r in df.select(
                "doc_id", simhash64(tokenize(F.col("text"))).alias("sh")
            ).collect()
        }
        want = {}
        for a, b in itertools.combinations(sorted(sh), 2):
            h = bin((sh[a] ^ sh[b]) & ((1 << 64) - 1)).count("1")
            if h <= 3:
                want[(a, b)] = h
        assert got == want
        assert (1, 4) in want  # exact dup pair present at hamming 0


def test_label_propagation_matches_python_reference(spark):
    """Deterministic sync LPA (min-label tiebreak, fixed rounds) must
    equal a straightforward Python reference on planted shapes: two
    cliques joined by one bridge edge resolve to two communities led by
    their min ids, and the operator is round-for-round identical to the
    reference on a random-ish sparse graph."""
    from noaa_etl_spark.operators.graph import label_propagation

    def ref_lpa(edge_list, rounds):
        from collections import Counter, defaultdict

        adj = defaultdict(set)
        for u, v in edge_list:
            adj[u].add(v)
            adj[v].add(u)
        labels = {n: n for n in adj}
        for _ in range(rounds):
            new = {}
            for n in adj:
                c = Counter(labels[m] for m in adj[n])
                top = max(c.values())
                new[n] = min(l for l, k in c.items() if k == top)
            labels = new
        return labels

    # Two 6-cliques bridged by a single edge (5, 100).
    cliq = [(i, j) for i in range(6) for j in range(i + 1, 6)]
    cliq += [(100 + i, 100 + j) for i in range(6) for j in range(i + 1, 6)]
    cliq += [(5, 100)]
    for rounds in (1, 3, 5):
        exp = ref_lpa(cliq, rounds)
        edges = spark.createDataFrame(cliq, "u bigint, v bigint")
        got = {
            r["node"]: r["label"]
            for r in label_propagation(edges, rounds=rounds).collect()
        }
        assert got == exp, f"rounds={rounds}: {got} != {exp}"
    # After 3+ rounds the two cliques are distinct min-led communities.
    assert {exp[i] for i in range(6)} == {0}
    assert {exp[100 + i] for i in range(1, 6)} == {100}

    # Sparse deterministic pseudo-random graph: exact equality again.
    rnd = [(i, (i * 37 + 11) % 60) for i in range(60)]
    rnd = [(min(a, b), max(a, b)) for a, b in rnd if a != b]
    rnd = sorted(set(rnd))
    exp = ref_lpa(rnd, 5)
    edges = spark.createDataFrame(rnd, "u bigint, v bigint")
    got = {
        r["node"]: r["label"] for r in label_propagation(edges, rounds=5).collect()
    }
    assert got == exp


def test_mutual_knn_ivf_precision_and_recall(spark):
    """The IVF gear of mutual kNN: every emitted pair must be mutually
    best WITHIN the retrieved sets (precision property of the
    reciprocity join — index-agnostic), and capture vs the exact mutual
    pairs must clear a recall floor on the fixture embeddings."""
    from noaa_etl_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    exact = {
        (r["a_id"], r["b_id"])
        for r in QUERIES["q_mutual_knn"](spark, SF_DIR).collect()
    }
    ivf = {
        (r["a_id"], r["b_id"])
        for r in QUERIES["q_mutual_knn_ivf"](spark, SF_DIR).collect()
    }
    assert exact, "fixture produced no exact mutual pairs"
    # Recall floor: IVF probes a subset of cells; on the fixture's
    # clustered embeddings capture stays well above half.
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.5, f"IVF mutual recall collapsed: {recall:.2f}"
    # Graceful precision: pairs outside the exact set are allowed only
    # as mutually-best-in-retrieved (when IVF missed a true best
    # neighbor on one side) — they must still be distinct a/b ids and
    # bounded in number (no fan-in explosion from the reciprocity join).
    assert len(ivf - exact) <= len(exact)
    a_ids = [a for a, _ in ivf]
    b_ids = [b for _, b in ivf]
    assert len(a_ids) == len(set(a_ids)) and len(b_ids) == len(set(b_ids))


def test_record_linkage_block_cap_refuses_degenerate_blocks(spark):
    """FS_BLOCK_CAP guardrail: a verbatim-duplicated entity (block
    deeper than the cap) is refused outright — no quadratic garbage
    pairs — while normal blocks link exactly as without the cap."""
    import noaa_etl_spark.queries.etl as etl_mod
    from noaa_etl_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    base = QUERIES["q_record_linkage_fs"](spark, SF_DIR)
    n_base = base.count()
    assert n_base > 0
    old = etl_mod.FS_BLOCK_CAP
    try:
        # A cap of 0 refuses EVERY block — the degenerate-block path,
        # exercised without synthesizing a 512-deep fixture.
        etl_mod.FS_BLOCK_CAP = 0
        assert QUERIES["q_record_linkage_fs"](spark, SF_DIR).count() == 0
        # A huge cap is a no-op: identical pair set.
        etl_mod.FS_BLOCK_CAP = 1_000_000
        loose = QUERIES["q_record_linkage_fs"](spark, SF_DIR)
        assert loose.count() == n_base
    finally:
        etl_mod.FS_BLOCK_CAP = old


def test_minhash_sketch_dedup_planted(spark):
    """The sketch gear (signature-agreement verify, no gram arrays):
    (a) planted exact-dup cliques must merge (identical grams =>
    identical signatures => est = 1.0 in every band); (b) unrelated
    docs must stay singletons; (c) output is total + survivor = min id
    (the minhash_lsh_dedup contract)."""
    from noaa_etl_spark.operators.dedup import minhash_sketch_dedup

    base = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten eleven",
        "red orange yellow green blue indigo violet cyan magenta",
        "north south east west up down left right forward backward",
    ]
    rows = []
    did = 0
    for g, text in enumerate(base):
        for _ in range(3):  # clique of 3 exact dups per group
            rows.append((did, text))
            did += 1
    # distinct singletons
    rows.append((did, "lorem ipsum dolor sit amet consectetur adipiscing"))
    rows.append((did + 1, "pack my box with five dozen liquor jugs quickly"))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    labeled = {r["id"]: r for r in minhash_sketch_dedup(docs, threshold=0.6).collect()}
    assert len(labeled) == len(rows)
    for g in range(len(base)):
        ids = [3 * g, 3 * g + 1, 3 * g + 2]
        comps = {labeled[i]["component"] for i in ids}
        assert comps == {min(ids)}, f"clique {g} not merged: {comps}"
        assert [labeled[i]["keep"] for i in ids] == [True, False, False]
    for i in (did, did + 1):
        assert labeled[i]["component"] == i and labeled[i]["keep"]


def test_minhash_sketch_recall_vs_exact(spark):
    """On a corpus of high-overlap near-dup pairs (one word substituted
    in 24 kills 3 of 22 3-gram shingles => J = 19/25 = 0.76, confirmed
    per pair via the exact operator at threshold 0.7), the sketch gear
    at threshold 0.5 must recover >= 80% of the exact pairs (banding
    capture at 32/8 for J = 0.76 is ~0.96; est sd ~0.075 => the 0.26
    margin to the 0.5 cut makes estimate flips negligible)."""
    from noaa_etl_spark.operators.dedup import (
        minhash_sketch_dedup,
        ngram_jaccard_pairs,
    )

    words = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lamda mu "
        "nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    ).split()
    rows = []
    for i in range(20):
        # pair 2i/2i+1: same 24 words, one substituted -> J ~ 0.76
        w = [f"{x}{i}" for x in words]
        rows.append((2 * i, " ".join(w)))
        w2 = list(w)
        w2[11] = "SUBST"
        rows.append((2 * i + 1, " ".join(w2)))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.7).collect()
    }
    assert len(exact) == 20, f"planted corpus: expected 20 exact pairs, {exact}"
    labeled = {r["id"]: r["component"] for r in minhash_sketch_dedup(
        docs, threshold=0.5
    ).collect()}
    got = sum(1 for a, b in exact if labeled[a] == labeled[b])
    assert got / len(exact) >= 0.8, f"sketch recall {got}/{len(exact)}"


def test_simhash_frame_matches_simhash64(spark):
    """simhash_frame (explode + 64 SUM votes, whole-stage codegen) is
    value-identical to the simhash64 expression fold — the pin the r15
    optimization docstring promises (VERDICT r15 item 9), including the
    empty-text / NULL-text seed (sh = 0)."""
    from noaa_etl_spark.functions.text import tokenize
    from noaa_etl_spark.operators.dedup import simhash64, simhash_frame

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "spark physical plans are completely different text"),
        (3, ""),
        (4, None),
        (5, "one"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    frame = {r["id"]: r["sh"] for r in simhash_frame(df).collect()}
    expr = {
        r["doc_id"]: r["sh"]
        for r in df.select(
            "doc_id", simhash64(tokenize(F.col("text"))).alias("sh")
        ).collect()
    }
    # the expression fold seeds NULL-token-array docs at 0 too
    expr = {k: (v if v is not None else 0) for k, v in expr.items()}
    assert frame == expr


def test_semantic_dedup_brute_force_null_zero_ragged_semantics(spark):
    """ADVICE r15 regression pins for the numpy brute-force branch:
    (a) zero-norm pairs (cos = 0/0) are NOT hits — pinned to the DuckDB
    oracle's semantics (division there yields NULL, never NaN, and
    NULL >= t is not true) and to the LSH branch's 1e-12 norm floor;
    (b) NULL vectors / NULL elements never drop and are never dropped
    (SQL NULL propagation); (c) unequal-length pairs never hit (zip_with
    pads with NULL) while equal-length pairs compare normally;
    (d) the output schema mirrors the input id dtype."""
    from noaa_etl_spark.operators.similarity import semantic_dedup

    rows = [
        (1, [0.0, 0.0]),       # zero vector: every pair 0/0 -> non-hit
        (2, [0.0, 0.0]),       # zero vector: kept (zero-norm non-hit)
        (3, None),             # NULL vector: inert
        (4, [1.0, 0.0]),
        (5, [2.0, 0.0]),       # cos 1.0 vs id 4 -> dropped
        (6, [1.0]),            # ragged length-1 group
        (7, [3.0]),            # cos 1.0 vs id 6 (same length) -> dropped
        (8, [0.0, 1.0]),       # orthogonal to 4, 0/0 vs 1-2 -> kept
        (9, [1.0, None]),      # NULL element: inert
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = semantic_dedup(df, threshold=0.9)
    assert dict(out.dtypes)["dropped_id"] == "int"  # (d) dtype preserved
    assert {r["dropped_id"] for r in out.collect()} == {5, 7}
