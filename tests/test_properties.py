"""Property-based tests (hypothesis): engine operators vs plain-Python
references on generated inputs, plus run-to-run determinism of the
float-bearing graded queries (the driver value-hashes results — any
nondeterminism is an instant correctness failure)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from noaa_etl_spark.functions.text import ngrams, tokenize
from noaa_etl_spark.operators.sessionize import sessionize
from noaa_etl_spark.queries import ORACLES, QUERIES
from tests.conftest import SF_DIR


tokens_lists = st.lists(
    st.lists(st.sampled_from(["a", "bb", "ccc", "dd", "e"]), min_size=0, max_size=12),
    min_size=1,
    max_size=25,
)


@given(data=tokens_lists, n=st.integers(2, 4))
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_ngrams_matches_python_reference(spark, data, n):
    df = spark.createDataFrame([(i, " ".join(t)) for i, t in enumerate(data)], "id long, text string")
    got = {
        r["id"]: r["grams"]
        for r in df.select("id", ngrams(tokenize(F.col("text")), n).alias("grams")).collect()
    }
    for i, toks in enumerate(data):
        toks = " ".join(toks).split(" ")  # mirror the split-on-space tokenizer (empty text → [''])
        want = [" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)]
        assert got[i] == want, f"row {i}: {got[i]} != {want}"


events_lists = st.lists(
    st.tuples(
        st.integers(0, 3),          # user
        st.integers(0, 100_000),    # seconds offset
    ),
    min_size=1,
    max_size=60,
)


@given(data=events_lists)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_sessionize_matches_python_reference(spark, data):
    gap = 1800
    rows = [
        (i, u, f"2024-01-01 00:00:00.{i:03d}", s)
        for i, (u, s) in enumerate(data)
    ]
    df = spark.createDataFrame(
        [(i, u, s) for i, u, _ts, s in rows], "event_id long, user_id long, sec long"
    ).select(
        "event_id",
        "user_id",
        (F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=F.col("sec"))).alias("ts"),
    )
    got = {
        r["event_id"]: r["session_id"]
        for r in sessionize(df, tiebreak_col="event_id", gap_seconds=gap).collect()
    }
    # Python reference.
    per_user: dict = {}
    for i, (u, s) in enumerate(data):
        per_user.setdefault(u, []).append((s, i))
    want = {}
    for u, evs in per_user.items():
        evs.sort()
        sid = 0
        prev = None
        for s, i in evs:
            if prev is None or s - prev > gap:
                sid += 1
            want[i] = sid
            prev = s
    assert got == want


# --- run-to-run determinism of float-bearing graded queries ------------

FLOAT_RISKY = [
    "q_udaf_trimmed_mean",
    "q_grouped_zscore",
    "q_knn_cosine",
    "q_pricing_summary",
    "q_tfidf",
    "q_centroid_by_label",
    "q_window_rolling_1h",
]


@pytest.mark.parametrize("name", FLOAT_RISKY)
def test_float_query_is_run_deterministic(spark, name):
    a = QUERIES[name](spark, SF_DIR).toPandas()
    b = QUERIES[name](spark, SF_DIR).toPandas()
    a = a[sorted(a.columns)].sort_values(by=list(sorted(a.columns)), ignore_index=True)
    b = b[sorted(b.columns)].sort_values(by=list(sorted(b.columns)), ignore_index=True)
    assert a.equals(b), f"{name} differs between two identical runs"


def test_hll_sketch_union_tracks_exact_distincts(spark):
    """The HLL sketch estimates (per-day and union-of-sketches) must sit
    within the lgConfigK=14 error envelope of the exact distinct counts
    (~0.8% standard error; assert a generous 5%), and the union of daily
    sketches must estimate the same cardinality as a direct global
    count_distinct — the property that makes persisted sketches safe to
    answer range queries without rescanning history."""
    from noaa_etl_spark.io import load_table
    from noaa_etl_spark.queries import QUERIES

    out = {r["d"]: r for r in QUERIES["q_hll_sketch_union"](spark, SF_DIR).collect()}
    ev = load_table(spark, SF_DIR, "events")
    exact_daily = {
        r["d"]: r["n"]
        for r in ev.groupBy(F.to_date("ts").alias("d"))
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    exact_total = ev.select("user_id").distinct().count()

    total_row = out.pop(None)
    assert abs(total_row["approx_users_total"] - exact_total) / exact_total < 0.05
    assert set(out) == set(exact_daily)
    for d, row in out.items():
        exact = exact_daily[d]
        assert abs(row["approx_users"] - exact) / max(exact, 1) < 0.05, (d, row, exact)


@given(data=tokens_lists)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_chunker_matches_python_reference(spark, data):
    """Sliding-window chunker vs a plain-Python reference on generated
    token lists: every chunk start, length, and content signature must
    match — coverage (every token in ≥1 chunk) falls out of the start
    rule. Independent of the DuckDB oracle, which shares slicing
    semantics and could in principle share a blind spot."""
    import hashlib

    from noaa_etl_spark.queries.text import chunk_documents_projection

    df = spark.createDataFrame(
        [(i, " ".join(t) if t else "") for i, t in enumerate(data)],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["n_chunk_tokens"], r["chunk_sig"])
        for r in chunk_documents_projection(df).collect()
    }
    want = {}
    for i, t in enumerate(data):
        toks = (" ".join(t) if t else "").split(" ")
        for idx, s in enumerate(range(0, len(toks), 48)):
            chunk = toks[s : s + 64]
            want[(i, idx)] = (
                len(chunk),
                hashlib.md5(" ".join(chunk).encode()).hexdigest(),
            )
    assert got == want


@given(
    vecs=st.lists(
        st.lists(
            st.floats(min_value=-10, max_value=10, allow_nan=False, width=32),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=10,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_quantizer_matches_python_reference(spark, vecs):
    """int8 quantization aggregates vs plain Python float64 math — same
    floor(v*127/scale + 0.5) contract, scale floored at 1e-12."""
    import math

    from noaa_etl_spark.queries import QUERIES  # noqa: F401  (registration)
    from noaa_etl_spark.queries.similarity import q_quantize_int8

    df = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "embeddings.parquet"))
        got = {
            r["vec_id"]: (r["dim"], r["q_sum"], r["q_l1"])
            for r in q_quantize_int8(spark, d).collect()
        }
    import numpy as np

    want = {}
    for i, v in enumerate(vecs):
        f32 = [float(np.float32(x)) for x in v]
        scale = max(max(abs(x) for x in f32), 1e-12)
        q = [math.floor(x * 127.0 / scale + 0.5) for x in f32]
        want[i] = (len(v), sum(q), sum(abs(x) for x in q))
    assert got == want


words_strategy = st.lists(
    st.tuples(
        st.text(alphabet="abcde", min_size=1, max_size=8),
        st.integers(1, 50),
    ),
    min_size=1,
    max_size=20,
)


@given(word_counts=words_strategy, n_merges=st.integers(0, 12))
@settings(max_examples=200, deadline=None)
def test_bpe_encode_is_lossless_and_merges_valid(word_counts, n_merges):
    """Pure-Python BPE properties on generated dictionaries: (1) every
    learned merge's concatenation decomposes back into its two parts,
    (2) encoding ANY word (training or unseen) with the learned ranks
    concatenates back to the original word — BPE is lossless by
    construction, and a greedy-fold bug (e.g. overlapping-merge
    mishandling, the 'aaa' class) breaks exactly this invariant."""
    from noaa_etl_spark.operators.bpe import encode_word, train_bpe_local

    # collapse duplicate words the way the corpus word-count agg would
    wc: dict[str, int] = {}
    for w, c in word_counts:
        wc[w] = wc.get(w, 0) + c
    merges = train_bpe_local(list(wc.items()), n_merges)
    ranks = {(left, right): rank for rank, left, right, _ in merges}
    for rank, left, right, cnt in merges:
        assert left + right and cnt >= 1
    for w in list(wc) + ["aaa", "ababab", "edcba"]:
        assert "".join(encode_word(w, ranks)) == w


@given(word_counts=words_strategy, seed=st.integers(0, 1000))
@settings(max_examples=100, deadline=None)
def test_bpe_training_is_input_order_invariant(word_counts, seed):
    """Shuffling the word dictionary must not change the learned merge
    sequence — the driver-local analog of the distributed trainer's
    partitioning-independence (exact integer counts + total tie-break
    ⇒ the argmax is order-free)."""
    import random

    from noaa_etl_spark.operators.bpe import train_bpe_local

    wc: dict[str, int] = {}
    for w, c in word_counts:
        wc[w] = wc.get(w, 0) + c
    items = list(wc.items())
    base = train_bpe_local(list(items), 8)
    rng = random.Random(seed)
    shuffled = list(items)
    rng.shuffle(shuffled)
    assert train_bpe_local(shuffled, 8) == base


edges_strategy = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)),
    min_size=1,
    max_size=40,
)


@given(edges=edges_strategy)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_matches_union_find_property(spark, monkeypatch, edges):
    """Hypothesis twin of the seeded random-graph test: small generated
    graphs (self-loops, parallel edges, arbitrary shapes) through the
    distributed arm (forced) vs a driver-side union-find — shrinking
    localizes any propagation bug to a minimal edge set."""
    from noaa_etl_spark.operators import graph
    from noaa_etl_spark.operators.graph import connected_components

    monkeypatch.setattr(graph, "LOCAL_EDGE_CAP", 0)

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
    roots: dict[int, int] = {}
    for n in parent:
        r = find(n)
        roots[r] = min(roots.get(r, n), n)
    want = {n: roots[find(n)] for n in parent}

    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == want
