"""The benchmark workloads: the operations of one pass and the check each
operation's output must pass.

An operation is one call into a layer's public function plus the action
that materialises its result. ``Op.run`` is the timed part; ``Op.check``
runs after it, untimed, and raises ``CheckFailed`` on a wrong output.
The checkers take plain Python values so the self-tests can feed them a
perturbed output.
"""

from __future__ import annotations

import math
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from functools import partial

from gen import PIVOT_ELEMENTS

GHCN_STATIONS = 8
CORPUS_DOCS = 1500
EVENTS = 6000
STAR_ORDERS = 15000  # about the fixture's sf0.01

# The ten read-only queries of ``bench.py``'s HEADLINE set.
HEADLINE_QUERIES = (
    "q_pricing_summary",
    "q_join3_topk",
    "q_join5_region",
    "q_window_rank",
    "q_window_rolling_1h",
    "q_sessionize",
    "q_json_extract",
    "q_dedup_exact",
    "q_knn_cosine",
    "q_wordcount",
)
# The five Structured Streaming twins of the ``stream_events`` workload.
STREAM_QUERIES = (
    "q_stream_sessionize",
    "q_stream_interval_join",
    "q_stream_dedup_watermark",
    "q_stream_tumbling",
    "q_stream_user_ltv",
)
# Directories under <repo>/.tmp those twins leave behind (checkpoints,
# foreachBatch states, staged micro-batch sources).
STREAM_DIRS = (
    "checkpoints/mem_stream_sessionize",
    "checkpoints/mem_stream_interval_join",
    "checkpoints/mem_stream_dedup_wm",
    "checkpoints/mem_stream_tumbling",
    "stream_ltv",
)

DEDUP_THRESHOLD = 0.8
NEAR_RECALL_MIN = 0.9
ANN_K = 3
ANN_RECALL_MIN = 0.3
PARITY_REL_TOL = 1e-9


class CheckFailed(Exception):
    """An operation's output disagrees with the expected result."""


@dataclass
class Op:
    name: str
    layer: str  # the package module the call enters
    run: Callable[[], object]
    check: Callable[[object], None] = lambda _: None
    # Filled while the op runs: seconds inside a query-function call
    # before its action, and values its check observed (recalls).
    build_s: float = 0.0
    stats: dict = field(default_factory=dict)


@dataclass
class Workload:
    name: str
    input_kind: str
    input_size: int
    ops: Callable[[object, str, str, dict], list[Op]]  # (spark, data_dir, out_dir, truth)
    sink_dirs: Callable[[str, str], list[str]] = field(default=lambda repo, out: [out])  # (repo, out_dir)
    permute: bool = False  # each pass runs the ops in a seeded random order
    # Untimed passes between the cold pass and the measured ones, for a
    # workload whose first warm pass is still far from warm.
    warmup_passes: int = 0
    # Once per run, after the passes: check values, raising CheckFailed
    # when one is out of bounds (spark, out_dir) ...
    run_checks: Callable[[object, str], dict] | None = None
    # ... and, in a traced run, extra per-layer counts (spark, data_dir).
    trace_counts: Callable[[object, str], dict] | None = None


# -- ghcn_etl ---------------------------------------------------------------


def check_climate(rows: list[tuple], truth: dict) -> None:
    """``rows``: (station_id, year, month, element, n_obs, avg, min, max)."""
    expected = truth["climate"]
    if len(rows) != len(expected):
        raise CheckFailed(f"monthly climate has {len(rows)} rows, expected {len(expected)}")
    for station, year, month, element, n, avg, lo, hi in rows:
        want = expected.get(f"{station}|{year}|{month}|{element}")
        if want is None:
            raise CheckFailed(f"unexpected climate row {station} {year}-{month} {element}")
        if n != want[0] or lo != want[2] or hi != want[3] or abs(avg - want[1]) > 1e-6:
            raise CheckFailed(f"climate {station} {year}-{month} {element}: {(n, avg, lo, hi)} != {want}")


def check_pivot(n_rows: int, totals: dict[str, tuple[int, float]], truth: dict) -> None:
    if n_rows != truth["pivot_rows"]:
        raise CheckFailed(f"pivot has {n_rows} rows, expected {truth['pivot_rows']}")
    for element, (count, total) in totals.items():
        want_n, want_sum = truth["pivot_totals"][element]
        if count != want_n or not math.isclose(total, want_sum, rel_tol=1e-9, abs_tol=1e-6):
            raise CheckFailed(f"pivot {element}: ({count}, {total}) != ({want_n}, {want_sum})")


def _duck():
    import duckdb

    return duckdb.connect()


def ghcn_ops(spark, data_dir: str, out_dir: str, truth: dict) -> list[Op]:
    from noaa_etl_spark import io
    from noaa_etl_spark.pipelines import ghcn

    dly = os.path.join(data_dir, "dly")
    obs_dir = os.path.join(out_dir, "ghcn", "observations")
    climate_dir = os.path.join(out_dir, "ghcn", "monthly_climate")
    pivot_dir = os.path.join(out_dir, "pivot_daily")
    csv_dir = os.path.join(out_dir, "monthly_climate_csv")

    def check_pipeline(_) -> None:
        con = _duck()
        n_obs = con.sql(f"SELECT count(*) FROM read_parquet('{obs_dir}/*/*.parquet')").fetchone()[0]
        if n_obs != truth["clean_obs"]:
            raise CheckFailed(f"observations has {n_obs} rows, expected {truth['clean_obs']}")
        rows = con.sql(
            "SELECT station_id, year, month, element, n_obs, avg_value, min_value, max_value "
            f"FROM read_parquet('{climate_dir}/*.parquet')"
        ).fetchall()
        check_climate(rows, truth)

    def check_pivot_out(_) -> None:
        con = _duck()
        cols = ", ".join(f"count({e}), coalesce(sum({e}), 0)" for e in PIVOT_ELEMENTS)
        r = con.sql(f"SELECT count(*), {cols} FROM read_parquet('{pivot_dir}/*.parquet')").fetchone()
        check_pivot(r[0], {e: r[1 + 2 * i : 3 + 2 * i] for i, e in enumerate(PIVOT_ELEMENTS)}, truth)

    def check_csv(_) -> None:
        con = _duck()
        rows = con.sql(
            "SELECT station_id, year, month, element, n_obs, avg_value, min_value, max_value "
            f"FROM read_csv('{csv_dir}/*.csv', header=true, "
            "types={'station_id': 'VARCHAR', 'element': 'VARCHAR', 'min_value': 'DOUBLE', 'max_value': 'DOUBLE'})"
        ).fetchall()
        check_climate(rows, truth)

    return [
        Op("pipelines.ghcn.run_pipeline", "pipelines",
           lambda: ghcn.run_pipeline(spark, dly, os.path.join(out_dir, "ghcn")), check_pipeline),
        Op("io.write_parquet.pivot_daily", "io",
           lambda: io.write_parquet(ghcn.pivot_daily(spark.read.parquet(obs_dir), list(PIVOT_ELEMENTS)), pivot_dir), check_pivot_out),
        Op("io.write_csv.monthly_climate", "io",
           lambda: io.write_csv(spark.read.parquet(climate_dir).coalesce(1), csv_dir), check_csv),
    ]


# -- corpus_prep ------------------------------------------------------------


def check_dedup(rows: list[tuple], truth: dict) -> float:
    """``rows``: (id, component, keep) from ``minhash_lsh_dedup``. Every
    planted exact duplicate must be dropped (its whole cluster collapses
    to one kept id) and planted near-duplicates at or above the threshold
    must be recalled. Returns the near-duplicate recall."""
    comp = {i: c for i, c, _ in rows}
    keep = {i for i, _, k in rows if k}
    if len(comp) != truth["rows"]:
        raise CheckFailed(f"dedup labelled {len(comp)} docs, expected {truth['rows']}")
    for cluster in truth["exact_clusters"]:
        # The cluster may sit inside a larger near-duplicate component
        # whose survivor lies outside it: at most one member survives.
        if len({comp[i] for i in cluster}) != 1 or len(keep.intersection(cluster)) > 1:
            raise CheckFailed(f"exact-duplicate cluster {cluster} not collapsed to one survivor")
    planted = [(a, b) for a, b, j in truth["near_pairs"] if j >= DEDUP_THRESHOLD]
    recall = sum(comp[a] == comp[b] for a, b in planted) / len(planted) if planted else 1.0
    if recall < NEAR_RECALL_MIN:
        raise CheckFailed(f"planted near-duplicate recall {recall:.3f} < {NEAR_RECALL_MIN}")
    return recall


def check_funnel(stats: dict, reference: dict, truth: dict) -> None:
    """Funnel counts must repeat exactly across passes of one run, the
    pipeline must read every generated document and its last stage may
    not be empty."""
    if stats["n_raw_docs"] != truth["rows"] or stats["n_neighbor_rows"] <= 0:
        raise CheckFailed(f"funnel {stats} for {truth['rows']} documents")
    if reference and stats != reference:
        raise CheckFailed(f"funnel {stats} differs from the first pass {reference}")
    reference.update(stats)


def corpus_ops(spark, data_dir: str, out_dir: str, truth: dict) -> list[Op]:
    from noaa_etl_spark.io import load_table
    from noaa_etl_spark.operators.dedup import minhash_lsh_dedup
    from noaa_etl_spark.pipelines.corpus import run_corpus_pipeline

    funnel: dict = {}
    dedup = Op(
        "operators.dedup.minhash_lsh_dedup", "operators",
        lambda: [tuple(r) for r in minhash_lsh_dedup(load_table(spark, data_dir, "documents"), threshold=DEDUP_THRESHOLD).collect()],
    )
    dedup.check = lambda rows: dedup.stats.update(planted_recall=check_dedup(rows, truth))
    return [
        Op("pipelines.corpus.run_corpus_pipeline", "pipelines",
           lambda: run_corpus_pipeline(spark, data_dir, os.path.join(out_dir, "corpus")),
           lambda stats: check_funnel(stats, funnel, truth)),
        dedup,
    ]


def ann_recall(found: list[tuple], exact: list[tuple]) -> float:
    """Share of the exact (query_id, neighbor_id) pairs the index found."""
    want = {(q, n) for q, n, *_ in exact}
    got = {(q, n) for q, n, *_ in found}
    return len(want & got) / len(want) if want else 1.0


def corpus_ann_recall(spark, out_dir: str) -> dict:
    """Recall@k of the neighbours the pipeline wrote (IVF) against exact
    search over the same embeddings and queries; a guard with a bound."""
    from noaa_etl_spark.operators.similarity import ann_index

    corpus = os.path.join(out_dir, "corpus")
    emb = spark.read.parquet(f"{corpus}/embeddings")
    q = emb.orderBy("doc_id", "chunk_idx").limit(50).select("vec_id", "embedding")
    exact = ann_index(q, emb.select("vec_id", "embedding"), k=ANN_K, index="exact")
    found = spark.read.parquet(f"{corpus}/neighbors").select("query_id", "neighbor_id")
    recall = ann_recall(
        [tuple(r) for r in found.collect()],
        [tuple(r) for r in exact.select("query_id", "neighbor_id").collect()],
    )
    if recall < ANN_RECALL_MIN:
        raise CheckFailed(f"ann recall@{ANN_K} {recall:.3f} < {ANN_RECALL_MIN}")
    return {"ann.recall_at_k": recall}


def corpus_candidates(spark, data_dir: str) -> dict:
    """MinHash-LSH candidate pairs and the share of them that verify at
    or above the dedup threshold (useful work ÷ attempted work)."""
    from pyspark.sql import functions as F

    from noaa_etl_spark.io import load_table
    from noaa_etl_spark.operators.dedup import minhash_lsh_candidates

    cands = minhash_lsh_candidates(load_table(spark, data_dir, "documents"))
    n, useful = cands.agg(F.count(F.lit(1)), F.count_if(F.col("jaccard_sim") >= DEDUP_THRESHOLD)).first()
    return {"dedup.candidate_pairs": n, "dedup.useful_ratio": useful / n if n else 0.0}


# -- analytic_mix and stream_events -------------------------------------------


def query_ops(names: tuple[str, ...], spark, data_dir: str, out_dir: str, truth: dict) -> list[Op]:
    """Ops that each run one registered query and check it for DuckDB
    parity against its ``ORACLES`` entry over the same parquet files."""
    from tests.conftest import assert_parity

    from noaa_etl_spark.queries import ORACLES, QUERIES

    con = _duck()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[: -len('.parquet')]} AS SELECT * FROM read_parquet('{data_dir}/{f}')")

    def op(name: str) -> Op:
        fn = QUERIES[name]

        def run():
            t = time.perf_counter()
            df = fn(spark, data_dir)
            o.build_s += time.perf_counter() - t
            df.collect()
            return df

        def check(df) -> None:
            try:
                # Generated data gives sums whose last bit depends on the
                # accumulation order, which differs between the engines.
                assert_parity(df, con.sql(ORACLES[name]), rel_tol=PARITY_REL_TOL)
            except AssertionError as e:
                raise CheckFailed(f"{name}: {e}") from None

        o = Op(f"queries.{name}", "queries", run, check)
        return o

    return [op(name) for name in names]


WORKLOADS = {
    "ghcn_etl": Workload("ghcn_etl", "ghcn", GHCN_STATIONS, ghcn_ops),
    "analytic_mix": Workload("analytic_mix", "star", STAR_ORDERS, partial(query_ops, HEADLINE_QUERIES), permute=True),
    "corpus_prep": Workload(
        "corpus_prep", "corpus", CORPUS_DOCS, corpus_ops,
        run_checks=corpus_ann_recall, trace_counts=corpus_candidates,
        # Its first warm pass still spends about half its CPU seconds in
        # the JIT compiler; they spread 0.11 and 0.28 in two sets of ten
        # runs on a 4-core VM, the pass after it 0.03 and 0.13.
        warmup_passes=1,
    ),
    "stream_events": Workload(
        "stream_events", "events", EVENTS, partial(query_ops, STREAM_QUERIES),
        sink_dirs=lambda repo, out: [os.path.join(repo, ".tmp", d) for d in STREAM_DIRS],
    ),
}
