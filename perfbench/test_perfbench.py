"""Self-tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402
import worker  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")
SIZES = {"ghcn": 2, "corpus": 200, "events": 500, "star": 300}


def _bench_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("kind", sorted(gen.GENERATORS))
def test_generator_is_a_function_of_the_seed(tmp_path, kind):
    digests = []
    for seed, sub in ((7, "a"), (7, "b"), (8, "c")):
        d = tmp_path / sub
        d.mkdir()
        gen.GENERATORS[kind](str(d), seed, SIZES[kind])
        digests.append(gen._digest(str(d)))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_cached_input_is_regenerated_when_its_digest_breaks(tmp_path):
    root, truth, gen_s = gen.cached_inputs(str(tmp_path), "events", 3, 300)
    assert gen_s > 0
    assert gen.cached_inputs(str(tmp_path), "events", 3, 300)[2] == 0.0  # reused
    with open(os.path.join(root, "events.parquet"), "ab") as f:
        f.write(b"x")
    again, truth2, gen_s2 = gen.cached_inputs(str(tmp_path), "events", 3, 300)
    assert gen_s2 > 0 and truth2 == truth
    manifest = os.path.join(again, "MANIFEST.json")
    assert gen._digest(again) == json.load(open(manifest))["files"]
    # An input written by another version of the generator is not reused.
    meta = json.load(open(manifest))
    with open(manifest, "w") as f:
        json.dump({**meta, "generator": "older"}, f)
    assert gen.cached_inputs(str(tmp_path), "events", 3, 300)[2] > 0


def test_metric_names_are_well_formed():
    bench = _bench_json()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]] + [w["name"] for w in bench["workloads"]]
    names += list(metrics.END_TO_END) + list(metrics.PER_LAYER)
    for name in names:
        assert NAME.match(name) and len(name) <= 64, name
    assert len(set(m["name"] for m in bench["end_to_end"] + bench["per_layer"])) == len(
        bench["end_to_end"] + bench["per_layer"]
    )


def test_benchmark_json_mirrors_the_metric_tables():
    bench = _bench_json()
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert {k: m["unit"] for k, m in e2e.items()} == metrics.END_TO_END
    for m in e2e.values():
        assert m["better"] in ("lower", "higher")
        assert 0 < m["bound"] <= 0.25
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
    layer_names = {n for key in metrics.LAYER_TO_E2E for n in key.split()}
    assert layer_names == set(metrics.PER_LAYER)


def test_ghcn_checks_reject_a_perturbed_output(tmp_path):
    truth = gen.gen_ghcn(str(tmp_path), 5, 1)
    rows = [(*k.split("|"), *v) for k, v in truth["climate"].items()]
    rows = [(s, int(y), int(m), e, n, a, lo, hi) for s, y, m, e, n, a, lo, hi in rows]
    workloads.check_climate(rows, truth)
    bad = list(rows)
    s, y, m, e, n, a, lo, hi = bad[3]
    bad[3] = (s, y, m, e, n, a, lo, hi + 0.1)
    with pytest.raises(workloads.CheckFailed):
        workloads.check_climate(bad, truth)
    with pytest.raises(workloads.CheckFailed):
        workloads.check_climate(rows[:-1], truth)
    totals = {e: tuple(v) for e, v in truth["pivot_totals"].items()}
    workloads.check_pivot(truth["pivot_rows"], totals, truth)
    with pytest.raises(workloads.CheckFailed):
        workloads.check_pivot(truth["pivot_rows"] - 1, totals, truth)


def test_corpus_checks_reject_a_perturbed_output(tmp_path, monkeypatch):
    truth = gen.gen_corpus(str(tmp_path), 5, 300)
    parent = list(range(truth["rows"]))

    def find(i):
        while parent[i] != i:
            i = parent[i]
        return i

    edges = [(c[0], x) for c in truth["exact_clusters"] for x in c[1:]] + [(a, b) for a, b, _ in truth["near_pairs"]]
    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    rows = [(i, find(i), i == find(i)) for i in range(truth["rows"])]
    assert workloads.check_dedup(rows, truth) == 1.0

    cluster = truth["exact_clusters"][0]
    split = [(i, i, True) if i == cluster[-1] else (i, c, k) for i, c, k in rows]
    with pytest.raises(workloads.CheckFailed):
        workloads.check_dedup(split, truth)

    in_clusters = {i for c in truth["exact_clusters"] for i in c}
    a, b, _ = next(p for p in truth["near_pairs"] if not in_clusters.intersection(p[:2]))
    missed = [(i, i, True) if i in (a, b) else (i, c, k) for i, c, k in rows]
    monkeypatch.setattr(workloads, "NEAR_RECALL_MIN", 1.0)
    with pytest.raises(workloads.CheckFailed):
        workloads.check_dedup(missed, truth)

    funnel: dict = {}
    stats = {"n_raw_docs": 300, "n_neighbor_rows": 150, "n_chunks_kept": 290}
    workloads.check_funnel(dict(stats), funnel, truth)
    workloads.check_funnel(dict(stats), funnel, truth)
    with pytest.raises(workloads.CheckFailed):
        workloads.check_funnel({**stats, "n_chunks_kept": 289}, funnel, truth)
    with pytest.raises(workloads.CheckFailed):
        workloads.check_funnel({**stats, "n_raw_docs": 299}, {}, truth)

    exact = [(1, 2, 0.9), (1, 3, 0.8), (4, 5, 0.7)]
    assert workloads.ann_recall(exact, exact) == 1.0
    assert workloads.ann_recall([(1, 2, 0.9), (1, 9, 0.1), (4, 9, 0.1)], exact) == pytest.approx(1 / 3)


def _span(i, start, end, parent=None):
    return tracing.Span(i, f"s{i}", "queries", start, end, parent, 1)


def test_self_time_is_never_negative():
    op = _span(0, 10.0, 20.0)
    assert tracing.self_time(op, []) == 10.0
    kids = [_span(1, 11, 13, 0), _span(2, 12, 15, 0), _span(3, 18, 25, 0), _span(4, 5, 6, 0)]
    assert tracing.self_time(op, kids) == pytest.approx(10 - 4 - 2)
    assert tracing.self_time(op, [_span(1, 0, 100, 0), _span(2, 9, 21, 0)]) == 0.0
    import random

    rnd = random.Random(1)
    for _ in range(500):
        s = rnd.uniform(0, 10)
        op = _span(0, s, s + rnd.uniform(0, 5))
        kids = []
        for i in range(rnd.randint(0, 6)):
            a = rnd.uniform(-2, 17)
            kids.append(_span(i + 1, a, a + rnd.uniform(0, 6), 0))
        assert tracing.self_time(op, kids) >= 0.0


def test_sql_metric_values_parse():
    assert tracing._parse_metric("36 ms") == pytest.approx(0.036)
    assert tracing._parse_metric("6.7 KiB") == pytest.approx(6.7 * 1024)
    assert tracing._parse_metric("1,000") == 1000
    assert tracing._parse_metric("total (min, med, max (stageId: taskId))\n1.2 s (0 ms, 5 ms, 1.1 s (stage 3.0: task 7))") == 1.2


def test_session_cpu_counts_reaped_descendants():
    # A session whose leader runs a child that burns ~0.3 CPU seconds,
    # reaps it, then sleeps: the child's time stays counted.
    burn = "import time; t = time.process_time(); exec('while time.process_time() - t < 0.3: pass')"
    lead = f"import subprocess, sys, time; subprocess.run([sys.executable, '-c', {burn!r}]); print(flush=True); time.sleep(30)"
    proc = subprocess.Popen([sys.executable, "-c", lead], stdout=subprocess.PIPE, start_new_session=True)
    try:
        proc.stdout.readline()
        assert worker.session_cpu_s(proc.pid) >= 0.3
    finally:
        proc.kill()
        proc.wait()
