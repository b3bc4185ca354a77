"""Seeded input generators for the benchmark workloads.

Each generator is a pure function of ``(seed, size)``: it writes its
files into a directory and returns the ground truth the correctness
checks compare against. ``cached_inputs`` keeps one directory per
(kind, seed, size) under the benchmark's data directory and re-checks a
SHA-256 digest of every file, and of this module's source, before
reusing it, so a truncated or edited input, or one an older generator
wrote, is regenerated instead of silently measured.

Inputs:

- ``ghcn``: GHCN-Daily ``.dly`` fixed-width lines (station x year x month
  x element), ~10 % missing day slots, ~2 % non-blank QFLAGs and
  month-length-aware day slots (slots past the month's end are -9999).
- ``corpus``: ``documents.parquet`` with a Zipf vocabulary, planted
  exact-duplicate clusters and planted near-duplicates made by token
  substitutions.
- ``events``: ``events.parquet`` in the fixture ``events`` schema
  (event_id, ts, user_id, event_type, value, props).
"""

from __future__ import annotations

import calendar
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MISSING = -9999
GHCN_ELEMENTS = ("TMAX", "TMIN", "PRCP", "SNOW")
TENTHS_ELEMENTS = ("TMAX", "TMIN", "PRCP")  # of GHCN_ELEMENTS; SNOW is whole mm
PIVOT_ELEMENTS = ("TMAX", "TMIN", "PRCP")
QFLAGS = "DGIKLMNORSTWXZ"
MISSING_SHARE = 0.10
QFLAG_SHARE = 0.02
GHCN_FIRST_YEAR = 1995
GHCN_YEARS = 10

EVENT_TYPES = ("view", "click", "purchase", "error", "signup")
EVENT_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENT_SPAN_US = 30 * 86_400_000_000

STOPWORDS = ("a", "an", "the", "of", "to", "and", "is", "in", "it", "that")
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10
CORPUS_TOPICS = 8
SHINGLE_N = 3

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
N_NATIONS = 25
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
DAY_US = 86_400_000_000
STAR_T0_US = 788_918_400_000_000  # 1995-01-01T00:00:00
STAR_DAYS = 2404  # order dates 1995-01-01 .. 2001-08-01
EMB_DIM = 64
EMB_LABELS = 10


# -- ghcn -------------------------------------------------------------------


def gen_ghcn(out_dir: str, seed: int, n_stations: int) -> dict:
    """Write ``dly/part-*.dly`` (one file per station group) and return the
    ground truth: per-(station, year, month, element) climate rows, the
    pivot totals and the clean-observation count."""
    rng = np.random.default_rng([seed, 1])
    dly_dir = os.path.join(out_dir, "dly")
    os.makedirs(dly_dir, exist_ok=True)
    stations = [f"USC00{(seed * 7919 + i * 104729) % 1_000_000:06d}" for i in range(n_stations)]
    stations = sorted(set(stations))
    climate: dict[str, list] = {}
    pivot: dict[tuple[str, str], dict[str, float]] = {}
    n_clean = 0
    n_lines = 0
    files: dict[int, list[str]] = {}
    for si, station in enumerate(stations):
        base_t = rng.integers(-50, 250)
        for year in range(GHCN_FIRST_YEAR, GHCN_FIRST_YEAR + GHCN_YEARS):
            for month in range(1, 13):
                ndays = calendar.monthrange(year, month)[1]
                for element in GHCN_ELEMENTS:
                    if element == "TMAX":
                        vals = base_t + rng.integers(0, 150, 31)
                    elif element == "TMIN":
                        vals = base_t + rng.integers(-150, 0, 31)
                    elif element == "PRCP":
                        vals = np.where(rng.random(31) < 0.6, 0, rng.integers(1, 800, 31))
                    else:
                        vals = np.where(rng.random(31) < 0.9, 0, rng.integers(1, 300, 31))
                    missing = rng.random(31) < MISSING_SHARE
                    flagged = rng.random(31) < QFLAG_SHARE
                    qchars = rng.integers(0, len(QFLAGS), 31)
                    mflags = rng.random(31) < 0.05
                    slots = []
                    good: list[float] = []
                    for d in range(31):
                        if d >= ndays or missing[d]:
                            slots.append(f"{MISSING:5d}   ")
                            continue
                        v = int(vals[d])
                        q = QFLAGS[qchars[d]] if flagged[d] else " "
                        m = "T" if mflags[d] else " "
                        slots.append(f"{v:5d}{m}{q}7")
                        if q == " ":
                            phys = v / 10.0 if element in TENTHS_ELEMENTS else float(v)
                            good.append(phys)
                            day = pivot.setdefault((station, f"{year:04d}-{month:02d}-{d + 1:02d}"), {})
                            if element in PIVOT_ELEMENTS:
                                day[element] = phys
                    line = f"{station:<11}{year:04d}{month:02d}{element:<4}" + "".join(slots)
                    files.setdefault(si % 4, []).append(line)
                    n_lines += 1
                    if good:
                        n_clean += len(good)
                        key = f"{station}|{year}|{month}|{element}"
                        climate[key] = [len(good), sum(good) / len(good), min(good), max(good)]
    for part, lines in files.items():
        with open(os.path.join(dly_dir, f"part-{part}.dly"), "w") as f:
            f.write("\n".join(lines) + "\n")
    totals = {e: [0, 0.0] for e in PIVOT_ELEMENTS}
    for day in pivot.values():
        for e, v in day.items():
            totals[e][0] += 1
            totals[e][1] += v
    return {
        "rows": n_lines,
        "clean_obs": n_clean,
        "climate": climate,
        "pivot_rows": len(pivot),
        "pivot_totals": totals,
    }


# -- corpus -----------------------------------------------------------------


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    """Pronounceable 3-6 letter words, so documents pass the quality
    gate's mean-word-length rule (4.0-4.8 letters)."""
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(3, 7))
        words.add("".join((cons if i % 2 == 0 else vows)[int(rng.integers(0, 18 if i % 2 == 0 else 5))] for i in range(n)))
    return sorted(words)


def shingles(text: str, n: int = SHINGLE_N) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 1.0


def gen_corpus(out_dir: str, seed: int, n_docs: int) -> dict:
    """Write ``documents.parquet`` and return the planted duplicate
    structure: exact-duplicate clusters (lists of doc_ids) and
    near-duplicate pairs with their true shingle Jaccard."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 3000)
    ranks = np.arange(1, len(vocab) + 1)
    zipf = 1.0 / ranks**0.9
    zipf /= zipf.sum()
    n_exact = int(n_docs * EXACT_DUP_SHARE)
    n_near = int(n_docs * NEAR_DUP_SHARE)
    n_base = n_docs - n_exact - n_near
    # Each topic ranks the vocabulary differently, so documents of one
    # topic share their frequent words and their embeddings cluster.
    topics = [rng.permutation(len(vocab)) for _ in range(CORPUS_TOPICS)]
    words = np.asarray(vocab)
    texts: list[str] = []
    for _ in range(n_base):
        n = int(rng.integers(40, 70))
        topic = topics[int(rng.integers(0, CORPUS_TOPICS))]
        toks = list(words[topic[rng.choice(len(vocab), n, p=zipf)]])
        for sw in rng.choice(STOPWORDS, 3, replace=False):
            toks.insert(int(rng.integers(0, len(toks))), str(sw))
        texts.append(" ".join(toks))
    exact: dict[int, list[int]] = {}
    for _ in range(n_exact):
        src = int(rng.integers(0, n_base))
        exact.setdefault(src, [src]).append(len(texts))
        texts.append(texts[src])
    near: list[list] = []
    for _ in range(n_near):
        src = int(rng.integers(0, n_base))
        toks = texts[src].split(" ")
        pos = int(rng.integers(SHINGLE_N, len(toks) - SHINGLE_N))
        toks[pos] = vocab[int(rng.integers(0, len(vocab)))]
        near.append([src, len(texts), round(jaccard(texts[src], " ".join(toks)), 6)])
        texts.append(" ".join(toks))
    order = rng.permutation(n_docs)  # doc_id of the i-th generated text
    doc_id = np.empty(n_docs, dtype=np.int64)
    doc_id[np.arange(n_docs)] = order
    by_id = [""] * n_docs
    for i, t in enumerate(texts):
        by_id[int(doc_id[i])] = t
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(by_id),
            "lang": pa.array([("en", "de", "fr", "es", "it")[i % 5] for i in range(n_docs)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in by_id], dtype=np.int64)),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return {
        "rows": n_docs,
        "exact_clusters": [sorted(int(doc_id[i]) for i in ids) for ids in exact.values()],
        "near_pairs": [[int(doc_id[a]), int(doc_id[b]), j] for a, b, j in near],
    }


# -- events -----------------------------------------------------------------


def gen_events(out_dir: str, seed: int, n_events: int) -> dict:
    """Write ``events.parquet`` (fixture ``events`` schema, ts-ordered)."""
    rng = np.random.default_rng([seed, 3])
    n_users = max(10, n_events // 65)
    ts = EVENT_T0_US + np.sort(rng.integers(0, EVENT_SPAN_US, n_events))
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
            "event_type": pa.array(np.asarray(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_events)]),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2) + 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
    return {"rows": n_events}


# -- star -------------------------------------------------------------------


def _write_table(out_dir: str, name: str, columns: dict) -> int:
    table = pa.table(columns)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def gen_star(out_dir: str, seed: int, n_orders: int) -> dict:
    """Write the tables the ``analytic_mix`` queries read, in the fixture
    schemas: region, nation, customer, supplier, orders, lineitem (1-7
    lines an order), events, documents and embeddings (64-d float32
    vectors around labelled centres). Sizes follow ``n_orders`` in the
    fixture's proportions (15000 orders ~ its sf0.01)."""
    rng = np.random.default_rng([seed, 4])
    n_cust = max(10, n_orders // 10)
    n_supp = max(5, n_orders // 150)
    rows = _write_table(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(len(REGIONS), dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    nations = np.arange(N_NATIONS, dtype=np.int32)
    rows += _write_table(out_dir, "nation", {
        "n_nationkey": pa.array(nations),
        "n_name": pa.array([f"NATION_{i}" for i in nations]),
        "n_regionkey": pa.array(nations % len(REGIONS)),
    })
    rows += _write_table(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(np.asarray(SEGMENTS)[rng.integers(0, len(SEGMENTS), n_cust)]),
    })
    rows += _write_table(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, N_NATIONS, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })

    order_date = STAR_T0_US + rng.integers(0, STAR_DAYS, n_orders) * DAY_US
    n_lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), n_lines)
    n_items = len(l_order)
    qty = rng.integers(1, 51, n_items).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n_items), 2)
    disc = rng.integers(0, 11, n_items) / 100
    tax = rng.integers(0, 9, n_items) / 100
    total = np.bincount(l_order, weights=price * (1 - disc) * (1 + tax), minlength=n_orders)
    rows += _write_table(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
        "o_orderstatus": pa.array(np.asarray(("F", "O", "P"))[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(total, 2)),
        "o_orderdate": pa.array(order_date, type=pa.timestamp("us")),
        "o_orderpriority": pa.array(np.asarray(PRIORITIES)[rng.integers(0, len(PRIORITIES), n_orders)]),
    })
    rows += _write_table(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, max(1, n_orders * 2 // 15), n_items, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_items, dtype=np.int64)),
        "l_linenumber": pa.array((np.arange(n_items) - np.repeat(np.cumsum(n_lines) - n_lines, n_lines) + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(disc),
        "l_tax": pa.array(tax),
        "l_returnflag": pa.array(np.asarray(("A", "N", "R"))[rng.integers(0, 3, n_items)]),
        "l_linestatus": pa.array(np.asarray(("F", "O"))[rng.integers(0, 2, n_items)]),
        "l_shipdate": pa.array(np.repeat(order_date, n_lines) + rng.integers(1, 122, n_items) * DAY_US, type=pa.timestamp("us")),
    })

    rows += gen_events(out_dir, seed, n_orders * 2 // 3)["rows"]
    rows += gen_corpus(out_dir, seed, max(100, n_orders // 30))["rows"]
    n_vec = max(100, n_orders // 30)
    centres = rng.normal(0.0, 0.1, (EMB_LABELS, EMB_DIM))
    label = rng.integers(0, EMB_LABELS, n_vec)
    vecs = (centres[label] + rng.normal(0.0, 0.05, (n_vec, EMB_DIM))).astype(np.float32)
    rows += _write_table(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(np.arange(0, (n_vec + 1) * EMB_DIM, EMB_DIM, dtype=np.int32), vecs.ravel()),
        "label": pa.array(label.astype(np.int32)),
    })
    return {"rows": rows}


GENERATORS = {"ghcn": gen_ghcn, "corpus": gen_corpus, "events": gen_events, "star": gen_star}


# -- cache ------------------------------------------------------------------


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for name in sorted(names):
            if name == "MANIFEST.json":
                continue
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = hashlib.sha256(f.read()).hexdigest()
    return dict(sorted(out.items()))


def tree_bytes(root: str) -> int:
    """Bytes of the files under ``root``, an input's manifest excluded."""
    return sum(
        os.path.getsize(os.path.join(d, n)) for d, _, ns in os.walk(root) for n in ns if n != "MANIFEST.json"
    )


def cached_inputs(data_root: str, kind: str, seed: int, size: int) -> tuple[str, dict, float]:
    """Return (directory, ground truth, seconds spent generating) for the
    (kind, seed, size) input, generating it unless a cached copy's file
    digests match its manifest."""
    root = os.path.join(data_root, f"{kind}-seed{seed}-n{size}")
    manifest = os.path.join(root, "MANIFEST.json")
    with open(__file__, "rb") as f:
        generator = hashlib.sha256(f.read()).hexdigest()
    if os.path.exists(manifest):
        with open(manifest) as f:
            meta = json.load(f)
        if meta.get("generator") == generator and meta.get("files") == _digest(root):
            return root, meta["truth"], 0.0
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    t0 = time.perf_counter()
    truth = GENERATORS[kind](root, seed, size)
    gen_s = time.perf_counter() - t0
    with open(manifest, "w") as f:
        json.dump({"generator": generator, "files": _digest(root), "truth": truth, "gen_s": gen_s}, f)
    return root, truth, gen_s
