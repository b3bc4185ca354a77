#!/usr/bin/env python
"""Per-query execution-cost audit: writes the COSTS.json pins that
tests/test_costs.py gates against.

Usage: python tools/cost_audit.py [q_name ...]

With no names, every entry COSTS.json pins is re-audited; with names,
only those are audited and merged into the file, which is how a new
query joins the gate. A query whose call captures drain-time plans
(``plans.audit.stream_cost_profile``) is a streaming entry: its
micro-batch exchange, broadcast, reused-exchange and StateStore counts,
summed over every captured plan, and the captured plan keys go to
``streaming_test_sf``, at the test SF where the gate runs. Any other
query's returned frame goes through ``executed_cost_profile`` after one
warm-up run, at the bench SF (``queries``) and at the test SF
(``queries_test_sf``): jobs, stages, tasks, AQE-final exchange counts,
stage-level shuffle bytes (Spark UI REST) and wall seconds.

Why it matters at 100 TB: wall-clock at fixture scale is dominated by
fixed per-job overhead, so plan shape is the number that predicts
cluster cost. The gate catches a query that gains a shuffle or a
BroadcastExchange or loses a ReusedExchange; a wide payload riding an
unchanged exchange count (the round-2 MinHash band join kept its count
while shuffling ~60x the bytes); and a streaming twin whose micro-batch
plans gain a shuffle, a broadcast or a state-store operator, or that
stops capturing one of its plans. ``q_stream_observed_metrics`` stays
outside the gate: its noop sink's output is the engine's observedMetrics
plane, so its call captures no plan.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SECTIONS = ("queries", "queries_test_sf", "streaming_test_sf")


def audit_query(spark, name, fn, sf_dir) -> dict:
    from noaa_etl_spark.plans.audit import executed_cost_profile

    t0 = time.perf_counter()
    profile = executed_cost_profile(spark, fn(spark, sf_dir), f"audit_{name}_{sf_dir}")
    profile["wall_sec"] = round(time.perf_counter() - t0, 3)
    return profile


def main() -> None:
    path = os.path.join(REPO, "COSTS.json")
    with open(path) as f:
        payload = json.load(f)
    names = sys.argv[1:] or sorted({n for s in SECTIONS for n in payload[s]})
    if sys.argv[1:]:
        assert (payload["sf_dir"], payload["test_sf_dir"]) == (SF_DIR, TEST_SF_DIR), (
            "merging entries audited at other scale factors than COSTS.json's"
        )
    payload.update(sf_dir=SF_DIR, test_sf_dir=TEST_SF_DIR)

    from noaa_etl_spark.plans.audit import stream_cost_profile
    from noaa_etl_spark.queries import QUERIES
    from noaa_etl_spark.session import get_spark

    spark = get_spark("cost-audit", ui=True)
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        fn = QUERIES[name]
        for section in SECTIONS:
            payload[section].pop(name, None)
        t0 = time.perf_counter()
        stream = stream_cost_profile(spark, fn, TEST_SF_DIR)
        if stream is not None:
            stream["wall_sec"] = round(time.perf_counter() - t0, 3)
            payload["streaming_test_sf"][name] = stream
            print("stream", name, json.dumps(stream), flush=True)
            continue
        for section, sf_dir in (("queries", SF_DIR), ("queries_test_sf", TEST_SF_DIR)):
            audit_query(spark, name, fn, sf_dir)  # warm-up (fills caches, JIT)
            payload[section][name] = audit_query(spark, name, fn, sf_dir)
            print(sf_dir, name, json.dumps(payload[section][name]), flush=True)
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"audited {len(names)} entries into {path}")
    spark.stop()


if __name__ == "__main__":
    main()
