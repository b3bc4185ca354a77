"""Plan-shape + shuffle-volume regression gate against COSTS.json.

Wall-clock at fixture scale hides plan regressions behind fixed
overhead; the shuffle count does not. A headline query that GAINS an
Exchange (or loses a ReusedExchange) versus the committed audit is a
100 TB regression even if sf0.1 latency looks flat — fail it here.

Counts alone are still blind to payload width: the round-2 MinHash
band join kept its exchange count while shuffling ~60x the bytes. So
the gate also compares runtime shuffle WRITE bytes against the audit's
committed numbers at the SAME scale factor (COSTS.json carries a
``queries_test_sf`` section recorded at the test SF), with tolerance
for compression/AQE jitter.

COSTS.json is re-audited deliberately via `python tools/cost_audit.py
[q_name ...]` when a plan change is intended; this test only guards
against accidental regressions. Each batch query executes once: the
count and byte gates read one ``executed_cost_profile``.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from noaa_etl_spark.io import load_table
from noaa_etl_spark.plans.audit import (
    executed_cost_profile,
    executed_exchange_counts,
    stream_cost_profile,
)
from noaa_etl_spark.queries import QUERIES
from tests.conftest import SF_DIR

_COSTS_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "COSTS.json"
)
with open(_COSTS_PATH) as f:
    _COSTS = json.load(f)
COSTS = _COSTS["queries"]
# Byte gates only make sense at equal SF: use the section recorded at the
# test scale factor, and only when the audit ran against the same dir.
COSTS_TEST_SF = _COSTS.get("queries_test_sf", {}) if _COSTS.get("test_sf_dir") == SF_DIR else {}

# Multiplicative tolerance + absolute slack for the byte gate: shuffle
# bytes jitter with compression-block boundaries and AQE coalescing, and
# tiny queries would otherwise flake on kilobyte noise.
BYTES_TOL = 1.5
BYTES_SLACK = 256 * 1024

# Count-gate allowances for measured jitter. (The connected-components
# queries q_entity_resolution and q_geo_cluster label through driver
# union-find, so their frames run no CC rounds and need none.)
ITERATIVE_ALLOWANCE = {
    # Not iterative — a measured AQE broadcast-REUSE flake (the
    # hist_quantiles ±1 class, bigger here): a 4× in-session r16 probe
    # read (exch 6, bcast 11, reused 0) three times and (6, 15, 3)
    # once — stage-timing decides whether the multi-reader checkpointed
    # frames' broadcasts materialize as fresh BroadcastExchange nodes
    # or ReusedExchange refs, and the sum gate doesn't credit reuse.
    # The allowance covers exactly that observed jitter; a real added
    # broadcast (a lost AQE conversion) is persistent, not 1-in-4.
    "q_containment_dedup": 4,
}


# One executed_cost_profile per query per session: the count gate and
# the byte gate read the same execution.
_PROFILES: dict[str, dict] = {}


def _batch_profile(spark, name: str) -> dict:
    if name not in _PROFILES:
        df = QUERIES[name](spark, SF_DIR)
        _PROFILES[name] = executed_cost_profile(spark, df, f"costs_{name}")
    return _PROFILES[name]


def _regen(name: str) -> str:
    return f"if intended, re-audit it (python tools/cost_audit.py {name})"


@pytest.mark.parametrize("name", sorted(COSTS))
def test_no_new_shuffles_vs_committed_costs(spark, name):
    """Shuffle exchanges may only go DOWN vs the committed audit (AQE
    broadcasts more at the smaller test SF); any gain means a new shuffle
    crept in. The shuffle+broadcast SUM may not grow either: an AQE
    shuffle->broadcast conversion trades >=2 shuffle exchanges for 1
    broadcast (sum shrinks), so a sum increase is a genuinely new node."""
    profile = _batch_profile(spark, name)
    exchanges, broadcast = profile["exchanges"], profile["broadcast_exchanges"]
    # Compare at the SAME SF the test executes (the byte gate's rule):
    # AQE's shuffle->broadcast conversion KEEPS the feeding exchange in
    # the executed plan, so a plan whose small-SF run converts a join
    # can have a LARGER shuffle+broadcast sum at sf0.01 than the sf0.1
    # audit — a cross-SF artifact, not a regression (first hit by the
    # round-9 df-capped containment rewrite). Fall back to the sf0.1
    # section only if the test-SF audit is missing.
    committed = COSTS_TEST_SF.get(name, COSTS[name])
    allowance = ITERATIVE_ALLOWANCE.get(name, 0)
    assert exchanges <= committed["exchanges"] + allowance, (
        f"{name}: {exchanges} exchanges vs committed {committed['exchanges']} "
        f"(+{allowance} iterative allowance) — a shuffle was added; {_regen(name)}"
    )
    committed_total = committed["exchanges"] + committed.get("broadcast_exchanges", 0)
    assert exchanges + broadcast <= committed_total + allowance, (
        f"{name}: shuffle+broadcast exchanges {exchanges}+{broadcast} vs "
        f"committed total {committed_total} (+{allowance} iterative "
        f"allowance) — a BroadcastExchange was added; {_regen(name)}"
    )
    assert profile["reused_exchanges"] >= committed["reused_exchanges"] - allowance, (
        f"{name}: lost a ReusedExchange ({profile['reused_exchanges']} < "
        f"{committed['reused_exchanges']}); {_regen(name)}"
    )


@pytest.mark.parametrize("name", sorted(COSTS_TEST_SF))
def test_no_shuffle_byte_inflation_vs_committed_costs(spark, name):
    """Runtime shuffle write bytes vs the committed same-SF audit — the
    payload-width gate an exchange counter cannot provide."""
    committed = COSTS_TEST_SF[name].get("shuffle_write_bytes")
    if committed is None:
        pytest.skip("committed audit ran without the UI (no byte metrics)")
    measured = _batch_profile(spark, name)["shuffle_write_bytes"]
    if measured is None:
        pytest.skip("spark.ui.enabled=false in this session (no byte metrics)")
    limit = committed * BYTES_TOL + BYTES_SLACK
    assert measured <= limit, (
        f"{name}: shuffle write {measured}B vs committed {committed}B "
        f"(limit {int(limit)}B) — a wide payload entered the shuffle; {_regen(name)}"
    )


COSTS_STREAMING = (
    _COSTS.get("streaming_test_sf", {}) if _COSTS.get("test_sf_dir") == SF_DIR else {}
)


@pytest.mark.parametrize("name", sorted(COSTS_STREAMING))
def test_streaming_micro_batch_plan_vs_committed_costs(spark, name):
    """Streaming twin of the exchange gate: the batch explain of a
    twin's result shows only the sink scan, so a stream query gaining a
    shuffle (or a state-store stage) was previously invisible to CI. The
    micro-batch plans captured at drain time are the auditable surface —
    the stateless ETL twins must hold at ZERO exchanges — and the twin
    must still capture every plan the audit recorded."""
    from noaa_etl_spark.streaming.core import LAST_STREAM_PLANS

    profile = stream_cost_profile(spark, QUERIES[name], SF_DIR)
    committed = COSTS_STREAMING[name]
    captured = profile["plans"] if profile else []
    assert captured == committed["plans"], (
        f"{name}: captured plans {captured} vs committed {committed['plans']}; "
        f"{_regen(name)}"
    )
    exchanges, broadcast = profile["exchanges"], profile["broadcast_exchanges"]
    joined = "\n---\n".join(LAST_STREAM_PLANS.values())
    assert exchanges <= committed["exchanges"], (
        f"{name}: micro-batch plans have {exchanges} exchanges vs committed "
        f"{committed['exchanges']} — a shuffle entered the stream; {_regen(name)}\n{joined}"
    )
    assert exchanges + broadcast <= (
        committed["exchanges"] + committed.get("broadcast_exchanges", 0)
    ), f"{name}: a BroadcastExchange entered the micro-batch plans\n{joined}"
    assert profile["state_store_ops"] <= committed.get("state_store_ops", 0), (
        f"{name}: micro-batch plans gained state-store operators "
        f"({profile['state_store_ops']} vs {committed.get('state_store_ops', 0)})\n{joined}"
    )


def test_gate_catches_injected_repartition(spark):
    """Self-test: an injected repartition() must trip the count gate."""
    df = QUERIES["q_pricing_summary"](spark, SF_DIR).repartition(8)
    exchanges, _, _ = executed_exchange_counts(df)
    assert exchanges > COSTS["q_pricing_summary"]["exchanges"]


def test_bytes_gate_catches_fat_payload(spark):
    """Self-test: the byte metric must detect a wide column riding a
    shuffle that leaves the exchange COUNT unchanged — exactly the
    regression class the count gate is blind to."""
    ev = load_table(spark, SF_DIR, "events").select("user_id", "event_id")
    # ~256 incompressible chars per row (distinct md5 inputs per slot so
    # lz4 can't collapse the padding).
    pad = F.concat_ws(
        "",
        *[F.md5(F.concat(F.col("event_id").cast("string"), F.lit(str(i)))) for i in range(8)],
    )

    def profile(df, label):
        out = df.repartition("user_id").agg(F.sum(F.length("payload")).alias("s"))
        return executed_cost_profile(spark, out, f"costs_selftest_{label}")

    slim = profile(ev.withColumn("payload", F.col("event_id").cast("string")), "slim")
    fat = profile(ev.withColumn("payload", pad), "fat")
    if slim["shuffle_write_bytes"] is None:
        pytest.skip("spark.ui.enabled=false in this session (no byte metrics)")
    assert slim["exchanges"] == fat["exchanges"], "count gate must be blind here"
    assert fat["shuffle_write_bytes"] > BYTES_TOL * slim["shuffle_write_bytes"], (
        f"byte metric failed to see the fat payload: "
        f"fat={fat['shuffle_write_bytes']}B slim={slim['shuffle_write_bytes']}B"
    )
