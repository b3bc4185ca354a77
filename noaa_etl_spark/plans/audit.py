"""Physical-plan audit helpers.

``formatted_plan`` captures ``df.explain("formatted")`` (the only
explain mode that does not truncate PushedFilters / ReadSchema lists);
the predicate helpers encode the plan properties the engine's scale
posture depends on, so tests and ad-hoc audits share one vocabulary:

    from noaa_etl_spark.plans import assert_plan
    assert_plan(df, requires=["BroadcastHashJoin", "TakeOrderedAndProject"],
                    forbids=["CartesianProduct"])
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The full formatted physical plan as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def assert_plan(
    df: DataFrame,
    requires: list[str] | None = None,
    forbids: list[str] | None = None,
) -> str:
    """Assert plan-node substrings present/absent; returns the plan so
    callers can chain further checks. Raises AssertionError with the
    full plan attached — the failure message IS the explain output."""
    plan = formatted_plan(df)
    for token in requires or []:
        assert token in plan, f"plan missing required node {token!r}:\n{plan}"
    for token in forbids or []:
        assert token not in plan, f"plan contains forbidden node {token!r}:\n{plan}"
    return plan


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def has_pushed_filters(df: DataFrame) -> bool:
    """True when at least one non-trivial filter reached a file scan."""
    plan = formatted_plan(df)
    for m in re.finditer(r"PushedFilters: \[(.*?)\]", plan):
        if m.group(1).strip():
            return True
    return False


def scan_read_schema(df: DataFrame) -> list[str]:
    """All ReadSchema struct bodies in the plan — audit column pruning."""
    plan = formatted_plan(df)
    return re.findall(r"ReadSchema: struct<([^>]*)>", plan)


def plan_exchange_counts(plan: str) -> tuple[int, int, int]:
    """(shuffle_exchanges, broadcast_exchanges, reused_exchanges) in a
    physical plan string.

    ``\\bExchange\\b`` matches only shuffle Exchange nodes:
    BroadcastExchange and ReusedExchange have no word boundary
    before/after their prefix, so the three counts are disjoint (the
    broadcast count exists so the COSTS gate can see a query *gaining*
    a BroadcastExchange, not just a shuffle). Batch and streaming plans
    use the same node names.
    """
    exchanges = len(re.findall(r"\bExchange\b", plan))
    broadcast = len(re.findall(r"BroadcastExchange", plan))
    reused = len(re.findall(r"ReusedExchange", plan))
    return exchanges, broadcast, reused


def executed_exchange_counts(df: DataFrame) -> tuple[int, int, int]:
    """``plan_exchange_counts`` of the AQE-final executed plan.

    Triggers execution (collect) — AQE only finalizes the plan after the
    last stage runs.
    """
    df.collect()
    return plan_exchange_counts(df._jdf.queryExecution().executedPlan().toString())


def stream_cost_profile(spark, fn, sf_dir: str) -> dict | None:
    """Run the query ``fn(spark, sf_dir)`` and profile the drain-time
    plans it captures, or return None when it captures none (a batch
    query).

    Streaming plans are invisible to the batch audit — the returned frame
    only scans the sink — so the micro-batch plans the drains leave in
    ``streaming.core.LAST_STREAM_PLANS`` are the auditable surface: a
    ``run_to_memory`` drain's executed plan under its query name, and
    each frame a ``fold_stream`` partial writes under ``fb_<key>``. The
    map is cleared first, so only this call's plans count. Returns the
    exchange counts and ``StateStore`` operators summed over every
    captured plan, plus ``plans``, the sorted captured keys.
    """
    from noaa_etl_spark.streaming.core import LAST_STREAM_PLANS

    LAST_STREAM_PLANS.clear()
    fn(spark, sf_dir).collect()
    if not LAST_STREAM_PLANS:
        return None
    profile = dict.fromkeys(
        ("exchanges", "broadcast_exchanges", "reused_exchanges", "state_store_ops"), 0
    )
    for plan in LAST_STREAM_PLANS.values():
        e, b, r = plan_exchange_counts(plan)
        profile["exchanges"] += e
        profile["broadcast_exchanges"] += b
        profile["reused_exchanges"] += r
        profile["state_store_ops"] += plan.count("StateStore")
    profile["plans"] = sorted(LAST_STREAM_PLANS)
    return profile


def _job_group_stage_ids(spark, group: str) -> tuple[int, set[int], int]:
    """(job_count, stage_ids, task_count) recorded for a job group."""
    tracker = spark.sparkContext.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info:
            stage_ids.update(info.stageIds)
    tasks = 0
    for sid in stage_ids:
        sinfo = tracker.getStageInfo(sid)
        if sinfo:
            tasks += sinfo.numTasks
    return len(job_ids), stage_ids, tasks


def rest_shuffle_bytes(spark, stage_ids: set[int]) -> tuple[int | None, int | None]:
    """(shuffle_read_bytes, shuffle_write_bytes) summed over ``stage_ids``
    via the Spark UI REST API — the only stable byte-level stage metrics
    surface PySpark exposes (StatusTracker has task counts only).

    Returns (None, None) when the UI is disabled (``get_spark(ui=True)``
    opts in). Why bytes matter: an Exchange COUNT gate is blind to
    payload width — a plan can keep its exchange count while shuffling
    60x the bytes (the round-2 MinHash band-join regression class).
    """
    base = spark.sparkContext.uiWebUrl
    if not base:
        return None, None
    import json as _json
    import urllib.request

    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app_id}/stages") as r:
        stages = _json.load(r)
    read = write = 0
    for s in stages:
        if s.get("stageId") in stage_ids:
            read += int(s.get("shuffleReadBytes", 0))
            write += int(s.get("shuffleWriteBytes", 0))
    return read, write


def executed_cost_profile(spark, df: DataFrame, group: str) -> dict:
    """Execute ``df`` under job group ``group`` and return the full cost
    profile: jobs/stages/tasks, AQE-final exchange counts, and stage-level
    shuffle bytes (None when the UI is off). One vocabulary shared by
    tools/cost_audit.py and the tests/test_costs.py regression gate."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel=False)
    try:
        exchanges, broadcast, reused = executed_exchange_counts(df)
    finally:
        sc.setJobGroup(None, None)
    jobs, stage_ids, tasks = _job_group_stage_ids(spark, group)
    read_b, write_b = rest_shuffle_bytes(spark, stage_ids)
    return {
        "jobs": jobs,
        "stages": len(stage_ids),
        "tasks": tasks,
        "exchanges": exchanges,
        "broadcast_exchanges": broadcast,
        "reused_exchanges": reused,
        "shuffle_read_bytes": read_b,
        "shuffle_write_bytes": write_b,
    }
