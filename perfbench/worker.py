"""One benchmark process: cold set-up, then the workload's passes.

``run.py`` launches this file as a fresh process for every run. It
prints ``READY <jvm pid>`` on stdout as soon as set-up has finished, so
the parent can time set-up from process launch, then writes its result
as JSON to ``--result``.

Set-up is what a one-shot job pays before its first real action: import
the query registry, ``get_spark()``, one trivial action.

Every phase is measured twice: in wall seconds and in CPU seconds of the
whole process session (this process, its JVM, and the Python daemons
and UDF workers the JVM forks). The CPU seconds are the contract's
timings: on a shared host they do not count the time other guests take
from this one, which wall time does.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.getcwd())  # the checkout root holds noaa_etl_spark/ and tests/
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# One measured warm pass: with a second on every workload, the
# 4 + 22 × workloads runs the contract allows in 3420 s no longer fit on
# a busy host (on a 4-core VM a run takes ~45 s when the host is quiet
# and ~1.4x that while other guests load it; a warm pass adds 8-17 s).
MIN_WARM_PASSES = 1


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def session_stats(sid: int) -> list[tuple[int, list[str]]]:
    """(pid, the ``/proc/<pid>/stat`` fields after the command name) of
    every process of session ``sid``, zombies included. The PySpark
    daemons leave the worker's process group (setpgid) but stay in its
    session."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            found.append((int(pid), fields))
    return found


def session_cpu_s(sid: int) -> float:
    """CPU seconds (user + system, with reaped children) of every process
    of session ``sid`` that has not been reaped yet. A process that ends
    inside the session is reaped by its parent there, whose reaped-children
    times then carry its CPU time on."""
    ticks = sum(int(x) for _, fields in session_stats(sid) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--data")
    ap.add_argument("--out")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--result")
    ap.add_argument("--spans")
    args = ap.parse_args()

    t0 = time.perf_counter()
    import noaa_etl_spark.queries  # noqa: F401  (registers every query)

    t1 = time.perf_counter()
    from noaa_etl_spark.session import get_spark

    spark = get_spark("perfbench", ui=bool(args.trace))
    t2 = time.perf_counter()
    spark.range(1).count()
    jvm_pid = spark.sparkContext._gateway.proc.pid
    sid = os.getsid(0)
    setup_cpu_s = session_cpu_s(sid)
    print(f"READY {jvm_pid}", flush=True)
    spark.sparkContext.setLogLevel("ERROR")

    import tracing
    from metrics import PER_LAYER
    from workloads import WORKLOADS, CheckFailed

    with open(os.path.join(args.data, "MANIFEST.json")) as f:
        truth = json.load(f)["truth"]
    wl = WORKLOADS[args.workload]
    ops = wl.ops(spark, args.data, args.out, truth)
    tracer = tracing.Tracer(spark) if args.trace else None
    if tracer:
        tracer.start_listener()

    order = random.Random(args.seed)
    attempted = failed = 0
    errors: list[str] = []
    passes: list[dict] = []
    check_s = 0.0  # untimed: reported so the run's wall time can be accounted for

    def record_failure(where: str, exc: Exception) -> None:
        nonlocal failed
        failed += 1
        detail = str(exc) if isinstance(exc, CheckFailed) else traceback.format_exc(limit=4)
        errors.append(f"{where}: {detail}")

    def run_pass(no: int, traced: bool) -> None:
        nonlocal attempted, check_s
        total = build = cpu = 0.0
        stats: dict[str, float] = {}
        per_op: dict[str, float] = {}
        per_op_cpu: dict[str, float] = {}
        for op in order.sample(ops, len(ops)) if wl.permute else ops:
            attempted += 1
            op.build_s = 0.0
            try:
                c, t = session_cpu_s(sid), time.perf_counter()
                out = tracer.call(op.name, op.layer, no, op.run) if traced else op.run()
                per_op[op.name] = time.perf_counter() - t
                per_op_cpu[op.name] = session_cpu_s(sid) - c
                cpu += per_op_cpu[op.name]
                total += per_op[op.name]
                t = time.perf_counter()
                try:
                    op.check(out)
                finally:
                    check_s += time.perf_counter() - t
            except Exception as e:  # a failed op is counted, the run goes on
                record_failure(f"pass {no} {op.name}", e)
            build += op.build_s
            stats.update(op.stats)
        passes.append({"no": no, "traced": traced, "s": total, "cpu_s": cpu, "build_s": build, "stats": stats, "op_s": per_op, "op_cpu_s": per_op_cpu})

    run_pass(0, bool(args.trace))
    # The workload's untimed warm-up passes, then measured warm passes
    # that fill the window; at least MIN_WARM_PASSES always run. A traced
    # run instead runs four warm passes, untraced and traced in ABBA
    # order, so the two medians come from one session with a linear
    # warm-up trend cancelled, and their difference is the tracing
    # overhead.
    warmup = 0 if args.trace else wl.warmup_passes
    for no in range(1, warmup + 1):
        run_pass(no, False)
    window_start = time.perf_counter()
    no = warmup + 1
    while no <= (4 if args.trace else warmup + MIN_WARM_PASSES) or time.perf_counter() - window_start < args.seconds:
        run_pass(no, bool(args.trace) and no % 4 in (2, 3))
        no += 1

    extra: dict[str, float] = {}
    if wl.run_checks:
        attempted += 1
        t = time.perf_counter()
        try:
            extra.update(wl.run_checks(spark, args.out))
        except Exception as e:
            record_failure("run checks", e)
        check_s += time.perf_counter() - t

    plain = [p for p in passes if p["no"] > warmup and not p["traced"]]
    result = {
        "attempted": attempted,
        "failed": failed,
        "errors": errors[:20],
        "import_s": t1 - t0,
        "session_s": t2 - t1,
        "setup_cpu_s": setup_cpu_s,
        "first_pass_s": passes[0]["s"],
        "first_pass_cpu_s": passes[0]["cpu_s"],
        "pass_s": statistics.median(p["s"] for p in plain),
        "pass_cpu_s": statistics.median(p["cpu_s"] for p in plain),
        "passes_s": [round(p["s"], 3) for p in passes],
        "passes_cpu_s": [round(p["cpu_s"], 2) for p in passes],
        "warm_passes": len(plain),
        "op_s": {op.name: [round(p["op_s"].get(op.name, 0.0), 3) for p in passes] for op in ops},
        "op_cpu_s": {op.name: [round(p["op_cpu_s"].get(op.name, 0.0), 2) for p in passes] for op in ops},
        "checks": {**passes[-1]["stats"], **extra},
        "check_s": check_s,
        "peak_rss_mb": (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024,
        "cores": spark.sparkContext.defaultParallelism,
        "spark_version": spark.version,
    }

    if tracer:
        if wl.trace_counts:
            extra.update(wl.trace_counts(spark, args.data))
        per_op = tracer.collect()
        tracer.stop_listener()
        traced = [p for p in passes if p["traced"] and p["no"] > 0]
        samples = []
        for p in traced:
            m = tracing.pass_metrics(tracer, per_op, p["no"], p["s"], result["cores"], truth["rows"])
            m["queries.build_s"] = p["build_s"]
            m["dedup.planted_recall"] = p["stats"].get("planted_recall", 0.0)
            samples.append(m)
        layers = dict.fromkeys(PER_LAYER, 0.0)  # a layer that did no work reads 0
        layers.update(tracing.median_metrics(samples))
        layers.update(extra)
        layers["registry.import_s"] = result["import_s"]
        layers["session.start_s"] = result["session_s"]
        layers["trace.overhead_s"] = statistics.median(p["s"] for p in traced) - result["pass_s"]
        result["layers"] = layers
        tracer.dump(args.spans)

    with open(args.result, "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
