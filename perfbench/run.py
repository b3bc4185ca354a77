"""Benchmark entry point: one run of one workload in fresh processes.

    python3 perfbench/run.py --workload ghcn_etl --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The run generates (or reuses, after a
digest check) the seeded input, starts one worker process, which sets
up (launch to its first trivial action), runs a cold pass and then warm
passes for at least ``--seconds``, and prints as its last stdout line
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The end-to-end timings are CPU seconds of the worker's
whole process session; the line before the result carries the wall
times next to them, and the run context: nproc, load averages, CPU
steal, versions and the failed-operation fraction.

Closed loop, one client: the worker issues each operation only after
the previous one has finished, on ``local[nproc]``.
"""

from __future__ import annotations

import argparse
import importlib.metadata
import json
import os
import select
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gen import cached_inputs, tree_bytes  # noqa: E402
from metrics import PER_LAYER  # noqa: E402
from worker import session_stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402  (no Spark import at module level)

DRIVER_MEM = "2g"
RUN_TIMEOUT_S = 160  # with the reaping grace below, the whole run stays under 180 s


def _session_pids(sid: int) -> list[int]:
    """Live (not zombie) processes of session ``sid``."""
    return [pid for pid, fields in session_stats(sid) if fields[0] != "Z"]


def _kill(pids: list[int]) -> None:
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _reap_session(proc: subprocess.Popen, grace_s: float = 10.0) -> None:
    """Wait until every process of ``proc``'s session (the worker, its JVM
    and the Python daemons) has ended, killing what outlives the grace."""
    deadline = time.monotonic() + grace_s
    while _session_pids(proc.pid) and time.monotonic() < deadline:
        time.sleep(0.1)
    while pids := _session_pids(proc.pid):
        _kill(pids)
        time.sleep(0.1)
    proc.wait()


def _wait_ready(proc: subprocess.Popen, deadline: float) -> None:
    """Block until the worker prints READY: its set-up has finished."""
    while select.select([proc.stdout], [], [], max(0.0, deadline - time.monotonic()))[0]:
        line = proc.stdout.readline()
        if line.startswith("READY"):
            return
        if not line:
            raise RuntimeError(f"worker exited with code {proc.wait()} before set-up finished")
    raise RuntimeError("worker set-up did not finish before the run's deadline")


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    started = time.perf_counter()
    root = os.getcwd()
    for need in ("noaa_etl_spark/queries/__init__.py", "tests/conftest.py"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from the root of a full checkout", file=sys.stderr)
            return 2

    nproc = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()[0]
    steal_start = _cpu_ticks()
    bench = os.path.join(root, ".perfbench")
    scratch = os.path.join(bench, "run")
    out_dir = os.path.join(scratch, "out")
    wl = WORKLOADS[args.workload]
    # Every run starts from empty sinks and staging, so the staging the
    # stream twins do under <repo>/.tmp stays inside the first pass.
    for d in [scratch, *wl.sink_dirs(root, out_dir)]:
        shutil.rmtree(d, ignore_errors=True)
    for d in (out_dir, os.path.join(bench, "tmp"), os.path.join(bench, "spark-local")):
        os.makedirs(d, exist_ok=True)

    data_dir, truth, gen_s = cached_inputs(os.path.join(bench, "data"), wl.input_kind, args.seed, wl.input_size)
    in_bytes = tree_bytes(data_dir)

    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(bench, "spark-local"),
        TMPDIR=os.path.join(bench, "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYTHONHASHSEED="0",  # set and dict order in the Python driver process repeats run to run
    )
    # The heap is committed and touched up front (-Xms = max, pre-touch):
    # otherwise peak RSS follows when G1 happened to grow the heap, and
    # varies run to run by more than any change worth measuring.
    java_opts = f"-Djava.io.tmpdir={os.path.join(bench, 'tmp')} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
    conf = [f"--driver-java-options '{java_opts}'"]
    if args.trace:
        # The REST API must still hold every job, stage and SQL execution
        # of the run when the tracer reads it back at the end.
        conf += [f"--conf {k}=100000" for k in ("spark.ui.retainedJobs", "spark.ui.retainedStages", "spark.sql.ui.retainedExecutions")]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])

    result_path = os.path.join(scratch, "result.json")
    worker_args = [
        "--workload", args.workload, "--seed", str(args.seed), "--data", data_dir, "--out", out_dir,
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--result", result_path, "--spans", os.path.join(scratch, "spans.json"),
    ]
    deadline = time.monotonic() + RUN_TIMEOUT_S
    with open(os.path.join(scratch, "worker.log"), "w") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *worker_args],
            stdout=subprocess.PIPE,
            stderr=log,
            env=env,
            text=True,
            start_new_session=True,
        )
        try:
            _wait_ready(proc, deadline)
            setup_wall_s = time.perf_counter() - t0
            if proc.wait(timeout=max(0.0, deadline - time.monotonic())) != 0:
                raise RuntimeError(f"worker exited with code {proc.returncode}")
        except (RuntimeError, subprocess.TimeoutExpired) as e:
            log.flush()
            with open(os.path.join(scratch, "worker.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            print(f"perfbench: {e}", file=sys.stderr)
            return 1
        finally:
            if proc.poll() is None:
                _kill(_session_pids(proc.pid))
            _reap_session(proc)

    with open(result_path) as f:
        r = json.load(f)
    for err in r["errors"]:
        print(f"perfbench: FAILED {err}", file=sys.stderr)

    rows = truth["rows"]
    steal_end, total_end = _cpu_ticks()
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "input_rows": rows,
        "input_bytes": in_bytes,
        "gen_s": round(gen_s, 3),
        "warm_passes": r["warm_passes"],
        "setup_wall_s": round(setup_wall_s, 3),
        "first_pass_wall_s": round(r["first_pass_s"], 3),
        "first_pass_cpu_s": round(r["first_pass_cpu_s"], 2),
        "pass_wall_s": round(r["pass_s"], 3),
        "passes_s": r["passes_s"],
        "passes_cpu_s": r["passes_cpu_s"],
        "op_s": r["op_s"],
        "op_cpu_s": r["op_cpu_s"],
        "checks": r["checks"],
        "check_s": round(r["check_s"], 3),
        "failed_ops_frac": r["failed"] / r["attempted"],
        "nproc": nproc,
        "load_1m_start": load_start,
        "load_1m_end": os.getloadavg()[0],
        "background_load": load_start > nproc,
        # CPU time the hypervisor gave to other guests: load averages do
        # not show it, yet it slows every timing of the run.
        "cpu_steal_frac": round((steal_end - steal_start[0]) / max(1, total_end - steal_start[1]), 4),
        "spark": r["spark_version"],
        "pyspark": importlib.metadata.version("pyspark"),
        "python": sys.version.split()[0],
        "wall_s": round(time.perf_counter() - started, 3),
    }
    if args.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in sorted(r["layers"].items())}
    else:
        metrics = {
            "setup_s": {"value": r["setup_cpu_s"], "unit": "s"},
            "pass_cpu_s": {"value": r["pass_cpu_s"], "unit": "s"},
            "rows_per_cpu_s": {"value": rows / r["pass_cpu_s"], "unit": "rows/cpu-s"},
            "out_bytes_per_in_byte": {"value": sum(map(tree_bytes, wl.sink_dirs(root, out_dir))) / in_bytes, "unit": "ratio"},
            "peak_rss_mb": {"value": r["peak_rss_mb"], "unit": "MB"},
        }
    print(json.dumps({"context": context}))
    print(
        json.dumps(
            {
                "correct": r["failed"] == 0,
                "attempted": r["attempted"],
                "failed": r["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
