"""Streaming plumbing: fixture tables as file streams, and the two
drains the streaming twins go through.

Design: the engine's temporal operators are written once as DataFrame
shapes; the streaming twins apply the *same shape* to
``spark.readStream``. ``availableNow`` processes everything currently in
the directory then stops — which is exactly the semantics a graded/batch
comparison needs, and on a real cluster is the canonical backfill mode.

- ``run_to_memory``: a streaming DataFrame (stateful operators included)
  drained into an in-memory sink, returned as a batch table.
- ``fold_stream``: a source frame split into three arrival files and
  drained through ``foreachBatch``; each micro-batch writes its partial
  state under ``batch_id=N`` and the twin folds the states it gets back.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from noaa_etl_spark.io import SCRATCH_ROOT, normalize_events_ts
from noaa_etl_spark.session import configure_session

_CHECKPOINT_ROOT = os.path.join(SCRATCH_ROOT, "checkpoints")

# Drain-time plans by key: the last executed micro-batch plan of each
# run_to_memory drain under its query name, and the physical plan of
# each frame a foreachBatch function writes under ``fb_<name>``.
# Streaming plans are invisible to the batch cost audit (df.explain on
# the returned table shows the SINK scan, not the micro-batch pipeline)
# — plans.audit.stream_cost_profile reads this map so a stream query
# gaining a shuffle fails the COSTS gate.
LAST_STREAM_PLANS: dict[str, str] = {}

# staged_stream_src cache: (abs sf_dir, twin name) -> staged src dir.
# Process-local by construction — nothing persists across bench/driver
# invocations, so every run still derives its micro-batch files from the
# parquet inputs.
_STAGED_SRC: dict[tuple[str, str], str] = {}


def staged_stream_src(sf_dir: str, name: str, build) -> str:
    """Stage a twin's micro-batch SOURCE files once per (session,
    sf_dir, twin) and return the src directory.

    The deterministic split of a fixture table into arrival-ordered
    parquet files is input PREPARATION (scaffolding), not operator
    work — r15/r16 measured the per-twin wall dominated by re-writing
    these files on every invocation (2-3 write jobs per twin per run).
    First call per key: the directory is cleared and ``build(src_dir)``
    writes the files; later calls in the SAME process reuse them. The
    cache key includes the data directory, so a different SF stages its
    own copy, and the cache dies with the process — no cross-run
    persistence. Checkpoints and per-batch outputs stay per-run
    (``fold_stream`` wipes them; a stale checkpoint would make
    availableNow see no data). The first staging of a key also removes
    the ``<name>/src`` directory that per-run staging used to leave."""
    key = (os.path.abspath(sf_dir), name)
    src = _STAGED_SRC.get(key)
    if src is None:
        # The directory must be unique per KEY, not just per twin: a
        # process that stages the same twin at two sf_dirs (e.g. a
        # multi-SF test run) would otherwise rebuild into the first
        # key's cached path and poison it.
        tag = hashlib.md5(key[0].encode()).hexdigest()[:8]
        root = os.path.join(SCRATCH_ROOT, name)
        src = os.path.join(root, f"src-{tag}")
        for d in (src, os.path.join(root, "src")):
            shutil.rmtree(d, ignore_errors=True)
        build(src)
        _STAGED_SRC[key] = src
    return src


def record_foreach_batch_plan(name: str, df: DataFrame) -> None:
    """Capture the physical plan of a frame a foreachBatch function is
    about to write.

    foreachBatch inner work is invisible to BOTH audit surfaces: the
    batch cost audit never sees it (it runs only at drain time) and
    ``query.explainInternal`` shows just the stream-scan→foreachBatch
    sink, not the batch jobs the function launches. This hook closes the
    gap: the foreachBatch twins call it on each frame they write, the
    LAST batch's plan wins, and the streaming COSTS gate reads it under
    the ``fb_<name>`` key. The plan is the un-executed physical plan,
    i.e. AQE's initial plan (deterministic — no runtime shuffle→broadcast
    conversions), with each node named once like the ``run_to_memory``
    plans, so committed counts and gate counts come from one capture
    method. Multiple frames per batch append under distinct names.
    """
    from noaa_etl_spark.plans.audit import physical_plan

    try:
        LAST_STREAM_PLANS[f"fb_{name}"] = physical_plan(df)
    except Exception:  # audit aid, never a failure
        LAST_STREAM_PLANS.pop(f"fb_{name}", None)


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Open one fixture table as a file-source stream.

    Schema is taken from a batch read of the same file (schemas must be
    declared for file streams); the events nanos→micros conversion is
    applied identically to the batch loader so both planes see one
    schema.
    """
    configure_session(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = spark.read.parquet(path).schema
    df = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    if name == "events":
        df = normalize_events_ts(df)
    return df


def run_to_memory(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into an
    in-memory table and return that table as a batch DataFrame.

    The checkpoint dir is recreated per run — a stale checkpoint would
    make availableNow see 'no new data' and return an empty table.
    """
    spark = stream_df.sparkSession
    checkpoint = os.path.join(_CHECKPOINT_ROOT, query_name)
    shutil.rmtree(checkpoint, ignore_errors=True)
    # r15 opt: stateful streaming shuffles are NOT reached by AQE
    # coalescing, and the first micro-batch bakes
    # spark.sql.shuffle.partitions into the state layout — under a
    # vanilla session that is 200 state-store instances per stateful
    # operator per micro-batch (q_stream_interval_join drained in 93 s
    # at sf0.01 under the vanilla driver; ~8 s sized). Scope-set the
    # count to the executor parallelism ONLY when the session still
    # carries Spark's untouched 200 default (an explicit production
    # sizing is respected verbatim); restore after the drain. Fresh checkpoint per run ⇒
    # no cross-run state-layout conflict.
    # r16 fix (ADVICE r15): on a session that never explicitly set the
    # conf, conf.get(key, None) returns None — NOT "200" — so the old
    # `prev == "200"` guard never fired under exactly the vanilla
    # driver the sizing targets, and would have overridden a session
    # that deliberately pinned 200. None ⇒ untouched default ⇒ size it
    # and unset after; any explicit value (including 200) is respected
    # verbatim.
    part_key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(part_key, None)
    if prev is None:
        spark.conf.set(part_key, str(spark.sparkContext.defaultParallelism))
    try:
        query = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        if prev is None:
            spark.conf.unset(part_key)
    # explainInternal on a terminated availableNow query returns the
    # LAST micro-batch's executed physical plan (incremental execution
    # is retained on the query handle) — the only surface that shows
    # streaming Exchange/StateStore nodes.
    try:
        LAST_STREAM_PLANS[query_name] = query._jsq.explainInternal(False)
    except Exception:  # plan capture is an audit aid, never a failure
        LAST_STREAM_PLANS.pop(query_name, None)
    return spark.table(query_name)


def hash_split(seed: str, *cols) -> Column:
    """The usual ``fold_stream`` split: a seeded xxhash64 of ``cols``,
    mod 3 — deterministic, so every session stages the same files."""
    return F.pmod(F.xxhash64(F.lit(seed), *cols), F.lit(3))


def range_split(frame: DataFrame, t: str) -> Column:
    """A ``fold_stream`` split into three equal-width half-open ranges of
    the BIGINT column ``t``, as 0/1/2 (ties never straddle a cut). The
    bounds are scalar subqueries over ``frame``, so they are computed by
    the staging writes — once per session — and never by a drain."""
    b = frame.agg(
        F.struct(
            F.min(t).alias("lo"), F.expr(f"(max({t}) - min({t})) div 3").alias("step")
        )
    ).scalar()
    lo, step = b["lo"], b["step"]
    return (
        F.when(F.col(t) < lo + step, F.lit(0))
        .when(F.col(t) < lo + 2 * step, F.lit(1))
        .otherwise(F.lit(2))
    )


def fold_stream(
    sf_dir: str,
    name: str,
    source: DataFrame,
    split: Column,
    partials: dict,
    files_per_batch: int = 1,
) -> list[DataFrame]:
    """Drain ``source`` through foreachBatch as three micro-batches and
    return the per-batch states the ``partials`` wrote, read back.

    - ``source``: the rows that arrive; its schema is the stream schema.
    - ``split``: each row's micro-batch, 0-2 (``hash_split`` /
      ``range_split``). It may read columns ``source`` projected away —
      Spark resolves them from the source's input — so a gate key need
      not be staged.
    - ``partials``: plan key -> ``fn(batch_df) -> frame``. Per batch,
      each frame's plan is recorded under its key
      (``record_foreach_batch_plan``), then the frame overwrites
      ``<key>/batch_id=N``: a batch replayed after a failure replaces
      its own output, so restarts are idempotent.
    - ``files_per_batch``: files staged per micro-batch (one by default;
      more gives a heavy batch scan parallelism).

    Everything lives under ``.tmp/<name>``: the source files, staged once
    per session by ``staged_stream_src``; ``ckpt`` and one directory per
    partial, both wiped before each run (a stale checkpoint would make
    availableNow see no data). Returns one frame per partial, in
    ``partials`` order, each with its ``batch_id`` partition column.
    """
    spark = source.sparkSession
    root = os.path.join(SCRATCH_ROOT, name)
    ckpt = os.path.join(root, "ckpt")
    states = {key: os.path.join(root, key) for key in partials}
    for d in (ckpt, *states.values()):
        shutil.rmtree(d, ignore_errors=True)

    def build(src: str) -> None:
        for i in range(3):
            source.filter(split == i).coalesce(files_per_batch).write.mode(
                "append"
            ).parquet(src)

    src = staged_stream_src(sf_dir, name, build)

    def absorb(batch_df: DataFrame, batch_id: int) -> None:
        for key, partial in partials.items():
            frame = partial(batch_df)
            record_foreach_batch_plan(key, frame)
            frame.write.mode("overwrite").parquet(f"{states[key]}/batch_id={batch_id}")

    stream = (
        spark.readStream.schema(source.schema)
        .option("maxFilesPerTrigger", str(files_per_batch))
        .parquet(src)
    )
    (
        stream.writeStream.foreachBatch(absorb)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return [spark.read.parquet(d) for d in states.values()]
