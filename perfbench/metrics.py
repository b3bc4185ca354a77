"""Metric names and units — ``BENCHMARK.json`` mirrors these tables, and
the self-tests hold the two in step.

``LAYER_TO_E2E`` records, before any measurement, which end-to-end metric
each layer metric should move and on which workload.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "rows_per_cpu_s": "rows/cpu-s",
    "out_bytes_per_in_byte": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "registry.import_s": "s",
    "session.start_s": "s",
    "session.jobs": "count",
    "session.stages": "count",
    "session.tasks": "count",
    "session.task_s": "s",
    "session.cpu_s": "s",
    "session.gc_s": "s",
    "session.busy_frac": "fraction",
    "queries.build_s": "s",
    "queries.driver_s": "s",
    "pipelines.driver_s": "s",
    "operators.driver_s": "s",
    "io.driver_s": "s",
    "streaming.driver_s": "s",
    "plans.exchanges": "count",
    "plans.broadcasts": "count",
    "io.input_rows": "count",
    "io.input_bytes": "B",
    "io.scan_amplification": "ratio",
    "io.scan_s": "s",
    "io.files_written": "count",
    "io.bytes_written": "B",
    "io.write_s": "s",
    "operators.shuffle_write_bytes": "B",
    "operators.shuffle_read_bytes": "B",
    "operators.fetch_wait_s": "s",
    "operators.spill_bytes": "B",
    "operators.peak_exec_mem_mb": "MB",
    "dedup.candidate_pairs": "count",
    "dedup.useful_ratio": "ratio",
    "dedup.planted_recall": "fraction",
    "ann.recall_at_k": "fraction",
    "functions.python_run_s": "s",
    "functions.python_start_s": "s",
    "functions.python_bytes_sent": "B",
    "functions.python_bytes_returned": "B",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.add_batch_s": "s",
    "streaming.plan_s": "s",
    "streaming.commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "B",
    "streaming.dropped_by_watermark": "count",
    "trace.overhead_s": "s",
}

LAYER_TO_E2E = {
    "registry.import_s session.start_s": "setup_s on every workload",
    "queries.build_s": "pass_cpu_s on stream_events and analytic_mix; none on ghcn_etl",
    "session.jobs session.stages session.tasks session.task_s session.cpu_s session.gc_s session.busy_frac":
        "pass_cpu_s where busy_frac is low (the scheduling floor: analytic_mix, stream_events); "
        "predicted flat on ghcn_etl, where busy_frac is highest",
    "plans.exchanges plans.broadcasts": "pass_cpu_s on corpus_prep, stream_events, analytic_mix",
    "io.input_rows io.input_bytes io.scan_amplification io.scan_s": "rows_per_cpu_s on ghcn_etl, corpus_prep",
    "io.files_written io.bytes_written io.write_s":
        "out_bytes_per_in_byte, pass_cpu_s on ghcn_etl, corpus_prep; flat on analytic_mix, which writes nothing",
    "operators.shuffle_write_bytes operators.shuffle_read_bytes operators.fetch_wait_s operators.spill_bytes "
    "operators.peak_exec_mem_mb": "pass_cpu_s on corpus_prep, stream_events, analytic_mix; peak_rss_mb",
    "dedup.candidate_pairs dedup.useful_ratio": "pass_cpu_s on corpus_prep",
    "dedup.planted_recall ann.recall_at_k": "guards on corpus_prep: below bound counts as a failed operation",
    "functions.python_run_s functions.python_start_s functions.python_bytes_sent functions.python_bytes_returned":
        "pass_cpu_s on corpus_prep; none on ghcn_etl",
    "streaming.batches streaming.input_rows streaming.add_batch_s streaming.plan_s streaming.commit_s "
    "streaming.state_rows streaming.state_bytes streaming.dropped_by_watermark":
        "pass_cpu_s, rows_per_cpu_s on stream_events; none elsewhere",
    "queries.driver_s pipelines.driver_s operators.driver_s io.driver_s streaming.driver_s":
        "pass_cpu_s on the workload that owns the call",
    "trace.overhead_s": "none: traced minus untraced wall pass time in one traced session",
}
