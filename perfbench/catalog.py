"""Workload and metric names shared by the parent (run.py) and the
worker. Importing this module loads no Spark."""

from __future__ import annotations

# the worker's result line starts with this; run.py re-prints the rest
RESULT_PREFIX = "PERFBENCH_RESULT "

# name -> (unit of work, the workload-specific names of units_per_s and
# step_p50_s); why each workload exists: README.md
WORKLOADS = {
    "crawl_polite": ("URL", "crawl_urls_per_s", "crawl_iter_p50_s"),
    "crawl_wide": ("URL", "crawl_urls_per_s", "crawl_iter_p50_s"),
    "curate": ("doc", "curate_docs_per_s", "curate_run_p50_s"),
    "dedup_stream": ("doc", "stream_docs_per_s", "stream_batch_p50_s"),
}

# end-to-end metrics every workload reports with --trace 0 (run.py
# also prints peak RSS, which is too noisy across runs to gate on)
E2E_METRICS = {
    "setup_s": "s",
    "units_per_s": "1/s",
    "step_p50_s": "s",
}

CRAWL_PHASES = ("extract_commit", "filter", "frontier", "claims", "commit")
# job descriptions the crawl loop sets (it{n}:<desc>) and "other" for
# jobs without one
JOB_PHASES = ("docs", "discover", "filter", "frontier", "claims", "compact", "other")
PIPELINE_STAGES = (
    "line_dedup",
    "substring_dedup",
    "quality",
    "decontaminate",
    "pii_redact",
    "near_dup_filter",
    "domain_quota",
    "dataset_mix",
    "shard_shuffle",
    "sequence_pack",
)
SPARK_METRICS = {
    "cpu_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "executor_busy_frac": ("fraction", "higher"),
    "driver_gap_s": ("s", "lower"),
    "shuffle_read_bytes": ("bytes", "lower"),
    "shuffle_write_bytes": ("bytes", "lower"),
    "spill_bytes": ("bytes", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "task_failures": ("count", "lower"),
}

S, HI, LO = ("s", "lower"), "higher", "lower"
# per-layer metrics every workload reports with --trace 1, as
# name -> (unit, better); a layer the workload bypasses reads 0
PER_LAYER = {
    "session.start_s": S,
    "synthetic_web.generate_s": S,
    "inputs.stage_s": S,
    **{f"crawl.phase.{p}_s": S for p in CRAWL_PHASES},
    "extraction.fetch_extract_s": S,
    "extraction.docs_per_s": ("1/s", HI),
    "extraction.html_bytes": ("bytes", LO),
    "frontier.claim_s": S,
    "frontier.claimed_rows": ("count", HI),
    "frontier.claim_partition_skew": ("ratio", LO),
    "seen.gate_s": S,
    "seen.candidates": ("count", LO),
    "seen.new_frac": ("fraction", HI),
    "crawl.jobs_per_iter": ("count", LO),
    "crawl.tasks_per_iter": ("count", LO),
    "crawl.new_per_claimed": ("ratio", HI),
    "crawl.mime_rejected_frac": ("fraction", LO),
    "crawl.fetch_missing_frac": ("fraction", LO),
    "snapshot.files_per_iter": ("count", LO),
    "snapshot.bytes_per_iter": ("bytes", LO),
    "snapshot.files_per_batch": ("count", LO),
    "snapshot.partitions_per_batch": ("count", LO),
    **{f"pipeline.{s}_s": S for s in PIPELINE_STAGES},
    "pipeline.keep_frac": ("fraction", HI),
    "dedup.minhash_s": S,
    "dedup.candidates_per_pair": ("ratio", LO),
    "stream.add_batch_ms_p50": ("ms", LO),
    "stream.planning_ms_p50": ("ms", LO),
    "stream.batch_growth": ("ratio", LO),
    "stream.key_buckets": ("count", LO),
    "stream.pairs": ("count", HI),
    **{f"spark.{k}": v for k, v in SPARK_METRICS.items()},
    **{f"spark.phase.{p}.{k}": v for p in JOB_PHASES
       for k, v in (("jobs", ("count", LO)), ("tasks", ("count", LO)), ("cpu_s", S))},
    "trace.units_per_s": ("1/s", HI),
    "trace.step_p50_s": S,
}
