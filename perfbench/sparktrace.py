"""Tracing from outside the package: Spark's event log, parsed by job
description, and a StreamingQueryListener for micro-batch timings."""

from __future__ import annotations

import glob
import json
import os
import re

from catalog import JOB_PHASES

_PHASE_RE = re.compile(r"^it(\d+):(\w+)$")


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _job_phase(desc: str | None, iterations: set[int] | None) -> str | None:
    """Crawl phase of a job from its ``it{n}:<phase>`` description;
    None when the job belongs to an iteration outside ``iterations``."""
    m = _PHASE_RE.match(desc or "")
    if not m:
        return "other"
    if iterations is not None and int(m.group(1)) not in iterations:
        return None
    return m.group(2) if m.group(2) in JOB_PHASES else "other"


def parse_event_log(
    log_dir: str,
    window_ms: tuple[float, float],
    nproc: int,
    iterations: set[int] | None = None,
) -> dict[str, float]:
    """``spark.*`` metrics over the jobs submitted inside ``window_ms``
    (epoch ms). Read after the SparkContext stopped, which flushes the
    log."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "start": ev["Submission Time"],
                        "end": None,
                        "desc": props.get("spark.job.description"),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)

    lo, hi = window_ms
    in_window = {}
    for jid, j in jobs.items():
        if lo <= j["start"] <= hi:
            phase = _job_phase(j["desc"], iterations)
            if phase is not None:
                in_window[jid] = dict(j, phase=phase)

    out = {f"spark.{k}": 0.0 for k in (
        "cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
        "spill_bytes", "tasks", "task_failures",
    )}
    for p in JOB_PHASES:
        for k in ("jobs", "tasks", "cpu_s"):
            out[f"spark.phase.{p}.{k}"] = 0.0
    busy_ms = 0.0
    for ev in tasks:
        jid = stage_job.get(ev.get("Stage ID"))
        if jid not in in_window:
            continue
        phase = in_window[jid]["phase"]
        m = ev.get("Task Metrics") or {}
        cpu = m.get("Executor CPU Time", 0) / 1e9
        out["spark.cpu_s"] += cpu
        out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
        rd = m.get("Shuffle Read Metrics") or {}
        out["spark.shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
            "Local Bytes Read", 0
        )
        wr = m.get("Shuffle Write Metrics") or {}
        out["spark.shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
        out["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
        out["spark.tasks"] += 1
        if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
            out["spark.task_failures"] += 1
        busy_ms += m.get("Executor Run Time", 0)
        out[f"spark.phase.{phase}.tasks"] += 1
        out[f"spark.phase.{phase}.cpu_s"] += cpu
    for j in in_window.values():
        out[f"spark.phase.{j['phase']}.jobs"] += 1
    out["spark.jobs"] = float(len(in_window))

    # driver gap: window time during which no job was running
    spans = sorted(
        (max(j["start"], lo), min(j["end"] or hi, hi)) for j in in_window.values()
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    wall = max(hi - lo, 1.0)
    out["spark.driver_gap_s"] = max(wall - covered, 0.0) / 1e3
    out["spark.executor_busy_frac"] = busy_ms / (wall * nproc)
    return out


def batch_listener(spark):
    """Register a StreamingQueryListener that keeps every micro-batch's
    ``durationMs`` parts; returns the list it appends to."""
    from pyspark.sql.streaming import StreamingQueryListener

    progress: list[dict] = []

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.numInputRows:  # availableNow's empty closing trigger
                progress.append({"batch": p.batchId, **dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(_Listener())
    return progress
