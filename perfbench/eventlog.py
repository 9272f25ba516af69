"""Reduce a Spark event log to per-label, per-call-site and total records.

The traced benchmark JVM runs with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false``; jobs carry the benchmark's label in
``spark.job.description`` and, where a logspark line started them, a
``callSite.short`` such as ``parquet at logspark/plans/pipeline.py:312``.
Each task's metrics are charged to its stage's job, so a record sums:

- jobs, stages, tasks and task retries;
- executor run, CPU and GC time, task wait (launch minus stage submit);
- shuffle read/write and spilled bytes;
- the ``PythonSQLMetrics`` of ArrowEvalPython/MapInPandas nodes: Python
  worker start, init and run time, bytes sent to and returned from Python;
- driver time: span wall clock not covered by any stage of the same label.
"""

from __future__ import annotations

import json
import os

# record key -> unit, in the order records list them
METRIC_UNITS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "task_retries": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "task_wait_s": "s",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "python_boot_s": "s",
    "python_init_s": "s",
    "python_run_s": "s",
    "python_bytes_sent": "bytes",
    "python_bytes_received": "bytes",
    "wall_s": "s",
    "driver_s": "s",
    "core_busy_frac": "ratio",
}

# PythonSQLMetrics accumulator name -> (record key, scale to the key's unit)
PYTHON_METRICS = {
    "time to start Python workers": ("python_boot_s", 1e-3),
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "time to run Python workers": ("python_run_s", 1e-3),
    "data sent to Python workers": ("python_bytes_sent", 1),
    "data returned from Python workers": ("python_bytes_received", 1),
}

CALLSITE_MODULES = {
    "pipeline.py": "pipeline",
    "dedup.py": "dedup",
    "dedup_agent.py": "dedup",
    "tableio.py": "tableio",
}


def find_log(eventlog_dir: str) -> str:
    """The one application log file under `eventlog_dir`."""
    entries = [e for e in os.listdir(eventlog_dir) if not e.startswith(".")]
    if len(entries) != 1:
        raise ValueError(f"expected one event log in {eventlog_dir}, found {entries}")
    return os.path.join(eventlog_dir, entries[0])


def read(path: str) -> list[dict]:
    """Events of a plain (uncompressed, not rolling) log file, in order."""
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def callsite_module(callsite: str | None) -> str:
    """'parquet at logspark/plans/pipeline.py:312' -> 'pipeline'; 'other'
    for call sites outside the tracked modules or missing."""
    if not callsite or " at " not in callsite:
        return "other"
    path = callsite.rsplit(" at ", 1)[1].rsplit(":", 1)[0]
    return CALLSITE_MODULES.get(os.path.basename(path), "other")


def _empty() -> dict:
    return {k: 0 for k in METRIC_UNITS}


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def reduce(events: list[dict], spans: list[dict], cores: int) -> dict:
    """{"labels": {label: record}, "callsites": {module: record}, "total":
    record over every label starting with "op:"}.

    `spans` are the benchmark's labelled wall-clock spans ({name, start_ms,
    end_ms}); they give each label its wall time and bound its driver time."""
    job_of_stage: dict[int, int] = {}
    job_label: dict[int, str] = {}
    job_module: dict[int, str] = {}
    stage_submit: dict[tuple[int, int], float] = {}
    stage_span: dict[tuple[int, int], tuple[float, float]] = {}
    tasks: list[dict] = []
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            job_label[jid] = props.get("spark.job.description") or "unlabelled"
            job_module[jid] = callsite_module(props.get("callSite.short"))
            for sid in e["Stage IDs"]:
                job_of_stage[sid] = jid
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            if "Submission Time" in info:
                stage_submit[(info["Stage ID"], info["Stage Attempt ID"])] = info["Submission Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            if "Submission Time" in info and "Completion Time" in info:
                stage_submit.setdefault(key, info["Submission Time"])
                stage_span[key] = (info["Submission Time"], info["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            tasks.append(e)

    labels: dict[str, dict] = {}
    modules: dict[str, dict] = {m: _empty() for m in sorted(set(CALLSITE_MODULES.values()) | {"other"})}
    seen_jobs: set[tuple[str, int]] = set()
    seen_stages: set[tuple[str, tuple[int, int]]] = set()

    def charge(rec_key: str, rec: dict, jid: int, skey: tuple[int, int]) -> None:
        if (rec_key, jid) not in seen_jobs:
            seen_jobs.add((rec_key, jid))
            rec["jobs"] += 1
        if (rec_key, skey) not in seen_stages:
            seen_stages.add((rec_key, skey))
            rec["stages"] += 1

    for t in tasks:
        skey = (t["Stage ID"], t["Stage Attempt ID"])
        jid = job_of_stage.get(t["Stage ID"])
        if jid is None:
            continue
        info, m = t["Task Info"], t.get("Task Metrics") or {}
        label, mod = job_label[jid], job_module[jid]
        targets = [(f"L:{label}", labels.setdefault(label, _empty()))]
        if label.startswith("op:"):  # call sites are charged for the measured operations only
            targets.append((f"M:{mod}", modules[mod]))
        for rec_key, rec in targets:
            charge(rec_key, rec, jid, skey)
            rec["tasks"] += 1
            if info.get("Attempt", 0) > 0 or info.get("Failed") or info.get("Killed"):
                rec["task_retries"] += 1
            rec["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            if skey in stage_submit:
                rec["task_wait_s"] += max(info["Launch Time"] - stage_submit[skey], 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables", []):
                key_scale = PYTHON_METRICS.get(acc.get("Name"))
                if key_scale:
                    rec[key_scale[0]] += float(acc.get("Update", 0) or 0) * key_scale[1]

    # wall and driver time per label, from the benchmark's spans
    stages_by_label: dict[str, list[tuple[float, float]]] = {}
    for skey, iv in stage_span.items():
        jid = job_of_stage.get(skey[0])
        if jid is not None:
            stages_by_label.setdefault(job_label[jid], []).append(iv)
    for sp in spans:
        rec = labels.setdefault(sp["name"], _empty())
        lo, hi = sp["start_ms"], sp["end_ms"]
        inside = [(max(s, lo), min(e, hi)) for s, e in stages_by_label.get(sp["name"], []) if e > lo and s < hi]
        rec["wall_s"] += (hi - lo) / 1e3
        rec["driver_s"] += (hi - lo - _union_ms(inside)) / 1e3

    total = _empty()
    for label, rec in labels.items():
        if label.startswith("op:"):
            for k in METRIC_UNITS:
                total[k] += rec[k]
    for rec in modules.values():  # no spans of their own: busy share of the op wall
        rec["wall_s"] = total["wall_s"]
    for rec in [*labels.values(), *modules.values(), total]:
        rec["core_busy_frac"] = rec["executor_run_s"] / (rec["wall_s"] * cores) if rec["wall_s"] else 0.0
    return {"labels": labels, "callsites": modules, "total": total}
