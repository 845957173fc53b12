"""Roll Spark's own (uncompressed) event log up per job group.

A traced run tags every Spark call with a job group; this reads the log the
session wrote and sums the task counters of each group's stages. Handles
both the single-file log and the rolling ``eventlog_v2_*`` directory.
"""

from __future__ import annotations

import json
import os

from common import median

COUNTERS = (
    "jobs",
    "task_s",
    "cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "task_skew",
    "failed_tasks",
)


def _event_files(log_dir: str) -> list[str]:
    files = []
    for dirpath, _, names in os.walk(log_dir):
        for name in names:
            if name.startswith(".") or name.endswith(".crc"):
                continue
            files.append(os.path.join(dirpath, name))
    return sorted(files)


def rollup(log_dir: str) -> dict[str, dict[str, float]]:
    """→ {job group: {counter: value}} over every log under ``log_dir``."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    tasks: dict[int, list[dict]] = {}
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untagged"
                    jobs[group] = jobs.get(group, 0) + 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    tasks.setdefault(ev["Stage ID"], []).append(ev)

    out: dict[str, dict[str, float]] = {
        g: dict.fromkeys(COUNTERS, 0.0) | {"jobs": float(n)} for g, n in jobs.items()
    }
    heaviest: dict[str, float] = {}
    for sid, evs in tasks.items():
        group = stage_group.get(sid, "untagged")
        acc = out.setdefault(group, dict.fromkeys(COUNTERS, 0.0))
        durations, run_ms = [], 0.0
        for ev in evs:
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            run_ms += m.get("Executor Run Time", 0)
            acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if info.get("Failed") or reason != "Success":
                acc["failed_tasks"] += 1
            if info.get("Finish Time") and info.get("Launch Time"):
                durations.append(info["Finish Time"] - info["Launch Time"])
        acc["task_s"] += run_ms / 1e3
        # straggler ratio of the group's heaviest stage: the one stage
        # whose slowest task most likely sets the group's wall time
        if durations and run_ms >= heaviest.get(group, -1.0):
            heaviest[group] = run_ms
            acc["task_skew"] = max(durations) / max(median(durations), 1.0)
    return out


def merge(groups: dict[str, dict[str, float]], prefix: str) -> dict[str, float]:
    """Counters of every group named ``prefix`` or ``prefix.<name>``, summed;
    the straggler ratio is the largest of theirs."""
    out = dict.fromkeys(COUNTERS, 0.0)
    for name, counters in groups.items():
        if name == prefix or name.startswith(prefix + "."):
            for k, v in counters.items():
                out[k] = max(out[k], v) if k == "task_skew" else out[k] + v
    return out


def writer_cpu_s(spark) -> float:
    """CPU seconds Spark's event-log writer thread has used so far: the
    cost the event log adds to a traced run's cores."""
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    return sum(
        mx.getThreadCpuTime(t.getId())
        for t in jvm.java.lang.Thread.getAllStackTraces().keySet().toArray()
        if t.getName() == "spark-listener-group-eventLog"
    ) / 1e9
