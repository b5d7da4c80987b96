"""Spark event-log parser for the ``spark.*`` layer metrics.

Reads the plain JSON-lines log Spark writes with
``spark.eventLog.compress=false`` and ``spark.eventLog.rolling.enabled=false``.
Tasks are attributed to the benchmark step that ran them through the
``spark.job.description`` property of their job, which the benchmark
sets around each timed call.

SQL node metrics arrive as named task accumulables: the MapInArrow
node's Python-worker start/initialize/run times (ms) and bytes sent to
and returned from the workers, and the Exchange node's shuffle bytes
written and shuffle write time (ns).  Task-level figures come from the
``Task Metrics`` block.  ``unaccounted_s`` is the part of the step's
wall time during which no task of the step was running: planning,
scheduling gaps, file commits and driver-side work.
"""

from __future__ import annotations

import json
from pathlib import Path

from tracing import covered

# SQL metric name -> (output key, divisor to seconds or 1 for bytes)
SQL_METRICS = {
    "time to start Python workers": ("spark.mapinarrow.py_start_s", 1e3),
    "time to initialize Python workers": ("spark.mapinarrow.py_init_s", 1e3),
    "time to run Python workers": ("spark.mapinarrow.py_run_s", 1e3),
    "data sent to Python workers": ("spark.mapinarrow.bytes_to_py", 1),
    "data returned from Python workers": ("spark.mapinarrow.bytes_from_py", 1),
    "shuffle bytes written": ("spark.exchange.shuffle_bytes", 1),
    "shuffle write time": ("spark.exchange.shuffle_write_s", 1e9),
}

METRIC_KEYS = tuple(k for k, _ in SQL_METRICS.values()) + (
    "spark.tasks",
    "spark.task_s_p50",
    "spark.task_s_max",
    "spark.gc_s",
    "spark.spill_bytes",
    "spark.executor_cpu_s",
    "spark.unaccounted_s",
)


def load(path: Path) -> list[dict]:
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def find_log(log_dir: Path) -> Path:
    logs = [p for p in log_dir.iterdir() if not p.name.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(logs)}")
    return logs[0]


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return (s[(n - 1) // 2] + s[n // 2]) / 2 if n else 0.0


def step_metrics(events: list[dict], labels: set[str], wall_s: float) -> dict[str, float]:
    """``spark.*`` metrics over the successful tasks of the jobs whose
    description is in ``labels``; ``wall_s`` is the benchmark-timed
    wall time of those steps, for the unaccounted residual."""
    stages: set[int] = set()
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            if (e.get("Properties") or {}).get("spark.job.description") in labels:
                stages.update(e["Stage IDs"])
    out = {k: 0.0 for k in METRIC_KEYS}
    durations: list[float] = []
    busy: list[tuple[float, float]] = []
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or e["Stage ID"] not in stages:
            continue
        info, tm = e["Task Info"], e.get("Task Metrics") or {}
        if info.get("Failed") or info.get("Killed"):
            continue
        start, end = info["Launch Time"] / 1e3, info["Finish Time"] / 1e3
        durations.append(end - start)
        busy.append((start, end))
        out["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        out["spark.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
            "Disk Bytes Spilled", 0
        )
        out["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        for acc in info.get("Accumulables", []):
            spec = SQL_METRICS.get(acc.get("Name"))
            if spec is not None and "Update" in acc:
                out[spec[0]] += float(acc["Update"]) / spec[1]
    out["spark.tasks"] = float(len(durations))
    out["spark.task_s_p50"] = _median(durations)
    out["spark.task_s_max"] = max(durations, default=0.0)
    out["spark.unaccounted_s"] = wall_s - covered(busy)
    return out
