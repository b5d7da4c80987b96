import json
from pathlib import Path

import pytest

import eventlog

DATA = Path(__file__).parent / "data" / "eventlog_extraction.jsonl"


def _task(stage, launch_ms, finish_ms, failed=False, accs=(), gc_ms=0, cpu_ns=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Launch Time": launch_ms,
            "Finish Time": finish_ms,
            "Failed": failed,
            "Killed": False,
            "Accumulables": [{"Name": n, "Update": u} for n, u in accs],
        },
        "Task Metrics": {
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 10,
            "Executor CPU Time": cpu_ns,
        },
    }


def _job(stages, label):
    props = {"spark.job.description": label} if label else {}
    return {"Event": "SparkListenerJobStart", "Stage IDs": stages, "Properties": props}


def test_handmade_log_sums_and_residual():
    events = [
        _job([0], "commit"),
        _job([1], "other"),
        # commit tasks cover [0, 2] s and [3, 3.5] s: 2.5 s busy
        _task(0, 1_000_000, 1_001_000, accs=[("time to initialize Python workers", 400)], gc_ms=20),
        _task(0, 1_000_500, 1_002_000, accs=[("data sent to Python workers", 1234)], cpu_ns=5 * 10**8),
        _task(0, 1_003_000, 1_003_500, accs=[("shuffle write time", 2 * 10**6)]),
        _task(0, 1_004_000, 1_009_000, failed=True),  # failed attempt: ignored
        _task(1, 1_000_000, 1_010_000, accs=[("data sent to Python workers", 99)]),
    ]
    m = eventlog.step_metrics(events, {"commit"}, wall_s=4.0)
    assert m["spark.tasks"] == 3
    assert m["spark.task_s_p50"] == 1.0
    assert m["spark.task_s_max"] == 1.5
    assert m["spark.unaccounted_s"] == pytest.approx(1.5)
    assert m["spark.mapinarrow.py_init_s"] == pytest.approx(0.4)
    assert m["spark.mapinarrow.bytes_to_py"] == 1234
    assert m["spark.exchange.shuffle_write_s"] == pytest.approx(0.002)
    assert m["spark.gc_s"] == pytest.approx(0.02)
    assert m["spark.executor_cpu_s"] == pytest.approx(0.5)
    assert m["spark.spill_bytes"] == 30
    assert set(m) == set(eventlog.METRIC_KEYS)


def test_recorded_extraction_log():
    events = eventlog.load(DATA)
    stages = {s for e in events if e["Event"] == "SparkListenerJobStart"
              and e["Properties"].get("spark.job.description") == "commit" for s in e["Stage IDs"]}
    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stages]
    first = min(t["Task Info"]["Launch Time"] for t in tasks)
    last = max(t["Task Info"]["Finish Time"] for t in tasks)
    # residual checked against a brute-force millisecond grid
    busy_ms = set()
    for t in tasks:
        busy_ms.update(range(t["Task Info"]["Launch Time"], t["Task Info"]["Finish Time"]))
    wall = (last - first) / 1e3 + 0.75
    m = eventlog.step_metrics(events, {"commit"}, wall)
    assert m["spark.tasks"] == len(tasks) > 4
    assert m["spark.unaccounted_s"] == pytest.approx(wall - len(busy_ms) / 1e3)
    assert m["spark.unaccounted_s"] >= 0.75
    sent = sum(int(a["Update"]) for t in tasks for a in t["Task Info"]["Accumulables"]
               if a["Name"] == "data sent to Python workers")
    assert m["spark.mapinarrow.bytes_to_py"] == sent > 0
    for key in ("spark.mapinarrow.bytes_from_py", "spark.mapinarrow.py_run_s",
                "spark.exchange.shuffle_bytes", "spark.executor_cpu_s"):
        assert m[key] > 0, key
    # the recorded log also holds unlabelled jobs; they count only when asked for
    everything = eventlog.step_metrics(events, {"commit", None}, wall)
    assert everything["spark.tasks"] > m["spark.tasks"]
    none = eventlog.step_metrics(events, {"no-such-step"}, 2.0)
    assert none["spark.tasks"] == 0 and none["spark.unaccounted_s"] == 2.0


def test_find_log_wants_exactly_one(tmp_path):
    with pytest.raises(RuntimeError):
        eventlog.find_log(tmp_path)
    (tmp_path / "local-1").write_text(json.dumps({"Event": "x"}) + "\n")
    assert eventlog.find_log(tmp_path).name == "local-1"
