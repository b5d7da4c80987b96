#!/usr/bin/env python3
"""Repository benchmark: committed extraction and corpus queries at
``local[4]``, one job in flight at a time (a closed loop with one
client).

    python3 perfbench/run.py --workload extract_articles --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The load generator builds the
workload's inputs from ``--seed`` (cached per workload, seed and size
under ``perfbench/_work``); the program reads only those parquet
files.

``--trace 0`` measures the end-to-end metrics:
  setup_s     the JVM's cold start: session start,
              ``ensure_package_on_workers`` and one untimed warm-up job
              on the workload's input
  wall_s      wall time of a typical timed job (one committed
              ``run_extraction``, or one pass over the nine queries):
              the sum over the job's parts of each part's median
After the workload's ``settle_jobs`` untimed jobs, timed jobs repeat until
``--seconds`` have passed and at least ``min_timed`` of the workload
ran.  Afterwards every output is checked; ``failed`` counts failed docs
(or query results) against ``attempted``.  ``extract_articles`` also
prints ``docs_per_s`` (input docs / ``wall_s``), and the ``phases`` line
gives the share of the machine's CPU time the hypervisor stole during
the settle and timed jobs, which tells a run slowed by the host apart.

``--trace 1`` runs two sessions, each in a JVM of its own and each the
same sequence: set-up, ``settle_jobs`` untimed jobs, then
``TRACE_PASSES`` passes of the workload's layer steps.  The first is the
untraced reference; the second has Spark's event log on and records
spans around each layer call, then runs the single-process layer
profile.  It prints every per-layer metric; metrics of layers a
workload does not run read 0.  The spans go to
``perfbench/_work/traces/`` as JSON.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
TRACE_PASSES = 3
SIZES = {"extract_articles": 1000, "corpus_queries": 600}

END_TO_END = {"setup_s": "s", "wall_s": "s"}
PIPELINE_STEPS = ("scan", "route", "extract_noop", "commit", "lineage")


def layer_unit(name: str) -> str:
    if name.endswith(("_ms_per_doc", "_ms_p50", "_ms_p99")):
        return "ms"
    if name.endswith("_per_s_1proc"):
        return "1/s"
    if name.endswith(("_frac", "core_share")):
        return "frac"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes") or ".bytes_" in name:
        return "bytes"
    if name.endswith("tasks"):
        return "count"
    return "s"


def per_layer_names() -> list[str]:
    import eventlog
    import layers
    from workloads import CORPUS_QUERIES

    return [
        *layers.METRIC_KEYS,
        *(f"pipeline.{s}_s" for s in PIPELINE_STEPS),
        "pipeline.core_share",
        "pipeline.py_rss_peak_mb",
        *eventlog.METRIC_KEYS,
        *(f"operators.{q}.wall_s" for q in CORPUS_QUERIES),
        "operators.py_init_s",
        "operators.py_run_s",
        "operators.shuffle_bytes",
        "trace.overhead_frac",
    ]


def isolate(run_dir: Path) -> dict:
    """Keep every file Spark, the JVM and the Python workers write
    inside the checkout; returns the session conf that does it."""
    tmp = run_dir / "tmp"
    local = run_dir / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    tempfile.tempdir = None
    # the JVM would otherwise keep its perf-counter file under /tmp
    return {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine, from /proc/stat."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return fields[7], sum(fields)


def remove_stale_runs() -> None:
    for d in WORK.glob("run-*"):
        pid = d.name.split("-", 1)[1]
        if not (pid.isdigit() and Path(f"/proc/{pid}").exists()):
            shutil.rmtree(d, ignore_errors=True)


def set_up(wl, conf: dict):
    """Start the session, ship the package, warm up.  Returns the
    session and the seconds it took."""
    from swift_readability_spark.pipeline.session import build_session, ensure_package_on_workers
    from workloads import MASTER, SLOTS

    t0 = time.perf_counter()
    spark = build_session("perfbench", master=MASTER, shuffle_partitions=SLOTS, extra_conf=conf)
    ensure_package_on_workers(spark)
    wl.warm_up(spark)
    return spark, time.perf_counter() - t0


def settle(wl, spark) -> None:
    for _ in range(wl.settle_jobs):
        wl.run_once(spark)


def timed(wl, spark, seconds: float) -> list[dict[str, float]]:
    """Per-part wall seconds of each timed job: repeat jobs until
    ``seconds`` have passed and at least ``wl.min_timed`` ran."""
    settle(wl, spark)
    jobs = []
    t_end = time.perf_counter() + seconds
    while len(jobs) < wl.min_timed or time.perf_counter() < t_end:
        jobs.append(wl.run_once(spark))
    return jobs


def medians(jobs: list[dict[str, float]]) -> dict[str, float]:
    return {part: statistics.median(j[part] for j in jobs) for part in jobs[0]}


def typical_job_s(jobs: list[dict[str, float]]) -> float:
    """Wall time of a typical job: the sum over its parts (the nine
    queries of a pass, or the one extraction job) of each part's median
    across jobs, so a slow moment that hits one part of one job does not
    move it."""
    return sum(medians(jobs).values())


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM (and with it the
    Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def untraced(wl_cls, inputs: Path, run_dir: Path, args, conf: dict) -> dict:
    wl = wl_cls(inputs, run_dir, args.seed)
    t0 = time.perf_counter()
    spark, setup_s = set_up(wl, conf)
    t1 = time.perf_counter()
    steal0, total0 = cpu_ticks()
    try:
        jobs = timed(wl, spark, args.seconds)
        t2 = time.perf_counter()
        steal1, total1 = cpu_ticks()
        attempted, failed, problems = wl.check(spark)
    finally:
        spark.stop()
    print(
        f"{args.workload} phases set_up={t1 - t0:.1f}s timed={t2 - t1:.1f}s "
        f"check={time.perf_counter() - t2:.1f}s "
        f"steal={100 * (steal1 - steal0) / max(1, total1 - total0):.1f}%"
    )
    metrics = {"setup_s": setup_s, "wall_s": typical_job_s(jobs)}
    totals = [round(sum(j.values()), 4) for j in jobs]
    print(f"{args.workload} job_s samples={totals} n={len(jobs)}")
    for name, value in metrics.items():
        print(f"{args.workload} {name} {value:.6g} {END_TO_END[name]}")
    if hasattr(wl, "n_docs"):
        print(f"{args.workload} docs_per_s {wl.n_docs / metrics['wall_s']:.6g} 1/s")
    return finish(args, attempted, failed, problems, metrics, END_TO_END)


def step_passes(wl, spark, tracer) -> list[dict[str, float]]:
    """``TRACE_PASSES`` passes of the workload's layer steps; only the
    last one's Spark jobs are labelled for the event-log parser."""
    return [wl.trace_job(spark, tracer, label=i == TRACE_PASSES - 1) for i in range(TRACE_PASSES)]


def traced(wl_cls, inputs: Path, run_dir: Path, args, conf: dict) -> dict:
    import eventlog
    from rss import RssSampler
    from tracing import NullTracer, Tracer
    from workloads import SLOTS, CorpusQueries

    is_corpus = wl_cls is CorpusQueries

    def job_parts(passes: list[dict[str, float]]) -> list[dict[str, float]]:
        """The parts of each pass that make the timed job of --trace 0."""
        return passes if is_corpus else [{"commit": p["commit"]} for p in passes]

    # untraced reference for trace.overhead_frac: the traced session's
    # history in a JVM of its own, without event log or spans
    ref = wl_cls(inputs, run_dir / "reference", args.seed)
    spark, _ = set_up(ref, conf)
    try:
        settle(ref, spark)
        ref_wall = typical_job_s(job_parts(step_passes(ref, spark, NullTracer())))
    finally:
        spark.stop()
        stop_jvm()

    log_dir = run_dir / "eventlog"
    log_dir.mkdir(parents=True)
    traced_conf = {
        **conf,
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    wl = wl_cls(inputs, run_dir / "traced", args.seed)
    tracer = Tracer(f"{args.workload}-s{args.seed}-{int(time.time())}")
    m = {k: 0.0 for k in per_layer_names()}
    with tracer.span("run"):
        with tracer.span("setup"):
            spark, _ = set_up(wl, traced_conf)
        try:
            with tracer.span("settle"):
                settle(wl, spark)
            with tracer.span("job"), RssSampler(os.getpid()) as rss:
                passes = step_passes(wl, spark, tracer)
            if not is_corpus:
                with tracer.span("layers"):
                    lm = wl.layer_metrics(tracer)
            with tracer.span("check"):
                attempted, failed, problems = wl.check(spark)
        finally:
            spark.stop()
    events = eventlog.load(eventlog.find_log(log_dir))
    walls = medians(passes)
    last = passes[-1]  # the labelled pass
    m["pipeline.py_rss_peak_mb"] = rss.peak_bytes / 2**20
    if is_corpus:
        step_walls = {f"operators.{q}": w for q, w in last.items()}
        job_labels = set(step_walls)
        for q, w in walls.items():
            m[f"operators.{q}.wall_s"] = w
    else:
        step_walls = last
        job_labels = {"commit"}
        m.update({k: v for k, v in lm.items() if k in m})
        for s in PIPELINE_STEPS:
            m[f"pipeline.{s}_s"] = walls[s]
        m["pipeline.commit_s"] = walls["commit"] - walls["extract_noop"]
        m["pipeline.core_share"] = lm["core_s_1proc"] / (SLOTS * walls["extract_noop"])
    m.update(eventlog.step_metrics(events, job_labels, sum(step_walls[k] for k in job_labels)))
    if is_corpus:
        m["operators.py_init_s"] = m["spark.mapinarrow.py_init_s"]
        m["operators.py_run_s"] = m["spark.mapinarrow.py_run_s"]
        m["operators.shuffle_bytes"] = m["spark.exchange.shuffle_bytes"]
    traced_wall = typical_job_s(job_parts(passes))
    m["trace.overhead_frac"] = traced_wall / ref_wall - 1

    by_step = {label: eventlog.step_metrics(events, {label}, w) for label, w in step_walls.items()}
    trace_path = WORK / "traces" / f"{tracer.run_id}.json"
    tracer.dump(
        trace_path,
        workload=args.workload,
        seed=args.seed,
        untraced_wall_s=ref_wall,
        traced_wall_s=traced_wall,
        step_wall_s=passes,
        spark_by_step=by_step,
        metrics=m,
    )
    traces = sorted((WORK / "traces").glob("*.json"), key=lambda p: p.stat().st_mtime)
    for old in traces[:-20]:
        old.unlink()
    for name, secs in sorted(tracer.self_times().items(), key=lambda kv: -kv[1])[:25]:
        print(f"{args.workload} self_time {name} {secs:.4f} s")
    for name in sorted(m):
        print(f"{args.workload} {name} {m[name]:.6g} {layer_unit(name)}")
    print(f"{args.workload} trace {trace_path.relative_to(ROOT)}")
    units = {k: layer_unit(k) for k in m}
    return finish(args, attempted, failed, problems, m, units)


def finish(args, attempted, failed, problems, metrics, units) -> dict:
    print(f"{args.workload} failed {failed}/{attempted}")
    for p in problems[:20]:
        print(f"{args.workload} problem {p}")
    return {
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "swift_readability_spark" / "__init__.py").is_file() or not (
        ROOT / "scripts" / "validate_oracles.py"
    ).is_file():
        print(f"perfbench: {ROOT} is not a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(ROOT / "scripts")]

    import loadgen
    from workloads import WORKLOADS

    WORK.mkdir(exist_ok=True)
    remove_stale_runs()
    run_dir = WORK / f"run-{os.getpid()}"
    conf = isolate(run_dir)
    try:
        inputs = loadgen.ensure_inputs(WORK, args.workload, args.seed, SIZES[args.workload])
        run = traced if args.trace else untraced
        result = run(WORKLOADS[args.workload], inputs, run_dir, args, conf)
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
