"""The two workloads.  Each one knows how to warm up, run its timed
job once, check every output it produced, and run the per-layer steps
of the traced run.  The program is reached only through its public
functions; the inputs are the load generator's parquet.

- ``extract_articles``: the committed job, ``pipeline.job.run_extraction``
  into fresh output and lineage paths, as ``run_job.py`` runs it.
- ``corpus_queries``: one pass over nine headline registry queries,
  each result collected, in a seed-permuted order per pass.
"""

from __future__ import annotations

import random
import shutil
import time
from pathlib import Path

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import layers
from validate_oracles import rows_signature
from swift_readability_spark.extract import extract_document
from swift_readability_spark.operators import registry
from swift_readability_spark.pipeline.io import read_documents
from swift_readability_spark.pipeline.job import (
    lineage_from_output,
    plan_extraction,
    read_committed,
    route_for_extraction,
    run_extraction,
)

BASE_URL = "http://fakehost/test/page.html"
MASTER = "local[4]"
# one slot per core; also the route's key domain (run_extraction's default)
SLOTS = N_PARTITIONS = int(MASTER.removeprefix("local[").removesuffix("]"))
MEDIA_COUNT = "size(filter(spans, s -> s.kind = 'media'))"


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def parquet_sql(path: Path) -> str:
    """DuckDB table function reading ``path`` (views take no parameters)."""
    quoted = str(path).replace("'", "''")
    return f"read_parquet('{quoted}')"


def labelled(spark, label: str | None) -> None:
    """Tag the following Spark jobs for the event-log parser."""
    spark.sparkContext.setJobDescription(label)


class Articles:
    """The committed job over synthetic article pages with boilerplate
    and a ~1 MB mega-doc every 500 docs (the heavy route)."""

    min_timed = 3
    # untimed jobs before timing, while the JVM compiles the hot paths;
    # the per-doc work is in the Python workers, so jobs run at full
    # speed from about the second one on
    settle_jobs = 2
    input_name = "articles.parquet"
    planted_field = "title"
    layer_sample = 200
    check_sample = 32

    def __init__(self, inputs: Path, run_dir: Path, seed: int):
        self.inputs = inputs
        self.run_dir = run_dir
        self.jobs: list[tuple[Path, str]] = []  # (output base, run_id)
        self.last_failed: set = set()  # failed docs of the last job checked
        media = pq.read_table(inputs / "articles_media.parquet").to_pydict()
        self.media_in = dict(zip(media["doc_id"], media["n_media"]))
        self.n_docs = len(self.media_in)
        self.mega = [i for i in range(self.n_docs) if i % 500 == 499]

    def input_path(self) -> str:
        return str(self.inputs / self.input_name)

    def _extract(self, spark, path: str, base: Path) -> str:
        shutil.rmtree(base, ignore_errors=True)
        return run_extraction(
            spark,
            read_documents(spark, path, fmt="parquet"),
            str(base / "out"),
            str(base / "lineage"),
            base_url=BASE_URL,
        )

    def warm_up(self, spark) -> None:
        self._extract(spark, self.input_path(), self.run_dir / "warmup")

    def run_once(self, spark) -> dict[str, float]:
        """One committed job; its wall seconds."""
        base = self.run_dir / f"job{len(self.jobs)}"
        t0 = time.perf_counter()
        run_id = self._extract(spark, self.input_path(), base)
        secs = time.perf_counter() - t0
        self.jobs.append((base, run_id))
        return {"commit": secs}

    def committed(self, spark, base: Path):
        return read_committed(spark, str(base / "out"), str(base / "lineage"))

    def _rows(self, indices: list[int]) -> list[tuple[str, list[dict], bool]]:
        table = pq.read_table(self.input_path())
        return [
            (table["doc_id"][i].as_py(), table["spans"][i].as_py(), i in self.mega)
            for i in indices
        ]

    def checker(self, rows: list[dict]) -> dict:
        return checks.check_articles(rows, self.media_in)

    def check_rows(self, committed) -> list[dict]:
        return [
            r.asDict()
            for r in committed.select(
                "doc_id", "error", "title", "byline", F.expr(MEDIA_COUNT).alias("n_media")
            ).collect()
        ]

    def check(self, spark) -> tuple[int, int, list[str]]:
        """(attempted, failed, problems): every committed job against
        the invariants, then the last job's fixed sample against an
        in-process ``extract_document``."""
        attempted = failed = 0
        problems: list[str] = []
        for i, (base, _) in enumerate(self.jobs):
            rows = self.check_rows(self.committed(spark, base))
            bad = self.checker(rows)
            attempted += self.n_docs
            failed += len(bad)
            self.last_failed = set(bad)
            problems += [f"job{i} {d}: {why}" for d, why in list(bad.items())[:5]]
            if i == len(self.jobs) - 1 and not checks.planted_fault_caught(
                self.checker, rows, self.planted_field
            ):
                problems.append("planted fault not detected by the checker")

        sample = self._rows(list(range(min(self.check_sample, self.n_docs))) + self.mega)
        reference = {d: extract_document(d, spans, BASE_URL) for d, spans, _ in sample}
        rows = [
            r.asDict(recursive=True)
            for r in self.committed(spark, self.jobs[-1][0])
            .filter(F.col("doc_id").isin(list(reference)))
            .select("doc_id", *checks.SAMPLE_FIELDS)
            .collect()
        ]
        bad = checks.check_sample(rows, reference)
        failed += len(set(bad) - self.last_failed)
        problems += [f"sample {d}: {why}" for d, why in bad.items()]
        if not checks.planted_fault_caught(
            lambda rs: checks.check_sample(rs, reference), rows, "spans"
        ):
            problems.append("planted fault not detected by the sample checker")
        return attempted, failed, problems

    def trace_job(self, spark, tracer, label: bool) -> dict[str, float]:
        """The pipeline steps, in order, each timed; with ``label`` their
        Spark jobs are tagged for the event-log parser."""
        path = self.input_path()
        walls: dict[str, float] = {}

        def step(name: str, fn) -> None:
            labelled(spark, name if label else None)
            with tracer.span(f"pipeline.{name}"):
                t0 = time.perf_counter()
                fn()
                walls[name] = time.perf_counter() - t0
            labelled(spark, None)

        def docs():
            return read_documents(spark, path, fmt="parquet")

        started_at = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime())
        step("scan", lambda: noop(docs()))
        step("route", lambda: noop(route_for_extraction(docs(), N_PARTITIONS)))
        step("extract_noop", lambda: noop(plan_extraction(docs(), BASE_URL, "rtrace", N_PARTITIONS)))
        step("commit", lambda: self.run_once(spark))
        base, run_id = self.jobs[-1]

        def lineage():
            out = spark.read.parquet(str(base / "out")).filter(F.col("run_id") == run_id)
            noop(lineage_from_output(out, started_at, N_PARTITIONS))

        step("lineage", lineage)
        return walls

    def layer_metrics(self, tracer) -> dict[str, float]:
        head = [i for i in range(min(self.layer_sample, self.n_docs)) if i not in self.mega]
        docs = self._rows(head + self.mega)
        return layers.profile_docs(docs, self.n_docs - len(self.mega), BASE_URL, tracer)


# query -> the tables it reads (views of its DuckDB oracle)
CORPUS_QUERIES = {
    "q1_pricing_summary": ("lineitem",),
    "q3_shipping_priority": ("customer", "orders", "lineitem"),
    "top3_orders_per_customer": ("orders",),
    "minhash_signatures": ("documents",),
    "lsh_candidate_pairs": ("documents",),
    "simhash": ("documents",),
    "ann_bruteforce_topk": ("embeddings",),
    "lang_id": ("documents",),
    "dedup_exact": ("documents",),
}


class CorpusQueries:
    """Nine headline registry queries in one warm session.  Each query's
    result is collected to the driver, as a caller reading it would,
    and every collected result is checked against the query's oracle."""

    # nine sub-second queries are noisier than one extraction job
    min_timed = 4
    # a pass is mostly driver-side planning and scheduling, which the JVM
    # keeps compiling for several passes: passes after the warm-up one
    # run 4.0-5.2 s, then 3.3-3.5 s from about the fifth on (one
    # 45-second session per seed, five seeds)
    settle_jobs = 5

    def __init__(self, inputs: Path, run_dir: Path, seed: int):
        self.inputs = inputs
        self.rng = random.Random(seed)
        self.registry = registry()
        # one dict per pass: query -> (columns, rows), or the error text
        self.passes: list[dict[str, tuple | str]] = []

    def _collect(self, spark, name: str) -> tuple[list, list]:
        df = self.registry[name][0](spark, str(self.inputs))
        return df.columns, [r.asDict() for r in df.collect()]

    def warm_up(self, spark) -> None:
        for name in CORPUS_QUERIES:
            self._collect(spark, name)

    def _order(self) -> list[str]:
        order = list(CORPUS_QUERIES)
        self.rng.shuffle(order)
        return order

    def _run(self, spark, name: str, results: dict) -> None:
        try:
            results[name] = self._collect(spark, name)
        except Exception as e:  # noqa: BLE001 - a failed query is counted, the pass goes on
            results[name] = f"raised {type(e).__name__}: {e}"[:300]

    def run_once(self, spark) -> dict[str, float]:
        """One pass; the wall seconds of each query."""
        results: dict = {}
        walls: dict[str, float] = {}
        for name in self._order():
            t0 = time.perf_counter()
            self._run(spark, name, results)
            walls[name] = time.perf_counter() - t0
        self.passes.append(results)
        return walls

    def trace_job(self, spark, tracer, label: bool) -> dict[str, float]:
        """One pass, each query timed; with ``label`` its Spark jobs are
        tagged for the event-log parser."""
        walls: dict[str, float] = {}
        results: dict = {}
        for name in self._order():
            labelled(spark, f"operators.{name}" if label else None)
            with tracer.span(f"operators.{name}"):
                t0 = time.perf_counter()
                self._run(spark, name, results)
                walls[name] = time.perf_counter() - t0
            labelled(spark, None)
        self.passes.append(results)
        return walls

    def oracle(self) -> dict[str, tuple]:
        con = duckdb.connect()
        try:
            for t in {t for ts in CORPUS_QUERIES.values() for t in ts}:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM {parquet_sql(self.inputs / f'{t}.parquet')}")
            out = {}
            for name in CORPUS_QUERIES:
                rel = con.sql(self.registry[name][1])
                cols = list(rel.columns)
                rows = [dict(zip(cols, r)) for r in rel.fetchall()]
                out[name] = rows_signature(sorted(cols), rows)
            return out
        finally:
            con.close()

    def check(self, spark) -> tuple[int, int, list[str]]:
        """Every query of every pass against its DuckDB oracle."""
        oracle = self.oracle()
        failed = 0
        problems: list[str] = []
        for i, results in enumerate(self.passes):
            errors = {k: v for k, v in results.items() if isinstance(v, str)}
            ok = {k: v for k, v in results.items() if not isinstance(v, str)}
            bad = checks.check_queries(ok, oracle)
            failed += len(bad)
            problems += [f"pass{i} {k}: {errors.get(k, v)}" for k, v in bad.items()]
        some = next(
            ((k, v) for k, v in self.passes[-1].items() if not isinstance(v, str) and v[1]),
            None,
        )
        if some is None:
            problems.append("no query result to plant a fault in")
        else:
            name, (cols, rows) = some
            if not checks.planted_fault_caught(
                lambda rs: checks.check_queries({name: (cols, rs)}, {name: oracle[name]}),
                rows,
                sorted(cols)[0],
            ):
                problems.append("planted fault not detected by the query checker")
        return len(CORPUS_QUERIES) * len(self.passes), failed, problems


WORKLOADS = {
    "extract_articles": Articles,
    "corpus_queries": CorpusQueries,
}
