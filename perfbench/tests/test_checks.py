"""Each checker passes correct output and counts one planted fault."""

import duckdb
import pytest

import checks
import loadgen
from swift_readability_spark.corpus.synth import synth_documents
from swift_readability_spark.extract import extract_document
from swift_readability_spark.operators import registry
from validate_oracles import rows_signature

BASE_URL = "http://fakehost/test/page.html"


@pytest.fixture(scope="module")
def article_output():
    """Real extraction output of six synthetic pages, one a mega-doc."""
    docs = synth_documents(6, seed=3, mega_every=6)
    media_in = {d: sum(s["kind"] == "media" for s in spans) for d, spans in docs}
    results = {d: extract_document(d, spans, BASE_URL) for d, spans in docs}
    rows = [
        {
            "doc_id": d,
            "error": r["error"],
            "title": r["title"],
            "byline": r["byline"],
            "n_media": sum(s["kind"] == "media" for s in r["spans"]),
        }
        for d, r in results.items()
    ]
    return rows, media_in, results


def test_articles_pass_and_count_each_fault_kind(article_output):
    rows, media_in, _ = article_output
    assert checks.check_articles(rows, media_in) == {}
    assert checks.planted_fault_caught(lambda rs: checks.check_articles(rs, media_in), rows, "title")
    assert checks.planted_fault_caught(lambda rs: checks.check_articles(rs, media_in), rows, "n_media")
    assert checks.check_articles(rows[1:], media_in) == {rows[0]["doc_id"]: "missing"}
    assert checks.check_articles(rows + rows[:1], media_in) == {rows[0]["doc_id"]: "duplicated"}
    errored = [dict(rows[0], error="Traceback ...")] + rows[1:]
    assert checks.check_articles(errored, media_in) == {rows[0]["doc_id"]: "error"}


def test_sample_check_compares_spans_exactly(article_output):
    _, _, results = article_output
    rows = [{"doc_id": d, **{f: r[f] for f in checks.SAMPLE_FIELDS}} for d, r in results.items()]
    assert checks.check_sample(rows, results) == {}
    assert checks.planted_fault_caught(lambda rs: checks.check_sample(rs, results), rows, "spans")


def _duck(tables: dict):
    con = duckdb.connect()
    for name, table in tables.items():
        con.register(name, table)
    return con


def test_queries_against_the_registry_oracle():
    reg = registry()
    con = _duck(loadgen.corpus_tables(50, seed=7))
    rel = con.sql(reg["q1_pricing_summary"][1])
    cols = list(rel.columns)
    rows = [dict(zip(cols, r)) for r in rel.fetchall()]
    oracle = {"q1_pricing_summary": rows_signature(sorted(cols), rows)}

    def check(rs):
        return checks.check_queries({"q1_pricing_summary": (cols, rs)}, oracle)

    assert check(rows) == {}
    assert checks.planted_fault_caught(check, rows, cols[-1])
    assert checks.check_queries({}, oracle) == {"q1_pricing_summary": "missing"}
