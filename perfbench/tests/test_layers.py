import pytest

import layers
from swift_readability_spark.corpus.synth import synth_documents
from tracing import Tracer

BASE_URL = "http://fakehost/test/page.html"


def test_profile_recomposes_extract_document_and_weights_the_sample():
    docs = synth_documents(6, seed=4, mega_every=6)
    sample = [(d, spans, i == 5) for i, (d, spans) in enumerate(docs)]
    tracer = Tracer("t")
    m = layers.profile_docs(sample, light_total=500, base_url=BASE_URL, tracer=tracer)
    assert set(layers.METRIC_KEYS) <= set(m)
    assert m["extract.no_article_frac"] == 0.0
    assert m["core.grabArticle_ms_per_doc"] > 0 and m["spans.to_spans_ms_per_doc"] > 0
    # five light docs stand for 500, so the one mega-doc barely moves the median
    assert m["extract.doc_ms_p50"] <= m["extract.doc_ms_p99"]
    assert m["extract.core_docs_per_s_1proc"] == pytest.approx(501 / m["core_s_1proc"])
    names = {s["name"] for s in tracer.spans}
    assert {"spans.to_html", "core.parse", "spans.to_spans", "extract.extract_document"} <= names


def test_weighted_quantile():
    assert layers.weighted_quantile([1, 2, 3], [1, 1, 1], 0.5) == 2
    assert layers.weighted_quantile([1, 100], [99, 1], 0.99) == 1
    assert layers.weighted_quantile([1, 100], [98, 2], 0.99) == 100
