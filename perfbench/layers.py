"""Single-process timing of the extraction layers below Spark.

Recomposes ``extract.extract_document`` from its public parts,
``spans.codec.spans_to_html`` -> ``core.readability.parse_with_timings``
-> ``spans.codec.element_to_spans``, times each part per document,
checks that the recomposed result equals ``extract_document``'s, and
times ``extract_document`` itself.  One process, one thread.

The sample is stratified: a prefix of the light documents plus every
mega-document of the workload.  Per-document means and percentiles
weight each light document by ``light_total / light_sampled`` so they
describe the workload's real document mix.
"""

from __future__ import annotations

import time

from swift_readability_spark.core.readability import parse_with_timings
from swift_readability_spark.extract import extract_document
from swift_readability_spark.spans.codec import element_to_spans, spans_to_html

CORE_STAGES = ("parseDocument", "readerable", "preprocess", "metadata", "grabArticle", "postprocess")
METADATA_FIELDS = (
    "title",
    "byline",
    "dir",
    "lang",
    "excerpt",
    "site_name",
    "published_time",
    "readerable",
)

METRIC_KEYS = (
    "spans.to_html_ms_per_doc",
    "spans.to_spans_ms_per_doc",
    *(f"core.{s}_ms_per_doc" for s in CORE_STAGES),
    "extract.doc_ms_p50",
    "extract.doc_ms_p99",
    "extract.core_docs_per_s_1proc",
    "extract.no_article_frac",
)


def weighted_quantile(values: list[float], weights: list[float], q: float) -> float:
    pairs = sorted(zip(values, weights))
    total = sum(weights)
    acc = 0.0
    for v, w in pairs:
        acc += w
        if acc >= q * total:
            return v
    return pairs[-1][0]


def recompose(doc_id: str, spans: list[dict], base_url: str, tracer) -> tuple[dict, dict]:
    """``extract_document`` rebuilt from its parts; returns the result
    and the per-part milliseconds."""
    ms: dict[str, float] = {}
    with tracer.span("spans.to_html"):
        t0 = time.perf_counter()
        html = spans_to_html(spans)
        ms["to_html"] = (time.perf_counter() - t0) * 1e3
    with tracer.span("core.parse"):
        result, stages = parse_with_timings(html, base_url)
    ms.update(stages)
    out = {"doc_id": doc_id, "spans": [], "error": "no_article" if result is None else None}
    if result is not None:
        with tracer.span("spans.to_spans"):
            t0 = time.perf_counter()
            out["spans"] = element_to_spans(result.article, inner=True, visibility_filter=False)
            ms["to_spans"] = (time.perf_counter() - t0) * 1e3
        out.update({f: getattr(result, f) for f in METADATA_FIELDS})
        out["text_length"] = result.length
    return out, ms


def profile_docs(
    docs: list[tuple[str, list[dict], bool]],
    light_total: int,
    base_url: str,
    tracer,
) -> dict[str, float]:
    """``docs`` holds ``(doc_id, spans, is_mega)``; every mega-doc of
    the workload must be in it.  Raises if a recomposed result differs
    from ``extract_document``."""
    light_sampled = sum(1 for d in docs if not d[2])
    w_light = light_total / light_sampled
    weights: list[float] = []
    doc_ms: list[float] = []
    sums = {k: 0.0 for k in ("to_html", "to_spans", *CORE_STAGES)}
    no_article = 0.0
    for doc_id, spans, is_mega in docs:
        w = 1.0 if is_mega else w_light
        ours, ms = recompose(doc_id, spans, base_url, tracer)
        with tracer.span("extract.extract_document"):
            t0 = time.perf_counter()
            ref = extract_document(doc_id, spans, base_url)
            doc_ms.append((time.perf_counter() - t0) * 1e3)
        weights.append(w)
        if ref["error"] not in (None, "no_article"):
            raise RuntimeError(f"extract_document failed on {doc_id}: {ref['error']}")
        keys = ("spans", "error") + (METADATA_FIELDS + ("text_length",) if ref["error"] is None else ())
        diff = [k for k in keys if ours[k] != ref[k]]
        if diff:
            raise RuntimeError(f"recomposed extraction differs from extract_document on {doc_id}: {diff}")
        for k in sums:
            sums[k] += w * ms.get(k, 0.0)
        no_article += w * (ref["error"] == "no_article")
    total_w = sum(weights)
    core_s = sum(w * m for w, m in zip(weights, doc_ms)) / 1e3
    out = {
        "spans.to_html_ms_per_doc": sums["to_html"] / total_w,
        "spans.to_spans_ms_per_doc": sums["to_spans"] / total_w,
        "extract.doc_ms_p50": weighted_quantile(doc_ms, weights, 0.50),
        "extract.doc_ms_p99": weighted_quantile(doc_ms, weights, 0.99),
        "extract.core_docs_per_s_1proc": total_w / core_s,
        "extract.no_article_frac": no_article / total_w,
        # workload-wide single-process core seconds, for pipeline.core_share
        "core_s_1proc": core_s,
    }
    for s in CORE_STAGES:
        out[f"core.{s}_ms_per_doc"] = sums[s] / total_w
    return out
