"""Output checkers.  Each takes the rows a run produced and returns
``{item: reason}`` for every item that failed, so a run's failed
count is ``len(result)``; ``planted_fault_caught`` corrupts one row
and confirms the checker counts it.

- articles: doc_id set equality (missing, duplicated, unexpected), a
  null ``error``, the constant title and byline of the synthetic
  pages, media spans out equal media spans in, and exact spans and
  metadata on a fixed sample against an in-process
  ``extract_document``.
- queries: the registry's DuckDB oracle, compared with the
  ``rows_signature`` of ``scripts/validate_oracles.py``.
"""

from __future__ import annotations

import copy
from collections import Counter

from validate_oracles import rows_signature

ARTICLE_TITLE = "Synthetic Article | SynSite"
ARTICLE_BYLINE = "Syn Author"
SAMPLE_FIELDS = (
    "spans",
    "title",
    "byline",
    "dir",
    "lang",
    "excerpt",
    "site_name",
    "published_time",
    "text_length",
    "readerable",
    "error",
)


def _id_set_failures(ids: list, expected) -> dict:
    failed = {}
    seen = Counter(ids)
    for d in expected:
        if seen[d] == 0:
            failed[d] = "missing"
    for d, n in seen.items():
        if d not in expected:
            failed[d] = "unexpected"
        elif n > 1:
            failed[d] = "duplicated"
    return failed


def check_articles(rows: list[dict], media_in: dict[str, int]) -> dict:
    """``rows``: doc_id, error, title, byline, n_media per output doc."""
    failed = _id_set_failures([r["doc_id"] for r in rows], media_in)
    for r in rows:
        d = r["doc_id"]
        if d in failed:
            continue
        if r["error"] is not None:
            failed[d] = "error"
        elif r["title"] != ARTICLE_TITLE or r["byline"] != ARTICLE_BYLINE:
            failed[d] = "metadata"
        elif r["n_media"] != media_in[d]:
            failed[d] = "media"
    return failed


def check_sample(rows: list[dict], reference: dict[str, dict]) -> dict:
    """Exact spans and metadata of the sampled docs against
    ``extract_document`` run in this process."""
    failed = _id_set_failures([r["doc_id"] for r in rows], reference)
    for r in rows:
        d = r["doc_id"]
        if d not in failed and any(r[f] != reference[d][f] for f in SAMPLE_FIELDS):
            failed[d] = "sample"
    return failed


def check_queries(results: dict[str, tuple[list, list]], oracle: dict[str, tuple]) -> dict:
    """``results``: query -> (columns, rows); ``oracle``: query ->
    ``rows_signature`` of the DuckDB rows."""
    failed = {}
    for name, want in oracle.items():
        if name not in results:
            failed[name] = "missing"
            continue
        cols, rows = results[name]
        if rows_signature(sorted(cols), rows) != want:
            failed[name] = "oracle"
    return failed


def corrupt_first(rows: list[dict], field: str) -> list[dict]:
    """A copy of ``rows`` whose first row has ``field`` changed."""
    bad = copy.deepcopy(rows)
    value = bad[0][field]
    if isinstance(value, bool):
        bad[0][field] = not value
    elif isinstance(value, (int, float)):
        bad[0][field] = value + 1
    elif isinstance(value, list):
        bad[0][field] = value + [value[-1] if value else "planted"]
    else:
        bad[0][field] = f"{value}~planted"
    return bad


def planted_fault_caught(checker, rows: list[dict], field: str) -> bool:
    """Corrupt one row and check that ``checker(rows)`` then reports
    exactly one more failure."""
    return bool(rows) and len(checker(corrupt_first(rows, field))) == len(checker(rows)) + 1
