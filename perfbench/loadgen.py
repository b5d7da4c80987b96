"""Load generator: seeded input tables for the two workloads.

Runs in one process and writes parquet only; it never starts Spark.
Every table is a pure function of ``(workload, seed, size)``, written
with several row groups so a Spark scan splits across cores, and
cached under ``<work>/inputs/<workload>-s<seed>-n<size>/``.

- ``extract_articles``: ``corpus.synth.synth_documents(n, seed,
  mega_every=500)`` as a ``(doc_id, spans)`` table, plus a sidecar of
  the media-span count of every input doc for the output check.
- ``corpus_queries``: the ``customer``/``orders``/``lineitem``/
  ``documents``/``embeddings`` tables the nine headline queries read,
  with the sf0.1 schemas and value domains (money as exact 2-dp
  decimals, day-granular timestamps, unit-norm float32 embeddings);
  ``documents`` has the shape of the repository's sf test tables
  (32-word vocabulary, 10-100 words, no sentence breaks).
  ``size`` is the document count; the other tables scale with it as
  in sf0.1 (5k documents : 15k customers : 150k orders : 600k
  lineitems : 2k embeddings).
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROW_GROUPS = 8

VOCAB = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data dup part column order scan a slow agg key "
    "window table merge vector join"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EMBED_DIM = 64


def write_table(table: pa.Table, path: Path) -> None:
    """Parquet with ROW_GROUPS row groups; no timestamps in the footer,
    so the same table always gives the same bytes."""
    rows_per_group = max(1, -(-table.num_rows // ROW_GROUPS))
    pq.write_table(table, path, row_group_size=rows_per_group)


def documents_table(n: int, seed: int) -> pa.Table:
    """sf-shaped documents: random vocabulary words, ~0.2% exact and
    ~1% one-word-edited duplicates, so the dedup and LSH queries have
    matches to find."""
    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    texts: list[str] = []
    pos = 0
    for i, k in enumerate(lengths):
        ws = [VOCAB[w] for w in words[pos : pos + k]]
        pos += k
        r = rng.random()
        if i > 0 and r < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 0 and r < 0.012:
            src = texts[int(rng.integers(0, i))].split(" ")
            src[int(rng.integers(0, len(src)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            ws = src
        texts.append(" ".join(ws))
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[x] for x in langs], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(round(lo * 100), round(hi * 100) + 1, size=n)
    return cents / 100.0


def _days(rng, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    d = lo + rng.integers(0, span + 1, size=n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def corpus_tables(n_docs: int, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 2])
    scale = n_docs / 5000
    n_cust, n_ord = int(15000 * scale), int(150000 * scale)
    n_line, n_emb = int(600000 * scale), int(2000 * scale)
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(
                [SEGMENTS[x] for x in rng.integers(0, 5, n_cust)], pa.string()
            ),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": pa.array(
                [("O", "P", "F")[x] for x in rng.integers(0, 3, n_ord)], pa.string()
            ),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": pa.array(
                [PRIORITIES[x] for x in rng.integers(0, 5, n_ord)], pa.string()
            ),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, 20000, n_line).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, 1000, n_line).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(
                [("A", "N", "R")[x] for x in rng.integers(0, 3, n_line)], pa.string()
            ),
            "l_linestatus": pa.array(
                [("O", "F")[x] for x in rng.integers(0, 2, n_line)], pa.string()
            ),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    emb = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
        }
    )
    return {
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "documents": documents_table(n_docs, seed),
        "embeddings": embeddings,
    }


def article_tables(n_docs: int, seed: int) -> dict[str, pa.Table]:
    from swift_readability_spark.corpus.synth import _DOC_SCHEMA, synth_documents

    rows = synth_documents(n_docs, seed=seed, mega_every=500)
    docs = pa.Table.from_pydict(
        {"doc_id": [r[0] for r in rows], "spans": [r[1] for r in rows]},
        schema=_DOC_SCHEMA,
    )
    media = pa.table(
        {
            "doc_id": docs.column("doc_id"),
            "n_media": pa.array(
                [sum(s["kind"] == "media" for s in r[1]) for r in rows], pa.int64()
            ),
        }
    )
    return {"articles": docs, "articles_media": media}


def generate(workload: str, seed: int, size: int) -> dict[str, pa.Table]:
    """Table name -> table."""
    if workload == "extract_articles":
        return article_tables(size, seed)
    if workload == "corpus_queries":
        return corpus_tables(size, seed)
    raise ValueError(f"unknown workload {workload!r}")


def ensure_inputs(work: Path, workload: str, seed: int, size: int, keep: int = 6) -> Path:
    """The cached input directory for (workload, seed, size), generating
    it on first use.  Written to a temporary name and renamed, so a
    killed run never leaves a half-written cache entry; only the
    ``keep`` most recently used entries are kept."""
    root = work / "inputs"
    out = root / f"{workload}-s{seed}-n{size}"
    if out.is_dir():
        os.utime(out)
        return out
    tmp = root / f".tmp-{out.name}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, table in generate(workload, seed, size).items():
        write_table(table, tmp / f"{name}.parquet")
    tmp.rename(out)
    entries = sorted(
        (p for p in root.iterdir() if not p.name.startswith(".")),
        key=lambda p: p.stat().st_mtime_ns,
    )
    for old in entries[:-keep]:
        shutil.rmtree(old, ignore_errors=True)
    return out
