import pyarrow.parquet as pq
import pytest

import loadgen

SIZES = {"extract_articles": 40, "corpus_queries": 60}


def _bytes(d):
    return {p.name: p.read_bytes() for p in sorted(d.glob("*.parquet"))}


@pytest.mark.parametrize("workload", sorted(SIZES))
def test_same_seed_same_bytes_other_seed_other_data(tmp_path, workload):
    n = SIZES[workload]
    a = loadgen.ensure_inputs(tmp_path / "a", workload, 7, n)
    b = loadgen.ensure_inputs(tmp_path / "b", workload, 7, n)
    c = loadgen.ensure_inputs(tmp_path / "c", workload, 8, n)
    assert _bytes(a) == _bytes(b)
    assert _bytes(a).keys() == _bytes(c).keys()
    for name, data in _bytes(a).items():
        assert data != _bytes(c)[name], name
        meta = pq.ParquetFile(a / name).metadata
        assert meta.num_row_groups > 1, name


def test_article_ids_move_with_the_seed(tmp_path):
    ids = {}
    for seed in (7, 8):
        d = loadgen.ensure_inputs(tmp_path, "extract_articles", seed, SIZES["extract_articles"])
        ids[seed] = set(pq.read_table(d / "articles.parquet").column("doc_id").to_pylist())
    assert len(ids[7]) == SIZES["extract_articles"]
    assert not ids[7] & ids[8]


def test_articles_hold_a_mega_doc_every_500(tmp_path):
    d = loadgen.ensure_inputs(tmp_path, "extract_articles", 1, 501)
    t = pq.read_table(d / "articles.parquet")
    sizes = [sum(len(s["text"] or "") for s in spans) for spans in t.column("spans").to_pylist()]
    assert sizes[499] > 100 * sorted(sizes)[250] and sizes[499] > 500_000
    media = pq.read_table(d / "articles_media.parquet").column("n_media").to_pylist()
    assert media[499] == 40 and max(media[:499]) <= 5


def test_corpus_money_is_exact_cents(tmp_path):
    t = loadgen.corpus_tables(50, seed=3)
    for table, col in (("lineitem", "l_extendedprice"), ("orders", "o_totalprice"), ("customer", "c_acctbal")):
        for v in t[table].column(col).to_pylist():
            assert round(v * 100) / 100 == v


def test_cache_keeps_the_newest_entries(tmp_path):
    for seed in range(4):
        loadgen.ensure_inputs(tmp_path, "extract_articles", seed, 5, keep=2)
    left = sorted(p.name for p in (tmp_path / "inputs").iterdir())
    assert left == ["extract_articles-s2-n5", "extract_articles-s3-n5"]
