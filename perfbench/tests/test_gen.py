"""Seeded input generation: same seed, same bytes; other seed, other bytes."""

import hashlib
import statistics

import pytest

import gen


@pytest.fixture(scope="module")
def docs():
    return gen.load_documents()


def _table_digest(tmp_path, name, plan, docs):
    blobs = gen.build_blobs("cc_html", {r.key for r in plan.rows}, docs)
    out = tmp_path / name
    gen.write_table(plan, blobs, out, n_files=3)
    return [hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(out.iterdir())]


def test_cc_same_seed_same_bytes(tmp_path, docs):
    a = _table_digest(tmp_path, "a", gen.cc_plan(7), docs)
    b = _table_digest(tmp_path, "b", gen.cc_plan(7), docs)
    assert a == b and len(a) == 3


def test_cc_other_seed_other_bytes(tmp_path, docs):
    a = _table_digest(tmp_path, "a", gen.cc_plan(7), docs)
    b = _table_digest(tmp_path, "b", gen.cc_plan(8), docs)
    assert set(a).isdisjoint(b)


def test_tiny_plan_deterministic():
    n = 5000
    assert gen.tiny_plan(3, n).rows == gen.tiny_plan(3, n).rows
    assert gen.tiny_plan(3, n).rows != gen.tiny_plan(4, n).rows


def test_cc_sizes_heavy_tailed_and_seed_independent():
    sizes = [gen.cc_target_bytes(k) for k in range(0, gen.CC_NORMAL_KEYS, gen.CC_REPLICAS)]
    med = statistics.median(sizes)
    assert 15_000 < med < 40_000
    assert max(sizes) > 20 * med and max(sizes) <= gen.CC_MAX_BYTES
    # one key per stratum: every seed draws the same size histogram
    for seed in (1, 2):
        keys = [r.key for r in gen.cc_plan(seed).rows if r.key < gen.CC_NORMAL_KEYS]
        strata = sorted({k // gen.CC_REPLICAS for k in keys})
        assert strata == list(range(gen.CC_STRATA))


def test_cc_plan_has_stragglers_duplicates_and_files():
    from docling_spark.job import BIG_BLOB_BYTES

    plan = gen.cc_plan(5)
    keys = [r.key for r in plan.rows]
    assert sum(k >= gen.CC_BIG_BASE and k < gen.CC_PDF_BASE for k in keys) == gen.CC_BIG_PER_INPUT
    assert gen.CC_BIG_BYTES > BIG_BLOB_BYTES
    exts = {r.url.rsplit(".", 1)[1] for r in plan.rows}
    assert exts == {"html", "pdf", "md", "csv", "docx", "xlsx"}
    # an older crawl of a url never wins it
    dups = [r for r in plan.rows if plan.expect[r.url] != r.key]
    assert dups
    for r in dups:
        winner = next(x for x in plan.rows if x.url == r.url and x.key == plan.expect[r.url])
        assert winner.ts > r.ts


def test_legacy_charset_pages_decode(docs):
    from docling_spark.htmlx.dom import decode_bytes

    legacy = 0
    for k in range(40):
        blob = gen.cc_html_page(k, docs, 5000, gen.CC_SCRIPT_SHARE)
        if b'charset="utf-8"' not in blob[:300]:
            legacy += 1
            assert "�" not in decode_bytes(blob)
    assert legacy > 0


def test_missing_corpus_is_an_error(tmp_path):
    with pytest.raises(FileNotFoundError):
        gen.load_documents(tmp_path / "documents.parquet")
