"""Convert-CLI parity with the Spark job, offline: every input is built in
the test, classified by ``job.sniff_content_type`` and extracted by
``job._extract_one`` — the CLI's files must hold the same bytes."""

from __future__ import annotations

import gzip
import json

import pytest

from docling_spark.__main__ import convert_main
from docling_spark.job import _extract_one, sniff_content_type
from docling_spark.ops.corpus import (
    synth_docx_bytes,
    synth_ofd_bytes,
    synth_pdf_bytes,
    synth_uspto_bytes,
    synth_xlsx_bytes,
)

HTML = (
    b"<html><head><title>T</title></head><body><h1>Head &amp; more</h1>"
    b"<p>para one</p><ul><li>x</li><li>y</li></ul></body></html>"
)
DOCTAGS = b"<doctag><title>Tags</title><text>body text</text></doctag>"


def _docling_json() -> bytes:
    res = _extract_one("page.html", HTML, "html", "none", 60.0, with_doc_json=True)
    return res["doc_json"].encode()


def _blobs() -> dict:
    return {
        "page.html": HTML,
        "paper.pdf": synth_pdf_bytes(1, "alpha beta gamma delta"),
        "word.docx": synth_docx_bytes(2, "docx body words"),
        "sheet.xlsx": synth_xlsx_bytes(3),
        "patent.xml": synth_uspto_bytes(4, "patent abstract words"),
        "bill.ofd": synth_ofd_bytes(5, "ofd body words"),
        "notes.md": b"# Notes\n\nSome *markdown* text.\n\n- a\n- b\n",
        "table.csv": b"K,V\nk1,v1\nk2,v2\n",
        "extensionless": b"a;b\n1;2\n",
        "subs.vtt": b"WEBVTT\n\n00:00.000 --> 00:01.000\n<v Bob>hi & bye\n",
        "tags.txt": DOCTAGS,
        "docjson.json": _docling_json(),
    }


def test_convert_matches_job_extraction(tmp_path):
    blobs = _blobs()
    src = tmp_path / "src"
    src.mkdir()
    for name, blob in blobs.items():
        (src / name).write_bytes(blob)
    out = tmp_path / "out"
    rc = convert_main(
        [str(src / n) for n in blobs] + ["--to", "md,itxt,json", "--output", str(out)]
    )
    assert rc == 0
    seen = set()
    for name, blob in blobs.items():
        ct = sniff_content_type(name, blob)
        seen.add(ct)
        want = _extract_one(name, blob, ct, "none", 60.0, with_doc_json=True)
        assert want["status"] == "success", (name, want["error"])
        stem = name.rsplit(".", 1)[0]
        assert (out / f"{stem}.md").read_text() == want["extracted_text"], name
        if ct == "pdf":
            assert not (out / f"{stem}.itxt").exists()
            continue
        assert (out / f"{stem}.itxt").read_text() == want["itxt"], name
        assert (out / f"{stem}.json").read_text() == want["doc_json"], name
    assert seen == {
        "html", "pdf", "docx", "xlsx", "uspto", "ofd", "md", "csv", "vtt",
        "doctags", "docling_json",
    }


def test_from_takes_content_type_names(tmp_path, capsys):
    src = tmp_path / "a.txt"
    src.write_bytes(DOCTAGS)
    assert convert_main([str(src), "--output", str(tmp_path / "h"), "--from", "html"]) == 0
    assert "skipped a.txt: format not in --from" in capsys.readouterr().out
    assert not (tmp_path / "h" / "a.md").exists()
    assert convert_main([str(src), "--output", str(tmp_path / "d"), "--from", "doctags"]) == 0
    assert "converted a.txt" in capsys.readouterr().out
    want = _extract_one("a.txt", DOCTAGS, "doctags", "none", 60.0)
    assert (tmp_path / "d" / "a.md").read_text() == want["extracted_text"]


def test_docling_json_routes_to_json_backend(tmp_path, capsys):
    blob = _docling_json()
    assert json.loads(blob)["schema_name"] == "DoclingDocument"
    src = tmp_path / "doc.json"
    src.write_bytes(blob)
    assert convert_main([str(src), "--output", str(tmp_path / "h"), "--from", "html"]) == 0
    assert "skipped doc.json" in capsys.readouterr().out
    assert (
        convert_main(
            [str(src), "--to", "md,json", "--output", str(tmp_path / "j"),
             "--from", "docling_json"]
        )
        == 0
    )
    want = _extract_one("doc.json", blob, "docling_json", "none", 60.0, with_doc_json=True)
    assert (tmp_path / "j" / "doc.md").read_text() == want["extracted_text"]
    assert json.loads((tmp_path / "j" / "doc.json").read_text())["origin"][
        "mimetype"
    ] == "application/json"


@pytest.mark.parametrize(
    "name,blob,ct",
    [
        pytest.param(name, blob, ct, id=ct)
        for name, blob, ct in (
            ("img.png", b"\x89PNG\r\n\x1a\n", "image"),
            ("books.tar.gz", gzip.compress(b"not a tar", mtime=0), "mets_gbs"),
            ("clip.mp3", b"ID3\x04\x00", "audio"),
            ("prose.txt", b"It was a dark and stormy night.", "other"),
        )
    ],
)
def test_unsupported_content_type_skipped_not_failed(tmp_path, capsys, name, blob, ct):
    src = tmp_path / name
    src.write_bytes(blob)
    assert convert_main([str(src), "--output", str(tmp_path / "o")]) == 0
    assert f"skipped {name}: unsupported content type {ct}" in capsys.readouterr().out
    assert not any((tmp_path / "o").iterdir())


def test_failure_counted_and_contained(tmp_path):
    bad = tmp_path / "bad.pdf"
    bad.write_bytes(b"%PDF-1.4 truncated")
    good = tmp_path / "good.csv"
    good.write_bytes(b"K,V\nk1,v1\n")
    out = tmp_path / "out"
    assert convert_main([str(bad), str(good), "--output", str(out), "--abort-on-error"]) == 1
    assert not (out / "good.md").exists()
    assert convert_main([str(bad), str(good), "--output", str(out)]) == 1
    assert (out / "good.md").exists()
