"""Structured-extraction API (docling_spark/extractor.py) vs the reference
DocumentExtractor result shape (datamodel/extraction.py:11-35)."""

from __future__ import annotations

from pathlib import Path

import pytest

from docling_spark.extractor import ExtractionResult, extract_document

PDF = Path("/root/reference/tests/data/pdf")


def test_multi_page_per_page_rows():
    r = extract_document(
        (PDF / "multi_page.pdf").read_bytes(), source="multi_page.pdf"
    )
    assert isinstance(r, ExtractionResult)
    assert r.status == "success" and not r.errors
    assert [p.page_no for p in r.pages] == [1, 2, 3, 4, 5]
    assert all(p.raw_text for p in r.pages)
    assert all(p.extracted_data is None for p in r.pages)  # VLM slot empty


def test_page_range_offsets_page_numbers():
    r = extract_document(
        (PDF / "multi_page.pdf").read_bytes(), page_range=(2, 3)
    )
    assert [p.page_no for p in r.pages] == [2, 3]


def test_encrypted_wrong_password_is_failure():
    raw = Path(
        "/root/reference/tests/data/pdf_password/2206.01062_pg3.pdf"
    ).read_bytes()
    r = extract_document(raw)
    assert r.status == "failure"
    assert any("encrypted" in e for e in r.errors)
    ok = extract_document(raw, password="1234")
    assert ok.status == "success" and ok.pages[0].raw_text


def test_image_routes_with_page_error():
    from docling_spark.ops.multimodal import make_png

    r = extract_document(make_png(3))
    assert r.status == "partial_success"
    assert r.pages[0].raw_text is None
    assert any("VLM" in e for e in r.pages[0].errors)


def test_garbage_contained():
    r = extract_document(b"%PDF-1.4 garbage truncated")
    assert r.status == "failure" and r.errors


# ------------------------------------------- round-4: template engine
def test_template_typed_extraction():
    from docling_spark.extractor import apply_template, compile_template
    from docling_spark.ops.corpus import invoice_text, synth_pdf_bytes

    tmpl = compile_template(
        {
            "inv_no": {"pattern": r"Invoice\s+INV-(\d+)", "type": "int"},
            "inv_date": {
                "pattern": r"Date:\s+(\d{4}-\d{2}-\d{2})",
                "type": "date",
            },
            "total": {"pattern": r"Total:\s+([\d,.]+)\s+USD", "type": "float"},
            "paid": {"pattern": r"Paid:\s+(\w+)", "type": "bool"},
            "missing": {"pattern": r"Discount:\s+(\d+)", "type": "int"},
        }
    )
    blob = synth_pdf_bytes(42, invoice_text(42))
    r = extract_document(blob, template=tmpl)
    assert r.status == "success"
    d = r.pages[0].extracted_data
    assert d == {
        "inv_no": 42,
        "inv_date": "2024-02-15",
        "total": float(f"{(42 * 37) % 9000}.{42 % 100:02d}"),
        "paid": True,
        "missing": None,
    }


def test_template_json_string_form_and_bare_pattern():
    from docling_spark.extractor import apply_template, compile_template

    # the str template form is the same dict as JSON (reference
    # ExtractionTemplateType allows str); a bare string spec = str field
    tmpl = compile_template(
        '{"word": "W-(\\\\w+)", "tail": {"pattern": "end:(.*)$"}}'
    )
    d = apply_template(tmpl, "x W-alpha y end:omega")
    assert d == {"word": "alpha", "tail": "omega"}


def test_template_coercion_failure_yields_none_field():
    from docling_spark.extractor import apply_template, compile_template

    tmpl = compile_template({"n": {"pattern": r"n=(\w+)", "type": "int"}})
    assert apply_template(tmpl, "n=notanint")["n"] is None
    assert apply_template(tmpl, None) is None


def test_template_unknown_type_rejected():
    from docling_spark.extractor import compile_template

    with pytest.raises(ValueError):
        compile_template({"x": {"pattern": "a", "type": "uuid"}})


# ------------------------------------------- content-type routing
@pytest.mark.parametrize(
    "blob, ct",
    [(b"<!doctype html><html><body>x</body></html>", "html"), (b"", "other")],
)
def test_unsupported_content_type_is_failure(blob, ct):
    r = extract_document(blob)
    assert r.status == "failure"
    assert r.pages == []
    assert r.errors == [f"unsupported content type {ct}"]
