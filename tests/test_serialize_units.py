"""Markdown serializer units on hand-built SpanDocs."""

from __future__ import annotations

from docling_spark.model import SpanDoc
from docling_spark.serialize import to_markdown


def _list_with_text_child() -> SpanDoc:
    doc = SpanDoc("units")
    lst = doc.add_list_group("list", None, "body")
    li = doc.add_list_item("", enumerated=False, marker="-", parent=lst.idx)
    doc.add_text("text", "a & b", parent=li.idx)
    return doc


def test_list_item_text_child_honours_escape_html():
    doc = _list_with_text_child()
    assert to_markdown(doc) == "- a &amp; b"
    assert to_markdown(doc, escape_html=False) == "- a & b"
