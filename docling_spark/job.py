"""The Spark extraction job: Common-Crawl pages → extracted structured text.

Spark trace (SURVEY.md §3.1): scan → content-type dispatch column →
latest-crawl dedup window → resume anti-join vs committed lineage →
salted repartition → mapInPandas(html_extract) ∪ mapInPandas(pdf_extract)
→ chunked atomic writes + per-chunk lineage/metrics rows.

Scale design notes
------------------
- All per-document work happens in **vectorized Arrow-batched UDFs**
  (``mapInPandas``), never per-row Python ``udf()`` (input_hint contract).
- **Dispatch** is a cheap JVM-side expression (magic bytes / regex on an
  8 KB prefix), so Catalyst prunes each branch's scan to its rows.
- **Skew**: rows are hash-repartitioned on ``xxhash64(url, salt)``;
  Arrow batches are kept small (``spark.sql.execution.arrow.maxRecordsPerBatch``)
  because rows carry multi-MB blobs.
- **Resume / exactly-once**: the input is deterministically split into
  ``num_chunks`` hash buckets; each chunk is one atomic parquet write
  (all-or-nothing via the Spark commit protocol) followed by a lineage
  append. A killed run reruns only chunks without lineage rows — no
  half-written chunk is ever visible. This is the Iceberg-snapshot
  pattern expressed with plain parquet (no Iceberg runtime in this
  sandbox); on a real cluster each chunk write maps to one Iceberg
  append snapshot.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import EXTRACTED_SCHEMA, LINEAGE_SCHEMA

# HTML sniff pattern re-derived from the reference's _detect_html_xhtml
# (/root/reference/docling/datamodel/document.py:620-657): optional leading
# comments/script, then doctype/html/head/body markers.
_HTML_SNIFF_RE = (
    r"(?is)^\s*(<!--.*?-->\s*)*(<script.*?>.*?</script>\s*)?"
    r"(<!doctype\s+html|<html|<head|<body)"
)
_DOCLING_JSON_RE = r'(?s)^\s*\{\s*"schema_name"\s*:\s*"DoclingDocument"'
_DOCTAGS_RE = r"(?s)^\s*<doctag>"
_USPTO_MARKERS = (
    b"us-patent-application-v4", b"us-patent-grant-v4", b"us-grant-025",
    b"US-Grant-025",
)
_IMAGE_MAGICS = (b"\x89PNG", b"\xff\xd8\xff", b"GIF8", b"II*\x00", b"MM\x00*", b"BM")
_HTML_EXTS = ("html", "htm", "xhtml")
_MD_EXTS = ("md", "markdown")
_ASCIIDOC_EXTS = ("adoc", "asciidoc", "asc")
_XLSX_EXTS = ("xlsx", "xlsm")
_PPTX_EXTS = ("pptx", "pptm", "potx")
_IMAGE_EXTS = ("png", "jpg", "jpeg", "gif", "tif", "tiff", "bmp", "webp")
_AUDIO_EXTS = ("wav", "mp3", "m4a", "flac", "ogg")


def with_content_type(
    df: DataFrame, prefix_bytes: int = 8192, zip_probe_bytes: int = 65536
) -> DataFrame:
    """Add the dispatch column. Pure JVM expressions — no Python.

    Order mirrors the reference _guess_format (document.py:488-554):
    content magic (mime) first, then url extension, then content sniffing.

    Every content probe runs on a BOUNDED window, never the full blob
    (the reference sniffs only the first 8 KB — document.py:513,527):
    XML-marker probes use the ``prefix_bytes`` head; zip-member probes use
    a ``zip_probe_bytes`` head plus the same-sized tail (a zip's central
    directory — which names every member — sits at EOF, and the first
    local-file headers sit at offset 0). At 100 TB this removes up to
    ~10 full scans of a 64 MB blob per fall-through row, and a marker
    buried at byte 50 M can no longer flip the format.

    Known zip-probe limit: an EXTENSIONLESS archive whose central
    directory exceeds the 64 KB tail window (hundreds of members) AND
    whose identifying member (word/document.xml, OFD.xml, …) is neither
    in the first local headers nor the visible directory suffix routes to
    'other' instead of its office type. Anchoring the window off the
    end-of-central-directory offset would need binary little-endian
    parsing in a JVM expression; real OOXML/OFD writers put the document
    part first and crawl rows carry extensions, so the fixed window is
    the deliberate trade (raise ``zip_probe_bytes`` per-deployment if
    such archives matter).
    """
    # Probe inputs are materialized ONCE in a preceding projection:
    # CaseWhen branches get no cross-branch subexpression elimination, so
    # leaving them inline would re-slice the blob (and re-run the
    # extension regex) on every probe a fall-through row reaches — ~10
    # window slices + casts per row. CollapseProject keeps the split
    # because each alias is non-cheap and referenced many times.
    # The cast is lenient (invalid UTF-8 → replacement chars): a crawl
    # blob with arbitrary binary bytes must never crash the dispatch
    # expression (F.decode raises MALFORMED_CHARACTER_CODING on such
    # input). The 64 KB zip windows stay INSIDE the chain: they are only
    # reached by rows whose first two bytes are "PK" (short-circuit &&),
    # so materializing them for every row would be a net loss.
    head_bin_e = F.substring(F.col("html"), 1, prefix_bytes)
    df = df.withColumns(
        {
            "_magic": F.substring(F.col("html"), 1, 12),
            "_head_bin": head_bin_e,
            "_head": head_bin_e.cast("string"),
            "_ext": F.lower(
                F.regexp_extract(
                    F.col("url"), r"\.([A-Za-z0-9]+)(?:[?#].*)?$", 1
                )
            ),
        }
    )
    magic = F.col("_magic")
    head_bin = F.col("_head_bin")
    head = F.col("_head")
    zip_head = F.substring(F.col("html"), 1, zip_probe_bytes)
    # bounded tail window (1-based start, clamped to the blob start)
    zip_tail = F.substring(
        F.col("html"),
        F.greatest(
            F.length(F.col("html")) - F.lit(zip_probe_bytes - 1), F.lit(1)
        ),
        F.lit(zip_probe_bytes),
    )

    def zip_member(name: bytes):
        return F.contains(zip_head, F.lit(name)) | F.contains(
            zip_tail, F.lit(name)
        )

    ext = F.col("_ext")
    uspto = F.substring(magic, 1, 4) == F.lit(b"PATN")
    for m in _USPTO_MARKERS:
        uspto = uspto | F.contains(head_bin, F.lit(m))
    uspto = uspto | (
        F.contains(head_bin, F.lit(b"patent-application-publication"))
        & F.contains(head_bin, F.lit(b"pap-v1"))
    )
    ct = (
        F.when(F.substring(magic, 1, 5) == F.lit(b"%PDF-"), "pdf")
        .when(ext.isin(*_HTML_EXTS), "html")
        .when(ext == "pdf", "pdf")
        .when(ext == "csv", "csv")
        .when(F.substring(magic, 1, 6) == F.lit(b"WEBVTT"), "vtt")
        .when(ext == "vtt", "vtt")
        .when(ext.isin(*_MD_EXTS), "md")
        .when(ext.isin(*_ASCIIDOC_EXTS), "asciidoc")
        .when(
            F.contains(head_bin, F.lit(b"JATS-journalpublishing"))
            | F.contains(head_bin, F.lit(b"JATS-archive")),
            "jats",
        )
        .when(uspto, "uspto")
        .when(ext == "ofd", "ofd")
        .when(
            (F.substring(magic, 1, 2) == F.lit(b"PK"))
            & zip_member(b"OFD.xml"),
            "ofd",
        )
        .when(ext == "docx", "docx")
        .when(ext.isin(*_XLSX_EXTS), "xlsx")
        .when(ext.isin(*_PPTX_EXTS), "pptx")
        .when(
            (F.substring(magic, 1, 2) == F.lit(b"PK"))
            & zip_member(b"word/document.xml"),
            "docx",
        )
        .when(
            (F.substring(magic, 1, 2) == F.lit(b"PK"))
            & zip_member(b"xl/workbook.xml"),
            "xlsx",
        )
        .when(
            (F.substring(magic, 1, 2) == F.lit(b"PK"))
            & zip_member(b"ppt/presentation.xml"),
            "pptx",
        )
        # gzip magic → mets_gbs candidate (the branch inspects the tar and
        # gracefully skips non-METS archives, mirroring the reference's
        # content-inspecting _guess_format, document.py:688-707)
        .when(F.substring(magic, 1, 2) == F.lit(b"\x1f\x8b"), "mets_gbs")
    )
    # image magics (reference image_backend routing — such rows get an
    # explicit needs_ocr status rather than silently skipping)
    for m in _IMAGE_MAGICS:
        ct = ct.when(F.substring(magic, 1, len(m)) == F.lit(m), "image")
    ct = (
        ct.when(
            (F.substring(magic, 1, 4) == F.lit(b"RIFF"))
            & (F.substring(magic, 9, 4) == F.lit(b"WEBP")),
            "image",
        )
        .when(ext.isin(*_IMAGE_EXTS), "image")
        # audio magics/extensions (reference NoOpBackend → ASR pipeline,
        # NN and out of contract — explicit status instead of silent skip)
        .when(
            (F.substring(magic, 1, 4) == F.lit(b"RIFF"))
            & (F.substring(magic, 9, 4) == F.lit(b"WAVE")),
            "audio",
        )
        .when(F.substring(magic, 1, 3) == F.lit(b"ID3"), "audio")
        .when(ext.isin(*_AUDIO_EXTS), "audio")
        .when(head.rlike(_DOCLING_JSON_RE), "docling_json")
        .when(head.rlike(_DOCTAGS_RE), "doctags")
        .when(head.rlike(_HTML_SNIFF_RE), "html")
        .when(_csv_sniff(head, prefix_bytes), "csv")
        .otherwise("other")
    )
    return df.withColumn("content_type", ct).drop(
        "_magic", "_head_bin", "_head", "_ext"
    )


def _csv_sniff(head, prefix_bytes: int):
    """Content-level CSV detection on the bounded head window — the JVM
    analog of the reference's _detect_csv (csv.Sniffer over the first 8 KB,
    document.py:659-686): an extensionless blob is CSV when one of the
    common delimiters {, ; TAB |} appears a CONSISTENT number of times
    (>=1) on each of the first complete lines (>=2 lines required). Runs
    after the HTML sniff, before the text/plain fallthrough, matching the
    reference's detection order (document.py:540-542)."""
    lines_all = F.split(head, r"\r\n|\r|\n")
    # the head window may have truncated the blob mid-line: drop the final
    # (possibly partial) line in that case so counts are never skewed
    n_complete = F.when(
        F.length(F.col("html")) > prefix_bytes, F.size(lines_all) - 1
    ).otherwise(F.size(lines_all))
    nonempty = F.filter(
        F.slice(lines_all, F.lit(1), n_complete),
        lambda l: F.length(l) > 0,
    )
    sample = F.slice(nonempty, 1, 5)

    def consistent(delim_regex: str):
        counts = F.transform(
            sample, lambda l: F.size(F.split(l, delim_regex, -1)) - 1
        )
        return (
            (F.size(sample) >= 2)
            & (F.size(F.array_distinct(counts)) == 1)
            & (F.element_at(counts, 1) >= 1)
        )

    return (
        consistent(",")
        | consistent(";")
        | consistent("\t")
        | consistent(r"\|")
    )


# Python renderings of the dispatch column's regexes with Java semantics:
# re.ASCII gives Java's ASCII-only \s and case folding; in the extension
# pattern `.` stops at every Java line terminator and Java's `$` (which
# also matches before one final terminator) becomes the lookahead.
_HTML_SNIFF_PY = re.compile(_HTML_SNIFF_RE, re.ASCII)
_DOCLING_JSON_PY = re.compile(_DOCLING_JSON_RE, re.ASCII)
_DOCTAGS_PY = re.compile(_DOCTAGS_RE, re.ASCII)
_URL_EXT_PY = re.compile(
    r"\.([A-Za-z0-9]+)(?:[?#][^\n\r\x85\u2028\u2029]*)?"
    r"(?=(?:\r\n|[\n\r\x85\u2028\u2029])?\Z)"
)


def sniff_content_type(url: Optional[str], raw: Optional[bytes]) -> str:
    """The dispatch column of :func:`with_content_type` for one document,
    in Python: the same rules in the same order over the same bounded
    windows (its default ``prefix_bytes`` and ``zip_probe_bytes``), for the
    single-file paths (convert CLI, web demo) that run without a Spark
    session. tests/test_sniff_parity.py pins it to the JVM column row by
    row."""
    prefix_bytes, zip_probe_bytes = 8192, 65536
    raw = raw or b""
    magic = raw[:12]
    head_bin = raw[:prefix_bytes]
    head = head_bin.decode("utf-8", "replace")
    m = _URL_EXT_PY.search(url or "")
    ext = m.group(1).lower() if m else ""

    def zip_member(name: bytes) -> bool:
        return magic[:2] == b"PK" and (
            name in raw[:zip_probe_bytes] or name in raw[-zip_probe_bytes:]
        )

    if magic.startswith(b"%PDF-"):
        return "pdf"
    if ext in _HTML_EXTS:
        return "html"
    if ext == "pdf":
        return "pdf"
    if ext == "csv":
        return "csv"
    if magic.startswith(b"WEBVTT") or ext == "vtt":
        return "vtt"
    if ext in _MD_EXTS:
        return "md"
    if ext in _ASCIIDOC_EXTS:
        return "asciidoc"
    if b"JATS-journalpublishing" in head_bin or b"JATS-archive" in head_bin:
        return "jats"
    if (
        magic.startswith(b"PATN")
        or any(k in head_bin for k in _USPTO_MARKERS)
        or (b"patent-application-publication" in head_bin and b"pap-v1" in head_bin)
    ):
        return "uspto"
    if ext == "ofd" or zip_member(b"OFD.xml"):
        return "ofd"
    if ext == "docx":
        return "docx"
    if ext in _XLSX_EXTS:
        return "xlsx"
    if ext in _PPTX_EXTS:
        return "pptx"
    if zip_member(b"word/document.xml"):
        return "docx"
    if zip_member(b"xl/workbook.xml"):
        return "xlsx"
    if zip_member(b"ppt/presentation.xml"):
        return "pptx"
    if magic.startswith(b"\x1f\x8b"):
        return "mets_gbs"
    if (
        magic.startswith(_IMAGE_MAGICS)
        or (magic[:4] == b"RIFF" and magic[8:12] == b"WEBP")
        or ext in _IMAGE_EXTS
    ):
        return "image"
    if (
        (magic[:4] == b"RIFF" and magic[8:12] == b"WAVE")
        or magic.startswith(b"ID3")
        or ext in _AUDIO_EXTS
    ):
        return "audio"
    if _DOCLING_JSON_PY.search(head):
        return "docling_json"
    if _DOCTAGS_PY.search(head):
        return "doctags"
    if _HTML_SNIFF_PY.search(head):
        return "html"
    # _csv_sniff: drop a line the head window may have cut, then one of
    # , ; TAB | appears the same (>= 1) number of times on each of the
    # first 2..5 non-empty lines
    lines = re.split(r"\r\n|\r|\n", head)
    if len(raw) > prefix_bytes:
        lines = lines[:-1]
    sample = [ln for ln in lines if ln][:5]
    if len(sample) >= 2 and any(
        sample[0].count(d) >= 1 and len({ln.count(d) for ln in sample}) == 1
        for d in ",;\t|"
    ):
        return "csv"
    return "other"


def dedup_latest_crawl(df: DataFrame) -> DataFrame:
    """Latest snapshot per url (row_number over warc_ts desc)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ------------------------------------------------------------------ UDF core
def _doc_to_spans(doc, offsets: "dict | None" = None) -> list[dict]:
    spans = []
    offsets = offsets or {}
    for it in doc.items:
        f = it.formatting
        cs = offsets.get(it.idx)
        spans.append(
            {
                "idx": it.idx,
                "parent": it.parent,
                "kind": it.kind,
                "label": it.label,
                "name": it.name or None,
                "text": it.text or None,
                "level": it.level,
                "marker": it.marker or None,
                "enumerated": it.enumerated,
                "bold": f.bold if f else None,
                "italic": f.italic if f else None,
                "underline": f.underline if f else None,
                "strikethrough": f.strikethrough if f else None,
                "script": f.script if f else None,
                "hyperlink": it.hyperlink,
                "content_layer": it.content_layer,
                "num_rows": it.num_rows if it.kind == "table" else None,
                "num_cols": it.num_cols if it.kind == "table" else None,
                "char_start": cs[0] if cs else None,
                "char_end": cs[1] if cs else None,
            }
        )
    return spans


def _doc_backend(content_type: str, blob: bytes, url: str, base_uri_mode: str):
    """Route one blob to its SpanDoc-producing backend.

    Returns ``(doc, filename, mimetype, itxt_width, md_kwargs)`` or ``None``
    when the content type has no SpanDoc backend (pdf/mets/audio/image/etc.
    are handled separately in :func:`_extract_one`). Mimetype ``None`` means
    the serializer default (text/html).
    """
    filename = url.rstrip("/").rsplit("/", 1)[-1] or "file"
    stem = filename.rsplit(".", 1)[0] or "file"
    if content_type == "html":
        from .htmlx.extract import HtmlExtractor

        base = url if base_uri_mode == "url" else "None"
        doc = HtmlExtractor(base_uri=base).convert(blob)
        doc.name = stem
        return doc, filename, None, 70, {}
    if content_type == "vtt":
        from .vttx import extract_vtt

        # reference vtt goldens are exported with escape_html=False
        # (tests/test_backend_vtt.py:220)
        return (
            extract_vtt(blob, name=stem),
            filename,
            "text/vtt",
            70,
            {"escape_html": False},
        )
    if content_type == "docling_json":
        from .jsonx import parse_docling_json

        return parse_docling_json(blob), filename, "application/json", 70, {}
    if content_type == "docx":
        from .docxx import extract_docx

        mime = (
            "application/vnd.openxmlformats-officedocument."
            "wordprocessingml.document"
        )
        return extract_docx(blob, name=stem), filename, mime, 70, {}
    if content_type == "xlsx":
        from .xlsxx import extract_xlsx

        mime = (
            "application/vnd.openxmlformats-officedocument."
            "spreadsheetml.sheet"
        )
        return extract_xlsx(blob, name=stem), filename, mime, 70, {}
    if content_type == "pptx":
        from .pptxx import extract_pptx

        return (
            extract_pptx(blob, name=stem),
            filename,
            "application/vnd.ms-powerpoint",
            70,
            {},
        )
    if content_type == "uspto":
        from .usptox import extract_uspto

        mime = "text/plain" if blob.startswith(b"PATN") else "application/xml"
        # USPTO keeps the full filename as doc name and untruncated itxt
        # (reference pftaps/grant goldens)
        return extract_uspto(blob, name=filename), filename, mime, None, {}
    if content_type == "jats":
        from .jatsx import extract_jats

        return extract_jats(blob, name=stem), filename, "application/xml", 70, {}
    if content_type == "asciidoc":
        from .asciidocx import extract_asciidoc

        return extract_asciidoc(blob, name=stem), filename, "text/asciidoc", 70, {}
    if content_type == "md":
        from .mdx import extract_markdown

        return extract_markdown(blob, name=stem), filename, "text/markdown", 70, {}
    if content_type == "csv":
        from .csvx import extract_csv

        return extract_csv(blob, name=stem), filename, "text/csv", 70, {}
    if content_type == "doctags":
        from .doctagsx import parse_doctags

        # VLM-interchange format (docling-core DocTagsDocument role);
        # round-trip-exact inverse of serialize_doctags.to_doctags
        return parse_doctags(blob, name=stem), filename, "text/plain", 70, {}
    if content_type == "ofd":
        from .ofdx import extract_ofd

        # reference OFD origin mimetype is application/zip
        # (ofd_backend.py:581)
        return extract_ofd(blob, name=stem), filename, "application/zip", 70, {}
    return None


def _extract_one(url: str, blob: Optional[bytes], content_type: str,
                 base_uri_mode: str, doc_timeout_s: float,
                 with_doc_json: bool = False,
                 with_doctags: bool = False,
                 with_structure: bool = True,
                 pdf_password: str = "") -> dict:
    """One document through its backend; never raises (SURVEY §2.5:
    one bad doc must not kill a task)."""
    t0 = time.perf_counter()
    out = {
        "status": "failure",
        "error": None,
        "extracted_text": None,
        "itxt": None,
        "spans": None,
        "n_items": None,
        "n_chars": None,
        "doc_json": None,
        "doctags": None,
    }
    try:
        if blob is None or len(blob) == 0:
            out["status"] = "skipped"
            out["error"] = "empty document"
        elif content_type == "pdf":
            from .pdfx.extract import extract_pdf_text

            deadline = (
                time.monotonic() + doc_timeout_s if doc_timeout_s else None
            )
            # structural labeling (pdfx/structure.py: heading levels, list
            # items, grid tables) is demand-gated: span consumers keep it on,
            # text-only paths skip grid-detection + heading-ranking work
            res = extract_pdf_text(
                bytes(blob),
                deadline=deadline,
                with_structure=with_structure or with_doctags,
                password=pdf_password,
                with_span_doc=with_doctags,
            )
            spans = res.spans
            doctags = None
            if with_doctags and res.span_doc is not None:
                from .serialize_doctags import to_doctags

                # located DocTags from the deterministic layout path — the
                # loc tokens quantize REAL page geometry (block bboxes)
                doctags = to_doctags(res.span_doc)
            out.update(
                status=res.status,
                extracted_text=res.text,
                error=res.error,
                spans=spans,
                n_items=len(spans) if spans else None,
                n_chars=len(res.text) if res.text else None,
                doctags=doctags,
            )
        elif content_type == "mets_gbs":
            from .metsx import extract_mets_gbs

            res = extract_mets_gbs(bytes(blob), with_span_doc=with_doctags)
            doctags = None
            if with_doctags and res.span_doc is not None:
                from .serialize_doctags import to_doctags

                doctags = to_doctags(res.span_doc)
            out.update(
                status=res.status,
                extracted_text=res.text or None,
                error=res.error,
                spans=res.spans,
                n_items=len(res.spans) if res.spans else None,
                n_chars=len(res.text) if res.text else None,
                doctags=doctags,
            )
        elif content_type == "audio":
            # reference routes audio through NoOpBackend to the ASR
            # pipeline (whisper NN — out of contract)
            out["status"] = "skipped"
            out["error"] = "audio input requires ASR (not in contract)"
        elif content_type == "image":
            # reference ImageDocumentBackend wraps images as a 1-page doc
            # with zero text cells, which forces the OCR path
            # (/root/reference/docling/backend/image_backend.py:121-190);
            # OCR is NN-based and out of contract, so the row gets the same
            # explicit needs_ocr status a 0-cell PDF page gets. For PNG (the
            # one format with a real codec here, ops/png.py) the 1-page-doc
            # wrap IS produced: a SpanDoc with a picture item sized to the
            # genuinely decoded image, so downstream span consumers see the
            # same structure the reference builds before OCR runs.
            out["status"] = "needs_ocr"
            out["error"] = "image input requires OCR (not in contract)"
            try:
                from .model import SpanDoc
                from .ops.png import decode_png, is_png

                if is_png(bytes(blob)):
                    w, h, _c, _payload = decode_png(bytes(blob))
                    doc = SpanDoc("image")
                    pic = doc.add_picture()
                    pic.prov = (1, 0.0, 0.0, float(w), float(h))
                    doc.pages[1] = (float(w), float(h))
                    out["spans"] = _doc_to_spans(doc)
                    out["n_items"] = len(doc.items)
            except Exception:
                pass  # undecodable image keeps the bare needs_ocr row
        else:
            routed = _doc_backend(content_type, bytes(blob), url, base_uri_mode)
            if routed is None:
                out["status"] = "skipped"
                out["error"] = "unsupported content_type"
            else:
                from .serialize import to_itxt, to_markdown_with_spans

                doc, filename, mimetype, itxt_width, md_kwargs = routed
                # byte-identical to to_markdown (golden-pinned) + per-item
                # char offsets for the spans column
                md, offsets = to_markdown_with_spans(doc, **md_kwargs)
                doc_json = None
                if with_doc_json:
                    from .serialize_json import to_docling_json

                    kw = {} if mimetype is None else {"mimetype": mimetype}
                    doc_json = to_docling_json(doc, filename, bytes(blob), **kw)
                doctags = None
                if with_doctags:
                    from .serialize_doctags import to_doctags

                    doctags = to_doctags(doc)
                out.update(
                    status="success",
                    extracted_text=md,
                    itxt=to_itxt(doc, itxt_width),
                    spans=_doc_to_spans(doc, offsets),
                    n_items=len(doc.items),
                    n_chars=len(md),
                    doc_json=doc_json,
                    doctags=doctags,
                )
    except Exception as e:  # noqa: BLE001 — containment by design
        out["status"] = "failure"
        out["error"] = f"{type(e).__name__}: {e}"[:1000]
    out["proc_ms"] = (time.perf_counter() - t0) * 1e3
    return out


def make_extract_udf(base_uri_mode: str = "none", doc_timeout_s: float = 60.0,
                     with_doc_json: bool = False, with_doctags: bool = False,
                     with_structure: bool = True, pdf_password: str = ""):
    """Build the mapInPandas function. ``base_uri_mode``: "url" resolves
    relative hrefs against the row's url; "none" mirrors the reference's
    golden-generation default (source_uri=None). ``with_doc_json`` adds the
    full DoclingDocument JSON per row (the reference's save format) — off by
    default since it roughly doubles output bytes. ``with_doctags`` adds the
    DocTags serialization (reference OutputFormat.DOCTAGS). ``with_structure``
    gates the PDF structural labeler (off = text-only fast path)."""

    def extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_in in batches:
            rows = []
            for r in pdf_in.itertuples(index=False):
                res = _extract_one(
                    r.url, r.html, r.content_type, base_uri_mode, doc_timeout_s,
                    with_doc_json=with_doc_json,
                    with_doctags=with_doctags,
                    with_structure=with_structure,
                    pdf_password=pdf_password,
                )
                rows.append(
                    {
                        "url": r.url,
                        "warc_ts": r.warc_ts,
                        "lang": r.lang,
                        "doc_hash": r.doc_hash,
                        "content_type": r.content_type,
                        **res,
                    }
                )
            yield pd.DataFrame(rows)

    return extract_batches


def extract_pages(
    pages: DataFrame,
    base_uri_mode: str = "none",
    max_bytes: int = 64 * 1024 * 1024,
    shuffle_partitions: Optional[int] = None,
    salt: int = 0,
    with_doc_json: bool = False,
    with_doctags: bool = False,
    with_structure: bool = True,
    doc_timeout_s: float = 60.0,
    pdf_password: str = "",
) -> DataFrame:
    """Logical plan for one extraction pass (no side effects).

    ``shuffle_partitions``: explicit salted-repartition width (north rule:
    defuse skew from giant HTML blobs). ``None``/0 = trust the upstream
    partitioning — at real scale the scan already has thousands of file
    splits, so reshuffling multi-MB blobs here would be a gratuitous full
    shuffle; small local inputs should widen UPSTREAM of blob synthesis
    (see ops/corpus.synth_pages) or pass an explicit width. The runner
    computes the width once per run, not once per chunk.
    """
    df = with_content_type(pages)
    df = df.withColumn("doc_hash", F.sha2(F.col("html"), 256))
    oversize = F.length(F.col("html")) > F.lit(max_bytes)
    df = df.withColumn(
        "content_type", F.when(oversize, F.lit("oversize")).otherwise(F.col("content_type"))
    )
    if shuffle_partitions:
        df = _route_skew(df, shuffle_partitions, salt)
    udf = make_extract_udf(
        base_uri_mode=base_uri_mode,
        doc_timeout_s=doc_timeout_s,
        with_doc_json=with_doc_json,
        with_doctags=with_doctags,
        with_structure=with_structure,
        pdf_password=pdf_password,
    )
    cols = ["url", "warc_ts", "lang", "doc_hash", "content_type", "html"]
    return df.select(*cols).mapInPandas(udf, schema=EXTRACTED_SCHEMA)


# Blobs above this go to the dedicated big-row lane (SURVEY §4: length
# bucketing). A doc is an atomic unit of extraction work, so a 50 MB blob
# is an irreducible multi-second task — the defense is ISOLATION: it must
# never queue a pile of small docs behind it in the same task.
BIG_BLOB_BYTES = 4 * 1024 * 1024


def _route_skew(
    df: DataFrame,
    shuffle_partitions: int,
    salt: int,
    big_bytes: int = BIG_BLOB_BYTES,
) -> DataFrame:
    """Skew-defused repartition: small rows hash-spread across
    ``shuffle_partitions``; giant blobs (> ``big_bytes``) ride a separate
    lane partitioned on their own url hash, so no partition mixes a giant
    doc with a fair share of small ones — the stage wall becomes
    max(small-lane wall, slowest giant) instead of their sum. Exactly-once
    and ordering are unaffected (union of two disjoint filters)."""
    big = F.length(F.col("html")) > F.lit(big_bytes)
    small_lane = df.filter(~big).repartition(
        shuffle_partitions, F.xxhash64(F.col("url"), F.lit(salt))
    )
    big_lane = df.filter(big).repartition(
        shuffle_partitions, F.xxhash64(F.col("url"), F.lit(salt + 1))
    )
    return small_lane.unionByName(big_lane)


# -------------------------------------------------------------- runner w/ resume
@dataclass
class RunConfig:
    run_id: str
    output_path: str
    num_chunks: int = 8
    base_uri_mode: str = "none"
    max_bytes: int = 64 * 1024 * 1024
    shuffle_partitions: Optional[int] = None
    dedup_latest: bool = True
    pdf_password: str = ""  # standard-security-handler password (pdfx/crypt)
    # concurrent chunk jobs (driver-side thread pool + FAIR scheduler pool):
    # >1 keeps the cluster busy through each chunk's job tail while
    # preserving the per-chunk atomic commit + lineage append. 1 = the
    # round-2 serial behavior.
    max_concurrent_chunks: int = 4


class ExtractionRunner:
    """Chunked, resumable execution of ``extract_pages``.

    Layout:
        {output}/data/run_id={run}/chunk_id={k}/*.parquet   (atomic per chunk)
        {output}/lineage/*.parquet                           (append-only)
    """

    def __init__(self, spark: SparkSession, cfg: RunConfig):
        self.spark = spark
        self.cfg = cfg

    # -- lineage ------------------------------------------------------------
    def _lineage_path(self) -> str:
        return f"{self.cfg.output_path}/lineage"

    def committed_chunks(self) -> set[int]:
        try:
            rows = (
                self.spark.read.schema(LINEAGE_SCHEMA)
                .parquet(self._lineage_path())
                .filter(F.col("run_id") == self.cfg.run_id)
                .select("chunk_id")
                .collect()
            )
            return {r.chunk_id for r in rows}
        except Exception:
            return set()

    def _append_lineage(self, row: dict) -> None:
        df = self.spark.createDataFrame([row], schema=LINEAGE_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(self._lineage_path())

    # -- execution ------------------------------------------------------------
    def _run_chunk(self, pages: DataFrame, k: int, shuffle_partitions) -> dict:
        """One chunk job: extract → atomic parquet write → metrics row.
        Runs on a driver pool thread; Spark local properties are
        thread-local, so each chunk lands in the FAIR pool "chunks"."""
        cfg = self.cfg
        t0 = time.perf_counter()
        try:
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", "chunks"
            )
        except Exception:
            pass
        chunk = pages.filter(F.col("_chunk") == k).drop("_chunk")
        out = extract_pages(
            chunk,
            base_uri_mode=cfg.base_uri_mode,
            max_bytes=cfg.max_bytes,
            shuffle_partitions=shuffle_partitions,
            salt=k,
            pdf_password=cfg.pdf_password,
        )
        path = f"{cfg.output_path}/data/run_id={cfg.run_id}/chunk_id={k}"
        out.write.mode("overwrite").parquet(path)
        # post-commit metrics from the just-written files (cheap scan of
        # one chunk; avoids caching the UDF output twice)
        written = self.spark.read.parquet(path)
        agg = written.groupBy("status").agg(
            F.count("*").alias("n"),
            F.sum(F.coalesce("n_chars", F.lit(0))).alias("b"),
        ).collect()
        url_count = int(sum(r.n for r in agg))
        wall = time.perf_counter() - t0
        return {
            "run_id": cfg.run_id,
            "chunk_id": k,
            "num_chunks": cfg.num_chunks,
            "url_count": url_count,
            "byte_count": int(sum(r.b or 0 for r in agg)),
            "status_counts": {r.status: r.n for r in agg},
            "wall_sec": wall,
            "docs_per_sec": url_count / wall if wall > 0 else 0.0,
            "committed_at": datetime.now(timezone.utc),
        }

    def run(self, pages: DataFrame) -> dict:
        cfg = self.cfg
        if cfg.dedup_latest:
            pages = dedup_latest_crawl(pages)
        pages = pages.withColumn(
            "_chunk", F.pmod(F.xxhash64("url"), F.lit(cfg.num_chunks))
        )
        # decide the repartition width ONCE per run: widen small local
        # inputs to the session parallelism; at real scale the scan has
        # many file splits and no blob shuffle happens. inputFiles() is the
        # probe — a driver-side file listing, unlike df.rdd which builds a
        # whole RDD lineage (~100 ms per call)
        shuffle_partitions = cfg.shuffle_partitions
        if shuffle_partitions is None:
            try:
                default_par = self.spark.sparkContext.defaultParallelism
                if len(pages.inputFiles()) < default_par:
                    shuffle_partitions = default_par
            except Exception:
                shuffle_partitions = None
        done = self.committed_chunks()
        stats = {"chunks_total": cfg.num_chunks, "chunks_skipped": len(done)}
        pending = [k for k in range(cfg.num_chunks) if k not in done]
        workers = max(1, int(cfg.max_concurrent_chunks))
        if workers == 1 or len(pending) <= 1:
            for k in pending:
                self._append_lineage(
                    self._run_chunk(pages, k, shuffle_partitions)
                )
            return stats
        # bounded driver pool: chunk k's job tail overlaps chunk k+1's ramp.
        # The lineage append stays on the SUBMITTING thread under a lock —
        # an append only happens after its chunk's atomic write returned,
        # so a kill mid-run still leaves exactly the committed prefix set
        # (resume semantics identical to the serial path).
        import threading
        from concurrent.futures import ThreadPoolExecutor

        lineage_lock = threading.Lock()

        def submit(k: int) -> None:
            row = self._run_chunk(pages, k, shuffle_partitions)
            with lineage_lock:
                self._append_lineage(row)

        with ThreadPoolExecutor(max_workers=workers) as pool:
            futures = [pool.submit(submit, k) for k in pending]
            for f in futures:
                f.result()  # propagate the first failure
        return stats

    def read_output(self) -> DataFrame:
        return self.spark.read.parquet(
            f"{self.cfg.output_path}/data/run_id={self.cfg.run_id}"
        )


def tuned_session(
    master: str = "local[*]",
    shuffle_partitions: int = 32,
    arrow_batch: int = 128,
    app: str = "docling-spark",
) -> SparkSession:
    """Session defaults sized for blob-heavy rows (SURVEY §4: keep Arrow
    batches small, AQE on)."""
    return (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.driver.memory", "8g")  # local mode: the driver JVM IS
        # the executor; the 1g default GC-thrashes on blob-heavy shuffles
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.scheduler.mode", "FAIR")  # concurrent chunk jobs
        # share executors fairly across concurrent chunk jobs
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # JVM↔Python worker transport over unix domain sockets (Spark 4):
        # shaves the per-task handshake on every Arrow UDF round trip
        .config("spark.python.unix.domain.socket.enabled", "true")
        .getOrCreate()
    )
