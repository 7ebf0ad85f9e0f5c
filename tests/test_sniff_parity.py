"""One content-type law: ``job.sniff_content_type`` (the Python twin used by
the convert CLI and the web demo) against ``job.with_content_type`` (the JVM
dispatch column of the Spark job), row by row over one DataFrame.

Every row also carries the content type it must get, so the table below
documents the law: magic bytes first, then the url extension, then the
bounded 8 KB head / 64 KB zip head+tail probes, then the html and csv
content sniffs, else ``other``."""

from __future__ import annotations

import datetime
import gzip

import pytest
from pyspark.sql import SparkSession

from docling_spark.job import sniff_content_type, with_content_type
from docling_spark.ops.corpus import (
    synth_docx_bytes,
    synth_ofd_bytes,
    synth_pdf_bytes,
    synth_uspto_bytes,
    synth_xlsx_bytes,
)
from docling_spark.schema import PAGES_SCHEMA

PAD = b"A" * (10 * 1024 * 1024)
ZIP = b"PK\x03\x04"
JATS = (
    b'<?xml version="1.0"?>\n<!DOCTYPE article PUBLIC "-//NLM//DTD JATS '
    b'(Z39.96) Journal Publishing DTD v1.2 20190208//EN" '
    b'"JATS-journalpublishing1.dtd">\n<article><front/></article>'
)

# (url, blob, content type both laws must give)
ROWS = [
    # magic-first families and their extensions
    ("https://t/a.pdf", synth_pdf_bytes(1, "one two"), "pdf"),
    ("https://t/noext", b"%PDF-1.7\n", "pdf"),
    ("https://t/notpdf.pdf", b"hello", "pdf"),
    ("https://t/A.PDF?download=1#page", b"x", "pdf"),
    ("https://t/p.html", b"plain words", "html"),
    ("https://t/p.HTM?x=1#frag", b"", "html"),
    ("https://t/p.xhtml", b"a,b\n1,2\n", "html"),
    ("https://t/d.csv", b"just text", "csv"),
    ("https://t/sub", b"WEBVTT\n\n00:00.000 --> 00:01.000\nhi\n", "vtt"),
    ("https://t/s.vtt", b"no magic", "vtt"),
    ("https://t/r.md", b"# hi", "md"),
    ("https://t/r.markdown", b"<html>", "md"),
    ("https://t/g.adoc", b"= T", "asciidoc"),
    ("https://t/g.asc", b"= T", "asciidoc"),
    ("https://t/g.asciidoc", b"= T", "asciidoc"),
    ("https://t/article", JATS, "jats"),
    ("https://t/archive", b"<x>JATS-archive</x>", "jats"),
    # .nxml is no dispatch extension: without a DTD marker it is `other`
    ("https://t/article.nxml", b"<article><p>text</p></article>", "other"),
    ("https://t/patent", synth_uspto_bytes(3, "claims text"), "uspto"),
    ("https://t/aps.txt", b"PATN\nWKU  057006474\n", "uspto"),
    ("https://t/grant", b"<!DOCTYPE us-grant-025>", "uspto"),
    ("https://t/grant2", b"<!DOCTYPE US-Grant-025>", "uspto"),
    ("https://t/pap", b"<patent-application-publication> pap-v1", "uspto"),
    ("https://t/pap-only", b"<x> pap-v1 </x>", "other"),
    ("https://t/o.ofd", b"not a zip", "ofd"),
    ("https://t/ofd", synth_ofd_bytes(4, "ofd words"), "ofd"),
    ("https://t/w.docx", b"x", "docx"),
    ("https://t/word", synth_docx_bytes(5, "docx words"), "docx"),
    ("https://t/s.xlsm", b"x", "xlsx"),
    ("https://t/sheet", synth_xlsx_bytes(6), "xlsx"),
    ("https://t/p.potx", b"x", "pptx"),
    ("https://t/deck", ZIP + b"ppt/presentation.xml", "pptx"),
    ("https://t/books", gzip.compress(b"x", mtime=0), "mets_gbs"),
    ("https://t/b.tar.gz", gzip.compress(b"<html>", mtime=0), "mets_gbs"),
    ("https://t/i1", b"\x89PNG\r\n\x1a\n", "image"),
    ("https://t/i2", b"\xff\xd8\xff\xe0", "image"),
    ("https://t/i3", b"GIF89a", "image"),
    ("https://t/i4", b"II*\x00rest", "image"),
    ("https://t/i5", b"MM\x00*rest", "image"),
    ("https://t/i6", b"BMxxxx", "image"),
    ("https://t/i7", b"RIFF0000WEBPVP8 ", "image"),
    ("https://t/i8.JPEG", b"", "image"),
    ("https://t/a1", b"RIFF0000WAVEfmt ", "audio"),
    ("https://t/a2", b"ID3\x04\x00", "audio"),
    ("https://t/a3.ogg", b"OggS", "audio"),
    (
        "https://t/doc",
        b'  {"schema_name": "DoclingDocument", "version": "1.7.0"}',
        "docling_json",
    ),
    ("https://t/doc2", b'{"schema_name": "Other"}', "other"),
    ("https://t/a.txt", b"<doctag><text>hi</text></doctag>", "doctags"),
    ("https://t/dt", b"\n <doctag>", "doctags"),
    ("https://t/bin", b"\x00\x01\x02 not anything", "other"),
    ("https://t/empty", b"", "other"),
    ("https://t/none", None, "other"),
    ("https://t/none.html", None, "html"),
    # html sniff: leading comments / script, case, whitespace
    (
        "https://t/h1",
        b"<!-- a --><!-- b -->\n<script>var a = 1;</script>\n<html><p>x</p>",
        "html",
    ),
    ("https://t/h2", b"\r\n\t<!DOCTYPE HTML PUBLIC>", "html"),
    ("https://t/h3", b"<HEAD><title>t</title>", "html"),
    ("https://t/h4", b"\x0b\x0c<body>", "html"),
    # one optional script group, but its lazy body may span two scripts
    ("https://t/h5", b"<script>a</script><script>b</script><html>", "html"),
    # Java's \s and (?i) are ASCII-only: NBSP, a BOM and the long s do not count
    ("https://t/h6", b"\xc2\xa0<html>", "other"),
    ("https://t/h7", b"\xef\xbb\xbf<html>", "other"),
    ("https://t/h8", "<\u017fcript>x</\u017fcript><html>".encode(), "other"),
    ("https://t/h9", b"<p>a,b\nc,d</p>", "csv"),
    ("https://t/h10", b"<html><td>a,b\nc,d</td></html>", "html"),
    # csv sniff
    ("https://t/data1", b"a,b,c\n1,2,3\n4,5,6\n", "csv"),
    ("https://t/data2", b"x;y\r\n1;2\r\n", "csv"),
    ("https://t/data3", b"p|q\r1|2\r3|4\r", "csv"),
    ("https://t/data4", b"k\tv\n\n\n1\t2\n", "csv"),
    ("https://t/data5", b"a,b\n1,2\n3,4\n5,6\n7,8\n9,10,11\n", "csv"),
    ("https://t/data6", b"a,b;c\n1,2;3;4\n", "csv"),
    ("https://t/prose", b"Hello, world, again\nsecond line here\n", "other"),
    ("https://t/oneline", b"a,b,c", "other"),
    ("https://t/plain", b"Just some plain prose without structure.", "other"),
    # the 8 KB head cuts the third line: it is dropped only when the blob
    # is longer than the window
    ("https://t/cut", b"a,b\nc,d\n" + b"e" * 9000, "csv"),
    ("https://t/cut-exact", b"a,b\nc,d\n" + b"e" * (8192 - 8), "other"),
    ("https://t/cut-plus1", b"a,b\nc,d\n" + b"e" * (8193 - 8), "csv"),
    ("https://t/cut-many", b"1,2,3\n" * 2000, "csv"),
    # non-UTF-8 bytes: Java and Python both decode with U+FFFD replacement
    ("https://t/u1", b"a,b\xff\n1,2\n", "csv"),
    ("https://t/u2", b"\xe9t\xe9;\xe0\n1;2\n", "csv"),
    ("https://t/u3", b"<html>\xff\xfe\x00", "html"),
    ("https://t/u4", b"\xff\xfe<\x00h\x00t\x00m\x00l\x00>\x00", "other"),
    ("https://t/u5", b"\xf0\x80<html>", "other"),
    (
        "https://t/u6",
        b"x;y\n1;2\n" + b"z" * (8191 - 8) + b"\xc3\xa9;\n",
        "csv",
    ),
    # url extension: Java's `$` also matches before one final line
    # terminator, and `.` never crosses one
    ("https://t/a.pdf\n", b"<p>hi", "pdf"),
    ("https://t/a.pdf\r", b"<p>hi", "pdf"),
    ("https://t/a.pdf\r\n", b"<p>hi", "pdf"),
    ("https://t/a.pdf\u2028", b"<p>hi", "pdf"),
    ("https://t/a.pdf\x85", b"<p>hi", "pdf"),
    ("https://t/a.pdf ", b"<p>hi", "other"),
    ("https://t/a.pdf\n\n", b"<p>hi", "other"),
    ("https://t/x.csv?q=a\nb", b"hello", "other"),
    ("https://t/x.csv?q=a b", b"hello", "csv"),
    ("https://t/v1.2/page", b"hello", "other"),
    ("https://t/archive.tar.gz", b"hello", "other"),
    # magic vs extension conflicts
    ("https://t/lies.html", b"%PDF-1.4", "pdf"),
    ("https://t/x.csv", b"%PDF-1.4", "pdf"),
    ("https://t/png.html", b"\x89PNG\r\n", "html"),
    ("https://t/sub.md", b"WEBVTT\n", "vtt"),
    ("https://t/patent.csv", b"PATN\n", "csv"),
    ("https://t/j.md", JATS, "md"),
    ("https://t/gz.docx", gzip.compress(b"x", mtime=0), "docx"),
    ("https://t/zip.pptx", ZIP + b"word/document.xml", "pptx"),
    ("https://t/ofd.docx", ZIP + b"OFD.xml word/document.xml", "ofd"),
    ("https://t/j.ofd", JATS, "jats"),
    ("https://t/doc.html", b'{"schema_name": "DoclingDocument"}', "html"),
    ("https://t/png.txt", b"\x89PNG\r\n", "image"),
    # the rows where the old web-demo sniffer disagreed with the job
    ("https://t/table", b"K,V\nk1,v1\n", "csv"),
    ("https://t/x.xlsx", ZIP + b"word/document.xml", "xlsx"),
    ("https://t/x.png", b"not png bytes", "image"),
    ("https://t/prose2", b"It was a dark and stormy night.", "other"),
    # bounded probes: markers past the 8 KB head do not count; zip members
    # count in the first or the last 64 KB only
    ("https://t/deep-jats", PAD + b"JATS-journalpublishing", "other"),
    ("https://t/deep-uspto", PAD + b"us-patent-grant-v4", "other"),
    ("https://t/deep-zip", ZIP + PAD + b"word/document.xml", "docx"),
    ("https://t/tail-ofd", ZIP + b"B" * (1024 * 1024) + b"OFD.xml", "ofd"),
    (
        "https://t/middle-only",
        ZIP + b"C" * (80 * 1024) + b"xl/workbook.xml" + b"D" * (1024 * 1024),
        "other",
    ),
    (
        "https://t/head-edge",
        ZIP + b"C" * (65536 - 4 - 7) + b"OFD.xml" + b"D" * 65536,
        "ofd",
    ),
    (
        "https://t/head-past",
        ZIP + b"C" * (65536 - 4 - 6) + b"OFD.xml" + b"D" * 65536,
        "other",
    ),
    ("https://t/jats-edge", b"C" * (8192 - 12) + b"JATS-archive" + b"D", "jats"),
    ("https://t/jats-past", b"C" * (8192 - 11) + b"JATS-archive" + b"D", "other"),
]

ALL_TYPES = {
    "pdf", "html", "csv", "vtt", "md", "asciidoc", "jats", "uspto", "ofd",
    "docx", "xlsx", "pptx", "mets_gbs", "image", "audio", "docling_json",
    "doctags", "other",
}


@pytest.fixture(scope="module")
def spark():
    return (
        SparkSession.builder.master("local[2]")
        .appName("sniff-parity-test")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )


def test_rows_cover_every_content_type():
    assert {want for _, _, want in ROWS} == ALL_TYPES


def test_jvm_column_matches_python_twin(spark):
    ts = datetime.datetime(2024, 1, 1)
    # the row index rides in the `text` column so urls may repeat
    df = spark.createDataFrame(
        [(url, ts, blob, str(i), None) for i, (url, blob, _) in enumerate(ROWS)],
        schema=PAGES_SCHEMA,
    )
    jvm = {
        int(r.text): r.content_type
        for r in with_content_type(df).select("text", "content_type").collect()
    }
    assert len(jvm) == len(ROWS)
    got = [
        (url, want, jvm[i], sniff_content_type(url, blob))
        for i, (url, blob, want) in enumerate(ROWS)
    ]
    assert [g for g in got if not g[1] == g[2] == g[3]] == []
