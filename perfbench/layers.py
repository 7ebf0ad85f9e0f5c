"""Per-layer measurements of the traced run.

``inprocess_pass`` runs ``job._extract_one`` in the benchmark process over
a workload's documents while the public functions of each layer are
wrapped, from this file, in spans: the program's own call order then gives
``job._extract_one`` -> ``job._doc_backend`` -> ``HtmlExtractor.convert`` ->
``parse_html``, then ``to_markdown_with_spans``, ``to_itxt`` and
``job._doc_to_spans``; and for PDFs ``PdfDocument`` (open) ->
``PdfPage.text_cells`` -> ``page_cells_to_text`` (order) ->
``doc_structured_blocks`` (structure). The wrappers are removed afterwards;
no program file is changed.

``span_overhead_share`` is what those spans cost. ``ops_stages`` times each curation stage of ``pipeline_e2e`` alone over a
persisted extraction, and ``dispatch_s`` the JVM content-type sniff plus the
``sha2`` document hash.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

from spans import Tracer, self_times, totals_by_name


@contextmanager
def _wrapped(tracer: Tracer, trace_id: list[str]):
    """Wrap each layer entry point in a span; ``trace_id[0]`` is the url of
    the document being extracted."""
    from docling_spark import job, serialize
    from docling_spark.htmlx import extract as hx
    from docling_spark.pdfx import layout, parser, structure

    saved = []

    def patch(owner, attr: str, name_of) -> None:
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))

        def wrapper(*args, **kwargs):
            with tracer.span(name_of(args), trace_id[0]):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)

    const = lambda name: (lambda args: name)  # noqa: E731
    patch(job, "_extract_one", const("job._extract_one"))
    patch(job, "_doc_backend", lambda args: f"backends.{args[0]}")
    patch(job, "_doc_to_spans", const("job.spans"))
    patch(hx.HtmlExtractor, "convert", const("htmlx.extract.convert"))
    patch(hx, "parse_html", const("htmlx.dom.parse"))
    patch(serialize, "to_markdown_with_spans", const("serialize.md"))
    patch(serialize, "to_itxt", const("serialize.itxt"))
    patch(parser.PdfPage, "text_cells", const("pdfx.cells"))
    patch(layout, "page_cells_to_text", const("pdfx.layout.order"))
    patch(structure, "doc_structured_blocks", const("pdfx.structure"))
    orig_init = parser.PdfDocument.__init__

    def init(self, *args, **kwargs):
        with tracer.span("pdfx.parser.open", trace_id[0]):
            orig_init(self, *args, **kwargs)

    parser.PdfDocument.__init__ = init
    saved.append((parser.PdfDocument, "__init__", orig_init))
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def inprocess_pass(docs: list[tuple[str, bytes, str]], tracer: Tracer) -> dict:
    """Extract ``(url, blob, content_type)`` documents one by one under
    tracing. Returns the in-process per-layer metrics."""
    from docling_spark import job

    trace_id = [""]
    items, html_bytes = [], 0
    with _wrapped(tracer, trace_id):
        for url, blob, ctype in docs:
            trace_id[0] = url
            res = job._extract_one(url, blob, ctype, "none", 60.0)
            if ctype == "html":
                items.append(res["n_items"] or 0)
                html_bytes += len(blob)
    spans = tracer.spans
    by_name = totals_by_name(spans)
    selfs = self_times(spans)
    n_pages = int(by_name.get("pdfx.cells", {}).get("count", 0))

    def total(name: str) -> float:
        return by_name.get(name, {}).get("total_s", 0.0)

    def per(name: str, n: float, scale: float = 1e3) -> float:
        return total(name) * scale / n if n else 0.0

    roots = [s for s in spans if s.name == "job._extract_one"]
    pdf_roots = {s.parent for s in spans if s.name == "pdfx.parser.open"}
    root_ms = [s.dur * 1e3 for s in roots]
    n_html = len(items)
    n_pdf = int(by_name.get("pdfx.parser.open", {}).get("count", 0))
    n_spandoc = int(by_name.get("serialize.md", {}).get("count", 0))
    parse_s = total("htmlx.dom.parse")
    out = {
        "htmlx.dom.parse_ms_per_doc": per("htmlx.dom.parse", n_html),
        "htmlx.dom.parse_mb_per_s": html_bytes / 1e6 / parse_s if parse_s else 0.0,
        "htmlx.extract.walk_ms_per_doc": (
            by_name.get("htmlx.extract.convert", {}).get("self_s", 0.0) * 1e3 / n_html
            if n_html
            else 0.0
        ),
        "htmlx.extract.items_per_doc": statistics.mean(items) if items else 0.0,
        "serialize.md_ms_per_doc": per("serialize.md", n_spandoc),
        "serialize.itxt_ms_per_doc": per("serialize.itxt", n_spandoc),
        "job.spans_ms_per_doc": per("job.spans", n_spandoc),
        "job.extract_one_ms_p50": statistics.median(root_ms),
        "job.extract_one_ms_p99": statistics.quantiles(root_ms, n=100)[98]
        if len(root_ms) >= 2
        else root_ms[0],
        "job.inproc_docs_per_s_core": len(roots) / sum(s.dur for s in roots),
        "job.extract_one_uncovered_share": sum(selfs[s.span_id] for s in roots)
        / sum(s.dur for s in roots),
        "pdfx.parser.open_ms_per_doc": per("pdfx.parser.open", n_pdf),
        "pdfx.cells_ms_per_page": per("pdfx.cells", n_pages),
        "pdfx.layout.order_ms_per_page": per("pdfx.layout.order", n_pages),
        "pdfx.structure.ms_per_doc": per("pdfx.structure", n_pdf),
        "pdfx.pages_per_s_core": n_pages / sum(s.dur for s in roots if s.span_id in pdf_roots)
        if n_pages
        else 0.0,
    }
    for kind in ("md", "csv", "docx", "xlsx"):
        out[f"backends.{kind}_ms_per_doc"] = per(
            f"backends.{kind}", by_name.get(f"backends.{kind}", {}).get("count", 0)
        )
    return out


def span_overhead_share(docs: list[tuple[str, bytes, str]], rounds: int = 2) -> float:
    """In-process cost of the spans: each document is extracted ``rounds``
    times without and with the wrappers, alternately; the fastest of each
    mode is summed over the documents. Returns traced / plain - 1."""
    from docling_spark import job

    scratch, trace_id = Tracer(), [""]
    plain = traced = 0.0
    for url, blob, ctype in docs:
        trace_id[0] = url
        best = [float("inf"), float("inf")]
        for _ in range(rounds):
            for i in (0, 1):
                if i:
                    with _wrapped(scratch, trace_id):
                        t0 = time.perf_counter()
                        job._extract_one(url, blob, ctype, "none", 60.0)
                        best[i] = min(best[i], time.perf_counter() - t0)
                else:
                    t0 = time.perf_counter()
                    job._extract_one(url, blob, ctype, "none", 60.0)
                    best[i] = min(best[i], time.perf_counter() - t0)
        plain += best[0]
        traced += best[1]
    return traced / plain - 1


def dispatch_s(spark, input_path: str, repeats: int = 3) -> float:
    """Median wall of the JVM dispatch column plus the ``sha2`` hash alone."""
    from pyspark.sql import functions as F

    from docling_spark.job import with_content_type

    walls = []
    for _ in range(repeats):
        df = with_content_type(spark.read.parquet(input_path))
        df = df.select("content_type", F.sha2(F.col("html"), 256).alias("doc_hash"))
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def ops_stages(spark, extracted, docs_path: str, true_pairs) -> dict:
    """Each ``pipeline_e2e`` curation stage materialized alone over the
    persisted ``extracted`` frame (doc_id, text, lang, spans)."""
    from pyspark.sql import functions as F

    from docling_spark.ops import cc, decontam, dedup, sampling
    from docling_spark.ops.chunker import pack_stats
    from docling_spark.ops.webtext import gopher_filter, repetition_signals

    ex = extracted.persist()
    ex.count()

    def timed(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    out = {}
    out["ops.webtext.gopher_s"] = timed(
        gopher_filter(repetition_signals(ex.select("doc_id", F.col("text").alias("wtext"))))
    )
    pairs = dedup.lsh_candidate_pairs(ex, k=8, seeds=[1, 2, 3, 4], band_size=2).persist()
    t0 = time.perf_counter()
    cand = pairs.select("doc_a", "doc_b").collect()
    out["ops.dedup.lsh_pairs_s"] = time.perf_counter() - t0
    out["ops.cc.clusters_s"] = timed(cc.dedup_assignments(ex, pairs))
    bench = decontam.benchmark_grams(
        spark.read.parquet(docs_path).filter(F.col("doc_id") % 37 == 0)
    )
    out["ops.decontam_s"] = timed(decontam.decontaminate(ex, bench))
    out["ops.sampling_s"] = timed(
        sampling.assign_splits(
            sampling.stratified_rates(
                ex.select("doc_id", "lang"),
                "doc_id",
                "lang",
                sampling.mix_rates(spark, {"en": 1.0, "de": 0.5, "fr": 0.25}),
            ),
            "doc_id",
        )
    )
    out["ops.chunker.pack_s"] = timed(pack_stats(ex, budget_tokens=16, key_cols=("doc_id",)))
    found = {tuple(sorted((r.doc_a, r.doc_b))) for r in cand}
    out["ops.lsh.candidate_pairs"] = float(len(found))
    out["ops.lsh.true_pair_ratio"] = len(found & true_pairs) / len(found) if found else 0.0
    pairs.unpersist()
    ex.unpersist()
    return out
