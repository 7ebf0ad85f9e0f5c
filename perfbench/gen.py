"""Seeded inputs for the benchmark workloads.

Every generated document is a pure function of a *document key*; the
``--seed`` only chooses which keys a run's input table holds, their url
variants, crawl duplicates, order and file split. The key universe is
finite, so ``data/digests.json.gz`` can hold the expected output digest of
every document any seed can draw (see ``record_digests.py``).

* ``cc_html`` keys: ``0 .. CC_NORMAL_KEYS-1`` are heavy-tailed HTML pages
  (stratum ``key // CC_REPLICAS`` fixes the page size, so every seed draws
  the same size histogram with different content),
  ``CC_BIG_BASE + i`` are pages above ``job.BIG_BLOB_BYTES`` and
  ``CC_PDF_BASE + i`` are multi-page digital PDFs and ``CC_DOC_BASE + i``
  md/csv/docx/xlsx files. The workload takes its name from the page
  features it has (boilerplate, legacy charsets, recrawls, a heavy size
  tail); its proportions are assumptions, not measured crawl statistics
  (see the constants below).
* ``tiny_mixed`` keys are ``(kind, doc_id)``: the ``ops.corpus`` template
  pages and small pdf/md/csv/docx/xlsx builders over ``documents.parquet``.
"""

from __future__ import annotations

import random
import statistics
import zlib
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from pathlib import Path

DATA_DIR = Path(__file__).resolve().parent / "data"
DOCS_PATH = DATA_DIR / "documents.parquet"

# ------------------------------------------------------------------ cc_html
# The shares and sizes marked ASSUMED are chosen for the benchmark, not taken
# from measured crawl statistics; no source fixes them. They were set so that
# each feature the workload should exercise shows up in every input of about
# a hundred pages, which over-weights the rare ones: a web crawl is mostly
# UTF-8, and non-HTML documents and pages above 4 MiB are far rarer than here.
# Replace them with cited per-crawl figures (charset, MIME type, page size)
# before reading cc_html as representative of a crawl.
CC_STRATA = 100  # normal pages per input, one per size stratum
CC_REPLICAS = 4  # keys per stratum (the seed picks one)
CC_NORMAL_KEYS = CC_STRATA * CC_REPLICAS
CC_MEDIAN_BYTES = 24_000  # ASSUMED: median page of a few tens of KB
CC_SIGMA = 1.45  # ASSUMED log-normal shape: tail to ~1 MB within 100 strata
CC_MIN_BYTES = 4_000
CC_MAX_BYTES = 1_000_000  # ASSUMED: the page-size tail ends near 1 MB
CC_SCRIPT_SHARE = 0.35  # ASSUMED inline script/style share of a page's bytes
CC_BIG_SCRIPT_SHARE = 0.75  # ASSUMED: big pages carry a large embedded state blob
CC_BIG_BASE = 100_000
CC_BIG_KEYS = 4
CC_BIG_PER_INPUT = 1  # ASSUMED: one straggler per input
CC_BIG_BYTES = 4_400_000  # just above job.BIG_BLOB_BYTES (4 MiB)
CC_PDF_BASE = 200_000
CC_PDF_KEYS = 24
CC_PDF_PER_INPUT = 6  # ASSUMED
CC_DOC_BASE = 300_000  # md/csv/docx/xlsx files among the pages
CC_DOC_KINDS = ("md", "csv", "docx", "xlsx")
CC_DOC_KEYS = 32
CC_DOC_PER_KIND = 2  # ASSUMED, per input
CC_DUP_EVERY = 10  # ASSUMED: every 10th page slot is crawled twice (older crawl differs)
CC_LEGACY_CHARSET_SHARE = 0.25  # ASSUMED: windows-1252 / iso-8859-1 share

# --------------------------------------------------------------- tiny_mixed
TINY_HTML_DOCS = 2000  # distinct template docs; each gets 1-3 url variants
TINY_POOL = 1000  # non-html kinds draw doc_ids below this
TINY_KINDS = {  # kind -> rows per input; ASSUMED: each kind appears in every input
    "pdf": 240,
    "pdf_structured": 160,
    "md": 200,
    "csv": 160,
    "docx": 120,
    "xlsx": 80,
}
TINY_SUFFIX = {
    "html": ".html",
    "pdf": ".pdf",
    "pdf_structured": ".pdf",
    "md": ".md",
    "csv": "",
    "docx": ".docx",
    "xlsx": ".xlsx",
}

T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
_LATIN_WORDS = ["café", "naïve", "Zürich", "façade", "déjà", "señal", "crème", "öffnen"]


class Rng:
    """Deterministic draws built on ``random.Random.random`` only, whose
    stream is stable across CPython versions (``randrange``/``choice`` are
    not guaranteed to be)."""

    def __init__(self, seed: int):
        self._r = random.Random(seed)

    def random(self) -> float:
        return self._r.random()

    def below(self, n: int) -> int:
        return min(int(self._r.random() * n), n - 1)

    def pick(self, seq):
        return seq[self.below(len(seq))]

    def shuffle(self, items: list) -> None:
        for i in range(len(items) - 1, 0, -1):
            j = self.below(i + 1)
            items[i], items[j] = items[j], items[i]


def load_documents(path: Path = DOCS_PATH) -> list[dict]:
    """The ``documents`` source rows, sorted by doc_id. A missing file is a
    hard error: the benchmark never runs on a silently smaller corpus."""
    import pyarrow.parquet as pq

    if not path.is_file():
        raise FileNotFoundError(f"benchmark corpus missing: {path}")
    rows = pq.read_table(path, columns=["doc_id", "text", "lang"]).to_pylist()
    rows.sort(key=lambda r: r["doc_id"])
    if len(rows) < TINY_HTML_DOCS:
        raise ValueError(f"{path}: {len(rows)} documents, need {TINY_HTML_DOCS}")
    return rows


# ------------------------------------------------------------ cc_html pages
def cc_target_bytes(key: int) -> int:
    """Size of a normal page: the log-normal quantile of its stratum."""
    q = (key // CC_REPLICAS + 0.5) / CC_STRATA
    z = statistics.NormalDist().inv_cdf(q)
    size = CC_MEDIAN_BYTES * 2.718281828459045 ** (CC_SIGMA * z)
    return int(min(CC_MAX_BYTES, max(CC_MIN_BYTES, size)))


class _Words:
    def __init__(self, rng: Rng, docs: list[dict], latin: bool):
        self.rng, self.docs, self.latin = rng, docs, latin

    def sentence(self, n: int) -> str:
        words = self.rng.pick(self.docs)["text"].split(" ")
        start = self.rng.below(max(1, len(words) - n))
        out = words[start : start + n]
        if self.latin and self.rng.random() < 0.5:
            out.insert(self.rng.below(len(out) + 1), self.rng.pick(_LATIN_WORDS))
        return " ".join(out)


def _cc_block(w: _Words, rng: Rng, n: int) -> str:
    """One content block of a page body (round-robin over block kinds)."""
    s = w.sentence
    kind = n % 8
    if kind == 0:
        return f'<h2 class="article__heading" id="s{n}">{s(4).title()}</h2>\n'
    if kind == 1:
        return (
            f'<p class="article__paragraph text-body">{s(14)} <b>{s(2)}</b> {s(10)} '
            f'<a class="link link--inline" href="/wiki/{s(1)}-{n}" rel="nofollow">{s(3)}</a>'
            f" {s(12)} <i>{s(2)}</i> <em>{s(1)}</em> {s(11)}.</p>\n"
        )
    if kind == 2:
        items = "".join(
            f'<li class="list__item">{s(5)}<ul class="list list--nested">'
            f'<li class="list__item">{s(4)}</li><li class="list__item">'
            f"<strong>{s(2)}</strong> {s(4)}</li></ul></li>"
            if i == 1
            else f'<li class="list__item">{s(7)}</li>'
            for i in range(3 + rng.below(3))
        )
        tag = "ol" if rng.random() < 0.4 else "ul"
        return f'<{tag} class="list">{items}</{tag}>\n'
    if kind == 3:
        rows = "".join(
            f'<tr class="table__row"><td class="table__cell">{s(2)}</td>'
            f'<td class="table__cell">{s(1)}</td>'
            f'<td class="table__cell table__cell--num">{rng.below(1000)}</td></tr>'
            for _ in range(2 + rng.below(4))
        )
        return (
            f'<table class="table table--striped"><tr><th colspan="2">{s(2)}</th>'
            f"<th>{s(1)}</th></tr>{rows}</table>\n"
        )
    if kind == 4:
        return (
            f'<h3 class="article__subheading">{s(3)}</h3>\n<div class="card">'
            f'<div class="card__body"><p class="card__text">{s(18)}</p></div></div>\n'
        )
    if kind == 5:
        return (
            f'<div class="promo" hidden><p>{s(6)}</p></div><aside class="related">'
            f'<ul class="related__list"><li><a href="/r/{n}">{s(3)}</a></li></ul></aside>\n'
        )
    if kind == 6:
        return f"<h4>{s(2)}</h4>\n<p>{s(20)} <code>{s(1)}</code> {s(8)}</p>\n"
    return (
        f'<div class="grid__row"><div class="grid__col grid__col--8">'
        f'<p class="text-body">{s(16)}</p></div></div>\n'
    )


def _cc_script(rng: Rng, w: _Words, nbytes: int) -> str:
    """Inline script/JSON-state boilerplate of about ``nbytes``."""
    parts, size, i = [], 0, 0
    while size < nbytes:
        p = (
            f'{{"id":{rng.below(10**6)},"slot":"ad-{i}","t":"{w.sentence(3)}",'
            f'"w":[{rng.below(999)},{rng.below(999)}],"ok":true}},'
        )
        parts.append(p)
        size += len(p)
        i += 1
    return "<script>window.__STATE__=[" + "".join(parts) + "{}];</script>\n"


def cc_html_page(key: int, docs: list[dict], target: int, script_share: float) -> bytes:
    """One boilerplate-heavy HTML page of about ``target`` bytes, ``script_share``
    of them inline script/style."""
    rng = Rng(key * 7919 + 1)
    legacy = rng.random() < CC_LEGACY_CHARSET_SHARE
    charset = rng.pick(["windows-1252", "iso-8859-1"]) if legacy else "utf-8"
    w = _Words(rng, docs, latin=True)
    title = w.sentence(5).title()
    css = "".join(f".c{i}{{margin:{i}px;color:#{i:06x}}}" for i in range(40))
    head = (
        f'<!DOCTYPE html>\n<html lang="en"><head><meta charset="{charset}">'
        f"<title>{title}</title>\n<style>{css}</style>\n"
        + _cc_script(rng, w, int(target * script_share))
        + "</head><body>\n"
    )
    nav = "".join(
        f'<li class="nav__item"><a class="nav__link" href="/s/{i}">{w.sentence(1)}</a></li>'
        for i in range(8)
    )
    top = (
        f'<header class="site-header"><nav class="nav"><ul class="nav__list">{nav}</ul>'
        f'</nav></header>\n<div id="wrap"><div id="main" class="article">'
        f'<h1 class="article__title">{title}</h1>\n'
    )
    tail = (
        '</div></div>\n<footer class="site-footer"><p>' + w.sentence(6)
        + '</p><nav><a href="/about">about</a></nav></footer>\n'
        + '<script async src="/static/app.js"></script>\n</body></html>\n'
    )
    parts = [head, top]
    size = len(head) + len(top) + len(tail)
    n = 0
    while size < target:
        b = _cc_block(w, rng, n)
        parts.append(b)
        size += len(b)
        n += 1
    parts.append(tail)
    return "".join(parts).encode(charset)


def cc_pdf(key: int, docs: list[dict]) -> bytes:
    """A 2-4 page digital PDF: Flate content streams, one- and two-column
    pages, an aligned-grid table and 18/14 pt headings over 10 pt body."""
    rng = Rng(key * 7919 + 2)
    w = _Words(rng, docs, latin=False)

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    def text(x: float, y: float, size: int, s: str) -> str:
        return f"BT /F1 {size} Tf {x} {y} Td ({esc(s)}) Tj ET"

    pages = []
    for p in range(2 + rng.below(3)):
        ops = []
        y = 740
        if p == 0:
            ops.append(text(72, y, 18, f"Report {key}"))
            y -= 40
        ops.append(text(72, y, 14, w.sentence(3).title()))
        y -= 28
        if p % 2 == 1:  # two columns
            for col_x in (72, 320):
                yy = y
                for _ in range(18):
                    ops.append(text(col_x, yy, 10, w.sentence(6)))
                    yy -= 12
            y -= 18 * 12 + 20
        else:
            for _ in range(14):
                ops.append(text(72, y, 10, w.sentence(10)))
                y -= 12
            y -= 20
        if p == 0:  # aligned grid table
            for r in range(4):
                for c, cx in enumerate((72, 200, 328)):
                    cell = "K" if r == 0 else f"{w.sentence(1)}{r}{c}"
                    ops.append(text(cx, y, 10, cell))
                y -= 14
        pages.append(zlib.compress("\n".join(ops).encode("ascii"), 6))

    n_pages = len(pages)
    objs: list[bytes] = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [%s] /Count %d >>"
        % (b" ".join(b"%d 0 R" % (4 + 2 * i) for i in range(n_pages)), n_pages),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>",
    ]
    for i, content in enumerate(pages):
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents %d 0 R >>" % (5 + 2 * i)
        )
        objs.append(
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
            % (len(content), content)
        )
    out = bytearray(b"%PDF-1.5\n")
    offsets = []
    for i, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1,
        xref_at,
    )
    return bytes(out)


def cc_doc(key: int, docs: list[dict]) -> bytes:
    """A small md/csv/docx/xlsx file (``ops.corpus`` builds the binary ones)."""
    from docling_spark.ops import corpus

    rng = Rng(key * 7919 + 3)
    w = _Words(rng, docs, latin=False)
    kind = CC_DOC_KINDS[key % len(CC_DOC_KINDS)]
    if kind == "md":
        items = "".join(f"- {w.sentence(4)}\n" for _ in range(4))
        return f"# Notes {key}\n\n{w.sentence(30)}\n\n{items}".encode()
    if kind == "csv":
        rows = "".join(f"{w.sentence(1)},{rng.below(1000)},{w.sentence(2)}\n" for _ in range(20))
        return ("name,value,comment\n" + rows).encode()
    if kind == "docx":
        return corpus.synth_docx_bytes(key, w.sentence(40))
    return corpus.synth_xlsx_bytes(key)


def cc_blob(key: int, docs: list[dict]) -> bytes:
    if key >= CC_DOC_BASE:
        return cc_doc(key, docs)
    if key >= CC_PDF_BASE:
        return cc_pdf(key, docs)
    if key >= CC_BIG_BASE:
        return cc_html_page(key, docs, CC_BIG_BYTES, CC_BIG_SCRIPT_SHARE)
    return cc_html_page(key, docs, cc_target_bytes(key), CC_SCRIPT_SHARE)


def cc_url(key: int) -> str:
    if key >= CC_DOC_BASE:
        ext = CC_DOC_KINDS[key % len(CC_DOC_KINDS)]
    elif key >= CC_PDF_BASE:
        ext = "pdf"
    else:
        ext = "html"
    return f"https://site{key % 37}.example.org/articles/p{key}.{ext}"


def cc_all_keys() -> list[int]:
    return (
        list(range(CC_NORMAL_KEYS))
        + [CC_BIG_BASE + i for i in range(CC_BIG_KEYS)]
        + [CC_PDF_BASE + i for i in range(CC_PDF_KEYS)]
        + [CC_DOC_BASE + i for i in range(CC_DOC_KEYS)]
    )


# ------------------------------------------------------------ input plans
@dataclass
class Row:
    url: str
    key: object  # document key whose bytes this row carries
    ts: datetime


@dataclass
class Plan:
    """A workload input before blobs are built. ``expect`` maps every url
    the output must hold to the key of the document that must win it."""

    workload: str
    seed: int
    rows: list[Row] = field(default_factory=list)
    expect: dict[str, object] = field(default_factory=dict)


def cc_plan(seed: int) -> Plan:
    """Slot ``i`` of every seed has the same url and size; the seed picks
    which key fills it (its content), the crawl times and the row order.
    Fixed urls keep the runner's chunk assignment, and so its schedule, the
    same across seeds."""
    rng = Rng(seed)
    plan = Plan("cc_html", seed)

    def slot_url(name: str, ext: str) -> str:
        return f"https://site{len(plan.expect) % 37}.example.org/articles/{name}.{ext}"

    def draw(base: int, pool: list[int], n: int) -> list[int]:
        pool = list(pool)
        rng.shuffle(pool)
        return [base + k for k in pool[:n]]

    slots = [(f"p{s}", "html", s * CC_REPLICAS + rng.below(CC_REPLICAS)) for s in range(CC_STRATA)]
    slots += [(f"big{i}", "html", k) for i, k in enumerate(
        draw(CC_BIG_BASE, range(CC_BIG_KEYS), CC_BIG_PER_INPUT))]
    slots += [(f"doc{i}", "pdf", k) for i, k in enumerate(
        draw(CC_PDF_BASE, range(CC_PDF_KEYS), CC_PDF_PER_INPUT))]
    for j, ext in enumerate(CC_DOC_KINDS):
        pool = range(j, CC_DOC_KEYS, len(CC_DOC_KINDS))
        slots += [(f"file{i}", ext, k) for i, k in enumerate(draw(CC_DOC_BASE, pool, CC_DOC_PER_KIND))]
    for i, (name, ext, k) in enumerate(slots):
        url = slot_url(name, ext)
        ts = T0 + timedelta(days=30 + rng.below(300), seconds=rng.below(86400))
        plan.rows.append(Row(url, k, ts))
        plan.expect[url] = k
        if k < CC_NORMAL_KEYS and i % CC_DUP_EVERY == 3:
            # an older crawl of the same url whose bytes differ: the
            # latest-crawl dedup must drop it
            other = (k // CC_REPLICAS) * CC_REPLICAS + (k + 1) % CC_REPLICAS
            plan.rows.append(Row(url, other, ts - timedelta(days=1 + rng.below(29))))
    rng.shuffle(plan.rows)
    return plan


def tiny_url(kind: str, doc_id: int, variant: int = 0) -> str:
    v = f"-v{variant}" if variant else ""
    base = "data" if kind == "csv" else "doc"
    tag = "s" if kind == "pdf_structured" else ""
    return f"https://synth.test/{base}/{doc_id}{v}{tag}{TINY_SUFFIX[kind]}"


def tiny_plan(seed: int, n_docs: int) -> Plan:
    rng = Rng(seed)
    plan = Plan("tiny_mixed", seed)
    ids = list(range(n_docs))
    rng.shuffle(ids)
    for d in ids[:TINY_HTML_DOCS]:
        for v in range(1 + rng.below(3)):
            plan.rows.append(Row(tiny_url("html", d, v), ("html", d), T0))
    for kind, n in TINY_KINDS.items():
        pool = list(range(TINY_POOL))
        rng.shuffle(pool)
        for d in pool[:n]:
            plan.rows.append(Row(tiny_url(kind, d), (kind, d), T0))
    for r in plan.rows:
        plan.expect[r.url] = r.key
    rng.shuffle(plan.rows)
    return plan


def tiny_all_keys(n_docs: int) -> list[tuple[str, int]]:
    keys = [("html", d) for d in range(n_docs)]
    for kind in TINY_KINDS:
        keys += [(kind, d) for d in range(TINY_POOL)]
    return keys


def plan_for(workload: str, seed: int, docs: list[dict]) -> Plan:
    if workload == "cc_html":
        return cc_plan(seed)
    if workload == "tiny_mixed":
        return tiny_plan(seed, len(docs))
    raise ValueError(f"unknown workload {workload!r}")


# -------------------------------------------------------------- blob build
def tiny_blobs(keys: set, docs: list[dict], spark=None) -> dict:
    """Bytes of each ``(kind, doc_id)`` key, built by the ``ops.corpus``
    builders. Template html, md and csv are JVM string builds, so those
    need a Spark session; the binary formats are plain functions."""
    from docling_spark.ops import corpus

    by_id = {d["doc_id"]: d for d in docs}
    out = {}
    py_builders = {
        "pdf": lambda d: corpus.synth_pdf_bytes(d, by_id[d]["text"]),
        "pdf_structured": lambda d: corpus.synth_pdf_structured_bytes(d, by_id[d]["text"]),
        "docx": lambda d: corpus.synth_docx_bytes(d, by_id[d]["text"]),
        "xlsx": lambda d: corpus.synth_xlsx_bytes(d),
    }
    jvm_builders = {
        "html": corpus.synth_pages,
        "md": corpus.synth_pages_md,
        "csv": corpus.synth_pages_csv,
    }
    for kind, d in keys:
        if kind in py_builders:
            out[(kind, d)] = py_builders[kind](d)
    for kind, build in jvm_builders.items():
        want = sorted(d for k, d in keys if k == kind)
        if not want:
            continue
        if spark is None:
            raise ValueError("template/md/csv blobs need a Spark session")
        from pyspark.sql import functions as F

        df = build(spark, str(DATA_DIR)).select(
            F.regexp_extract("url", r"/(\d+)[^/]*$", 1).cast("long").alias("doc_id"),
            "html",
        )
        tbl = df.filter(F.col("doc_id").isin(want)).toArrow()
        for d, blob in zip(tbl["doc_id"].to_pylist(), tbl["html"].to_pylist()):
            out[(kind, d)] = blob
    return out


def build_blobs(workload: str, keys: set, docs: list[dict], spark=None) -> dict:
    if workload == "cc_html":
        return {k: cc_blob(k, docs) for k in keys}
    return tiny_blobs(keys, docs, spark)


def all_keys(workload: str, docs: list[dict]) -> list:
    return cc_all_keys() if workload == "cc_html" else tiny_all_keys(len(docs))


def fingerprint() -> str:
    """Changes whenever this generator or its corpus changes."""
    import hashlib

    h = hashlib.sha256(Path(__file__).read_bytes())
    h.update(DOCS_PATH.read_bytes())
    return h.hexdigest()[:12]


def universe_blobs(workload: str, docs: list[dict], cache: Path, spark=None) -> dict:
    """Blobs of every key the workload can draw, built once per checkout and
    kept in ``cache`` (a parquet file of key, blob)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from verify import key_str

    keys = all_keys(workload, docs)
    by_str = {key_str(k): k for k in keys}
    if cache.is_file():
        t = pq.read_table(cache)
        blobs = dict(zip((by_str[k] for k in t["key"].to_pylist()), t["blob"].to_pylist()))
        if len(blobs) == len(keys):
            return blobs
    blobs = build_blobs(workload, set(keys), docs, spark)
    cache.parent.mkdir(parents=True, exist_ok=True)
    tmp = cache.with_suffix(".tmp")
    pq.write_table(
        pa.table({"key": [key_str(k) for k in keys], "blob": [blobs[k] for k in keys]}), tmp
    )
    tmp.replace(cache)
    return blobs


def write_table(plan: Plan, blobs: dict, out_dir: Path, n_files: int) -> None:
    """Write the input table as ``n_files`` parquet files (rows dealt
    round-robin in plan order)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    out_dir.mkdir(parents=True, exist_ok=True)
    for f in range(n_files):
        rows = plan.rows[f::n_files]
        cols = {
            "url": [r.url for r in rows],
            "warc_ts": [r.ts for r in rows],
            "html": [blobs[r.key] for r in rows],
            "text": [None] * len(rows),
            "lang": ["en"] * len(rows),
        }
        pq.write_table(
            pa.table(cols, schema=schema),
            out_dir / f"part-{f:03d}.parquet",
            compression="zstd",
        )
