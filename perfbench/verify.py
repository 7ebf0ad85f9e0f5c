"""Output checks: per-row digests and the generator's independent laws.

Every output row's status and the sha256 of its ``extracted_text``,
``itxt`` and ``spans`` must equal the digest recorded for the document key
that should win its url (``data/digests.json.gz``). Where the generator can
state the text independently, the text must also equal it:

* template pages: ``ops.corpus.SYNTH_MD_SQL`` (the query suite's DuckDB oracle law);
* single-column PDFs: ``ops.corpus.SYNTH_PDF_TEXT_SQL``,
  ``Document <id>\\n\\n<text>``.

Both laws are evaluated by DuckDB over ``data/documents.parquet``, apart
from the program. Docling golden parity is NOT verified here: the goldens
are not in the repository.
"""

from __future__ import annotations

import gzip
import json
from dataclasses import dataclass, field
from pathlib import Path

from gen import DATA_DIR, DOCS_PATH, Plan

DIGESTS_PATH = DATA_DIR / "digests.json.gz"
GOLDEN_NOTE = "Docling golden parity NOT verified (reference goldens absent)"
FAILED_STATUSES = {"failure", "timeout"}


def digest_frame(df):
    """The checked columns of an output frame, hashed inside the JVM:
    sha256 of ``extracted_text``, ``itxt`` and the JSON of ``spans``, so a
    check moves hex digests, not span structs, into Python."""
    from pyspark.sql import functions as F

    def h(col):
        return F.coalesce(F.substring(F.sha2(col, 256), 1, 16), F.lit("-"))

    return df.select(
        "url",
        "status",
        "extracted_text",
        h(F.col("extracted_text")).alias("h_text"),
        h(F.col("itxt")).alias("h_itxt"),
        h(F.to_json(F.col("spans"))).alias("h_spans"),
    )


def row_digest(row: dict) -> list[str]:
    return [row["status"], row["h_text"], row["h_itxt"], row["h_spans"]]


def key_str(key) -> str:
    return f"{key[0]}:{key[1]}" if isinstance(key, tuple) else str(key)


def load_digests(path: Path = DIGESTS_PATH) -> dict:
    if not path.is_file():
        raise FileNotFoundError(f"output digests missing: {path}")
    with gzip.open(path, "rt", encoding="utf-8") as fh:
        return json.load(fh)


def save_digests(digests: dict, path: Path = DIGESTS_PATH) -> None:
    # mtime=0 keeps the file byte-identical across re-recordings
    with open(path, "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as gz:
        gz.write(json.dumps(digests, sort_keys=True, separators=(",", ":")).encode())


def laws() -> dict[str, dict[int, str]]:
    """doc_id -> expected text, for template pages and single-column PDFs."""
    import duckdb

    from docling_spark.ops.corpus import SYNTH_MD_SQL, SYNTH_PDF_TEXT_SQL

    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT doc_id, {SYNTH_MD_SQL} AS md, {SYNTH_PDF_TEXT_SQL} AS pdf "
            "FROM read_parquet(?)",
            [str(DOCS_PATH)],
        ).fetchall()
    finally:
        con.close()
    return {"html": {r[0]: r[1] for r in rows}, "pdf": {r[0]: r[2] for r in rows}}


@dataclass
class Verdict:
    attempted: int
    failed: int = 0
    rows: int = 0
    problems: list[str] = field(default_factory=list)

    @property
    def correct(self) -> bool:
        return not self.problems

    def add(self, msg: str) -> None:
        if len(self.problems) < 20:
            self.problems.append(msg)
        elif len(self.problems) == 20:
            self.problems.append("... more problems not listed")


def check(plan: Plan, table, digests: dict, law: "dict | None" = None) -> Verdict:
    """Check a ``digest_frame`` output (as a ``pyarrow.Table``) against the
    plan's expected winner per url."""
    want = digests[plan.workload]
    v = Verdict(attempted=len(plan.expect))
    seen: set[str] = set()
    for row in table.to_pylist():
        url, status, text = row["url"], row["status"], row["extracted_text"]
        v.rows += 1
        if status in FAILED_STATUSES:
            v.failed += 1
        if url in seen:
            v.add(f"duplicate output row for {url}")
            continue
        seen.add(url)
        if url not in plan.expect:
            v.add(f"unexpected output url {url}")
            continue
        key = plan.expect[url]
        got = row_digest(row)
        exp = want.get(key_str(key))
        if exp is None:
            v.add(f"no recorded digest for {key_str(key)}")
        elif got != exp:
            fields = [n for n, a, b in zip(("status", "text", "itxt", "spans"), got, exp) if a != b]
            v.add(f"{url}: {','.join(fields)} differ from the recorded digest")
        if law is not None and isinstance(key, tuple) and key[0] in law:
            if text != law[key[0]][key[1]]:
                v.add(f"{url}: text differs from the generator law")
    missing = set(plan.expect) - seen
    v.failed += len(missing)
    for url in sorted(missing)[:5]:
        v.add(f"missing output for {url}")
    return v
