"""Record ``data/digests.json.gz``: the output digest of every document key
any seed can draw, for every workload.

    python3 perfbench/record_digests.py

Run from the root of a checkout of the commit whose outputs are the
reference. Each key's blob is extracted once through ``extract_pages`` and
its status and the sha256 of ``extracted_text``, ``itxt`` and ``spans`` are
stored. Template pages and single-column PDFs are checked against their
generator laws first, so a broken program cannot be recorded as the
reference.
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import gen  # noqa: E402
import verify  # noqa: E402
from run import Session  # noqa: E402


def record(session: Session, workload: str, docs, work: Path) -> dict[str, list[str]]:
    from docling_spark.job import extract_pages

    keys = gen.all_keys(workload, docs)
    url = gen.cc_url if workload == "cc_html" else (lambda k: gen.tiny_url(*k))
    plan = gen.Plan(workload, -1)
    plan.rows = [gen.Row(url(k), k, gen.T0) for k in keys]
    plan.expect = {r.url: r.key for r in plan.rows}
    blobs = gen.universe_blobs(workload, docs, work / f"{workload}.parquet", session.spark)
    path = work / f"record-{workload}"
    gen.write_table(plan, blobs, path, n_files=3 * session.cores)
    out = verify.digest_frame(extract_pages(session.spark.read.parquet(str(path)))).toArrow()
    law = verify.laws()
    digests: dict[str, list[str]] = {}
    for row in out.to_pylist():
        key = plan.expect[row["url"]]
        if row["status"] != "success":
            raise SystemExit(f"{row['url']}: status {row['status']}")
        if isinstance(key, tuple) and key[0] in law and row["extracted_text"] != law[key[0]][key[1]]:
            raise SystemExit(f"{row['url']}: text differs from the generator law")
        digests[verify.key_str(key)] = verify.row_digest(row)
    if len(digests) != len(keys):
        raise SystemExit(f"{workload}: {len(digests)} outputs for {len(keys)} keys")
    return digests


def main() -> int:
    import os

    docs = gen.load_documents()
    work = Path.cwd() / ".perfbench" / "record"
    session = Session(work, len(os.sched_getaffinity(0)))
    try:
        session.setup()
        digests = {w: record(session, w, docs, work) for w in ("cc_html", "tiny_mixed")}
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)
    verify.save_digests(digests)
    print({w: len(d) for w, d in digests.items()})
    return 0


if __name__ == "__main__":
    sys.exit(main())
