"""Compare two sets of benchmark records.

    python3 perfbench/compare.py BASE.json ... --vs NEW.json ...

Prints, per workload and end-to-end metric, each side's median, quartiles
and the change of the medians. For traced records it prints the tracing
overhead, ``trace.inproc_overhead_share`` (the in-process pass with spans
against the same documents without), and the drift of the traced run's
``docs_per_s`` from the untraced median. That drift is not a span cost: the
traced run's Spark passes run the untraced job, and spans exist only in its
later in-process pass.
Records taken at different core counts are never compared: the command
refuses them.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path


def load(paths: list[str]) -> list[dict]:
    return [json.loads(Path(p).read_text()) for p in paths]


def check_cores(records: list[dict]) -> int:
    cores = {r["cpus"] for r in records}
    if len(cores) != 1:
        raise SystemExit(f"refusing to compare records taken at different core counts: {sorted(cores)}")
    return cores.pop()


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def summarize(records: list[dict]) -> dict:
    """workload -> metric -> values, from untraced records; plus the traced
    records' ``trace.docs_per_s`` and ``trace.inproc_overhead_share``."""
    out: dict = {}
    for r in records:
        if not r.get("correct"):
            raise SystemExit(f"record {r['workload']} seed {r['seed']} failed its output check")
        w = out.setdefault(r["workload"], {})
        if r["trace"]:
            for k in ("trace.docs_per_s", "trace.inproc_overhead_share"):
                w.setdefault(k, []).append(r["per_layer"][k])
        else:
            for k, m in r["end_to_end"].items():
                w.setdefault(k, []).append(m["value"])
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base", nargs="+")
    ap.add_argument("--vs", nargs="+", required=True)
    args = ap.parse_args(argv)
    base, new = load(args.base), load(args.vs)
    cores = check_cores(base + new)
    a, b = summarize(base), summarize(new)
    print(f"cpus={cores}")
    for workload in sorted(set(a) | set(b)):
        for metric in sorted(set(a.get(workload, {})) | set(b.get(workload, {}))):
            va, vb = a.get(workload, {}).get(metric), b.get(workload, {}).get(metric)
            row = [workload, metric]
            for v in (va, vb):
                if v:
                    q1, med, q3 = quartiles(v)
                    row.append(f"n={len(v)} med={med:.4g} q1={q1:.4g} q3={q3:.4g}")
                else:
                    row.append("-")
            if va and vb:
                row.append("change=%+.1f%%" % (100 * (statistics.median(vb) / statistics.median(va) - 1)))
            print("  ".join(row))
        for side, s in (("base", a), ("new", b)):
            w = s.get(workload, {})
            if w.get("trace.inproc_overhead_share"):
                over = statistics.median(w["trace.inproc_overhead_share"])
                print(f"{workload}  tracing overhead ({side}): {100 * over:+.1f}% in-process time")
            if w.get("trace.docs_per_s") and w.get("docs_per_s"):
                drift = statistics.median(w["trace.docs_per_s"]) / statistics.median(w["docs_per_s"]) - 1
                print(f"{workload}  traced-run drift ({side}): {100 * drift:+.1f}% docs_per_s (not a span cost)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
