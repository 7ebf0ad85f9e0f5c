"""The benchmark command.

    python3 perfbench/run.py --workload cc_html --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the workload's input table from
``--seed`` (once per seed and generator version, cached under
``.perfbench/inputs``), starts one Spark driver at ``local[nproc]``, warms
it until throughput stops trending (the first warm pass collects the output,
and every row is checked), times the workload's job for ``--seconds``, and
prints a short headline line and then one JSON result line. The full record
(every run, every metric, per-stage rows, host facts, the realized input size
histogram) is written under ``.perfbench/records``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is the separate
traced run that reports the per-layer metrics (see ``layers.py``).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent  # the checkout whose program is measured
sys.path[:0] = [str(HERE), str(ROOT)]

import gen  # noqa: E402
import hostfacts  # noqa: E402
import verify  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = ("cc_html", "tiny_mixed")
WARM_TREND = 0.05  # a pass >5% faster than the one before: still warming
OPS_DOCS = 120  # documents the traced curation stages run over
LEDGER_NOTE = (
    "The r1-r5 ledger (BENCH_r0*.json) was recorded at local[32]; these "
    "local[nproc] numbers are not comparable with it."
)
SOCKET_DIR = ".perfbench/s"
WARM_HTML = b"<html><head><title>w</title></head><body><h1>w</h1><p>w</p></body></html>"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ------------------------------------------------------------------ session
class Session:
    """The benchmark's Spark driver: the program's ``tuned_session`` plus the
    benchmark's own settings (event log, local dirs inside the checkout)."""

    def __init__(self, work: Path, cores: int):
        self.work, self.cores = work, cores
        self.eventlog_dir = work / "eventlog"
        for d in ("eventlog", "local", "tmp", "warehouse"):
            (work / d).mkdir(parents=True, exist_ok=True)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": self.eventlog_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # relative to the checkout: a unix socket path must stay under
            # 108 bytes wherever the checkout lives
            "spark.python.unix.domain.socket.dir": SOCKET_DIR,
        }
        Path(SOCKET_DIR).mkdir(parents=True, exist_ok=True)
        args = " ".join(f"--conf {k}={v}" for k, v in conf.items())
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f'{args} --driver-java-options "-Djava.io.tmpdir={work / "tmp"} -XX:-UsePerfData"'
            " pyspark-shell"
        )
        os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
        os.environ["TMPDIR"] = str(work / "tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        self.spark = None
        self.gateway = None

    def setup(self) -> float:
        """Start the session and extract one page on every core; returns the
        seconds until the first document can be extracted everywhere."""
        from pyspark import SparkContext

        from docling_spark.job import extract_pages, tuned_session

        t0 = time.perf_counter()
        self.spark = tuned_session(
            master=f"local[{self.cores}]", shuffle_partitions=self.cores, app="perfbench"
        )
        # kept before anything can fail, so close() always ends the JVM
        self.gateway = SparkContext._gateway
        self.spark.sparkContext.setLogLevel("ERROR")
        rows = [
            (f"https://warm.test/{i}.html", None, WARM_HTML, None, "en")
            for i in range(self.cores)
        ]
        df = self.spark.createDataFrame(
            self.spark.sparkContext.parallelize(rows, self.cores),
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        n = extract_pages(df).count()
        if n != self.cores:
            raise RuntimeError(f"warm-up extracted {n} of {self.cores} pages")
        return time.perf_counter() - t0

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for every Python worker."""
        kids = hostfacts.descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
        if self.gateway is not None:
            self.gateway.shutdown()
            proc = self.gateway.proc
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — the JVM must not outlive the run
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        for pid in kids:
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                os.kill(pid, 9)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ------------------------------------------------------------------- inputs
def build_input(workload: str, seed: int, docs, spark, work: Path, cores: int):
    """Write the seed's input table once per generator version; returns
    (plan, blobs, path, bytes)."""
    plan = gen.plan_for(workload, seed, docs)
    fp = gen.fingerprint()
    blobs = gen.universe_blobs(workload, docs, work / "blobs" / f"{workload}-{fp}.parquet", spark)
    # keyed like the blobs: a changed generator or corpus never reuses a
    # table written by an older one
    path = work / "inputs" / f"{workload}-{fp}-s{seed}"
    marker = path / "_COMPLETE"
    n_bytes = sum(len(blobs[r.key]) for r in plan.rows)
    if not marker.is_file():
        shutil.rmtree(path, ignore_errors=True)
        # more files than cores, as a production scan has
        gen.write_table(plan, blobs, path, n_files=3 * cores)
        marker.write_text(str(n_bytes))
    return plan, blobs, path, n_bytes


def size_histogram(plan, blobs) -> dict[str, int]:
    """Realized input sizes, in power-of-two byte bins."""
    hist: dict[str, int] = {}
    for r in plan.rows:
        b = 2 ** max(0, math.ceil(math.log2(max(1, len(blobs[r.key])))))
        hist[f"<={b}"] = hist.get(f"<={b}", 0) + 1
    return dict(sorted(hist.items(), key=lambda kv: int(kv[0][2:])))


# ---------------------------------------------------------------- workloads
class RunnerJob:
    """The production runner over the input table: latest-crawl dedup, 8
    chunks, atomic parquet writes, lineage; one run id."""

    RUN_ID = "r0"

    def __init__(self, spark, input_path: Path, out_root: Path):
        self.spark, self.input_path, self.out_root = spark, input_path, out_root
        self.data = out_root / "data" / f"run_id={self.RUN_ID}"

    def run(self) -> tuple[float, dict]:
        """One ``run()`` on the run id; returns its wall and stats."""
        from docling_spark.job import ExtractionRunner, RunConfig

        pages = self.spark.read.parquet(str(self.input_path))
        runner = ExtractionRunner(
            self.spark, RunConfig(run_id=self.RUN_ID, output_path=str(self.out_root))
        )
        t0 = time.perf_counter()
        stats = runner.run(pages)
        return time.perf_counter() - t0, stats

    def output(self):
        return verify.digest_frame(self.spark.read.parquet(str(self.data))).toArrow()

    def written_bytes(self) -> int:
        return sum(p.stat().st_size for p in self.data.rglob("*.parquet"))


class CountJob:
    """``extract_pages`` over the input table with a count sink; with
    ``dedup``, behind the runner's latest-crawl dedup (``cc_html`` crawls
    some urls twice)."""

    def __init__(self, spark, input_path: Path, dedup: bool):
        self.spark, self.input_path, self.dedup = spark, input_path, dedup

    def frame(self):
        from docling_spark.job import dedup_latest_crawl, extract_pages

        pages = self.spark.read.parquet(str(self.input_path))
        return extract_pages(dedup_latest_crawl(pages) if self.dedup else pages)

    def once(self) -> float:
        df = self.frame()
        t0 = time.perf_counter()
        df.count()
        return time.perf_counter() - t0

    def output(self):
        return verify.digest_frame(self.frame()).toArrow()


# --------------------------------------------------------------------- main
def timed_passes(job, seconds: float, tracer: "Tracer | None", label: str):
    """Warm for at least ``seconds``, and on while the last pass was more
    than WARM_TREND faster than the one before (capped at twice
    ``seconds``); then time passes for ``seconds`` (at least one). The first
    warm pass collects the job's output for the check, as the count sink of
    the timed passes has none; it also collects text, so the trend is read
    from the count passes after it. Returns (output, warm walls,
    [(t0_ms, t1_ms, wall)])."""
    t0 = time.perf_counter()
    output = job.output()
    warm = [time.perf_counter() - t0]
    while True:
        spent = sum(warm)
        trending = len(warm) >= 3 and warm[-1] < (1 - WARM_TREND) * warm[-2]
        if spent >= 2 * seconds or (spent >= seconds and not trending):
            break
        warm.append(job.once())
    measured = []
    start = time.perf_counter()
    while not measured or time.perf_counter() - start < seconds:
        t0 = time.time() * 1e3
        if tracer is not None:
            with tracer.span(f"{label}.pass", label):
                wall = job.once()
        else:
            wall = job.once()
        measured.append((t0, time.time() * 1e3, wall))
    return output, warm, measured


def per_layer_units() -> dict[str, str]:
    """The traced run's metrics and units, as ``BENCHMARK.json`` lists them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import pyspark  # noqa: F401

        import docling_spark.job  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return 2
    import eventlog

    docs = gen.load_documents()
    digests = verify.load_digests()
    law = verify.laws()
    cores = len(os.sched_getaffinity(0))
    work = Path.cwd() / ".perfbench"
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1e3)}"
    run_dir = work / "runs" / tag
    host_before = hostfacts.snapshot()
    sampler = hostfacts.RssSampler().start()
    session = Session(run_dir, cores)
    record: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cores,
        "master": f"local[{cores}]",
        "notes": [verify.GOLDEN_NOTE, LEDGER_NOTE],
    }
    phases: dict[str, float] = {}
    mark = [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - mark[0]
        mark[0] = now

    tracer = Tracer() if args.trace else None
    layer: dict[str, float] = {}
    runner_windows: list[tuple[float, float]] = []
    try:
        setup_s = session.setup()
        spark = session.spark
        phase("setup")
        plan, blobs, input_path, in_bytes = build_input(
            args.workload, args.seed, docs, spark, work, cores
        )
        record["input"] = {
            "rows": len(plan.rows),
            "urls": len(plan.expect),
            "bytes": in_bytes,
            "files": 3 * cores,
            "size_histogram": size_histogram(plan, blobs),
        }
        phase("input")
        job = CountJob(spark, input_path, dedup=args.workload == "cc_html")
        sampler.reset()
        output, warm, measured = timed_passes(job, args.seconds, tracer, args.workload)
        peak_rss = sampler.peak_mb
        phase("passes")
        # the traced run also checks the runner's written output
        verdicts = [verify.check(plan, output, digests, law)]
        if args.trace:
            layer, runner, runner_windows = traced_layers(
                spark, job, plan, blobs, input_path, tracer, run_dir
            )
            verdicts.append(verify.check(plan, runner.output(), digests, law))
            # a second run() on the same run id must skip every chunk
            resume_s, stats = runner.run()
            rerun = stats["chunks_total"] - stats["chunks_skipped"]
            layer.update({
                "runner.resume_s": resume_s,
                "runner.chunks_rerun": float(rerun),
                "runner.write_bytes": float(runner.written_bytes()),
            })
            layer["runner.output_bytes_ratio"] = layer["runner.write_bytes"] / in_bytes
            if rerun:
                verdicts[-1].add(f"resume re-ran {rerun} committed chunks")
        phase("check" + ("+layers" if args.trace else ""))
    finally:
        sampler.stop()
        session.close()
    host_after = hostfacts.snapshot()
    log = eventlog.parse(eventlog.find_log(session.eventlog_dir))
    phase("close+eventlog")

    walls = [m[2] for m in measured]
    wall = statistics.median(walls)
    docs_per_s = len(plan.rows) / wall
    e2e = {
        "docs_per_s": {"value": docs_per_s, "unit": "docs/s"},
        "input_mb_per_s": {"value": in_bytes / 1e6 / wall, "unit": "MB/s"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "worker_peak_rss_mb": {"value": peak_rss, "unit": "MB"},
    }
    if runner_windows:
        chunk_ms = [ms for t0, t1 in runner_windows for ms in eventlog.chunk_write_ms(log, t0, t1)]
        layer["runner.chunk_s_p50"] = statistics.median(chunk_ms) / 1e3 if chunk_ms else 0.0
        layer["runner.chunk_s_max"] = max(chunk_ms) / 1e3 if chunk_ms else 0.0
    if args.trace:
        layer.update(spark_layer_metrics(log, measured))
        layer["trace.docs_per_s"] = docs_per_s
        layer["job.wrapper_share"] = 1 - (len(plan.expect) / wall) / (
            cores * layer["job.inproc_docs_per_s_core"]
        )
        metrics = {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in per_layer_units().items()}
    else:
        metrics = e2e
    bad = next((v for v in verdicts if not v.correct), None)
    correct = bad is None
    record.update({
        "correct": correct,
        "verify": {"rows_checked": sum(v.rows for v in verdicts),
                   "problems": bad.problems if bad else []},
        "host": {
            "before": host_before,
            "after": host_after,
            "steal_share": hostfacts.steal_share(host_before["cpu_times"],
                                                 host_after["cpu_times"]),
        },
        "setup_s": setup_s,
        "warm_walls_s": warm,
        "measured_walls_s": walls,
        "phases_s": phases,
        "end_to_end": e2e,
        "per_layer": layer,
        "stages": [eventlog.stage_rows(eventlog.stages_in(log, t0, t1)) for t0, t1, _ in measured],
    })
    rec_path = work / "records" / f"{tag}.json"
    rec_path.parent.mkdir(parents=True, exist_ok=True)
    rec_path.write_text(json.dumps(record, indent=1, default=str))
    if tracer is not None:
        tracer.write(work / "records" / f"{tag}.spans.jsonl")
    shutil.rmtree(run_dir, ignore_errors=True)
    # a wrong run reports no metrics, in the headline too
    figures = (
        f"docs_per_s={docs_per_s:.1f} input_mb_per_s={in_bytes / 1e6 / wall:.2f}"
        if correct
        else "correct=false"
    )
    print(f"{args.workload} {figures} cpus={cores} record={rec_path.relative_to(Path.cwd())}")
    if not correct:
        print("perfbench: output check failed: " + "; ".join(bad.problems[:5]), file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": verdicts[-1].attempted,
        "failed": max(v.failed for v in verdicts),
        "metrics": metrics if correct else {},
    }))
    return 0 if correct else 1


def spark_layer_metrics(log, measured) -> dict[str, float]:
    """Event-log stage metrics of each measured pass; the median pass."""
    import eventlog

    per_pass = [eventlog.summarize(eventlog.stages_in(log, t0, t1)) for t0, t1, _ in measured]
    keys = sorted({k for p in per_pass for k in p})
    return {f"spark.{k}": statistics.median(p.get(k, 0.0) for p in per_pass) for k in keys}


def traced_layers(spark, job, plan, blobs, input_path, tracer, run_dir):
    """The traced run's extra measurements. Returns (metrics, the runner
    whose resume is measured, event-log windows of its timed passes)."""
    import layers
    from pyspark.sql import functions as F

    from docling_spark.job import with_content_type

    out: dict[str, float] = {}
    out["job.dispatch_s"] = layers.dispatch_s(spark, str(input_path))
    ctype = {
        r.url: r.content_type
        for r in with_content_type(spark.read.parquet(str(input_path)))
        .select("url", "content_type").collect()
    }
    docs = [(url, blobs[key], ctype[url]) for url, key in sorted(plan.expect.items())]
    # one document per content type first, so no timed pass pays the lazy
    # backend imports
    from docling_spark.job import _extract_one

    for url, blob, ct in {ct: (u, b, ct) for u, b, ct in docs}.values():
        _extract_one(url, blob, ct, "none", 60.0)
    out.update(layers.inprocess_pass(docs, tracer))
    out["trace.inproc_overhead_share"] = layers.span_overhead_share(docs[::4])

    if not job.dedup:
        # curation stages over this workload's extraction: template pages
        # in key order, so each page's url variants (real duplicates) sit
        # together in the sample. They are not run on cc_html: the Gopher
        # n-gram signals are superlinear in text length and take minutes on
        # its megabyte pages.
        urls = [u for _, u in sorted((k, u) for u, k in plan.expect.items() if k[0] == "html")]
        urls = urls[:OPS_DOCS]
        ids = spark.createDataFrame(list(enumerate(urls)), "doc_id long, url string")
        ex = (
            job.frame()
            .filter(F.col("extracted_text").isNotNull())
            .join(ids, "url")
            .select("doc_id", F.col("extracted_text").alias("text"), "lang", "spans")
        )
        by_key: dict = {}
        for i, u in enumerate(urls):
            by_key.setdefault(plan.expect[u], []).append(i)
        true_pairs = {(a, b) for g in by_key.values() for a in g for b in g if a < b}
        out.update(layers.ops_stages(spark, ex, str(gen.DOCS_PATH), true_pairs))

    # the runner layer over this workload's input: one pass, then the caller
    # checks its output and times a resume
    runner = RunnerJob(spark, input_path, run_dir / "out")
    t0 = time.time() * 1e3
    out["runner.run_s"] = runner.run()[0]
    return out, runner, [(t0, time.time() * 1e3)]


if __name__ == "__main__":
    sys.exit(main())
