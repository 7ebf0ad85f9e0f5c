"""The event-log parser on a small recorded Spark 4.1.2 log: an
extract_pages count (MapInPandas) and one runner chunk write."""

import gzip
import shutil
from pathlib import Path

import pytest

import eventlog

FIXTURE = Path(__file__).resolve().parent / "data" / "eventlog-4.1.2.json.gz"


@pytest.fixture(scope="module")
def log(tmp_path_factory):
    path = tmp_path_factory.mktemp("ev") / "local-1792207628268"
    with gzip.open(FIXTURE, "rb") as src, open(path, "wb") as dst:
        shutil.copyfileobj(src, dst)
    return eventlog.parse(path)


def test_jobs_and_stages(log):
    assert len(log.jobs) == 6
    stages = eventlog.stages_in(log, 0, float("inf"))
    assert len(stages) == 6
    assert sum(len(s.task_ms) for s in stages) == 9
    assert all(t >= 0 for s in stages for t in s.task_ms)


def test_python_metrics_read_from_the_log(log):
    py = [s for s in log.stages.values() if s.python]
    assert py, "no stage reported Python-worker metrics"
    keys = set().union(*(s.python for s in py))
    assert {"python_run_ms", "python_sent_bytes", "python_returned_bytes"} <= keys
    summary = eventlog.summarize(eventlog.stages_in(log, 0, float("inf")))
    assert summary["python_run_ms"] > 0 and summary["task_skew"] >= 1.0
    assert summary["shuffle_write_bytes"] > 0 and summary["shuffle_read_bytes"] > 0


def test_chunk_write_durations(log):
    assert eventlog.chunk_write_ms(log, 0, float("inf")) == [5454.0]
    assert eventlog.chunk_write_ms(log, 0, 1) == []


def test_window_selects_by_job_submission(log):
    first = min(j.submit_ms for j in log.jobs.values())
    only_first = eventlog.stages_in(log, first, first)
    assert only_first and len(only_first) < len(eventlog.stages_in(log, 0, float("inf")))


def test_python_metric_key():
    assert eventlog.python_metric_key("time to run Python workers", "timing") == "python_run_ms"
    assert (
        eventlog.python_metric_key("data returned from Python workers", "size")
        == "python_returned_bytes"
    )


def test_find_log_takes_newest_finished(tmp_path):
    for name in ("local-100", "local-300.inprogress", "local-200"):
        (tmp_path / name).write_text("")
    assert eventlog.find_log(tmp_path).name == "local-200"
