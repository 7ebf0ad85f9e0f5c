"""Spark event-log parsing with stdlib ``json``.

The benchmark's session writes an uncompressed, non-rolling event log
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``).
This module turns it into per-stage rows and windowed summaries. SQL metric
names (the Python-worker ones among them) are read from the log, never
assumed: every accumulable whose name mentions ``Python`` is summed, with its
unit taken from the ``metricType`` the SQL plan declares for it.
"""

from __future__ import annotations

import json
import re
import statistics
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Stage:
    stage_id: int
    attempt: int
    name: str
    job_ids: list[int] = field(default_factory=list)
    submit_ms: int = 0
    complete_ms: int = 0
    task_ms: list[int] = field(default_factory=list)
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    python: dict[str, float] = field(default_factory=dict)


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class SqlExec:
    exec_id: int
    description: str
    start_ms: int
    end_ms: int = 0
    plan: str = ""


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[tuple[int, int], Stage] = field(default_factory=dict)
    sql: dict[int, SqlExec] = field(default_factory=dict)
    metric_types: dict[int, tuple[str, str]] = field(default_factory=dict)


def _walk_plan(info: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in info.get("metrics", ()):
        out[int(m["accumulatorId"])] = (m["name"], m["metricType"])
    for child in info.get("children", ()):
        _walk_plan(child, out)


def python_metric_key(name: str, metric_type: str) -> str:
    """``time to run Python workers`` (timing) -> ``python_run_ms``."""
    words = [w for w in re.findall(r"[a-z]+", name.lower()) if w not in _STOP]
    unit = {"size": "bytes", "timing": "ms", "nsTiming": "ms"}.get(metric_type, "count")
    return "python_" + "_".join(words) + "_" + unit


_STOP = {"python", "workers", "worker", "time", "to", "from", "data", "of", "the"}


def parse(path: Path) -> EventLog:
    log = EventLog()
    pending_py: list[tuple[tuple[int, int], list[dict]]] = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                job = Job(e["Job ID"], e["Submission Time"], stage_ids=list(e["Stage IDs"]))
                log.jobs[job.job_id] = job
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in log.jobs:
                    log.jobs[e["Job ID"]].end_ms = e["Completion Time"]
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = _stage(log, info["Stage ID"], info.get("Stage Attempt ID", 0))
                st.name = info.get("Stage Name", "")
                st.submit_ms = info.get("Submission Time", 0)
                st.complete_ms = info.get("Completion Time", 0)
            elif ev == "SparkListenerTaskEnd":
                st = _stage(log, e["Stage ID"], e.get("Stage Attempt ID", 0))
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                st.task_ms.append(ti["Finish Time"] - ti["Launch Time"])
                sr = tm.get("Shuffle Read Metrics", {})
                st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                st.shuffle_write_bytes += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                st.spill_bytes += tm.get("Disk Bytes Spilled", 0)
                st.gc_ms += tm.get("JVM GC Time", 0)
                py = [a for a in ti.get("Accumulables", ()) if "Python" in (a.get("Name") or "")]
                if py:
                    pending_py.append(((st.stage_id, st.attempt), py))
            elif ev.endswith("SparkListenerSQLExecutionStart"):
                _walk_plan(e.get("sparkPlanInfo", {}), log.metric_types)
                log.sql[e["executionId"]] = SqlExec(
                    e["executionId"], e.get("description", ""), e["time"],
                    plan=e.get("physicalPlanDescription", ""),
                )
            elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                _walk_plan(e.get("sparkPlanInfo", {}), log.metric_types)
            elif ev.endswith("SparkListenerSQLExecutionEnd"):
                if e["executionId"] in log.sql:
                    log.sql[e["executionId"]].end_ms = e["time"]
    # metric types can be declared after the first task reports (AQE
    # re-plans), so units are resolved once the whole log is read
    for key, accs in pending_py:
        st = log.stages[key]
        for a in accs:
            name, mtype = log.metric_types.get(int(a["ID"]), (a["Name"], "sum"))
            k = python_metric_key(name, mtype)
            st.python[k] = st.python.get(k, 0.0) + float(a.get("Update") or 0)
    for job in log.jobs.values():
        for sid in job.stage_ids:
            for (s, _a), st in log.stages.items():
                if s == sid:
                    st.job_ids.append(job.job_id)
    return log


def _stage(log: EventLog, sid: int, attempt: int) -> Stage:
    key = (sid, attempt)
    if key not in log.stages:
        log.stages[key] = Stage(sid, attempt, "")
    return log.stages[key]


def find_log(log_dir: Path) -> Path:
    """The newest finished application log in ``log_dir`` (one per session
    the run started; the last session is the measured one)."""
    done = [
        p
        for p in log_dir.iterdir()
        if p.is_file() and p.name.startswith("local-") and not p.name.endswith(".inprogress")
    ]
    if not done:
        raise RuntimeError(f"no finished event log in {log_dir}")
    return max(done, key=lambda p: int(p.name.split("-")[1]))


def stages_in(log: EventLog, t0_ms: float, t1_ms: float) -> list[Stage]:
    """Stages of the jobs submitted inside ``[t0_ms, t1_ms]`` that ran tasks."""
    jobs = {j.job_id for j in log.jobs.values() if t0_ms <= j.submit_ms <= t1_ms}
    return [
        st
        for st in sorted(log.stages.values(), key=lambda s: (s.stage_id, s.attempt))
        if st.task_ms and jobs.intersection(st.job_ids)
    ]


def summarize(stages: list[Stage]) -> dict[str, float]:
    """Per-window stage metrics. The extraction stage is the one whose tasks
    report Python-worker time; task skew is taken over it."""
    tasks = [t for st in stages for t in st.task_ms]
    py_stages = [st for st in stages if st.python]
    py_tasks = [t for st in py_stages for t in st.task_ms]
    out = {
        "stages": float(len(stages)),
        "tasks": float(len(tasks)),
        "task_ms_p50": statistics.median(tasks) if tasks else 0.0,
        "task_ms_max": float(max(tasks)) if tasks else 0.0,
        "task_skew": (max(py_tasks) / max(1.0, statistics.median(py_tasks))) if py_tasks else 0.0,
        "shuffle_write_bytes": float(sum(st.shuffle_write_bytes for st in stages)),
        "shuffle_read_bytes": float(sum(st.shuffle_read_bytes for st in stages)),
        "spill_bytes": float(sum(st.spill_bytes for st in stages)),
        "gc_ms": float(sum(st.gc_ms for st in stages)),
    }
    for st in py_stages:
        for k, v in st.python.items():
            out[k] = out.get(k, 0.0) + v
    return out


def stage_rows(stages: list[Stage]) -> list[dict]:
    """One record row per stage, for the full record file."""
    return [
        {
            "stage": st.stage_id,
            "attempt": st.attempt,
            "name": st.name,
            "jobs": st.job_ids,
            "tasks": len(st.task_ms),
            "task_ms_p50": statistics.median(st.task_ms),
            "task_ms_max": max(st.task_ms),
            "wall_ms": st.complete_ms - st.submit_ms,
            "shuffle_write_bytes": st.shuffle_write_bytes,
            "shuffle_read_bytes": st.shuffle_read_bytes,
            "spill_bytes": st.spill_bytes,
            "gc_ms": st.gc_ms,
            **st.python,
        }
        for st in stages
    ]


# the write node's argument line names its target: .../run_id=R/chunk_id=K
_CHUNK_WRITE = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n)*?Arguments: \S*/chunk_id=\d+"
)


def chunk_write_ms(log: EventLog, t0_ms: float, t1_ms: float) -> list[float]:
    """Durations of the runner's per-chunk parquet writes: the SQL
    executions inside the window whose plan writes a ``chunk_id=`` path."""
    out = []
    for ex in log.sql.values():
        if not (t0_ms <= ex.start_ms <= t1_ms) or not ex.end_ms:
            continue
        if ex.description.startswith("parquet") and _CHUNK_WRITE.search(ex.plan):
            out.append(float(ex.end_ms - ex.start_ms))
    return out

