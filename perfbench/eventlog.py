"""Spark event log -> engine metrics per job group.

One parser for the ``spark.*`` and ``python_worker.*`` per-layer
metrics. Tasks are attributed to the job that ran their stage, and a
job to the ``spark.jobGroup.id`` property it was submitted under.
Python-worker figures are the ``PythonSQLMetrics`` accumulables that
``mapInPandas`` / ``applyInPandas`` / pandas UDF operators report per
task.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

MB = 1 << 20

#: PythonSQLMetrics accumulable name -> (metric, divisor to s or MB).
PYTHON_METRICS = {
    "time to start Python workers": ("python_worker.boot_s", 1e3),
    "time to initialize Python workers": ("python_worker.init_s", 1e3),
    "time to run Python workers": ("python_worker.run_s", 1e3),
    "data sent to Python workers": ("python_worker.sent_mb", MB),
    "data returned from Python workers": ("python_worker.received_mb", MB),
}

ENGINE_METRICS = (
    "spark.jobs", "spark.stages", "spark.tasks",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb",
    "spark.input_mb", "spark.output_mb",
    *(m for m, _ in PYTHON_METRICS.values()),
)


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


def read_events(paths: list[str]) -> Iterator[dict]:
    """Events of a log's files, in order; ``*.zstd`` files are
    decompressed."""
    for path in paths:
        yield from _read_file(path)


def _read_file(path: str) -> Iterator[dict]:
    import pyarrow as pa

    if path.endswith(".zstd"):
        stream = pa.CompressedInputStream(pa.OSFile(path), "zstd")
    else:
        stream = pa.OSFile(path)
    with stream:
        buf = b""
        while chunk := stream.read(1 << 20):
            buf += chunk
            *lines, buf = buf.split(b"\n")
            for line in lines:
                if line.strip():
                    yield json.loads(line)
        if buf.strip():
            yield json.loads(buf)


def find_log(log_dir: str) -> list[str]:
    """Files of the one finished application log in ``log_dir``, in
    order: a single file, or the ``events_<n>_*`` parts of a rolling
    log directory (``eventlog_v2_*``, Spark's default since 4.0)."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {names}")
    path = os.path.join(log_dir, names[0])
    if not os.path.isdir(path):
        return [path]
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    parts.sort(key=lambda n: int(n.split("_")[1]))
    return [os.path.join(path, n) for n in parts]


def _zero() -> dict[str, float]:
    return dict.fromkeys(ENGINE_METRICS, 0.0)


def summarize(events: Iterable[dict]) -> tuple[dict[str, dict[str, float]], list[Job]]:
    """(metrics keyed by job group, jobs). Jobs submitted outside any
    group are keyed by ``None``."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_seen: set[tuple[int, int]] = set()
    by_group: dict[str | None, dict[str, float]] = {}

    def bucket(stage_id: int) -> dict[str, float] | None:
        job = jobs.get(stage_job.get(stage_id, -1))
        if job is None:
            return None
        return by_group.setdefault(job.group, _zero())

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(ev["Job ID"], props.get("spark.jobGroup.id"), ev["Submission Time"] / 1e3)
            job.stages = list(ev.get("Stage IDs", []))
            jobs[job.id] = job
            for sid in job.stages:
                stage_job.setdefault(sid, job.id)
            by_group.setdefault(job.group, _zero())["spark.jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            b = bucket(info["Stage ID"])
            if b is not None and key not in stage_seen:
                stage_seen.add(key)
                b["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            b = bucket(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if b is None or not m:
                continue
            b["spark.tasks"] += 1
            b["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            b["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            b["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            b["spark.spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
            sr = m.get("Shuffle Read Metrics", {})
            b["spark.shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
            b["spark.shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
            b["spark.input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / MB
            b["spark.output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / MB
            for acc in ev.get("Task Info", {}).get("Accumulables", []):
                hit = PYTHON_METRICS.get(acc.get("Name"))
                if hit is not None:
                    b[hit[0]] += float(acc.get("Update", 0)) / hit[1]
    return by_group, sorted(jobs.values(), key=lambda j: j.id)
