"""Per-layer metrics of a traced run.

Joins three sources per timed pass: the benchmark's spans around layer
entry points, the Spark jobs of the event log (each a child span of the
span whose job group submitted it), and the pass record's counters
(JVM warm-up, driver CPU, scratch left behind). Every metric is the
median over the timed passes of its per-pass value.
"""

from __future__ import annotations

import dataclasses
import json
import statistics
from typing import Any

import eventlog
from spans import Span, Tracer, self_times, union_length

#: Layers (span-name prefixes) whose calls and self time are reported.
CALL_LAYERS = ("tables", "sources.staging", "sources.catalog", "scratch")

JOB = "spark.job"


def job_spans(tracer_spans: list[Span], jobs: list[eventlog.Job]) -> tuple[list[Span], int]:
    """Spark jobs as child spans of the span named in their job group;
    also returns how many jobs had no such span."""
    by_id = {s.id: s for s in tracer_spans}
    next_id = max(by_id, default=0) + 1
    out, orphans = [], 0
    for job in jobs:
        sid = (job.group or "").rpartition("#")[2]
        parent = by_id.get(int(sid)) if sid.isdigit() else None
        if parent is None:
            orphans += 1
            continue
        out.append(Span(next_id, JOB, job.start, job.end or job.start, parent.id,
                        parent.pass_no, parent.query, parent.exec_id, {"job_id": job.id}))
        next_id += 1
    return out, orphans


def pass_metrics(
    spans: list[Span], selfs: dict[int, float], by_group: dict[str | None, dict[str, float]],
    pass_rec: dict[str, Any], workload: str,
) -> dict[str, float]:
    p = pass_rec["pass"]
    mine = [s for s in spans if s.pass_no == p]
    names = {s.id: s.name for s in spans}
    m: dict[str, float] = {}
    for layer in CALL_LAYERS:
        hits = [s for s in mine if s.name.startswith(layer + ".")]
        m[f"{layer}.calls"] = float(len(hits))
        m[f"{layer}.self_s"] = sum(selfs[s.id] for s in hits)
    m["sources.staging.jobs"] = float(sum(
        1 for s in mine if s.name == JOB and names.get(s.parent, "").startswith("sources.staging.")))
    m["sources.csv.load_s"] = sum(s.end - s.start for s in mine if s.name == "sources.csv.load_csv")
    m["query.build_s"] = sum(s.end - s.start for s in mine if s.name == "query.build")
    m["query.collect_s"] = sum(s.end - s.start for s in mine if s.name == "query.collect")
    engine = dict.fromkeys(eventlog.ENGINE_METRICS, 0.0)
    prefix = f"{workload}:{p}:"
    for group, vals in by_group.items():
        if group is not None and group.startswith(prefix):
            for k, v in vals.items():
                engine[k] += v
    m.update(engine)
    jobs = [(s.start, s.end) for s in mine if s.name == JOB]
    m["spark.driver_gap_s"] = pass_rec["wall_s"] - union_length(jobs, pass_rec["start"], pass_rec["end"])
    for k in ("jvm.codegen_compiles", "jvm.jit_ms", "jvm.gc_ms"):
        m[k] = pass_rec[k]
    m["driver.cpu_s"] = pass_rec["driver_cpu_s"]
    m["scratch.left_mb"] = pass_rec["scratch_left_mb"]
    return m


def per_layer(tracer: Tracer, timed: list[dict[str, Any]], log_dir: str, spans_path: str) -> dict[str, float]:
    by_group, jobs = eventlog.summarize(eventlog.read_events(eventlog.find_log(log_dir)))
    extra, orphans = job_spans(tracer.spans, jobs)
    spans = tracer.spans + extra
    selfs = self_times(spans)
    per_pass = [pass_metrics(spans, selfs, by_group, rec, tracer.workload) for rec in timed]
    out = {k: float(statistics.median(pm[k] for pm in per_pass)) for k in per_pass[0]}
    out["spark.unattributed_jobs"] = float(orphans)
    with open(spans_path, "w") as f:
        json.dump([dict(dataclasses.asdict(s), self_s=selfs[s.id]) for s in spans], f)
    return out
