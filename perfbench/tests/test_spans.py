"""Span bookkeeping: self time on nested spans, job groups per thread,
Spark jobs attached to the span that submitted them, and wrappers
patched into every module that imported a layer function by name."""

import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

import eventlog
import layers
from spans import Span, Tracer, self_times, union_length


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(1, 3), (2, 5), (9, 12)], 0, 10) == pytest.approx(5)
    assert union_length([], 0, 10) == 0
    assert union_length([(11, 12)], 0, 10) == 0


def test_self_time_of_nested_spans():
    spans = [
        Span(1, "query.build", 0.0, 10.0, None),
        Span(2, "tables.t", 1.0, 3.0, 1),
        Span(3, "sources.staging.stage_single_parquet", 2.0, 5.0, 1),  # overlaps span 2
        Span(4, "spark.job", 9.0, 12.0, 1),  # ends after its parent
        Span(5, "spark.job", 1.5, 2.0, 2),
    ]
    selfs = self_times(spans)
    assert selfs[1] == pytest.approx(10 - 4 - 1)  # children cover [1,5] and [9,10]
    assert selfs[2] == pytest.approx(2 - 0.5)
    assert selfs[3] == pytest.approx(3)
    assert selfs[5] == pytest.approx(0.5)


class Groups:
    """Stands in for SparkContext.setLocalProperty: per-thread groups."""

    def __init__(self):
        self.local = threading.local()
        self.log = []

    def set(self, group):
        self.local.group = group
        self.log.append((threading.get_ident(), group))

    def get(self):
        return getattr(self.local, "group", None)


def test_groups_follow_the_span_stack():
    g = Groups()
    tr = Tracer("wl", g.set)
    tr.pass_no, tr.query = 3, "q1"
    with tr.span("query.build") as outer:
        assert g.get() == f"wl:3:q1:query.build#{outer.id}"
        with tr.span("tables.t") as inner:
            assert g.get() == f"wl:3:q1:tables.t#{inner.id}"
        assert g.get() == f"wl:3:q1:query.build#{outer.id}"
    assert g.get() is None
    assert inner.parent == outer.id and outer.parent is None
    assert (inner.pass_no, inner.query) == (3, "q1")


def test_pool_threads_run_under_the_pool_span():
    g = Groups()
    tr = Tracer("wl", g.set)
    tr.pass_no, tr.query = 0, "q"
    seen = []

    def run_parallel(*thunks):
        with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
            return [f.result() for f in [pool.submit(t) for t in thunks]]

    def stage(i):
        seen.append((i, g.get()))
        return i

    traced_pool = tr.wrap_pool("scratch.run_parallel", run_parallel)
    traced_stage = tr.wrap("sources.staging.stage_single_parquet", stage)
    with tr.span("query.build") as build:
        assert traced_pool(lambda: traced_stage(1), lambda: traced_stage(2)) == [1, 2]
    pool_span = next(s for s in tr.spans if s.name == "scratch.run_parallel")
    stages = [s for s in tr.spans if s.name.startswith("sources.staging.")]
    assert pool_span.parent == build.id
    assert len(stages) == 2 and all(s.parent == pool_span.id for s in stages)
    by_id = {s.id: s for s in stages}
    for _, group in seen:  # each stage ran under its own group, in its thread
        sid = int(group.rpartition("#")[2])
        assert sid in by_id and group.startswith("wl:0:q:sources.staging.stage_single_parquet#")
    assert g.get() is None


def test_jobs_become_children_of_the_submitting_span():
    spans = [Span(7, "sources.staging.stage_single_parquet", 0.0, 4.0, None, pass_no=2, query="q")]
    jobs = [eventlog.Job(0, "wl:2:q:sources.staging.stage_single_parquet#7", 1.0, 2.0),
            eventlog.Job(1, None, 5.0, 6.0),
            eventlog.Job(2, "wl:2:q:gone#99", 5.0, 6.0)]
    extra, orphans = layers.job_spans(spans, jobs)
    assert orphans == 2
    assert [(s.name, s.parent, s.pass_no, s.attrs["job_id"]) for s in extra] == [("spark.job", 7, 2, 0)]
    assert self_times(spans + extra)[7] == pytest.approx(3.0)


def test_install_patches_every_importing_module():
    import spark_hive_spark.jobs.scorecard as scorecard
    import spark_hive_spark.sources.csv as csv
    import spark_hive_spark.tables as tables

    original_load, original_t = csv.load_csv, tables.t
    tr = Tracer("wl", lambda group: None)
    wrapped = tr.install()
    try:
        assert {"tables.t", "sources.csv.load_csv", "scratch.run_parallel"} <= set(wrapped)
        assert csv.load_csv is not original_load
        assert scorecard.load_csv is csv.load_csv  # imported by name
        assert scorecard.t is tables.t is not original_t
    finally:
        tr.uninstall()
    assert scorecard.load_csv is original_load and tables.t is original_t
