"""Repeating a query must not repeat the driver's fixed per-query work.

At fixture sizes a query's cost is mostly work the driver does before
any rows move: inferring each table's parquet schema (a Spark job per
read) and compiling the generated classes of every operator. Both are
done once per file / per distinct class and reused after that.
"""

from __future__ import annotations

import time

from spark_hive_spark.tables import t
from tests.conftest import SF_SMOKE

# TPC-H-style aggregate, join, window and sort queries, the repeated
# mix these tests guard.
REPEATED_QUERIES = (
    "ref_top5_nations_by_avg_acctbal",
    "ref_top5_finished_orders_by_price",
    "ref_building_acctbal_stats_by_nation",
    "q1_pricing_summary",
    "q5_region_revenue",
    "q21_waiting_suppliers",
    "w_top3_parts_per_brand",
    "sessionize_events",
)


def _job_ids_in_group(spark, group: str, action) -> list[int]:
    """Run `action` under job group `group` and return the group's job
    ids. The status tracker is fed asynchronously by the listener bus,
    which delivers events in order, so a sentinel job is run last under
    its own group: once it shows up, every job `action` ran has too."""
    sc = spark.sparkContext
    sentinel = f"{group}.sentinel"
    try:
        sc.setJobGroup(group, group)
        action()
        sc.setJobGroup(sentinel, sentinel)
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(sentinel):
        assert time.monotonic() < deadline, "sentinel job never reached the status tracker"
        time.sleep(0.05)
    return list(tracker.getJobIdsForGroup(group))


def test_second_table_read_submits_no_job(spark):
    t(spark, SF_SMOKE, "lineitem")
    assert _job_ids_in_group(
        spark,
        "test_second_table_read_submits_no_job",
        lambda: t(spark, SF_SMOKE, "lineitem"),
    ) == []


def test_repeated_queries_reuse_generated_classes(spark):
    from spark_hive_spark.plans.registry import all_queries

    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    queries = all_queries()

    def run_all():
        for name in REPEATED_QUERIES:
            queries[name].fn(spark, SF_SMOKE).collect()

    run_all()
    before = compiles.getCount()
    run_all()
    again = compiles.getCount() - before
    # AQE re-plans as query stages finish, so the order stages finish in
    # can lead a query to a stage plan it has not compiled yet: q21
    # compiles 6 such classes in about half of its repeats (never with
    # AQE off). An evicting cache recompiles nearly all ~130 classes.
    assert again < 20, again
