"""One benchmark run inside a fresh process (started by ``run.py``).

Usage: worker.py WORKLOAD SEED SECONDS TRACE RUN_DIR RECORD T0

Generates the seeded inputs, starts the session through the package's
``get_spark``, hashes the DuckDB oracle results, runs a cold pass and a warm pass, then
about SECONDS seconds of timed passes, and
writes the run record (JSON) to RECORD. T0 is the wall-clock time the
benchmark command started, the origin of ``setup_s``.
"""

from __future__ import annotations

import contextlib
import hashlib
import itertools
import json
import os
import random
import statistics
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import check
import datagen
import proctree
import workloads

MB = 1 << 20
SCORECARD_DB = "college_db"
SCORECARD_TABLES = ("most_expensive", "highest_debt", "completion_rate")
# DuckDB twins of the reference's three jobs over the generated CSV.
SCORECARD_ORACLE = {
    "most_expensive": """
        SELECT STABBR, avg(COSTT4_A) AS COSTT4_A_MEAN FROM scorecard
        GROUP BY STABBR ORDER BY COSTT4_A_MEAN DESC LIMIT 5""",
    "highest_debt": """
        SELECT UNITID::INT AS UNITID, OPEID::INT AS OPEID, INSTNM, CITY, STABBR,
               DEBT_MDN::DOUBLE AS DEBT_MDN
        FROM scorecard WHERE DEBT_MDN IS NOT NULL AND STABBR = 'TX'
        ORDER BY DEBT_MDN DESC LIMIT 5""",
    "completion_rate": """
        SELECT CITY, avg(C100_4) AS C100_4_MEAN, stddev_samp(C100_4) AS C100_4_STDDEV,
               count(*) AS "COUNT"
        FROM scorecard WHERE STABBR = 'TX' AND C100_4 IS NOT NULL
        GROUP BY CITY HAVING count(*) > 1""",
}
# Float means from Spark and DuckDB differ in the last bits.
SCORECARD_DIGITS = 6


@dataclass
class Item:
    name: str
    build: Callable[[], list[Any]]  # -> DataFrames whose rows are the result
    oracle: Callable[[check.Oracle], list[tuple[int, str]]]
    digits: int | None = None  # float rounding before hashing


def combined(parts: list[tuple[int, str]]) -> tuple[int, str]:
    return sum(n for n, _ in parts), hashlib.sha256(repr(parts).encode()).hexdigest()


def make_items(workload: str, spark, registry, data_dir: str, csv_path: str) -> list[Item]:
    items = []
    for name in workloads.WORKLOADS[workload]:
        if name == workloads.SCORECARD:
            from spark_hive_spark.jobs.scorecard import Configuration, run_scorecard_pipeline

            def build():
                run_scorecard_pipeline(spark, Configuration(), csv_path)
                return [spark.table(f"{SCORECARD_DB}.{t}") for t in SCORECARD_TABLES]

            def oracle(o):
                return [o.result_hash(SCORECARD_ORACLE[t], digits=SCORECARD_DIGITS)
                        for t in SCORECARD_TABLES]

            items.append(Item(name, build, oracle, SCORECARD_DIGITS))
        else:
            q = registry[name]
            items.append(Item(
                name, lambda q=q: [q.fn(spark, data_dir)], lambda o, q=q: [o.result_hash(q.oracle)]))
    return items


class Jvm:
    """Warm-up counters of the driver JVM (local mode: one JVM), read
    through py4j: Janino compiles, HotSpot JIT time, GC time."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())

    def read(self) -> dict[str, float]:
        return {
            "jvm.codegen_compiles": float(self._codegen.getCount()),
            "jvm.jit_ms": float(self._jit.getTotalCompilationTime()),
            "jvm.gc_ms": float(sum(g.getCollectionTime() for g in self._gcs)),
        }


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                continue
    return total


class Runner:
    """Runs passes over the items and checks each result: the cold pass
    against the oracle hashes, every later pass against the cold pass."""

    def __init__(self, spark, items, tracer, scratch_dir, oracle_hashes) -> None:
        self.items = items
        self.tracer = tracer
        self.scratch_dir = scratch_dir
        self.jvm = Jvm(spark)
        self.oracle_hashes = oracle_hashes
        self.cold_hashes: dict[str, tuple[int, str]] = {}
        self.attempted = 0
        self.failures: list[dict[str, Any]] = []
        self.passes: list[dict[str, Any]] = []
        self._exec_ids = itertools.count(1)

    def _phase(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def run_pass(self, kind: str) -> dict[str, Any]:
        pass_no = len(self.passes)
        if self.tracer is not None:
            self.tracer.pass_no = pass_no
        results: dict[str, Any] = {}
        root = os.getpid()
        jvm0 = self.jvm.read()
        cpu0, drv0 = proctree.tree_cpu_s(root), time.process_time()
        t0 = time.time()
        per_query = {}
        for item in self.items:
            self.attempted += 1
            tq = time.time()
            if self.tracer is not None:
                self.tracer.query, self.tracer.exec_id = item.name, next(self._exec_ids)
            try:
                with self._phase("query.build"):
                    dfs = item.build()
                with self._phase("query.collect"):
                    results[item.name] = [(list(df.columns), df.collect()) for df in dfs]
            except Exception as exc:  # a failed query is counted, the pass goes on
                results[item.name] = exc
            per_query[item.name] = time.time() - tq
        wall = time.time() - t0
        cpu, drv = proctree.tree_cpu_s(root) - cpu0, time.process_time() - drv0
        jvm1 = self.jvm.read()
        if self.tracer is not None:
            self.tracer.query = self.tracer.exec_id = None
        for item in self.items:
            self._check(pass_no, item, results[item.name])
        rec = {
            "pass": pass_no, "kind": kind, "start": t0, "end": t0 + wall,
            "wall_s": wall, "cpu_s": cpu, "driver_cpu_s": drv,
            **{k: jvm1[k] - jvm0[k] for k in jvm1},
            "scratch_left_mb": dir_bytes(self.scratch_dir) / MB,
            "query_s": per_query,
        }
        self.passes.append(rec)
        return rec

    def _check(self, pass_no: int, item: Item, res: Any) -> None:
        def fail(error: str) -> None:
            self.failures.append({"pass": pass_no, "query": item.name, "error": error})

        if isinstance(res, Exception):
            fail("".join(traceback.format_exception_only(type(res), res)).strip()[:2000])
            return
        got = combined([check.value_hash(cols, rows, digits=item.digits) for cols, rows in res])
        if pass_no == 0:
            self.cold_hashes[item.name] = got
            want, source = self.oracle_hashes.get(item.name), "oracle"
        else:
            want, source = self.cold_hashes.get(item.name), "cold pass"
        if want is None:
            fail(f"no {source} result to compare with")
        elif got != want:
            fail(f"result {got} != {source} {want}")


def main(argv: list[str]) -> int:
    workload, seed, seconds, trace, run_dir, record_path, t_start = argv
    seed, seconds, trace, t_start = int(seed), float(seconds), trace == "1", float(t_start)
    has_scorecard = workloads.SCORECARD in workloads.WORKLOADS[workload]
    record: dict[str, Any] = {"workload": workload, "seed": seed, "trace": trace,
                              "cpus": os.environ.get("SPARK_GRAFT_CPUS")}
    layer: dict[str, float] = {}
    milestones = record["milestones_s"] = {}

    def mark(name: str) -> None:
        milestones[name] = time.time() - t_start

    mark("worker_started")
    t = time.time()
    from spark_hive_spark.plans.registry import all_queries
    from spark_hive_spark.session import get_spark
    from spark_hive_spark.tables import TABLES

    registry = all_queries()
    layer["plans.registry.load_s"] = time.time() - t

    data_dir = os.path.join(run_dir, "data")
    csv_path = os.path.join(run_dir, "scorecard", "MERGED2015_16_PP.csv")
    datagen.write_fixture_tables(seed, workloads.SCALE_FACTOR, data_dir)
    if has_scorecard:
        datagen.write_scorecard_csv(seed, csv_path)
    mark("inputs_written")

    extra_conf = None
    log_dir = os.path.join(run_dir, "eventlog")
    if trace:
        os.makedirs(log_dir)
        extra_conf = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir}
    t = time.time()
    spark = get_spark(extra_conf=extra_conf)
    layer["session.start_s"] = time.time() - t
    mark("session_started")

    tracer = None
    if trace:
        from spans import GROUP_KEY, Tracer

        sc = spark.sparkContext
        tracer = Tracer(workload, lambda g: sc.setLocalProperty(GROUP_KEY, g))
        record["wrapped"] = tracer.install()

    items = make_items(workload, spark, registry, data_dir, csv_path)
    # The seed picks where the cycle starts, not a fresh permutation: every
    # order then evicts the same classes from Spark's codegen cache per pass,
    # so the seed changes the inputs without changing the steady state.
    k = random.Random(seed).randrange(len(items))
    items = items[k:] + items[:k]
    record["order"] = [i.name for i in items]
    oracle = check.Oracle(data_dir, TABLES)
    if has_scorecard:
        oracle.con.execute(
            f"CREATE VIEW scorecard AS SELECT * FROM read_csv('{csv_path}', header=true, nullstr='NULL')")
    oracle_hashes = {}
    try:
        for item in items:
            oracle_hashes[item.name] = combined(item.oracle(oracle))
    finally:
        oracle.close()
    mark("oracle_hashed")

    runner = Runner(spark, items, tracer, os.environ["SPARK_GRAFT_SCRATCH"], oracle_hashes)
    cold = runner.run_pass("cold")
    for _ in range(workloads.WARM_PASSES):
        runner.run_pass("warm")
    t_timed = time.time()
    contention = proctree.Contention(os.getpid())
    timed = [runner.run_pass("timed") for _ in range(workloads.timed_passes(seconds))]
    record["contention"] = contention.finish()
    record["timed_s"] = time.time() - t_timed
    record["setup_s"] = t_timed - t_start
    record["scratch_left_entries"] = sorted(os.listdir(runner.scratch_dir))[:20]

    spark.stop()
    mark("session_stopped")

    failed = len(runner.failures)
    record.update({
        "attempted": runner.attempted, "failed": failed,
        "failures": runner.failures, "passes": runner.passes,
    })
    e2e = {
        "setup_s": record["setup_s"],
        "cold_pass_s": cold["wall_s"],
        "pass_s": statistics.median(p["wall_s"] for p in timed),
        "pass_cpu_s": statistics.median(p["cpu_s"] for p in timed),
        "fail_ratio": failed / runner.attempted,
    }
    record["end_to_end"] = e2e
    if trace:
        import layers

        layer.update(layers.per_layer(tracer, timed, log_dir, record_path + ".spans.json"))
        layer["trace.pass_s"] = e2e["pass_s"]
    record["per_layer"] = layer
    with open(record_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
