"""SparkSession factory.

Mirrors the reference's test harness role (`SparkEnvironment.scala:6-19`:
singleton local[*] context, temp warehouse, UI off) but configured for
the modern engine: AQE on, Arrow on, UTC session time zone (so
timestamp results compare bit-for-bit against the DuckDB oracle).

At cluster scale the same conf block applies unchanged except
``master`` and memory sizing; every knob here is a standard public
Spark conf.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# Defaults sized for the local[32] / 128 GiB test box. On a real
# cluster: drop master/driver.memory overrides and size
# shuffle.partitions ~ 2-3x total cores (AQE coalesces down).
_DEFAULT_CONF: dict[str, str] = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 10 MB default is too conservative for star-schema dims; nation/
    # region/supplier stay broadcastable far beyond sf1. AQE also
    # upgrades to broadcast at runtime from actual sizes.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # events.parquet stores ts as TIMESTAMP(NANOS); read as long and
    # convert in tables._read (Spark has no nanos timestamp type).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    # Generated-class cache (static conf: only a session this factory
    # builds gets it). One pass of eight TPC-H-style queries compiles
    # ~135 classes, more than the default 100 entries, so with LRU
    # eviction every repeat of the pass recompiled them all (Janino
    # compile plus HotSpot re-JIT of the fresh classes; together about
    # 40% of a repeated pass on a 4-vCPU host). 1000 leaves room for
    # several such mixes; held classes cost metaspace, not heap.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # One BLAS/OpenMP thread per Python worker: Spark already runs one
    # worker per core, so library-level threading inside the GEMM
    # mapInPandas kernels (similarity/multimodal/pipeline) only
    # oversubscribes the box — N workers x M BLAS threads thrash
    # memory bandwidth at high core counts and collapse under host
    # steal (round-19 scaling: those queries ran FASTER at 8 cores
    # than 32). spark.executorEnv.* reaches the Python worker
    # environment in every deploy mode, including local.
    "spark.executorEnv.OMP_NUM_THREADS": "1",
    "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
    "spark.executorEnv.MKL_NUM_THREADS": "1",
    "spark.executorEnv.VECLIB_MAXIMUM_THREADS": "1",
    "spark.executorEnv.NUMEXPR_NUM_THREADS": "1",
}


def get_spark(
    app_name: str = "spark_hive_spark",
    *,
    master: str | None = None,
    hive: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    ``hive=True`` enables Hive catalog support for the managed-table /
    ``insertInto`` surface (reference S3/S4/D1-D4); tests default to the
    in-memory catalog which supports the same DDL for our purposes.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = dict(_DEFAULT_CONF)
    # local mode: single JVM — driver memory is the only knob.
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    # temp warehouse, like the reference's test harness
    # (`SparkEnvironment.scala:9-17`); avoids polluting the repo cwd.
    conf.setdefault(
        "spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="spark_warehouse_")
    )
    if hive:
        # Keep the embedded-Derby metastore (and its derby.log) out of
        # the repo cwd — same isolation the warehouse tempdir gives.
        meta = tempfile.mkdtemp(prefix="shs_metastore_")
        conf.setdefault(
            "javax.jdo.option.ConnectionURL",
            f"jdbc:derby:;databaseName={os.path.join(meta, 'metastore_db')};create=true",
        )
        conf.setdefault(
            "spark.driver.extraJavaOptions", f"-Dderby.system.home={meta}"
        )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    if hive:
        builder = builder.enableHiveSupport()
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
