"""Regression tests for running under a session the repo did NOT build.

The grading driver supplies its OWN SparkSession — plain
``SparkSession.builder`` without session.py's conf block. Round 3
shipped 11 red driver rows because reading ``events.parquet``
(TIMESTAMP(NANOS)) depended on ``spark.sql.legacy.parquet.nanosAsLong``
being present at session-build time. The loader now sets it at runtime
(tables._read / streaming.windows._event_stream), so every query must
work on a session that starts WITHOUT the conf.

We can't build a second bare JVM session cheaply, so each test
*unsets* the conf on the shared session first — runtime state is then
identical to the driver's fresh session (conf absent → default false)
— and asserts the loader restores it for itself.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from spark_hive_spark.tables import t
from tests.conftest import SF_SMOKE

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _unset(spark):
    try:
        spark.conf.unset(NANOS_CONF)
    except Exception:
        pass
    assert spark.conf.get(NANOS_CONF, "false") == "false"


def test_events_batch_read_without_session_conf(spark):
    _unset(spark)
    df = t(spark, SF_SMOKE, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    assert df.count() > 0
    # ts really materializes (the failure mode was at scan planning)
    row = df.select(F.min("ts").alias("lo")).collect()[0]
    assert row.lo is not None


def test_events_stream_probe_without_session_conf(spark):
    from spark_hive_spark.streaming.windows import _event_stream

    _unset(spark)
    stream = _event_stream(spark, SF_SMOKE)
    assert stream.isStreaming
    assert isinstance(stream.schema["ts"].dataType, TimestampType)


@pytest.mark.parametrize(
    "qname",
    [
        "window_tumbling_events",
        "sessionize_events",
        "sketch_hll_mergeable_rollup",
        "json_event_props",
    ],
)
def test_events_queries_run_without_session_conf(spark, qname):
    """The exact r03-red entry points, driven the way the driver does."""
    from spark_hive_spark.plans.registry import all_queries

    _unset(spark)
    q = all_queries()[qname]
    out = q.fn(spark, SF_SMOKE)
    assert out.count() >= 0


def test_nanos_drift_any_date_column(spark, tmp_path):
    """Fixture-drift defense: if a regeneration writes ANY known
    timestamp column as parquet TIMESTAMP(NANOS) (as happened to
    events.ts between rounds 5 and 6), the loader must read it as
    nanos-as-long and convert — for every table in _TS_COLS, not just
    events.

    Reads go through the loader's schema memo: a second read of the
    same file (memo hit, conf unset again) must still convert; a
    rewritten file must be inferred afresh, never served the old
    schema; and a plain int64 the footer guard refuses is never
    memoised, so it is refused on every read."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    from spark_hive_spark.tables import _read

    def write(orderdate, **extra):
        tbl = pa.table(
            {
                "o_orderkey": pa.array([1, 2], pa.int64()),
                "o_orderdate": orderdate,
                "o_totalprice": pa.array([10.0, 20.0]),
                **extra,
            }
        )
        pq.write_table(tbl, str(tmp_path / "orders.parquet"), version="2.6")

    def read_converted():
        _unset(spark)
        df = _read(spark, str(tmp_path), "orders")
        assert isinstance(df.schema["o_orderdate"].dataType, TimestampType)
        rows = df.orderBy("o_orderkey").collect()
        # nanos 1700000000000000000 -> micros 1700000000000000 (UTC
        # 2023-11-14T22:13:20)
        assert rows[0].o_orderdate.year == 2023 and rows[0].o_orderdate.second == 20
        return df

    nanos = pa.array(
        [1700000000000000000, 1700000086400000000000 % 2**62],
        pa.timestamp("ns"),
    )
    write(nanos)
    read_converted()  # infers the schema
    read_converted()  # memo hit

    write(nanos, o_comment=pa.array(["a", "b"]))
    assert "o_comment" in read_converted().columns

    # epoch days as plain int64: also bigint to Spark, but no nanos scale
    write(pa.array([19675, 19676], pa.int64()))
    for _ in range(2):
        with pytest.raises(TypeError, match="refusing to guess"):
            _read(spark, str(tmp_path), "orders")
