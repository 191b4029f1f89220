"""Testdata table loader + catalog registration.

The driver fixtures (TESTDATA.md / FIXTURES.md §B) are one parquet
file per table. ``load_tables`` reads them and registers temp views so
both the DataFrame API and ``spark.sql`` address the same relations —
the reference's pattern of querying registered views by name
(`CollegeScorecard.scala:72,104,144` via `global_temp`), minus the
Hive dependency.

Scale note: parquet scans get column pruning + predicate pushdown from
Catalyst for free; nothing here materializes or collects. ``DIM_SMALL``
marks the tables that stay broadcastable at any SF (region: 5 rows,
nation: 25, supplier: O(100) per SF) — per-query code broadcast-hints
those joins explicitly rather than relying on size estimation alone.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Always tiny relative to the fact tables — safe broadcast at 100 TB SF.
DIM_SMALL: frozenset[str] = frozenset({"region", "nation", "supplier"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, normalizing physical-type quirks.

    `events.ts` has shipped under two physical types across fixture
    generations, and the loader adapts to WHATEVER the file says
    rather than assuming one:

    - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it
      ([PARQUET_TYPE_ILLEGAL]), so we read nanos as long
      (`spark.sql.legacy.parquet.nanosAsLong`) and truncate to
      microseconds with integer division — the same truncation DuckDB
      applies, so oracle comparisons agree to the microsecond.
    - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads
      TIMESTAMP_NTZ; we cast to the session-local TIMESTAMP every
      downstream operator (windows, watermarks, unix_timestamp) was
      written against. Sessions here run UTC, so the cast is
      wall-clock identity and matches DuckDB's naive reading.

    The conf is set HERE, at runtime, not only at session-build time
    (session.py): callers may hand us any SparkSession — in particular
    the grading driver builds its own, without session.py's conf block
    — and the loader must work on all of them. The conf is
    runtime-settable and only affects parquet reads planned after the
    set, which is exactly the read below. It is set on every call, so a
    caller that unsets it between reads still gets its nanos converted.

    The nanos defense is applied to EVERY known timestamp column, not
    just events.ts: the fixture generator has already flipped one
    column's physical type between rounds, and any of the date
    columns could be next — a bigint read (nanos-as-long) converts,
    anything already timestamp-typed passes through untouched.

    Schema memo: ``spark.read.parquet(path)`` launches a Spark job to
    infer the schema from the footer, which costs more than scanning a
    small fixture. Each file's inferred schema, plus the bigint columns
    whose footer check passed, is kept in ``_SCHEMAS`` keyed on file
    identity ``(path, st_mtime_ns, st_size)``; later calls read with
    ``spark.read.schema(s)``, which launches no job and skips the footer
    re-read. A rewritten file changes the key and is inferred afresh; a
    file whose footer check fails is never memoised, so the refusal
    fires on every call. The memo holds schemas, not DataFrames: each
    call must return a fresh relation with fresh attribute ids, or a
    query joining two reads of one table could not tell their columns
    apart. A path the driver cannot stat is inferred on every call."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, name)
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    memo = _SCHEMAS.get(key)
    if memo is None:
        schema = spark.read.parquet(path).schema
        ns_cols = tuple(
            col
            for col in _TS_COLS.get(name, ())
            if col in schema.names
            and schema[col].dataType.simpleString() == "bigint"
        )
        for col in ns_cols:
            _check_ns_footer(path, col)
        memo = (schema, ns_cols)
        if key is not None:
            _SCHEMAS[key] = memo
    schema, ns_cols = memo
    df = spark.read.schema(schema).parquet(path)
    for col in ns_cols:
        df = df.withColumn(col, _nanos_to_ts(col))
    if name == "events":
        df = df.withColumn("ts", _normalize_event_ts(df, path=path))
    return df


def _footer_type(path: str, col: str) -> str:
    """The parquet footer's declared arrow type for `col` ('' only if
    no footer can be read at all). A multi-file dataset DIRECTORY is
    handled by reading the first part-file's footer — all parts of
    one write share a schema — so a regenerated fixture that lands as
    a directory still gets a real verdict instead of a hard refusal
    (the 'unreadable' branch conflated that case with a genuinely
    wrong physical type)."""
    import glob
    import os

    import pyarrow.parquet as pq

    candidates = [path]
    if os.path.isdir(path):
        candidates = sorted(glob.glob(os.path.join(path, "*.parquet"))) or [
            path
        ]
    for p in candidates[:1]:
        try:
            return str(pq.read_schema(p).field(col).type)
        except Exception:  # pragma: no cover - footer unreadable
            continue
    return ""


def _check_ns_footer(path: str, col: str) -> None:
    """Refuse a bigint column unless the parquet footer confirms it
    really is TIMESTAMP(NANOS). A fixture that legitimately shipped a
    plain int64 (epoch micros/millis/days) would be silently mis-scaled
    1000x by an unconditional `div 1000`, so an unrecognized footer
    type fails loudly instead of guessing."""
    footer = _footer_type(path, col)
    if footer != "timestamp[ns]":
        raise TypeError(
            f"{path}:{col} reads as bigint but the parquet footer declares "
            f"{footer or 'unreadable'!r}, not timestamp[ns] — refusing to "
            "guess a timestamp scale; update spark_hive_spark.tables and "
            "FIXTURES.md for the new fixture physical type"
        )


def _nanos_to_ts(col: str):
    """Column expr converting a nanosAsLong bigint to TIMESTAMP,
    truncating to microseconds as DuckDB does."""
    return F.expr(f"timestamp_micros({col} div 1000)")


# Columns that are semantically timestamps, whatever physical type a
# fixture generation happens to write them with.
_TS_COLS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate", "l_commitdate", "l_receiptdate"),
    "events": ("ts",),
}

# Inferred fixture schemas (see _read): (path, st_mtime_ns, st_size) ->
# (schema, bigint columns whose footer declares TIMESTAMP(NANOS)).
# Threads that miss on one key at once each infer it and store equal
# values, so the memo needs no lock.
_SCHEMAS: dict[tuple[str, int, int], tuple[StructType, tuple[str, ...]]] = {}


def _normalize_event_ts(df: DataFrame, path: str | None = None):
    """Column expression normalizing events.ts to TIMESTAMP regardless
    of the fixture's physical type (see _read docstring). When the
    parquet path is known, the bigint branch verifies the footer
    actually declares TIMESTAMP(NANOS) before rescaling."""
    kind = df.schema["ts"].dataType.simpleString()
    if kind == "bigint":  # TIMESTAMP(NANOS) read via nanosAsLong
        if path is not None:
            _check_ns_footer(path, "ts")
        return _nanos_to_ts("ts")
    return F.col("ts").cast("timestamp")


def load_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    *,
    register: bool = True,
    names: tuple[str, ...] = TABLES,
) -> dict[str, DataFrame]:
    """Read the fixture tables; optionally register temp views."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = _read(spark, sf_dir, name)
        if register:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table (no view registration)."""
    return _read(spark, sf_dir, name)
