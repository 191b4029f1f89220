"""Result checks: an order-insensitive value hash and the DuckDB oracle.

A query result is reduced to (row count, hash). The hash covers the
sorted column names and every value with its Python type, so ``5``
and ``5.0`` differ, exactly as the registry's oracle contract compares
them (``tests/oracle_check.py``). Row order never matters.

``_norm`` and the typed-string rows copy ``_norm`` and ``_sort_key`` of
``tests/oracle_check.py``, so that the benchmark needs nothing outside
its own directory; the two must change together.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import os
from decimal import Decimal
from typing import Any, Iterable, Sequence


def _norm(v: Any, digits: int | None) -> Any:
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, float) and digits is not None:
        return round(v, digits)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x, digits) for x in v)
    return v


def value_hash(
    columns: Sequence[str], rows: Iterable[Sequence[Any]], *, digits: int | None = None
) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a result. ``digits``
    rounds floats first, for results whose float aggregates are not
    computed order-independently."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        repr(tuple((type(x).__name__, str(x)) for x in (_norm(row[i], digits) for i in order)))
        for row in rows
    )
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


class Oracle:
    """DuckDB over the generated fixture files, one view per table."""

    def __init__(self, data_dir: str, tables: Iterable[str]) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def result_hash(self, sql: str, **kw: Any) -> tuple[int, str]:
        rel = self.con.sql(sql)
        return value_hash(list(rel.columns), rel.fetchall(), **kw)

    def close(self) -> None:
        self.con.close()
