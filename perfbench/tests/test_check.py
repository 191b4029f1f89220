"""The result hash: order-insensitive, and it rejects altered results."""

import datetime as dt
from decimal import Decimal

import check

COLS = ["k", "v", "ts"]
ROWS = [(1, 2.5, dt.datetime(2024, 1, 1)), (2, None, dt.datetime(2024, 1, 2)), (3, 7.0, None)]


def test_row_and_column_order_do_not_matter():
    base = check.value_hash(COLS, ROWS)
    assert check.value_hash(COLS, list(reversed(ROWS))) == base
    swapped = [(v, k, ts) for k, v, ts in ROWS]
    assert check.value_hash(["v", "k", "ts"], swapped) == base
    assert base[0] == 3


def test_altered_result_is_rejected():
    base = check.value_hash(COLS, ROWS)
    changed_value = [ROWS[0], (2, 0.5, ROWS[1][2]), ROWS[2]]
    assert check.value_hash(COLS, changed_value) != base
    assert check.value_hash(COLS, ROWS[:2]) != base  # a missing row
    assert check.value_hash(COLS, ROWS + [ROWS[0]]) != base  # a duplicated row
    assert check.value_hash(["k", "value", "ts"], ROWS) != base  # a renamed column
    # an int where the oracle has a float
    assert check.value_hash(COLS, [ROWS[0], ROWS[1], (3, 7, None)]) != base


def test_digits_round_floats_only_when_asked():
    a = [(1, 0.1 + 0.2, None)]
    b = [(1, 0.3, None)]
    assert check.value_hash(COLS, a) != check.value_hash(COLS, b)
    assert check.value_hash(COLS, a, digits=6) == check.value_hash(COLS, b, digits=6)


def test_decimal_and_aware_timestamps_normalize():
    aware = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    assert check.value_hash(["x", "t"], [(Decimal("2.5"), aware)]) == check.value_hash(
        ["x", "t"], [(2.5, dt.datetime(2024, 1, 1))])


def test_oracle_hash_matches_python_rows(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"k": [2, 1], "v": [0.5, 1.5]}), tmp_path / "t.parquet")
    oracle = check.Oracle(str(tmp_path), ["t"])
    try:
        got = oracle.result_hash("SELECT k, v FROM t")
    finally:
        oracle.close()
    assert got == check.value_hash(["k", "v"], [(1, 1.5), (2, 0.5)])
