"""The output check's comparison, with check_entry's normalisation."""

from __future__ import annotations

import datetime as dt
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from check import Oracle  # noqa: E402

SQL = ("SELECT * FROM (VALUES (1, 0.1::DOUBLE + 0.2::DOUBLE), (2, 2.5::DOUBLE))"
       " t(k, v)")


def test_compare_ignores_order_and_float_noise():
    o = Oracle("/nonexistent", tables=[])
    try:
        assert o.compare(SQL, ["K", "v"], [(2, 2.5), (1, 0.3000000001)]) is None
        assert "row count" in o.compare(SQL, ["k", "v"], [(1, 0.3)])
        assert "columns" in o.compare(SQL, ["k", "w"], [(1, 0.3), (2, 2.5)])
        assert "values differ" in o.compare(SQL, ["k", "v"], [(1, 0.3), (2, 2.6)])
        ts = "SELECT TIMESTAMP '2024-01-01 10:00:00.123' AS t"
        assert o.compare(ts, ["t"], [(dt.datetime(2024, 1, 1, 10, 0, 0),)]) is None
    finally:
        o.close()
