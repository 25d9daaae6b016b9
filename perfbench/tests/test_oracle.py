"""The oracles: a wrong answer is a failed statement, never a dropped
sample; the churn model follows the SQL semantics it stands in for."""

import pandas as pd
import pytest

from perfbench.harness import RunLog, execute
from perfbench.oracle import ChurnModel, Mismatch, compare_rows
from perfbench.workloads import Op


def test_compare_rows_tolerates_float_order_noise_only():
    compare_rows([("A", 3, 0.1 + 0.2)], [("A", 3, 0.3)], "sum")
    compare_rows([("B", 1, None), ("A", 2, 1.0)], [("A", 2, 1.0), ("B", 1, None)], "order")
    with pytest.raises(Mismatch):
        compare_rows([("A", 3, 0.3)], [("A", 4, 0.3)], "count")
    with pytest.raises(Mismatch):
        compare_rows([("A", 3, 0.31)], [("A", 3, 0.3)], "sum")
    with pytest.raises(Mismatch):
        compare_rows([("A", 3, 0.3)], [], "rows")


def test_wrong_answer_counts_as_failed_statement():
    log = RunLog()
    want = [(42,)]
    right = Op("read", "count", lambda: [(42,)], lambda rows: compare_rows(rows, want, "q"))
    wrong = Op("read", "count", lambda: [(41,)], lambda rows: compare_rows(rows, want, "q"))

    def boom():
        raise RuntimeError("commit failed")

    broken = Op("write", "insert", boom)
    for op in (right, wrong, broken):
        execute(op, log)

    assert log.attempted == 3  # the wrong answer is still a sample
    assert log.failed == 2
    assert [s.ok for s in log.statements] == [True, False, False]
    assert all(s.seconds >= 0 for s in log.statements)
    assert "wrong answer" in log.statements[1].error
    assert "RuntimeError" in log.statements[2].error


def _rows(keys, months, qty):
    return pd.DataFrame({
        "l_orderkey": keys,
        "l_quantity": [float(q) for q in qty],
        "l_extendedprice": [10.0 * q for q in qty],
        "l_shipdate": [f"{m}-15" for m in months],
        "l_shipmonth": months,
    })


def test_churn_model_applies_writes():
    m = ChurnModel(_rows([1, 2, 3], ["1998-01", "1998-01", "1998-02"], [1, 2, 3]))
    m.insert(_rows([4], ["1998-02"], [4]))
    assert m.range_answer("1998-02-01", "1998-03-01") == (2, 7.0, 7)

    m.merge(_rows([2, 5], ["1998-01", "1998-01"], [20, 5]), ["l_quantity", "l_extendedprice"])
    assert m.range_answer("1998-01-01", "1998-02-01") == (3, 26.0, 8)

    m.upsert(_rows([1, 6], ["1998-02", "1998-02"], [100, 6]))
    assert m.range_answer("1998-01-01", "1998-02-01") == (2, 25.0, 7)

    assert m.delete_dates("1998-02-15", "1998-02-16") == 4
    assert m.range_answer("1998-02-01", "1998-03-01") == (0, None, None)

    m.overwrite_month("1998-01", _rows([7], ["1998-01"], [7]))
    assert m.by_month() == [("1998-01", 1, 7.0, 7)]
