"""``to_pandas`` on Spark's row path, the one a session gets by default.

The suite's session turns Arrow on (conftest.py), and Arrow returns an
array column as ndarray and a struct column as dict.  With Arrow off —
Spark's default, and the setting of tools/check.py and the benchmark —
``toPandas`` collects Rows: an array comes back as a list and a struct
as a Row.  These tests turn Arrow off for their own scope only.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

ARROW = "spark.sql.execution.arrow.pyspark.enabled"


@pytest.fixture
def arrow_off(spark):
    before = spark.conf.get(ARROW)
    spark.conf.set(ARROW, "false")
    try:
        yield
    finally:
        spark.conf.set(ARROW, before)


@pytest.fixture
def nested(con):
    import ibis_spark as ib

    t = con.memtable({"k": [1, 2], "x": [1.5, -2.0]})
    return t.mutate(
        arr=ib.array([t.k, t.k * 10]),
        st=ib.struct({"k": t.k, "x": t.x}),
    ).order_by("k")


def test_table_execute_rows(arrow_off, nested):
    pdf = nested.execute()
    assert [type(v) for v in pdf["arr"]] == [list, list]
    assert pdf["arr"].tolist() == [[1, 10], [2, 20]]
    assert all(isinstance(v, Row) for v in pdf["st"])
    assert [v.asDict() for v in pdf["st"]] == [
        {"k": 1, "x": 1.5},
        {"k": 2, "x": -2.0},
    ]


def test_column_to_pandas_rows(arrow_off, nested):
    arr = nested.arr.to_pandas()
    assert [type(v) for v in arr] == [list, list]
    assert sorted(arr.tolist()) == [[1, 10], [2, 20]]
    st = nested.st.to_pandas()
    assert all(isinstance(v, Row) for v in st)
    assert sorted(v.k for v in st) == [1, 2]

