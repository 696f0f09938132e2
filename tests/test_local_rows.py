"""Driver-local relations: ``session.local_rows_df`` and ``session.local_copy``
round-trip every column type the engine hands back (including map,
``array<timestamp>`` and nested struct, which older Spark Arrow paths
lacked), from tuple, ``Row`` and dict rows, an empty list and a 0-row
DataFrame, and the result never reads a pickled Python RDD."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import Row

from cashback_data_pipeline_spark.session import local_copy, local_rows_df

SCHEMA = (
    "l long, i int, d double, s string, b binary, dec decimal(18,2), day date, "
    "ts timestamp, tss array<timestamp>, m map<string,long>, "
    "st struct<k:string,inner:struct<x:long,ys:array<double>>>"
)
COLS = ["l", "i", "d", "s", "b", "dec", "day", "ts", "tss", "m", "st"]
_TS = dt.datetime(2024, 3, 1, 12, 30, 45, 123456)
VALUES = [
    (
        7,
        3,
        1.25,
        "héllo",
        b"\x00\xff",
        Decimal("12345.67"),
        dt.date(2024, 2, 29),
        _TS,
        [_TS, None],
        {"a": 1, "b": None},
        ("k1", (9, [0.5, None])),
    ),
    (-1, None, None, "", b"", Decimal("-0.01"), None, None, [], {}, ("k2", None)),
    tuple([None] * len(COLS)),
]


def _rows(kind: str) -> list:
    if kind == "tuple":
        return list(VALUES)
    if kind == "row":
        return [Row(*v) for v in VALUES]
    return [dict(zip(COLS, v)) for v in VALUES]


def _canon(rows) -> list:
    return sorted((tuple(r) for r in rows), key=repr)


@pytest.mark.parametrize("kind", ["tuple", "row", "dict", "empty_list", "empty_df"])
def test_round_trip(spark, kind):
    if kind == "empty_list":
        expected, src = [], local_rows_df(spark, [], SCHEMA)
    elif kind == "empty_df":
        expected, src = [], local_copy(local_rows_df(spark, VALUES, SCHEMA).where("false"))
    else:
        expected, src = _canon(VALUES), local_rows_df(spark, _rows(kind), SCHEMA)
    assert src.columns == COLS
    assert _canon(src.collect()) == expected
    copy = local_copy(src)
    assert copy.schema == src.schema
    assert _canon(copy.collect()) == expected


def test_local_relation_reads_no_python_rdd(spark):
    rows = local_rows_df(spark, _rows("tuple"), SCHEMA)
    for df in (rows, local_copy(spark.range(10)), local_rows_df(spark, [], "a long")):
        lineage = df._jdf.rdd().toDebugString()
        assert "PythonRDD" not in lineage, lineage
