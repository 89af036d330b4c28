"""`session.local_frame`: the one constructor for driver-built frames must
reproduce `createDataFrame(list, schema)` exactly — schema and rows — while
planning as a JVM local relation, and nothing else in the package may call
`createDataFrame` directly."""

from __future__ import annotations

import ast
import calendar
import datetime as dt
import time
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

import twitter_flink_spark
from twitter_flink_spark.session import local_frame

_DDL = (
    "l long, s string, d double, ts timestamp, dt date, a array<double>, "
    "m map<string,bigint>, dec decimal(38,7), st struct<x:int,y:string>, "
    "b boolean"
)
_IST = dt.timezone(dt.timedelta(hours=5, minutes=30))
_ROWS = [
    (
        1,
        "a",
        1.5,
        dt.datetime(2024, 3, 10, 2, 30),  # naive: read in the process TZ
        dt.date(2024, 1, 2),
        [1.0, None],
        {"k": 1, "z": None},
        Decimal("1.2345678"),
        (1, "q"),
        True,
    ),
    (None,) * 10,
    (
        -2,
        "é",
        -0.0,
        dt.datetime(2024, 1, 1, 12, 0, tzinfo=_IST),  # aware: its offset
        dt.date(1969, 12, 31),
        [],
        {},
        Decimal("-3"),
        (None, None),
        False,
    ),
]


@pytest.fixture
def non_utc_tz(monkeypatch):
    """Process time zone pinned away from UTC (DST-observing, negative
    offset), so naive-datetime handling is actually exercised."""
    monkeypatch.setenv("TZ", "America/Los_Angeles")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


@pytest.mark.parametrize("as_struct", [False, True], ids=["ddl", "struct"])
def test_local_frame_matches_create_dataframe(spark, non_utc_tz, as_struct):
    schema = StructType.fromDDL(_DDL) if as_struct else _DDL
    want = spark.createDataFrame(_ROWS, schema)
    got = local_frame(spark, _ROWS, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_zero_rows(spark):
    for schema in (_DDL, "k long"):
        got = local_frame(spark, [], schema)
        assert got.schema == spark.createDataFrame([], schema).schema
        assert got.collect() == []


def test_local_frame_timestamp_instants(spark, non_utc_tz):
    """A naive datetime is local wall time, an aware one is its own
    offset — both land as the same UTC instants the list path stores."""
    naive = dt.datetime(2024, 1, 1, 12, 0)
    aware = dt.datetime(2024, 1, 1, 12, 0, tzinfo=_IST)
    df = local_frame(spark, [(naive,), (aware,)], "ts timestamp")
    got = [r[0] for r in df.select(F.unix_micros("ts")).collect()]
    utc = dt.timezone.utc
    assert got == [
        calendar.timegm(dt.datetime(2024, 1, 1, 20, 0).timetuple()) * 10**6,
        int(aware.astimezone(utc).timestamp()) * 10**6,
    ]


def test_local_frame_accepts_dict_rows_and_non_nullable_fields(spark):
    from pyspark.sql.types import LongType, StructField

    schema = StructType([StructField("k", LongType(), False)])
    assert local_frame(spark, [(1,)], schema).schema == schema
    got = local_frame(spark, [{"b": "x", "a": 1}], "a long, b string")
    assert [tuple(r) for r in got.collect()] == [(1, "x")]


def test_local_frame_rejects_mistyped_values(spark):
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, [("x",)], "k long")


def test_create_dataframe_only_inside_local_frame():
    """Every driver-built frame goes through `local_frame`: a direct
    `createDataFrame(` anywhere else in the package is a regression to
    the pickled Python-RDD path."""
    pkg = Path(twitter_flink_spark.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text()
        allowed: set[int] = set()
        if path == pkg / "session.py":
            fn = next(
                n
                for n in ast.parse(src).body
                if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
            )
            allowed = set(range(fn.lineno, fn.end_lineno + 1))
        offenders += [
            f"{path.relative_to(pkg)}:{i}"
            for i, line in enumerate(src.splitlines(), 1)
            if "createDataFrame(" in line and i not in allowed
        ]
    assert not offenders
