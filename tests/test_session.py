"""session.local_frame: driver rows as an Arrow local relation that
collects exactly as ``createDataFrame`` over the same rows does, with
the same refusals."""

from __future__ import annotations

import datetime as dt
import math
import os
import time

import pytest
from pyspark.errors import PySparkTypeError, PySparkValueError
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from bigdatasmallprice_spark.session import local_frame

CET = dt.timezone(dt.timedelta(hours=1))
KV = StructType([StructField("k", StringType()), StructField("v", DoubleType())])


@pytest.fixture
def zurich_clock():
    """A driver whose local zone is not UTC, so a naive datetime read as
    local time and one read as UTC are different instants."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "Europe/Zurich"
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


@pytest.mark.parametrize(
    "rows, schema",
    [
        pytest.param([(dt.datetime(2026, 3, 1, 0, 30, tzinfo=CET),)], "t timestamp", id="aware"),
        pytest.param([(dt.datetime(2026, 3, 1, 0, 30),)], "t timestamp", id="naive"),
        pytest.param([(math.nan,), (1.5,)], "v double", id="nan"),
        pytest.param([(None, "a"), (2, None)], "n long, s string", id="none-nullable"),
        pytest.param([(dt.date(2026, 3, 29),), (dt.date(1969, 12, 31),)], "d date", id="date"),
        pytest.param([], "t timestamp, v double", id="empty"),
        pytest.param([{"k": "a", "v": 1.0}, {"v": 2.0, "k": "b"}, {"k": "c"}], KV, id="dict"),
        pytest.param([("a", 1.0), ("b", None)], KV, id="tuple"),
    ],
)
def test_local_frame_collects_as_create_dataframe(spark, zurich_clock, rows, schema):
    got = local_frame(spark, rows, schema).collect()
    want = spark.createDataFrame(rows, schema).collect()
    assert len(got) == len(rows)
    assert repr(got) == repr(want)  # repr: NaN != NaN, but its repr matches


def test_local_frame_reads_an_offset_stamp_as_its_utc_instant(spark):
    t = dt.datetime(2026, 3, 1, 0, 30, tzinfo=CET)
    df = local_frame(spark, [(t,)], "t timestamp")
    assert df.selectExpr("CAST(t AS STRING)").first()[0] == "2026-02-28 23:30:00"


@pytest.mark.parametrize(
    "value, schema, error",
    [
        pytest.param(None, "n long not null", PySparkValueError, id="none-in-not-null"),
        pytest.param(1.5, "n long", PySparkTypeError, id="fraction-in-long"),
        pytest.param(1.0, "n int", PySparkTypeError, id="float-in-int"),
    ],
)
def test_local_frame_refuses_what_create_dataframe_refuses(spark, value, schema, error):
    with pytest.raises(error):
        spark.createDataFrame([(value,)], schema)
    with pytest.raises(error):
        local_frame(spark, [(value,)], schema)


def test_local_frame_plans_a_local_table_scan(spark):
    df = local_frame(spark, [("a", 1.0)], KV).select("k")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
