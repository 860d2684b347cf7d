"""ingest.backfill_dates: the driver-side paths of the daily ETL — the
in-batch dedup, the touched-partition key check and the Spark job
budget of a feed-day — and the key check's parity with Spark's
``left_anti`` join."""

from __future__ import annotations

import datetime as dt
import math
import os

import pyarrow.parquet as pq
import pytest
from pyspark.errors import PySparkTypeError
from pyspark.sql import functions as F

from bigdatasmallprice_spark import ingest
from bigdatasmallprice_spark.catalog import write_bronze
from bigdatasmallprice_spark.ingest import backfill_dates
from bigdatasmallprice_spark.session import local_frame
from tests.spark_jobs import job_group

SCHEMA = "time timestamp, k string, v double"
KEYS = ["time", "k"]
CET = dt.timezone(dt.timedelta(hours=1))
UTC = dt.timezone.utc


def _hourly(d: dt.date, tz: dt.tzinfo | None = None) -> list[dict]:
    return [
        {"time": dt.datetime(d.year, d.month, d.day, h, tzinfo=tz), "k": k, "v": float(h)}
        for h in range(24)
        for k in ("a", "b")
    ]


def test_backfill_topup_and_rerun_job_budget(spark, tmp_path):
    """A day that touches no existing partition of the table is one write
    job of one file; its idempotent re-run reads that day's keys on the
    driver and runs no Spark job at all."""
    path = str(tmp_path / "bronze")
    days = [dt.date(2026, 5, 1) + dt.timedelta(days=i) for i in range(3)]
    assert backfill_dates(spark, _hourly, days[:2], path, SCHEMA, KEYS) == {
        days[0]: 48, days[1]: 48
    }

    with job_group(spark, "ingest-topup") as topup:
        assert backfill_dates(spark, _hourly, days[2:], path, SCHEMA, KEYS) == {days[2]: 48}
    assert 0 < len(topup) <= 1, topup
    new_dir = os.path.join(path, f"p_date={days[2]}")
    assert len([f for f in os.listdir(new_dir) if f.endswith(".parquet")]) == 1

    with job_group(spark, "ingest-rerun") as rerun:
        assert backfill_dates(spark, _hourly, days[2:], path, SCHEMA, KEYS) == {days[2]: 0}
    assert rerun == [], rerun
    assert spark.read.parquet(path).count() == 144


def test_backfill_into_an_existing_partition_is_one_job(spark, tmp_path):
    """A CET day whose first hour lands in the previous UTC date's
    partition, which an earlier run wrote, costs the write alone: one job,
    which appends the new rows and none of the stored ones."""
    path = str(tmp_path / "bronze")
    prev, d = dt.date(2026, 5, 1), dt.date(2026, 5, 2)

    def fetch_prev(day):
        return _hourly(day, tz=UTC)

    assert backfill_dates(spark, fetch_prev, [prev], path, SCHEMA, KEYS) == {prev: 48}

    def fetch(day):
        # 00:00 CET is 23:00 UTC of the day before, a stored key
        return _hourly(day, tz=CET) + [
            {"time": dt.datetime(2026, 5, 1, 22, 30, tzinfo=UTC), "k": "a", "v": 0.0}
        ]

    with job_group(spark, "ingest-offset") as offset:
        assert backfill_dates(spark, fetch, [d], path, SCHEMA, KEYS) == {d: 47}
    assert len(offset) == 1, offset
    bronze = spark.read.parquet(path)
    assert bronze.count() == 48 + 47
    assert bronze.groupBy(*KEYS).count().filter(F.col("count") > 1).count() == 0


def test_backfill_batch_is_a_local_relation(spark, tmp_path, monkeypatch):
    """A feed-day reaches the JVM as an Arrow local relation, both when it
    touches no stored partition and when its key check against one leaves
    rows to write: no plan scans a pickled RDD."""
    plans = []

    def spy(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return write_bronze(df, *args, **kwargs)

    monkeypatch.setattr(ingest, "write_bronze", spy)
    path = str(tmp_path / "bronze")
    d = dt.date(2026, 5, 1)
    assert backfill_dates(spark, _hourly, [d], path, SCHEMA, KEYS) == {d: 48}

    def extra(day):
        return _hourly(day) + [{"time": dt.datetime(2026, 5, 1, 12, 30), "k": "c", "v": 1.0}]

    assert backfill_dates(spark, extra, [d], path, SCHEMA, KEYS) == {d: 1}
    assert len(plans) == 2
    for plan in plans:
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_backfill_never_reads_untouched_partitions(spark, tmp_path):
    """Only the batch's own p_date directories are read: a file that is
    not parquet in an older partition cannot break a later day's run."""
    path = str(tmp_path / "bronze")
    days = [dt.date(2026, 5, 1), dt.date(2026, 5, 2)]
    backfill_dates(spark, _hourly, days, path, SCHEMA, KEYS)
    with open(os.path.join(path, f"p_date={days[0]}", "part-garbage.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")

    assert backfill_dates(spark, _hourly, days[1:], path, SCHEMA, KEYS) == {days[1]: 0}


def test_backfill_dedup_keeps_first_row_in_list_order(spark, tmp_path):
    """Duplicate keys inside one batch keep the first row in list order
    (executemany semantics), even when a later duplicate sorts lower;
    an aware and a naive stamp of the same UTC instant are one key."""
    path = str(tmp_path / "bronze")
    d = dt.date(2026, 5, 1)
    t0 = dt.datetime(2026, 5, 1, 10)

    def fetch(_d):
        return [
            {"time": t0, "k": "a", "v": 5.0},
            {"time": t0, "k": "a", "v": 1.0},  # lower v, later in the list
            {"time": t0.replace(hour=11, tzinfo=CET), "k": "a", "v": 0.0},  # 10:00 UTC
            {"time": t0, "k": "b", "v": 7.0},
        ]

    assert backfill_dates(spark, fetch, [d], path, SCHEMA, KEYS) == {d: 2}
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": 5.0, "b": 7.0}


def test_backfill_checks_every_record_before_the_key_check(spark, tmp_path):
    """A re-run whose records are all stored keys still refuses a record
    of the wrong type, as the first run would: the records are checked
    before any stored key is read."""
    path = str(tmp_path / "bronze")
    d = dt.date(2026, 5, 1)
    assert backfill_dates(spark, _hourly, [d], path, SCHEMA, KEYS) == {d: 48}

    def malformed(day):
        rows = _hourly(day)
        rows[-1] = {**rows[-1], "v": "1.0"}
        return rows

    with pytest.raises(PySparkTypeError):
        backfill_dates(spark, malformed, [d], path, SCHEMA, KEYS)


def test_backfill_dedups_nan_keys_as_one_key(spark, tmp_path):
    """Two records whose double key is NaN are one key, as the stored-key
    check (and Spark's join) treats them: the batch writes one row, and
    its re-run none."""
    path = str(tmp_path / "bronze")
    d = dt.date(2026, 5, 1)
    t0 = dt.datetime(2026, 5, 1, 10)

    def fetch(_d):
        return [
            {"time": t0, "k": "a", "x": math.nan, "v": 1.0},
            {"time": t0, "k": "a", "x": float("nan"), "v": 2.0},
        ]

    schema = "time timestamp, k string, x double, v double"
    assert backfill_dates(spark, fetch, [d], path, schema, ["time", "k", "x"]) == {d: 1}
    assert [r["v"] for r in spark.read.parquet(path).collect()] == [1.0]
    assert backfill_dates(spark, fetch, [d], path, schema, ["time", "k", "x"]) == {d: 0}


def test_backfill_lands_offset_records_in_their_utc_partition(spark, tmp_path):
    """CET records whose local date is the fetched day but whose UTC date
    is the day before land in the UTC p_date, and the re-run finds them
    there (no duplicate insert)."""
    path = str(tmp_path / "bronze")
    d, prev = dt.date(2026, 5, 2), dt.date(2026, 5, 1)

    def fetch(day):
        return _hourly(day, tz=CET)

    assert backfill_dates(spark, fetch, [d], path, SCHEMA, KEYS) == {d: 48}
    parts = sorted(p for p in os.listdir(path) if p.startswith("p_date="))
    assert parts == [f"p_date={prev}", f"p_date={d}"]
    early = spark.read.parquet(os.path.join(path, f"p_date={prev}")).collect()
    assert {r["time"] for r in early} == {dt.datetime(2026, 5, 1, 23)}

    assert backfill_dates(spark, fetch, [d], path, SCHEMA, KEYS) == {d: 0}
    bronze = spark.read.parquet(path)
    assert bronze.count() == 48
    assert bronze.groupBy(*KEYS).count().filter(F.col("count") > 1).count() == 0


def _utc_hourly(day: dt.date) -> list[dict]:
    return _hourly(day, tz=UTC)


@pytest.mark.parametrize("zone", ["Europe/Zurich", "+02:00"])
def test_backfill_partitions_follow_the_session_time_zone(spark, tmp_path, zone):
    """write_bronze names p_date by the UTC date in any session time zone:
    at UTC+2 (Zurich in May, or a fixed offset) a UTC day still lands in
    its own date's partition, and the re-run finds it there."""
    path = str(tmp_path / "bronze")
    d = dt.date(2026, 5, 2)
    session_zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        assert backfill_dates(spark, _utc_hourly, [d], path, SCHEMA, KEYS) == {d: 48}
        parts = sorted(p for p in os.listdir(path) if p.startswith("p_date="))
        assert parts == [f"p_date={d}"]
        assert backfill_dates(spark, _utc_hourly, [d], path, SCHEMA, KEYS) == {d: 0}
    finally:
        spark.conf.set("spark.sql.session.timeZone", session_zone)
    assert spark.read.parquet(path).count() == 48


def test_backfill_rerun_under_another_session_zone_inserts_nothing(spark, tmp_path):
    """A day written under Europe/Zurich and re-run under UTC finds every
    key: both runs name the same p_date directories."""
    path = str(tmp_path / "bronze")
    d = dt.date(2026, 5, 1)
    session_zone = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Europe/Zurich")
        assert backfill_dates(spark, _utc_hourly, [d], path, SCHEMA, KEYS) == {d: 48}
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        assert backfill_dates(spark, _utc_hourly, [d], path, SCHEMA, KEYS) == {d: 0}
    finally:
        spark.conf.set("spark.sql.session.timeZone", session_zone)
    assert spark.read.parquet(path).count() == 48


# -- parity with Spark's left_anti join ------------------------------------------

PARITY_SCHEMA = "time timestamp, k string, x double, v double"
PARITY_KEYS = ["time", "k", "x"]
JAN15 = dt.date(2026, 1, 15)


def _at(h: int, us: int = 0, day: int = 15, tz=UTC) -> dt.datetime:
    return dt.datetime(2026, 1, day, h, 0, 0, us, tzinfo=tz)


# Stored before the batch arrives, in two appends, so each touched
# partition holds several files.
STORED = [
    [
        {"time": _at(5), "k": "a", "x": 1.0, "v": 1.0},
        {"time": _at(6), "k": "a", "x": math.nan, "v": 1.0},
        {"time": _at(7), "k": "a", "x": -0.0, "v": 1.0},
        {"time": _at(8), "k": None, "x": 1.0, "v": 1.0},
        {"time": _at(23, day=14), "k": "a", "x": 1.0, "v": 1.0},
    ],
    [
        {"time": _at(9, us=500), "k": "a", "x": 1.0, "v": 1.0},  # sub-millisecond
        {"time": _at(10), "k": "b", "x": 2.0, "v": 1.0},
        {"time": _at(22, day=14), "k": "a", "x": 1.0, "v": 1.0},
    ],
]

# One feed-day, no key twice: CET stamps whose first hour is 23:00 UTC
# of the day before, naive and UTC stamps, NaN, -0.0 and null keys.
BATCH = [
    {"time": _at(0, tz=CET), "k": "a", "x": 1.0, "v": 2.0},  # 23:00 UTC on the 14th
    {"time": _at(1, tz=CET), "k": "a", "x": 1.0, "v": 2.0},
    {"time": _at(6, tz=CET), "k": "a", "x": 1.0, "v": 2.0},  # 05:00 UTC
    {"time": _at(6), "k": "a", "x": math.nan, "v": 2.0},
    {"time": _at(7), "k": "a", "x": 0.0, "v": 2.0},
    {"time": _at(8), "k": None, "x": 1.0, "v": 2.0},
    {"time": _at(9, us=500), "k": "a", "x": 1.0, "v": 2.0},
    {"time": _at(9, us=500).replace(tzinfo=None), "k": "b", "x": 2.0, "v": 2.0},
    {"time": _at(10), "k": "b", "x": 2.0, "v": 2.0},
    {"time": _at(11), "k": "a", "x": math.nan, "v": 2.0},
    {"time": _at(12), "k": "c", "x": -0.0, "v": 2.0},
    {"time": _at(13), "k": None, "x": math.nan, "v": 2.0},
]


def _parquet_files(d: str) -> list[str]:
    return [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]


def _inserted_and_left_anti(spark, monkeypatch, path: str) -> tuple[list[str], list[str]]:
    """The rows ``backfill_dates`` writes for BATCH, and the rows
    ``batch.join(stored, keys, "left_anti")`` keeps, computed by Spark over
    the whole table before the run; each as sorted row reprs (NaN != NaN,
    but its repr matches)."""
    stored = spark.read.parquet(path).select(*PARITY_KEYS)
    want = (
        local_frame(spark, BATCH, PARITY_SCHEMA)
        .join(stored, PARITY_KEYS, "left_anti")
        .select("time", "k", "x", "v")
        .collect()
    )
    written = []

    def spy(df, *args, **kwargs):
        written.extend(df.collect())
        return write_bronze(df, *args, **kwargs)

    monkeypatch.setattr(ingest, "write_bronze", spy)
    n = backfill_dates(spark, lambda _d: BATCH, [JAN15], path, PARITY_SCHEMA, PARITY_KEYS)
    assert n == {JAN15: len(written)}
    return sorted(map(repr, written)), sorted(map(repr, want))


@pytest.mark.parametrize("zone", ["UTC", "Europe/Zurich"])
@pytest.mark.parametrize("stamps", ["INT96", "TIMESTAMP_MICROS", "TIMESTAMP_MILLIS"])
def test_backfill_inserts_what_a_spark_left_anti_join_keeps(
    spark, tmp_path, monkeypatch, zone, stamps
):
    """Differential check of the driver-side key check against Spark: for
    the same stored partitions and batch, the rows inserted equal the
    ``left_anti`` join's, on the first run and on the re-run. NaN keys
    match NaN, -0.0 matches 0.0, a key with a null never matches (so that
    row is inserted again on every run), and stored stamps match whatever
    parquet type Spark wrote them as."""
    path = str(tmp_path / "bronze")
    conf = {"spark.sql.session.timeZone": zone, "spark.sql.parquet.outputTimestampType": stamps}
    before = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        for rows in STORED:
            write_bronze(local_frame(spark, rows, PARITY_SCHEMA), path)
        files = _parquet_files(os.path.join(path, f"p_date={JAN15}"))
        assert len(files) > 1
        assert {pq.ParquetFile(f).schema.column(0).physical_type for f in files} == {
            "INT96" if stamps == "INT96" else "INT64"
        }
        first, want = _inserted_and_left_anti(spark, monkeypatch, path)
        assert first == want
        assert 0 < len(first) < len(BATCH)
        again, want = _inserted_and_left_anti(spark, monkeypatch, path)
        assert again == want
        # A null key, and a sub-millisecond stamp stored as milliseconds,
        # match nothing: such rows are inserted again on every run.
        lossy = stamps == "TIMESTAMP_MILLIS"
        assert len(again) == sum(
            r["k"] is None or (lossy and r["time"].microsecond % 1000 > 0) for r in BATCH
        )
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("error", [TypeError("bad field"), KeyError("time")])
def test_backfill_fails_on_a_parse_error_without_retrying(tmp_path, error):
    """Only fetch errors (OSError) are retried; a parser bug fails the
    feed-day on the first attempt instead of sleeping through the back-off
    and reporting the day as unavailable."""
    naps, calls = [], []

    def fetch(d):
        calls.append(d)
        raise error

    day = dt.date(2026, 5, 1)
    with pytest.raises(type(error)):
        backfill_dates(None, fetch, [day], str(tmp_path / "b"), SCHEMA, KEYS, sleep=naps.append)
    assert calls == [day] and naps == []
