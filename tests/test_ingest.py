"""ingest.backfill_dates: the driver-side paths of the daily ETL — the
in-batch dedup, the touched-partition read and the Spark job budget of
a feed-day."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from bigdatasmallprice_spark import ingest
from bigdatasmallprice_spark.catalog import write_bronze
from bigdatasmallprice_spark.ingest import backfill_dates
from tests.spark_jobs import job_group

SCHEMA = "time timestamp, k string, v double"
KEYS = ["time", "k"]
CET = dt.timezone(dt.timedelta(hours=1))


def _hourly(d: dt.date, tz: dt.tzinfo | None = None) -> list[dict]:
    return [
        {"time": dt.datetime(d.year, d.month, d.day, h, tzinfo=tz), "k": k, "v": float(h)}
        for h in range(24)
        for k in ("a", "b")
    ]


def test_backfill_topup_and_rerun_job_budget(spark, tmp_path):
    """A day that touches no existing partition of the table is one write
    job of one file; its idempotent re-run is a small anti-join over that
    day's partition and no write."""
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
    assert len(rerun) <= 2, rerun
    assert spark.read.parquet(path).count() == 144


def test_backfill_batch_is_a_local_relation(spark, tmp_path, monkeypatch):
    """A feed-day reaches the JVM as an Arrow local relation, both on the
    write path and through the anti-join: no plan scans a pickled RDD."""
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


@pytest.mark.parametrize("zone", ["Europe/Zurich", "+02:00"])
def test_backfill_partitions_follow_the_session_time_zone(spark, tmp_path, zone):
    """write_bronze names p_date in the session time zone; the re-run must
    look in those same directories. At UTC+2 (Zurich in May, or a fixed
    offset) the last two UTC hours of a day land in the next date's
    partition, and the re-run still finds them."""
    path = str(tmp_path / "bronze")
    d = dt.date(2026, 5, 2)

    def fetch(day):
        return _hourly(day, tz=dt.timezone.utc)

    session_zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        assert backfill_dates(spark, fetch, [d], path, SCHEMA, KEYS) == {d: 48}
        parts = sorted(p for p in os.listdir(path) if p.startswith("p_date="))
        assert parts == [f"p_date={d}", f"p_date={d + dt.timedelta(days=1)}"]
        assert backfill_dates(spark, fetch, [d], path, SCHEMA, KEYS) == {d: 0}
    finally:
        spark.conf.set("spark.sql.session.timeZone", session_zone)
    assert spark.read.parquet(path).count() == 48
