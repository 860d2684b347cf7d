"""Feature-export pipeline: the Spark re-expression of the reference's
``run_export`` / ``run_load_export`` (reference
src/processing/export_pipeline.py:296-369,563-678).

Stages (all distributed until the final writes):
  leakage guard (P6) -> feature view scan -> freshness gate (T3) ->
  holiday/calendar enrichment (D1/D2 as a broadcast dimension table, not
  a UDF) -> temp_deviation (A7, windowed daily mean) -> target-NaN drop
  (P5) -> chronological split (D4) -> parquet sinks (S15).

The clock is injectable everywhere (SURVEY §7.3: NOW()-relative logic
must be testable).
"""

from __future__ import annotations

import datetime as dt
import os
from collections.abc import Callable, Iterable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatasmallprice_spark.caching import persisted, scan_persisted
from bigdatasmallprice_spark.operators.splits import (
    rolling_split_bounds,
    split_by_dates,
    split_label_by_ratio,
)
from bigdatasmallprice_spark.session import local_frame

# Model B feature list — the training_features view columns minus time &
# target (reference export_pipeline.py:33-74 FEATURE_COLS)
FEATURE_COLS: tuple[str, ...] = (
    "lag_1h", "lag_24h", "lag_168h", "rolling_avg_24h", "rolling_avg_7d",
    "hour_of_day", "day_of_week", "month", "is_weekend", "is_peak_hour",
    "temperature_2m", "wind_speed_10m", "shortwave_radiation", "cloud_cover",
    "precipitation_mm", "temp_rolling_avg_24h", "wind_speed_de_nord",
    "solar_de_nord", "solar_de_sued", "wind_speed_de_sued",
    "hydro_ror_ch_lag_24h", "hydro_ror_ch_lag_168h", "solar_gen_ch_lag_24h",
    "solar_gen_ch_lag_168h", "wind_gen_de_lag_24h", "wind_gen_de_lag_168h",
    "actual_load_ch_lag_24h", "actual_load_ch_lag_168h",
    "net_position_ch_lag_24h", "net_position_ch_lag_168h", "load_forecast_ch",
)
TARGET_COL = "price_eur_mwh"

LOAD_FEATURE_COLS: tuple[str, ...] = (
    "hour_of_day", "day_of_week", "month", "quarter", "is_weekend",
    "load_lag_1h", "load_lag_1d", "load_lag_7d", "load_rolling_avg_24h",
    "temperature_2m", "wind_speed_10m", "shortwave_radiation", "cloud_cover",
    "precipitation_mm", "pv_feed_in_kwh", "is_holiday_zh", "is_school_holiday",
    "temp_deviation",
)
LOAD_TARGET_COL = "net_load_kwh"

# ops-metadata columns that must never appear in features (P6 isolation,
# reference export_pipeline.py:96-127 + init.sql:370-372)
FORBIDDEN_COLS = frozenset(
    {"id", "source", "called_at", "status_code", "was_rate_limited",
     "response_ms", "date_fetched"}
)


def validate_no_leakage(feature_cols: list[str], target_col: str) -> None:
    """Raise if the target or any api_call_log column leaks into features."""
    if target_col in feature_cols:
        raise ValueError(f"target {target_col!r} leaked into feature list")
    bad = FORBIDDEN_COLS.intersection(feature_cols)
    if bad:
        raise ValueError(f"ops-metadata columns in features: {sorted(bad)}")


def freshness_check(
    df: DataFrame, time_col: str, clock: dt.datetime, max_age_hours: int = 26
) -> DataFrame:
    """Fail the export when the newest row is stale (T3), else return
    ``df``. A naive ``clock`` is read as UTC, like the naive timestamps
    Spark returns."""
    mx = df.agg(F.max(time_col)).collect()[0][0]
    if mx is None:
        raise ValueError("empty feature frame")
    if mx.tzinfo is None:
        mx = mx.replace(tzinfo=dt.timezone.utc)
    if clock.tzinfo is None:
        clock = clock.replace(tzinfo=dt.timezone.utc)
    age = (clock - mx).total_seconds() / 3600.0
    if age > max_age_hours:
        raise ValueError(f"stale features: newest row {age:.1f}h old (> {max_age_hours}h)")
    return df


# --------------------------------------------------------------------------
# D1/D2 — holiday flags as a broadcast dimension table (not a UDF)
# --------------------------------------------------------------------------

def _easter(year: int) -> dt.date:
    """Gregorian Easter (anonymous/Meeus algorithm, public domain)."""
    a = year % 19
    b, c = divmod(year, 100)
    d, e = divmod(b, 4)
    g = (8 * b + 13) // 25
    h = (19 * a + b - d - g + 15) % 30
    i, k = divmod(c, 4)
    l = (32 + 2 * e + 2 * i - h - k) % 7
    m = (a + 11 * h + 22 * l) // 451
    month, day = divmod(h + l - 7 * m + 114, 31)
    return dt.date(year, month, day + 1)


def zh_holidays(year: int) -> set[dt.date]:
    """Canton Zurich public holidays (fixed + Easter-derived)."""
    e = _easter(year)
    return {
        dt.date(year, 1, 1),                    # Neujahr
        dt.date(year, 1, 2),                    # Berchtoldstag
        e - dt.timedelta(days=2),               # Karfreitag
        e + dt.timedelta(days=1),               # Ostermontag
        dt.date(year, 5, 1),                    # Tag der Arbeit
        e + dt.timedelta(days=39),              # Auffahrt
        e + dt.timedelta(days=50),              # Pfingstmontag
        dt.date(year, 8, 1),                    # Nationalfeiertag
        dt.date(year, 12, 25),                  # Weihnachten
        dt.date(year, 12, 26),                  # Stephanstag
    }


# representative ZH school-holiday windows (the reference hardcodes 60+
# ranges 2013-2026, export_pipeline.py:409-534; the mechanism — interval
# dimension + join — is what scales; ranges are pluggable config)
DEFAULT_SCHOOL_RANGES: tuple[tuple[str, str], ...] = (
    ("{y}-02-10", "{y}-02-21"),  # Sportferien
    ("{y}-04-20", "{y}-05-01"),  # Fruehlingsferien
    ("{y}-07-13", "{y}-08-15"),  # Sommerferien
    ("{y}-10-05", "{y}-10-17"),  # Herbstferien
    ("{y}-12-24", "{y}-12-31"),  # Weihnachtsferien
)


def holiday_dim(
    spark: SparkSession,
    start: dt.date,
    end: dt.date,
    school_ranges: tuple[tuple[str, str], ...] = DEFAULT_SCHOOL_RANGES,
) -> DataFrame:
    """(date, is_holiday_zh, is_school_holiday) dimension spanning
    [start, end] — broadcast-joined on to_date(time); replaces the
    reference's per-row Python holiday lookups (D1/D2) with a dim join,
    the scale-correct form."""
    days = (end - start).days + 1
    dates = [start + dt.timedelta(days=i) for i in range(days)]
    hol: set[dt.date] = set()
    school: set[dt.date] = set()
    for y in range(start.year, end.year + 1):
        hol |= zh_holidays(y)
        for a, b in school_ranges:
            d0 = dt.date.fromisoformat(a.format(y=y))
            d1 = dt.date.fromisoformat(b.format(y=y))
            d = d0
            while d <= d1:
                school.add(d)
                d += dt.timedelta(days=1)
    rows = [
        (d, 1 if d in hol else 0, 1 if d in school else 0) for d in dates
    ]
    return local_frame(spark, rows, "d date, is_holiday_zh int, is_school_holiday int")


def enrich_load_features(df: DataFrame, dim: DataFrame) -> DataFrame:
    """Join holiday flags + add temp_deviation = temp − daily mean temp
    (A7, export_pipeline.py:617-621)."""
    wd = Window.partitionBy(F.to_date(F.col("time")))
    out = (
        df.withColumn("d", F.to_date(F.col("time")))
        .join(F.broadcast(dim), "d", "left")
        .drop("d")
        .withColumn(
            "temp_deviation",
            F.col("temperature_2m") - F.avg("temperature_2m").over(wd),
        )
    )
    return out.fillna({"is_holiday_zh": 0, "is_school_holiday": 0})


# --------------------------------------------------------------------------
# run_export / run_load_export
# --------------------------------------------------------------------------

def label_splits(df: DataFrame, target_col: str) -> DataFrame:
    """The chronological split rule (D4) of both model surfaces, shared
    by export, training and validation through ``persisted_splits``. The
    net-load surface (``LOAD_TARGET_COL``) drops NaN targets, then holds
    out the last 7 days as test and the 14 before them as val
    (export_pipeline.py:563-642); the price surface splits 70/15/15 in
    time order (export_pipeline.py:296-369)."""
    if target_col == LOAD_TARGET_COL:
        df = df.na.drop(subset=[target_col])
        train_end, val_end = rolling_split_bounds(df, "time", 7, 14)
        return split_by_dates(df, "time", train_end, val_end)
    return split_label_by_ratio(df, ["time"], 0.7, 0.15)


@contextmanager
def persisted_splits(
    df: DataFrame,
    target_col: str,
    cols: Iterable[str],
    prepare: Callable[[DataFrame], DataFrame] | None = None,
):
    """Evaluate ``df`` once, label it with ``label_splits`` and yield the
    labeled frame, persisted for the block. Export, training and
    validation all split a feature view through here.

    The projection of ``df`` on ``cols`` is persisted BEFORE the split
    rule runs: the ratio split reads its input three times (the band
    table, the join back and the row count), and each read of an
    uncached view plans and scans all of its bronze tables again.
    ``prepare`` runs on that persisted projection before the split (the
    exports check freshness and add the holiday columns there). The
    labeled frame is persisted as well, so each action of the block
    reads it instead of re-running the split, and every action sees the
    same labels; it is yielded through ``scan_persisted``, so the frames
    the block builds on it do not re-plan the view. Both entries are
    released on exit, also when the block raises."""
    with persisted(df.select(*cols)) as projection:
        frame = prepare(projection) if prepare is not None else projection
        with persisted(label_splits(frame, target_col)) as labeled:
            yield scan_persisted(labeled)


def _export(
    df: DataFrame,
    feature_cols: tuple[str, ...],
    target_col: str,
    out_dir: str,
    prepare: Callable[[DataFrame], DataFrame],
) -> dict[str, str]:
    """Split the view's feature, target and time columns once and write
    X/y per split and the val/test timestamps. All eight writes read the
    one persisted labeled frame, so row i of X_<split>, y_<split> and
    timestamps_<split> is the same row."""
    paths: dict[str, str] = {}
    cols = [c for c in (*feature_cols, target_col, "time") if c in df.columns]
    with persisted_splits(df, target_col, cols, prepare) as labeled:
        present = [c for c in feature_cols if c in labeled.columns]
        for split in ("train", "val", "test"):
            part = labeled.filter(F.col("split") == split)
            xp = os.path.join(out_dir, f"X_{split}.parquet")
            yp = os.path.join(out_dir, f"y_{split}.parquet")
            part.select(*present).write.mode("overwrite").parquet(xp)
            part.select(target_col).write.mode("overwrite").parquet(yp)
            paths[f"X_{split}"], paths[f"y_{split}"] = xp, yp
            if split in ("val", "test"):
                tp = os.path.join(out_dir, f"timestamps_{split}.parquet")
                part.select("time").write.mode("overwrite").parquet(tp)
                paths[f"timestamps_{split}"] = tp
    return paths


def run_export(
    spark: SparkSession, out_dir: str, clock: dt.datetime, max_age_hours: int = 26
) -> dict[str, str]:
    """Model B export: leakage check -> training_features -> freshness ->
    70/15/15 chronological split -> parquet (export_pipeline.py:296-369)."""
    validate_no_leakage(list(FEATURE_COLS), TARGET_COL)
    return _export(
        spark.sql("SELECT * FROM training_features"),
        FEATURE_COLS,
        TARGET_COL,
        out_dir,
        lambda base: freshness_check(base, "time", clock, max_age_hours),
    )


def run_load_export(
    spark: SparkSession, out_dir: str, clock: dt.datetime, max_age_hours: int = 72
) -> dict[str, str]:
    """Model A export: holiday flags + temp_deviation -> NaN-target drop
    -> rolling date split (test=7d, val=14d) (export_pipeline.py:563-678)."""
    validate_no_leakage(list(LOAD_FEATURE_COLS), LOAD_TARGET_COL)

    def prepare(base: DataFrame) -> DataFrame:
        freshness_check(base, "time", clock, max_age_hours)
        span = base.agg(F.min(F.to_date("time")), F.max(F.to_date("time"))).collect()[0]
        return enrich_load_features(base, holiday_dim(spark, span[0], span[1]))

    return _export(
        spark.sql("SELECT * FROM winterthur_net_load_features"),
        LOAD_FEATURE_COLS,
        LOAD_TARGET_COL,
        out_dir,
        prepare,
    )
