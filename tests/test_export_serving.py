"""Export pipeline + serving facade tests over the synthetic domain data."""

from __future__ import annotations

import collections
import datetime as dt
import math
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bigdatasmallprice_spark.export import (
    FEATURE_COLS,
    LOAD_FEATURE_COLS,
    freshness_check,
    run_export,
    run_load_export,
    validate_no_leakage,
    zh_holidays,
)
from bigdatasmallprice_spark.plans.feature_views import register_views
from bigdatasmallprice_spark.serving import (
    backfill_estimate,
    explore_rows,
    forecast_tariff,
    latest_features,
    price_history,
    rate_limit_stats,
    table_stats,
    timeseries,
)
from tests.domain_data import START, domain_frames
from tests.spark_jobs import job_group

UTC = dt.timezone.utc


@pytest.fixture(scope="module")
def domain(spark):
    sdfs = domain_frames(spark)
    # ops log for rate-limit stats
    log = [
        (i, "entsoe", dt.datetime(2026, 2, 14, 12, 0) + dt.timedelta(minutes=i), 200, i % 5 == 0, 120 + i)
        for i in range(50)
    ]
    sdfs["api_call_log"] = spark.createDataFrame(
        log, "id long, source string, called_at timestamp, status_code int, was_rate_limited boolean, response_ms int"
    ).withColumn("date_fetched", F.lit("2026-02-14"))
    register_views(spark, sdfs)
    return spark


def test_leakage_guard():
    validate_no_leakage(list(FEATURE_COLS), "price_eur_mwh")
    validate_no_leakage(list(LOAD_FEATURE_COLS), "net_load_kwh")
    with pytest.raises(ValueError, match="leaked"):
        validate_no_leakage(["lag_1h", "price_eur_mwh"], "price_eur_mwh")
    with pytest.raises(ValueError, match="ops-metadata"):
        validate_no_leakage(["lag_1h", "was_rate_limited"], "price_eur_mwh")


def test_freshness_gate(domain):
    spark = domain
    df = spark.table("training_features")
    fresh_clock = dt.datetime(2026, 2, 15, 6, 0, tzinfo=UTC)  # data ends 2026-02-15
    freshness_check(df, "time", fresh_clock, 26)
    with pytest.raises(ValueError, match="stale"):
        freshness_check(df, "time", fresh_clock + dt.timedelta(days=10), 26)


def test_run_export_roundtrip(domain, tmp_path):
    spark = domain
    clock = dt.datetime(2026, 2, 15, 6, 0, tzinfo=UTC)
    paths = run_export(spark, str(tmp_path / "exp"), clock)
    x_train = spark.read.parquet(paths["X_train"])
    y_train = spark.read.parquet(paths["y_train"])
    assert x_train.count() == y_train.count() > 0
    assert set(x_train.columns) <= set(FEATURE_COLS)
    n_total = sum(
        spark.read.parquet(paths[f"X_{s}"]).count() for s in ("train", "val", "test")
    )
    assert n_total == spark.table("training_features").count()
    # chronological: max train time < min test time via timestamps files
    ts_val = spark.read.parquet(paths["timestamps_val"]).agg(F.min("time")).collect()[0][0]
    ts_test = spark.read.parquet(paths["timestamps_test"]).agg(F.min("time")).collect()[0][0]
    assert ts_val < ts_test


def test_run_load_export_with_holidays(domain, tmp_path):
    spark = domain
    clock = dt.datetime(2026, 2, 15, 6, 0, tzinfo=UTC)
    paths = run_load_export(spark, str(tmp_path / "lexp"), clock)
    x = spark.read.parquet(paths["X_train"])
    assert "is_holiday_zh" in x.columns and "temp_deviation" in x.columns
    flags = x.select(F.collect_set("is_holiday_zh")).collect()[0][0]
    assert set(flags) <= {0, 1}
    # Jan 1 is a ZH holiday -> some rows must be flagged
    assert x.filter(F.col("is_holiday_zh") == 1).count() > 0
    # test split is the last 7 days
    ts_test = spark.read.parquet(paths["timestamps_test"])
    n_days = ts_test.select(F.countDistinct(F.to_date("time"))).collect()[0][0]
    assert n_days <= 7


def _file_order_rows(path: str) -> list[dict]:
    """A written parquet directory's rows in file order (part files sort
    by task index)."""
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    return pa.concat_tables([pq.read_table(os.path.join(path, f)) for f in files]).to_pylist()


def _value(v):
    """Hashable comparison key: NULL and NaN alike, floats to 12 digits."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return float(f"{v:.12g}") if isinstance(v, float) else v


@pytest.mark.parametrize(
    "export, view, target, drops_null_target",
    [
        (run_export, "training_features", "price_eur_mwh", False),
        (run_load_export, "winterthur_net_load_features", "net_load_kwh", True),
    ],
    ids=["energy", "load"],
)
def test_export_files_are_row_aligned(domain, tmp_path, export, view, target, drops_null_target):
    """Row i of X_<split>, y_<split> and timestamps_<split> is one row of
    the view: at timestamps[i] for val/test, and as (X, y) pairs for train,
    which writes no timestamps."""
    spark = domain
    paths = export(spark, str(tmp_path / "exp"), dt.datetime(2026, 2, 15, 6, 0, tzinfo=UTC))
    by_time = {
        r["time"]: r.asDict()
        for r in spark.table(view).collect()
        if not (drops_null_target and r[target] is None)
    }
    view_cols = next(iter(by_time.values())).keys()
    held_out = set()
    for split in ("val", "test", "train"):
        xs, ys = _file_order_rows(paths[f"X_{split}"]), _file_order_rows(paths[f"y_{split}"])
        assert len(xs) == len(ys) > 0, split
        cols = [c for c in xs[0] if c in view_cols] + [target]

        def key(row):
            return tuple(_value(row[c]) for c in cols)

        got = [key({**x, **y}) for x, y in zip(xs, ys)]
        if split == "train":
            want = [key(r) for t, r in by_time.items() if t not in held_out]
            assert collections.Counter(got) == collections.Counter(want)
            continue
        ts = [r["time"] for r in _file_order_rows(paths[f"timestamps_{split}"])]
        assert len(ts) == len(got), split
        held_out.update(ts)
        for i, t in enumerate(ts):
            assert got[i] == key(by_time[t]), (split, i, t)


def test_zh_holiday_calendar():
    h = zh_holidays(2026)
    assert dt.date(2026, 1, 1) in h and dt.date(2026, 8, 1) in h
    assert dt.date(2026, 4, 3) in h  # Karfreitag 2026 (Easter = Apr 5)
    assert dt.date(2026, 4, 6) in h  # Ostermontag


def test_serving_latest_and_history(domain):
    spark = domain
    latest = latest_features(spark).collect()
    assert len(latest) == 1
    mx = spark.table("training_features").agg(F.max("time")).collect()[0][0]
    assert latest[0]["time"] == mx
    hist = price_history(spark, hours=48).collect()
    assert 0 < len(hist) <= 48
    assert hist == sorted(hist, key=lambda r: r["time"])


def test_serving_pagination_and_guards(domain):
    spark = domain
    page1 = explore_rows(spark, "entsoe_day_ahead_prices", 50, 0).collect()
    page2 = explore_rows(spark, "entsoe_day_ahead_prices", 50, 50).collect()
    assert len(page1) == len(page2) == 50
    assert {r["time"] for r in page1}.isdisjoint({r["time"] for r in page2})
    with pytest.raises(ValueError, match="whitelist"):
        explore_rows(spark, "secrets", 10, 0)


def test_serving_timeseries_horizon_downsample(domain):
    spark = domain
    clock = dt.datetime(2026, 2, 15, 0, 0)
    ts = timeseries(spark, "entsoe_day_ahead_prices", clock, "7 days", chart_points=100)
    rows = ts.collect()
    assert 0 < len(rows) <= 100
    assert min(r["time"] for r in rows) >= clock - dt.timedelta(days=7)


def test_serving_stats_and_backfill(domain):
    spark = domain
    stats = {r["tbl"]: r for r in table_stats(spark, ["entsoe_day_ahead_prices", "winterthur_load"]).collect()}
    assert stats["entsoe_day_ahead_prices"]["n_rows"] > 1000
    rl = rate_limit_stats(spark, dt.datetime(2026, 2, 14, 13, 0)).collect()
    assert rl and rl[0]["n_rate_limited"] > 0
    est = backfill_estimate(
        spark, "entsoe_day_ahead_prices", START.date() - dt.timedelta(days=10), START.date() + dt.timedelta(days=5)
    )
    assert est["days_missing"] == 10
    assert est["estimated_seconds"] == 15.0


def test_forecast_tariff_roundtrip(domain):
    out = forecast_tariff(525.0, 80.0, domain)
    assert out["netzpreis_rp_kwh"] == 5.0
    assert out["energiepreis_rp_kwh"] == 3.2
    assert out["gesamttarif_rp_kwh"] == 8.2
    assert out["level"] == "low"
    # the level is read off the total as served, rounded to 2 decimals:
    # an unrounded 14.99575 Rp/kWh shows as 15.0 and reads "medium"
    out = forecast_tariff(525.0, 533.05, domain)
    assert out["netzpreis_rp_kwh"] == 5.0
    assert out["gesamttarif_rp_kwh"] == 15.0
    assert out["level"] == "medium"
    # no net-load prediction: the standard Netz tariff
    out = forecast_tariff(None, 80.0, domain)
    assert out["netzpreis_rp_kwh"] == 10.0
    assert out["gesamttarif_rp_kwh"] == 13.2
    assert out["level"] == "low"


def test_forecast_tariff_submits_no_spark_job(spark):
    """The tariff tail is a projection of a one-row local relation, which
    Spark folds at plan time: a forecast request runs no job."""
    with job_group(spark, "forecast-tariff") as jobs:
        out = forecast_tariff(525.0, 80.0, spark)
    assert out["gesamttarif_rp_kwh"] == 8.2
    assert jobs == []


# ── auth (F14): password hash + HS256 JWT ─────────────────────────────────


def test_password_hash_matches_hashlib(spark):
    import hashlib

    from bigdatasmallprice_spark.functions.auth import hash_password, verify_password

    df = spark.createDataFrame([("hunter2",), ("pa55w0rd",)], ["pw"])
    got = {r.pw: r.h for r in df.select("pw", hash_password(F.col("pw")).alias("h")).collect()}
    for pw, h in got.items():
        assert h == hashlib.sha256(pw.encode()).hexdigest()
    ok = df.withColumn("stored", hash_password(F.col("pw"))).select(
        verify_password(F.col("pw"), F.col("stored")).alias("v")
    )
    assert all(r.v for r in ok.collect())


def test_jwt_roundtrip_tamper_expiry(spark):
    from bigdatasmallprice_spark.functions.auth import (
        jwt_decode_py,
        jwt_encode,
        jwt_encode_py,
        jwt_validate,
    )

    secret, now = "s3cret", 1_700_000_000
    # pure-python reference semantics
    tok = jwt_encode_py("alice", now + 3600, secret)
    assert jwt_decode_py(tok, secret, now) == {
        "sub": "alice", "exp": now + 3600, "valid": True, "error": None,
    }
    assert jwt_decode_py(tok, secret, now + 7200)["error"] == "expired"
    assert jwt_decode_py(tok + "x", secret, now)["error"] == "invalid"
    assert jwt_decode_py(tok, "wrong", now)["error"] == "invalid"

    # distributed mint + validate round-trip; includes a tampered token
    users = spark.createDataFrame(
        [("alice", now + 3600), ("bob", now - 10)], ["sub", "exp"]
    )
    minted = users.withColumn("tok", jwt_encode(F.col("sub"), F.col("exp"), secret))
    checked = minted.select(
        "sub", jwt_validate(F.col("tok"), secret, now).alias("c")
    ).select("sub", "c.*")
    rows = {r.sub: r for r in checked.collect()}
    assert rows["alice"].valid and rows["alice"].error is None
    assert not rows["bob"].valid and rows["bob"].error == "expired"
    tampered = minted.select(
        jwt_validate(F.concat(F.col("tok"), F.lit("x")), secret, now).alias("c")
    ).select("c.*")
    assert all(r.error == "invalid" for r in tampered.collect())


def test_forecast_composition_full(domain, tmp_path):
    """The one-call /api/forecast path (main.py:260-352): latest
    features -> both models -> tariff breakdown -> traffic light."""
    from bigdatasmallprice_spark import modelstore
    from bigdatasmallprice_spark.operators.linreg import fit_linear_hour_dow
    from bigdatasmallprice_spark.serving import forecast

    spark = domain
    d = str(tmp_path / "models")
    prices = spark.table("entsoe_day_ahead_prices").withColumn("k", F.lit("all"))
    loads = spark.table("winterthur_net_load_features").withColumn(
        "k", F.lit("all")
    )
    modelstore.save_model(
        d,
        "model_epex",
        fit_linear_hour_dow(prices, "k", ts_col="time", value_col="price_eur_mwh"),
        version="20260214T000000",
    )
    modelstore.save_model(
        d,
        "model_load",
        fit_linear_hour_dow(loads, "k", ts_col="time", value_col="net_load_kwh"),
        version="20260214T000000",
    )

    out = forecast(spark, d)
    assert set(out) == {
        "time",
        "predicted_price_eur_mwh",
        "netzpreis_rp_kwh",
        "energiepreis_rp_kwh",
        "gesamttarif_rp_kwh",
        "price_rp_kwh",
        "price_level",
        "net_load_available",
    }
    assert out["net_load_available"] is True
    assert out["price_rp_kwh"] == out["gesamttarif_rp_kwh"]
    assert out["gesamttarif_rp_kwh"] == pytest.approx(
        out["netzpreis_rp_kwh"] + out["energiepreis_rp_kwh"], abs=0.011
    )
    assert out["price_level"] in {"low", "medium", "high"}
    # level consistent with the reference thresholds on gesamt
    g = out["gesamttarif_rp_kwh"]
    want = "low" if g < 15 else ("high" if g > 22 else "medium")
    assert out["price_level"] == want
    # time is the newest feature row's time
    newest = latest_features(spark).collect()[0]["time"]
    assert out["time"] == newest.isoformat()


def test_forecast_degrades_without_load_model(domain, tmp_path):
    """main.py:316-331: no Model A -> energy-only estimate with the
    standard Netz tariff, flagged via net_load_available."""
    from bigdatasmallprice_spark import modelstore
    from bigdatasmallprice_spark.functions.tariffs import DEFAULT_NETZ_STANDARD
    from bigdatasmallprice_spark.operators.linreg import fit_linear_hour_dow
    from bigdatasmallprice_spark.serving import forecast

    spark = domain
    d = str(tmp_path / "models")
    prices = spark.table("entsoe_day_ahead_prices").withColumn("k", F.lit("all"))
    modelstore.save_model(
        d,
        "model_epex",
        fit_linear_hour_dow(prices, "k", ts_col="time", value_col="price_eur_mwh"),
        version="20260214T000000",
    )
    out = forecast(spark, d)
    assert out["net_load_available"] is False
    assert out["netzpreis_rp_kwh"] == pytest.approx(DEFAULT_NETZ_STANDARD)
    assert out["gesamttarif_rp_kwh"] == pytest.approx(
        DEFAULT_NETZ_STANDARD + out["energiepreis_rp_kwh"], abs=0.011
    )


def test_forecast_without_price_model_raises(domain, tmp_path):
    """main.py:349-350: no trained price model -> the 503 path."""
    from bigdatasmallprice_spark.serving import forecast

    with pytest.raises(FileNotFoundError):
        forecast(domain, str(tmp_path / "empty_models"))


def test_api_serialization_matches_reference_semantics(spark):
    """F13 (main.py:127-134): Decimal -> float, anything with isoformat
    -> ISO string, None passthrough — plus the bulk JVM-side JSON twin."""
    import json
    from decimal import Decimal

    from bigdatasmallprice_spark.functions.serialization import (
        serialize_rows,
        serialize_value,
        with_api_json,
    )

    assert serialize_value(None) is None
    assert serialize_value(Decimal("12.50")) == 12.5
    assert isinstance(serialize_value(Decimal("12.50")), float)
    assert serialize_value(dt.datetime(2026, 2, 14, 12, 30)) == "2026-02-14T12:30:00"
    assert serialize_value(dt.date(2026, 2, 14)) == "2026-02-14"
    assert serialize_value("x") == "x" and serialize_value(3) == 3

    df = spark.createDataFrame(
        [(1, dt.datetime(2026, 2, 14, 12, 30), Decimal("12.50"), None)],
        "id long, t timestamp, price decimal(10,2), note string",
    )
    rows = serialize_rows(df)
    assert rows == [{"id": 1, "t": "2026-02-14T12:30:00", "price": 12.5, "note": None}]

    # bulk twin: pure-JVM to_json with the same conventions
    j = json.loads(with_api_json(df).collect()[0]["json"])
    assert j == {"id": 1, "t": "2026-02-14T12:30:00", "price": 12.5}
