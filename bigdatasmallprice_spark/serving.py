"""Serving-layer engine methods — the FastAPI query surface of the
reference (src/api/main.py) as DataFrame-returning engine calls.

Every method takes an injectable ``clock`` where the original used
NOW(); every table access goes through the whitelist (P8). The HTTP
layer itself is out of engine scope — these are the compute surface the
routes call.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatasmallprice_spark.functions.tariffs import (
    DEFAULT_NETZ_STANDARD,
    energiepreis,
    gesamttarif,
    netzpreis,
    traffic_light,
)
from bigdatasmallprice_spark.operators.topk import history, paginate, stride_downsample

SERVING_TABLES = frozenset(
    {
        "entsoe_day_ahead_prices", "weather_hourly", "ekz_tariffs_raw",
        "bafu_hydro", "ckw_tariffs_raw", "groupe_e_tariffs_raw",
        "entsoe_actual_load", "entsoe_generation", "entsoe_crossborder_flows",
        "entsoe_load_forecast", "api_call_log", "winterthur_load",
        "winterthur_pv", "training_features", "winterthur_net_load_features",
        "ekz_tariffs_hourly", "ckw_tariffs_hourly", "groupe_e_tariffs_hourly",
    }
)


def _view(spark: SparkSession, table: str) -> DataFrame:
    if table not in SERVING_TABLES:  # P8 whitelist (main.py:55-76)
        raise ValueError(f"table {table!r} not in serving whitelist")
    return spark.table(table)


def latest_features(spark: SparkSession, view: str = "training_features") -> DataFrame:
    """O1 — ORDER BY time DESC LIMIT 1 (main.py:277-291)."""
    return _view(spark, view).orderBy(F.col("time").desc()).limit(1)


def run_registered(spark: SparkSession, name: str, sf_dir: str) -> list:
    """Serve one registered analytics query by name under the
    cache-release discipline: any persist the query creates (dedup
    signatures, span explodes) is unpersisted once its rows have been
    materialized, so a long-lived serving session's executor storage
    stays bounded across many requests (caching.py; the bench harness
    achieves the same with clearCache between queries)."""
    from bigdatasmallprice_spark.caching import run_query_released

    return run_query_released(spark, name, sf_dir)


def price_history(spark: SparkSession, hours: int = 48) -> DataFrame:
    """O2 — newest N hourly prices, ascending (main.py:355-372)."""
    df = _view(spark, "entsoe_day_ahead_prices").select("time", "price_eur_mwh")
    return history(df, "time", "price_eur_mwh", hours)


def explore_rows(
    spark: SparkSession, table: str, limit: int = 100, offset: int = 0
) -> DataFrame:
    """O3 — row explorer pagination (main.py:429-452); limit capped at
    100 rows/page like the reference."""
    return paginate(_view(spark, table), ["time"], min(limit, 100), offset)


def timeseries(
    spark: SparkSession,
    table: str,
    clock: dt.datetime,
    horizon: str = "7 days",
    max_rows: int = 10000,
    chart_points: int | None = 500,
) -> DataFrame:
    """P7 + O4 + O7 — horizon-filtered series, 10k guard, optional
    downsample (main.py:470-535, 1038-1045). Bronze tables and feature
    views carry ``time``; the tariff rollups carry ``hour``."""
    df = _view(spark, table)
    ts = "time" if "time" in df.columns else "hour"
    df = df.filter(F.col(ts) >= F.lit(clock) - F.expr(f"INTERVAL {horizon}"))
    guarded = df.orderBy(ts).limit(max_rows)
    if chart_points:
        return stride_downsample(guarded, [ts], chart_points)
    return guarded


def table_stats(spark: SparkSession, tables: list[str]) -> DataFrame:
    """A3 — per-table count/min/max sweep (main.py:380-398)."""
    out = None
    for t in tables:
        d = _view(spark, t).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("time").alias("min_time"),
            F.max("time").alias("max_time"),
        ).select(F.lit(t).alias("tbl"), "n_rows", "min_time", "max_time")
        out = d if out is None else out.unionByName(d)
    return out


def rate_limit_stats(spark: SparkSession, clock: dt.datetime) -> DataFrame:
    """A4/A5 — per-source 24h call/rate-limit rollup over api_call_log
    (main.py:663-690)."""
    df = _view(spark, "api_call_log").filter(
        F.col("called_at") >= F.lit(clock) - F.expr("INTERVAL 24 HOURS")
    )
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_calls"),
        F.coalesce(F.sum(F.when(F.col("was_rate_limited"), F.lit(1))), F.lit(0)).alias(
            "n_rate_limited"
        ),
        F.max(F.when(F.col("was_rate_limited"), F.col("called_at"))).alias(
            "last_rate_limited_at"
        ),
        F.avg("response_ms").alias("avg_response_ms"),
    )


def rate_limit_history(
    spark: SparkSession, clock: dt.datetime, days: int = 7
) -> DataFrame:
    """T4/A5 — hourly call counts per source over the trailing window
    (reference main.py:719-752; time_bucket -> date_trunc). Output is
    (source, hour, calls) ordered for the chart; grouping keys bound
    the result at sources x hours regardless of call volume."""
    return (
        _view(spark, "api_call_log")
        .filter(
            F.col("called_at")
            >= F.lit(clock) - F.expr(f"INTERVAL {int(days)} DAYS")
        )
        .groupBy("source", F.date_trunc("hour", "called_at").alias("hour"))
        .agg(F.count(F.lit(1)).alias("calls"))
        .orderBy("source", "hour")
    )


def feature_status(spark: SparkSession) -> DataFrame:
    """training_features freshness probe (reference main.py:589-613):
    one single-row aggregate — row count, time extent, rows with the
    24h lag populated."""
    return _view(spark, "training_features").agg(
        F.count(F.lit(1)).alias("row_count"),
        F.min("time").alias("oldest"),
        F.max("time").alias("newest"),
        F.sum(F.when(F.col("lag_24h").isNotNull(), 1).otherwise(0)).alias(
            "rows_with_lags"
        ),
    )


def present_time_tables(spark: SparkSession) -> list[str]:
    """The db-status sweep's table set: whitelisted tables that exist
    AND carry the `time` clock column (the ops log keeps its own clock,
    called_at, and reports via rate_limit_stats instead)."""
    return [
        t
        for t in sorted(SERVING_TABLES)
        if spark.catalog.tableExists(t) and "time" in spark.table(t).columns
    ]


def backfill_estimate(
    spark: SparkSession,
    table: str,
    start: dt.date,
    end: dt.date,
    calls_per_day: int = 1,
    seconds_per_call: float = 1.5,
) -> dict:
    """A8 — estimate missing-day backfill cost (main.py:755-822)."""
    row = _view(spark, table).agg(
        F.min(F.to_date("time")).alias("mn"), F.max(F.to_date("time")).alias("mx")
    ).collect()[0]
    total_days = (end - start).days + 1
    if row.mn is None:
        missing = total_days
    else:
        covered_start, covered_end = max(start, row.mn), min(end, row.mx)
        covered = max(0, (covered_end - covered_start).days + 1)
        missing = total_days - covered
    calls = missing * calls_per_day
    return {
        "days_missing": missing,
        "estimated_calls": calls,
        "estimated_seconds": calls * seconds_per_call,
    }


def forecast(
    spark: SparkSession,
    model_dir: str,
    price_model: str = "model_epex",
    load_model: str = "model_load",
    price_view: str = "training_features",
    load_view: str = "winterthur_net_load_features",
    key_col: str = "k",
    key_value: str = "all",
) -> dict:
    """The full /api/forecast composition (reference main.py:260-352)
    as ONE engine call: latest feature row → Model B (EPEX price) →
    Model A (net load, optional) → tariff formulas → traffic light.

    Mirrors the reference's degradation exactly: a missing load view,
    an empty load-feature frame, or an absent load artifact falls back
    to the energy-only estimate with the standard Netz tariff; a
    missing price model or empty price features raises (the 503 path).
    Models resolve newest-by-name through the registry (modelstore) and
    score via broadcast splice; only single feature rows and the
    KB-sized tariff eval ever reach the driver."""
    from bigdatasmallprice_spark import modelstore

    feat = latest_features(spark, price_view)
    if not feat.take(1):
        raise LookupError("no feature data available")  # main.py:292 (503)
    keyed = feat.withColumn(key_col, F.lit(key_value))
    price_row = modelstore.score_latest(
        spark, model_dir, price_model, keyed, key_col, ts_col="time"
    ).collect()
    if not price_row:
        raise LookupError(f"price model {price_model!r} matched no feature row")
    epex_pred = float(price_row[0]["prediction"])
    when = price_row[0]["time"]

    net_load: float | None = None
    try:
        lfeat = latest_features(spark, load_view).withColumn(
            key_col, F.lit(key_value)
        )
        load_rows = modelstore.score_latest(
            spark, model_dir, load_model, lfeat, key_col, ts_col="time"
        ).collect()
        if load_rows:
            net_load = float(load_rows[0]["prediction"])
    except Exception:
        # main.py:316-317: any load-side failure degrades gracefully
        net_load = None

    # single-row tariff eval so the formulas stay the one implementation
    one = spark.createDataFrame(
        [(net_load if net_load is not None else 0.0, epex_pred)],
        "load double, epex double",
    )
    energie = energiepreis(F.col("epex"))
    netz = (
        netzpreis(F.col("load"))
        if net_load is not None
        else F.lit(DEFAULT_NETZ_STANDARD)
    )
    tariff = one.select(
        F.round(netz, 2).alias("netzpreis_rp_kwh"),
        F.round(energie, 2).alias("energiepreis_rp_kwh"),
        F.round(gesamttarif(netz, energie), 2).alias("gesamttarif_rp_kwh"),
        traffic_light(F.round(gesamttarif(netz, energie), 2)).alias("price_level"),
    ).collect()[0]
    return {
        "time": when.isoformat() if when is not None else None,
        "predicted_price_eur_mwh": round(epex_pred, 2),
        "netzpreis_rp_kwh": tariff["netzpreis_rp_kwh"],
        "energiepreis_rp_kwh": tariff["energiepreis_rp_kwh"],
        "gesamttarif_rp_kwh": tariff["gesamttarif_rp_kwh"],
        "price_rp_kwh": tariff["gesamttarif_rp_kwh"],  # backward-compat alias
        "price_level": tariff["price_level"],
        "net_load_available": net_load is not None,
    }


def forecast_tariff(net_load: float, epex_eur_mwh: float, spark: SparkSession) -> dict:
    """The /api/forecast tariff tail (main.py:296-352): model outputs ->
    Netz/Energie/Gesamt + traffic-light level. Single-row column eval so
    the formulas stay the one tested implementation."""
    df = spark.createDataFrame([(float(net_load), float(epex_eur_mwh))], "load double, epex double")
    netz = netzpreis(F.col("load"))
    energie = energiepreis(F.col("epex"))
    row = df.select(
        F.round(netz, 2).alias("netzpreis_rp_kwh"),
        F.round(energie, 2).alias("energiepreis_rp_kwh"),
        F.round(gesamttarif(netz, energie), 2).alias("gesamttarif_rp_kwh"),
        traffic_light(gesamttarif(netz, energie)).alias("level"),
    ).collect()[0]
    return row.asDict()


def labeled_model_surface(spark: SparkSession, model_name: str):
    """(labeled frame, target column) for a model surface, using the
    export module's split rules (D4): ``*_load`` names -> the net-load
    view with target-NaN drop and the rolling last-7d/14d split
    (export_pipeline.py:563-642), everything else -> training_features
    with the 70/15/15 chronological split. One split implementation
    serves export, training (runs.py's dags), and validation."""
    from bigdatasmallprice_spark.export import LOAD_TARGET_COL, TARGET_COL
    from bigdatasmallprice_spark.operators.splits import (
        rolling_split_bounds,
        split_by_dates,
        split_label_by_ratio,
    )

    is_load = model_name.endswith("_load")
    view = "winterthur_net_load_features" if is_load else "training_features"
    target = LOAD_TARGET_COL if is_load else TARGET_COL
    df = _view(spark, view)
    if is_load:
        df = df.na.drop(subset=[target])
        train_end, val_end = rolling_split_bounds(df, "time", 7, 14)
        labeled = split_by_dates(df, "time", train_end, val_end)
    else:
        labeled = split_label_by_ratio(df, ["time"], 0.7, 0.15)
    return labeled, target


def model_validation(
    spark: SparkSession,
    model_dir: str,
    model_name: str,
    max_points: int = 500,
) -> dict:
    """Validation-set truth vs prediction + loss history for a trained
    model (reference main.py:962-1073 /api/models/validation/{name}).

    The reference re-reads the export pipeline's X_val/y_val parquets
    and re-predicts with the newest joblib; the engine re-derives the
    SAME validation slice from the feature view with the export
    module's split rules (D4 — 70/15/15 chronological for the EPEX
    price surface, rolling last-7d/14d for the net-load surface) and
    scores it through modelstore.score_latest, so one split
    implementation serves export, training, and this endpoint. The
    series is stride-downsampled to <= ``max_points`` rows (O7, the
    reference's main.py:1038-1045 chart cap) BEFORE collect — only the
    chart payload ever reaches the driver.

    Raises FileNotFoundError when no artifact exists for the name
    (-> 503, the engine's standing no-model status) — checked FIRST,
    before any Spark work, so clients polling for a not-yet-trained
    model get the cheap exit instead of paying the split derivation
    per poll. Names resolve to a surface by suffix (``*_load`` -> the
    net-load view, else the price view), mirroring the reference's
    model registry where the artifact file IS the name whitelist."""
    from bigdatasmallprice_spark.modelstore import find_latest, load_model, score_latest

    path = find_latest(model_dir, model_name)
    if path is None:
        raise FileNotFoundError(f"no artifact for model {model_name!r} in {model_dir}")
    doc = load_model(path)

    labeled, target = labeled_model_surface(spark, model_name)
    val = labeled.filter(F.col("split") == "val").withColumn("k", F.lit("all"))
    scored = score_latest(spark, model_dir, model_name, val, "k", ts_col="time")
    chart = stride_downsample(
        scored.select("time", F.col(target).alias("y_true"), "prediction")
        # rows the chart cannot plot: a null target (unlabeled tail
        # hours the B-surface split keeps) or a null prediction
        .na.drop(subset=["y_true", "prediction"]),
        ["time"],
        max_points,
    )
    rows = chart.collect()
    return {
        "model_name": model_name,
        "n_points": len(rows),
        "timestamps": [r["time"].isoformat() for r in rows],
        "y_true": [float(r["y_true"]) for r in rows],
        "y_pred": [float(r["prediction"]) for r in rows],
        "loss_history": doc.get("model", {}).get("mae_history"),
    }
