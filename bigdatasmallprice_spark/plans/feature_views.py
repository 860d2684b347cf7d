"""The reference's two feature views re-expressed as Spark SQL.

``training_features`` (33 columns; reference infra/db/init.sql:236-368):
six window CTEs over filtered slices + a conditional net-position
aggregate + 9 LEFT JOINs on time (+ constant lat/lon for the three
weather locations) + a post-join rolling temperature mean.

``winterthur_net_load_features`` (24 columns; init.sql:421-455): derived
net-load target (load − COALESCE(pv, 0)), its lags/rolling mean, calendar
block, and a grain-aligning join (15-min load rows join their containing
hour's weather row).

Semantics preserved exactly:
- Postgres EXTRACT(DOW) = 0=Sunday..6=Saturday -> ``dayofweek(t)-1``.
- ROW-based frames (ROWS BETWEEN k PRECEDING), averaging available rows
  — row 0's rolling mean is itself (test_feature_pipeline.py:63-75).
- Global ORDER BY time windows. These are computed over per-key hourly
  series (one domain / one psr_type), which are tiny AFTER the filter —
  a 30-year hourly series is ~260k rows — so the single-partition window
  is not the scale bottleneck; the raw scans below it parallelize and
  prune. For per-entity workloads use operators/windows.py helpers with
  partition_by, or partitioned_lag_stitch for huge single series.

Scale notes: the three weather joins pre-filter to exact (lat, lon)
constants — each slice is one location's hourly series, broadcast-able;
Catalyst pushes the constant predicates into the parquet scan
(PushedFilters) so the fact table is read once per location slice with
row-group skipping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bigdatasmallprice_spark.schemas import DOMAIN_CH, DOMAIN_DE

# calendar shims (F1/F2): Spark dayofweek is 1=Sun..7=Sat; Postgres dow is 0=Sun..6=Sat
_DOW = "(dayofweek({t}) - 1)"

TRAINING_FEATURES_SQL = f"""
WITH price_features AS (
  SELECT
    time,
    price_eur_mwh,
    LAG(price_eur_mwh, 1)   OVER (ORDER BY time) AS lag_1h,
    LAG(price_eur_mwh, 24)  OVER (ORDER BY time) AS lag_24h,
    LAG(price_eur_mwh, 168) OVER (ORDER BY time) AS lag_168h,
    AVG(price_eur_mwh) OVER (ORDER BY time ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS rolling_avg_24h,
    AVG(price_eur_mwh) OVER (ORDER BY time ROWS BETWEEN 167 PRECEDING AND CURRENT ROW) AS rolling_avg_7d,
    CAST(hour(time) AS INT) AS hour_of_day,
    CAST({_DOW.format(t='time')} AS INT) AS day_of_week,
    CAST(month(time) AS INT) AS month,
    CAST(CASE WHEN {_DOW.format(t='time')} IN (0, 6) THEN 1 ELSE 0 END AS INT) AS is_weekend,
    CAST(CASE WHEN hour(time) BETWEEN 7 AND 22 THEN 1 ELSE 0 END AS INT) AS is_peak_hour
  FROM entsoe_day_ahead_prices
  WHERE domain = '{DOMAIN_CH}'
),
gen_b12 AS (
  SELECT time,
    LAG(quantity_mwh, 24)  OVER (ORDER BY time) AS hydro_ror_ch_lag_24h,
    LAG(quantity_mwh, 168) OVER (ORDER BY time) AS hydro_ror_ch_lag_168h
  FROM entsoe_generation WHERE domain = '{DOMAIN_CH}' AND psr_type = 'B12'
),
gen_b16 AS (
  SELECT time,
    LAG(quantity_mwh, 24)  OVER (ORDER BY time) AS solar_gen_ch_lag_24h,
    LAG(quantity_mwh, 168) OVER (ORDER BY time) AS solar_gen_ch_lag_168h
  FROM entsoe_generation WHERE domain = '{DOMAIN_CH}' AND psr_type = 'B16'
),
gen_de_b19 AS (
  SELECT time,
    LAG(quantity_mwh, 24)  OVER (ORDER BY time) AS wind_gen_de_lag_24h,
    LAG(quantity_mwh, 168) OVER (ORDER BY time) AS wind_gen_de_lag_168h
  FROM entsoe_generation WHERE domain = '{DOMAIN_DE}' AND psr_type = 'B19'
),
actual_load_lags AS (
  SELECT time,
    LAG(load_mwh, 24)  OVER (ORDER BY time) AS actual_load_ch_lag_24h,
    LAG(load_mwh, 168) OVER (ORDER BY time) AS actual_load_ch_lag_168h
  FROM entsoe_actual_load WHERE domain = '{DOMAIN_CH}'
),
net_pos_raw AS (
  SELECT time,
    SUM(CASE WHEN out_domain = '{DOMAIN_CH}' THEN flow_mwh ELSE 0 END)
      - SUM(CASE WHEN in_domain = '{DOMAIN_CH}' THEN flow_mwh ELSE 0 END) AS net_position_ch
  FROM entsoe_crossborder_flows
  WHERE in_domain = '{DOMAIN_CH}' OR out_domain = '{DOMAIN_CH}'
  GROUP BY time
),
net_pos AS (
  SELECT time,
    LAG(net_position_ch, 24)  OVER (ORDER BY time) AS net_position_ch_lag_24h,
    LAG(net_position_ch, 168) OVER (ORDER BY time) AS net_position_ch_lag_168h
  FROM net_pos_raw
)
SELECT
  pf.time,
  pf.price_eur_mwh,
  pf.lag_1h, pf.lag_24h, pf.lag_168h,
  pf.rolling_avg_24h, pf.rolling_avg_7d,
  pf.hour_of_day, pf.day_of_week, pf.month, pf.is_weekend, pf.is_peak_hour,
  w_ch.temperature_2m, w_ch.wind_speed_10m, w_ch.shortwave_radiation,
  w_ch.cloud_cover, w_ch.precipitation_mm,
  AVG(w_ch.temperature_2m) OVER (ORDER BY pf.time ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS temp_rolling_avg_24h,
  w_de_n.wind_speed_10m AS wind_speed_de_nord,
  w_de_n.shortwave_radiation AS solar_de_nord,
  w_de_s.shortwave_radiation AS solar_de_sued,
  w_de_s.wind_speed_10m AS wind_speed_de_sued,
  gl_b12.hydro_ror_ch_lag_24h, gl_b12.hydro_ror_ch_lag_168h,
  gl_b16.solar_gen_ch_lag_24h, gl_b16.solar_gen_ch_lag_168h,
  gl_b19.wind_gen_de_lag_24h, gl_b19.wind_gen_de_lag_168h,
  al.actual_load_ch_lag_24h, al.actual_load_ch_lag_168h,
  np.net_position_ch_lag_24h, np.net_position_ch_lag_168h,
  lf.load_mwh AS load_forecast_ch
FROM price_features pf
LEFT JOIN weather_hourly w_ch
  ON w_ch.time = pf.time AND w_ch.latitude = 47.5001 AND w_ch.longitude = 8.7502
LEFT JOIN weather_hourly w_de_n
  ON w_de_n.time = pf.time AND w_de_n.latitude = 53.5 AND w_de_n.longitude = 10.0
LEFT JOIN weather_hourly w_de_s
  ON w_de_s.time = pf.time AND w_de_s.latitude = 48.5 AND w_de_s.longitude = 9.0
LEFT JOIN gen_b12 gl_b12 ON gl_b12.time = pf.time
LEFT JOIN gen_b16 gl_b16 ON gl_b16.time = pf.time
LEFT JOIN gen_de_b19 gl_b19 ON gl_b19.time = pf.time
LEFT JOIN actual_load_lags al ON al.time = pf.time
LEFT JOIN net_pos np ON np.time = pf.time
LEFT JOIN entsoe_load_forecast lf ON lf.time = pf.time AND lf.domain = '{DOMAIN_CH}'
"""

NET_LOAD_FEATURES_SQL = f"""
SELECT
  w.time,
  w.load_kwh - COALESCE(p.pv_kwh, 0) AS net_load_kwh,
  CAST(hour(w.time) AS INT) AS hour_of_day,
  CAST(hour(w.time) AS INT) AS hour,
  CAST({_DOW.format(t='w.time')} AS INT) AS day_of_week,
  CAST({_DOW.format(t='w.time')} AS INT) AS weekday,
  CAST(month(w.time) AS INT) AS month,
  CAST(quarter(w.time) AS INT) AS quarter,
  CAST(CASE WHEN {_DOW.format(t='w.time')} IN (0, 6) THEN 1 ELSE 0 END AS INT) AS is_weekend,
  LAG(w.load_kwh - COALESCE(p.pv_kwh, 0), 1)   OVER (ORDER BY w.time) AS load_lag_1h,
  LAG(w.load_kwh - COALESCE(p.pv_kwh, 0), 24)  OVER (ORDER BY w.time) AS load_lag_1d,
  LAG(w.load_kwh - COALESCE(p.pv_kwh, 0), 168) OVER (ORDER BY w.time) AS load_lag_7d,
  AVG(w.load_kwh - COALESCE(p.pv_kwh, 0)) OVER (ORDER BY w.time ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS load_rolling_avg_24h,
  wr.temperature_2m,
  wr.temperature_2m AS temp_c,
  wr.wind_speed_10m,
  wr.wind_speed_10m AS wind_speed_ms,
  wr.shortwave_radiation,
  wr.shortwave_radiation AS ghi_wm2,
  wr.cloud_cover,
  wr.cloud_cover AS cloud_cover_pct,
  wr.precipitation_mm,
  COALESCE(p.pv_kwh, 0) AS pv_feed_in_kwh,
  COALESCE(p.pv_kwh, 0) AS pv_feed_in
FROM winterthur_load w
LEFT JOIN winterthur_pv p ON w.time = p.time
LEFT JOIN weather_hourly wr
  ON date_trunc('hour', w.time) = wr.time
  AND wr.latitude = 47.5001 AND wr.longitude = 8.7502
"""

# A1 — the three 15-min -> hourly continuous-aggregate equivalents
# (init.sql:81-100,135-154,157-176); incremental refresh is
# operators/rollup.py::incremental_rollup
TARIFF_HOURLY_SQL = """
SELECT
  date_trunc('hour', time) AS hour,
  tariff_type,
  AVG(price_chf_kwh) AS price_chf_kwh_avg,
  MIN(price_chf_kwh) AS price_chf_kwh_min,
  MAX(price_chf_kwh) AS price_chf_kwh_max,
  COUNT(*) AS sample_count
FROM {table}
GROUP BY date_trunc('hour', time), tariff_type
"""


def register_views(spark: SparkSession, tables: dict[str, DataFrame]) -> None:
    """Register bronze DataFrames + derived views, mirroring the
    reference's whitelisted query surface (SQL views over hypertables)."""
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    for provider in ("ekz", "ckw", "groupe_e"):
        raw = f"{provider}_tariffs_raw"
        if raw in tables:
            spark.sql(TARIFF_HOURLY_SQL.format(table=raw)).createOrReplaceTempView(
                f"{provider}_tariffs_hourly"
            )
    needed_tf = {
        "entsoe_day_ahead_prices", "entsoe_generation", "entsoe_actual_load",
        "entsoe_crossborder_flows", "entsoe_load_forecast", "weather_hourly",
    }
    if needed_tf <= tables.keys():
        spark.sql(TRAINING_FEATURES_SQL).createOrReplaceTempView("training_features")
    if {"winterthur_load", "winterthur_pv", "weather_hourly"} <= tables.keys():
        spark.sql(NET_LOAD_FEATURES_SQL).createOrReplaceTempView(
            "winterthur_net_load_features"
        )


def training_features(spark: SparkSession) -> DataFrame:
    return spark.sql("SELECT * FROM training_features")


def net_load_features(spark: SparkSession) -> DataFrame:
    return spark.sql("SELECT * FROM winterthur_net_load_features")
