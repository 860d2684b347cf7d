"""Deterministic synthetic domain tables per FIXTURES.md §1.

Baked-in edge cases: NULL measures, hourly-grid gaps (row-frames count
rows, not hours), missing PV timestamps (COALESCE path), duplicate keys
for upsert tests.
"""

from __future__ import annotations

import datetime as dt
import random

import pandas as pd

CH = "10YCH-SWISSGRIDZ"
DE = "10Y1001A1001A83F"
IT = "10YIT-GRTN-----B"
FR = "10YFR-RTE------C"
AT = "10YAT-APG------L"

START = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
HOURS = 45 * 24  # > 168 so 7-day lags materialize

LOCS = [(47.5001, 8.7502), (53.5, 10.0), (48.5, 9.0)]


def _hour_grid(rng: random.Random, gap_rate: float = 0.02) -> list[dt.datetime]:
    return [
        START + dt.timedelta(hours=i)
        for i in range(HOURS)
        if rng.random() > gap_rate  # grid gaps: ROWS frames must count rows
    ]


def make_domain_tables(seed: int = 7) -> dict[str, pd.DataFrame]:
    rng = random.Random(seed)
    tables: dict[str, pd.DataFrame] = {}

    hours = _hour_grid(rng)
    tables["entsoe_day_ahead_prices"] = pd.DataFrame(
        {
            "time": hours,
            "domain": CH,
            "price_eur_mwh": [
                round(rng.gauss(85, 25), 2) if rng.random() > 0.01 else None
                for _ in hours
            ],
            "currency": "EUR",
        }
    )

    wrows = []
    for lat, lon in LOCS:
        for t in _hour_grid(rng):
            wrows.append(
                {
                    "time": t,
                    "latitude": lat,
                    "longitude": lon,
                    "temperature_2m": round(rng.gauss(8, 6), 2),
                    "wind_speed_10m": round(abs(rng.gauss(12, 5)), 2),
                    "shortwave_radiation": round(abs(rng.gauss(120, 80)), 1),
                    "cloud_cover": round(rng.uniform(0, 100), 1),
                    "precipitation_mm": round(abs(rng.gauss(0.3, 0.6)), 2),
                }
            )
    tables["weather_hourly"] = pd.DataFrame(wrows)

    grows = []
    for domain, psr in [(CH, "B12"), (CH, "B16"), (DE, "B19")]:
        for t in _hour_grid(rng):
            grows.append(
                {
                    "time": t,
                    "domain": domain,
                    "psr_type": psr,
                    "quantity_mwh": round(abs(rng.gauss(900, 300)), 1),
                }
            )
    tables["entsoe_generation"] = pd.DataFrame(grows)

    tables["entsoe_actual_load"] = pd.DataFrame(
        {
            "time": (h := _hour_grid(rng)),
            "domain": CH,
            "load_mwh": [round(rng.gauss(6500, 900), 1) for _ in h],
        }
    )
    tables["entsoe_load_forecast"] = pd.DataFrame(
        {
            "time": (h := _hour_grid(rng)),
            "domain": CH,
            "load_mwh": [round(rng.gauss(6500, 900), 1) for _ in h],
        }
    )

    frows = []
    for a, b in [(CH, DE), (DE, CH), (CH, IT), (IT, CH), (CH, FR), (FR, CH), (CH, AT), (AT, CH)]:
        for t in _hour_grid(rng, gap_rate=0.05):
            frows.append(
                {
                    "time": t,
                    "in_domain": a,
                    "out_domain": b,
                    "flow_mwh": round(abs(rng.gauss(800, 400)), 1),
                }
            )
    tables["entsoe_crossborder_flows"] = pd.DataFrame(frows)

    q15 = [
        START + dt.timedelta(minutes=15 * i)
        for i in range(HOURS * 4)
        if rng.random() > 0.01
    ]
    tables["winterthur_load"] = pd.DataFrame(
        {"time": q15, "load_kwh": [round(rng.uniform(150, 900), 2) for _ in q15]}
    )
    pv_times = [t for t in q15 if rng.random() > 0.3]  # missing PV -> COALESCE
    tables["winterthur_pv"] = pd.DataFrame(
        {"time": pv_times, "pv_kwh": [round(abs(rng.gauss(40, 30)), 2) for _ in pv_times]}
    )

    q15t = [START + dt.timedelta(minutes=15 * i) for i in range(96 * 3)]
    for name, types in [
        ("ekz_tariffs_raw", ("electricity", "integrated")),
        ("ckw_tariffs_raw", ("grid_usage", "grid", "electricity", "integrated")),
        ("groupe_e_tariffs_raw", ("grid", "integrated")),
    ]:
        rows = [
            {"time": t, "tariff_type": tt, "price_chf_kwh": round(rng.uniform(0.03, 0.25), 4)}
            for t in q15t
            for tt in types
            if rng.random() > 0.02
        ]
        tables[name] = pd.DataFrame(rows)

    return tables


def domain_frames(spark) -> dict:
    """``make_domain_tables`` as Spark frames with naive UTC times, the
    input ``plans.feature_views.register_views`` takes."""
    sdfs = {}
    for name, pdf in make_domain_tables().items():
        pdf = pdf.copy()
        pdf["time"] = pdf["time"].map(lambda t: t.replace(tzinfo=None))
        sdfs[name] = spark.createDataFrame(pdf)
    return sdfs
