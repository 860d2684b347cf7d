"""Seeded inputs for the end-to-end benchmark.

Two products, both a pure function of ``(seed, days)``:

- ``history_frames``: the bronze history of the 11 domain tables that the
  collectors feed, as pandas frames (naive UTC ``time``), written through
  ``catalog.write_bronze`` by ``build_bronze``;
- ``raw_payloads``: one new day of each feed in its collector's real wire
  format (ENTSO-E XML, Open-Meteo JSON, EKZ/CKW/Groupe E JSON, Stadtwerk
  CSV), with the row count the parsers must produce from it.

Every table is a complete time grid per dimension tuple, so row counts
and timings depend on ``days`` only; the seed moves the values.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

from bigdatasmallprice_spark.schemas import (
    DOMAIN_AT,
    DOMAIN_CH,
    DOMAIN_DE,
    DOMAIN_FR,
    DOMAIN_IT,
    LOC_DE_NORD,
    LOC_DE_SUED,
    LOC_WINTERTHUR,
)
from bigdatasmallprice_spark.sources import entsoe, openmeteo, stadtwerk, tariffs_json

# first day of every generated history; the ETL's new days follow it
DAY0 = dt.date(2025, 1, 1)

_FLOW_PAIRS = [
    (a, b)
    for other in (DOMAIN_DE, DOMAIN_IT, DOMAIN_FR, DOMAIN_AT)
    for a, b in ((DOMAIN_CH, other), (other, DOMAIN_CH))
]
_LOCS = [LOC_WINTERTHUR, LOC_DE_NORD, LOC_DE_SUED]


def _hourly_shape(hours: np.ndarray) -> np.ndarray:
    return np.sin((hours % 24) / 24.0 * 2 * np.pi - np.pi / 2)


def _price(rng, t):
    return 85 + 20 * _hourly_shape(t) + rng.normal(0, 15, len(t))


def _mwh(mean, sd):
    return lambda rng, t: np.abs(mean + 0.1 * mean * _hourly_shape(t) + rng.normal(0, sd, len(t)))


def _weather(rng, t):
    n = len(t)
    return {
        "temperature_2m": 8 + 5 * _hourly_shape(t) + rng.normal(0, 3, n),
        "wind_speed_10m": np.abs(rng.normal(12, 5, n)),
        "shortwave_radiation": np.clip(400 * _hourly_shape(t), 0, None) + np.abs(rng.normal(0, 20, n)),
        "cloud_cover": rng.uniform(0, 100, n),
        "precipitation_mm": np.abs(rng.normal(0.3, 0.6, n)),
    }


def _tariff(rng, t):
    return rng.uniform(0.03, 0.25, len(t))


# table -> (minutes per step, dimension tuples, value column(s), generator)
TABLES: dict[str, tuple[int, list[dict], str | None, Callable]] = {
    "entsoe_day_ahead_prices": (
        60, [{"domain": DOMAIN_CH, "currency": "EUR"}], "price_eur_mwh", _price),
    "entsoe_actual_load": (60, [{"domain": DOMAIN_CH}], "load_mwh", _mwh(6500, 900)),
    "entsoe_load_forecast": (60, [{"domain": DOMAIN_CH}], "load_mwh", _mwh(6500, 900)),
    "entsoe_generation": (
        60,
        [{"domain": DOMAIN_CH, "psr_type": "B12"}, {"domain": DOMAIN_CH, "psr_type": "B16"},
         {"domain": DOMAIN_DE, "psr_type": "B19"}],
        "quantity_mwh", _mwh(900, 300)),
    "entsoe_crossborder_flows": (
        60, [{"in_domain": a, "out_domain": b} for a, b in _FLOW_PAIRS], "flow_mwh", _mwh(800, 400)),
    "weather_hourly": (
        60, [{"latitude": lat, "longitude": lon} for lat, lon in _LOCS], None, _weather),
    "ekz_tariffs_raw": (
        15, [{"tariff_type": c} for c in tariffs_json.EKZ_COMPONENTS], "price_chf_kwh", _tariff),
    "ckw_tariffs_raw": (
        15, [{"tariff_type": c} for c in tariffs_json.CKW_COMPONENTS], "price_chf_kwh", _tariff),
    "groupe_e_tariffs_raw": (
        15, [{"tariff_type": c} for c in tariffs_json.GROUPE_E_COMPONENTS], "price_chf_kwh", _tariff),
    "winterthur_load": (15, [{}], "load_kwh", lambda rng, t: rng.uniform(150, 900, len(t))),
    "winterthur_pv": (15, [{}], "pv_kwh", _mwh(40, 30)),
}


def table_frame(table: str, start: dt.date, days: int, seed: int) -> pd.DataFrame:
    """``days`` days of ``table`` from ``start``, sorted by time. Values
    are rounded so every text rendering parses back to the same float."""
    step, dims, value_col, gen = TABLES[table]
    rng = np.random.default_rng([seed, list(TABLES).index(table), start.toordinal(), days])
    per_day = 24 * 60 // step
    t0 = np.datetime64(start.isoformat(), "m")
    minutes = t0 + np.arange(days * per_day) * np.timedelta64(step, "m")
    hours = (np.arange(days * per_day) * step / 60.0).astype(np.float64)
    parts = []
    for dim in dims:
        vals = gen(rng, hours)
        cols = {"time": minutes.astype("datetime64[us]")}
        cols.update({k: v for k, v in dim.items() if k != "currency"})
        if isinstance(vals, dict):
            cols.update({k: np.round(v, 2) for k, v in vals.items()})
        else:
            cols[value_col] = np.round(vals, 4 if step == 15 and "price" in value_col else 2)
        if "currency" in dim:
            cols["currency"] = dim["currency"]
        parts.append(pd.DataFrame(cols))
    return pd.concat(parts, ignore_index=True).sort_values("time", kind="stable").reset_index(drop=True)


def history_frames(seed: int, days: int) -> dict[str, pd.DataFrame]:
    return {t: table_frame(t, DAY0, days, seed) for t in TABLES}


def build_bronze(spark, root: str, seed: int, days: int) -> dict[str, str]:
    """Write ``days`` days of every table under ``root`` through
    ``catalog.write_bronze`` (one daily ``p_date`` partition per day);
    returns table -> bronze path."""
    from bigdatasmallprice_spark.catalog import write_bronze
    from bigdatasmallprice_spark.schemas import DOMAIN_SCHEMAS

    def write(item: tuple[str, pd.DataFrame]) -> tuple[str, str]:
        table, pdf = item
        cols = [f.name for f in DOMAIN_SCHEMAS[table].fields]
        path = os.path.join(root, table)
        write_bronze(spark.createDataFrame(pdf[cols], DOMAIN_SCHEMAS[table]), path)
        return table, path

    # independent tables: overlap each write's driver-side commit with
    # the next table's tasks
    with ThreadPoolExecutor(4) as pool:
        return dict(pool.map(write, history_frames(seed, days).items()))


# -- raw payloads in the collectors' wire formats --------------------------


def _entsoe_xml(times: pd.Series, values: np.ndarray, value_tag: str) -> str:
    start = times.iloc[0].strftime("%Y-%m-%dT%H:%MZ")
    end = (times.iloc[-1] + pd.Timedelta(hours=1)).strftime("%Y-%m-%dT%H:%MZ")
    points = "".join(
        f"<Point><position>{i + 1}</position><{value_tag}>{float(v)!r}</{value_tag}></Point>"
        for i, v in enumerate(values)
    )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<Publication_MarketDocument xmlns="urn:iec62325.351:tc57wg16:451-3:publicationdocument:7:0">'
        f"<TimeSeries><Period><timeInterval><start>{start}</start><end>{end}</end></timeInterval>"
        f"<resolution>PT60M</resolution>{points}</Period></TimeSeries>"
        "</Publication_MarketDocument>"
    )


def _local_iso(t: pd.Timestamp, compact: bool = False) -> str:
    """UTC instant rendered in CET (+01:00), as the Swiss feeds send it."""
    s = (t + pd.Timedelta(hours=1)).strftime("%Y-%m-%dT%H:%M:%S")
    return s + ("+0100" if compact else "+01:00")


def _tariff_json(frame: pd.DataFrame, components: tuple[str, ...]) -> str:
    entries = []
    for t, grp in frame.groupby("time", sort=True):
        entry = {"start_timestamp": _local_iso(t)}
        for comp, v in zip(grp["tariff_type"], grp["price_chf_kwh"]):
            if comp in components:
                # a second unit per component exercises the CHF_kWh filter
                entry[comp] = [{"unit": "CHF_kWh", "value": float(v)},
                               {"unit": "EUR_kWh", "value": float(v) * 1.05}]
        entries.append(entry)
    return json.dumps({"prices": entries})


def _day_payload(table: str, f: pd.DataFrame) -> tuple[object, Callable[[object], list[dict]]]:
    """(payload, parse) for one day of one table; ``parse(payload)`` runs
    the real ``sources`` parser(s) and returns the table's records."""
    def by(**kw):
        m = np.ones(len(f), bool)
        for k, v in kw.items():
            m &= (f[k] == v).to_numpy()
        return f[m]

    if table == "entsoe_day_ahead_prices":
        return (_entsoe_xml(f["time"], f["price_eur_mwh"].to_numpy(), "price.amount"),
                lambda p: entsoe.parse_day_ahead_prices(p, DOMAIN_CH))
    if table in ("entsoe_actual_load", "entsoe_load_forecast"):
        parse = entsoe.parse_actual_load if table == "entsoe_actual_load" else entsoe.parse_load_forecast
        return (_entsoe_xml(f["time"], f["load_mwh"].to_numpy(), "quantity"),
                lambda p: parse(p, DOMAIN_CH))
    if table == "entsoe_generation":
        keys = [(d["domain"], d["psr_type"]) for d in TABLES[table][1]]
        docs = [_entsoe_xml(g["time"].reset_index(drop=True), g["quantity_mwh"].to_numpy(), "quantity")
                for g in (by(domain=d, psr_type=p) for d, p in keys)]
        return docs, lambda p: [r for (d, s), x in zip(keys, p) for r in entsoe.parse_generation(x, d, s)]
    if table == "entsoe_crossborder_flows":
        docs = [_entsoe_xml(g["time"].reset_index(drop=True), g["flow_mwh"].to_numpy(), "quantity")
                for g in (by(in_domain=a, out_domain=b) for a, b in _FLOW_PAIRS)]
        return docs, lambda p: [
            r for (a, b), x in zip(_FLOW_PAIRS, p) for r in entsoe.parse_crossborder_flows(x, a, b)]
    if table == "weather_hourly":
        docs = []
        for lat, lon in _LOCS:
            g = by(latitude=lat, longitude=lon)
            hourly = {"time": [t.strftime("%Y-%m-%dT%H:%M") for t in g["time"]]}
            for src in openmeteo.HOURLY_FIELDS:
                hourly[src] = [float(v) for v in g[openmeteo.FIELD_RENAME.get(src, src)]]
            docs.append(json.dumps({"latitude": lat, "longitude": lon, "hourly": hourly}))
        return docs, lambda p: [r for (lat, lon), x in zip(_LOCS, p)
                                for r in openmeteo.parse_weather(x, lat, lon)]
    if table == "ekz_tariffs_raw":
        docs = (_tariff_json(f, ("electricity",)), _tariff_json(f, ("integrated",)))
        return docs, lambda p: tariffs_json.parse_ekz(*p)
    if table == "ckw_tariffs_raw":
        return _tariff_json(f, tariffs_json.CKW_COMPONENTS), tariffs_json.parse_ckw
    if table == "groupe_e_tariffs_raw":
        return _tariff_json(f, tariffs_json.GROUPE_E_COMPONENTS), tariffs_json.parse_groupe_e
    if table == "winterthur_load":
        body = "".join(f"{_local_iso(t, compact=True)},{float(v)!r}\n"
                       for t, v in zip(f["time"], f["load_kwh"]))
        return ["zeitpunkt,bruttolastgang_kwh\n" + body], stadtwerk.parse_load_csvs
    if table == "winterthur_pv":
        rows = []
        for t, v in zip(f["time"], f["pv_kwh"]):
            rows.append(f"{_local_iso(t)},photovoltaik,{float(v)!r}\n")
            rows.append(f"{_local_iso(t)},wasserkraft,{float(v) * 3!r}\n")  # filtered out
        return "zeitpunkt,energietraeger,lastgang_kwh\n" + "".join(rows), stadtwerk.parse_pv_csv
    raise KeyError(table)


def raw_payloads(seed: int, day: dt.date) -> dict[str, tuple[object, Callable, int]]:
    """table -> (payload, parse, expected row count) for one new day."""
    out = {}
    for table in TABLES:
        f = table_frame(table, day, 1, seed)
        payload, parse = _day_payload(table, f)
        out[table] = (payload, parse, len(f))
    return out
