"""ENTSO-E Transparency Platform XML parsers (S1-S5).

Parses the public ENTSO-E document format (TimeSeries > Period >
{timeInterval.start, resolution, Point{position, value}}) into typed
records; behavior mirrors the reference collectors
(reference src/data_collection/entsoe_collector.py:30-436):

- position is 1-based: ts = interval_start + (position-1) * resolution
- resolution map PT15M/PT30M/PT60M/P1D -> 15/30/60/1440 minutes,
  default 60 (entsoe_collector.py:90-104,446-448)
- all timestamps normalized to UTC-aware datetimes
- empty/malformed documents -> empty list (404 = skip-day semantics,
  reference src/etl/fetch_tasks.py:30-35)

Ingestion shape: fetch/parse run driver-side (rate-limited API, ~100s of
rows/day); ``ingest.backfill_dates`` hands each day's records to Spark
as one Arrow local relation and appends them with first-writer-wins
dedup. Parsing XML is never the scale path — ENTSO-E ingestion is capped
at 400 calls/day.
"""

from __future__ import annotations

import datetime as dt
import xml.etree.ElementTree as ET

RESOLUTION_MINUTES = {"PT15M": 15, "PT30M": 30, "PT60M": 60, "P1D": 1440}


def _localname(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _find(el: ET.Element, name: str) -> ET.Element | None:
    for child in el.iter():
        if _localname(child.tag) == name:
            return child
    return None


def _findall(el: ET.Element, name: str) -> list[ET.Element]:
    return [c for c in el.iter() if _localname(c.tag) == name]


def _parse_utc(s: str) -> dt.datetime:
    s = s.strip()
    if s.endswith("Z"):
        s = s[:-1] + "+00:00"
    t = dt.datetime.fromisoformat(s)
    if t.tzinfo is None:
        t = t.replace(tzinfo=dt.timezone.utc)
    return t.astimezone(dt.timezone.utc)


def _series_points(xml_text: str, value_tag: str) -> list[tuple[dt.datetime, float]]:
    """All (timestamp, value) points across every TimeSeries/Period."""
    if not xml_text or not xml_text.strip():
        return []
    try:
        root = ET.fromstring(xml_text)
    except ET.ParseError:
        return []
    out: list[tuple[dt.datetime, float]] = []
    for period in _findall(root, "Period"):
        interval = _find(period, "timeInterval")
        if interval is None:
            continue
        start_el = _find(interval, "start")
        if start_el is None or not start_el.text:
            continue
        start = _parse_utc(start_el.text)
        res_el = _find(period, "resolution")
        res = RESOLUTION_MINUTES.get(res_el.text.strip() if res_el is not None and res_el.text else "", 60)
        for point in _findall(period, "Point"):
            pos_el = _find(point, "position")
            val_el = _find(point, value_tag)
            if pos_el is None or val_el is None or pos_el.text is None or val_el.text is None:
                continue
            try:
                pos = int(pos_el.text)
                val = float(val_el.text)
            except ValueError:
                continue
            out.append((start + dt.timedelta(minutes=(pos - 1) * res), val))
    return out


def parse_day_ahead_prices(xml_text: str, domain: str, currency: str = "EUR") -> list[dict]:
    """S1 — A44 day-ahead prices (entsoe_collector.py:30-106)."""
    return [
        {"time": t, "domain": domain, "price_eur_mwh": v, "currency": currency}
        for t, v in _series_points(xml_text, "price.amount")
    ]


def parse_actual_load(xml_text: str, domain: str) -> list[dict]:
    """S2 — A65/A16 actual load (entsoe_collector.py:109-184)."""
    return [
        {"time": t, "domain": domain, "load_mwh": v}
        for t, v in _series_points(xml_text, "quantity")
    ]


def parse_generation(xml_text: str, domain: str, psr_type: str) -> list[dict]:
    """S3 — A75 generation per (domain, psr_type) (entsoe_collector.py:187-270)."""
    return [
        {"time": t, "domain": domain, "psr_type": psr_type, "quantity_mwh": v}
        for t, v in _series_points(xml_text, "quantity")
    ]


def parse_crossborder_flows(xml_text: str, in_domain: str, out_domain: str) -> list[dict]:
    """S4 — A11 cross-border flow (entsoe_collector.py:273-355)."""
    return [
        {"time": t, "in_domain": in_domain, "out_domain": out_domain, "flow_mwh": v}
        for t, v in _series_points(xml_text, "quantity")
    ]


def parse_load_forecast(xml_text: str, domain: str) -> list[dict]:
    """S5 — A65/A01 D+1 load forecast (entsoe_collector.py:358-436)."""
    return [
        {"time": t, "domain": domain, "load_mwh": v}
        for t, v in _series_points(xml_text, "quantity")
    ]
