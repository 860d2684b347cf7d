"""HTTP layer (api.py): drive the real server over a socket with
urllib — auth lifecycle, every route, and the reference's status
mapping (401/404/409/503)."""

from __future__ import annotations

import datetime as dt
import json
import threading
import urllib.error
import urllib.request

import pytest
from pyspark.sql import functions as F

from bigdatasmallprice_spark.plans.feature_views import register_views
from tests.domain_data import make_domain_tables

UTC = dt.timezone.utc
CLOCK = dt.datetime(2026, 2, 15, 6, 0, tzinfo=UTC)  # domain data ends 2-15
SECRET = "api-test-secret"


@pytest.fixture(scope="module")
def api(spark, tmp_path_factory):
    from bigdatasmallprice_spark import modelstore
    from bigdatasmallprice_spark.api import make_server
    from bigdatasmallprice_spark.operators.linreg import fit_linear_hour_dow

    tables = make_domain_tables()
    sdfs = {}
    for name, pdf in tables.items():
        pdf = pdf.copy()
        pdf["time"] = pdf["time"].map(lambda t: t.replace(tzinfo=None))
        sdfs[name] = spark.createDataFrame(pdf)
    log = [
        (
            i,
            "entsoe",
            dt.datetime(2026, 2, 14, 12, 0) + dt.timedelta(minutes=i),
            200,
            i % 5 == 0,
            120 + i,
        )
        for i in range(50)
    ]
    sdfs["api_call_log"] = spark.createDataFrame(
        log,
        "id long, source string, called_at timestamp, status_code int, "
        "was_rate_limited boolean, response_ms int",
    ).withColumn("date_fetched", F.lit("2026-02-14"))
    register_views(spark, sdfs)

    model_dir = str(tmp_path_factory.mktemp("apimodels"))
    prices = spark.table("entsoe_day_ahead_prices").withColumn("k", F.lit("all"))
    modelstore.save_model(
        model_dir,
        "model_epex",
        fit_linear_hour_dow(prices, "k", ts_col="time", value_col="price_eur_mwh"),
        version="20260214T000000",
    )

    server = make_server(spark, model_dir, SECRET, clock=lambda: CLOCK)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    base = f"http://127.0.0.1:{server.server_address[1]}"
    yield base
    server.shutdown()


def _call(base, path, method="GET", body=None, token=None):
    req = urllib.request.Request(base + path, method=method)
    req.add_header("Content-Type", "application/json")
    if token:
        req.add_header("Authorization", f"Bearer {token}")
    data = json.dumps(body).encode() if body is not None else None
    try:
        with urllib.request.urlopen(req, data=data, timeout=60) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.fixture(scope="module")
def token(api):
    code, _ = _call(
        api, "/auth/register", "POST", {"username": "alice", "password": "pw1"}
    )
    assert code == 201
    code, out = _call(
        api, "/auth/login", "POST", {"username": "alice", "password": "pw1"}
    )
    assert code == 200 and out["token_type"] == "bearer"
    return out["access_token"]


def test_register_conflict_and_bad_login(api, token):
    code, _ = _call(
        api, "/auth/register", "POST", {"username": "alice", "password": "x"}
    )
    assert code == 409
    code, _ = _call(
        api, "/auth/login", "POST", {"username": "alice", "password": "wrong"}
    )
    assert code == 401


def test_api_requires_valid_token(api, token):
    assert _call(api, "/api/db-status")[0] == 401
    assert _call(api, "/api/db-status", token="not.a.jwt")[0] == 401
    # expired: mint with exp in the past via the same encoder
    from bigdatasmallprice_spark.functions.auth import jwt_encode_py

    old = jwt_encode_py("alice", int(CLOCK.timestamp()) - 10, SECRET)
    code, out = _call(api, "/api/db-status", token=old)
    assert code == 401 and "expired" in out["detail"]


def test_db_status_and_price_history(api, token):
    code, rows = _call(api, "/api/db-status", token=token)
    assert code == 200
    by_table = {r["tbl"]: r for r in rows}
    assert by_table["entsoe_day_ahead_prices"]["n_rows"] > 0
    code, hist = _call(api, "/api/price-history?hours=24", token=token)
    assert code == 200 and len(hist) == 24
    times = [r["time"] for r in hist]
    assert times == sorted(times)  # ascending, reference main.py:370


def test_explorer_pagination_and_whitelist(api, token):
    code, p1 = _call(
        api, "/api/db-explorer/rows/weather_hourly?limit=5", token=token
    )
    code2, p2 = _call(
        api,
        "/api/db-explorer/rows/weather_hourly?limit=5&offset=5",
        token=token,
    )
    assert code == 200 and code2 == 200
    assert len(p1) == 5 and len(p2) == 5
    # DESC pagination: page 2 continues at-or-below page 1's last time
    # (duplicate hourly stamps may straddle the boundary), no row reused
    assert p1[-1]["time"] >= p2[0]["time"]
    assert p1 != p2
    code, out = _call(api, "/api/db-explorer/rows/secrets", token=token)
    assert code == 404 and "whitelist" in out["detail"]


def test_timeseries_and_rate_limits(api, token):
    code, rows = _call(
        api, "/api/timeseries/entsoe_day_ahead_prices?horizon=2%20days",
        token=token,
    )
    assert code == 200 and 0 < len(rows) <= 500
    code, rl = _call(api, "/api/rate-limits", token=token)
    assert code == 200
    assert rl[0]["n_calls"] == 50 and rl[0]["n_rate_limited"] == 10


def test_timeseries_serves_tariff_rollup(api, token):
    """The tariff rollup views carry ``hour``, not ``time`` (the domain
    tariffs cover the first three days, hence the long horizon)."""
    code, rows = _call(
        api, "/api/timeseries/ekz_tariffs_hourly?horizon=60%20days", token=token
    )
    assert code == 200, rows
    assert 0 < len(rows) <= 500
    hours = [r["hour"] for r in rows]
    assert hours == sorted(hours)


def test_backfill_estimate(api, token):
    code, out = _call(
        api,
        "/api/backfill/estimate",
        "POST",
        {
            "table": "entsoe_day_ahead_prices",
            "start": "2026-01-01",
            "end": "2026-01-07",
        },
        token=token,
    )
    assert code == 200
    assert out["days_missing"] == 0  # domain data starts 2026-01-01
    code, out = _call(
        api,
        "/api/backfill/estimate",
        "POST",
        {
            "table": "entsoe_day_ahead_prices",
            "start": "2026-03-01",
            "end": "2026-03-31",
        },
        token=token,
    )
    assert code == 200
    assert out["days_missing"] == 31  # entirely after the data extent
    assert out["estimated_calls"] == 31


def test_forecast_endpoint(api, token):
    code, out = _call(api, "/api/forecast", token=token)
    assert code == 200
    assert out["price_level"] in {"low", "medium", "high"}
    assert out["gesamttarif_rp_kwh"] == pytest.approx(
        out["netzpreis_rp_kwh"] + out["energiepreis_rp_kwh"], abs=0.011
    )
    # no load model saved in this fixture -> degraded path flagged
    assert out["net_load_available"] is False


def test_schema_and_models_status(api, token):
    code, schema = _call(api, "/api/db-explorer/schema", token=token)
    assert code == 200
    cols = {c["column"]: c for c in schema["entsoe_day_ahead_prices"]}
    assert cols["price_eur_mwh"]["type"] == "double"
    assert "time" in cols
    code, models = _call(api, "/api/models/status", token=token)
    assert code == 200
    assert models["model_epex"]["version"] == "20260214T000000"


def test_predict_endpoint(api, token):
    code, out = _call(
        api,
        "/api/predict",
        "POST",
        {"features": {"time": "2026-02-14T18:00:00"}},
        token=token,
    )
    assert code == 200
    assert out["model"] == "model_epex"
    assert out["model_version"] == "20260214T000000"
    assert isinstance(out["prediction_eur_mwh"], float)
    # missing time feature -> 422 (BadRequest mapping)
    code, _ = _call(api, "/api/predict", "POST", {"features": {}}, token=token)
    assert code == 422
    # unknown model -> 503 (no artifact)
    code, _ = _call(
        api,
        "/api/predict",
        "POST",
        {"features": {"time": "2026-02-14T18:00:00"}, "model": "nope"},
        token=token,
    )
    assert code == 503


def test_feature_status_and_rate_limit_history(api, token):
    code, out = _call(api, "/api/feature-status", token=token)
    assert code == 200
    assert out["row_count"] > 0 and out["rows_with_lags"] > 0
    assert out["oldest"] <= out["newest"]
    code, hist = _call(api, "/api/rate-limits/history", token=token)
    assert code == 200
    assert sum(h["calls"] for h in hist["entsoe"]) == 50
    hours = [h["hour"] for h in hist["entsoe"]]
    assert hours == sorted(hours)


def test_malformed_input_is_422(api, token):
    # horizon reaches F.expr(f"INTERVAL {horizon}") — reject before parse
    code, out = _call(
        api,
        "/api/timeseries/weather_hourly?horizon=1%20day)%20OR%20(SELECT%201",
        token=token,
    )
    assert code == 422
    # missing backfill fields are client errors, not 503s
    code, out = _call(api, "/api/backfill/estimate", "POST", {}, token=token)
    assert code == 422 and "missing fields" in out["detail"]
    code, _ = _call(
        api,
        "/api/backfill/estimate",
        "POST",
        {"table": "weather_hourly", "start": "not-a-date", "end": "2026-01-01"},
        token=token,
    )
    assert code == 422


def test_numeric_params_validated_as_422_not_404(api, token):
    """Malformed or out-of-range numeric query params are 422
    (BadRequest), never the 404 the blanket ValueError mapping
    reserves for whitelist violations, and never a 500."""
    for path in (
        "/api/price-history?hours=abc",
        "/api/price-history?hours=0",
        "/api/db-explorer/rows/weather_hourly?limit=abc",
        "/api/db-explorer/rows/weather_hourly?limit=-5",
        "/api/db-explorer/rows/weather_hourly?offset=-1",
        "/api/timeseries/weather_hourly?points=abc",
        # points=0 used to slip past a falsy `if chart_points:` check
        # and return the full un-downsampled series
        "/api/timeseries/weather_hourly?points=0",
        "/api/timeseries/weather_hourly?points=-5",
    ):
        code, out = _call(api, path, token=token)
        assert code == 422, (path, code, out)


def test_predict_bad_timestamp_is_422(api, token):
    code, out = _call(
        api,
        "/api/predict",
        "POST",
        {"features": {"time": "not-a-timestamp"}},
        token=token,
    )
    assert code == 422 and "ISO" in out["detail"]


def test_run_status_accepts_percent_encoded_run_ids(api, token):
    """Run ids carry '+' (tz-aware isoformat); a standards client
    percent-encodes the path segment and must still find its run."""
    import urllib.parse

    code, out = _call(
        api,
        "/api/backfill/trigger",
        "POST",
        {"start_date": "2026-02-13", "end_date": "2026-02-13"},
        token=token,
    )
    assert code == 200
    run_id = out["dag_run_id"]
    deadline = dt.datetime.now() + dt.timedelta(seconds=60)
    while dt.datetime.now() < deadline:
        code, st = _call(
            api,
            "/api/backfill/status/" + urllib.parse.quote(run_id, safe=""),
            token=token,
        )
        assert code == 200, (run_id, code, st)
        if st["state"] in ("success", "failed"):
            break
    assert st["state"] == "success"
