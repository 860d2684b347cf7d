"""Run registry (runs.py) + the orchestration HTTP routes: the
engine-side analog of the reference's Airflow-proxy endpoints
(src/api/main.py:616-662,825-905,1073-1178), driven end-to-end — a
triggered backfill run really ingests through ingest.backfill_dates
(idempotent on re-trigger), a training run really fits and registers
servable models, and the validation endpoint serves truth-vs-pred
series for both model surfaces."""

from __future__ import annotations

import datetime as dt
import json
import threading
import time
import urllib.error
import urllib.request

import pytest
from pyspark.sql import functions as F

from bigdatasmallprice_spark.plans.feature_views import register_views
from bigdatasmallprice_spark.runs import (
    DagSpec,
    RunRegistry,
    TaskSpec,
    next_daily_run,
)
from tests.domain_data import make_domain_tables

UTC = dt.timezone.utc
CLOCK = dt.datetime(2026, 2, 15, 6, 0, tzinfo=UTC)
SECRET = "runs-test-secret"


# -- registry unit behavior (no Spark) ------------------------------------


def test_task_chain_states_and_always_run():
    hits = []
    reg = RunRegistry(clock=lambda: CLOCK)
    reg.register(
        DagSpec(
            "d",
            None,
            [
                TaskSpec("ok", lambda conf: hits.append(("ok", conf["x"]))),
                TaskSpec("boom", lambda conf: 1 / 0),
                TaskSpec("skipped", lambda conf: hits.append(("skipped",))),
                TaskSpec(
                    "summary",
                    lambda conf: hits.append(("summary",)),
                    always_run=True,
                ),
            ],
        )
    )
    run = reg.trigger("d", {"x": 7})
    assert run["state"] == "queued" and run["conf"] == {"x": 7}
    final = reg.wait("d", run["run_id"])
    assert final["state"] == "failed"
    states = {t: rec["state"] for t, rec in final["tasks"].items()}
    assert states == {
        "ok": "success",
        "boom": "failed",
        "skipped": "upstream_failed",
        "summary": "success",
    }
    assert final["error"].startswith("boom:")
    assert ("ok", 7) in hits and ("summary",) in hits and ("skipped",) not in hits
    # snapshots are copies: mutating the returned dict must not leak in
    final["tasks"]["ok"]["state"] = "tampered"
    assert reg.status("d", run["run_id"])["tasks"]["ok"]["state"] == "success"


def test_unknown_dag_and_run():
    reg = RunRegistry(clock=lambda: CLOCK)
    reg.register(DagSpec("d", None, [TaskSpec("t", lambda c: None)]))
    with pytest.raises(KeyError):
        reg.trigger("nope")
    with pytest.raises(KeyError):
        reg.status("d", "manual__nope")
    with pytest.raises(ValueError):
        reg.register(DagSpec("d", None, []))  # duplicate dag id


def test_list_dags_shape_and_next_run():
    reg = RunRegistry(clock=lambda: CLOCK)
    reg.register(DagSpec("manual", None, [TaskSpec("t", lambda c: None)]))
    reg.register(DagSpec("daily", "0 7 * * *", [TaskSpec("t", lambda c: None)]))
    listed = {d["dag_id"]: d for d in reg.list_dags()}
    assert listed["manual"]["schedule"] is None
    assert listed["manual"]["next_run"] is None
    assert listed["manual"]["last_run"] is None
    # 06:00 clock -> today's 07:00 fire
    assert listed["daily"]["next_run"] == "2026-02-15T07:00:00+00:00"
    run = reg.trigger("manual")
    reg.wait("manual", run["run_id"])
    last = {d["dag_id"]: d for d in reg.list_dags()}["manual"]["last_run"]
    assert last["state"] == "success" and last["start_date"] is not None


def test_next_daily_run_edges():
    now = dt.datetime(2026, 2, 15, 7, 30, tzinfo=UTC)
    assert next_daily_run("0 7 * * *", now) == "2026-02-16T07:00:00+00:00"
    assert next_daily_run("0 6 * * *", now) == "2026-02-16T06:00:00+00:00"
    assert next_daily_run("30 23 * * *", now) == "2026-02-15T23:30:00+00:00"
    assert next_daily_run("0 7 * * 1", now) is None  # non-daily shape
    assert next_daily_run("@daily", now) is None
    # numeric but impossible fields are "no next run", not a ValueError
    # that would 404 the whole dag listing
    assert next_daily_run("0 24 * * *", now) is None
    assert next_daily_run("75 6 * * *", now) is None
    assert next_daily_run("-1 6 * * *", now) is None


# -- HTTP orchestration routes over real engine jobs ----------------------


@pytest.fixture(scope="module")
def orch(spark, tmp_path_factory):
    from bigdatasmallprice_spark.api import make_server
    from bigdatasmallprice_spark.ingest import backfill_dates

    tables = make_domain_tables()
    sdfs = {}
    for name, pdf in tables.items():
        pdf = pdf.copy()
        pdf["time"] = pdf["time"].map(lambda t: t.replace(tzinfo=None))
        sdfs[name] = spark.createDataFrame(pdf)
    register_views(spark, sdfs)

    root = tmp_path_factory.mktemp("orch")
    bronze = str(root / "bronze")
    model_dir = str(root / "models")
    export_dir = str(root / "exports")
    schema = "time timestamp, sensor string, value double"

    def fetch(d: dt.date) -> list[dict]:
        return [
            {
                "time": dt.datetime(d.year, d.month, d.day, h),
                "sensor": s,
                "value": float(h),
            }
            for h in range(24)
            for s in ("a", "b")
        ]

    jobs = {
        "entsoe": lambda dates: backfill_dates(
            spark, fetch, dates, bronze, schema, keys=["time", "sensor"]
        )
    }
    server = make_server(
        spark,
        model_dir,
        SECRET,
        clock=lambda: CLOCK,
        export_dir=export_dir,
        backfill_jobs=jobs,
    )
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    base = f"http://127.0.0.1:{server.server_address[1]}"
    yield {"base": base, "bronze": bronze, "model_dir": model_dir}
    server.shutdown()


def _call(base, path, method="GET", body=None, token=None):
    req = urllib.request.Request(base + path, method=method)
    req.add_header("Content-Type", "application/json")
    if token:
        req.add_header("Authorization", f"Bearer {token}")
    data = json.dumps(body).encode() if body is not None else None
    try:
        with urllib.request.urlopen(req, data=data, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.fixture(scope="module")
def token(orch):
    base = orch["base"]
    _call(base, "/auth/register", "POST", {"username": "ops", "password": "pw"})
    _, out = _call(
        base, "/auth/login", "POST", {"username": "ops", "password": "pw"}
    )
    return out["access_token"]


def _poll_until_done(base, path, token, timeout_s=180.0):
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        code, out = _call(base, path, token=token)
        assert code == 200, out
        if out["state"] in ("success", "failed"):
            return out
        time.sleep(0.2)
    raise AssertionError(f"run at {path} did not finish")


def test_airflow_dags_listing(orch, token):
    code, dags = _call(orch["base"], "/api/airflow/dags", token=token)
    assert code == 200
    by_id = {d["dag_id"]: d for d in dags}
    assert set(by_id) == {
        "bdsp_backfill",
        "bdsp_etl_daily",
        "bdsp_feature_daily",
        "bdsp_training_daily",
    }
    assert by_id["bdsp_backfill"]["schedule"] is None
    assert by_id["bdsp_etl_daily"]["schedule"] == "0 6 * * *"
    # 06:00 clock, 07:00 cadence -> fires later today
    assert by_id["bdsp_feature_daily"]["next_run"] == "2026-02-15T07:00:00+00:00"


def test_backfill_trigger_validation(orch, token):
    base = orch["base"]
    code, out = _call(base, "/api/backfill/trigger", "POST", {}, token=token)
    assert code == 422 and "missing fields" in out["detail"]
    code, _ = _call(
        base,
        "/api/backfill/trigger",
        "POST",
        {"start_date": "2026-02-12", "end_date": "2026-02-10"},
        token=token,
    )
    assert code == 422
    code, _ = _call(
        base,
        "/api/backfill/trigger",
        "POST",
        {"start_date": "2026-03-01", "end_date": "2026-03-02"},  # future
        token=token,
    )
    assert code == 422
    code, _ = _call(
        base,
        "/api/backfill/trigger",
        "POST",
        {"start_date": "not-a-date", "end_date": "2026-02-10"},
        token=token,
    )
    assert code == 422


def test_backfill_run_ingests_and_reruns_idempotently(spark, orch, token):
    base = orch["base"]
    body = {"start_date": "2026-02-10", "end_date": "2026-02-11"}
    code, out = _call(base, "/api/backfill/trigger", "POST", body, token=token)
    assert code == 200 and out["state"] == "queued" and out["dag_run_id"]
    final = _poll_until_done(
        base, f"/api/backfill/status/{out['dag_run_id']}", token
    )
    assert final["state"] == "success"
    assert spark.read.parquet(orch["bronze"]).count() == 96  # 2d x 24h x 2

    # re-run the same range: the anti-join inserts nothing new
    code, out2 = _call(base, "/api/backfill/trigger", "POST", body, token=token)
    assert code == 200
    final2 = _poll_until_done(
        base, f"/api/backfill/status/{out2['dag_run_id']}", token
    )
    assert final2["state"] == "success"
    assert spark.read.parquet(orch["bronze"]).count() == 96

    # unknown run id -> 404 (not the 503 LookupError path)
    code, _ = _call(base, "/api/backfill/status/manual__nope", token=token)
    assert code == 404


def test_training_run_registers_servable_models(orch, token):
    base = orch["base"]
    code, out = _call(base, "/api/training/trigger", "POST", {}, token=token)
    assert code == 200 and out["dag_run_id"]
    run_id = out["dag_run_id"]
    final = _poll_until_done(base, f"/api/training/status/{run_id}", token)
    assert final["state"] == "success"

    code, tasks = _call(base, f"/api/training/tasks/{run_id}", token=token)
    assert code == 200 and tasks["run_state"] == "success"
    st = {t: rec["state"] for t, rec in tasks["tasks"].items()}
    assert st == {"run_training": "success", "train_load_model": "success"}
    assert all(
        rec["duration"] is not None for rec in tasks["tasks"].values()
    )

    # the run's artifacts are immediately servable — the full family,
    # including the naive (train-mean) baselines the reference trains
    # alongside each surface's real model (train.py:216-224,296-311)
    code, models = _call(base, "/api/models/status", token=token)
    assert code == 200
    assert {"model_epex", "model_load", "naive", "naive_load"} <= set(models)
    assert models["naive"]["kind"] == "mean"
    # each artifact carries test-split metrics measured through the
    # serving splice; the linear fit beats the constant baseline
    for name in ("model_epex", "model_load", "naive", "naive_load"):
        (m,) = models[name]["metrics"]
        assert m["mae"] > 0 and m["rmse"] >= m["mae"] and m["n"] > 0
    assert (
        models["model_epex"]["metrics"][0]["mae"]
        < models["naive"]["metrics"][0]["mae"]
    )
    code, fc = _call(base, "/api/forecast", token=token)
    assert code == 200 and fc["net_load_available"] is True

    # naive baselines serve a constant prediction on both surfaces
    for name in ("naive", "naive_load"):
        code, out = _call(base, f"/api/models/validation/{name}", token=token)
        assert code == 200, out
        assert len(set(out["y_pred"])) == 1
        assert len(set(out["y_true"])) > 1


def test_models_validation_series(orch, token):
    base = orch["base"]
    # training ran in the previous test (module-scoped server state)
    for name in ("model_epex", "model_load"):
        code, out = _call(base, f"/api/models/validation/{name}", token=token)
        assert code == 200, out
        assert out["model_name"] == name
        n = out["n_points"]
        assert 0 < n <= 500
        assert len(out["timestamps"]) == len(out["y_true"]) == n
        assert len(out["y_pred"]) == n
        assert out["timestamps"] == sorted(out["timestamps"])
        # linear artifacts carry no loss curve (gbt_full ones do)
        assert out["loss_history"] is None
    code, _ = _call(base, "/api/models/validation/model_nope", token=token)
    assert code == 503  # no artifact -> the engine's no-model status


def test_models_validation_serves_self_describing_gbt(spark, orch, token):
    """A boosted artifact saved with its raw feature_cols scores
    through /api/models/validation with no caller-side feature
    knowledge — score_latest re-featurizes with the same cents
    transform training applied, and the stored per-round MAE history
    serves as the loss curve (the reference's XGB chart path,
    main.py:1018-1063)."""
    from bigdatasmallprice_spark.modelstore import save_gbt_full_model
    from bigdatasmallprice_spark.operators.gbt import fit_gbt_on_features
    from bigdatasmallprice_spark.operators.splits import split_label_by_ratio
    from bigdatasmallprice_spark.queries.core import cents

    feats = ("lag_24h", "hour_of_day")
    tf = spark.table("training_features").na.drop(
        subset=["price_eur_mwh", *feats]
    )
    labeled = split_label_by_ratio(tf, ["time"], 0.7, 0.15)
    feat = labeled.select(
        cents(F.col("price_eur_mwh")).alias("y"),
        *[cents(F.col(c)).alias(f"x{i}") for i, c in enumerate(feats)],
        "split",
    )
    model, mae = fit_gbt_on_features(feat, len(feats), n_rounds=3, depth=2, n_bins=8)
    save_gbt_full_model(
        orch["model_dir"],
        "model_epex_gbt",
        model,
        mae,
        version="20260215T000000",
        feature_cols=list(feats),
    )
    code, out = _call(
        orch["base"], "/api/models/validation/model_epex_gbt", token=token
    )
    assert code == 200, out
    assert out["n_points"] > 0
    assert len(out["y_pred"]) == out["n_points"]
    assert all(isinstance(v, float) for v in out["y_pred"])
    # the loss curve is the fit's own history, not a recomputation
    hist = out["loss_history"]
    assert set(hist) == {"train", "val"}
    assert len(hist["train"]) == len(hist["val"]) > 0
    assert hist["train"] == [v for (s, r), v in sorted(mae.items()) if s == "train"]


def test_stock_feature_dag_exports(spark, orch, tmp_path):
    """The stock bdsp_feature_daily hands export a naive clock, which
    freshness_check reads as UTC: the run succeeds and writes both
    exports."""
    from bigdatasmallprice_spark.runs import default_dags

    export_dir = tmp_path / "exports"
    dags = {
        d.dag_id: d
        for d in default_dags(
            spark, orch["model_dir"], lambda: CLOCK, export_dir=str(export_dir)
        )
    }
    reg = RunRegistry(clock=lambda: CLOCK)
    reg.register(dags["bdsp_feature_daily"])
    run = reg.trigger("bdsp_feature_daily")
    final = reg.wait("bdsp_feature_daily", run["run_id"], timeout=300)
    assert final["state"] == "success", final["error"]
    for kind in ("energy", "load"):
        assert (export_dir / kind / "X_train.parquet").is_dir()


def test_html_shells(orch):
    for path in ("/", "/dashboard"):
        req = urllib.request.Request(orch["base"] + path)
        with urllib.request.urlopen(req, timeout=30) as resp:
            assert resp.status == 200
            assert "text/html" in resp.headers["Content-Type"]
            assert b"<h1>" in resp.read()
