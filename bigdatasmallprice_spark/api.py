"""HTTP serving layer: the reference's FastAPI surface
(/root/reference/src/api/main.py) re-expressed over the engine's
serving methods with ONLY the standard library (http.server) — no
web-framework dependency.

Route map (reference main.py lines in parentheses):

- POST /auth/register           (210-218)  201 / 409 duplicate
- POST /auth/login              (221-231)  HS256 JWT / 401
- GET  /api/forecast            (260-352)  full model->tariff composition
- GET  /api/price-history       (355-372)  ?hours=, newest-N ascending
- GET  /api/db-status           (380-398)  per-table count/min/max
- GET  /api/db-explorer/rows/T  (429-452)  ?limit=&offset=, whitelist P8
- GET  /api/timeseries/T        (457-535)  ?horizon=&points=, 10k guard
- POST /api/backfill/estimate   (755-822)  missing-day cost estimate
- GET  /api/rate-limits         (663-690)  24h rollup over api_call_log
- GET  /api/airflow/dags        (616-658)  dag list via the run registry
- POST /api/backfill/trigger    (825-867)  validated date range -> run
- GET  /api/backfill/status/R   (868-905)  run state poll
- POST /api/training/trigger    (1073-1095) manual training run
- GET  /api/training/status/R   (1097-1123) run state poll
- GET  /api/training/tasks/R    (1125-1178) per-task states
- GET  /api/models/validation/M (962-1072)  val truth/pred + loss curve
- GET  / and /dashboard         (1181-1188) HTML shells (no auth)

The reference's orchestration endpoints proxy Airflow's REST API; here
they serve the in-process run registry (runs.py), whose default dag
set mirrors the reference's four dag files and executes real engine
jobs (ingest backfills, feature exports, model training) on a pool of
worker threads, independent tasks concurrently, with Airflow's
observable state machine.

Every /api/* route requires ``Authorization: Bearer <jwt>`` and mirrors
the reference's status mapping: 401 invalid/expired token, 404 unknown
route or non-whitelisted table (ValueError from serving's P8 check),
503 when serving raises LookupError/FileNotFoundError (no data / no
model), 500 otherwise. Row payloads serialize through
functions/serialization (F13: Decimal -> float, datetime -> ISO), so
the JSON matches the reference's response shapes.

Design notes: the handler delegates ALL computation to serving.py —
this module contains zero query logic, exactly like the reference's
route functions. The Spark session is shared across requests
(ThreadingHTTPServer + a lock around job submission keeps scheduling
simple; a production deployment would put a real ASGI server in front,
but the engine surface is identical). The clock is injectable, like
every serving method. Passwords hash with sha256 hexdigest — the same
function the reference's _hash_pw uses and the Column twin
(functions/auth.hash_password) applies on the data plane.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import SparkSession

TOKEN_TTL_S = 3600

# INTERVAL literal whitelist: the horizon query param reaches
# F.expr(f"INTERVAL {horizon}") in serving.timeseries, so anything
# outside this shape must be rejected before it meets the SQL parser
_HORIZON_RE = re.compile(r"^\d{1,4} (minutes?|hours?|days?|weeks?)$")


class BadRequest(Exception):
    """Maps to 422 — malformed client input (FastAPI's validation
    status in the reference)."""


class ApiState:
    """Shared state behind the handler: session, config, user store."""

    def __init__(
        self,
        spark: SparkSession,
        model_dir: str,
        secret: str,
        clock=None,
    ):
        self.spark = spark
        self.model_dir = model_dir
        self.secret = secret
        self.clock = clock or (lambda: dt.datetime.now(dt.timezone.utc))
        self.users: dict[str, str] = {}
        self.lock = threading.Lock()
        self.runs = None  # RunRegistry, injected by make_server

    def now_s(self) -> int:
        return int(self.clock().timestamp())


def _hash_pw(password: str) -> str:
    # reference main.py:169-171; Column twin: functions/auth.hash_password
    return hashlib.sha256(password.encode()).hexdigest()


class ApiHandler(BaseHTTPRequestHandler):
    state: ApiState  # injected by make_server

    # -- plumbing ---------------------------------------------------------

    def log_message(self, fmt, *args):  # quiet test output
        pass

    def _send(self, code: int, payload) -> None:
        body = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _json_body(self) -> dict:
        n = int(self.headers.get("Content-Length") or 0)
        if n == 0:
            return {}
        try:
            return json.loads(self.rfile.read(n))
        except json.JSONDecodeError:
            return {}

    def _auth_sub(self) -> str | None:
        """Validated JWT subject, or None (after sending 401)."""
        from bigdatasmallprice_spark.functions.auth import jwt_decode_py

        header = self.headers.get("Authorization") or ""
        if not header.startswith("Bearer "):
            self._send(401, {"detail": "Not authenticated"})
            return None
        res = jwt_decode_py(
            header[len("Bearer "):], self.state.secret, self.state.now_s()
        )
        if not res["valid"]:
            self._send(401, {"detail": f"Token {res['error']}"})
            return None
        return res["sub"]

    def _rows(self, df) -> list[dict]:
        from bigdatasmallprice_spark.functions.serialization import (
            serialize_rows,
        )

        return serialize_rows(df)

    # -- routes -----------------------------------------------------------

    def do_POST(self) -> None:  # noqa: N802 (http.server contract)
        path = unquote(urlparse(self.path).path)
        st = self.state
        body = self._json_body()
        if path == "/auth/register":
            username, password = body.get("username"), body.get("password")
            if not username or not password:
                return self._send(422, {"detail": "username/password required"})
            with st.lock:
                if username in st.users:
                    return self._send(409, {"detail": "Username already exists"})
                st.users[username] = _hash_pw(password)
            return self._send(201, {"message": "User created"})
        if path == "/auth/login":
            from bigdatasmallprice_spark.functions.auth import jwt_encode_py

            username, password = body.get("username"), body.get("password")
            stored = st.users.get(username or "")
            if stored is None or stored != _hash_pw(password or ""):
                return self._send(401, {"detail": "Invalid credentials"})
            token = jwt_encode_py(
                username, st.now_s() + TOKEN_TTL_S, st.secret
            )
            return self._send(
                200, {"access_token": token, "token_type": "bearer"}
            )
        if path == "/api/backfill/estimate":
            if self._auth_sub() is None:
                return None
            return self._dispatch(self._backfill, body)
        if path == "/api/predict":
            if self._auth_sub() is None:
                return None
            return self._dispatch(self._predict, body)
        if path == "/api/backfill/trigger":
            if self._auth_sub() is None:
                return None
            return self._dispatch(self._backfill_trigger, body)
        if path == "/api/training/trigger":
            if self._auth_sub() is None:
                return None
            return self._dispatch(self._training_trigger)
        return self._send(404, {"detail": "Not found"})

    def do_GET(self) -> None:  # noqa: N802
        url = urlparse(self.path)
        # run ids carry '+' (tz-aware isoformat); standards clients
        # percent-encode path segments, so decode before matching
        path, q = unquote(url.path), parse_qs(url.query)
        if path in ("/", "/dashboard"):  # unauthenticated, like main.py:1181-1188
            return self._html(path)
        if not path.startswith("/api/"):
            return self._send(404, {"detail": "Not found"})
        if self._auth_sub() is None:
            return None
        if path == "/api/forecast":
            return self._dispatch(self._forecast)
        if path == "/api/price-history":
            return self._dispatch(self._price_history, q)
        if path == "/api/db-status":
            return self._dispatch(self._db_status)
        if path == "/api/db-explorer/schema":
            return self._dispatch(self._schema)
        if path == "/api/models/status":
            return self._dispatch(self._models_status)
        if path.startswith("/api/db-explorer/rows/"):
            return self._dispatch(
                self._explore, path.rsplit("/", 1)[1], q
            )
        if path.startswith("/api/timeseries/"):
            return self._dispatch(
                self._timeseries, path.rsplit("/", 1)[1], q
            )
        if path == "/api/rate-limits":
            return self._dispatch(self._rate_limits)
        if path == "/api/rate-limits/history":
            return self._dispatch(self._rate_limits_history)
        if path == "/api/feature-status":
            return self._dispatch(self._feature_status)
        if path == "/api/airflow/dags":
            return self._dispatch(self._airflow_dags)
        if path.startswith("/api/backfill/status/"):
            return self._dispatch(
                self._run_status, "bdsp_backfill", path.rsplit("/", 1)[1]
            )
        if path.startswith("/api/training/status/"):
            return self._dispatch(
                self._run_status, "bdsp_training_daily", path.rsplit("/", 1)[1]
            )
        if path.startswith("/api/training/tasks/"):
            return self._dispatch(
                self._run_tasks, "bdsp_training_daily", path.rsplit("/", 1)[1]
            )
        if path.startswith("/api/models/validation/"):
            return self._dispatch(self._models_validation, path.rsplit("/", 1)[1])
        return self._send(404, {"detail": "Not found"})

    def _dispatch(self, fn, *args) -> None:
        """Reference status mapping: P8 whitelist violation -> 404, no
        data / no model -> 503, anything else -> 500."""
        st = self.state
        try:
            with st.lock:
                result = fn(*args)
            self._send(200, result)
        except BadRequest as e:
            self._send(422, {"detail": str(e)})
        except ValueError as e:
            self._send(404, {"detail": str(e)})
        except (LookupError, FileNotFoundError) as e:
            self._send(503, {"detail": str(e)})
        except Exception as e:  # pragma: no cover - defensive
            self._send(500, {"detail": str(e)})

    # -- serving delegates ------------------------------------------------

    def _forecast(self) -> dict:
        from bigdatasmallprice_spark.serving import forecast

        return forecast(self.state.spark, self.state.model_dir)

    @staticmethod
    def _int_param(q, name: str, default: int, lo: int, hi: int | None = None) -> int:
        """FastAPI Query(ge=/le=) analog: non-integer or out-of-range
        values are malformed input (422), never the 404 the blanket
        ValueError mapping is reserved for (P8 whitelist violations)."""
        raw = q.get(name, [str(default)])[0]
        try:
            v = int(raw)
        except ValueError:
            raise BadRequest(f"{name} must be an integer") from None
        if v < lo or (hi is not None and v > hi):
            bound = f">= {lo}" if hi is None else f"in [{lo}, {hi}]"
            raise BadRequest(f"{name} must be {bound}")
        return v

    def _price_history(self, q) -> list[dict]:
        from bigdatasmallprice_spark.serving import price_history

        hours = self._int_param(q, "hours", 24, 1, 168)
        return self._rows(price_history(self.state.spark, hours))

    def _db_status(self) -> list[dict]:
        from bigdatasmallprice_spark.serving import present_time_tables, table_stats

        st = self.state
        return self._rows(table_stats(st.spark, present_time_tables(st.spark)))

    def _explore(self, table: str, q) -> list[dict]:
        from bigdatasmallprice_spark.serving import explore_rows

        limit = self._int_param(q, "limit", 100, 1, 1000)
        offset = self._int_param(q, "offset", 0, 0)
        return self._rows(
            explore_rows(self.state.spark, table, limit, offset)
        )

    def _timeseries(self, table: str, q) -> list[dict]:
        from bigdatasmallprice_spark.serving import timeseries

        st = self.state
        horizon = q.get("horizon", ["7 days"])[0]
        if not _HORIZON_RE.match(horizon):
            raise BadRequest(
                "horizon must look like '7 days' / '24 hours'"
            )
        points = self._int_param(q, "points", 500, 1, 500)
        clock = st.clock().replace(tzinfo=None)
        return self._rows(
            timeseries(st.spark, table, clock, horizon, chart_points=points)
        )

    def _rate_limits(self) -> list[dict]:
        from bigdatasmallprice_spark.serving import rate_limit_stats

        st = self.state
        return self._rows(
            rate_limit_stats(st.spark, st.clock().replace(tzinfo=None))
        )

    def _predict(self, body: dict) -> dict:
        """Score an explicit feature dict (reference main.py:235-258).
        The engine's registered models key on the timestamp, so the
        feature dict must carry ``time`` (ISO); 503 when no artifact."""
        from bigdatasmallprice_spark import modelstore
        from bigdatasmallprice_spark.session import local_frame

        feats = body.get("features") or {}
        if "time" not in feats:
            raise BadRequest("features must include 'time' (ISO timestamp)")
        model = body.get("model", "model_epex")
        st = self.state
        try:
            ts = dt.datetime.fromisoformat(feats["time"])
        except (TypeError, ValueError):
            raise BadRequest("features.time must be an ISO timestamp") from None
        one = local_frame(st.spark, [(ts, "all")], "time timestamp, k string")
        row = modelstore.score_latest(
            st.spark, st.model_dir, model, one, "k", ts_col="time"
        ).collect()
        if not row:
            raise LookupError(f"model {model!r} matched no key")
        return {
            "prediction_eur_mwh": round(float(row[0]["prediction"]), 2),
            "model": model,
            "model_version": row[0]["model_version"],
        }

    def _schema(self) -> dict:
        """Column name/type/nullability per whitelist table (reference
        main.py:401-426, information_schema replaced by the catalog)."""
        from bigdatasmallprice_spark.serving import SERVING_TABLES

        st = self.state
        out: dict[str, list[dict]] = {}
        for t in sorted(SERVING_TABLES):
            if not st.spark.catalog.tableExists(t):
                continue
            out[t] = [
                {
                    "column": f.name,
                    "type": f.dataType.simpleString(),
                    "nullable": f.nullable,
                }
                for f in st.spark.table(t).schema.fields
            ]
        return out

    def _models_status(self) -> dict:
        """Newest artifact + metrics per model name (reference
        main.py:905-1010's joblib/metrics-file scan, over the engine's
        versioned JSON registry)."""
        import json as _json
        import os

        from bigdatasmallprice_spark.modelstore import find_latest

        names: set[str] = set()
        try:
            for e in os.listdir(self.state.model_dir):
                if "_v" in e and e.endswith(".json"):
                    names.add(e.rsplit("_v", 1)[0])
        except FileNotFoundError:
            pass
        out: dict[str, dict] = {}
        for name in sorted(names):
            path = find_latest(self.state.model_dir, name)
            if path is None:
                continue
            with open(path) as fh:
                doc = _json.load(fh)
            out[name] = {
                "version": doc.get("version"),
                "kind": doc.get("kind", "linear"),
                "metrics": doc.get("metrics"),
            }
        return out

    def _rate_limits_history(self) -> dict:
        from bigdatasmallprice_spark.serving import rate_limit_history

        st = self.state
        df = rate_limit_history(st.spark, st.clock().replace(tzinfo=None))
        out: dict[str, list[dict]] = {}
        for r in self._rows(df):
            out.setdefault(r["source"], []).append(
                {"hour": r["hour"], "calls": r["calls"]}
            )
        return out

    def _feature_status(self) -> dict:
        from bigdatasmallprice_spark.serving import feature_status

        row = feature_status(self.state.spark).collect()[0]
        return {
            "row_count": int(row["row_count"] or 0),
            "oldest": row["oldest"].isoformat() if row["oldest"] else None,
            "newest": row["newest"].isoformat() if row["newest"] else None,
            "rows_with_lags": int(row["rows_with_lags"] or 0),
        }

    def _backfill(self, body: dict) -> dict:
        from bigdatasmallprice_spark.serving import backfill_estimate

        missing = [k for k in ("table", "start", "end") if k not in body]
        if missing:
            raise BadRequest(f"missing fields: {', '.join(missing)}")
        try:
            dt.date.fromisoformat(body["start"])
            dt.date.fromisoformat(body["end"])
        except ValueError as e:
            raise BadRequest(f"bad date: {e}") from None
        return backfill_estimate(
            self.state.spark,
            body["table"],
            dt.date.fromisoformat(body["start"]),
            dt.date.fromisoformat(body["end"]),
            int(body.get("calls_per_day", 1)),
        )

    # -- orchestration (run registry) --------------------------------------

    def _airflow_dags(self) -> list[dict]:
        return self.state.runs.list_dags()

    def _backfill_trigger(self, body: dict) -> dict:
        """Validated date range -> a bdsp_backfill run (main.py:825-867;
        the reference rejects inverted and future ranges with 400 — the
        engine's one malformed-input status is 422)."""
        missing = [k for k in ("start_date", "end_date") if k not in body]
        if missing:
            raise BadRequest(f"missing fields: {', '.join(missing)}")
        try:
            start = dt.date.fromisoformat(body["start_date"])
            end = dt.date.fromisoformat(body["end_date"])
        except ValueError as e:
            raise BadRequest(f"Invalid date: {e}") from None
        if end < start:
            raise BadRequest("end_date must be >= start_date")
        today = self.state.clock().date()
        if start > today or end > today:
            raise BadRequest("Dates must not be in the future")
        run = self.state.runs.trigger(
            "bdsp_backfill",
            {"backfill_start": body["start_date"], "backfill_end": body["end_date"]},
        )
        return {
            "dag_run_id": run["run_id"],
            "state": run["state"],
            "message": "Backfill triggered.",
        }

    def _training_trigger(self) -> dict:
        run = self.state.runs.trigger("bdsp_training_daily", {})
        return {
            "dag_run_id": run["run_id"],
            "state": run["state"],
            "message": "Training triggered.",
        }

    def _run_status(self, dag_id: str, run_id: str) -> dict:
        try:
            rec = self.state.runs.status(dag_id, run_id)
        except KeyError:
            # registry KeyError is LookupError (-> 503); not-found is 404
            raise ValueError(f"DAG run {run_id!r} not found") from None
        return {
            "dag_run_id": rec["run_id"],
            "state": rec["state"],
            "start_date": rec["start_date"],
            "end_date": rec["end_date"],
        }

    def _run_tasks(self, dag_id: str, run_id: str) -> dict:
        try:
            rec = self.state.runs.status(dag_id, run_id)
        except KeyError:
            raise ValueError(f"DAG run {run_id!r} not found") from None
        return {
            "dag_run_id": rec["run_id"],
            "run_state": rec["state"],
            "start_date": rec["start_date"],
            "end_date": rec["end_date"],
            "tasks": rec["tasks"],
        }

    def _models_validation(self, model_name: str) -> dict:
        from bigdatasmallprice_spark.serving import model_validation

        return model_validation(
            self.state.spark, self.state.model_dir, model_name
        )

    def _html(self, path: str) -> None:
        """Status-page shells (reference templates/index.html +
        dashboard.html are a JS front-end over the same endpoints; the
        engine ships the minimal equivalent so / and /dashboard answer
        like the reference's app)."""
        title = "BigDataSmallPrice" if path == "/" else "Dashboard"
        body = (
            f"<!doctype html><html><head><title>{title}</title></head>"
            "<body><h1>" + title + "</h1>"
            "<p>API: POST /auth/register, /auth/login; authenticated "
            "routes under /api/ (forecast, price-history, db-status, "
            "db-explorer, timeseries, predict, models, rate-limits, "
            "backfill, training, airflow/dags).</p></body></html>"
        ).encode()
        self.send_response(200)
        self.send_header("Content-Type", "text/html; charset=utf-8")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


def make_server(
    spark: SparkSession,
    model_dir: str,
    secret: str,
    clock=None,
    port: int = 0,
    export_dir: str | None = None,
    backfill_jobs: dict | None = None,
    dag_specs: list | None = None,
) -> ThreadingHTTPServer:
    """Build the HTTP server (port 0 = ephemeral; serve with
    ``serve_forever`` in a thread, stop with ``shutdown``).

    The orchestration routes serve a RunRegistry seeded with
    runs.default_dags (backfill/etl over ``backfill_jobs`` closures,
    feature exports into ``export_dir``, model training into
    ``model_dir``); pass ``dag_specs`` to replace the stock set."""
    from bigdatasmallprice_spark.runs import RunRegistry, default_dags

    state = ApiState(spark, model_dir, secret, clock)
    state.runs = RunRegistry(clock=state.clock)
    state.runs.register_all(
        dag_specs
        if dag_specs is not None
        else default_dags(spark, model_dir, state.clock, export_dir, backfill_jobs)
    )
    handler = type("BoundApiHandler", (ApiHandler,), {"state": state})
    return ThreadingHTTPServer(("127.0.0.1", port), handler)
