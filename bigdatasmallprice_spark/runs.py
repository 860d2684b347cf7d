"""Run registry: the engine-side analog of the Airflow dagRuns surface.

The reference's orchestration endpoints are thin HTTP proxies over
Airflow's REST API (src/api/main.py:616-662 ``/api/airflow/dags``,
826-905 backfill trigger/status, 1074-1178 training trigger/status/
tasks); the DAGs themselves live in ``airflow/dags/*.py``. This
engine's orchestrator is ``scheduler.py`` (policy cadence + windowed
jobs) — the run registry adds the *observable* half: named dag specs,
manual triggers, and per-run / per-task state records following
Airflow's state machine (``queued -> running -> success | failed``),
so the HTTP layer can serve the same JSON shapes without an external
scheduler process.

Each trigger executes on one daemon worker thread; tasks run
sequentially in declaration order, matching the reference's linear
task chains (training_dag.py:84-93). A task exception marks the task
and the run ``failed`` and the remaining tasks ``upstream_failed`` —
except tasks declared ``always_run``, the analog of the reference's
``trigger_rule="all_done"`` summary tasks (backfill_dag.py:209,
etl_pipeline_dag.py:146), which still execute after a failure.

Everything here is driver-side bookkeeping (O(#runs) dicts under one
lock); all data movement stays inside the task callables, which close
over engine operators (ingest.backfill_dates, export.run_export, the
training tasks' naive and linear fits). At scale the registry is
exactly as big as the run history it retains — state per run is a few
hundred bytes, never rows.
"""

from __future__ import annotations

import datetime as dt
import threading
import time
from collections.abc import Callable, Iterable
from copy import deepcopy
from dataclasses import dataclass, field
from typing import Any


@dataclass(frozen=True)
class TaskSpec:
    """One task in a dag: ``fn`` receives the run's conf dict.

    ``always_run`` mirrors Airflow's ``trigger_rule="all_done"``: the
    task executes even when an upstream task failed (the reference's
    compute_eta_done / log_summary pattern)."""

    task_id: str
    fn: Callable[[dict], Any]
    always_run: bool = False


@dataclass(frozen=True)
class DagSpec:
    """A named, triggerable task chain. ``schedule`` is the cron
    string shown by the dags listing (None = manual-only, like
    bdsp_backfill / bdsp_training_daily in the reference)."""

    dag_id: str
    schedule: str | None
    tasks: list[TaskSpec] = field(default_factory=list)


def _utcnow() -> dt.datetime:
    return dt.datetime.now(dt.timezone.utc)


def next_daily_run(schedule: str, now: dt.datetime) -> str | None:
    """Next fire time for the daily-cron shapes the reference uses
    ("0 6 * * *" / "0 7 * * *" — minute hour * * *). Anything fancier
    returns None, exactly like Airflow's next_dagrun being absent."""
    parts = schedule.split()
    if len(parts) != 5 or parts[2:] != ["*", "*", "*"]:
        return None
    try:
        minute, hour = int(parts[0]), int(parts[1])
    except ValueError:
        return None
    if not (0 <= minute <= 59 and 0 <= hour <= 23):
        # numeric but impossible ("0 24 * * *") is just as absent a
        # next_dagrun as a fancy expression — never an exception that
        # would take down the whole dag listing
        return None
    candidate = now.replace(minute=minute, hour=hour, second=0, microsecond=0)
    if candidate <= now:
        candidate += dt.timedelta(days=1)
    return candidate.isoformat()


class RunRegistry:
    """Thread-safe record of dag specs and their runs.

    ``status``/``task_states`` return deep-copied snapshots so callers
    can serialize them without racing the worker thread. ``clock`` is
    injectable like every serving method; task ``duration`` is wall
    time from a monotonic clock (the one real-time quantity Airflow
    also reports)."""

    def __init__(self, clock: Callable[[], dt.datetime] | None = None):
        self._dags: dict[str, DagSpec] = {}
        self._runs: dict[tuple[str, str], dict] = {}
        self._order: dict[str, list[str]] = {}
        self._threads: dict[tuple[str, str], threading.Thread] = {}
        self._lock = threading.RLock()
        self._seq = 0
        self.clock = clock or _utcnow

    # -- dag registration / listing --------------------------------------

    def register(self, spec: DagSpec) -> None:
        with self._lock:
            if spec.dag_id in self._dags:
                raise ValueError(f"dag {spec.dag_id!r} already registered")
            ids = [t.task_id for t in spec.tasks]
            if len(set(ids)) != len(ids):
                raise ValueError(f"duplicate task ids in {spec.dag_id!r}")
            self._dags[spec.dag_id] = spec
            self._order[spec.dag_id] = []

    def register_all(self, specs: Iterable[DagSpec]) -> None:
        for s in specs:
            self.register(s)

    def list_dags(self) -> list[dict]:
        """The /api/airflow/dags response shape (main.py:626-652):
        dag_id, is_paused, schedule, next_run, last_run summary."""
        now = self.clock()
        out = []
        with self._lock:
            for dag_id in sorted(self._dags):
                spec = self._dags[dag_id]
                last = None
                if self._order[dag_id]:
                    r = self._runs[(dag_id, self._order[dag_id][-1])]
                    last = {
                        "state": r["state"],
                        "execution_date": r["execution_date"],
                        "start_date": r["start_date"],
                        "end_date": r["end_date"],
                    }
                out.append(
                    {
                        "dag_id": dag_id,
                        "is_paused": False,
                        "schedule": spec.schedule,
                        "next_run": (
                            next_daily_run(spec.schedule, now)
                            if spec.schedule
                            else None
                        ),
                        "last_run": last,
                    }
                )
        return out

    # -- runs -------------------------------------------------------------

    def trigger(self, dag_id: str, conf: dict | None = None) -> dict:
        """Create a queued run and start its worker; returns the run
        snapshot (the reference returns Airflow's queued dagRun,
        main.py:858-863). KeyError for an unknown dag -> the HTTP
        layer's 404."""
        conf = dict(conf or {})
        with self._lock:
            if dag_id not in self._dags:
                raise KeyError(f"unknown dag {dag_id!r}")
            spec = self._dags[dag_id]
            self._seq += 1
            run_id = f"manual__{self.clock().isoformat()}__{self._seq}"
            rec = {
                "dag_id": dag_id,
                "run_id": run_id,
                "state": "queued",
                "conf": conf,
                "execution_date": self.clock().isoformat(),
                "start_date": None,
                "end_date": None,
                "error": None,
                "tasks": {
                    t.task_id: {
                        "state": None,
                        "start_date": None,
                        "end_date": None,
                        "duration": None,
                        "try_number": 1,
                    }
                    for t in spec.tasks
                },
            }
            self._runs[(dag_id, run_id)] = rec
            self._order[dag_id].append(run_id)
            worker = threading.Thread(
                target=self._execute, args=(dag_id, run_id, spec, conf), daemon=True
            )
            self._threads[(dag_id, run_id)] = worker
            snapshot = deepcopy(rec)
        worker.start()
        return snapshot

    def _execute(self, dag_id: str, run_id: str, spec: DagSpec, conf: dict) -> None:
        key = (dag_id, run_id)
        rec = self._runs[key]
        with self._lock:
            rec["state"] = "running"
            rec["start_date"] = self.clock().isoformat()
        failed = False
        for t in spec.tasks:
            trec = rec["tasks"][t.task_id]
            if failed and not t.always_run:
                with self._lock:
                    trec["state"] = "upstream_failed"
                continue
            with self._lock:
                trec["state"] = "running"
                trec["start_date"] = self.clock().isoformat()
            t0 = time.monotonic()
            try:
                t.fn(conf)
                state = "success"
            except Exception as exc:  # a failing task must not kill the worker
                state = "failed"
                failed = True
                with self._lock:
                    rec["error"] = f"{t.task_id}: {exc}"
            with self._lock:
                trec["state"] = state
                trec["end_date"] = self.clock().isoformat()
                trec["duration"] = round(time.monotonic() - t0, 3)
        with self._lock:
            rec["state"] = "failed" if failed else "success"
            rec["end_date"] = self.clock().isoformat()

    def status(self, dag_id: str, run_id: str) -> dict:
        """Snapshot of one run; KeyError for an unknown id -> 404."""
        with self._lock:
            rec = self._runs.get((dag_id, run_id))
            if rec is None:
                raise KeyError(f"DAG run {run_id!r} not found")
            return deepcopy(rec)

    def wait(self, dag_id: str, run_id: str, timeout: float = 120.0) -> dict:
        """Join the worker (tests / synchronous callers), then return
        the final snapshot."""
        worker = self._threads.get((dag_id, run_id))
        if worker is not None:
            worker.join(timeout)
            if worker.is_alive():
                raise TimeoutError(f"run {run_id!r} still running")
        return self.status(dag_id, run_id)


# -- default engine dags ---------------------------------------------------


def _conf_dates(conf: dict) -> list[dt.date]:
    """backfill conf {"backfill_start","backfill_end"} -> inclusive
    date list (the reference DAG reads the same conf keys,
    backfill_dag.py / main.py:843-848)."""
    start = dt.date.fromisoformat(conf["backfill_start"])
    end = dt.date.fromisoformat(conf["backfill_end"])
    return [start + dt.timedelta(days=i) for i in range((end - start).days + 1)]


def default_dags(
    spark,
    model_dir: str,
    clock: Callable[[], dt.datetime],
    export_dir: str | None = None,
    backfill_jobs: dict[str, Callable[[list[dt.date]], Any]] | None = None,
) -> list[DagSpec]:
    """The engine's stock dag set, mirroring the reference's four dag
    files one-to-one:

    - ``bdsp_backfill`` (manual): one ``fetch_<source>`` task per entry
      in ``backfill_jobs`` (each a closure over ingest.backfill_dates —
      the scheduler.backfill_job contract) over the conf's date range,
      then an always-run ``compute_eta_done`` summary.
    - ``bdsp_etl_daily`` ("0 6 * * *"): the same jobs over the clock's
      current date (etl_pipeline_dag.py:126-146).
    - ``bdsp_feature_daily`` ("0 7 * * *"): run_feature_export +
      run_load_feature_export via export.run_export / run_load_export
      when ``export_dir`` is set (feature_pipeline_dag.py:63-78).
    - ``bdsp_training_daily`` (manual): ``run_training`` fits the EPEX
      price model and ``train_load_model`` the Winterthur net-load
      model, each beside its naive baseline (training_dag.py:74-93);
      each task writes every artifact once, with its test metrics,
      through modelstore, so a completed run is immediately servable
      by /api/forecast and /api/predict.
    """
    import os

    from pyspark.sql import functions as F

    jobs = dict(backfill_jobs or {})
    dags: list[DagSpec] = []

    def _summary(conf: dict) -> dict:
        return {"sources": sorted(jobs), "done": True}

    def _fetch_task(name: str, job, dates_of) -> TaskSpec:
        def fn(conf: dict):
            return job(dates_of(conf))

        return TaskSpec(f"fetch_{name}", fn)

    backfill_tasks = [
        _fetch_task(n, j, _conf_dates) for n, j in sorted(jobs.items())
    ]
    backfill_tasks.append(TaskSpec("compute_eta_done", _summary, always_run=True))
    dags.append(DagSpec("bdsp_backfill", None, backfill_tasks))

    etl_tasks = [
        _fetch_task(n, j, lambda conf: [clock().date()])
        for n, j in sorted(jobs.items())
    ]
    etl_tasks.append(TaskSpec("log_summary", _summary, always_run=True))
    dags.append(DagSpec("bdsp_etl_daily", "0 6 * * *", etl_tasks))

    if export_dir is not None:
        from bigdatasmallprice_spark.export import run_export, run_load_export

        def _feat(conf: dict):
            return run_export(
                spark, os.path.join(export_dir, "energy"), clock().replace(tzinfo=None)
            )

        def _feat_load(conf: dict):
            return run_load_export(
                spark, os.path.join(export_dir, "load"), clock().replace(tzinfo=None)
            )

        dags.append(
            DagSpec(
                "bdsp_feature_daily",
                "0 7 * * *",
                [
                    TaskSpec("run_feature_export", _feat),
                    TaskSpec("run_load_feature_export", _feat_load),
                ],
            )
        )

    from bigdatasmallprice_spark import modelstore
    from bigdatasmallprice_spark.operators.linreg import fit_linear_hour_dow

    def _version(_conf: dict) -> str:
        return clock().strftime("%Y%m%dT%H%M%S")

    def _train_surface(conf: dict, model_name: str, naive_name: str) -> str:
        """One reference training task = naive + linear over the
        surface's TRAIN split, each evaluated on the TEST split
        (train.py:216-239,296-318 trains the model family and writes
        MAE/RMSE/masked-MAPE metrics per model; the split rules are
        the export module's, via serving.labeled_model_surface).

        The task evaluates its feature view once: the labeled surface
        is the view's (time, target) projection, persisted before the
        split rule runs, labeled and persisted again for the task's
        actions. One aggregation over the train split yields the naive
        mean and the linear fit. Both models are held as artifact
        documents in memory and score the test split through the
        serving splice (modelstore.score_doc, what score_latest runs
        after loading the newest artifact), and one aggregation
        measures both models' metrics. Each artifact is then written
        once, metrics included, so /api/models/status never reads an
        artifact without them. The caches are released when the task
        exits, also when it fails."""
        from bigdatasmallprice_spark.functions.metrics import (
            exact_mean,
            regression_metrics,
        )
        from bigdatasmallprice_spark.serving import labeled_model_surface

        v = _version(conf)
        with labeled_model_surface(spark, model_name) as (surface, target):
            train, test = (
                surface.filter(F.col("split") == s).withColumn("k", F.lit("all"))
                for s in ("train", "test")
            )
            mean_col = exact_mean(F.col(target)).alias("mean")
            fit = fit_linear_hour_dow(train, "k", "time", target, mean_col).collect()
            if not fit:
                raise ValueError(f"{model_name}: the train split is empty")
            coef = fit[0].asDict()
            mean = coef.pop("mean")
            docs = {
                naive_name: modelstore.new_doc(
                    naive_name, v, modelstore.mean_body(mean or 0.0)
                ),
                model_name: modelstore.new_doc(model_name, v, {"coefficients": [coef]}),
            }
            naive, linear = (
                modelstore.score_doc(spark, doc, test, "k", ts_col="time")
                .withColumn("model", F.lit(name))
                for name, doc in docs.items()
            )
            scored = naive.unionByName(linear)
            for r in regression_metrics(
                scored, target, "prediction", ["model"]
            ).collect():
                m = r.asDict()
                docs[m.pop("model")]["metrics"] = [m]
        modelstore.write_doc(model_dir, docs[naive_name])
        return modelstore.write_doc(model_dir, docs[model_name])

    def _train_price(conf: dict) -> str:
        return _train_surface(conf, "model_epex", "naive")

    def _train_load(conf: dict) -> str:
        return _train_surface(conf, "model_load", "naive_load")

    dags.append(
        DagSpec(
            "bdsp_training_daily",
            None,
            [
                TaskSpec("run_training", _train_price),
                TaskSpec("train_load_model", _train_load),
            ],
        )
    )
    return dags
