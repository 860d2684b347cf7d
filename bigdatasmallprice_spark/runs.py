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

A trigger starts every task whose upstream tasks (``TaskSpec.upstream``)
have all succeeded, and each task that finishes starts the tasks it
unblocks, so a DAG's independent tasks run concurrently: the daily ETL
fans its feeds out and chains only ``ekz >> ckw >> groupe_e``, as the
reference does (etl_pipeline_dag.py:168-190). A task exception marks
the task and the run ``failed``; every task downstream of it becomes
``upstream_failed`` without running. A task declared ``always_run``
waits for every task listed before it and runs whatever their states:
the analog of the reference's ``trigger_rule="all_done"`` summary tasks
(backfill_dag.py:209, etl_pipeline_dag.py:146), which still execute
after a failure.

Tasks run on one pool of ``POOL_WIDTH`` daemon threads that the
registry keeps for its whole life. Reused threads matter: a Python
thread's first Py4J call opens its own gateway connection first (one
``jvm.java.lang.System.nanoTime()`` call, four round trips, took a
median 2.7-3.3 ms on a fresh thread against 1.3-1.4 ms on a reused one,
idle 4-core host). The threads are daemons, so a hung task does not
hold the interpreter open at exit.

Everything here is driver-side bookkeeping (O(#runs) dicts under one
lock); all data movement stays inside the task callables, which close
over engine operators (ingest.backfill_dates, export.run_export, the
training tasks' naive and linear fits). At scale the registry is
exactly as big as the run history it retains — state per run is a few
hundred bytes, never rows.
"""

from __future__ import annotations

import datetime as dt
import functools
import queue
import threading
import time
import weakref
from collections.abc import Callable, Iterable
from copy import deepcopy
from dataclasses import dataclass, field
from typing import Any

# Worker threads per registry: every task of every run shares them.
POOL_WIDTH = 4

_ENDED = ("success", "failed", "upstream_failed")


@dataclass(frozen=True)
class TaskSpec:
    """One task in a dag: ``fn`` receives the run's conf dict.

    ``upstream`` names the tasks that must succeed before this one
    starts (Airflow's ``a >> b``); a task with none is a root and starts
    when the run does. List order alone orders nothing. When an upstream
    task fails, this task and its own dependants end ``upstream_failed``.

    ``always_run`` mirrors Airflow's ``trigger_rule="all_done"``: the
    task waits for every task listed before it (and its ``upstream``) to
    end, then executes whatever their states (the reference's
    compute_eta_done / log_summary pattern)."""

    task_id: str
    fn: Callable[[dict], Any]
    always_run: bool = False
    upstream: tuple[str, ...] = ()


@dataclass(frozen=True)
class DagSpec:
    """A named, triggerable task graph: the edges are each task's
    ``upstream``, and tasks with no path between them run concurrently.
    ``schedule`` is the cron string shown by the dags listing (None =
    manual-only, like bdsp_backfill / bdsp_training_daily in the
    reference)."""

    dag_id: str
    schedule: str | None
    tasks: list[TaskSpec] = field(default_factory=list)


def _upstreams(spec: DagSpec) -> dict[str, tuple[str, ...]]:
    """Each task's upstream tasks: its ``upstream``, and for an
    ``always_run`` task also every task listed before it."""
    out: dict[str, tuple[str, ...]] = {}
    for t in spec.tasks:
        before = tuple(out) if t.always_run else ()
        out[t.task_id] = tuple(dict.fromkeys(before + tuple(t.upstream)))
    return out


def _check_graph(dag_id: str, ups: dict[str, tuple[str, ...]]) -> None:
    """Refuse an upstream that names no task of the dag or the task
    itself, and a cycle: no run of such a dag could ever end."""
    for tid, names in ups.items():
        unknown = [u for u in names if u not in ups]
        if unknown:
            raise ValueError(
                f"dag {dag_id!r}: task {tid!r} names unknown upstream tasks {unknown}"
            )
        if tid in names:
            raise ValueError(f"dag {dag_id!r}: task {tid!r} names itself upstream")
    done: set[str] = set()
    while ready := [
        t for t, names in ups.items() if t not in done and done.issuperset(names)
    ]:
        done.update(ready)
    if len(done) < len(ups):
        # every task left has an upstream task left: walk those edges
        # from one of them until a task repeats
        path = [next(t for t in ups if t not in done)]
        while path[-1] not in path[:-1]:
            path.append(next(u for u in ups[path[-1]] if u not in done))
        cycle = path[path.index(path[-1]):]
        raise ValueError(
            f"dag {dag_id!r}: tasks {' >> '.join(reversed(cycle))} form a cycle"
        )


class _Pool:
    """``width`` daemon threads fed from one queue. Each submission
    starts a thread until there are ``width``; the threads then serve
    every later submission, until the pool is collected. The caller
    serializes ``submit``.

    ``ThreadPoolExecutor`` joins its threads at interpreter exit, so a
    hung task would hold the process open; a daemon thread does not."""

    def __init__(self, width: int):
        self._width = width
        self._jobs: queue.SimpleQueue = queue.SimpleQueue()
        self._started = 0
        # the threads hold the queue, not the pool, so the pool can be
        # collected; then each thread is told to end
        weakref.finalize(self, _stop, self._jobs, width)

    def submit(self, fn: Callable[[], None]) -> None:
        self._jobs.put(fn)
        if self._started < self._width:
            self._started += 1
            threading.Thread(
                target=_serve,
                args=(self._jobs,),
                daemon=True,
                name=f"runs-{self._started}",
            ).start()


def _serve(jobs: queue.SimpleQueue) -> None:
    while (fn := jobs.get()) is not None:
        fn()
        del fn  # an idle thread must not keep the last job's registry alive


def _stop(jobs: queue.SimpleQueue, width: int) -> None:
    for _ in range(width):
        jobs.put(None)


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
    can serialize them without racing the pool threads. ``clock`` is
    injectable like every serving method; task ``duration`` is wall
    time from a monotonic clock (the one real-time quantity Airflow
    also reports)."""

    def __init__(self, clock: Callable[[], dt.datetime] | None = None):
        self._dags: dict[str, DagSpec] = {}
        self._upstream: dict[str, dict[str, tuple[str, ...]]] = {}
        self._runs: dict[tuple[str, str], dict] = {}
        self._order: dict[str, list[str]] = {}
        self._lock = threading.RLock()
        self._ended = threading.Condition(self._lock)
        self._pool = _Pool(POOL_WIDTH)
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
            ups = _upstreams(spec)
            _check_graph(spec.dag_id, ups)
            self._dags[spec.dag_id] = spec
            self._upstream[spec.dag_id] = ups
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
        """Create a queued run and start its root tasks; returns the run
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
            snapshot = deepcopy(rec)
            rec["state"] = "running"
            rec["start_date"] = self.clock().isoformat()
            self._advance(rec, conf)
        return snapshot

    def _advance(self, rec: dict, conf: dict) -> None:
        """Settle the run's waiting tasks; the caller holds the lock.

        A task whose upstream tasks have all ended is queued on the pool
        when its rule lets it run (all succeeded, or ``always_run``) and
        is ``upstream_failed`` otherwise, which can settle its own
        dependants in turn. The run ends when every task has."""
        spec = self._dags[rec["dag_id"]]
        ups = self._upstream[spec.dag_id]
        tasks = rec["tasks"]
        settled = False
        while not settled:
            settled = True
            for t in spec.tasks:
                trec = tasks[t.task_id]
                states = [tasks[u]["state"] for u in ups[t.task_id]]
                if trec["state"] is not None or not all(s in _ENDED for s in states):
                    continue
                if t.always_run or all(s == "success" for s in states):
                    trec["state"] = "queued"
                    self._pool.submit(functools.partial(self._run_task, rec, t, conf))
                else:
                    trec["state"] = "upstream_failed"
                    settled = False
        if all(trec["state"] in _ENDED for trec in tasks.values()):
            failed = any(trec["state"] == "failed" for trec in tasks.values())
            rec["state"] = "failed" if failed else "success"
            rec["end_date"] = self.clock().isoformat()
            self._ended.notify_all()

    def _run_task(self, rec: dict, t: TaskSpec, conf: dict) -> None:
        trec = rec["tasks"][t.task_id]
        with self._lock:
            trec["state"] = "running"
            trec["start_date"] = self.clock().isoformat()
        t0 = time.monotonic()
        error = None
        try:
            t.fn(conf)
        except Exception as exc:  # a failing task must not kill the worker
            error = f"{t.task_id}: {exc}"
        with self._lock:
            trec["state"] = "failed" if error else "success"
            trec["end_date"] = self.clock().isoformat()
            trec["duration"] = round(time.monotonic() - t0, 3)
            if error and rec["error"] is None:  # the first of concurrent failures
                rec["error"] = error
            self._advance(rec, conf)

    def status(self, dag_id: str, run_id: str) -> dict:
        """Snapshot of one run; KeyError for an unknown id -> 404."""
        with self._lock:
            rec = self._runs.get((dag_id, run_id))
            if rec is None:
                raise KeyError(f"DAG run {run_id!r} not found")
            return deepcopy(rec)

    def wait(self, dag_id: str, run_id: str, timeout: float = 120.0) -> dict:
        """Block until the run has ended (tests / synchronous callers),
        then return the final snapshot; TimeoutError if it has not
        ended within ``timeout`` seconds."""
        with self._ended:
            rec = self._runs.get((dag_id, run_id))
            if rec is not None and not self._ended.wait_for(
                lambda: rec["state"] in ("success", "failed"), timeout
            ):
                raise TimeoutError(f"run {run_id!r} still running")
        return self.status(dag_id, run_id)


# -- default engine dags ---------------------------------------------------


# The reference's tariff chain, ekz >> ckw >> groupe_e: each feed's
# predecessor.
_TARIFF_CHAIN = {
    "ckw_tariffs_raw": "ekz_tariffs_raw",
    "groupe_e_tariffs_raw": "ckw_tariffs_raw",
}


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

    The fetch tasks fan out as in the reference (etl_pipeline_dag.py:
    168-190): each is a root, except that the tariff feeds are chained
    ``fetch_ekz_tariffs_raw >> fetch_ckw_tariffs_raw >>
    fetch_groupe_e_tariffs_raw`` (a feed waits for its predecessor when
    that job is present); the summary runs after all of them.
    Two jobs that write the same bronze table must be chained the same
    way: ``backfill_dates`` reads the stored keys once per call, so two
    concurrent calls would both insert a key neither has seen stored.
    The two exports read different views and write different
    directories, and the two training tasks different views and
    artifacts, so each dag's pair runs concurrently.
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

        after = _TARIFF_CHAIN.get(name)
        upstream = (f"fetch_{after}",) if after in jobs else ()
        return TaskSpec(f"fetch_{name}", fn, upstream=upstream)

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
