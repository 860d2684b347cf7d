"""Policy scheduler: the engine-side analog of the reference's Airflow
cadence (airflow/dags/etl_pipeline_dag.py:126-135 — daily schedule,
``catchup=False``, ``max_active_runs=1``) driving RefreshPolicy ticks
and backfill jobs with an injectable clock.

Each registered job pairs a ``RefreshPolicy`` (its cadence + recompute
window) with a ``run(window_start, window_end, now)`` callable. One
``run_due_policies`` call is one scheduler heartbeat: it fires exactly
the jobs whose schedule interval has elapsed, sequentially (the
``max_active_runs=1`` discipline), records their run time, and skips
the rest. ``catchup=False`` semantics fall out of ``is_due``'s
elapsed-time test: a job that missed three intervals while the
scheduler was down runs ONCE on the next heartbeat over the policy's
window anchored at ``now`` — never one run per missed interval.

The heartbeat itself is O(#jobs) driver work; all data movement lives
inside the job callables, which recompute only their policy window
(operators/rollup.py::apply_refresh_policy prunes the scan to
~start_offset worth of partitions regardless of table size).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Iterable
from dataclasses import dataclass
from typing import Any

from bigdatasmallprice_spark.operators.rollup import RefreshPolicy


@dataclass(frozen=True)
class ScheduledJob:
    """A named policy + the work to run when it is due.

    ``run`` receives (window_start, window_end, now): the policy's
    refresh window and the heartbeat time, so the same callable serves
    windowed rollup refreshes and date-range backfills
    (ingest.backfill_dates over the window's dates).
    """

    name: str
    policy: RefreshPolicy
    run: Callable[[dt.datetime, dt.datetime, dt.datetime], Any]


def run_due_policies(
    jobs: Iterable[ScheduledJob],
    now: dt.datetime,
    last_runs: dict[str, dt.datetime],
) -> dict[str, Any]:
    """One heartbeat: fire every due job, in registration order.

    Returns {job name: run result} for the jobs that fired and updates
    ``last_runs`` in place (the caller owns persistence of that map —
    it is the scheduler's only state, one timestamp per job).
    """
    jobs = list(jobs)
    names = [j.name for j in jobs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate job names: {sorted(names)}")
    fired: dict[str, Any] = {}
    for job in jobs:
        if job.policy.is_due(last_runs.get(job.name), now):
            start, end = job.policy.window(now)
            fired[job.name] = job.run(start, end, now)
            last_runs[job.name] = now
    return fired


def backfill_job(
    name: str,
    policy: RefreshPolicy,
    do_backfill: Callable[[list[dt.date]], Any],
) -> ScheduledJob:
    """Adapter for daily-cadence backfills (backfill_dag.py:182-228):
    turns the policy window into the list of calendar dates it covers
    and hands them to ``do_backfill`` (typically a closure over
    ingest.backfill_dates, whose stored-key check makes re-runs insert 0)."""

    def run(start: dt.datetime, end: dt.datetime, now: dt.datetime) -> Any:
        # the policy window is half-open [start, end): a window ending
        # exactly at midnight contains no instant of end.date(), so the
        # last covered date comes from the last instant BELOW end —
        # otherwise end_offset's still-hot exclusion would be defeated
        last = (end - dt.timedelta(microseconds=1)).date()
        days = (last - start.date()).days
        dates = [start.date() + dt.timedelta(days=i) for i in range(days + 1)]
        return do_backfill(dates)

    return ScheduledJob(name=name, policy=policy, run=run)
