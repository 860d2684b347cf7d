"""Time-bucket rollups — the continuous-aggregate analog.

The reference maintains three 15-min → hourly continuous aggregates
(reference infra/db/init.sql:81-100,135-154,157-176): per (hour bucket,
tariff_type) AVG/MIN/MAX/COUNT with an incremental refresh policy.

In Spark the same rollup is a ``groupBy(date_trunc(...), keys)`` — a
single shuffle whose map-side partial aggregation does most of the work
(hash-agg before exchange), so at 100 TB the shuffle carries only one
row per (bucket, key) per input partition. Incremental refresh is
partition-scoped recompute (see ``incremental_rollup``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def time_bucket(t: Column, width: str = "1 hour") -> Column:
    """TimescaleDB time_bucket — left-closed bucket start (init.sql:84)."""
    unit = {"1 hour": "hour", "1 day": "day", "1 minute": "minute"}.get(width)
    if unit is None:
        raise ValueError(f"unsupported bucket width {width!r}")
    return F.date_trunc(unit, t)


def hourly_rollup(
    df: DataFrame,
    time_col: str,
    value_col: str,
    keys: Sequence[str] = (),
    bucket_name: str = "bucket",
) -> DataFrame:
    """AVG/MIN/MAX/COUNT per (hour, keys) — init.sql:81-100 shape."""
    bucket = time_bucket(F.col(time_col)).alias(bucket_name)
    return df.groupBy(bucket, *[F.col(k) for k in keys]).agg(
        F.avg(value_col).alias(f"avg_{value_col}"),
        F.min(value_col).alias(f"min_{value_col}"),
        F.max(value_col).alias(f"max_{value_col}"),
        F.count(value_col).alias(f"count_{value_col}"),
    )


def incremental_rollup(
    spark_read_bronze: DataFrame,
    existing_rollup: DataFrame | None,
    time_col: str,
    value_col: str,
    keys: Sequence[str],
    refresh_start,
    refresh_end,
) -> DataFrame:
    """Continuous-aggregate refresh: recompute only buckets inside
    [refresh_start, refresh_end) and splice them over the existing
    materialization (init.sql refresh policies: start_offset 2-3 d,
    end_offset 1 h — rows older than start_offset are never touched
    again). With bronze data partitioned by date(time), the recompute
    scan prunes to ~3 daily partitions regardless of table size."""
    fresh = hourly_rollup(
        spark_read_bronze.filter(
            (F.col(time_col) >= F.lit(refresh_start))
            & (F.col(time_col) < F.lit(refresh_end))
        ),
        time_col,
        value_col,
        keys,
    )
    if existing_rollup is None:
        return fresh
    kept = existing_rollup.filter(
        ~(
            (F.col("bucket") >= F.lit(refresh_start))
            & (F.col("bucket") < F.lit(refresh_end))
        )
    )
    return kept.unionByName(fresh)


# ---------------------------------------------------------------------------
# refresh policy: the (start_offset, end_offset, schedule) object of
# reference infra/db/init.sql:94-100,148-154,170-176
# ---------------------------------------------------------------------------

import datetime as _dt
import re as _re
from dataclasses import dataclass as _dataclass

_INTERVAL_RE = _re.compile(r"^\s*(\d+)\s*(minute|hour|day)s?\s*$", _re.IGNORECASE)


def _parse_interval(s: str) -> _dt.timedelta:
    m = _INTERVAL_RE.match(s)
    if not m:
        raise ValueError(f"unsupported interval {s!r} (use 'N minutes|hours|days')")
    n, unit = int(m.group(1)), m.group(2).lower()
    return _dt.timedelta(**{unit + "s": n})


@_dataclass(frozen=True)
class RefreshPolicy:
    """Continuous-aggregate refresh policy, semantics of TimescaleDB's
    ``add_continuous_aggregate_policy`` as the reference configures it
    (init.sql:94-100: start_offset '2 days'/'3 days', end_offset
    '1 hour', schedule_interval '15 minutes'/'30 minutes'):

    - every ``schedule`` interval a refresh recomputes ONLY buckets in
      [now - start_offset, now - end_offset);
    - a late-arriving row whose bucket is still inside that window is
      folded in on the next run; a row older than start_offset lands in
      a frozen bucket and is never re-aggregated (by design — bounded
      recompute is what makes the policy viable on a 100 TB hypertable:
      the refresh scan prunes to ~start_offset worth of partitions
      regardless of table size).
    """

    start_offset: str = "2 days"
    end_offset: str = "1 hour"
    schedule: str = "15 minutes"

    def window(self, now: _dt.datetime) -> tuple[_dt.datetime, _dt.datetime]:
        return now - _parse_interval(self.start_offset), now - _parse_interval(
            self.end_offset
        )

    def is_due(self, last_run: _dt.datetime | None, now: _dt.datetime) -> bool:
        return last_run is None or now - last_run >= _parse_interval(self.schedule)


def apply_refresh_policy(
    bronze: DataFrame,
    existing_rollup: DataFrame | None,
    time_col: str,
    value_col: str,
    keys: Sequence[str],
    policy: RefreshPolicy,
    now: _dt.datetime,
    last_run: _dt.datetime | None = None,
) -> DataFrame | None:
    """One policy tick: returns the refreshed rollup, or None when the
    schedule says the tick is not due yet (caller keeps the old frame)."""
    if not policy.is_due(last_run, now):
        return None
    start, end = policy.window(now)
    # align to complete hour buckets (TimescaleDB expands the window to
    # bucket boundaries) — otherwise the boundary bucket would be
    # recomputed from a partial slice of its bronze rows
    start = start.replace(minute=0, second=0, microsecond=0)
    end = end.replace(minute=0, second=0, microsecond=0)
    return incremental_rollup(
        bronze, existing_rollup, time_col, value_col, keys, start, end
    )
