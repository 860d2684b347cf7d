"""Backfill / date-range ingestion driver (reference lifecycle §3.2).

Replicates the reference's backfill semantics (airflow/dags/
backfill_dag.py:182-228 + base_collector.py:87-138): iterate a date
range, fetch each day with bounded retry, parse to records, and
idempotently append to a date-partitioned bronze table — re-running a
backfill over already-ingested days inserts nothing (ON CONFLICT DO
NOTHING, timescale_client.py:60-64).

A feed-day is a few hundred records that are already a Python list on
the driver, so what can be answered from that list is answered there,
not by a Spark job: the in-batch dedup (first record per key wins, the
reference's ``executemany`` order) and the set of ``p_date`` partitions
the batch touches (``catalog.bronze_partition_dates``, the rule
``write_bronze`` applies). The deduped list reaches the JVM as one Arrow
table (``session.local_frame``), a local relation that no Python worker
has to pickle. Spark is asked only for the idempotency anti-join and the
write. The anti-join reads the touched ``p_date=`` directories that
exist, named directly and read with the batch's schema: no listing of
the whole table, no schema inference, so its cost does not grow with the
table's history.

A feed-day that touches at least one existing partition pays the
anti-join and its count before the write. Only a feed-day that touches
no existing partition skips them and costs the write alone. Which case
applies depends on how the feed's day lines up with the partition
dates: a feed that delivers CET days into UTC partitions touches the
previous date's partition, which the previous day's run wrote, so a
daily run of such a feed pays the anti-join every day.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Iterable, Sequence
from datetime import date, datetime, timezone

from pyspark.sql import SparkSession

from bigdatasmallprice_spark.catalog import bronze_partition_dates, write_bronze
from bigdatasmallprice_spark.session import local_frame


def fetch_with_retry(
    fetch: Callable[[date], list[dict]],
    d: date,
    retries: int = 3,
    backoff_s: float = 1.0,
    sleep: Callable[[float], None] = time.sleep,
) -> list[dict] | None:
    """Bounded exponential-backoff retry (1/2/4 s defaults — the
    reference's 5xx policy). Returns None when the day is unavailable
    after retries (the ENTSO-E 404 'skip day' path)."""
    delay = backoff_s
    for attempt in range(retries + 1):
        try:
            return fetch(d)
        except Exception:
            if attempt == retries:
                return None
            sleep(delay)
            delay *= 2
    return None


def _as_utc(v):
    """A record value with datetimes as aware UTC instants. A naive
    datetime is local time on the driver, as ``local_frame`` reads it;
    once aware, no later step depends on a process's zone."""
    if isinstance(v, datetime):
        return v.astimezone(timezone.utc)
    return v


def _first_per_key(records: list[dict], keys: Sequence[str]) -> list[dict]:
    """Keep the first record per key in list order (executemany applies
    rows in order; later conflicts are ignored)."""
    seen: set[tuple] = set()
    out = []
    for r in records:
        k = tuple(r[c] for c in keys)
        if k not in seen:
            seen.add(k)
            out.append(r)
    return out


def backfill_dates(
    spark: SparkSession,
    fetch: Callable[[date], list[dict]],
    dates: Iterable[date],
    bronze_path: str,
    schema: str,
    keys: Sequence[str],
    time_col: str = "time",
    retries: int = 3,
    sleep: Callable[[float], None] = time.sleep,
) -> dict[date, int]:
    """Fetch each date, dedup within the batch (first row per key wins),
    anti-join against the existing bronze partitions the batch touches,
    append only genuinely-new rows. Returns rows inserted per date;
    re-runs insert 0."""
    inserted: dict[date, int] = {}
    for d in dates:
        records = fetch_with_retry(fetch, d, retries=retries, sleep=sleep)
        if not records:
            inserted[d] = 0
            continue
        records = _first_per_key([{c: _as_utc(v) for c, v in r.items()} for r in records], keys)
        # The batch is an Arrow local relation: no Python worker runs.
        # Spark splits a LocalTableScan over up to defaultParallelism
        # tasks, so coalesce(1) keeps a feed-day to one file per p_date.
        batch = local_frame(spark, records, schema).coalesce(1)
        touched = sorted(bronze_partition_dates(spark, (r[time_col] for r in records)))
        dirs = [
            p
            for p in (os.path.join(bronze_path, f"p_date={t.isoformat()}") for t in touched)
            if os.path.isdir(p)
        ]
        if dirs:
            existing = (
                spark.read.schema(batch.schema)
                .option("basePath", bronze_path)
                .parquet(*dirs)
                .select(*keys)
            )
            new_rows = batch.join(existing, on=list(keys), how="left_anti")
            n = new_rows.count()
        else:
            new_rows, n = batch, len(records)
        if n:
            write_bronze(new_rows, bronze_path, time_col)
        inserted[d] = n
    return inserted
