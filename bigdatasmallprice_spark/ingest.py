"""Backfill / date-range ingestion driver (reference lifecycle §3.2).

Replicates the reference's backfill semantics (airflow/dags/
backfill_dag.py:182-228 + base_collector.py:87-138): iterate a date
range, fetch each day with bounded retry, parse to records, and
idempotently append to a date-partitioned bronze table — re-running a
backfill over already-ingested days inserts nothing (ON CONFLICT DO
NOTHING, timescale_client.py:60-64).

A feed-day is a few hundred records that are already a Python list on
the driver, so everything but the write is answered there, not by a
Spark job. The records are checked and converted once into an Arrow
table (``session.arrow_rows``); a malformed record raises before any
partition is read. The in-batch dedup (first record per key wins, the
reference's ``executemany`` order) runs over that table's keys; the set
of ``p_date`` partitions the batch touches comes from the records' times
(``catalog.bronze_partition_dates``, the rule ``write_bronze``
applies). The idempotency check is the reference's unique-index probe,
not a join: the key columns of the touched ``p_date=`` directories that
exist are read with ``pyarrow.parquet`` into a set, and a record is new
when its key is not in it. Keys compare as Spark's ``left_anti`` join
compares them (``_keys``), so the answer is the join's. The read is
bounded by the partitions the batch touches, the same days whose rows
the driver already holds, and does not grow with the table's history.

Spark does only the write: the new rows reach the JVM as one Arrow local
relation (``session.local_frame``) and ``write_bronze`` appends them. So
a feed-day that adds rows costs one job, whether or not it touches a
partition an earlier run wrote (a feed that delivers CET days into UTC
partitions touches the previous date's every day); a feed-day whose
rows are all stored already, such as a re-run, costs none.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Iterable, Sequence
from datetime import date

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from bigdatasmallprice_spark.catalog import bronze_partition_dates, write_bronze
from bigdatasmallprice_spark.session import arrow_rows, local_frame


def fetch_with_retry(
    fetch: Callable[[date], list[dict]],
    d: date,
    retries: int = 3,
    backoff_s: float = 1.0,
    sleep: Callable[[float], None] = time.sleep,
) -> list[dict] | None:
    """Bounded exponential-backoff retry (1/2/4 s defaults — the
    reference's 5xx policy). Returns None when the day is unavailable
    after retries (the ENTSO-E 404 'skip day' path).

    Only a fetch error is retried: ``OSError``, which covers
    ``ConnectionError``, ``TimeoutError`` and urllib's ``URLError`` /
    ``HTTPError``. Any other exception, such as a parser's ``TypeError``
    or ``KeyError``, is a bug that no retry mends: it propagates on the
    first attempt and fails the task."""
    delay = backoff_s
    for attempt in range(retries + 1):
        try:
            return fetch(d)
        except OSError:
            if attempt == retries:
                return None
            sleep(delay)
            delay *= 2
    return None


# Every NaN in a key, as one value: Spark's join keys make NaN equal NaN.
_NAN = object()


def _keys(table: pa.Table, keys: Sequence[str]) -> list[tuple]:
    """Each row's key as Spark's equi-join compares it: a timestamp as UTC
    epoch microseconds, whatever unit the column stores; every NaN as one
    value; -0.0 as 0.0 (Python's ``==`` and ``hash`` already equate
    them). A null stays None; a key that holds one matches no stored key.
    """
    cols = []
    for k in keys:
        col = table.column(k)
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us", col.type.tz), safe=False).cast(pa.int64())
        values = col.to_pylist()
        if pa.types.is_floating(col.type):
            values = [_NAN if v != v else v for v in values]
        cols.append(values)
    return list(zip(*cols))


def _first_per_key(keys: list[tuple]) -> list[int]:
    """The index of the first row per key, in list order (executemany
    applies rows in order; later conflicts are ignored)."""
    seen: set[tuple] = set()
    out = []
    for i, k in enumerate(keys):
        if k not in seen:
            seen.add(k)
            out.append(i)
    return out


def _stored_keys(bronze_path: str, dates: Iterable[date], keys: Sequence[str]) -> set[tuple]:
    """The null-free keys stored in the ``p_date=`` directories of these
    dates that exist: the key columns of every file Spark would read there
    (it skips names starting with ``_`` or ``.``). INT96 timestamps, which
    Spark writes by default, are read at microsecond precision, as Spark
    reads them."""
    stored: set[tuple] = set()
    for t in dates:
        part = os.path.join(bronze_path, f"p_date={t.isoformat()}")
        if not os.path.isdir(part):
            continue
        for name in os.listdir(part):
            if name.startswith(("_", ".")):
                continue
            with pq.ParquetFile(os.path.join(part, name), coerce_int96_timestamp_unit="us") as f:
                stored.update(k for k in _keys(f.read(columns=list(keys)), keys) if None not in k)
    return stored


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
    drop the rows whose key the touched bronze partitions already hold,
    append only genuinely-new rows. Returns rows inserted per date;
    re-runs insert 0."""
    inserted: dict[date, int] = {}
    for d in dates:
        records = fetch_with_retry(fetch, d, retries=retries, sleep=sleep)
        if not records:
            inserted[d] = 0
            continue
        table = arrow_rows(records, schema)
        key = _keys(table, keys)
        touched = bronze_partition_dates(r[time_col] for r in records)
        stored = _stored_keys(bronze_path, touched, keys)
        new = [i for i in _first_per_key(key) if key[i] not in stored]
        if new:
            # Spark splits a LocalTableScan over up to defaultParallelism
            # tasks, so coalesce(1) keeps a feed-day to one file per p_date.
            batch = local_frame(spark, table.take(new), schema).coalesce(1)
            write_bronze(batch, bronze_path, time_col)
        inserted[d] = len(new)
    return inserted
