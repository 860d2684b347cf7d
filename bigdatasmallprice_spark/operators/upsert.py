"""Idempotent keyed ingestion — ``INSERT ... ON CONFLICT DO NOTHING``.

The reference ingests every source idempotently: a unique composite
index per table + DO NOTHING (reference src/db/timescale_client.py:53-240,
infra/db/init.sql:20-21 etc.), so re-running a day's ETL is a no-op and
the FIRST writer wins on each key.

Without a mutable store, first-writer-wins is an anti-join: new rows keep
only keys absent from the existing table, and duplicates *within* a batch
keep the lowest ingest rank. At scale this is one shuffle on the key; if
the bronze table is bucketed by the key the anti-join is shuffle-free on
the existing side. (With Delta available it becomes
``MERGE WHEN NOT MATCHED THEN INSERT`` — same semantics.)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_batch_first_wins(
    batch: DataFrame, keys: Sequence[str], order_by: Sequence[str]
) -> DataFrame:
    """Collapse duplicate keys inside one batch, keeping the first row in
    ``order_by`` order (executemany applies rows in order; the first
    insert wins, later conflicts are ignored).

    Rows that tie on ``order_by`` within a key are broken arbitrarily: a
    DataFrame has no list order to fall back on, so ordering by a key
    column (every row of a key ties) picks any of them. Callers that hold
    the batch as a list dedup it in list order instead
    (ingest.backfill_dates)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        batch.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") == 1)
        .drop("__rank")
    )


def upsert_do_nothing(
    existing: DataFrame | None,
    batch: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
) -> DataFrame:
    """Return existing ∪ (batch rows whose key is not in existing).

    Matches timescale_client.py's DO NOTHING: existing rows are never
    modified; within the batch the first row per key wins."""
    deduped = dedup_batch_first_wins(batch, keys, order_by)
    if existing is None:
        return deduped
    new_rows = deduped.join(existing.select(*keys), on=list(keys), how="left_anti")
    return existing.unionByName(new_rows)
