"""SparkSession factory.

Defaults chosen for correctness-parity with the reference and for scale:

- ``spark.sql.session.timeZone=UTC``: the reference stores TIMESTAMPTZ and
  normalizes every ingest to UTC (reference src/data_collection/
  base_collector.py:140-149); we pin the session so timestamp semantics
  are reproducible anywhere.
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  is the scale story for the 100 TB target; local tests keep it on so the
  plans we assert against are the plans that ship.
- ``spark.sql.shuffle.partitions`` defaults to 2*cores locally; on a real
  cluster this is overridden (AQE coalesces down anyway).
- Arrow enabled for the pandas UDF paths: model scoring (queries/mlq.py),
  JWT codecs (functions/auth.py), the WARC parse (sources/warc.py), BPE
  tokenization (operators/bpe.py) and the vectorized similarity kernels
  (operators/similarity.py).

``local_frame`` is the one way the served code turns rows it already
holds on the driver into a frame; ``arrow_rows`` is its checked
conversion, for code that works on the rows as Arrow first.
"""

from __future__ import annotations

import os
from collections.abc import Iterable
from datetime import timezone
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    StructType,
    TimestampType,
    _make_type_verifier,
    _parse_datatype_string,
)


def get_spark(
    app_name: str = "bigdatasmallprice-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. On a cluster, pass ``master=None`` after setting it in
    spark-submit and this just applies engine confs.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        ncores = int(cpus) if cpus else (os.cpu_count() or 8)
        shuffle_partitions = max(8, ncores)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true). r13 A/B'd
        # false (coalesce post-shuffle partitions to advisory BYTES
        # instead of core count, chasing the 8-beats-32-cores gap) on
        # the 20 heaviest queries and it LOST on all of them
        # (doc_embedding_topk 6.13 -> 7.10s): at small SF the
        # post-shuffle stages are compute-heavy per byte, so
        # coalescing to one near-empty-by-bytes reducer serializes
        # real CPU work. Recorded here so the next round does not
        # retry it.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # timestamps in the synthetic parquet are naive-UTC; read them as
        # TIMESTAMP (session tz = UTC keeps values identical to the oracle)
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # nanosecond-precision parquet timestamps (pandas default) surface
        # as INT64 nanos; catalog.load_table converts them back to
        # TimestampType losslessly (values are micro-aligned)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def arrow_rows(rows: Iterable[dict | tuple], schema: StructType | str) -> pa.Table:
    """Driver rows (dicts or tuples) as one Arrow table under ``schema``
    (a ``StructType`` or a DDL string), with the checks
    ``createDataFrame`` makes: every row passes the same type verifier
    (pyarrow alone truncates 1.5 to 1 in an integer field and lets None
    into a non-nullable one), and a ``TimestampType`` value is made an
    aware UTC instant first, reading a naive datetime as driver-local
    time as ``TimestampType.toInternal`` does (pyarrow alone would read an
    offset stamp's wall clock as UTC).
    """
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    verify = _make_type_verifier(schema)
    stamps = [isinstance(f.dataType, TimestampType) for f in schema.fields]
    columns: list[list[Any]] = [[] for _ in stamps]
    for row in rows:
        verify(row)
        values = [row.get(n) for n in schema.names] if isinstance(row, dict) else row
        for col, is_stamp, v in zip(columns, stamps, values):
            col.append(v.astimezone(timezone.utc) if is_stamp and v is not None else v)
    arrow_schema = to_arrow_schema(schema)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )


def local_frame(
    spark: SparkSession, rows: Iterable[dict | tuple] | pa.Table, schema: StructType | str
) -> DataFrame:
    """Driver rows as a frame under ``schema``, handed to the JVM as one
    Arrow table: ``rows`` are dicts or tuples checked and converted by
    ``arrow_rows``, or a table ``arrow_rows`` already built.

    Below ``spark.sql.execution.arrow.localRelationThreshold`` the table
    becomes a ``LocalRelation``: projections over it fold at plan time and
    no Python worker runs, where ``createDataFrame(rows)`` pickles the rows
    through one.
    """
    table = rows if isinstance(rows, pa.Table) else arrow_rows(rows, schema)
    return spark.createDataFrame(table, schema)
