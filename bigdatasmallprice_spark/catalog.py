"""Table catalog over the driver-provided parquet test tables.

The reference keeps a DDL-declared, whitelisted table registry
(reference infra/db/init.sql; whitelist guard src/api/main.py:55-76).
Here the same idea: a fixed set of named tables, loaded with explicit
paths, registered as temp views so both the DataFrame API and
``spark.sql`` can address them. Unknown names are rejected — the
injection-guard semantics of the reference's ``validate_table_name``.
"""

from __future__ import annotations

import os
from collections.abc import Iterable
from datetime import date, datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the ten tables the driver materializes per scale factor (TESTDATA.md)
TESTDATA_TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def validate_table_name(name: str) -> str:
    """Whitelist guard (reference src/api/main.py:55-76)."""
    if name not in TESTDATA_TABLES:
        raise ValueError(f"unknown table {name!r}; allowed: {TESTDATA_TABLES}")
    return name


# Scan-parallelism floor is OPT-IN PER CONSUMER (load_table's
# scan_floor flag / core.table_par). Applied to every `documents`
# reader, it (a) injected an Exchange into declared pure-map plans
# (the pii_scrub guard in tests/test_plans.py: a scrub that shuffles
# 100 TB would be wrong) and (b) regressed aggregate-first consumers,
# whose map-side partial aggregation over the unsplit scan is already
# the cheapest plan (perplexity_buckets_kn 1.11s -> 4.27s).
# Relational facts (orders/lineitem/events) are never floored for the
# same aggregate-first reason (0.3-1s loss per query at sf0.1), and
# embeddings' ANN consumers collect/broadcast model-sized legs where
# an extra exchange adds a stage per leg (ann_ivfpq_topk measured
# 5.9s unfloored vs 9.1s floored).

# columns stored as nanosecond INT64 in the driver's parquet; Spark reads
# them as LongType (spark.sql.legacy.parquet.nanosAsLong) and we convert
# to TimestampType via exact integer division — double-based casts would
# lose precision above 2^53 nanos
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


# analyzed-DataFrame cache: repeated load_table calls (50 registry
# queries x 1-3 tables each) would re-list files and re-read parquet
# footers every time; the logical plan is immutable, so reuse it.
# Keyed by application id — a new session gets fresh plans.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(
    spark: SparkSession, sf_dir: str, name: str, scan_floor: bool = False
) -> DataFrame:
    validate_table_name(name)
    key = (spark.sparkContext.applicationId, sf_dir, name, scan_floor)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # timestamp semantics are defined in UTC (registry docstring): the
    # NTZ cast below round-trips wall clocks in any session tz, but the
    # int64-nanos path formats epoch instants, which would shift under
    # a non-UTC driver session — pin it here, not just in session.py,
    # because the driver runs these queries in ITS OWN session
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NANO_TS_COLS.get(name, ()):
        if dict(df.dtypes).get(col) == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    # tz-less parquet timestamps (timestamp[us] without isAdjustedToUTC)
    # arrive as TIMESTAMP_NTZ under Spark 4's inference; the engine's
    # contract is "timestamps are UTC instants" (session tz is UTC), so
    # the cast below is wall-clock-preserving and makes unix_micros /
    # window range frames / tz functions uniformly applicable. DuckDB
    # oracles read the same naive values, so formatted output agrees.
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for col in ntz:
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    # Scale-adaptive scan-parallelism floor (opt-in — see the note
    # above _NANO_TS_COLS): the test parquet is one row group per
    # table, and a row group is the parquet read atom —
    # maxPartitionBytes/minPartitionNum cannot split it, so the scan
    # gets ONE task and every narrow downstream pipeline (tokenize,
    # n-gram explode, model scoring, BPE chains) runs on one core no
    # matter how many the session has. One tiny round-robin exchange
    # of the raw rows (<= a few MB here) restores full parallelism
    # for everything above it; filters and column pruning still push
    # through Repartition to the scan. On production inputs the scan
    # has >= defaultParallelism splits and this is a no-op — the
    # floor derives from input layout, not a tuned constant.
    if scan_floor:
        floor = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < floor:
            df = df.repartition(floor)
    _TABLE_CACHE[key] = df
    return df


_MICROS_PER_DAY = 86_400_000_000


def write_bronze(
    df: DataFrame, path: str, time_col: str = "time", mode: str = "append"
) -> None:
    """Persist a fact table partitioned by ``p_date = date(time)`` — the
    hypertable chunking analog (reference init.sql:14-18: 7/30-day
    chunks). Time-range predicates then prune partitions at the source:
    a 3-day refresh or a 7-day serving query reads 3 or 7 directories
    regardless of total table size (asserted in tests via the scan's
    PartitionFilters). ``p_date`` is the row's UTC date, whatever the
    session time zone, so a table written under one zone and topped up
    under another keeps each instant in one directory;
    ``bronze_partition_dates`` applies the same rule on the driver."""
    # one SQL string, not a chain of column functions: each of those is a
    # Py4J round trip, and a feed-day's write is on the ETL's hot path
    utc_date = f"date_from_unix_date(CAST(floor(unix_micros(`{time_col}`) / {_MICROS_PER_DAY}) AS INT))"
    df.withColumn("p_date", F.expr(utc_date)).write.mode(mode).partitionBy("p_date").parquet(path)


def bronze_partition_dates(stamps: Iterable[datetime | None]) -> set[date]:
    """The ``p_date`` values ``write_bronze`` gives rows with these times,
    without a Spark job: each instant's UTC date. A naive datetime is
    local time, as ``createDataFrame`` reads it."""
    return {s.astimezone(timezone.utc).date() for s in stamps if s is not None}


def read_bronze(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def load_tables(
    spark: SparkSession, sf_dir: str | None = None, register_views: bool = True
) -> dict[str, DataFrame]:
    """Load every test table; optionally register each as a temp view.

    Views let queries be expressed as Spark SQL text (the reference's
    feature views are SQL views, init.sql:236-368) while DataFrame-level
    queries use the returned dict.
    """
    sf_dir = sf_dir or DEFAULT_SF_DIR
    out: dict[str, DataFrame] = {}
    for name in TESTDATA_TABLES:
        df = load_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


def compact_bronze(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partitions: list[str] | None = None,
) -> dict[str, int]:
    """Compact a ``write_bronze`` table's small files: rewrite each
    ``p_date`` partition into ``ceil(partition_bytes / target)`` files.

    Daily dedup-appends (the ON CONFLICT ingestion pattern) leave one
    small file per run per partition; a year of runs = hundreds of
    files per partition, and at 100 TB the scan's task-scheduling and
    footer-reading overhead dominates. Compaction restores
    ~target-sized files. Partitions are rewritten one at a time into a
    temp subdir then swapped, so a crash mid-compaction loses no data;
    pass ``partitions`` to restrict to recently-touched dates (the
    incremental path — compacting only what the last ingest fragmented).

    Returns {partition_value: files_after}.
    """
    import math
    import shutil

    base = os.path.abspath(path)
    parts = partitions or sorted(
        d.split("=", 1)[1]
        for d in os.listdir(base)
        if d.startswith("p_date=") and os.path.isdir(os.path.join(base, d))
    )
    out: dict[str, int] = {}
    for pv in parts:
        pdir = os.path.join(base, f"p_date={pv}")
        files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
        nbytes = sum(os.path.getsize(os.path.join(pdir, f)) for f in files)
        n_target = max(1, math.ceil(nbytes / target_file_bytes))
        if len(files) <= n_target:
            out[pv] = len(files)
            continue
        # stage under an underscore-prefixed name: Spark's FileIndex skips
        # paths starting with '_' or '.', so a crash mid-compaction never
        # leaves a directory that partition discovery would parse as a
        # bogus p_date value (duplicating the partition's rows)
        tmp = os.path.join(base, f"_compact_tmp_p_date={pv}")
        old = os.path.join(base, f"_compact_old_p_date={pv}")
        for stale in (tmp, old):
            if os.path.isdir(stale):
                shutil.rmtree(stale)
        spark.read.parquet(pdir).coalesce(n_target).write.mode("overwrite").parquet(tmp)
        os.rename(pdir, old)
        os.rename(tmp, pdir)
        shutil.rmtree(old)
        out[pv] = len([f for f in os.listdir(pdir) if f.endswith(".parquet")])
    return out


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed table write: pre-shuffles ONCE at write time so every
    subsequent equi-join or aggregation on ``bucket_cols`` between
    tables bucketed the same way runs with ZERO exchange — the join
    reads co-located buckets directly. This is the 100 TB fact-fact
    join strategy: pay the shuffle when the table is built, never per
    query. ``sort_cols`` additionally sorts within buckets so
    sort-merge joins skip their sort step too.

    Uses the session catalog (`saveAsTable` — bucketing metadata lives
    in the metastore; plain parquet paths cannot carry it)."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def with_audit_cols(
    df: DataFrame,
    batch_id: str,
    ingest_ts,
    content_cols: list[str] | None = None,
) -> DataFrame:
    """Bronze-layer lineage columns: every ingested row carries the
    batch that wrote it, a fixed (injected, not wall-clock) ingest
    timestamp, the source file it came from, and a content hash over
    the named columns for downstream change detection / dedup.

    All four are per-row narrow expressions (input_file_name is plan
    metadata; the hash is one md5 over a canonical concat) — zero
    shuffle, so auditability is free at any scale. The injected
    ingest_ts keeps re-runs byte-identical (the same determinism rule
    ingest.py's backfill driver follows)."""
    out = df.withColumn("_audit_batch_id", F.lit(batch_id)).withColumn(
        "_audit_ingest_ts", F.lit(ingest_ts).cast("timestamp")
    ).withColumn("_audit_source_file", F.input_file_name())
    if content_cols:
        out = out.withColumn(
            "_audit_row_hash",
            F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in content_cols])),
        )
    return out
