"""Streaming DSIR statistics: each micro-batch SUM-folds its hashed
bucket counts (target slice + raw) into the persisted distribution
state — the continuous twin of ``dsir_importance_sample``'s model half
(operators/dsir.py).

The observation mirrors knlm_stream: the ONLY corpus-dependent state
of the importance model is the pair of bucket count tables (ct, cq)
— the log-ratio table, its normalizer constants and every document
weight are pure functions of them. So the stream folds the bounded
sufficient statistic (<= DSIR_BUCKETS rows of two counters) and
recomputes the ratio table on read with the exact batch expressions;
a model folded over ANY corpus slicing equals the batch model
bit-for-bit and weighs any document frame identically (proven in
tests/test_dsir_stream.py).

Merge class: counter SUMS — mergeable, NOT idempotent (the
knlm_stream class): replays are skipped via the batch-id watermark
(tested). The TARGET PREDICATE is pinned in the manifest: counts
accumulated for one target definition must never fold with another's,
so a mismatched predicate raises.

State size = DSIR_BUCKETS rows at any corpus scale; each delivery
costs its own tokenize + one bucket-keyed fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DSIR_STATE_SCHEMA = "bucket long, cq long, ct long"


def update_dsir_counts(
    spark: SparkSession,
    state_path: str,
    batch: DataFrame,
    target_pred: str,
    batch_id: int | None = None,
    buckets: int | None = None,
) -> None:
    """foreachBatch body: SUM one delivery's raw + target bucket
    counts into the persisted state. The target predicate AND the
    bucket count are pinned: the add-one normalizer in the ratio table
    depends on the bin geometry, so counts hashed into N buckets must
    never fold with (or be read back under) a different N."""
    from bigdatasmallprice_spark.operators.dsir import DSIR_BUCKETS, dsir_features
    from bigdatasmallprice_spark.streaming.state import (
        next_state_version,
        publish_state,
        resolve_state_dir,
        state_version_dir,
        validate_pin_with_default,
        validate_state_config,
        versioned_already_applied,
    )

    if buckets is None:
        buckets = DSIR_BUCKETS
    if versioned_already_applied(state_path, batch_id):
        return
    validate_state_config(state_path, {"target_pred": target_pred})
    # Migration: pre-pin states (manifest config lacking 'buckets') were
    # folded with the default geometry — the read path already treats a
    # missing pin as DSIR_BUCKETS, so validation must too, instead of
    # freezing those states forever (None != N). The pin is then
    # re-published by this fold's publish_state below.
    validate_pin_with_default(state_path, "buckets", buckets, DSIR_BUCKETS)
    feats = dsir_features(batch, buckets=buckets)
    part = feats.groupBy("bucket").agg(
        F.sum("f").cast("long").alias("cq"),
        F.sum(F.when(F.expr(target_pred), F.col("f")).otherwise(0))
        .cast("long")
        .alias("ct"),
    )
    state_dir = resolve_state_dir(state_path)
    if state_dir is not None:
        part = part.unionByName(
            spark.read.schema(DSIR_STATE_SCHEMA).parquet(state_dir)
        )
    new = part.groupBy("bucket").agg(
        F.sum("cq").cast("long").alias("cq"),
        F.sum("ct").cast("long").alias("ct"),
    )
    version = next_state_version(state_path)
    new.coalesce(1).write.mode("overwrite").parquet(
        state_version_dir(state_path, version)
    )
    publish_state(
        state_path,
        version,
        batch_id,
        config={"target_pred": target_pred, "buckets": buckets},
    )


def read_log_ratio_table(
    spark: SparkSession, state_path: str
) -> DataFrame:
    """(bucket, lr_milli) recomputed from the folded counts with the
    exact batch expressions (operators/dsir.py::log_ratio_table's
    formulas), so streamed weights equal batch weights bit-for-bit."""
    from bigdatasmallprice_spark.operators.distill import SPARK_DIV
    from bigdatasmallprice_spark.operators.dsir import DSIR_BUCKETS, log2m
    from bigdatasmallprice_spark.streaming.state import (
        read_state_manifest,
        resolve_state_dir,
    )

    state_dir = resolve_state_dir(state_path)
    if state_dir is None:
        raise FileNotFoundError(f"no DSIR state at {state_path}")
    base = spark.read.schema(DSIR_STATE_SCHEMA).parquet(state_dir)
    tot = base.agg(
        F.sum("cq").cast("long").alias("tq"),
        F.sum("ct").cast("long").alias("tt"),
    )
    op = SPARK_DIV
    # The add-one normalizer must use the bin geometry the counts were
    # hashed into — read it from the manifest pin, never a constant
    # (pre-pin manifests folded with the default).
    manifest = read_state_manifest(state_path) or {}
    buckets = int(manifest.get("config", {}).get("buckets", DSIR_BUCKETS))
    return base.crossJoin(F.broadcast(tot)).selectExpr(
        "bucket",
        f"CAST({log2m('ct + 1', op)} - {log2m(f'tt + {buckets}', op)} "
        f"- {log2m('cq + 1', op)} + {log2m(f'tq + {buckets}', op)} "
        "AS BIGINT) AS lr_milli",
    )
