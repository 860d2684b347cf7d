"""Streaming language-mix gate: each micro-batch is scored with the
TRAINED language-ID model (operators/langid.py — the deployment
reality: the classifier trains offline, the stream only scores) and
its (source, true-lang, predicted-lang) counts SUM-fold into the
persisted state — the continuous twin of the
``langid_trained_eval`` confusion harness (queries/textq.py).

Because only the model's OUTPUT counts fold, the state is bounded by
sources x languages^2 regardless of history — a corpus-monitoring
service reads language mix and classifier drift (per-source confusion,
accuracy where gold labels flow with the stream) without ever
re-scoring history. SUM folds are mergeable but NOT idempotent, so
replay protection is the batch-id watermark (tested). The scoring model is pinned in the state
manifest by an md5 fingerprint of its weights: folding counts produced
by two different models would silently mix incomparable predictions,
so a mismatch raises instead.

Stream == batch by construction: scoring is a deterministic pure
function of (text, weights), and the count fold is associative — the
differential test slices documents across deliveries and proves the
folded state equals the batch scoring of the union exactly.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LM_STATE_SCHEMA = "source string, lang string, pred_lang string, n long"


def model_fingerprint(w: dict[str, list[int]]) -> str:
    """md5 of the canonical weight serialization — the state manifest
    pin that stops two different models' counts from folding."""
    canon = ";".join(
        f"{cls}:{','.join(map(str, ws))}" for cls, ws in sorted(w.items())
    )
    return hashlib.md5(canon.encode()).hexdigest()


def langmix_counts(batch: DataFrame, w: dict[str, list[int]]) -> DataFrame:
    """Score one delivery with the trained weights and reduce it to
    (source, lang, pred_lang, n) counts — the only thing that folds."""
    from bigdatasmallprice_spark.operators.langid import (
        doc_feature_arrays,
        lang_features,
        langid_score,
    )

    pred = langid_score(doc_feature_arrays(lang_features(batch)), w)
    return (
        pred.join(batch.select("doc_id", "source"), "doc_id")
        .groupBy("source", "lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def update_langmix_state(
    spark: SparkSession,
    state_path: str,
    batch: DataFrame,
    w: dict[str, list[int]],
    batch_id: int | None = None,
) -> None:
    """foreachBatch body: SUM the delivery's scored counts into the
    state. NOT idempotent — replays are skipped via the batch-id
    watermark; a different model fingerprint raises."""
    from bigdatasmallprice_spark.streaming.state import (
        next_state_version,
        publish_state,
        resolve_state_dir,
        state_version_dir,
        validate_state_config,
        versioned_already_applied,
    )

    if versioned_already_applied(state_path, batch_id):
        return
    config = {"model_md5": model_fingerprint(w)}
    validate_state_config(state_path, config)
    part = langmix_counts(batch, w)
    state_dir = resolve_state_dir(state_path)
    if state_dir is not None:
        state = spark.read.schema(LM_STATE_SCHEMA).parquet(state_dir)
        part = part.unionByName(state)
    new = part.groupBy("source", "lang", "pred_lang").agg(
        F.sum("n").cast("long").alias("n")
    )
    version = next_state_version(state_path)
    new.coalesce(1).write.mode("overwrite").parquet(
        state_version_dir(state_path, version)
    )
    publish_state(state_path, version, batch_id, config=config)


def read_langmix(spark: SparkSession, state_path: str) -> DataFrame:
    from bigdatasmallprice_spark.streaming.state import resolve_state_dir

    state_dir = resolve_state_dir(state_path)
    if state_dir is None:
        raise FileNotFoundError(f"no language-mix state at {state_path}")
    return spark.read.schema(LM_STATE_SCHEMA).parquet(state_dir)


def read_langmix_accuracy(spark: SparkSession, state_path: str) -> DataFrame:
    """Per-source accuracy of the deployed model over everything folded
    so far — the drift monitor a curation service watches (gold labels
    flow with this corpus; where they don't, the mix itself is the
    signal)."""
    cm = read_langmix(spark, state_path)
    return cm.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_docs"),
        # coalesce: a fully drifted source (zero correct rows) must
        # read n_correct = 0, not NULL — it is exactly the source the
        # monitor exists to flag
        F.coalesce(
            F.sum(F.when(F.col("lang") == F.col("pred_lang"), F.col("n"))),
            F.lit(0),
        )
        .cast("long")
        .alias("n_correct"),
    )


def langid_mix_stream(
    spark: SparkSession,
    source_path: str,
    state_path: str,
    checkpoint: str,
    w: dict[str, list[int]],
    schema: str = "doc_id long, text string, lang string, source string",
):
    """readStream wrapper: parquet deliveries -> scored count folds."""

    def _batch_fn(batch: DataFrame, bid: int) -> None:
        update_langmix_state(spark, state_path, batch, w, batch_id=bid)

    return (
        spark.readStream.schema(schema)
        .parquet(source_path)
        .writeStream.foreachBatch(_batch_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
