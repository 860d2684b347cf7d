"""Streaming Kneser-Ney LM training: each micro-batch SUM-folds its
bigram-occurrence counts into the persisted count table — the
continuous twin of ``ngram_lm_kn``'s training half (operators/knlm.py).

The design observation: the ONLY corpus-dependent state of the KN
model is the bigram count table bc(w1, w2, c12). Every other model
table — context totals/fan-outs ctx(w1, c1, n_fwd), continuation
counts cont(w2, n_bwd), the type total T — is a PURE FUNCTION of bc
(n_fwd/n_bwd/T count DISTINCT bigram types, which are exactly bc's
rows; c1 sums bc's counts). So the stream folds the smallest
sufficient statistic and recomputes the derived tables on read with
the exact batch aggregates (recompute-on-read).

Merge class: counter SUMS — mergeable but NOT idempotent: a replayed
delivery would double-count its bigrams, so the fold leans on the
batch-id watermark; the test replays a batch and proves the model
unchanged.

Because the fold and the derived tables are exact integers, a model
trained over ANY slicing of the corpus into deliveries equals the
batch-trained model BIT-FOR-BIT, and therefore scores any document
frame identically (proven end-to-end in tests/test_knlm_stream.py:
fold over 3 interleaved deliveries, then kn_score from the streamed
model == kn_score from the batch model, harmonic means included).

State size = the bigram vocabulary, exactly what the batch model
table holds — never corpus-scale history; each delivery costs its own
tokenize + one vocabulary-keyed fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

KN_STATE_SCHEMA = "w1 string, w2 string, c12 long"


def update_kn_counts(
    spark: SparkSession,
    state_path: str,
    batch: DataFrame,
    batch_id: int | None = None,
    text_col: str = "text",
) -> None:
    """foreachBatch body: SUM one delivery's bigram-occurrence counts
    into the persisted count table. NOT idempotent — replays are
    skipped via the batch-id watermark."""
    from bigdatasmallprice_spark.operators.knlm import doc_bigrams
    from bigdatasmallprice_spark.streaming.state import (
        next_state_version,
        publish_state,
        resolve_state_dir,
        state_version_dir,
        validate_pin_with_default,
        versioned_already_applied,
    )

    if versioned_already_applied(state_path, batch_id):
        return
    # The source-column pin: bigram counts tokenized from one column
    # must never fold with another's (two different corpora in one
    # model). Pre-pin states validate against the default and get the
    # pin re-published below (the dsir_stream migration rule).
    validate_pin_with_default(state_path, "text_col", text_col, "text")
    part = (
        doc_bigrams(batch, text_col=text_col)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
    )
    state_dir = resolve_state_dir(state_path)
    if state_dir is not None:
        part = part.unionByName(
            spark.read.schema(KN_STATE_SCHEMA).parquet(state_dir)
        )
    new = part.groupBy("w1", "w2").agg(
        F.sum("c12").cast("long").alias("c12")
    )
    version = next_state_version(state_path)
    new.write.mode("overwrite").parquet(state_version_dir(state_path, version))
    publish_state(state_path, version, batch_id, config={"text_col": text_col})


def read_kn_model(spark: SparkSession, state_path: str) -> dict[str, DataFrame]:
    """The four KN model tables recomputed from the folded bigram
    counts with the exact batch aggregates (kn_train's shapes), so the
    streamed model scores identically to the batch-trained one."""
    from bigdatasmallprice_spark.streaming.state import resolve_state_dir

    state_dir = resolve_state_dir(state_path)
    if state_dir is None:
        raise FileNotFoundError(f"no KN LM state at {state_path}")
    bc = spark.read.schema(KN_STATE_SCHEMA).parquet(state_dir)
    ctx = bc.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n_fwd"),
    )
    cont = bc.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n_bwd"))
    types = bc.agg(F.count(F.lit(1)).cast("long").alias("T"))
    return {"bc": bc, "ctx": ctx, "cont": cont, "types": types}


def read_mkn_model(spark: SparkSession, state_path: str) -> dict[str, DataFrame]:
    """The MODIFIED-KN model tables (count-bucketed discounts, Chen &
    Goodman 1998 §3) from the SAME folded bigram counts: bc is the
    sufficient statistic for both smoothers, so one persisted stream
    state serves plain and modified KN alike — the derivation is the
    batch fit's own mkn_model_from_counts (operators/knlm.py), one
    source of truth for the count-of-count discount arithmetic."""
    from bigdatasmallprice_spark.operators.knlm import mkn_model_from_counts
    from bigdatasmallprice_spark.streaming.state import resolve_state_dir

    state_dir = resolve_state_dir(state_path)
    if state_dir is None:
        raise FileNotFoundError(f"no KN LM state at {state_path}")
    bc = spark.read.schema(KN_STATE_SCHEMA).parquet(state_dir)
    return mkn_model_from_counts(bc)
