"""Streaming document-embedding maintenance: the continuous twin of
the text -> embedding bridge's pooling stage (operators/word2vec.py::
doc_embeddings).

A production curation pipeline trains token vectors occasionally and
embeds ARRIVING documents continuously. Given a FROZEN token-vector
model, a document's pooled vector is a PURE FUNCTION of its own text
(one vocabulary join + one (doc, dim) aggregate over the delivery
only), so the fold is idempotent last-writer-wins by doc_id — a
membership fold, not the counter-SUM class: replays rewrite identical
rows, re-deliveries with CHANGED text replace the stale vector instead
of duplicating it.

What makes idempotence REAL is the model pin: vectors pooled under two
different token models must never fold into one state, so ``init_doc_embeddings`` persists the
token-vector table beside the state and pins an md5 fingerprint of
its canonical serialization in the manifest; a delivery pooled
against different vectors refuses instead of silently mixing
embedding spaces.

The state IS the document-vector table the similarity family consumes
(``read_doc_vectors`` feeds brute/IVF top-k or SemDeDup directly),
and a state folded over ANY slicing of the corpus into deliveries
equals the batch ``doc_embeddings`` output bit-for-bit (proven in
tests/test_embed_stream.py).

State size = one row per embedded document (exactly the batch output);
each delivery costs its own tokenize + one vocabulary join — the
frozen model table is read back, never refit.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EMBED_STATE_SCHEMA = "doc_id long, xu array<long>"
_VEC_SCHEMA = "word string, dim long, u_micro long"


def token_vector_fingerprint(rows: list[tuple[str, int, int]]) -> str:
    """md5 of the canonical (word, dim, u_micro) serialization — the
    model pin."""
    canon = ";".join(f"{w}:{d}:{u}" for w, d, u in sorted(rows))
    return hashlib.md5(canon.encode()).hexdigest()


def _vector_dir(state_path: str) -> str:
    # NOT ".__v...__": publish_state's version GC removes any sibling
    # matching "<state>.__v*__" (state.py::_gc_stale_versions), so the
    # frozen model dir must live outside that namespace
    return state_path.rstrip("/") + ".__tokmodel__"


def _read_vectors(spark: SparkSession, state_path: str) -> DataFrame:
    return spark.read.schema(_VEC_SCHEMA).parquet(_vector_dir(state_path))


def _fingerprint_of(vec: DataFrame) -> str:
    rows = [
        (r.word, int(r.dim), int(r.u_micro))
        for r in vec.select("word", "dim", "u_micro").collect()
    ]
    return token_vector_fingerprint(rows)


# fingerprint memo: the frozen model is written ONCE at init, so
# re-collecting the vocab×dim table on EVERY delivery just to recompute
# an identical md5 is per-delivery driver cost growing with vocabulary.
# Keyed on the vector dir's parquet file signature (name, size,
# mtime_ns) so a re-init with a different model invalidates the memo.
_FP_MEMO: dict[str, tuple[tuple, str]] = {}


def _vector_dir_signature(state_path: str) -> tuple:
    import os

    d = _vector_dir(state_path)
    return tuple(
        (name, st.st_size, st.st_mtime_ns)
        for name in sorted(os.listdir(d))
        if name.endswith(".parquet")
        for st in (os.stat(os.path.join(d, name)),)
    )


def _pinned_fingerprint(spark: SparkSession, state_path: str) -> str:
    sig = _vector_dir_signature(state_path)
    hit = _FP_MEMO.get(state_path)
    if hit is not None and hit[0] == sig:
        return hit[1]
    fp = _fingerprint_of(_read_vectors(spark, state_path))
    _FP_MEMO[state_path] = (sig, fp)
    return fp


def init_doc_embeddings(
    spark: SparkSession, state_path: str, emb: DataFrame
) -> None:
    """Freeze the trained token-vector table beside the state and pin
    its fingerprint; the document state starts EMPTY (documents arrive
    as deliveries). ``emb`` is word_embedding_train's output frame —
    vocabulary-sized, the only collected object is its pin."""
    from bigdatasmallprice_spark.streaming.state import (
        next_state_version,
        publish_state,
        state_version_dir,
    )

    vec = emb.select("word", "dim", F.col("u_micro").cast("long"))
    vec.coalesce(1).write.mode("overwrite").parquet(_vector_dir(state_path))
    fp = _pinned_fingerprint(spark, state_path)  # seeds the memo too
    version = next_state_version(state_path)
    spark.createDataFrame([], EMBED_STATE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(state_version_dir(state_path, version))
    publish_state(
        state_path,
        version,
        batch_id=None,
        config={"token_vectors_md5": fp},
    )


def update_doc_embeddings(
    spark: SparkSession,
    state_path: str,
    batch: DataFrame,
    batch_id: int | None = None,
) -> None:
    """foreachBatch body: mean-pool ONLY the delivery's documents
    against the frozen pinned token vectors and fold the (doc_id, xu)
    rows last-writer-wins by doc_id. Idempotent under the pin; the
    batch-id watermark still skips replayed deliveries' work."""
    from bigdatasmallprice_spark.operators.word2vec import doc_embeddings
    from bigdatasmallprice_spark.streaming.state import (
        next_state_version,
        publish_state,
        read_state_manifest,
        resolve_state_dir,
        state_version_dir,
        validate_state_config,
        versioned_already_applied,
    )

    manifest = read_state_manifest(state_path)
    if manifest is None:
        raise FileNotFoundError(
            f"no doc-embedding state at {state_path}; run "
            "init_doc_embeddings first"
        )
    if versioned_already_applied(state_path, batch_id):
        return
    vec = _read_vectors(spark, state_path)
    # the model pin: refuse to fold vectors pooled under a different
    # token model than the one the state was initialized with
    # (fingerprint memoized per state_path — the frozen model is
    # immutable after init, so no per-delivery vocab collect)
    validate_state_config(
        state_path, {"token_vectors_md5": _pinned_fingerprint(spark, state_path)}
    )
    part = doc_embeddings(
        batch.select("doc_id", "text"),
        vec.select("word", "dim", F.col("u_micro")),
    )
    prior = spark.read.schema(EMBED_STATE_SCHEMA).parquet(
        resolve_state_dir(state_path)
    )
    # last-writer-wins by doc_id, keyed on the DELIVERY's doc_ids:
    # a re-delivered document's vector REPLACES its old row (text
    # edits re-embed; bit-identical replays rewrite the same row),
    # and a document re-delivered with empty/whitespace-only text —
    # which pools to ZERO rows — still evicts its stale vector
    delivered = batch.select("doc_id").distinct()
    new = part.unionByName(prior.join(delivered, "doc_id", "left_anti"))
    version = next_state_version(state_path)
    new.coalesce(1).write.mode("overwrite").parquet(
        state_version_dir(state_path, version)
    )
    publish_state(state_path, version, batch_id, config=manifest["config"])


def read_doc_vectors(spark: SparkSession, state_path: str) -> DataFrame:
    """(doc_id, xu): the continuously maintained document-vector table
    — drops straight into the similarity family (brute/IVF top-k,
    SemDeDup over prescaled k-means)."""
    from bigdatasmallprice_spark.streaming.state import resolve_state_dir

    state_dir = resolve_state_dir(state_path)
    if state_dir is None:
        raise FileNotFoundError(f"no doc-embedding state at {state_path}")
    return spark.read.schema(EMBED_STATE_SCHEMA).parquet(state_dir)
