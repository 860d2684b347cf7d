"""Streaming tests for the kept incremental-state paths.

Crawl ingest streams archives through the batch WARC parse; the
language-mix gate folds scored counts across deliveries; and the
versioned state layer (streaming/state.py) keeps every fold
crash-atomic, replay-safe and pinned to its source, checked here
through the KN LM and DSIR count folds (streaming/knlm_stream.py,
streaming/dsir_stream.py), whose SUM merges are not idempotent.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# streaming crawl ingest: binaryFile source -> WARC parse (sources/warc.py)
# ---------------------------------------------------------------------------


def test_streaming_warc_ingest_matches_batch(spark, tmp_path):
    """Archives dropped into a directory stream through the same
    warc_records parse as batch: binaryFile source, availableNow, append
    sink — the continuous ingest head for crawl corpora."""
    from bigdatasmallprice_spark.sources.warc import (
        encode_warc_gz,
        synth_payload,
        warc_records,
    )

    src = tmp_path / "archives"
    src.mkdir()
    for a in range(6):
        recs = [
            ({"WARC-Type": "conversion", "WARC-Target-URI": f"u{a}/{r}"}, synth_payload(a, r))
            for r in range(1 + a % 3)
        ]
        (src / f"crawl-{a:04d}.warc.gz").write_bytes(encode_warc_gz(recs))

    def parsed(df):
        frame = df.select(
            F.regexp_extract(F.col("path"), r"crawl-(\d+)\.warc\.gz", 1)
            .cast("long")
            .alias("archive_id"),
            F.col("content").alias("payload"),
        )
        return warc_records(frame)

    out, ckpt = str(tmp_path / "records"), str(tmp_path / "wckpt")
    stream = spark.readStream.format("binaryFile").schema(
        "path string, modificationTime timestamp, length long, content binary"
    ).load(str(src))
    q = (
        parsed(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = parsed(spark.read.format("binaryFile").load(str(src)))
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) == sum(1 + a % 3 for a in range(6))


# ---------------------------------------------------------------------------
# versioned state (streaming/state.py) through the KN LM and DSIR count folds
# ---------------------------------------------------------------------------


def _bigram_docs(spark, n_ab, n_bc):
    rows = [(i, "a b") for i in range(n_ab)] + [
        (n_ab + i, "b c") for i in range(n_bc)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _bigram_counts(spark, state):
    from bigdatasmallprice_spark.streaming.knlm_stream import read_kn_model

    return {
        (r.w1, r.w2): r.c12 for r in read_kn_model(spark, state)["bc"].collect()
    }


def test_versioned_state_crash_atomicity(spark, tmp_path):
    """A crash BETWEEN the new-version write and the manifest flip must
    leave the previous state fully readable (the ADVICE torn-summary
    scenario: overwrite-in-place deleted the old state first). Here the
    torn write is simulated by dumping garbage into the next version
    directory without flipping the manifest — readers and a retried
    fold must both still see the committed state only."""
    from bigdatasmallprice_spark.streaming.knlm_stream import update_kn_counts
    from bigdatasmallprice_spark.streaming.state import (
        next_state_version,
        read_state_manifest,
        state_version_dir,
    )

    docs = _bigram_docs(spark, 5, 2)
    kn = str(tmp_path / "kn")
    update_kn_counts(spark, kn, docs, batch_id=0)
    committed = read_state_manifest(kn)

    # simulate the torn write of the NEXT version (crash before flip)
    torn = state_version_dir(kn, next_state_version(kn))
    os.makedirs(torn, exist_ok=True)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as fh:
        fh.write(b"\x00not a parquet file")

    # committed state is untouched and fully readable
    assert read_state_manifest(kn) == committed
    assert _bigram_counts(spark, kn) == {("a", "b"): 5, ("b", "c"): 2}

    # the retried batch overwrites the torn directory and commits
    update_kn_counts(spark, kn, docs, batch_id=1)
    assert _bigram_counts(spark, kn) == {("a", "b"): 10, ("b", "c"): 4}
    # the immediately-previous version survives one flip (readers that
    # resolved it pre-flip keep a grace window) ...
    assert os.path.isdir(committed["state_dir"])
    # ... and is garbage-collected after the NEXT flip
    update_kn_counts(spark, kn, docs, batch_id=2)
    assert not os.path.isdir(committed["state_dir"])
    assert _bigram_counts(spark, kn) == {("a", "b"): 15, ("b", "c"): 6}


def test_versioned_fold_honors_legacy_applied_marker(spark, tmp_path):
    """Upgrading mid-stream from the pre-manifest release: the old
    layout's applied-marker watermark must still suppress a replayed
    batch, or the retry double-folds on top of state that already
    contains it."""
    from bigdatasmallprice_spark.streaming.knlm_stream import (
        KN_STATE_SCHEMA,
        update_kn_counts,
    )
    from bigdatasmallprice_spark.streaming.state import mark_applied

    kn = str(tmp_path / "kn")
    # legacy layout: state parquet at the path itself + old marker
    spark.createDataFrame(
        [("a", "b", 5), ("b", "c", 2)], KN_STATE_SCHEMA
    ).coalesce(1).write.parquet(kn)
    mark_applied(kn, 7)

    docs = _bigram_docs(spark, 3, 0)
    # replay of batch 7 (crash between old-release state write and
    # checkpoint commit, retried after the upgrade): must be a no-op
    update_kn_counts(spark, kn, docs, batch_id=7)
    assert _bigram_counts(spark, kn) == {("a", "b"): 5, ("b", "c"): 2}
    # the next batch id still applies, folding onto the legacy state
    update_kn_counts(spark, kn, docs, batch_id=8)
    assert _bigram_counts(spark, kn) == {("a", "b"): 8, ("b", "c"): 2}


def _dsir_counts(spark, state):
    from bigdatasmallprice_spark.streaming.dsir_stream import DSIR_STATE_SCHEMA
    from bigdatasmallprice_spark.streaming.state import resolve_state_dir

    rows = spark.read.schema(DSIR_STATE_SCHEMA).parquet(
        resolve_state_dir(state)
    )
    return sorted(map(tuple, rows.collect()))


def test_incremental_folds_skip_replayed_batches(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering the same batch_id
    (crash between state write and checkpoint commit) must not
    double-count in either non-idempotent fold — the KN bigram counts
    and the DSIR bucket counts."""
    from bigdatasmallprice_spark.streaming.dsir_stream import update_dsir_counts
    from bigdatasmallprice_spark.streaming.knlm_stream import update_kn_counts

    docs = _bigram_docs(spark, 10, 3)
    kn = str(tmp_path / "kn")
    update_kn_counts(spark, kn, docs, batch_id=0)
    update_kn_counts(spark, kn, docs, batch_id=0)  # replay
    assert _bigram_counts(spark, kn) == {("a", "b"): 10, ("b", "c"): 3}
    # a NEW batch id still applies
    update_kn_counts(spark, kn, docs, batch_id=1)
    assert _bigram_counts(spark, kn) == {("a", "b"): 20, ("b", "c"): 6}

    labelled = spark.createDataFrame(
        [(0, "a b a", "en"), (1, "b c", "de"), (2, "c c a", "en")],
        "doc_id long, text string, lang string",
    )
    ds = str(tmp_path / "dsir")
    update_dsir_counts(spark, ds, labelled, "lang = 'en'", batch_id=0)
    once = _dsir_counts(spark, ds)
    assert sum(cq for _, cq, _ in once) == 8
    assert sum(ct for _, _, ct in once) == 6
    update_dsir_counts(spark, ds, labelled, "lang = 'en'", batch_id=0)  # replay
    assert _dsir_counts(spark, ds) == once
    update_dsir_counts(spark, ds, labelled, "lang = 'en'", batch_id=1)
    assert _dsir_counts(spark, ds) == [(b, 2 * q, 2 * t) for b, q, t in once]


def test_source_column_pins_across_sketch_streams(spark, tmp_path):
    """The source pin swept across the kept count folds: bigram counts
    tokenized from one column, and DSIR hashed-bucket counts split by
    one target predicate, must never fold with another's. A refused
    fold leaves the committed state exactly as it was."""
    import pytest as _pytest

    from bigdatasmallprice_spark.streaming.dsir_stream import update_dsir_counts
    from bigdatasmallprice_spark.streaming.knlm_stream import update_kn_counts
    from bigdatasmallprice_spark.streaming.state import read_state_manifest

    docs = spark.createDataFrame(
        [(0, "a b", "x y", "en")],
        "doc_id long, text string, alt string, lang string",
    )
    kn = str(tmp_path / "kn")
    update_kn_counts(spark, kn, docs, batch_id=0)
    committed = read_state_manifest(kn)
    with _pytest.raises(ValueError, match="different parameters"):
        update_kn_counts(spark, kn, docs, text_col="alt", batch_id=1)
    assert read_state_manifest(kn) == committed
    assert _bigram_counts(spark, kn) == {("a", "b"): 1}

    ds = str(tmp_path / "dsir")
    update_dsir_counts(spark, ds, docs, "lang = 'en'", batch_id=0)
    committed = read_state_manifest(ds)
    once = _dsir_counts(spark, ds)
    with _pytest.raises(ValueError, match="different parameters"):
        update_dsir_counts(spark, ds, docs, "lang = 'de'", batch_id=1)
    assert read_state_manifest(ds) == committed
    assert _dsir_counts(spark, ds) == once


# ---------------------------------------------------------------------------
# language-mix gate (streaming/langid_stream.py)
# ---------------------------------------------------------------------------


def _trained_langid_weights(spark, sf="/root/testdata/sf0.001"):
    from bigdatasmallprice_spark.operators.langid import (
        doc_feature_arrays,
        lang_features,
        langid_fit,
    )

    tr = spark.read.parquet(f"{sf}/documents.parquet").filter(
        "doc_id % 5 <> 0"
    )
    arrays = doc_feature_arrays(lang_features(tr)).persist()
    try:
        classes = sorted(
            r.lang for r in arrays.select("lang").distinct().collect()
        )
        return langid_fit(arrays, classes, arrays.count())
    finally:
        arrays.unpersist()


def test_streaming_langmix_equals_batch_and_replay_safe(spark, tmp_path):
    """The language-mix gate must (a) fold scored counts across sliced
    deliveries into EXACTLY the batch scoring of the union, (b) skip a
    replayed batch id (SUM is not idempotent), and (c) refuse to fold
    counts produced by a DIFFERENT model."""
    import pytest

    from bigdatasmallprice_spark.streaming.langid_stream import (
        langmix_counts,
        read_langmix,
        read_langmix_accuracy,
        update_langmix_state,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    w = _trained_langid_weights(spark)
    state = str(tmp_path / "lm")
    update_langmix_state(spark, state, docs.filter("doc_id % 2 = 0"), w, batch_id=0)
    update_langmix_state(spark, state, docs.filter("doc_id % 2 = 1"), w, batch_id=1)
    got = sorted(map(tuple, read_langmix(spark, state).collect()))
    want = sorted(map(tuple, langmix_counts(docs, w).collect()))
    assert got == want and len(got) > 0

    # replayed batch id: counters unchanged
    update_langmix_state(spark, state, docs.filter("doc_id % 2 = 1"), w, batch_id=1)
    assert sorted(map(tuple, read_langmix(spark, state).collect())) == want

    # accuracy readback is consistent with the folded confusion counts
    acc = {r.source: (r.n_docs, r.n_correct) for r in read_langmix_accuracy(spark, state).collect()}
    assert sum(n for n, _ in acc.values()) == docs.count()

    # a different model's counts must not fold into this state
    w2 = {c: [v + 1 for v in ws] for c, ws in w.items()}
    with pytest.raises(Exception, match="(?i)config|model|mismatch"):
        update_langmix_state(spark, state, docs, w2, batch_id=2)
