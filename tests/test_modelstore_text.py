"""Text-model serving from the modelstore (VERDICT r8 ask #5): the
persisted langid / quality-classifier weights score EXACTLY like the
in-query refit path, and the fingerprint pin refuses tampered
artifacts."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from bigdatasmallprice_spark import modelstore

SF = "/root/testdata/sf0.001"


def _train_slice(docs):
    return docs.filter(F.expr("doc_id % 5 <> 0"))


def _fit_langid(spark, docs):
    from bigdatasmallprice_spark.operators.langid import (
        doc_feature_arrays,
        lang_features,
        langid_fit,
    )

    tr = _train_slice(docs)
    arrays = doc_feature_arrays(lang_features(tr)).persist()
    classes = sorted(r.lang for r in tr.select("lang").distinct().collect())
    n = tr.count()
    return langid_fit(arrays, classes, n)


def test_langid_served_scores_equal_refit_path(spark, tmp_path):
    from bigdatasmallprice_spark.operators.langid import (
        doc_feature_arrays,
        lang_features,
        langid_score,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    w = _fit_langid(spark, docs)
    d = str(tmp_path)
    modelstore.save_langid_model(d, "langid_en5", w, version="20260815T000000")

    served = sorted(
        map(tuple, modelstore.score_langid_latest(docs, d, "langid_en5").collect())
    )
    refit = sorted(
        map(
            tuple,
            langid_score(doc_feature_arrays(lang_features(docs)), w).collect(),
        )
    )
    assert served == refit
    assert len(served) == docs.count()


def test_langid_fingerprint_pin_refuses_tampering(tmp_path, spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    w = {"en": [0] * 66, "fr": [1] * 66}
    d = str(tmp_path)
    path = modelstore.save_langid_model(d, "lid", w, version="20260815T000000")
    # round-trips clean
    assert modelstore.load_langid_weights(path)["fr"][0] == 1
    # tamper one weight: the pin must refuse
    doc = json.load(open(path))
    doc["weights"]["en"][3] = 999
    json.dump(doc, open(path, "w"))
    with pytest.raises(ValueError, match="fingerprint"):
        modelstore.load_langid_weights(path)
    with pytest.raises(ValueError, match="fingerprint"):
        modelstore.score_langid_latest(docs, d, "lid").collect()


def test_quality_served_keep_equals_refit_path(spark, tmp_path):
    from bigdatasmallprice_spark.operators.distill import (
        fit_quality_classifier,
        quality_features,
        score_keep_expr,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    feats = quality_features(docs).persist()
    w = fit_quality_classifier(feats)[-1]["w"]
    d = str(tmp_path)
    modelstore.save_quality_model(d, "quality5", list(w), version="20260815T000000")

    served = sorted(
        map(
            tuple,
            modelstore.quality_keep_latest(docs, d, "quality5").collect(),
        )
    )
    refit = sorted(
        map(
            tuple,
            quality_features(docs, extra_cols=("doc_id",))
            .select(
                "doc_id",
                "source",
                F.expr(score_keep_expr(list(w))).cast("boolean").alias("keep"),
            )
            .collect(),
        )
    )
    assert served == refit
    assert len(served) == docs.count()


def test_quality_fingerprint_pin_refuses_tampering(tmp_path):
    d = str(tmp_path)
    path = modelstore.save_quality_model(
        d, "q", [1, 2, 3, 4, 5], version="20260815T000000"
    )
    assert modelstore.load_quality_weights(path) == [1, 2, 3, 4, 5]
    doc = json.load(open(path))
    doc["weights"][0] = 42
    json.dump(doc, open(path, "w"))
    with pytest.raises(ValueError, match="fingerprint"):
        modelstore.load_quality_weights(path)


def test_word_vectors_served_embed_equal_refit_path(spark, tmp_path):
    """Bridge deployment shape: persist the trained token vectors once,
    then embed_documents_latest pools any frame bit-identically to the
    in-query refit pooling (doc_embeddings over the live fit)."""
    from bigdatasmallprice_spark.modelstore import (
        embed_documents_latest,
        save_word_vectors,
    )
    from bigdatasmallprice_spark.operators.word2vec import doc_embeddings
    from bigdatasmallprice_spark.queries.textq import word_embedding_train_q

    sf = "/root/testdata/sf0.001"
    emb = word_embedding_train_q(spark, sf).persist()
    emb.count()
    save_word_vectors(str(tmp_path), "w2v_docs", emb)
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    served = sorted(
        (r.doc_id, tuple(r.xu))
        for r in embed_documents_latest(spark, docs, str(tmp_path), "w2v_docs").collect()
    )
    refit = sorted(
        (r.doc_id, tuple(r.xu)) for r in doc_embeddings(docs, emb).collect()
    )
    assert served == refit
    emb.unpersist()


def test_word_vectors_fingerprint_pin_refuses_tampering(spark, tmp_path):
    import json

    from bigdatasmallprice_spark.modelstore import (
        find_latest,
        load_word_vectors,
        save_word_vectors,
    )

    emb = spark.createDataFrame(
        [("a", 0, 100), ("a", 1, -50), ("b", 0, 7), ("b", 1, 9)],
        "word string, dim long, u_micro long",
    )
    save_word_vectors(str(tmp_path), "w2v_tiny", emb)
    path = find_latest(str(tmp_path), "w2v_tiny")
    with open(path) as f:
        doc = json.load(f)
    doc["coefficients"][0][2] += 1  # shift one weight, keep the pin
    with open(path, "w") as f:
        json.dump(doc, f)
    with pytest.raises(ValueError, match="fingerprint mismatch"):
        load_word_vectors(spark, path)

