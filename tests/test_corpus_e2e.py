"""End-to-end corpus pipeline: the full curation chain composed from
public operators — the "a user can run the whole pipeline" proof.

scrub (PII redact) -> exact dedup (first-writer by content hash) ->
span rewrite -> quality gate -> token accounting.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdatasmallprice_spark.functions.texts import (
    STOPWORDS_EN,
    n_tokens,
    n_unique_tokens,
    quality_score,
    stopword_hits,
)
from bigdatasmallprice_spark.queries.core import table
from bigdatasmallprice_spark.queries.curationq import (
    _RE_EMAIL,
    _RE_IPV4,
    _RE_PHONE,
    _dirty_spark,
    redact,
)

SF = "/root/testdata/sf0.001"
QUALITY_MIN = 0.2


def test_corpus_pipeline_end_to_end(spark):
    docs = table(spark, SF, "documents")

    # stage 1: dirty input (synthetic PII mixed in) -> scrub
    dirty = docs.select("doc_id", "source", _dirty_spark().alias("text"))
    scrubbed = dirty.withColumn("text", redact(F.col("text")))

    # stage 2: exact dedup — first writer wins by content hash
    w_first = F.min("doc_id").over(Window.partitionBy("__h"))
    deduped = (
        scrubbed.withColumn("__h", F.md5("text"))
        .withColumn("__keep", F.col("doc_id") == w_first)
        .filter("__keep")
        .drop("__h", "__keep")
    )

    # stage 2b: span-level rewrite — cross-doc boilerplate spans keep
    # only their first occurrence (the ExactSubstr edit); word counts
    # can only shrink and no document is dropped here
    from bigdatasmallprice_spark.operators.dedup import span_dedup_rewrite

    n_dedup = deduped.count()
    rewritten = span_dedup_rewrite(deduped, hashed=True)
    assert rewritten.count() == n_dedup
    # surviving word count is exact (a fully-cut doc rebuilds to '',
    # which split() reads back as one empty token)
    assert (
        rewritten.filter(
            F.size(F.split("new_text", " "))
            != F.when(
                F.col("n_before") == F.col("n_removed"), F.lit(1)
            ).otherwise(F.col("n_before") - F.col("n_removed"))
        ).count()
        == 0
    )
    deduped = rewritten.withColumnRenamed("new_text", "text").select(
        "doc_id", "source", "text"
    )

    # stage 3: quality gate + token accounting
    t = F.col("text")
    gated = deduped.select(
        "doc_id",
        "source",
        "text",
        n_tokens(t).alias("nt"),
        quality_score(
            n_tokens(t), n_unique_tokens(t), stopword_hits(t, STOPWORDS_EN)
        ).alias("quality"),
    ).filter(F.col("quality") >= QUALITY_MIN)

    survivors = gated.select("doc_id", "source", "text", "nt").persist()
    n_surv = survivors.count()
    assert 0 < n_surv <= docs.count()

    # no PII survives into the training corpus
    for r in survivors.select("text").collect():
        for pat in (_RE_EMAIL, _RE_PHONE, _RE_IPV4):
            assert not re.search(pat, r.text)
    survivors.unpersist()
