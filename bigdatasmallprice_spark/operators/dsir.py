"""DSIR-style importance resampling toward a target distribution.

Data Selection with Importance Resampling (Xie et al. 2023) weights
every raw document by how much more likely its hashed n-gram features
are under a TARGET distribution than under the RAW distribution, then
resamples by that weight — the principled version of "keep documents
that look like the domain I care about". The member the engine's
mixture surface was missing: ``mixture_sampling_plan`` reweights by
DOMAIN LABEL, ``token_budget_sample`` by SIZE; this weighs by CONTENT.

Model: two bag-of-hashed-unigram distributions (the langid featurizer
family — operators/langid.py — under an independent 'ds:' hash key),
add-one smoothed. The importance log-weight of a document with bucket
counts f_i is

    lw = sum_i f_i * [log2(ct_i + 1) - log2(Tt + B)
                      - log2(cq_i + 1) + log2(Tq + B)]

House integer discipline: no libm. log2 is computed EXACTLY to its
integer part via the binary-string length (``length(bin(x)) - 1`` —
a pure string op both engines evaluate identically) and extended to
milli-precision with Mitchell's approximation (1972): log2m(x) =
1000*m + rdiv((x - 2^m) * 1000, 2^m), max error 0.086 bit — a
DETERMINISTIC fixed-point log both engines replay bit-identically.
The per-bucket log-ratio table is (B+?)-row MODEL-sized at any corpus
scale, so scoring is one broadcast join + one doc-keyed aggregate.

Selection is EXACT top-k by (lw DESC, doc_id): Spark prefilters with
the integer histogram-band threshold (the token_budget_sample scale
pattern — the rank window sorts ~k survivors, never the corpus), the
oracle keeps the plain one-window SQL; results are identical.

Differential property (tests/test_dsir.py): the kept documents'
feature distribution is strictly closer (L1, integer micro-units) to
the target distribution than the raw corpus's is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdatasmallprice_spark.operators.distill import (
    DUCK_DIV,
    SPARK_DIV,
    rdiv,
)
from bigdatasmallprice_spark.operators.sgns import _duck_h, _spark_h

DSIR_BUCKETS = 256

# non-empty whitespace tokens — the house tokenization (langid.py)
_SPARK_TOKS = "filter(split(text, ' '), w -> w <> '')"
_DUCK_TOKS = "list_filter(string_split(text, ' '), w -> w <> '')"


def log2m(x: str, op: str) -> str:
    """Mitchell fixed-point log2 in milli-bits for a BIGINT expression
    >= 1: exact integer part via the binary-string length, linear
    fractional part. op selects the dialect's integer division AND the
    shift spelling (Spark shiftleft vs DuckDB <<)."""
    m = f"(length(bin({x})) - 1)"
    if op == SPARK_DIV:
        sh = f"shiftleft(CAST(1 AS BIGINT), {m})"
    else:
        sh = f"(CAST(1 AS BIGINT) << {m})"
    return f"({m} * 1000 + {rdiv(f'(({x}) - {sh}) * 1000', sh, op)})"


def dsir_features(
    docs: DataFrame, buckets: int = DSIR_BUCKETS
) -> DataFrame:
    """(doc_id, lang, bucket, f): hashed-unigram counts per document.
    One scan + explode; map-side combine collapses within-doc repeats
    before the (doc, bucket) shuffle."""
    return (
        docs.selectExpr("doc_id", "lang", f"explode({_SPARK_TOKS}) AS w")
        .selectExpr(
            "doc_id", "lang", _spark_h("'ds:' || w") + f" % {buckets} AS bucket"
        )
        .groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )


def log_ratio_table(
    feats: DataFrame, target_pred: str, buckets: int = DSIR_BUCKETS
) -> DataFrame:
    """(bucket, lr_milli): the per-bucket importance log-ratio with
    add-one smoothing and the normalizer constant folded in. The raw
    side is ALL rows of ``feats``; the target side is the slice where
    ``target_pred`` (a SQL boolean over feats columns) holds. Output
    is <= ``buckets`` rows — model-sized at any corpus scale."""
    q = feats.groupBy("bucket").agg(F.sum("f").cast("long").alias("cq"))
    t = (
        feats.filter(F.expr(target_pred))
        .groupBy("bucket")
        .agg(F.sum("f").cast("long").alias("ct"))
    )
    base = q.join(t, "bucket", "left").selectExpr(
        "bucket", "cq", "coalesce(ct, CAST(0 AS BIGINT)) AS ct"
    )
    tot = base.agg(
        F.sum("cq").cast("long").alias("tq"),
        F.sum("ct").cast("long").alias("tt"),
    )
    op = SPARK_DIV
    return base.crossJoin(F.broadcast(tot)).selectExpr(
        "bucket",
        f"CAST({log2m('ct + 1', op)} - {log2m(f'tt + {buckets}', op)} "
        f"- {log2m('cq + 1', op)} + {log2m(f'tq + {buckets}', op)} "
        "AS BIGINT) AS lr_milli",
    )


def dsir_weights(feats: DataFrame, lr: DataFrame) -> DataFrame:
    """(doc_id, lw_milli): per-document importance log-weight — one
    broadcast join against the model-sized ratio table, one doc-keyed
    integer aggregate."""
    return (
        feats.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("f") * F.col("lr_milli")).cast("long").alias("lw_milli"))
    )


def o_dsir_chain_sql(
    target_pred: str, doc_source: str = "documents", buckets: int = DSIR_BUCKETS
) -> str:
    """DuckDB twin as CTE text ending in ``dw(doc_id, lw_milli)``. CTEs
    read more than once are MATERIALIZED: DuckDB 1.0 inlines a CTE at
    each reference."""
    op = DUCK_DIV
    h = _duck_h("'ds:' || w")
    return f"""dtoks AS (
  SELECT doc_id, lang, unnest({_DUCK_TOKS}) AS w FROM {doc_source}
),
dfe AS MATERIALIZED (
  SELECT doc_id, lang, {h} % {buckets} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS f
  FROM dtoks GROUP BY 1, 2, 3
),
dq AS (SELECT bucket, CAST(SUM(f) AS BIGINT) AS cq FROM dfe GROUP BY 1),
dt AS (SELECT bucket, CAST(SUM(f) AS BIGINT) AS ct FROM dfe
       WHERE {target_pred} GROUP BY 1),
dbase AS MATERIALIZED (
  SELECT dq.bucket, dq.cq,
         COALESCE(dt.ct, CAST(0 AS BIGINT)) AS ct
  FROM dq LEFT JOIN dt ON dt.bucket = dq.bucket
),
dtot AS (SELECT CAST(SUM(cq) AS BIGINT) AS tq,
                CAST(SUM(ct) AS BIGINT) AS tt FROM dbase),
dlr AS (
  SELECT bucket,
         CAST({log2m('ct + 1', op)} - {log2m(f'tt + {buckets}', op)}
              - {log2m('cq + 1', op)} + {log2m(f'tq + {buckets}', op)}
           AS BIGINT) AS lr_milli
  FROM dbase CROSS JOIN dtot
),
dw AS MATERIALIZED (
  SELECT dfe.doc_id,
         CAST(SUM(dfe.f * dlr.lr_milli) AS BIGINT) AS lw_milli
  FROM dfe JOIN dlr ON dlr.bucket = dfe.bucket
  GROUP BY 1
)"""
