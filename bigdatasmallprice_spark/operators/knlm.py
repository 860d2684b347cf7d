"""Interpolated Kneser-Ney bigram LM — the CCNet-grade upgrade of the
raw bigram-frequency scorer (``ngram_lm_score``).

CCNet's quality stage filters web documents by the perplexity of a
smoothed n-gram LM (Wenzek et al. 2020, building on KenLM's modified
Kneser-Ney); the raw bigram mean the engine shipped first has no mass
for unseen transitions, so a document of common words in a wrong order
can score HIGHER than clean prose. Kneser-Ney fixes exactly that with
two ideas (Kneser & Ney 1995, Chen & Goodman 1998):

- absolute discounting: each observed bigram count yields D (=0.75)
  of its mass to a back-off reserve, so P(w2|w1) =
  max(c12 - D, 0)/c1 + lambda(w1) * P_cont(w2);
- continuation probability: the back-off distribution is NOT unigram
  frequency but P_cont(w2) = N1+(.w2) / N1+(..) — how many DISTINCT
  contexts w2 follows, over total bigram types — so "Francisco"
  (frequent, but only after "San") gets tiny back-off mass.

House integer discipline: the whole score is exact BIGINT micro-units
through the explicitly-rounded divisions (rdiv) both engines compute
identically — no libm, no float summation. Quantization points are
part of the spec (each rdiv is one documented rounding):

    pc_micro(w2)  = rdiv(n_bwd * 1e6, T)            # continuation
    lam_micro(w1) = rdiv(D_MILLI * n_fwd * 1000, c1)  # back-off weight
    p1_micro      = rdiv(max(c12*1000 - D_MILLI, 0) * 1000, c1)
    p2_micro      = rdiv(lam_micro * pc_micro, 1e6)
    p_micro       = p1_micro + p2_micro   (pc_micro if w1 unseen as ctx)

Every intermediate is bounded: n_fwd <= c1 keeps lam <= 750_000;
products stay under 2^63 for corpora up to ~1e12 bigram tokens.

Scale shape: the MODEL IS A TABLE (bigram types outgrow executor
memory at 100 TB), so training is explode + two map-side-combined
groupBys and scoring is shuffle equi-joins on the bigram / word keys;
the only broadcast is the 1-row type-count scalar. Per-doc scores are
one integer aggregate.

Document quality direction (pinned in tests/test_knlm.py): the mean
smoothed probability of clean documents exceeds that of token-sorted
(order-destroyed) twins, and the clean/shuffled separation RATIO
beats the raw bigram-frequency scorer's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdatasmallprice_spark.operators.distill import (
    DUCK_DIV,
    SPARK_DIV,
    rdiv,
)

D_MILLI = 750  # absolute discount 0.75, milli-units
MICRO = 1_000_000


def doc_bigrams(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, w1, w2): one row per bigram OCCURRENCE, raw-split
    tokenization (the ngram_lm_score convention, empties included)."""
    return docs.selectExpr(
        "doc_id", f"split({text_col}, ' ') AS t"
    ).selectExpr(
        "doc_id",
        "explode(CASE WHEN size(t) >= 2 THEN "
        "arrays_zip(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1)) "
        "ELSE array() END) AS z",
    ).selectExpr("doc_id", "z['0'] AS w1", "z['1'] AS w2")


def kn_train(bg: DataFrame) -> dict[str, DataFrame]:
    """The four model tables from a bigram-occurrence frame:
    bc(w1,w2,c12), ctx(w1,c1,n_fwd), cont(w2,n_bwd), types(T) — all
    exact integer counts, all map-side-combined aggregates."""
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c12"))
    return kn_model_from_counts(bc)


def kn_model_from_counts(bc: DataFrame) -> dict[str, DataFrame]:
    """ctx/cont/types as PURE FUNCTIONS of the bigram count table (the
    mkn_model_from_counts pattern): one sufficient statistic, every
    lower-order table derived — shared by the occurrence-frame fit
    (kn_train) and any count-table consumer (the streaming readback
    re-derives the same shapes in knlm_stream.read_kn_model)."""
    ctx = bc.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n_fwd"),
    )
    cont = bc.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n_bwd"))
    types = bc.agg(F.count(F.lit(1)).cast("long").alias("T"))
    return {"bc": bc, "ctx": ctx, "cont": cont, "types": types}


def _p_micro_expr(op: str) -> str:
    """The smoothed per-bigram probability in micro-units over joined
    columns c12 / c1 / n_fwd / n_bwd / T (any may be NULL for
    out-of-model lookups)."""
    pc = rdiv(f"coalesce(n_bwd, 0) * {MICRO}", "T", op)
    lam = rdiv(f"{D_MILLI} * n_fwd * 1000", "c1", op)
    p1 = rdiv(
        f"greatest(coalesce(c12, 0) * 1000 - {D_MILLI}, 0) * 1000", "c1", op
    )
    return (
        f"CAST(CASE WHEN c1 IS NULL THEN {pc} "
        f"ELSE ({p1}) + ({rdiv(f'({lam}) * ({pc})', str(MICRO), op)}) "
        "END AS BIGINT)"
    )


def _inv_expr(op: str, pm: str = "pm") -> str:
    """Reciprocal probability in pico-per-micro units: rdiv(1e12, p),
    with p floored at 1 micro so a zero-probability transition costs
    the maximum 1e12 — the integer stand-in for log-scale penalty."""
    return rdiv(str(10**12), f"greatest({pm}, 1)", op)


def kn_score(bg: DataFrame, model: dict[str, DataFrame]) -> DataFrame:
    """(doc_id, n_bigrams, p_sum_micro, avg_p_micro, hm_p_micro):
    per-document smoothed-probability aggregates. ``avg_p_micro`` is
    the arithmetic mean; ``hm_p_micro`` the HARMONIC mean — the
    perplexity-flavored statistic (perplexity is the geometric mean of
    1/p; the harmonic mean of p shares its heavy penalty for rare and
    unseen transitions) kept in exact integers: hm = rdiv(n * 1e12,
    sum(rdiv(1e12, max(p, 1)))). Left joins so out-of-model bigrams
    (scoring held-out or perturbed text) fall through to the back-off
    terms instead of dropping."""
    scored = (
        bg.join(model["bc"], ["w1", "w2"], "left")
        .join(model["ctx"], "w1", "left")
        .join(model["cont"], "w2", "left")
        .crossJoin(F.broadcast(model["types"]))
        .selectExpr("doc_id", f"{_p_micro_expr(SPARK_DIV)} AS pm")
    )
    op = SPARK_DIV
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("pm").cast("long").alias("p_sum_micro"),
            F.sum(F.expr(_inv_expr(op))).cast("long").alias("__inv_sum"),
        )
        .selectExpr(
            "doc_id",
            "n_bigrams",
            "p_sum_micro",
            "round(CAST(p_sum_micro AS DOUBLE) / n_bigrams, 6) AS avg_p_micro",
            f"CAST({rdiv('n_bigrams * ' + str(10**12), '__inv_sum', op)} "
            "AS BIGINT) AS hm_p_micro",
        )
    )


def o_kn_chain_sql(doc_source: str = "documents") -> str:
    """DuckDB twin as CTE text ending in ``kn(doc_id, n_bigrams,
    p_sum_micro, avg_p_micro)``: trains on and scores ``doc_source``
    with the identical integer chain (zipped-unnest bigrams). CTEs read
    more than once are MATERIALIZED: DuckDB 1.0 inlines a CTE at each
    reference."""
    op = DUCK_DIV
    return f"""toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM {doc_source}
),
bg AS MATERIALIZED (
  SELECT doc_id,
         unnest(t[1:len(t) - 1]) AS w1,
         unnest(t[2:len(t)]) AS w2
  FROM toks WHERE len(t) >= 2
),
bc AS MATERIALIZED (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2
),
ctx AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
         CAST(COUNT(*) AS BIGINT) AS n_fwd
  FROM bc GROUP BY 1
),
cont AS (
  SELECT w2, CAST(COUNT(*) AS BIGINT) AS n_bwd FROM bc GROUP BY 1
),
types AS (SELECT CAST(COUNT(*) AS BIGINT) AS T FROM bc),
pm AS (
  SELECT bg.doc_id, {_p_micro_expr(op)} AS pm
  FROM bg
  LEFT JOIN bc   ON bc.w1 = bg.w1 AND bc.w2 = bg.w2
  LEFT JOIN ctx  ON ctx.w1 = bg.w1
  LEFT JOIN cont ON cont.w2 = bg.w2
  CROSS JOIN types
),
kna AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(pm) AS BIGINT) AS p_sum_micro,
         CAST(SUM({_inv_expr(op)}) AS BIGINT) AS inv_sum
  FROM pm GROUP BY 1
),
kn AS MATERIALIZED (
  SELECT doc_id, n_bigrams, p_sum_micro,
         round(CAST(p_sum_micro AS DOUBLE) / n_bigrams, 6) AS avg_p_micro,
         CAST({rdiv("n_bigrams * " + str(10**12), "inv_sum", op)} AS BIGINT)
           AS hm_p_micro
  FROM kna
)"""


# ---------------------------------------------------------------------------
# Modified Kneser-Ney: count-bucketed discounts (Chen & Goodman 1998 §3)
# ---------------------------------------------------------------------------
# KenLM ships MODIFIED KN: instead of one absolute discount D, three
# count-dependent discounts D1 / D2 / D3+ applied to bigrams seen
# once / twice / three-plus times, each a CLOSED-FORM rational of the
# count-of-count statistics n_k = |{(w1,w2): c12 = k}|:
#
#   Y  = n1 / (n1 + 2*n2)
#   D1 = 1 - 2*Y*n2/n1 = n1/(n1 + 2*n2)        (simplifies exactly)
#   D2 = 2 - 3*Y*n3/n2
#   D3 = 3 - 4*Y*n4/n3
#
# and the back-off weight becomes per-context
#   lam(w1) = (D1*N1(w1.) + D2*N2(w1.) + D3*N3+(w1.)) / c1
# where N_k(w1.) counts w1's successor TYPES with count k. All of it
# is integer rationals of the bigram count table, so the house
# discipline holds: milli-unit discounts via rdiv, micro-unit
# probabilities, zero libm. Discounts are clamped to [0, k*1000]
# (D(c) <= c keeps every discounted numerator non-negative; the lower
# clamp covers degenerate count-of-count shapes where the closed form
# goes negative — C&G's estimator assumes n1..n4 > 0, so denominators
# are floored at 1 and the clamp makes the fallback explicit rather
# than undefined). Overflow bound: the D2/D3 numerators are
# 3000*n1*n3 / 4000*n1*n4 — exact in BIGINT while n1*n3 < 2.3e15,
# i.e. count-of-count statistics into the tens of millions of types
# each; past that, pre-reduce the fraction before widening.


def _mkn_disc_exprs(op: str) -> tuple[str, str, str]:
    """(d1, d2, d3) milli-unit discount expressions over the global
    count-of-count columns n1/n2/n3/n4."""
    den_y = "greatest(n1 + 2 * n2, 1)"
    d1 = rdiv("1000 * n1", den_y, op)
    d2 = (
        f"greatest(least(2000 - {rdiv(f'3000 * n1 * n3', f'({den_y}) * greatest(n2, 1)', op)}, 2000), 0)"
    )
    d3 = (
        f"greatest(least(3000 - {rdiv(f'4000 * n1 * n4', f'({den_y}) * greatest(n3, 1)', op)}, 3000), 0)"
    )
    return d1, d2, d3


def mkn_train(bg: DataFrame) -> dict[str, DataFrame]:
    """The modified-KN model tables from a bigram-occurrence frame:
    bc(w1,w2,c12); mctx(w1 -> c1, nf1, nf2, nf3p) — successor-type
    counts BUCKETED by count; cont(w2, n_bwd); types(T); disc — the
    1-row (d1,d2,d3) milli-unit discount table derived from the global
    count-of-counts (broadcast, like the type scalar)."""
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c12"))
    return mkn_model_from_counts(bc)


def mkn_model_from_counts(bc: DataFrame) -> dict[str, DataFrame]:
    """Everything but bc as PURE FUNCTIONS of the bigram count table —
    the same sufficient statistic the plain-KN stream already folds
    (streaming/knlm_stream.py), so a modified-KN model can be served
    from the identical persisted state (read_mkn_model) with zero new
    streaming machinery: one count table, two smoothers."""
    mctx = bc.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.sum(F.when(F.col("c12") == 1, 1).otherwise(0))
        .cast("long")
        .alias("nf1"),
        F.sum(F.when(F.col("c12") == 2, 1).otherwise(0))
        .cast("long")
        .alias("nf2"),
        F.sum(F.when(F.col("c12") >= 3, 1).otherwise(0))
        .cast("long")
        .alias("nf3p"),
    )
    cont = bc.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n_bwd"))
    types = bc.agg(F.count(F.lit(1)).cast("long").alias("T"))
    op = SPARK_DIV
    d1, d2, d3 = _mkn_disc_exprs(op)
    disc = (
        bc.agg(
            F.sum(F.when(F.col("c12") == 1, 1).otherwise(0)).cast("long").alias("n1"),
            F.sum(F.when(F.col("c12") == 2, 1).otherwise(0)).cast("long").alias("n2"),
            F.sum(F.when(F.col("c12") == 3, 1).otherwise(0)).cast("long").alias("n3"),
            F.sum(F.when(F.col("c12") == 4, 1).otherwise(0)).cast("long").alias("n4"),
        )
        .selectExpr(
            f"CAST({d1} AS BIGINT) AS d1",
            f"CAST({d2} AS BIGINT) AS d2",
            f"CAST({d3} AS BIGINT) AS d3",
        )
    )
    return {"bc": bc, "mctx": mctx, "cont": cont, "types": types, "disc": disc}


def _mp_micro_expr(op: str) -> str:
    """The modified-KN per-bigram probability in micro-units over
    joined columns c12 / c1 / nf1 / nf2 / nf3p / n_bwd / T / d1 / d2 /
    d3 (model columns may be NULL for out-of-model lookups)."""
    pc = rdiv(f"coalesce(n_bwd, 0) * {MICRO}", "T", op)
    dcase = (
        "CASE WHEN coalesce(c12, 0) = 1 THEN d1 "
        "WHEN coalesce(c12, 0) = 2 THEN d2 ELSE d3 END"
    )
    lam = rdiv("(d1 * nf1 + d2 * nf2 + d3 * nf3p) * 1000", "c1", op)
    p1 = rdiv(
        f"greatest(coalesce(c12, 0) * 1000 - ({dcase}), 0) * 1000", "c1", op
    )
    return (
        f"CAST(CASE WHEN c1 IS NULL THEN {pc} "
        f"ELSE ({p1}) + ({rdiv(f'({lam}) * ({pc})', str(MICRO), op)}) "
        "END AS BIGINT)"
    )


def mkn_score(bg: DataFrame, model: dict[str, DataFrame]) -> DataFrame:
    """(doc_id, n_bigrams, p_sum_micro, avg_p_micro, hm_p_micro): the
    kn_score shape under the count-bucketed discounts. Left joins so
    out-of-model bigrams fall through to the continuation term."""
    scored = (
        bg.join(model["bc"], ["w1", "w2"], "left")
        .join(model["mctx"], "w1", "left")
        .join(model["cont"], "w2", "left")
        .crossJoin(F.broadcast(model["types"]))
        .crossJoin(F.broadcast(model["disc"]))
        .selectExpr("doc_id", f"{_mp_micro_expr(SPARK_DIV)} AS pm")
    )
    op = SPARK_DIV
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("pm").cast("long").alias("p_sum_micro"),
            F.sum(F.expr(_inv_expr(op))).cast("long").alias("__inv_sum"),
        )
        .selectExpr(
            "doc_id",
            "n_bigrams",
            "p_sum_micro",
            "round(CAST(p_sum_micro AS DOUBLE) / n_bigrams, 6) AS avg_p_micro",
            f"CAST({rdiv('n_bigrams * ' + str(10**12), '__inv_sum', op)} "
            "AS BIGINT) AS hm_p_micro",
        )
    )


def o_mkn_chain_sql(doc_source: str = "documents") -> str:
    """DuckDB twin as CTE text ending in ``mkn(doc_id, n_bigrams,
    p_sum_micro, avg_p_micro, hm_p_micro)``."""
    op = DUCK_DIV
    d1, d2, d3 = _mkn_disc_exprs(op)
    return f"""mtoks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM {doc_source}
),
mbg AS (
  SELECT doc_id,
         unnest(t[1:len(t) - 1]) AS w1,
         unnest(t[2:len(t)]) AS w2
  FROM mtoks WHERE len(t) >= 2
),
mbc AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM mbg GROUP BY 1, 2
),
mctx AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nf1,
         CAST(SUM(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS nf2,
         CAST(SUM(CASE WHEN c12 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS nf3p
  FROM mbc GROUP BY 1
),
mcont AS (
  SELECT w2, CAST(COUNT(*) AS BIGINT) AS n_bwd FROM mbc GROUP BY 1
),
mtypes AS (SELECT CAST(COUNT(*) AS BIGINT) AS T FROM mbc),
mdisc AS (
  SELECT CAST({d1} AS BIGINT) AS d1,
         CAST({d2} AS BIGINT) AS d2,
         CAST({d3} AS BIGINT) AS d3
  FROM (
    SELECT CAST(SUM(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           CAST(SUM(CASE WHEN c12 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
           CAST(SUM(CASE WHEN c12 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
    FROM mbc
  )
),
mpm AS (
  SELECT mbg.doc_id, {_mp_micro_expr(op)} AS pm
  FROM mbg
  LEFT JOIN mbc  ON mbc.w1 = mbg.w1 AND mbc.w2 = mbg.w2
  LEFT JOIN mctx ON mctx.w1 = mbg.w1
  LEFT JOIN mcont ON mcont.w2 = mbg.w2
  CROSS JOIN mtypes
  CROSS JOIN mdisc
),
mkna AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(pm) AS BIGINT) AS p_sum_micro,
         CAST(SUM({_inv_expr(op)}) AS BIGINT) AS inv_sum
  FROM mpm GROUP BY 1
),
mkn AS (
  SELECT doc_id, n_bigrams, p_sum_micro,
         round(CAST(p_sum_micro AS DOUBLE) / n_bigrams, 6) AS avg_p_micro,
         CAST({rdiv("n_bigrams * " + str(10**12), "inv_sum", op)} AS BIGINT)
           AS hm_p_micro
  FROM mkna
)"""


# ---------------------------------------------------------------------------
# Order-3 interpolated Kneser-Ney: the back-off CHAIN (3 -> 2 -> 1)
# ---------------------------------------------------------------------------
# The order CCNet-grade filtering actually runs is n >= 3 (KenLM uses
# 5); the structural content over the bigram model is the RECURSIVE
# back-off with CONTINUATION counts at every lower order (Chen &
# Goodman 1998's interpolated KN):
#
#   P3(w|u,v) = max(c(uvw) - D, 0)/c(uv.) + lam3(u,v) * P2(w|v)
#   P2(w|v)   = max(N1+(.vw) - D, 0)/N1+(.v.) + lam2(v) * P1(w)
#   P1(w)     = N1+(..w) / N1+(...)
#
# where every N1+ is a TYPE count over the trigram relation (all
# lower-order statistics derive from the single trigram count table —
# the one corpus-scale aggregate), lam_k = D * (distinct-successor
# count) / (denominator), and unseen histories fall through to the
# next order (tested). Identical integer quantization discipline as
# the bigram chain; every table is a shuffle-equi-join model table.

KN3_SCHEMA_DOC = "tc(u,v,w,c3) + five derived type-count tables"


def doc_trigrams(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, u, v, w): one row per trigram occurrence, raw-split
    tokenization (the doc_bigrams convention)."""
    return docs.selectExpr(
        "doc_id", f"split({text_col}, ' ') AS t"
    ).selectExpr(
        "doc_id",
        "explode(CASE WHEN size(t) >= 3 THEN "
        "arrays_zip(slice(t, 1, size(t) - 2), slice(t, 2, size(t) - 2), "
        "slice(t, 3, size(t) - 2)) ELSE array() END) AS z",
    ).selectExpr("doc_id", "z['0'] AS u", "z['1'] AS v", "z['2'] AS w")


def kn3_train(tg: DataFrame) -> dict[str, DataFrame]:
    """The six model tables of the order-3 chain, all derived from the
    trigram count table: tc(u,v,w,c3); tctx(u,v -> c12, nf3);
    mid(v,w -> n1vw); midctx(v -> nmid, nf2); uni(w -> n1w);
    types(T3). Every aggregate map-side combines; every table is
    model-shaped (bounded by type counts, not occurrences)."""
    tc = tg.groupBy("u", "v", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c3")
    )
    return kn3_model_from_counts(tc)


def kn3_model_from_counts(tc: DataFrame) -> dict[str, DataFrame]:
    """The five lower-order tables + type total as PURE FUNCTIONS of
    the trigram count table — the single corpus-scale sufficient
    statistic, so any trigram count table (kn3_train's, or one
    folded elsewhere) derives the same model."""
    tctx = tc.groupBy("u", "v").agg(
        F.sum("c3").cast("long").alias("c12"),
        F.count(F.lit(1)).cast("long").alias("nf3"),
    )
    mid = tc.groupBy("v", "w").agg(
        F.count(F.lit(1)).cast("long").alias("n1vw")
    )
    midctx = mid.groupBy("v").agg(
        F.sum("n1vw").cast("long").alias("nmid"),
        F.count(F.lit(1)).cast("long").alias("nf2"),
    )
    uni = tc.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("n1w"))
    types = tc.agg(F.count(F.lit(1)).cast("long").alias("T3"))
    return {
        "tc": tc,
        "tctx": tctx,
        "mid": mid,
        "midctx": midctx,
        "uni": uni,
        "types": types,
    }


def _p3_micro_expr(op: str) -> str:
    """The order-3 smoothed probability in micro-units over joined
    columns c3/c12/nf3/n1vw/nmid/nf2/n1w/T3 (each may be NULL for
    out-of-model lookups; unseen histories fall through an order)."""
    p1 = rdiv(f"coalesce(n1w, 0) * {MICRO}", "T3", op)
    lam2 = rdiv(f"{D_MILLI} * nf2 * 1000", "nmid", op)
    p2main = rdiv(
        f"greatest(coalesce(n1vw, 0) * 1000 - {D_MILLI}, 0) * 1000",
        "nmid",
        op,
    )
    p2 = (
        f"CASE WHEN nmid IS NULL THEN {p1} "
        f"ELSE ({p2main}) + ({rdiv(f'({lam2}) * ({p1})', str(MICRO), op)}) END"
    )
    lam3 = rdiv(f"{D_MILLI} * nf3 * 1000", "c12", op)
    p3main = rdiv(
        f"greatest(coalesce(c3, 0) * 1000 - {D_MILLI}, 0) * 1000", "c12", op
    )
    return (
        f"CAST(CASE WHEN c12 IS NULL THEN ({p2}) "
        f"ELSE ({p3main}) + ({rdiv(f'({lam3}) * ({p2})', str(MICRO), op)}) "
        "END AS BIGINT)"
    )


def kn3_score(tg: DataFrame, model: dict[str, DataFrame]) -> DataFrame:
    """(doc_id, n_trigrams, p_sum_micro, avg_p_micro, hm_p_micro):
    per-document order-3 smoothed aggregates (the kn_score shape one
    order up). Left joins throughout so out-of-model trigrams back
    off instead of dropping."""
    scored = (
        tg.join(model["tc"], ["u", "v", "w"], "left")
        .join(model["tctx"], ["u", "v"], "left")
        .join(model["mid"], ["v", "w"], "left")
        .join(model["midctx"], "v", "left")
        .join(model["uni"], "w", "left")
        .crossJoin(F.broadcast(model["types"]))
        .selectExpr("doc_id", f"{_p3_micro_expr(SPARK_DIV)} AS pm")
    )
    op = SPARK_DIV
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trigrams"),
            F.sum("pm").cast("long").alias("p_sum_micro"),
            F.sum(F.expr(_inv_expr(op))).cast("long").alias("__inv_sum"),
        )
        .selectExpr(
            "doc_id",
            "n_trigrams",
            "p_sum_micro",
            "round(CAST(p_sum_micro AS DOUBLE) / n_trigrams, 6) AS avg_p_micro",
            f"CAST({rdiv('n_trigrams * ' + str(10**12), '__inv_sum', op)} "
            "AS BIGINT) AS hm_p_micro",
        )
    )


def o_kn3_chain_sql(doc_source: str = "documents") -> str:
    """DuckDB twin as CTE text ending in ``kn3(doc_id, n_trigrams,
    p_sum_micro, avg_p_micro, hm_p_micro)``."""
    op = DUCK_DIV
    return f"""ttoks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM {doc_source}
),
tg AS (
  SELECT doc_id,
         unnest(t[1:len(t) - 2]) AS u,
         unnest(t[2:len(t) - 1]) AS v,
         unnest(t[3:len(t)]) AS w
  FROM ttoks WHERE len(t) >= 3
),
tc AS (
  SELECT u, v, w, CAST(COUNT(*) AS BIGINT) AS c3 FROM tg GROUP BY 1, 2, 3
),
tctx AS (
  SELECT u, v, CAST(SUM(c3) AS BIGINT) AS c12,
         CAST(COUNT(*) AS BIGINT) AS nf3
  FROM tc GROUP BY 1, 2
),
mid AS (
  SELECT v, w, CAST(COUNT(*) AS BIGINT) AS n1vw FROM tc GROUP BY 1, 2
),
midctx AS (
  SELECT v, CAST(SUM(n1vw) AS BIGINT) AS nmid,
         CAST(COUNT(*) AS BIGINT) AS nf2
  FROM mid GROUP BY 1
),
uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n1w FROM tc GROUP BY 1
),
t3types AS (SELECT CAST(COUNT(*) AS BIGINT) AS T3 FROM tc),
pm3 AS (
  SELECT tg.doc_id, {_p3_micro_expr(op)} AS pm
  FROM tg
  LEFT JOIN tc     ON tc.u = tg.u AND tc.v = tg.v AND tc.w = tg.w
  LEFT JOIN tctx   ON tctx.u = tg.u AND tctx.v = tg.v
  LEFT JOIN mid    ON mid.v = tg.v AND mid.w = tg.w
  LEFT JOIN midctx ON midctx.v = tg.v
  LEFT JOIN uni    ON uni.w = tg.w
  CROSS JOIN t3types
),
kn3a AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_trigrams,
         CAST(SUM(pm) AS BIGINT) AS p_sum_micro,
         CAST(SUM({_inv_expr(op)}) AS BIGINT) AS inv_sum
  FROM pm3 GROUP BY 1
),
kn3 AS (
  SELECT doc_id, n_trigrams, p_sum_micro,
         round(CAST(p_sum_micro AS DOUBLE) / n_trigrams, 6) AS avg_p_micro,
         CAST({rdiv("n_trigrams * " + str(10**12), "inv_sum", op)} AS BIGINT)
           AS hm_p_micro
  FROM kn3a
)"""


# ---------------------------------------------------------------------------
# Order-3 MODIFIED Kneser-Ney: count-bucketed discounts at EVERY order
# ---------------------------------------------------------------------------
# KenLM runs the Chen & Goodman §3 discounts at every order of the
# back-off chain, not just the top: order 3 discounts raw trigram
# counts c(uvw) with D3_1/D3_2/D3_3+ derived from the trigram
# count-of-counts, order 2 discounts the CONTINUATION type counts
# N1+(.vw) with its own D2_* derived from the count-of-counts OF THOSE
# TYPE COUNTS (the adjusted-count estimation of the lower orders), and
# the continuation unigram stays undiscounted (the interpolated-KN
# base case, matching kn3's chain). Back-off weights are per-context
# bucketed sums: lam_k(ctx) = (D_1*N_1(ctx) + D_2*N_2(ctx) +
# D_3*N_3+(ctx)) / denom. Everything — both discount rows included —
# remains a pure function of the single trigram count table, so the
# kn3 stream state serves this smoother too (read_mkn3_model).


def _disc_row(cdf: DataFrame, count_col: str, out: tuple[str, str, str]) -> DataFrame:
    """ONE broadcast row of (D1, D2, D3+) milli-unit discounts from the
    count-of-count statistics of ``count_col`` — the same closed forms
    as the bigram mkn fit (_mkn_disc_exprs), reused verbatim so the
    discount arithmetic has a single source of truth."""
    op = SPARK_DIV
    d1, d2, d3 = _mkn_disc_exprs(op)
    c = F.col(count_col)
    return (
        cdf.agg(
            F.sum(F.when(c == 1, 1).otherwise(0)).cast("long").alias("n1"),
            F.sum(F.when(c == 2, 1).otherwise(0)).cast("long").alias("n2"),
            F.sum(F.when(c == 3, 1).otherwise(0)).cast("long").alias("n3"),
            F.sum(F.when(c == 4, 1).otherwise(0)).cast("long").alias("n4"),
        )
        .selectExpr(
            f"CAST({d1} AS BIGINT) AS {out[0]}",
            f"CAST({d2} AS BIGINT) AS {out[1]}",
            f"CAST({d3} AS BIGINT) AS {out[2]}",
        )
    )


def mkn3_train(tg: DataFrame) -> dict[str, DataFrame]:
    """The modified order-3 model from a trigram-occurrence frame."""
    tc = tg.groupBy("u", "v", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c3")
    )
    return mkn3_model_from_counts(tc)


def mkn3_model_from_counts(tc: DataFrame) -> dict[str, DataFrame]:
    """Every table as a PURE FUNCTION of the trigram count table — the
    kn3 sufficient-statistic rule extended to the modified smoother:
    tc(u,v,w,c3); tctx(u,v -> c12, mf1/mf2/mf3p successor types
    bucketed by c3); disc3 (1-row, from c3's count-of-counts);
    mid(v,w -> n1vw); midctx(v -> nmid, mm1/mm2/mm3p successor types
    bucketed by n1vw); disc2 (1-row, from n1vw's count-of-counts);
    uni(w, n1w); types(T3)."""
    tctx = tc.groupBy("u", "v").agg(
        F.sum("c3").cast("long").alias("c12"),
        F.sum(F.when(F.col("c3") == 1, 1).otherwise(0)).cast("long").alias("mf1"),
        F.sum(F.when(F.col("c3") == 2, 1).otherwise(0)).cast("long").alias("mf2"),
        F.sum(F.when(F.col("c3") >= 3, 1).otherwise(0)).cast("long").alias("mf3p"),
    )
    mid = tc.groupBy("v", "w").agg(
        F.count(F.lit(1)).cast("long").alias("n1vw")
    )
    midctx = mid.groupBy("v").agg(
        F.sum("n1vw").cast("long").alias("nmid"),
        F.sum(F.when(F.col("n1vw") == 1, 1).otherwise(0)).cast("long").alias("mm1"),
        F.sum(F.when(F.col("n1vw") == 2, 1).otherwise(0)).cast("long").alias("mm2"),
        F.sum(F.when(F.col("n1vw") >= 3, 1).otherwise(0)).cast("long").alias("mm3p"),
    )
    uni = tc.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("n1w"))
    types = tc.agg(F.count(F.lit(1)).cast("long").alias("T3"))
    return {
        "tc": tc,
        "tctx": tctx,
        "disc3": _disc_row(tc, "c3", ("d31", "d32", "d33")),
        "mid": mid,
        "midctx": midctx,
        "disc2": _disc_row(mid, "n1vw", ("d21", "d22", "d23")),
        "uni": uni,
        "types": types,
    }


def _mp3_micro_expr(op: str) -> str:
    """The modified order-3 smoothed probability in micro-units over
    joined columns c3/c12/mf*/n1vw/nmid/mm*/n1w/T3/d3*/d2* (model
    columns may be NULL; unseen histories fall through an order)."""
    p1 = rdiv(f"coalesce(n1w, 0) * {MICRO}", "T3", op)
    dc2 = (
        "CASE WHEN coalesce(n1vw, 0) = 1 THEN d21 "
        "WHEN coalesce(n1vw, 0) = 2 THEN d22 ELSE d23 END"
    )
    lam2 = rdiv("(d21 * mm1 + d22 * mm2 + d23 * mm3p) * 1000", "nmid", op)
    p2main = rdiv(
        f"greatest(coalesce(n1vw, 0) * 1000 - ({dc2}), 0) * 1000", "nmid", op
    )
    p2 = (
        f"CASE WHEN nmid IS NULL THEN {p1} "
        f"ELSE ({p2main}) + ({rdiv(f'({lam2}) * ({p1})', str(MICRO), op)}) END"
    )
    dc3 = (
        "CASE WHEN coalesce(c3, 0) = 1 THEN d31 "
        "WHEN coalesce(c3, 0) = 2 THEN d32 ELSE d33 END"
    )
    lam3 = rdiv("(d31 * mf1 + d32 * mf2 + d33 * mf3p) * 1000", "c12", op)
    p3main = rdiv(
        f"greatest(coalesce(c3, 0) * 1000 - ({dc3}), 0) * 1000", "c12", op
    )
    return (
        f"CAST(CASE WHEN c12 IS NULL THEN ({p2}) "
        f"ELSE ({p3main}) + ({rdiv(f'({lam3}) * ({p2})', str(MICRO), op)}) "
        "END AS BIGINT)"
    )


def mkn3_score(tg: DataFrame, model: dict[str, DataFrame]) -> DataFrame:
    """(doc_id, n_trigrams, p_sum_micro, avg_p_micro, hm_p_micro): the
    kn3_score shape under count-bucketed discounts at both upper
    orders. Left joins so out-of-model trigrams back off."""
    scored = (
        tg.join(model["tc"], ["u", "v", "w"], "left")
        .join(model["tctx"], ["u", "v"], "left")
        .join(model["mid"], ["v", "w"], "left")
        .join(model["midctx"], "v", "left")
        .join(model["uni"], "w", "left")
        .crossJoin(F.broadcast(model["types"]))
        .crossJoin(F.broadcast(model["disc3"]))
        .crossJoin(F.broadcast(model["disc2"]))
        .selectExpr("doc_id", f"{_mp3_micro_expr(SPARK_DIV)} AS pm")
    )
    op = SPARK_DIV
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trigrams"),
            F.sum("pm").cast("long").alias("p_sum_micro"),
            F.sum(F.expr(_inv_expr(op))).cast("long").alias("__inv_sum"),
        )
        .selectExpr(
            "doc_id",
            "n_trigrams",
            "p_sum_micro",
            "round(CAST(p_sum_micro AS DOUBLE) / n_trigrams, 6) AS avg_p_micro",
            f"CAST({rdiv('n_trigrams * ' + str(10**12), '__inv_sum', op)} "
            "AS BIGINT) AS hm_p_micro",
        )
    )


def o_mkn3_chain_sql(doc_source: str = "documents") -> str:
    """DuckDB twin as CTE text ending in ``mkn3(doc_id, n_trigrams,
    p_sum_micro, avg_p_micro, hm_p_micro)``. CTE names are m3-prefixed
    so the chain composes beside the kn/mkn/kn3 chains in one WITH."""
    op = DUCK_DIV
    d1, d2, d3 = _mkn_disc_exprs(op)

    def disc_cte(src: str, col: str, o1: str, o2: str, o3: str) -> str:
        return f"""(
  SELECT CAST({d1} AS BIGINT) AS {o1},
         CAST({d2} AS BIGINT) AS {o2},
         CAST({d3} AS BIGINT) AS {o3}
  FROM (
    SELECT CAST(SUM(CASE WHEN {col} = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN {col} = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           CAST(SUM(CASE WHEN {col} = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
           CAST(SUM(CASE WHEN {col} = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
    FROM {src}
  )
)"""

    return f"""m3toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM {doc_source}
),
m3tg AS (
  SELECT doc_id,
         unnest(t[1:len(t) - 2]) AS u,
         unnest(t[2:len(t) - 1]) AS v,
         unnest(t[3:len(t)]) AS w
  FROM m3toks WHERE len(t) >= 3
),
m3tc AS (
  SELECT u, v, w, CAST(COUNT(*) AS BIGINT) AS c3 FROM m3tg GROUP BY 1, 2, 3
),
m3tctx AS (
  SELECT u, v, CAST(SUM(c3) AS BIGINT) AS c12,
         CAST(SUM(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS mf1,
         CAST(SUM(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS mf2,
         CAST(SUM(CASE WHEN c3 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS mf3p
  FROM m3tc GROUP BY 1, 2
),
m3disc3 AS {disc_cte("m3tc", "c3", "d31", "d32", "d33")},
m3mid AS (
  SELECT v, w, CAST(COUNT(*) AS BIGINT) AS n1vw FROM m3tc GROUP BY 1, 2
),
m3midctx AS (
  SELECT v, CAST(SUM(n1vw) AS BIGINT) AS nmid,
         CAST(SUM(CASE WHEN n1vw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS mm1,
         CAST(SUM(CASE WHEN n1vw = 2 THEN 1 ELSE 0 END) AS BIGINT) AS mm2,
         CAST(SUM(CASE WHEN n1vw >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS mm3p
  FROM m3mid GROUP BY 1
),
m3disc2 AS {disc_cte("m3mid", "n1vw", "d21", "d22", "d23")},
m3uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n1w FROM m3tc GROUP BY 1
),
m3types AS (SELECT CAST(COUNT(*) AS BIGINT) AS T3 FROM m3tc),
m3pm AS (
  SELECT m3tg.doc_id, {_mp3_micro_expr(op)} AS pm
  FROM m3tg
  LEFT JOIN m3tc     ON m3tc.u = m3tg.u AND m3tc.v = m3tg.v AND m3tc.w = m3tg.w
  LEFT JOIN m3tctx   ON m3tctx.u = m3tg.u AND m3tctx.v = m3tg.v
  LEFT JOIN m3mid    ON m3mid.v = m3tg.v AND m3mid.w = m3tg.w
  LEFT JOIN m3midctx ON m3midctx.v = m3tg.v
  LEFT JOIN m3uni    ON m3uni.w = m3tg.w
  CROSS JOIN m3types
  CROSS JOIN m3disc3
  CROSS JOIN m3disc2
),
mkn3a AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_trigrams,
         CAST(SUM(pm) AS BIGINT) AS p_sum_micro,
         CAST(SUM({_inv_expr(op)}) AS BIGINT) AS inv_sum
  FROM m3pm GROUP BY 1
),
mkn3 AS (
  SELECT doc_id, n_trigrams, p_sum_micro,
         round(CAST(p_sum_micro AS DOUBLE) / n_trigrams, 6) AS avg_p_micro,
         CAST({rdiv("n_trigrams * " + str(10**12), "inv_sum", op)} AS BIGINT)
           AS hm_p_micro
  FROM mkn3a
)"""
