"""Probabilistic-sketch queries: HyperLogLog distinct counting,
Count-Min frequency estimation, and binned-histogram quantiles — each
with an in-query exact audit (and audit-free production twins where
the audit carries the only corpus-sized surface).

Together with ``cardinality_sketch`` (linear counting) and the bloom
membership bitmap, these are the standard mergeable summaries a
100 TB curation pipeline maintains instead of corpus-wide
distinct/sort/groupBy shuffles — one per question class: how many
distinct (HLL), how often (CMS), have we seen it (bloom), where do
values sit (the quantile histogram).

- **HyperLogLog** (Flajolet et al. 2007): per-source distinct-word
  estimate from a fixed 2^8-register state (p=8 — see the sizing note
  at ``_HLL_P``). Unlike linear counting (whose 2^20-bit bitmap must
  be sized for the expected cardinality), HLL's 256 registers estimate
  cardinalities far beyond the register count with ~1.04/sqrt(m) =
  6.5% relative error — the right state for unbounded corpus growth.
  The register fold (MAX per register) is associative/commutative/
  idempotent, so it merges across partitions, shards and days exactly
  like the bloom bitmap.
- **Count-Min** (Cormode & Muthukrishnan 2005): d x w counter matrix;
  every word increments one counter per row, a point estimate is the
  MIN over rows, and est <= true + e/w * N with probability 1-e^-d.
  The sketch answers frequency queries over an unbounded vocabulary
  with fixed memory — the complement of Misra-Gries (which returns the
  heavy hitters but cannot answer point queries for arbitrary terms).

Cross-engine determinism: hashes are md5 hex slices cast to BIGINT
(the repo-standard engine-portable hash), register arithmetic is pure
integer — rho via ``53 - length(bin(h >> 8))`` (bit length of the
52-bit value suffix of the 60-bit hash, exact in both engines; 53 =
``_HLL_RHO_MAX``, rho when the suffix is all zeros), the harmonic sum
is kept as the SCALED integer ``sum(2^(53 - M_j))`` (every term a
power of two <= 2^52, 256 registers so the total <= 2^60 — exact
BIGINT, no float-summation order issues).
Only the final estimate divides doubles (identical single IEEE ops in
both engines, rounded to 4 dp; the ``ln`` in the small-range branch
follows the precedent of ``cardinality_sketch``).

No reference counterpart (the reference has no sketch layer); the
papers above are the spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatasmallprice_spark.functions.texts import o_shingle_expr, shingle_expr
from bigdatasmallprice_spark.queries.core import table, table_par
from bigdatasmallprice_spark.registry import register

# ---------------------------------------------------------------------------
# HyperLogLog distinct 3-gram shingles per source
# ---------------------------------------------------------------------------

# p=8 keeps the per-source distinct-shingle counts (~1.1k at sf0.01,
# ~10k at sf0.1) well ABOVE the 2.5m small-range threshold, so the
# driver's gate verifies the genuine harmonic-mean estimator, not just
# the linear-counting fallback. Standard error 1.04/sqrt(256) = 6.5%.
_HLL_P = 8
_HLL_M = 1 << _HLL_P  # 256 registers
_HLL_W = 60 - _HLL_P  # 52 value bits in the 60-bit md5 slice
_HLL_RHO_MAX = _HLL_W + 1  # 53: rho when the 52-bit suffix is all zeros
# alpha_m * m^2 * 2^49 — the numerator of the scaled-integer estimate.
# Computed once here and embedded as the SAME double literal in both
# engines, so the one division that produces the estimate is the
# identical IEEE operation.
_HLL_A = (0.7213 / (1.0 + 1.079 / _HLL_M)) * _HLL_M * _HLL_M * float(1 << _HLL_RHO_MAX)
_HLL_SMALL = 2.5 * _HLL_M  # small-range-correction threshold


@register(
    "hll_distinct",
    f"""
WITH toks AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
words AS (
  SELECT source, unnest({o_shingle_expr('ws', 3)}) AS wd FROM toks
),
pairs AS (
  SELECT source, wd, CAST(COUNT(*) AS BIGINT) AS cnt FROM words GROUP BY 1, 2
),
hashed AS (
  SELECT source, cnt, ('0x' || substr(md5(wd), 1, 15))::BIGINT AS h FROM pairs
),
regs AS (
  SELECT source, h % {_HLL_M} AS idx,
         MAX(CASE WHEN (h >> {_HLL_P}) = 0 THEN {_HLL_RHO_MAX}
                  ELSE {_HLL_RHO_MAX} - length(bin(h >> {_HLL_P})) END) AS m_rho,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(cnt) AS BIGINT) AS n_inst
  FROM hashed GROUP BY 1, 2
),
agg AS (
  SELECT source,
         CAST(SUM(n_inst) AS BIGINT) AS n_instances,
         CAST(SUM(n_words) AS BIGINT) AS n_exact_distinct,
         CAST(COUNT(*) AS BIGINT) AS n_registers,
         CAST({_HLL_M} - COUNT(*) AS BIGINT) AS v_zero,
         CAST(SUM(1::BIGINT << ({_HLL_RHO_MAX} - m_rho))
              + ({_HLL_M} - COUNT(*)) * (1::BIGINT << {_HLL_RHO_MAX}) AS BIGINT)
           AS s_scaled
  FROM regs GROUP BY 1
)
SELECT source, n_instances, n_exact_distinct, n_registers, v_zero, s_scaled,
       round(CASE WHEN v_zero > 0
                   AND {_HLL_A!r} / CAST(s_scaled AS DOUBLE) <= {_HLL_SMALL!r}
                  THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / CAST(v_zero AS DOUBLE))
                  ELSE {_HLL_A!r} / CAST(s_scaled AS DOUBLE) END, 4) AS est_distinct
FROM agg
""",
    doc="HyperLogLog distinct 3-gram-shingle count per source "
    "(Flajolet et al. 2007, p=8 / 256 registers) with the exact "
    "distinct count audited in the same query. The register state is "
    "fixed-size and MAX-mergeable (partitions, shards, days), so at "
    "100 TB the per-source shingle cardinality needs one narrow map "
    "plus a 256-row fold instead of the corpus-wide distinct shuffle; "
    "unlike linear counting (cardinality_sketch), the state does not "
    "have to be pre-sized for the expected cardinality. The harmonic "
    "mean is folded as a scaled BIGINT (sum of powers of two, exact "
    "in 63 bits), so both engines agree bit-for-bit up to the single "
    "final division; the small-range branch is linear counting over "
    "the empty-register count, same as the standard estimator.",
    tags=("sketch", "curation", "agg"),
)
def hll_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        "source", F.split("text", " ").alias("ws")
    ).select("source", F.explode(F.expr(shingle_expr("ws", 3))).alias("wd"))
    return hll_estimate(words)


def _hll_hashed(words: DataFrame) -> DataFrame:
    """(source, wd) -> (source, cnt, idx, rho): aggregate (source,
    word) FIRST so md5 runs once per distinct word and the register
    fold sees pre-combined counts (same plan shape as
    cardinality_sketch: one corpus-width shuffle, map-side combine)."""
    pairs = words.groupBy("source", "wd").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    hashed = pairs.select(
        "source",
        "cnt",
        F.expr("CAST(conv(substr(md5(wd), 1, 15), 16, 10) AS BIGINT)").alias("h"),
    )
    rho = F.expr(
        f"CASE WHEN shiftright(h, {_HLL_P}) = 0 THEN {_HLL_RHO_MAX} "
        f"ELSE {_HLL_RHO_MAX} - length(bin(shiftright(h, {_HLL_P}))) END"
    )
    return hashed.withColumn("idx", F.expr(f"h % {_HLL_M}")).withColumn("rho", rho)


def hll_registers(words: DataFrame) -> DataFrame:
    """(source, wd) -> register maxima (source, idx, m_rho) — the
    MAX-mergeable partial the streaming twin persists."""
    return (
        _hll_hashed(words)
        .groupBy("source", "idx")
        .agg(F.max("rho").cast("long").alias("m_rho"))
    )


def _hll_est_col(v: str = "v_zero", s: str = "s_scaled") -> F.Column:
    """The estimate from (v_zero, s_scaled) columns: scaled harmonic
    mean, with the standard linear-counting small-range branch."""
    est_raw = F.lit(_HLL_A) / F.col(s).cast("double")
    est_small = F.lit(float(_HLL_M)) * F.log(
        F.lit(float(_HLL_M)) / F.col(v).cast("double")
    )
    return F.round(
        F.when(
            (F.col(v) > 0) & (est_raw <= F.lit(_HLL_SMALL)), est_small
        ).otherwise(est_raw),
        4,
    ).alias("est_distinct")


def _o_hll_est(v: str = "v_zero", s: str = "s_scaled") -> str:
    """DuckDB fragment computing ``_hll_est_col`` bit-for-bit (same
    double literals, same single division / ln)."""
    return (
        f"round(CASE WHEN {v} > 0 "
        f"AND {_HLL_A!r} / CAST({s} AS DOUBLE) <= {_HLL_SMALL!r} "
        f"THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / CAST({v} AS DOUBLE)) "
        f"ELSE {_HLL_A!r} / CAST({s} AS DOUBLE) END, 4)"
    )


_O_HLL_FOLD = (
    f"CAST({_HLL_M} - COUNT(*) AS BIGINT) AS v_zero, "
    f"CAST(SUM(1::BIGINT << ({_HLL_RHO_MAX} - m_rho)) "
    f"+ ({_HLL_M} - COUNT(*)) * (1::BIGINT << {_HLL_RHO_MAX}) AS BIGINT) AS s_scaled"
)


def _hll_fold_cols(n_regs: F.Column) -> list:
    return [
        n_regs.cast("long").alias("n_registers"),
        (F.lit(_HLL_M) - n_regs).cast("long").alias("v_zero"),
        (
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_RHO_MAX} - m_rho)"))
            + (F.lit(_HLL_M) - n_regs) * F.lit(1 << _HLL_RHO_MAX)
        )
        .cast("long")
        .alias("s_scaled"),
    ]


def hll_estimate_from_registers(regs: DataFrame) -> DataFrame:
    """(source, idx, m_rho) registers -> per-source estimate; what the
    streaming state readback uses (no exact audit available there)."""
    agg = regs.groupBy("source").agg(*_hll_fold_cols(F.count(F.lit(1))))
    return agg.select(
        "source", "n_registers", "v_zero", "s_scaled", _hll_est_col()
    )


def hll_estimate(words: DataFrame) -> DataFrame:
    """HLL register fold over a (source, wd) frame — the reusable core
    of ``hll_distinct``, with the exact distinct/instance audit carried
    through the register fold (unit tests drive the small-range branch
    with synthetic frames the documents table never produces)."""
    regs = (
        _hll_hashed(words)
        .groupBy("source", "idx")
        .agg(
            F.max("rho").alias("m_rho"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("cnt").cast("long").alias("n_inst"),
        )
    )
    agg = regs.groupBy("source").agg(
        F.sum("n_inst").cast("long").alias("n_instances"),
        F.sum("n_words").cast("long").alias("n_exact_distinct"),
        *_hll_fold_cols(F.count(F.lit(1))),
    )
    return agg.select(
        "source",
        "n_instances",
        "n_exact_distinct",
        "n_registers",
        "v_zero",
        "s_scaled",
        _hll_est_col(),
    )


# ---------------------------------------------------------------------------
# Count-Min point-frequency estimates for the corpus top-k words
# ---------------------------------------------------------------------------

_CMS_W = 16384  # counters per row
_CMS_D = 4  # rows (independent hashes)
_CMS_E = 2.718281828459045  # e, as the identical literal in both engines
_CMS_TOPK = 20


def _cms_idx_sql_duck(word_expr: str, r: int) -> str:
    return f"('0x' || substr(md5('{r}:' || {word_expr}), 1, 8))::BIGINT % {_CMS_W}"


def _cms_idx_spark(r: int) -> F.Column:
    return F.expr(
        f"CAST(conv(substr(md5(concat('{r}:', wd)), 1, 8), 16, 10) AS BIGINT) % {_CMS_W}"
    )


@register(
    "hll_union_distinct",
    f"""
WITH toks AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
s0 AS (SELECT source, unnest({o_shingle_expr('ws', 3)}) AS sh FROM toks),
s AS (SELECT source, sh FROM s0 GROUP BY 1, 2),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY 1),
rr AS (
  SELECT source, h % {_HLL_M} AS idx,
         CASE WHEN (h >> {_HLL_P}) = 0 THEN {_HLL_RHO_MAX}
              ELSE {_HLL_RHO_MAX} - length(bin(h >> {_HLL_P})) END AS rho
  FROM (SELECT source, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM s)
),
regs AS (SELECT source, idx, MAX(rho) AS m_rho FROM rr GROUP BY 1, 2),
se AS (
  SELECT source, {{est}} AS est
  FROM (SELECT source, {{fold}} FROM regs GROUP BY 1)
),
pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM sizes a JOIN sizes b ON a.source < b.source
),
u AS (
  SELECT p.sa, p.sb, r.idx, r.m_rho FROM pairs p JOIN regs r ON r.source = p.sa
  UNION ALL
  SELECT p.sa, p.sb, r.idx, r.m_rho FROM pairs p JOIN regs r ON r.source = p.sb
),
mreg AS (SELECT sa, sb, idx, MAX(m_rho) AS m_rho FROM u GROUP BY 1, 2, 3),
ue AS (
  SELECT sa, sb, {{est}} AS est_union
  FROM (SELECT sa, sb, {{fold}} FROM mreg GROUP BY 1, 2)
),
srcidx AS (
  SELECT source, row_number() OVER (ORDER BY source) - 1 AS si FROM sizes
),
sm AS (
  SELECT mask, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT sh, bit_or(1::BIGINT << si) AS mask
        FROM s JOIN srcidx USING (source) GROUP BY sh)
  GROUP BY 1
),
ov AS (
  SELECT p.sa, p.sb, CAST(SUM(sm.cnt) AS BIGINT) AS n_ov
  FROM pairs p
  JOIN srcidx ia ON ia.source = p.sa
  JOIN srcidx ib ON ib.source = p.sb
  JOIN sm ON ((sm.mask >> ia.si) % 2 = 1) AND ((sm.mask >> ib.si) % 2 = 1)
  GROUP BY 1, 2
)
SELECT p.sa AS src_a, p.sb AS src_b,
       ea.est AS est_a, eb.est AS est_b, ue.est_union,
       round(greatest(ea.est + eb.est - ue.est_union, 0.0), 4) AS est_overlap,
       za.n AS exact_a, zb.n AS exact_b,
       CAST(za.n + zb.n - COALESCE(ov.n_ov, 0) AS BIGINT) AS exact_union,
       CAST(COALESCE(ov.n_ov, 0) AS BIGINT) AS exact_overlap
FROM pairs p
JOIN se ea ON ea.source = p.sa
JOIN se eb ON eb.source = p.sb
JOIN ue ON ue.sa = p.sa AND ue.sb = p.sb
JOIN sizes za ON za.source = p.sa
JOIN sizes zb ON zb.source = p.sb
LEFT JOIN ov ON ov.sa = p.sa AND ov.sb = p.sb
""".replace("{est}", _o_hll_est()).replace("{fold}", _O_HLL_FOLD),
    doc="HLL set algebra over every source pair: union cardinality by "
    "MAX-merging the two 256-register tables (the whole point of "
    "register sketches — cross-shard set operations without touching "
    "data) and intersection by inclusion-exclusion on the estimates, "
    "with the EXACT union/overlap audited in the same query. All "
    "register math is the scaled-BIGINT fold of hll_distinct; the "
    "pair stage handles sources^2/2 * 2^p rows — sketch-sized, never "
    "corpus-sized. The exact audit avoids the shingle self-join "
    "(whose output is one row per shingle PER PAIR) by folding each "
    "shingle's source set into a 64-bit membership mask: overlap "
    "counts then come from a mask-histogram table of a few hundred "
    "rows, so even the audit stays corpus-linear.",
    tags=("sketch", "curation", "join"),
)
def hll_union_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        "source", F.split("text", " ").alias("ws")
    ).select("source", F.explode(F.expr(shingle_expr("ws", 3))).alias("sh"))
    # distinct (source, shingle): persisted — three consumers (sizes,
    # registers, the exact-overlap self-join); released by the caller's
    # released_caches discipline
    s = words.distinct().persist()
    sizes = s.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    rr = s.select(
        "source",
        F.expr("CAST(conv(substr(md5(sh), 1, 15), 16, 10) AS BIGINT)").alias("h"),
    ).select(
        "source",
        F.expr(f"h % {_HLL_M}").alias("idx"),
        F.expr(
            f"CASE WHEN shiftright(h, {_HLL_P}) = 0 THEN {_HLL_RHO_MAX} "
            f"ELSE {_HLL_RHO_MAX} - length(bin(shiftright(h, {_HLL_P}))) END"
        ).alias("rho"),
    )
    regs = rr.groupBy("source", "idx").agg(F.max("rho").alias("m_rho"))
    se = (
        regs.groupBy("source")
        .agg(*_hll_fold_cols(F.count(F.lit(1))))
        .select("source", _hll_est_col().alias("est"))
    )
    pairs = (
        sizes.select(F.col("source").alias("sa"))
        .join(sizes.select(F.col("source").alias("sb")), F.col("sa") < F.col("sb"))
    )
    u = pairs.join(regs, F.col("source") == F.col("sa")).select(
        "sa", "sb", "idx", "m_rho"
    ).unionByName(
        pairs.join(regs, F.col("source") == F.col("sb")).select(
            "sa", "sb", "idx", "m_rho"
        )
    )
    ue = (
        u.groupBy("sa", "sb", "idx")
        .agg(F.max("m_rho").alias("m_rho"))
        .groupBy("sa", "sb")
        .agg(*_hll_fold_cols(F.count(F.lit(1))))
        .select("sa", "sb", _hll_est_col().alias("est_union"))
    )
    # exact overlap WITHOUT the shingle self-join: fold each shingle's
    # source set into a 64-bit membership mask (bit_or), count shingles
    # per distinct mask (a few hundred rows), then answer every pair
    # from that tiny table — output never exceeds pairs x masks,
    # where the naive self-join emits one row per (shingle, pair)
    w_src = Window.orderBy("source")
    # the mask is a 64-bit BIGINT: shiftleft past bit 62 would silently
    # wrap and corrupt the audit, so the bit index is guarded in-plan
    # (lazy, no extra action; fires only if a 64th source ever appears)
    srcidx = sizes.select(
        "source", (F.row_number().over(w_src) - 1).alias("si")
    ).withColumn(
        "si",
        F.expr(
            "IF(si <= 62, si, CAST(raise_error('hll_union_distinct exact "
            "audit supports at most 63 sources (64-bit membership mask); "
            "use hll_union_lean beyond that') AS INT))"
        ),
    )
    sm = (
        s.join(F.broadcast(srcidx), "source")
        .groupBy("sh")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), si))").alias("mask"))
        .groupBy("mask")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    ia = srcidx.select(F.col("source").alias("sa"), F.col("si").alias("ia"))
    ib = srcidx.select(F.col("source").alias("sb"), F.col("si").alias("ib"))
    ov = (
        pairs.join(F.broadcast(ia), "sa")
        .join(F.broadcast(ib), "sb")
        .join(
            F.broadcast(sm),
            F.expr(
                "shiftright(mask, CAST(ia AS INT)) % 2 = 1 "
                "AND shiftright(mask, CAST(ib AS INT)) % 2 = 1"
            ),
        )
        .groupBy("sa", "sb")
        .agg(F.sum("cnt").cast("long").alias("n_ov"))
    )
    ea = se.select(F.col("source").alias("sa"), F.col("est").alias("est_a"))
    eb = se.select(F.col("source").alias("sb"), F.col("est").alias("est_b"))
    za = sizes.select(F.col("source").alias("sa"), F.col("n").alias("exact_a"))
    zb = sizes.select(F.col("source").alias("sb"), F.col("n").alias("exact_b"))
    out = (
        pairs.join(ea, "sa")
        .join(eb, "sb")
        .join(ue, ["sa", "sb"])
        .join(za, "sa")
        .join(zb, "sb")
        .join(ov, ["sa", "sb"], "left")
        .withColumn("n_ov", F.coalesce("n_ov", F.lit(0)))
    )
    return out.select(
        F.col("sa").alias("src_a"),
        F.col("sb").alias("src_b"),
        "est_a",
        "est_b",
        "est_union",
        F.round(
            F.greatest(
                F.col("est_a") + F.col("est_b") - F.col("est_union"), F.lit(0.0)
            ),
            4,
        ).alias("est_overlap"),
        "exact_a",
        "exact_b",
        (F.col("exact_a") + F.col("exact_b") - F.col("n_ov"))
        .cast("long")
        .alias("exact_union"),
        F.col("n_ov").cast("long").alias("exact_overlap"),
    )


@register(
    "hll_union_lean",
    f"""
WITH toks AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
s0 AS (SELECT source, unnest({o_shingle_expr('ws', 3)}) AS sh FROM toks),
rr AS (
  SELECT source, h % {_HLL_M} AS idx,
         CASE WHEN (h >> {_HLL_P}) = 0 THEN {_HLL_RHO_MAX}
              ELSE {_HLL_RHO_MAX} - length(bin(h >> {_HLL_P})) END AS rho
  FROM (SELECT source, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM s0)
),
regs AS (SELECT source, idx, MAX(rho) AS m_rho FROM rr GROUP BY 1, 2),
se AS (
  SELECT source, {{est}} AS est
  FROM (SELECT source, {{fold}} FROM regs GROUP BY 1)
),
srcs AS (SELECT DISTINCT source FROM regs),
pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM srcs a JOIN srcs b ON a.source < b.source
),
u AS (
  SELECT p.sa, p.sb, r.idx, r.m_rho FROM pairs p JOIN regs r ON r.source = p.sa
  UNION ALL
  SELECT p.sa, p.sb, r.idx, r.m_rho FROM pairs p JOIN regs r ON r.source = p.sb
),
mreg AS (SELECT sa, sb, idx, MAX(m_rho) AS m_rho FROM u GROUP BY 1, 2, 3),
ue AS (
  SELECT sa, sb, {{est}} AS est_union
  FROM (SELECT sa, sb, {{fold}} FROM mreg GROUP BY 1, 2)
)
SELECT p.sa AS src_a, p.sb AS src_b,
       ea.est AS est_a, eb.est AS est_b, ue.est_union,
       round(greatest(ea.est + eb.est - ue.est_union, 0.0), 4) AS est_overlap
FROM pairs p
JOIN se ea ON ea.source = p.sa
JOIN se eb ON eb.source = p.sb
JOIN ue ON ue.sa = p.sa AND ue.sb = p.sb
""".replace("{est}", _o_hll_est()).replace("{fold}", _O_HLL_FOLD),
    doc="Production HLL set algebra: the same per-pair union/overlap "
    "estimates as hll_union_distinct WITHOUT the exact audit — and "
    "therefore without the query's entire corpus-sized surface. The "
    "register MAX-fold is idempotent, so the input needs NO distinct() "
    "(duplicate shingles hash to the same (idx, rho) and the MAX "
    "absorbs them): the one corpus-width exchange is the map-side- "
    "combined register fold itself, the (source, shingle) distinct "
    "shuffle AND the membership-mask audit tables vanish, and "
    "everything after the fold is sketch-sized (sources x 256 "
    "registers, persisted once). Estimates are bit-identical to the "
    "audited twin's — asserted in tests/test_sketchq.py. The "
    "audit/production split mirrors bloom_shingle_prefilter(_lean).",
    tags=("sketch", "curation", "join"),
)
def hll_union_lean_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        "source", F.split("text", " ").alias("ws")
    ).select("source", F.explode(F.expr(shingle_expr("ws", 3))).alias("sh"))
    # NO .distinct(): MAX over duplicate (idx, rho) rows is the dedup
    rr = words.select(
        "source",
        F.expr("CAST(conv(substr(md5(sh), 1, 15), 16, 10) AS BIGINT)").alias("h"),
    ).select(
        "source",
        F.expr(f"h % {_HLL_M}").alias("idx"),
        F.expr(
            f"CASE WHEN shiftright(h, {_HLL_P}) = 0 THEN {_HLL_RHO_MAX} "
            f"ELSE {_HLL_RHO_MAX} - length(bin(shiftright(h, {_HLL_P}))) END"
        ).alias("rho"),
    )
    # sketch-sized (sources x <=256 rows); persisted because the pair
    # stage folds it three ways — released by the caller's
    # released_caches discipline (caching.py)
    regs = rr.groupBy("source", "idx").agg(F.max("rho").alias("m_rho")).persist()
    se = (
        regs.groupBy("source")
        .agg(*_hll_fold_cols(F.count(F.lit(1))))
        .select("source", _hll_est_col().alias("est"))
    )
    srcs = regs.select("source").distinct()
    pairs = srcs.select(F.col("source").alias("sa")).join(
        srcs.select(F.col("source").alias("sb")), F.col("sa") < F.col("sb")
    )
    u = pairs.join(regs, F.col("source") == F.col("sa")).select(
        "sa", "sb", "idx", "m_rho"
    ).unionByName(
        pairs.join(regs, F.col("source") == F.col("sb")).select(
            "sa", "sb", "idx", "m_rho"
        )
    )
    ue = (
        u.groupBy("sa", "sb", "idx")
        .agg(F.max("m_rho").alias("m_rho"))
        .groupBy("sa", "sb")
        .agg(*_hll_fold_cols(F.count(F.lit(1))))
        .select("sa", "sb", _hll_est_col().alias("est_union"))
    )
    ea = se.select(F.col("source").alias("sa"), F.col("est").alias("est_a"))
    eb = se.select(F.col("source").alias("sb"), F.col("est").alias("est_b"))
    return (
        pairs.join(ea, "sa")
        .join(eb, "sb")
        .join(ue, ["sa", "sb"])
        .select(
            F.col("sa").alias("src_a"),
            F.col("sb").alias("src_b"),
            "est_a",
            "est_b",
            "est_union",
            F.round(
                F.greatest(
                    F.col("est_a") + F.col("est_b") - F.col("est_union"),
                    F.lit(0.0),
                ),
                4,
            ).alias("est_overlap"),
        )
    )


def cms_registers(words: DataFrame) -> DataFrame:
    """(wd) frame -> the d x w counter matrix as (r, idx, reg) rows —
    the SUM-mergeable partial the streaming twin folds into state."""
    pairs = words.groupBy("wd").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    idx_arr = F.array(*[_cms_idx_spark(r) for r in range(_CMS_D)])
    return (
        pairs.select("cnt", F.posexplode(idx_arr).alias("r", "idx"))
        .groupBy("r", "idx")
        .agg(F.sum("cnt").cast("long").alias("reg"))
    )


def cms_point_estimates(terms: DataFrame, regs: DataFrame) -> DataFrame:
    """CMS point queries: (term) frame probed against (r, idx, reg)
    registers, estimate = MIN over the d rows. Output (term, est_cnt).

    The register table is SPARSE (never-incremented counters are
    implicit zeros), so the probe is a LEFT join from the d probe slots
    with ``coalesce(reg, 0)`` — true CMS semantics: a term whose slots
    were never touched answers est_cnt=0 instead of vanishing from the
    output or over-estimating via a MIN over fewer than d rows. The
    register table is sketch-sized (<= d*w = 65536 rows), so it
    broadcasts."""
    idx_arr = F.array(*[_cms_idx_spark(r) for r in range(_CMS_D)])
    probe_idx = terms.select(
        F.col("term").alias("wd")
    ).select("wd", F.posexplode(idx_arr).alias("r", "idx"))
    return (
        probe_idx.join(F.broadcast(regs), ["r", "idx"], "left")
        .withColumn("reg", F.coalesce("reg", F.lit(0)))
        .groupBy("wd")
        .agg(F.min("reg").cast("long").alias("est_cnt"))
        .select(F.col("wd").alias("term"), "est_cnt")
    )


@register(
    "count_min_probe",
    f"""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS wd FROM documents
),
pairs AS (
  SELECT wd, CAST(COUNT(*) AS BIGINT) AS cnt FROM words GROUP BY 1
),
n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM pairs),
rows_ AS (SELECT unnest([{", ".join(str(r) for r in range(_CMS_D))}]) AS r),
regs AS (
  SELECT rows_.r,
         CASE rows_.r {" ".join(f"WHEN {r} THEN {_cms_idx_sql_duck('wd', r)}" for r in range(_CMS_D))} END AS idx,
         CAST(SUM(cnt) AS BIGINT) AS reg
  FROM pairs CROSS JOIN rows_ GROUP BY 1, 2
),
probes AS (SELECT wd, cnt FROM pairs ORDER BY cnt DESC, wd LIMIT {_CMS_TOPK}),
probe_idx AS (
  SELECT p.wd, p.cnt, rows_.r,
         CASE rows_.r {" ".join(f"WHEN {r} THEN {_cms_idx_sql_duck('p.wd', r)}" for r in range(_CMS_D))} END AS idx
  FROM probes p CROSS JOIN rows_
),
est AS (
  SELECT pi.wd, pi.cnt, CAST(MIN(regs.reg) AS BIGINT) AS est_cnt
  FROM probe_idx pi JOIN regs ON regs.r = pi.r AND regs.idx = pi.idx
  GROUP BY 1, 2
)
SELECT est.wd AS term, est.cnt AS exact_cnt, est.est_cnt,
       CAST(est.est_cnt - est.cnt AS BIGINT) AS overcount,
       CAST(floor({_CMS_E!r} * CAST(n.n_total AS DOUBLE) / {float(_CMS_W)!r}) AS BIGINT)
         AS err_bound
FROM est CROSS JOIN n
""",
    doc="Count-Min sketch (Cormode & Muthukrishnan 2005, d=4 x "
    "w=16384) probed at the corpus top-20 words, with the exact "
    "counts and the e*N/w error bound in the same result so the "
    "sketch guarantee (exact <= est <= exact + bound) is externally "
    "hash-verified. The counter matrix is fixed-size and "
    "SUM-mergeable — at 100 TB, per-term frequency queries cost one "
    "narrow map plus a 65k-row fold, never a vocabulary-sized "
    "shuffle; the probe stage is a broadcast join against the tiny "
    "register table. CMS answers point queries for arbitrary "
    "terms.",
    tags=("sketch", "curation", "agg"),
)
def count_min_probe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("wd"))
    # one corpus-width shuffle; persisted because three consumers fold
    # it (registers, probes, total) — released by the caller's
    # released_caches discipline (caching.py)
    pairs = words.groupBy("wd").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    pairs = pairs.persist()
    idx_arr = F.array(*[_cms_idx_spark(r) for r in range(_CMS_D)])
    regs = (
        pairs.select("cnt", F.posexplode(idx_arr).alias("r", "idx"))
        .groupBy("r", "idx")
        .agg(F.sum("cnt").cast("long").alias("reg"))
    )
    probes = pairs.orderBy(F.desc("cnt"), "wd").limit(_CMS_TOPK)
    probe_idx = probes.select("wd", "cnt", F.posexplode(idx_arr).alias("r", "idx"))
    est = (
        regs.join(F.broadcast(probe_idx), ["r", "idx"])
        .groupBy("wd", "cnt")
        .agg(F.min("reg").cast("long").alias("est_cnt"))
    )
    n_total = pairs.agg(F.sum("cnt").cast("long").alias("n_total"))
    return est.crossJoin(F.broadcast(n_total)).select(
        F.col("wd").alias("term"),
        F.col("cnt").alias("exact_cnt"),
        "est_cnt",
        (F.col("est_cnt") - F.col("cnt")).cast("long").alias("overcount"),
        F.floor(
            F.lit(_CMS_E) * F.col("n_total").cast("double") / F.lit(float(_CMS_W))
        )
        .cast("long")
        .alias("err_bound"),
    )


# ---------------------------------------------------------------------------
# Histogram quantile sketch: the quantile member of the sketch family
# ---------------------------------------------------------------------------

_HQ_W = 64  # cents per bin
_HQ_B = 1024  # bins; covers values up to 655.35 CHF, outliers clamp
_HQ_QS = ((50, 2), (90, 10), (99, 100))  # (percentile, denominator of 1-q)


@register(
    "quantile_sketch_by_type",
    f"""
WITH v AS (
  SELECT event_type,
         greatest(least(CAST(round(value * 100) AS BIGINT), {_HQ_W * _HQ_B - 1}), 0) AS vc
  FROM events
),
hist AS (
  SELECT event_type, vc // {_HQ_W} AS bin, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM v GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bin, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM hist
),
ranked AS (
  SELECT event_type, vc,
         row_number() OVER (PARTITION BY event_type ORDER BY vc) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM v
),
{", ".join(
    f'''e{p} AS (
  SELECT event_type, MIN(bin * {_HQ_W} + {_HQ_W - 1}) AS est_p{p}_c
  FROM cum WHERE cum >= CAST(ceil(n * {p} / 100.0) AS BIGINT) GROUP BY 1
),
x{p} AS (
  SELECT event_type, CAST(MIN(vc) AS BIGINT) AS exact_p{p}_c
  FROM ranked WHERE rk = CAST(ceil(n * {p} / 100.0) AS BIGINT) GROUP BY 1
)''' for p, _ in _HQ_QS)}
SELECT n.event_type, CAST(n.n AS BIGINT) AS n,
       {", ".join(
           f"e{p}.est_p{p}_c, x{p}.exact_p{p}_c, "
           f"CAST(e{p}.est_p{p}_c - x{p}.exact_p{p}_c AS BIGINT) AS err_p{p}_c"
           for p, _ in _HQ_QS)},
       CAST({_HQ_W} AS BIGINT) AS bin_width_c
FROM (SELECT event_type, MAX(n) AS n FROM cum GROUP BY 1) n
{" ".join(
    f"JOIN e{p} ON e{p}.event_type = n.event_type "
    f"JOIN x{p} ON x{p}.event_type = n.event_type" for p, _ in _HQ_QS)}
""",
    doc="Histogram quantile sketch — the quantile member of the "
    "engine's sketch family (cardinality: HLL/linear counting, "
    "frequency: Count-Min, membership: bloom, quantiles: THIS): per "
    "event type a fixed 1024-bin integer-cents histogram whose "
    "counters are SUM-mergeable across "
    "partitions/shards/days, quantile estimate = upper bound of the "
    "first bin where the cumulative count reaches ceil(q*n). The "
    "estimate NEVER undershoots and overshoots by < bin width (64 "
    "cents) — both certified in the hashed output, which carries the "
    "exact rank statistic (the corpus-sort answer the sketch replaces "
    "at 100 TB) next to each estimate plus their difference. Unlike "
    "GK/t-digest the state is merge-ORDER-INDEPENDENT (integer SUMs), "
    "which is what makes it engine-portable AND replay-analyzable; "
    "the cumulative pass runs over <=1024 rows per type.",
    tags=("sketch", "agg", "window"),
)
def quantile_sketch_by_type_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # composed from the SHARED helpers (quantile_hist /
    # quantile_estimates_from_hist — the same folds the lean twin and
    # the streaming readback run), plus the exact-rank audit join; the
    # estimate expressions exist in exactly one place per engine
    ev = table(spark, sf_dir, "events")
    v = _clamped_values(ev).persist()
    out = quantile_estimates_from_hist(quantile_hist_from_values(v))

    w_all = Window.partitionBy("event_type")
    w_rk = Window.partitionBy("event_type").orderBy("vc")
    ranked = v.select(
        "event_type",
        "vc",
        F.row_number().over(w_rk).alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    for p, _ in _HQ_QS:
        k = F.expr(f"CAST(ceil(n * {p} / 100.0) AS BIGINT)")
        exact = (
            ranked.filter(F.col("rk") == k)
            .groupBy("event_type")
            .agg(F.min("vc").cast("long").alias(f"exact_p{p}_c"))
        )
        out = out.join(exact, "event_type")
    sel = ["event_type", "n"]
    for p, _ in _HQ_QS:
        sel += [
            f"est_p{p}_c",
            f"exact_p{p}_c",
            (F.col(f"est_p{p}_c") - F.col(f"exact_p{p}_c"))
            .cast("long")
            .alias(f"err_p{p}_c"),
        ]
    return out.select(*sel, "bin_width_c")


@register(
    "quantile_sketch_lean",
    f"""
WITH v AS (
  SELECT event_type,
         greatest(least(CAST(round(value * 100) AS BIGINT), {_HQ_W * _HQ_B - 1}), 0) AS vc
  FROM events
),
hist AS (
  SELECT event_type, vc // {_HQ_W} AS bin, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM v GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bin, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM hist
),
{", ".join(
    f'''e{p} AS (
  SELECT event_type, MIN(bin * {_HQ_W} + {_HQ_W - 1}) AS est_p{p}_c
  FROM cum WHERE cum >= CAST(ceil(n * {p} / 100.0) AS BIGINT) GROUP BY 1
)''' for p, _ in _HQ_QS)}
SELECT n.event_type, CAST(n.n AS BIGINT) AS n,
       {", ".join(f"e{p}.est_p{p}_c" for p, _ in _HQ_QS)},
       CAST({_HQ_W} AS BIGINT) AS bin_width_c
FROM (SELECT event_type, MAX(n) AS n FROM cum GROUP BY 1) n
{" ".join(f"JOIN e{p} ON e{p}.event_type = n.event_type" for p, _ in _HQ_QS)}
""",
    doc="Production half of quantile_sketch_by_type: histogram fold + "
    "cumulative pass + estimates ONLY — the per-type corpus sort that "
    "computes the audit's exact rank statistic is gone, so the one "
    "corpus-width stage left is the map-side-combined (type, bin) "
    "histogram fold (<= types x 1024 groups). Estimates are the same "
    "expressions as the audited twin's est_* columns (the audit/"
    "production split of bloom_shingle_prefilter_lean and "
    "hll_union_lean applied to quantiles).",
    tags=("sketch", "agg", "window"),
)
def quantile_sketch_lean_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hist = quantile_hist(ev)
    return quantile_estimates_from_hist(hist)


def _clamped_values(
    ev: DataFrame, type_col: str = "event_type", value_col: str = "value"
) -> DataFrame:
    """(event_type, vc): values as clamped integer cents — the shared
    input of the histogram fold AND the audited twin's exact-rank
    pass."""
    return ev.select(
        F.col(type_col).alias("event_type"),
        F.expr(
            f"greatest(least(CAST(round({value_col} * 100) AS BIGINT), "
            f"{_HQ_W * _HQ_B - 1}), 0)"
        ).alias("vc"),
    )


def quantile_hist_from_values(v: DataFrame) -> DataFrame:
    return v.groupBy(
        "event_type", F.expr(f"vc div {_HQ_W}").alias("bin")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))


def quantile_hist(
    ev: DataFrame, type_col: str = "event_type", value_col: str = "value"
) -> DataFrame:
    """The SUM-mergeable sketch state: (event_type, bin, cnt) — the
    partial the streaming twin folds into persisted state."""
    return quantile_hist_from_values(_clamped_values(ev, type_col, value_col))


def quantile_estimates_from_hist(hist: DataFrame) -> DataFrame:
    """(event_type, bin, cnt) -> per-type estimates — the readback
    shared by the lean query and the streaming state (the cumulative
    pass runs over <= 1024 rows per type). ONE aggregate over the
    windowed frame: each per-quantile estimate is a conditional MIN
    (smallest bin whose cumulative count reaches the rank), so no
    per-quantile join, no persist — nothing for a long-lived streaming
    caller to leak."""
    w_cum = Window.partitionBy("event_type").orderBy("bin")
    w_all = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "bin",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    ests = [
        F.min(
            F.when(
                F.col("cum") >= F.expr(f"CAST(ceil(n * {p} / 100.0) AS BIGINT)"),
                F.expr(f"bin * {_HQ_W} + {_HQ_W - 1}"),
            )
        ).alias(f"est_p{p}_c")
        for p, _ in _HQ_QS
    ]
    return cum.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"), *ests
    ).select(
        "event_type",
        "n",
        *[f"est_p{p}_c" for p, _ in _HQ_QS],
        F.lit(_HQ_W).cast("long").alias("bin_width_c"),
    )
