"""Similarity-search queries over ``embeddings`` (array<float>, dim 64)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatasmallprice_spark.caching import cut_lineage

from bigdatasmallprice_spark.operators.similarity import (
    ANN_PLANES,
    NEARDUP_BLOCK,
    NEARDUP_MAX_PLANES,
    NEARDUP_PLANES,
    PLANES,
    ann_lsh_topk,
    brute_force_topk,
    cosine,
    scaled_plane_count,
    with_lsh_bucket,
)
from bigdatasmallprice_spark.queries.core import table, table_par
from bigdatasmallprice_spark.registry import register

_O_DOT = (
    "list_sum(list_transform(range(1, 65), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_O_NORM = "sqrt(list_sum(list_transform(range(1, 65), i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"


def _o_cosine(a: str, b: str) -> str:
    dot = _O_DOT.format(a=a, b=b)
    na = _O_NORM.format(a=a)
    nb = _O_NORM.format(a=b)
    return f"CASE WHEN {na} * {nb} > 0 THEN {dot} / ({na} * {nb}) ELSE 0.0 END"


def _o_cosine_prenormed(a: str, b: str, na: str, nb: str) -> str:
    dot = _O_DOT.format(a=a, b=b)
    return f"CASE WHEN {na} * {nb} > 0 THEN {dot} / ({na} * {nb}) ELSE 0.0 END"


@register(
    "ann_cosine_topk",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
                  {_O_NORM.format(a='embedding')} AS nq
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS cand_id, embedding AS cv,
             {_O_NORM.format(a='embedding')} AS nc
      FROM embeddings),
scored AS (
  SELECT query_id, cand_id, round({_o_cosine_prenormed('qv', 'cv', 'nq', 'nc')}, 6) AS sim
  FROM q, c WHERE query_id != cand_id
),
ranked AS (
  SELECT query_id, cand_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
  FROM scored
)
SELECT query_id, cand_id, sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
""",
    doc="Exact brute-force cosine top-k (k=5) for a 10-query probe set — "
    "the ANN correctness baseline. Broadcast queries x corpus scan, "
    "in-order double fold, deterministic tie-break on cand_id.",
    tags=("similarity", "topk"),
)
def ann_cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb.filter(F.col("vec_id") < 10), emb, k=5)


def _o_plane_bucket(vec: str) -> str:
    terms = []
    for j, p in enumerate(PLANES):
        lits = ", ".join(f"CAST({v} AS DOUBLE)" for v in p)
        dot = f"list_sum(list_transform(range(1, 65), i -> CAST({vec}[i] AS DOUBLE) * [{lits}][i]))"
        terms.append(f"(CASE WHEN {dot} >= 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)")
    return " + ".join(terms)


@register(
    "ann_lsh_topk",
    f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv,
         {_O_NORM.format(a='embedding')} AS nq,
         {_o_plane_bucket('embedding')} AS bucket
  FROM embeddings WHERE vec_id < 20
),
c AS (
  SELECT vec_id AS cand_id, embedding AS cv,
         {_O_NORM.format(a='embedding')} AS nc,
         {_o_plane_bucket('embedding')} AS bucket
  FROM embeddings
),
scored AS (
  SELECT q.query_id, c.cand_id,
         round({_o_cosine_prenormed('q.qv', 'c.cv', 'q.nq', 'c.nc')}, 6) AS sim
  FROM q JOIN c ON q.bucket = c.bucket AND q.query_id != c.cand_id
),
ranked AS (
  SELECT query_id, cand_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
  FROM scored
)
SELECT query_id, cand_id, sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
""",
    doc="LSH-bucketed approximate top-k: 4 fixed random hyperplanes bucket "
    "the corpus; queries probe only their bucket — equi-join on the "
    "signature replaces the cross join (the 100 TB scale path).",
    tags=("similarity", "topk"),
)
def ann_lsh_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return ann_lsh_topk(emb.filter(F.col("vec_id") < 20), emb, k=3)


def _o_scaled_planes_case() -> str:
    """p = smallest plane count in [ANN_PLANES, NEARDUP_MAX_PLANES]
    with 2^p >= ceil(n/NEARDUP_BLOCK), as a pure integer CASE chain —
    bit-identical to scaled_plane_count (no float log2 at a block-count
    boundary)."""
    whens = "".join(
        f" WHEN blocks <= {1 << p} THEN {p}"
        for p in range(ANN_PLANES, NEARDUP_MAX_PLANES)
    )
    return (
        f"SELECT CASE{whens} ELSE {NEARDUP_MAX_PLANES} END AS p "
        f"FROM (SELECT (COUNT(*) + {NEARDUP_BLOCK - 1}) // {NEARDUP_BLOCK} "
        "AS blocks FROM embeddings)"
    )


def _o_masked_plane_bucket(vec: str, planes: list[list[float]] | None = None) -> str:
    """All NEARDUP_MAX_PLANES bit terms, each gated on j < np.p — the
    oracle's closed-form analog of taking the first p planes."""
    terms = []
    for j, p in enumerate(NEARDUP_PLANES if planes is None else planes):
        lits = ", ".join(f"CAST({v} AS DOUBLE)" for v in p)
        dot = f"list_sum(list_transform(range(1, 65), i -> CAST({vec}[i] AS DOUBLE) * [{lits}][i]))"
        terms.append(
            f"(CASE WHEN {j} < np.p AND {dot} >= 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        )
    return " + ".join(terms)


@register(
    "embedding_neardup",
    f"""
WITH np AS ({_o_scaled_planes_case()}),
e AS (
  SELECT vec_id, label, embedding,
         {_O_NORM.format(a='embedding')} AS nrm,
         {_o_masked_plane_bucket('embedding')} AS bucket
  FROM embeddings, np
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round({_o_cosine_prenormed('a.embedding', 'b.embedding', 'a.nrm', 'b.nrm')}, 6) AS sim
  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.35
""",
    doc="Embedding-cosine near-duplicate detection, LSH-bucket blocked "
    "(same-bucket pairs only, sim >= 0.35) — the semantic-dedup pass of "
    "a training-data pipeline. The PLANE COUNT SCALES WITH THE CORPUS "
    f"(smallest p with 2^p buckets >= n/{NEARDUP_BLOCK}, same integer "
    "chain in both engines): a fixed p makes the same-bucket pair "
    "stage ~N^2/2^p — measured 80.9x wall at 10x data before the fix, "
    "6.0s after — while scaled p holds the expected bucket at "
    f"~{NEARDUP_BLOCK} vectors so pair work stays linear. More planes "
    "trade recall (near-dups split across buckets) exactly like "
    "semantic_dedup's k — multi-band probing is the recall-recovery "
    "path at production scale.",
    tags=("similarity", "dedup"),
)
def embedding_neardup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.similarity import _norm, cosine_prenormed

    emb = table(spark, sf_dir, "embeddings")
    p = scaled_plane_count(emb.count())  # scalar extent read
    e = with_lsh_bucket(
        emb.select("vec_id", "embedding", _norm("embedding").alias("nrm")),
        "embedding",
        planes=NEARDUP_PLANES[:p],
    )
    a = e.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"),
        F.col("nrm").alias("na"), "bucket",
    )
    b = e.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"), "bucket",
    )
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", F.round(cosine_prenormed("va", "vb", "na", "nb"), 6))
    )
    return pairs.filter(F.col("sim") >= 0.35).select("id_a", "id_b", "sim")


@register(
    "embedding_norms",
    f"""
SELECT label,
       COUNT(*) AS n,
       round(MIN({_O_NORM.format(a='embedding')}), 6) AS min_norm,
       round(MAX({_O_NORM.format(a='embedding')}), 6) AS max_norm
FROM embeddings
GROUP BY 1
""",
    doc="Per-label embedding norm profile (vector-column hygiene check "
    "before similarity passes).",
    tags=("similarity", "agg"),
)
def embedding_norms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.similarity import _norm

    emb = table(spark, sf_dir, "embeddings")
    n = _norm("embedding")
    return emb.select("label", n.alias("nrm")).groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
    )


_O_CENT = f"SELECT vec_id AS cid, embedding AS cvec, {_O_NORM.format(a='embedding')} AS ncv FROM embeddings WHERE vec_id < 8"


def _o_ivf_cells(src: str, idc: str, vecc: str, nrmc: str, nprobe: int) -> str:
    return f"""
  SELECT {idc}, {vecc}, {nrmc}, cid AS cell FROM (
    SELECT t.*, c.cid,
           row_number() OVER (
             PARTITION BY t.{idc}
             ORDER BY round({_o_cosine_prenormed(f't.{vecc}', 'c.cvec', f't.{nrmc}', 'c.ncv')}, 6) DESC, c.cid
           ) AS crn
    FROM ({src}) t CROSS JOIN cent c
  ) WHERE crn <= {nprobe}
"""


@register(
    "ann_ivf_topk",
    f"""
WITH cent AS ({_O_CENT}),
q AS ({_o_ivf_cells(
    f"SELECT vec_id AS query_id, embedding AS qv, {_O_NORM.format(a='embedding')} AS nq FROM embeddings WHERE vec_id < 10",
    'query_id', 'qv', 'nq', 2)}),
c AS ({_o_ivf_cells(
    f"SELECT vec_id AS cand_id, embedding AS cv, {_O_NORM.format(a='embedding')} AS nc FROM embeddings",
    'cand_id', 'cv', 'nc', 1)}),
scored AS (
  SELECT q.query_id, c.cand_id,
         round({_o_cosine_prenormed('q.qv', 'c.cv', 'q.nq', 'c.nc')}, 6) AS sim
  FROM q JOIN c ON q.cell = c.cell AND q.query_id != c.cand_id
),
ranked AS (
  SELECT query_id, cand_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
  FROM scored
)
SELECT query_id, cand_id, sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
""",
    doc="IVF approximate top-k: corpus inverted-file-partitioned by "
    "nearest of 8 centroids (coarse cosine quantization, broadcast "
    "centroids, no shuffle to assign); queries probe their nprobe=2 "
    "nearest cells. The candidate join is an equi-join on cell id — at "
    "scale each executor scans one cell slice, never the corpus.",
    tags=("similarity", "topk"),
)
def ann_ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.similarity import _norm, ann_ivf_topk

    emb = table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cvec"),
        _norm("embedding").alias("ncv"),
    )
    return ann_ivf_topk(emb.filter(F.col("vec_id") < 10), emb, centroids, k=5, nprobe=2)


@register(
    "ann_cosine_topk_np",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
                  {_O_NORM.format(a='embedding')} AS nq
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS cand_id, embedding AS cv,
             {_O_NORM.format(a='embedding')} AS nc
      FROM embeddings),
scored AS (
  SELECT query_id, cand_id, round({_o_cosine_prenormed('qv', 'cv', 'nq', 'nc')}, 6) AS sim
  FROM q, c WHERE query_id != cand_id
),
ranked AS (
  SELECT query_id, cand_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
  FROM scored
)
SELECT query_id, cand_id, sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
""",
    doc="Vectorized exact cosine top-k: Arrow batch -> numpy/BLAS matmul "
    "via mapInPandas, per-batch argpartition top-k pruning, then a tiny "
    "global top-k window. Must return the identical result as "
    "ann_cosine_topk (same oracle) — the execution-strategy swap the "
    "engine makes when fold evaluation becomes compute-bound.",
    tags=("similarity", "topk", "udf"),
)
def ann_cosine_topk_np_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.similarity import brute_force_topk_vectorized

    emb = table(spark, sf_dir, "embeddings")
    return brute_force_topk_vectorized(emb.filter(F.col("vec_id") < 10), emb, k=5)


@register(
    "embedding_neardup_np",
    None,  # shares embedding_neardup's oracle — attached below
    doc="Vectorized near-dup pairs: LSH bucket -> applyInPandas per "
    "bucket -> numpy/BLAS Vn@Vn.T upper triangle >= threshold. The "
    "pairwise comparison never materializes as a join; buckets bound "
    "both parallelism and executor memory. Identical results to the "
    "fold-based embedding_neardup (same oracle, same corpus-scaled "
    "plane count).",
    tags=("similarity", "dedup", "udf"),
)
def embedding_neardup_np_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.similarity import bucketed_neardup_vectorized

    emb = table(spark, sf_dir, "embeddings")
    p = scaled_plane_count(emb.count())
    return bucketed_neardup_vectorized(
        emb, threshold=0.35, planes=NEARDUP_PLANES[:p]
    )


def _attach_neardup_np_oracle() -> None:
    from bigdatasmallprice_spark.registry import _REGISTRY

    _REGISTRY["embedding_neardup_np"].oracle = _REGISTRY["embedding_neardup"].oracle


_attach_neardup_np_oracle()


_ND_BANDS = 4


def _o_banded_neardup_sql() -> str:
    from bigdatasmallprice_spark.operators.similarity import band_planes

    band_rows = "\n  UNION ALL ".join(
        f"SELECT vec_id, embedding, nrm, CAST({b} AS BIGINT) AS band, "
        f"{_o_masked_plane_bucket('embedding', band_planes(b))} AS bucket "
        "FROM e, np"
        for b in range(_ND_BANDS)
    )
    return f"""
WITH np AS ({_o_scaled_planes_case()}),
e AS (
  SELECT vec_id, embedding, {_O_NORM.format(a='embedding')} AS nrm FROM embeddings
),
bb AS (
  {band_rows}
),
pairs AS (
  -- MAX over the per-band catches mirrors the engine's pair-key dedupe
  -- (groupBy(id_a, id_b).agg(max(sim)) — see banded_neardup_vectorized)
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         MAX(round({_o_cosine_prenormed('a.embedding', 'b.embedding', 'a.nrm', 'b.nrm')}, 6)) AS sim
  FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.35
"""


@register(
    "embedding_neardup_banded",
    _o_banded_neardup_sql(),
    doc=f"Multi-band near-dup pairs ({_ND_BANDS} independent hyperplane "
    "bands, each its own LCG seed, per-band plane count scaled with "
    "the corpus like embedding_neardup): a pair is a candidate when "
    "ANY band agrees and every candidate is exact-cosine verified, so "
    "recall rises 1-(1-s^p)^b over the single band's s^p with zero "
    "false positives (bands_for_recall sizes b for a target recall). "
    "Band 0's stream IS the single-band plane set, so this result is "
    "a superset of embedding_neardup's. Cost = bands x same-bucket "
    "block mass — still linear in the corpus; cross-band duplicate "
    "catches dedupe on the identical verified tuple.",
    tags=("similarity", "dedup", "udf"),
)
def embedding_neardup_banded_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.similarity import (
        band_planes,
        banded_neardup_vectorized,
    )

    emb = table(spark, sf_dir, "embeddings")
    p = scaled_plane_count(emb.count())
    return banded_neardup_vectorized(
        emb,
        threshold=0.35,
        bands=[band_planes(b)[:p] for b in range(_ND_BANDS)],
    )


@register(
    "label_centroids",
    """
SELECT label,
       CAST(i AS INT) AS dim,
       COUNT(*) AS n,
       CAST(SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
         / (1000000.0 * COUNT(*)) AS centroid
FROM embeddings, range(1, 65) AS t(i)
GROUP BY 1, 2
""",
    doc="Per-label centroid (mean pooling) of the 64-dim embeddings: "
    "posexplode to (label, dim) pairs, sum micro-scaled integer "
    "components (order-independent across partitions — float sums are "
    "not), divide back at the end. This is the k-means update step / "
    "class-prototype computation IVF index training builds on; the "
    "grouping distributes over labels x dims, so no single reducer "
    "sees a whole label's vectors.",
    tags=("similarity", "agg", "array"),
)
def label_centroids_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "label",
        (F.col("pos") + 1).cast("int").alias("dim"),
        F.round(F.col("x").cast("double") * 1_000_000).cast("long").alias("xi"),
    )
    return comp.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("xi").cast("double") / (F.lit(1_000_000.0) * F.count(F.lit(1)))).alias(
            "centroid"
        ),
    )


# ---------------------------------------------------------------------------
# int8-quantized ANN (memory-footprint scale path)
# ---------------------------------------------------------------------------

_O_QNORM = _O_NORM.format(a="embedding")
_O_QCODES = (
    f"CASE WHEN {_O_QNORM} > 0 THEN "
    f"list_transform(embedding, x -> CAST(round(127 * CAST(x AS DOUBLE) / {_O_QNORM}) AS BIGINT)) "
    f"ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END"
)
_O_IDOT = "CAST(list_sum(list_transform(range(1, 65), i -> qa[i] * ca[i])) AS BIGINT)"


@register(
    "ann_quantized_topk",
    f"""
WITH q AS (SELECT vec_id AS query_id, {_O_QCODES} AS qa
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS cand_id, {_O_QCODES} AS ca FROM embeddings),
scored AS (
  SELECT query_id, cand_id,
         round(CAST({_O_IDOT} AS DOUBLE) / 16129.0, 6) AS sim_q
  FROM q, c WHERE query_id != cand_id
),
ranked AS (
  SELECT query_id, cand_id, sim_q,
         row_number() OVER (PARTITION BY query_id ORDER BY sim_q DESC, cand_id) AS rank
  FROM scored
)
SELECT query_id, cand_id, sim_q, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
""",
    doc="int8-quantized cosine top-k: vectors L2-normalized then "
    "quantized to 127-level integer codes (4x smaller scan payload — "
    "at 100 TB the difference between RAM-resident and spilling ANN), "
    "pair similarity an EXACT integer dot / 127^2. Recall vs the exact "
    "float path is bounds-tested in tests/test_operators.py.",
    tags=("similarity", "topk", "quantize"),
)
def ann_quantized_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.similarity import quantized_topk

    emb = table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    return quantized_topk(probes, emb, k=5)


# ---------------------------------------------------------------------------
# k-means fit: trains the IVF coarse quantizer (integer-exact Lloyd's)
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_ITERS = 2
_KM_SCALE = 1_000_000


def _o_kmeans_sql(k: int, iters: int) -> str:
    """Unrolled Lloyd iterations as a DuckDB CTE chain — same integer
    arithmetic as operators/similarity.py::kmeans_fit_scaled."""
    dist = "list_sum(list_transform(range(1, 65), i -> (x.xu[i] - c.cu[i]) * (x.xu[i] - c.cu[i])))"
    parts = [
        f"WITH x AS (SELECT vec_id AS id, "
        f"list_transform(embedding, e -> CAST(round({_KM_SCALE} * CAST(e AS DOUBLE)) AS BIGINT)) AS xu "
        f"FROM embeddings),",
        f"c0 AS (SELECT id AS cid, xu AS cu FROM x WHERE id < {k})",
    ]
    for it in range(1, iters + 1):
        parts.append(
            f", a{it} AS (SELECT id, cid, xu FROM ("
            f"SELECT x.id, c.cid, x.xu, "
            f"row_number() OVER (PARTITION BY x.id ORDER BY {dist}, c.cid) AS rn "
            f"FROM x, c{it - 1} c) WHERE rn = 1)"
        )
        parts.append(
            f", u{it} AS (SELECT cid, dim, "
            f"CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cu_e, "
            f"CAST(COUNT(*) AS BIGINT) AS n_assigned "
            f"FROM (SELECT cid, unnest(xu) AS v, unnest(range(0, 64)) AS dim FROM a{it}) "
            f"GROUP BY 1, 2)"
        )
        parts.append(
            f", c{it} AS (SELECT cid, list(cu_e ORDER BY dim) AS cu FROM u{it} GROUP BY cid)"
        )
    parts.append(
        f" SELECT cid, CAST(dim AS BIGINT) AS dim, cu_e, n_assigned FROM u{iters}"
    )
    return "".join(parts)


@register(
    "kmeans_centroids",
    _o_kmeans_sql(_KM_K, _KM_ITERS),
    doc=f"IVF coarse-quantizer TRAINING: {_KM_ITERS} Lloyd rounds, k={_KM_K}, "
    "over integer micro-unit embeddings — every distance, vote and "
    "centroid update is exact int64 (floor(sum/count) for the mean), so "
    "the fit is reproducible across engines, partitionings and reduction "
    "orders. Spark plan per round: broadcast-assign (narrow map over the "
    "corpus, no shuffle) + one (cid,dim) groupBy of k*64 groups. At "
    "100 TB: fit on a hash sample, final assignment full-corpus. Oracle "
    "= the same iterations unrolled as a DuckDB CTE chain.",
    tags=("similarity", "iterative", "train"),
)
def kmeans_centroids_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.similarity import kmeans_fit_scaled

    emb = table(spark, sf_dir, "embeddings")
    return kmeans_fit_scaled(emb, k=_KM_K, iters=_KM_ITERS)


# ---------------------------------------------------------------------------
# ANN recall evaluation: the index-quality gate of a similarity pipeline
# ---------------------------------------------------------------------------


def _o_brute_pairs(probe_lim: int, k: int) -> str:
    """Brute-force (query_id, cand_id) top-k ground truth as a nestable
    sub-WITH — parameterized over probe set and k."""
    return f"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
                  {_O_NORM.format(a='embedding')} AS nq
           FROM embeddings WHERE vec_id < {probe_lim}),
c AS (SELECT vec_id AS cand_id, embedding AS cv,
             {_O_NORM.format(a='embedding')} AS nc
      FROM embeddings),
scored AS (
  SELECT query_id, cand_id, round({_o_cosine_prenormed('qv', 'cv', 'nq', 'nc')}, 6) AS sim
  FROM q, c WHERE query_id != cand_id
),
ranked AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
  FROM scored
)
SELECT query_id, cand_id FROM ranked WHERE rank <= {k}"""


def _recall_oracle() -> str:
    from bigdatasmallprice_spark.registry import _REGISTRY

    ivf = _REGISTRY["ann_ivf_topk"].oracle
    lsh = _REGISTRY["ann_lsh_topk"].oracle
    return f"""
WITH gt_ivf AS ({_o_brute_pairs(10, 5)}),
ap_ivf AS ({ivf}),
gt_lsh AS ({_o_brute_pairs(20, 3)}),
ap_lsh AS ({lsh}),
m AS (
  SELECT 'ivf' AS method,
         (SELECT COUNT(*) FROM gt_ivf) AS possible,
         (SELECT COUNT(*) FROM gt_ivf g JOIN ap_ivf a USING (query_id, cand_id)) AS hits
  UNION ALL
  SELECT 'lsh',
         (SELECT COUNT(*) FROM gt_lsh),
         (SELECT COUNT(*) FROM gt_lsh g JOIN ap_lsh a USING (query_id, cand_id))
)
SELECT method, CAST(possible AS BIGINT) AS possible, CAST(hits AS BIGINT) AS hits,
       round(CAST(hits AS DOUBLE) / possible, 6) AS recall
FROM m
"""


@register(
    "ann_recall_eval",
    _recall_oracle(),
    doc="ANN index-quality evaluation: recall@k of the IVF (nprobe=2, "
    "k=5) and hyperplane-LSH (k=3) paths against their exact brute-"
    "force ground truths, as one query — the acceptance gate you run "
    "after (re)building an index. Oracle composes the SAME registered "
    "IVF/LSH oracle SQL with parameterized brute-force CTEs, so the "
    "recall numbers are externally reproduced end-to-end. At 100 TB "
    "ground truth comes from a sampled probe set (as here: fixed small "
    "probe ids), never a full cross join.",
    tags=("similarity", "eval"),
)
def ann_recall_eval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.similarity import brute_force_topk

    emb = table(spark, sf_dir, "embeddings")

    def method_row(method: str, gt: DataFrame, ap: DataFrame) -> DataFrame:
        j = gt.join(
            ap.withColumn("__hit", F.lit(1)), ["query_id", "cand_id"], "left"
        )
        return j.agg(
            F.count(F.lit(1)).cast("long").alias("possible"),
            F.count("__hit").cast("long").alias("hits"),
        ).select(
            F.lit(method).alias("method"),
            "possible",
            "hits",
            F.round(F.col("hits").cast("double") / F.col("possible"), 6).alias(
                "recall"
            ),
        )

    gt_ivf = brute_force_topk(emb.filter(F.col("vec_id") < 10), emb, k=5).select(
        "query_id", "cand_id"
    )
    ap_ivf = ann_ivf_topk_q(spark, sf_dir).select("query_id", "cand_id")
    gt_lsh = brute_force_topk(emb.filter(F.col("vec_id") < 20), emb, k=3).select(
        "query_id", "cand_id"
    )
    ap_lsh = ann_lsh_topk_q(spark, sf_dir).select("query_id", "cand_id")
    return method_row("ivf", gt_ivf, ap_ivf).unionByName(
        method_row("lsh", gt_lsh, ap_lsh)
    )


# ---------------------------------------------------------------------------
# trained IVF: the full train -> index -> search loop in one verified query
# ---------------------------------------------------------------------------


@register(
    "ann_ivf_trained",
    f"""
WITH km AS ({_o_kmeans_sql(_KM_K, _KM_ITERS)}),
cent_raw AS (
  SELECT cid, list(CAST(cu_e AS DOUBLE) / 1000000.0 ORDER BY dim) AS cvec
  FROM km GROUP BY cid
),
cent AS (SELECT cid, cvec, {_O_NORM.format(a='cvec')} AS ncv FROM cent_raw),
q AS ({_o_ivf_cells(
    f"SELECT vec_id AS query_id, embedding AS qv, {_O_NORM.format(a='embedding')} AS nq FROM embeddings WHERE vec_id < 10",
    'query_id', 'qv', 'nq', 2)}),
c AS ({_o_ivf_cells(
    f"SELECT vec_id AS cand_id, embedding AS cv, {_O_NORM.format(a='embedding')} AS nc FROM embeddings",
    'cand_id', 'cv', 'nc', 1)}),
scored AS (
  SELECT q.query_id, c.cand_id,
         round({_o_cosine_prenormed('q.qv', 'c.cv', 'q.nq', 'c.nc')}, 6) AS sim
  FROM q JOIN c ON q.cell = c.cell AND q.query_id != c.cand_id
),
ranked AS (
  SELECT query_id, cand_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
  FROM scored
)
SELECT query_id, cand_id, sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
""",
    doc="The COMPLETE similarity loop, verified end-to-end: k-means "
    "trains the coarse quantizer (integer-exact Lloyd's), the trained "
    "centroids (exact ints / 1e6 -> doubles) partition the corpus into "
    "IVF cells, and queries probe their nprobe=2 cells. The oracle "
    "chains the unrolled k-means CTEs into the IVF SQL, so training "
    "AND search reproduce externally as one statement. Same 100 TB "
    "shape as ann_ivf_topk; training adds one broadcast-assign + "
    "k*64-group update per round.",
    tags=("similarity", "topk", "train"),
)
def ann_ivf_trained_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.similarity import (
        ann_ivf_topk,
        kmeans_fit_scaled,
    )

    emb = table(spark, sf_dir, "embeddings")
    km = kmeans_fit_scaled(emb, k=_KM_K, iters=_KM_ITERS)
    cent = (
        km.groupBy("cid")
        .agg(
            F.expr(
                f"transform(sort_array(collect_list(struct(dim, cu_e))), "
                f"s -> CAST(s.cu_e AS DOUBLE) / {float(_KM_SCALE)})"
            ).alias("cvec")
        )
        .withColumn(
            "ncv",
            F.expr(
                "sqrt(aggregate(cvec, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x))"
            ),
        )
    )
    return ann_ivf_topk(emb.filter(F.col("vec_id") < 10), emb, cent, k=5, nprobe=2)


# ---------------------------------------------------------------------------
# embedding covariance: PCA/whitening prep from exact integer moments
# ---------------------------------------------------------------------------

_COV_DIM = 64


@register(
    "embedding_covariance",
    f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
  FROM embeddings
),
x AS (
  SELECT vec_id, i, v[i + 1] AS xi
  FROM v, (SELECT unnest(range(0, {_COV_DIM})) AS i)
),
lin AS (
  SELECT i, CAST(SUM(xi) AS BIGINT) AS sx, COUNT(*) AS n FROM x GROUP BY 1
),
p AS (
  SELECT a.i AS i, b.i AS j, CAST(SUM(a.xi * b.xi) AS BIGINT) AS sxy
  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY 1, 2
)
SELECT p.i, p.j, CAST(la.n AS BIGINT) AS n, p.sxy,
       ((CAST(p.sxy AS DOUBLE) / la.n) / 1000000000000.0)
       - ((CAST(la.sx AS DOUBLE) / la.n) / 1000000.0)
         * ((CAST(lb.sx AS DOUBLE) / lb.n) / 1000000.0) AS cov
FROM p JOIN lin la ON p.i = la.i JOIN lin lb ON p.j = lb.i
""",
    doc="Embedding covariance matrix (PCA / whitening prep): upper "
    "triangle of cov(X) from EXACT int64 moments — micro-unit Gram "
    "matrix + linear sums — computed by Arrow-batched BLAS "
    "(operators/similarity.py::covariance_moments_vectorized: V.T @ V "
    "per batch, a dim^2-key shuffle of partials). The oracle replays "
    "the same moments as a per-element unnest + self-join; integer "
    "sums make the two bit-identical, and the final cov division is "
    "one identical IEEE expression per row. Eigendecomposition of the "
    "64x64 result is driver-side (it is a 32 KB matrix).",
    tags=("similarity", "train", "agg"),
)
def embedding_covariance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.similarity import (
        covariance_moments_vectorized,
    )

    emb = table(spark, sf_dir, "embeddings")
    m = covariance_moments_vectorized(emb).persist()
    lin = m.filter((F.col("j") == -1) & (F.col("i") >= 0)).select(
        F.col("i").alias("li"), F.col("val").alias("sx")
    )
    cnt = m.filter((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("val").alias("n")
    )
    pairs = m.filter(F.col("j") >= 0).select("i", "j", F.col("val").alias("sxy"))
    la = lin.withColumnRenamed("li", "i").withColumnRenamed("sx", "sx_i")
    lb = lin.withColumnRenamed("li", "j").withColumnRenamed("sx", "sx_j")
    cov = (
        (F.col("sxy").cast("double") / F.col("n")) / 1e12
        - ((F.col("sx_i").cast("double") / F.col("n")) / 1e6)
        * ((F.col("sx_j").cast("double") / F.col("n")) / 1e6)
    )
    return (
        pairs.join(F.broadcast(la), "i")
        .join(F.broadcast(lb), "j")
        .crossJoin(F.broadcast(cnt))
        .select("i", "j", "n", "sxy", cov.alias("cov"))
    )


# ---------------------------------------------------------------------------
# hybrid retrieval: reciprocal-rank fusion of text and embedding rankers
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_NP = 10  # probe docs
_RRF_PRE = 20  # per-ranker candidate depth
_RRF_OUT = 10  # fused top-k
_RRF_MAXDF = 60


@register(
    "hybrid_search_rrf",
    f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok WHERE term <> '' GROUP BY 1, 2
),
keep AS (SELECT term FROM tf GROUP BY 1 HAVING COUNT(*) <= {_RRF_MAXDF}),
tfk AS (SELECT tf.* FROM tf JOIN keep USING (term)),
norms AS (SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS n2 FROM tfk GROUP BY 1),
tdots AS (
  SELECT a.doc_id AS query_id, b.doc_id AS cand_id,
         CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
  FROM tfk a JOIN tfk b ON a.term = b.term
  WHERE a.doc_id < {_RRF_NP} AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
),
trank AS (
  SELECT query_id, cand_id,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY round(CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * nb.n2), 6) DESC,
                    cand_id
         ) AS r_text
  FROM tdots JOIN norms na ON query_id = na.doc_id JOIN norms nb ON cand_id = nb.doc_id
),
ttop AS (SELECT * FROM trank WHERE r_text <= {_RRF_PRE}),
q AS (SELECT vec_id AS query_id, embedding AS qv,
             {_O_NORM.format(a='embedding')} AS nq
      FROM embeddings WHERE vec_id < {_RRF_NP}),
c AS (SELECT vec_id AS cand_id, embedding AS cv,
             {_O_NORM.format(a='embedding')} AS nc
      FROM embeddings),
escored AS (
  SELECT query_id, cand_id,
         round({_o_cosine_prenormed('qv', 'cv', 'nq', 'nc')}, 6) AS sim
  FROM q, c WHERE query_id != cand_id
),
erank AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS r_emb
  FROM escored
),
etop AS (SELECT * FROM erank WHERE r_emb <= {_RRF_PRE}),
fused AS (
  SELECT COALESCE(t.query_id, e.query_id) AS query_id,
         COALESCE(t.cand_id, e.cand_id) AS cand_id,
         t.r_text, e.r_emb,
         COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + t.r_text), 0.0)
           + COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + e.r_emb), 0.0) AS rrf
  FROM ttop t FULL OUTER JOIN etop e
    ON t.query_id = e.query_id AND t.cand_id = e.cand_id
),
final AS (
  SELECT query_id, cand_id,
         CAST(r_text AS BIGINT) AS r_text, CAST(r_emb AS BIGINT) AS r_emb,
         round(rrf, 6) AS rrf,
         row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, cand_id) AS rank
  FROM fused
)
SELECT query_id, cand_id, r_text, r_emb, rrf, CAST(rank AS BIGINT) AS rank
FROM final WHERE rank <= {_RRF_OUT}
""",
    doc="Hybrid retrieval: reciprocal-rank fusion (RRF, k=60) of the "
    "sparse ranker (bag-of-words cosine over the df-capped inverted "
    "index) and the dense ranker (embedding cosine) for 10 probe docs "
    "— the standard two-tower search composition, entirely as "
    "DataFrame ops. Each ranker contributes its top-20 with a total "
    "(rounded-score DESC, cand) order; fusion is a full outer join on "
    "(query, cand) with 1/(60+rank) contributions (per-row IEEE, "
    "identical in both engines) and a deterministic final tie-break. "
    "At 100 TB each ranker already has its scale path (inverted-index "
    "equi-join; LSH/IVF ANN) and the fusion input is only "
    "queries x 2 x 20 rows — fusion cost never grows with the corpus.",
    tags=("similarity", "text", "fusion", "topk"),
)
def hybrid_search_rrf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from bigdatasmallprice_spark.operators.similarity import brute_force_topk

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")

    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    keep = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _RRF_MAXDF)
        .select("term")
    )
    tfk = tf.join(keep, "term").persist()
    norms = tfk.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("long").alias("n2")
    )
    a = tfk.filter(F.col("doc_id") < _RRF_NP).alias("a")
    b = tfk.alias("b")
    tdots = (
        a.join(b, "term")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("query_id"), F.col("b.doc_id").alias("cand_id"))
        .agg(F.sum(F.col("a.tf") * F.col("b.tf")).cast("long").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("query_id"), F.col("n2").alias("n2a"))
    nb = norms.select(F.col("doc_id").alias("cand_id"), F.col("n2").alias("n2b"))
    tcos = F.round(
        F.col("dot").cast("double")
        / F.sqrt(F.col("n2a").cast("double") * F.col("n2b")),
        6,
    )
    wt = Window.partitionBy("query_id").orderBy(tcos.desc(), F.col("cand_id"))
    ttop = (
        tdots.join(na, "query_id")
        .join(nb, "cand_id")
        .withColumn("r_text", F.row_number().over(wt))
        .filter(F.col("r_text") <= _RRF_PRE)
        .select("query_id", "cand_id", "r_text")
    )

    etop = (
        brute_force_topk(emb.filter(F.col("vec_id") < _RRF_NP), emb, k=_RRF_PRE)
        .select("query_id", "cand_id", F.col("rank").alias("r_emb"))
    )

    fused = ttop.join(etop, ["query_id", "cand_id"], "full_outer").select(
        "query_id",
        "cand_id",
        "r_text",
        "r_emb",
        (
            F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("r_text")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("r_emb")), F.lit(0.0))
        ).alias("rrf_raw"),
    )
    wf = Window.partitionBy("query_id").orderBy(F.col("rrf_raw").desc(), F.col("cand_id"))
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= _RRF_OUT)
        .select(
            "query_id",
            "cand_id",
            F.col("r_text").cast("long").alias("r_text"),
            F.col("r_emb").cast("long").alias("r_emb"),
            F.round("rrf_raw", 6).alias("rrf"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


_LP_NP = 20
_LP_K = 10


@register(
    "ann_label_precision",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel,
                  {_O_NORM.format(a='embedding')} AS nq
           FROM embeddings WHERE vec_id < {_LP_NP}),
c AS (SELECT vec_id AS cand_id, embedding AS cv, label AS clabel,
             {_O_NORM.format(a='embedding')} AS nc
      FROM embeddings),
scored AS (
  SELECT query_id, qlabel, cand_id, clabel,
         round({_o_cosine_prenormed('qv', 'cv', 'nq', 'nc')}, 6) AS sim
  FROM q, c WHERE query_id != cand_id
),
ranked AS (
  SELECT query_id, qlabel, clabel,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
  FROM scored
)
SELECT query_id,
       CAST(qlabel AS BIGINT) AS label,
       CAST(SUM(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       round(CAST(SUM(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END) AS DOUBLE) / {_LP_K}, 6) AS precision_at_k
FROM ranked WHERE rank <= {_LP_K}
GROUP BY 1, 2
""",
    doc=f"Search-quality evaluation: label-based precision@{_LP_K} of "
    "the dense ranker — for each probe, the fraction of its top-k "
    "nearest embeddings sharing the probe's class label (the standard "
    "proxy-relevance metric when no click/judgment data exists). "
    "Exact-ranked with the deterministic tie-break, integer hit "
    "counts, one final per-row division. The same harness evaluates "
    "any ranker that emits (query, cand, rank) — plug in the IVF/LSH/ "
    "hybrid paths for a quality-vs-cost frontier at scale.",
    tags=("similarity", "eval"),
)
def ann_label_precision_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.similarity import brute_force_topk

    emb = table(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", F.col("label").cast("long").alias("label"))
    top = brute_force_topk(emb.filter(F.col("vec_id") < _LP_NP), emb, k=_LP_K)
    ql = labels.select(F.col("vec_id").alias("query_id"), F.col("label"))
    cl = labels.select(
        F.col("vec_id").alias("cand_id"), F.col("label").alias("clabel")
    )
    hit = F.when(F.col("clabel") == F.col("label"), 1).otherwise(0)
    return (
        top.join(ql, "query_id")
        .join(cl, "cand_id")
        .groupBy("query_id", "label")
        .agg(F.sum(hit).cast("long").alias("hits"))
        .select(
            "query_id",
            "label",
            "hits",
            F.round(F.col("hits").cast("double") / _LP_K, 6).alias("precision_at_k"),
        )
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup) + incremental IVF index maintenance
# ---------------------------------------------------------------------------

_SD_TAU = 0.35  # same near-dup cosine bar as embedding_neardup
# SemDeDup's pair stage is quadratic in CLUSTER size (~N²/k pairs), so k
# must grow with the corpus: k = max(8, n // TARGET) keeps the expected
# cluster at ~TARGET vectors and the pair stage at ~N·TARGET/2 — linear
# in N (SemDeDup itself runs ~100k clusters at web scale). Both engines
# derive k from the same COUNT, so the fit replays exactly; at sf0.01
# (500 vecs) this resolves to the historical k=8.
_SD_TARGET_CLUSTER = 64
_O_SD_K = f"(SELECT GREATEST(8, COUNT(*) // {_SD_TARGET_CLUSTER}) FROM x)"


def _o_km_ctes(
    k: int | str,
    iters: int,
    where: str = "TRUE",
    with_final_update: bool = False,
    x_select: str | None = None,
    dim: int = 64,
    lead: str = "WITH ",
    seed_by_rank: bool = False,
) -> str:
    """The unrolled exact-int Lloyd chain as reusable CTE text: ends
    after a{iters} (the final assignment), optionally also defining
    u{iters}/c{iters} (the post-assignment centroid update). Same
    arithmetic as _o_kmeans_sql, parameterized over the source slice.
    ``k`` may be an int literal or a SQL scalar expression (e.g. a
    corpus-size-derived subquery) — it only enters through the seed
    predicate, so the chain itself is k-agnostic. ``x_select``/``dim``/
    ``lead`` let the chain run over a NON-default vector source (e.g.
    the 8-dim pooled document vectors composed after the word2vec
    chain, where ``lead=","`` continues an open WITH block); defaults
    reproduce the historical 64-dim embeddings-table chain. ``x`` and the
    final assignment, which the steps or the callers read more than once,
    are MATERIALIZED: DuckDB 1.0 inlines a CTE at each reference."""
    dist = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        "i -> (x.xu[i] - c.cu[i]) * (x.xu[i] - c.cu[i])))"
    )
    if x_select is None:
        x_select = (
            "SELECT vec_id AS id, "
            f"list_transform(embedding, e -> CAST(round({_KM_SCALE} * CAST(e AS DOUBLE)) AS BIGINT)) AS xu "
            f"FROM embeddings WHERE {where}"
        )
    if seed_by_rank:
        # the k SMALLEST ids by rank — REQUIRED when the source's ids
        # are not contiguous from 0 (e.g. funnel survivors), where
        # `id < k` would seed fewer than k centroids; _lloyd's cid is
        # the rank among the sorted seeds, mirrored exactly here
        c0 = (
            "c0 AS (SELECT CAST(rn - 1 AS BIGINT) AS cid, xu AS cu FROM ("
            "SELECT id, xu, row_number() OVER (ORDER BY id) AS rn FROM x) "
            f"WHERE rn <= {k})"
        )
    else:
        c0 = f"c0 AS (SELECT id AS cid, xu AS cu FROM x WHERE id < {k})"
    parts = [f"{lead}x AS MATERIALIZED ({x_select}),", c0]
    for it in range(1, iters + 1):
        final = " MATERIALIZED" if it == iters else ""
        parts.append(
            f", a{it} AS{final} (SELECT id, cid, xu FROM ("
            f"SELECT x.id, c.cid, x.xu, "
            f"row_number() OVER (PARTITION BY x.id ORDER BY {dist}, c.cid) AS rn "
            f"FROM x, c{it - 1} c) WHERE rn = 1)"
        )
        if it < iters or with_final_update:
            parts.append(
                f", u{it} AS (SELECT cid, dim, "
                f"CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cu_e "
                f"FROM (SELECT cid, unnest(xu) AS v, unnest(range(0, {dim})) AS dim FROM a{it}) "
                f"GROUP BY 1, 2)"
            )
            parts.append(
                f", c{it} AS (SELECT cid, list(cu_e ORDER BY dim) AS cu FROM u{it} GROUP BY cid)"
            )
    return "".join(parts)


_O_IDOT_XU = "list_sum(list_transform(range(1, 65), i -> {a}.xu[i] * {b}.xu[i]))"


@register(
    "semantic_dedup",
    f"""
{_o_km_ctes(_O_SD_K, _KM_ITERS)}
, p AS (
  SELECT a.cid, b.id AS rid
  FROM a{_KM_ITERS} a JOIN a{_KM_ITERS} b ON a.cid = b.cid AND a.id < b.id
  WHERE round(CAST({_O_IDOT_XU.format(a='a', b='b')} AS DOUBLE)
              / (sqrt(CAST({_O_IDOT_XU.format(a='a', b='a')} AS DOUBLE))
                 * sqrt(CAST({_O_IDOT_XU.format(a='b', b='b')} AS DOUBLE))), 6) >= {_SD_TAU}
)
, rem AS (SELECT cid, COUNT(DISTINCT rid) AS n_removed FROM p GROUP BY 1)
, sz AS (SELECT cid, COUNT(*) AS n_vecs FROM a{_KM_ITERS} GROUP BY 1)
SELECT sz.cid, CAST(sz.n_vecs AS BIGINT) AS n_vecs,
       CAST(COALESCE(rem.n_removed, 0) AS BIGINT) AS n_removed,
       CAST(sz.n_vecs - COALESCE(rem.n_removed, 0) AS BIGINT) AS n_kept
FROM sz LEFT JOIN rem ON sz.cid = rem.cid
""",
    doc="SemDeDup (Abbas et al. 2023): k-means clusters the embedding "
    "space, then near-duplicates are pruned WITHIN clusters only — "
    "keep the smallest id of every cosine>=tau ball. Clustering bounds "
    "the candidate pairs (sum of per-cluster squares, an equi-join on "
    "cid) instead of the corpus square; at 100 TB the fit runs on a "
    "hash sample and pruning shuffles each cluster to one partition "
    "block. All distances and votes are exact int64 (micro-unit "
    "vectors), so the oracle replays the identical chain. k SCALES "
    f"WITH THE CORPUS: k = max(8, n // {_SD_TARGET_CLUSTER}) holds the "
    "expected cluster at a constant size, so the pair stage stays "
    "linear in n (r3's pinned k=8 measured 10.2x wall at 10x data — "
    "the N^2/k prediction; deriving k from the same COUNT in both "
    "engines keeps the oracle a closed CTE chain).",
    tags=("similarity", "dedup", "train"),
)
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.similarity import (
        kmeans_assignments,
        semantic_dedup_summary,
    )

    emb = table(spark, sf_dir, "embeddings")
    # scalar count read: the same corpus-size-derived k as the oracle's
    # seed-predicate subquery
    k = max(8, emb.count() // _SD_TARGET_CLUSTER)
    assigned = kmeans_assignments(emb, k=k, iters=_KM_ITERS)
    return semantic_dedup_summary(assigned, tau=_SD_TAU)


_UPS_OLD = "vec_id * 5 < (SELECT MAX(vec_id) * 4 FROM embeddings)"


@register(
    "ann_index_upsert",
    f"""
{_o_km_ctes(_KM_K, _KM_ITERS, where=_UPS_OLD, with_final_update=True)}
, xb AS (SELECT vec_id AS id,
         list_transform(embedding, e -> CAST(round({_KM_SCALE} * CAST(e AS DOUBLE)) AS BIGINT)) AS xu
         FROM embeddings WHERE NOT ({_UPS_OLD}))
, ao AS (SELECT id, cid FROM (
    SELECT x.id, c.cid,
           row_number() OVER (PARTITION BY x.id ORDER BY
             list_sum(list_transform(range(1, 65), i -> (x.xu[i] - c.cu[i]) * (x.xu[i] - c.cu[i]))), c.cid) AS rn
    FROM x, c{_KM_ITERS} c) WHERE rn = 1)
, ab AS (SELECT id, cid FROM (
    SELECT x.id, c.cid,
           row_number() OVER (PARTITION BY x.id ORDER BY
             list_sum(list_transform(range(1, 65), i -> (x.xu[i] - c.cu[i]) * (x.xu[i] - c.cu[i]))), c.cid) AS rn
    FROM xb x, c{_KM_ITERS} c) WHERE rn = 1)
, no_ AS (SELECT cid, COUNT(*) AS n_old FROM ao GROUP BY 1)
, nb AS (SELECT cid, COUNT(*) AS n_new, MIN(id) AS min_new_id, MAX(id) AS max_new_id
         FROM ab GROUP BY 1)
SELECT c.cid,
       CAST(COALESCE(no_.n_old, 0) AS BIGINT) AS n_old,
       CAST(COALESCE(nb.n_new, 0) AS BIGINT) AS n_new,
       CAST(COALESCE(no_.n_old, 0) + COALESCE(nb.n_new, 0) AS BIGINT) AS n_total,
       CAST(COALESCE(nb.min_new_id, -1) AS BIGINT) AS min_new_id,
       CAST(COALESCE(nb.max_new_id, -1) AS BIGINT) AS max_new_id
FROM (SELECT DISTINCT cid FROM c{_KM_ITERS}) c
LEFT JOIN no_ ON c.cid = no_.cid LEFT JOIN nb ON c.cid = nb.cid
""",
    doc="Incremental IVF index maintenance: the coarse quantizer stays "
    "FROZEN (trained on the existing 80% of the corpus by id), and a "
    "new-arrivals batch is upserted by assigning each vector to its "
    "nearest trained centroid — no retrain, no corpus re-scan. Output "
    "is the per-cell index manifest (old size, added size, new extent). "
    "At 100 TB the old counts come from the stored manifest and only "
    "the batch (a narrow broadcast-assign map, zero shuffle before the "
    "k-group count) touches compute — the upsert cost scales with the "
    "batch, exactly like dedup_incremental's design.",
    tags=("similarity", "incremental", "train"),
)
def ann_index_upsert_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.similarity import (
        assign_cells,
        centroid_arrays,
        kmeans_fit_scaled,
        with_scaled_units,
    )

    emb = table(spark, sf_dir, "embeddings")
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]  # scalar extent read
    old_pred = F.col("vec_id") * 5 < F.lit(int(max_id)) * 4
    old = emb.filter(old_pred)
    batch = emb.filter(~old_pred)
    cent = centroid_arrays(kmeans_fit_scaled(old, k=_KM_K, iters=_KM_ITERS))
    ao = assign_cells(with_scaled_units(old), cent)
    ab = assign_cells(with_scaled_units(batch), cent)
    n_old = ao.groupBy("cid").agg(F.count(F.lit(1)).cast("long").alias("n_old"))
    n_new = ab.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_new"),
        F.min("id").cast("long").alias("min_new_id"),
        F.max("id").cast("long").alias("max_new_id"),
    )
    cells = cent.select("cid").distinct()
    z = F.lit(0).cast("long")
    return (
        cells.join(n_old, "cid", "left")
        .join(n_new, "cid", "left")
        .select(
            "cid",
            F.coalesce(F.col("n_old"), z).alias("n_old"),
            F.coalesce(F.col("n_new"), z).alias("n_new"),
            (F.coalesce(F.col("n_old"), z) + F.coalesce(F.col("n_new"), z)).alias(
                "n_total"
            ),
            F.coalesce(F.col("min_new_id"), F.lit(-1).cast("long")).alias("min_new_id"),
            F.coalesce(F.col("max_new_id"), F.lit(-1).cast("long")).alias("max_new_id"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization: FAISS-style compressed ANN (codebooks + ADC)
# ---------------------------------------------------------------------------


def _o_pq_common(src: str = "xf", probe_cte: str | None = None) -> str:
    """The PQ CTE chain every PQ-family oracle shares — scaled vectors
    (xf), per-subspace Lloyd codebooks over ``src`` (an (id, xu) CTE:
    xf itself for plain PQ, the residual frame for IVFADC), corpus
    codes (ec), probe LUT (lutl) — WITHOUT the leading WITH, so
    composed oracles can prepend their own CTEs. ``probe_cte``: a
    (pid, cell, xu) CTE of per-probed-cell probe residuals — when
    given, the LUT carries the cell column (IVFADC's per-(probe, cell)
    tables); when None, probes are the id<10 rows of ``src``. The
    corpus frame, the subspace slices and the final codebooks are each
    read more than once (every Lloyd step, the encoder and the LUT), so
    they are MATERIALIZED: DuckDB 1.0 inlines a CTE at each reference."""
    from bigdatasmallprice_spark.operators.similarity import (
        KMEANS_SCALE,
        PQ_DSUB,
        PQ_ITERS,
        PQ_K,
        PQ_M,
    )

    d = PQ_DSUB
    dist = (
        f"list_sum(list_transform(range(1, {d + 1}), "
        "i -> (x.xu[i] - c.cu[i]) * (x.xu[i] - c.cu[i])))"
    )
    parts = []
    if src == "xf":
        parts.append(
            "xf AS MATERIALIZED (SELECT vec_id AS id, "
            f"list_transform(embedding, e -> CAST(round({KMEANS_SCALE} * CAST(e AS DOUBLE)) AS BIGINT)) AS xu "
            "FROM embeddings)"
        )
    for s in range(PQ_M):
        off = s * d
        lead = ", " if parts else ""
        parts.append(
            f"{lead}x{s} AS MATERIALIZED (SELECT id, xu[{off + 1}:{off + d}] AS xu FROM {src})"
        )
        parts.append(
            f", c{s}_0 AS (SELECT id AS cid, xu AS cu FROM x{s} WHERE id < {PQ_K})"
        )
        for it in range(1, PQ_ITERS + 1):
            parts.append(
                f", a{s}_{it} AS (SELECT id, cid, xu FROM ("
                f"SELECT x.id, c.cid, x.xu, "
                f"row_number() OVER (PARTITION BY x.id ORDER BY {dist}, c.cid) AS rn "
                f"FROM x{s} x, c{s}_{it - 1} c) WHERE rn = 1)"
            )
            parts.append(
                f", u{s}_{it} AS (SELECT cid, dim, "
                f"CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cu_e "
                f"FROM (SELECT cid, unnest(xu) AS v, unnest(range(0, {d})) AS dim FROM a{s}_{it}) "
                f"GROUP BY 1, 2)"
            )
            final = " MATERIALIZED" if it == PQ_ITERS else ""
            parts.append(
                f", c{s}_{it} AS{final} (SELECT cid, list(cu_e ORDER BY dim) AS cu FROM u{s}_{it} GROUP BY cid)"
            )
        # encode with the FINAL (post-update) codebooks
        parts.append(
            f", e{s} AS (SELECT id, {s} AS sub, cid AS code FROM ("
            f"SELECT x.id, c.cid, "
            f"row_number() OVER (PARTITION BY x.id ORDER BY {dist}, c.cid) AS rn "
            f"FROM x{s} x, c{s}_{PQ_ITERS} c) WHERE rn = 1)"
        )
        if probe_cte is None:
            parts.append(
                f", lut{s} AS (SELECT x.id AS pid, {s} AS sub, c.cid AS code, {dist} AS dd "
                f"FROM x{s} x, c{s}_{PQ_ITERS} c WHERE x.id < 10)"
            )
        else:
            parts.append(
                f", p{s} AS (SELECT pid, cell, xu[{off + 1}:{off + d}] AS xu FROM {probe_cte})"
            )
            parts.append(
                f", lut{s} AS (SELECT x.pid, x.cell, {s} AS sub, c.cid AS code, {dist} AS dd "
                f"FROM p{s} x, c{s}_{PQ_ITERS} c)"
            )
    ec = " UNION ALL ".join(f"SELECT * FROM e{s}" for s in range(PQ_M))
    lutl = " UNION ALL ".join(f"SELECT * FROM lut{s}" for s in range(PQ_M))
    parts.append(f", ec AS ({ec}), lutl AS ({lutl})")
    return "".join(parts)


def _o_pq_tail(shortlist_factor: int | None = None) -> str:
    """ADC-shortlist -> exact-re-rank tail shared by the PQ oracles:
    expects an ``adc(pid, vid, adc_dist)`` CTE upstream.
    ``shortlist_factor`` defaults to plain PQ's; the IVFADC oracle
    passes its wider one (same split as the operators)."""
    from bigdatasmallprice_spark.operators.similarity import (
        PQ_SHORTLIST_FACTOR,
    )

    slf = (
        PQ_SHORTLIST_FACTOR if shortlist_factor is None else shortlist_factor
    )
    shortlist = slf * 5
    return (
        ", short AS (SELECT pid, vid, adc_dist FROM ("
        "SELECT pid, vid, adc_dist, "
        "row_number() OVER (PARTITION BY pid ORDER BY adc_dist, vid) AS adc_rank "
        f"FROM adc) WHERE adc_rank <= {shortlist})"
        ", ex AS (SELECT r.pid, r.vid, r.adc_dist, "
        "CAST(list_sum(list_transform(range(1, 65), "
        "i -> (p.xu[i] - v.xu[i]) * (p.xu[i] - v.xu[i]))) AS BIGINT) AS exact_dist "
        "FROM short r JOIN xf p ON p.id = r.pid JOIN xf v ON v.id = r.vid)"
        " SELECT pid AS probe_id, CAST(rank AS BIGINT) AS rank, vid AS vec_id, "
        "adc_dist, exact_dist FROM ("
        "SELECT pid, vid, adc_dist, exact_dist, "
        "row_number() OVER (PARTITION BY pid ORDER BY exact_dist, vid) AS rank "
        "FROM ex) WHERE rank <= 5"
    )


def _o_pq_sql() -> str:
    adc = (
        ", adc AS (SELECT l.pid, e.id AS vid, CAST(SUM(l.dd) AS BIGINT) AS adc_dist "
        "FROM ec e JOIN lutl l ON l.sub = e.sub AND l.code = e.code "
        "WHERE e.id != l.pid GROUP BY 1, 2)"
    )
    return "WITH " + _o_pq_common() + adc + _o_pq_tail()


@register(
    "ann_pq_topk",
    _o_pq_sql(),
    doc="Product quantization ANN (Jegou, Douze & Schmid 2011 — the "
    "FAISS IVF-PQ compression half, deployed in its standard "
    "shortlist-then-re-rank shape): the 64-dim embedding splits into "
    "8 subspaces, each trained into a 16-centroid codebook by the "
    "SAME exact-integer Lloyd fit as the IVF coarse quantizer; "
    "vectors encode as 8 x 4-bit codes (128x smaller than the raw "
    "micro-unit vectors); queries scan CODES with a per-probe "
    "asymmetric-distance lookup table (one broadcast, one lookup-sum "
    "per vector per subspace — never a 64-dim arithmetic pass over "
    "the corpus), the ADC top-8k shortlist is re-ranked by EXACT "
    "integer squared L2, and the exact top-k returns with both "
    "distances — the driver hashes the real quantization error. Fit, "
    "encode, LUT, shortlist and re-rank replay bit-identically in the "
    "oracle (integer micro-units, cid/vid tie-breaks). These "
    "embeddings are synthetic near-iid — PQ's hardest case — so the "
    "measured shortlist recall (0.76, tests/test_operators.py) is the "
    "FLOOR of what structured real-world embeddings give.",
    tags=("similarity", "ann", "train", "join"),
)
def ann_pq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.similarity import pq_adc_topk

    emb = table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    return pq_adc_topk(probes, emb, k_top=5)


def _o_ivfpq_sql() -> str:
    from bigdatasmallprice_spark.operators.similarity import (
        IVFPQ_CELLS,
        IVFPQ_NPROBE,
        IVFPQ_SHORTLIST_FACTOR,
        KMEANS_SCALE,
    )

    dist64 = (
        "list_sum(list_transform(range(1, 65), "
        "i -> (x.xu[i] - c.cu[i]) * (x.xu[i] - c.cu[i])))"
    )
    sub64 = "list_transform(range(1, 65), i -> x.xu[i] - c.cu[i])"
    # every CTE read more than once is MATERIALIZED: DuckDB 1.0 inlines a
    # CTE at each reference (sf0.001: 43 s -> 1.6 s, same rows)
    return f"""
WITH km AS ({_o_kmeans_sql(IVFPQ_CELLS, _KM_ITERS)}),
cc AS MATERIALIZED (SELECT cid AS cell, list(cu_e ORDER BY dim) AS cu FROM km GROUP BY cid),
xf AS MATERIALIZED (SELECT vec_id AS id,
       list_transform(embedding, e -> CAST(round({KMEANS_SCALE} * CAST(e AS DOUBLE)) AS BIGINT)) AS xu
       FROM embeddings),
ac AS MATERIALIZED (
  SELECT id, cell FROM (
    SELECT x.id, c.cell,
           row_number() OVER (PARTITION BY x.id ORDER BY {dist64}, c.cell) AS rn
    FROM xf x, cc c) WHERE rn = 1
),
rx AS MATERIALIZED (
  -- IVFADC residual encoding: x - centroid(cell(x)), exact integers
  SELECT x.id, {sub64} AS xu
  FROM xf x JOIN ac ON ac.id = x.id JOIN cc c ON c.cell = ac.cell
),
pcells AS (
  SELECT pid, cell FROM (
    SELECT x.id AS pid, c.cell,
           row_number() OVER (PARTITION BY x.id ORDER BY {dist64}, c.cell) AS rn
    FROM xf x, cc c WHERE x.id < 10) WHERE rn <= {IVFPQ_NPROBE}
),
rq AS MATERIALIZED (
  -- the probe's OWN residual per probed cell (same centroid as rx)
  SELECT x.id AS pid, p.cell, {sub64} AS xu
  FROM xf x JOIN pcells p ON p.pid = x.id JOIN cc c ON c.cell = p.cell
),
{_o_pq_common(src="rx", probe_cte="rq")},
adc AS (
  -- the LUT only has rows for probed (pid, cell) pairs, so the
  -- (cell, sub, code) equi-join IS the cell pruning
  SELECT l.pid, e.id AS vid, CAST(SUM(l.dd) AS BIGINT) AS adc_dist
  FROM ec e
  JOIN ac ON ac.id = e.id
  JOIN lutl l ON l.sub = e.sub AND l.code = e.code AND l.cell = ac.cell
  WHERE e.id != l.pid GROUP BY 1, 2
){_o_pq_tail(IVFPQ_SHORTLIST_FACTOR)}"""


@register(
    "ann_ivfpq_topk",
    _o_ivfpq_sql(),
    doc="The COMPOSED FAISS index (true IVFADC, Jegou 2011 sec. V, "
    "WITH residual encoding): the exact-integer Lloyd coarse quantizer "
    "partitions the corpus into 16 cells; each vector is PQ-encoded as "
    "its RESIDUAL x - centroid(cell(x)), so the 8x4-bit codebooks "
    "spend their resolution on the fine structure the coarse quantizer "
    "left. The 16-cell/nprobe=4/shortlist-16k operating point comes "
    "from the measured r8 frontier (BASELINE.md): it scans the same "
    "~25% of the code table as the old 8/2/8k point but lifts recall@5 "
    "0.528 -> 0.708 over 50 probes (0.82 -> 0.90 over the test's 10) — "
    "matching plain PQ's full-scan recall at a quarter of the scan. A "
    "query probes its nprobe=4 nearest cells, forms its OWN residual "
    "per probed cell, "
    "and runs the ADC lookup only over codes in those cells (both "
    "residuals subtract the SAME centroid, so summed residual "
    "subspace distances approximate the true ||x - q||^2) — the "
    "per-query code scan touches ~nprobe/k of the corpus, composing "
    "cell pruning with the 128x code compression. Shortlist + "
    "exact-integer re-rank on the raw vectors as in plain PQ, both "
    "distances hashed. The oracle chains the unrolled coarse k-means, "
    "residual formation, the 8 per-subspace residual codebook fits, "
    "cell assignment, per-(probe, cell) residual LUTs, the restricted "
    "ADC, and the re-rank into ONE statement — training and search of "
    "the full index replay externally.",
    tags=("similarity", "ann", "train", "join"),
)
def ann_ivfpq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.similarity import ivfpq_topk

    emb = table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    # nprobe/coarse_k/shortlist come from the operator's measured
    # IVFPQ_* operating point (frontier in BASELINE.md)
    return ivfpq_topk(probes, emb, k_top=5, coarse_iters=_KM_ITERS)


# ---------------------------------------------------------------------------
# metric-learning data prep: hard-negative triplet mining
# ---------------------------------------------------------------------------

_TRIP_ANCHORS = 20
_O_TRIP_CELLS = """
  SELECT {idc}, {vecc}, {nrmc}, lbl, cid AS cell FROM (
    SELECT t.*, c.cid,
           row_number() OVER (
             PARTITION BY t.{idc}
             ORDER BY round({cos}, 6) DESC, c.cid
           ) AS crn
    FROM ({src}) t CROSS JOIN cent c
  ) WHERE crn <= {nprobe}
"""


def _o_trip_cells(src: str, idc: str, vecc: str, nrmc: str, nprobe: int) -> str:
    return _O_TRIP_CELLS.format(
        src=src,
        idc=idc,
        vecc=vecc,
        nrmc=nrmc,
        nprobe=nprobe,
        cos=_o_cosine_prenormed(f"t.{vecc}", "c.cvec", f"t.{nrmc}", "c.ncv"),
    )


@register(
    "triplet_mining",
    f"""
WITH cent AS ({_O_CENT}),
a AS ({_o_trip_cells(
    f"SELECT vec_id AS anchor_id, embedding AS qv, {_O_NORM.format(a='embedding')} AS nq, label AS lbl FROM embeddings WHERE vec_id < {_TRIP_ANCHORS}",
    'anchor_id', 'qv', 'nq', 1)}),
c AS ({_o_trip_cells(
    f"SELECT vec_id AS cand_id, embedding AS cv, {_O_NORM.format(a='embedding')} AS nc, label AS lbl FROM embeddings",
    'cand_id', 'cv', 'nc', 1)}),
s AS (
  SELECT a.anchor_id, a.lbl AS albl, c.cand_id, c.lbl AS clbl,
         round({_o_cosine_prenormed('a.qv', 'c.cv', 'a.nq', 'c.nc')}, 6) AS sim
  FROM a JOIN c ON a.cell = c.cell AND a.anchor_id != c.cand_id
),
pos AS (
  SELECT anchor_id, cand_id AS pos_id, sim AS pos_sim FROM (
    SELECT anchor_id, cand_id, sim,
           row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, cand_id) AS rn
    FROM s WHERE albl = clbl
  ) WHERE rn = 1
),
neg AS (
  SELECT anchor_id, cand_id AS neg_id, sim AS neg_sim FROM (
    SELECT anchor_id, cand_id, sim,
           row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, cand_id) AS rn
    FROM s WHERE albl != clbl
  ) WHERE rn = 1
)
SELECT pos.anchor_id, pos_id, pos_sim, neg_id, neg_sim
FROM pos JOIN neg ON pos.anchor_id = neg.anchor_id
""",
    doc="Hard-negative triplet mining — the DATA-PREP stage of "
    "contrastive/metric-learning embedding training (FaceNet's "
    "semi-hard mining, SimCSE/SBERT negative selection): per anchor "
    "the nearest SAME-label candidate (positive) and the nearest "
    "DIFFERENT-label candidate (the hard negative a triplet loss "
    "actually learns from), candidates drawn from the anchor's IVF "
    "cell only — cell blocking bounds the candidate set as an "
    "equi-join on the cell id (the semantic_dedup rule), never the "
    "all-pairs corpus square; anchors broadcast so the cell join is "
    "map-side. Similarities round to 6 decimals before (sim DESC, "
    "cand_id) ranking, so the mined triplets replay identically in "
    "both engines. Anchors missing either candidate kind in their "
    "cell mine no triplet (inner semantics).",
    tags=("similarity", "train", "curation"),
)
def triplet_mining_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.similarity import _norm, hard_triplets

    emb = table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cvec"),
        _norm("embedding").alias("ncv"),
    )
    return hard_triplets(
        emb.filter(F.col("vec_id") < _TRIP_ANCHORS), emb, centroids, nprobe=1
    )


# ---------------------------------------------------------------------------
# BM25 lexical retrieval: integer Okapi ranking via the fixed-point log2
# ---------------------------------------------------------------------------

_BM_NQ = 5  # probe documents (doc-as-query retrieval)
_BM_K1 = 1200  # k1 = 1.2, milli-units
_BM_B = 750  # b = 0.75, milli-units
_BM_TOPK = 5


def _o_bm25_scored_ctes(nq: int = _BM_NQ) -> str:
    """The BM25 model + scoring chain as CTE text (no leading WITH),
    ending with ``scored(query_id, cand_id, score_milli)`` — shared by
    bm25_topk's oracle and the hybrid fusion's sparse leg."""
    from bigdatasmallprice_spark.operators.distill import DUCK_DIV, rdiv
    from bigdatasmallprice_spark.operators.dsir import log2m

    op = DUCK_DIV
    idf = f"({log2m('nn + 1', op)} - {log2m('df + 1', op)})"
    nd = f"(250 + {rdiv('750 * dl * nn', 'toks', op)})"
    tf_term = rdiv(
        f"tf * {_BM_K1 + 1000} * 1000",
        f"tf * 1000 + {rdiv(f'{_BM_K1} * nd_milli', '1000', op)}",
        op,
    )
    return f"""tok AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
g AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn, CAST(SUM(dl) AS BIGINT) AS toks FROM dl),
qt AS (
  SELECT tf.doc_id AS query_id, tf.term
  FROM tf WHERE tf.doc_id < {nq}
),
scored AS (
  SELECT qt.query_id, tf.doc_id AS cand_id,
         CAST(SUM({rdiv('idf_milli * tf_milli', '1000', op)}) AS BIGINT) AS score_milli
  FROM qt
  JOIN tf ON tf.term = qt.term AND tf.doc_id != qt.query_id
  JOIN (
    SELECT doc_id, term, idf_milli,
           CAST({tf_term} AS BIGINT) AS tf_milli
    FROM (
      SELECT tf.doc_id, tf.term, tf.tf,
             CAST({idf} AS BIGINT) AS idf_milli,
             CAST({nd} AS BIGINT) AS nd_milli
      FROM tf
      JOIN dfq USING (term)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN g
    )
  ) w ON w.doc_id = tf.doc_id AND w.term = tf.term
  GROUP BY 1, 2
)"""


def _bm25_oracle() -> str:
    return f"""
WITH {_o_bm25_scored_ctes()},
ranked AS (
  SELECT query_id, cand_id, score_milli,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_milli DESC, cand_id) AS rank
  FROM scored
)
SELECT query_id, cand_id, score_milli, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_BM_TOPK}
"""


@register(
    "bm25_topk",
    _bm25_oracle(),
    doc="Okapi BM25 lexical retrieval (Robertson-Walker), all-integer: "
    "idf_milli = log2m(N+1) - log2m(df+1) via the deterministic "
    "Mitchell fixed-point log2 (operators/dsir.py — integer part "
    "exact from the binary-string length, no libm), tf saturation "
    "k1=1.2 and length normalization b=0.75 as explicitly-rounded "
    "milli-unit rationals (dl/avgdl kept exact as dl*N/total_tokens), "
    "so the ranking replays bit-identically in both engines. The "
    "missing LEXICAL member of the retrieval family (ann_* is dense, "
    "hybrid_search_rrf fuses; this is the BM25 leg a production "
    "hybrid stack actually runs): probe docs query by ALL their "
    "distinct terms — this corpus's 31-term vocabulary is everywhere, "
    "so a df stopword cap would empty the query; idf does the "
    "downweighting here, and a production deployment bounds the term "
    "equi-join with a df cap exactly like hybrid_search_rrf's "
    "_RRF_MAXDF (candidate volume = probe terms x df, never the "
    "corpus square). Candidates score in one (query, cand) aggregate, top-5 by "
    "(score DESC, cand_id). Model tables (df, dl, the 2-scalar "
    "global) are vocabulary/corpus-count-sized aggregates computed "
    "map-side.",
    tags=("similarity", "topk", "text"),
)
def bm25_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # scan floor (A/B: 2.78s -> 1.62s at sf0.1/32c): the tf tokenize +
    # explode is a heavy narrow pass straight off the scan
    docs = table_par(spark, sf_dir, "documents")
    scored = _bm25_scored(docs)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_milli").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _BM_TOPK)
        .select("query_id", "cand_id", "score_milli", "rank")
    )


def _bm25_scored(docs: DataFrame, nq: int = _BM_NQ) -> DataFrame:
    """(query_id, cand_id, score_milli): the all-integer Okapi BM25
    scoring chain for the first ``nq`` probe docs — shared by
    bm25_topk (top-5 readout) and hybrid_bm25_rrf (the sparse leg)."""
    return bm25_scored_from_tf(bm25_tf(docs).persist(), nq)


def bm25_tf(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf): the per-document term-frequency table — the
    ONLY corpus-dependent state of the BM25 model (df/dl/the 2-scalar
    global are pure functions of it)."""
    tok = docs.select(
        "doc_id",
        F.explode(F.expr("filter(split(text, ' '), w -> w <> '')")).alias("term"),
    )
    return tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )


def bm25_scored_from_tf(tf: DataFrame, nq: int = _BM_NQ) -> DataFrame:
    """The scoring chain from a tf table — shared by the batch queries
    (live tokenize) and the streaming index twin (folded state), so
    stream-served rankings equal batch rankings by construction."""
    from bigdatasmallprice_spark.operators.distill import SPARK_DIV, rdiv
    from bigdatasmallprice_spark.operators.dsir import log2m

    op = SPARK_DIV
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    g = dl.agg(
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum("dl").cast("long").alias("toks"),
    )
    idf = f"({log2m('nn + 1', op)} - {log2m('df + 1', op)})"
    nd = f"(250 + {rdiv('750 * dl * nn', 'toks', op)})"
    weighted = (
        tf.join(dfq, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(g))
        .selectExpr(
            "doc_id", "term", "tf",
            f"CAST({idf} AS BIGINT) AS idf_milli",
            f"CAST({nd} AS BIGINT) AS nd_milli",
        )
        .selectExpr(
            "doc_id", "term", "idf_milli",
            "CAST("
            + rdiv(
                f"tf * {_BM_K1 + 1000} * 1000",
                f"tf * 1000 + {rdiv(f'{_BM_K1} * nd_milli', '1000', op)}",
                op,
            )
            + " AS BIGINT) AS tf_milli",
        )
    )
    qt = tf.filter(F.col("doc_id") < nq).select(
        F.col("doc_id").alias("query_id"), "term"
    )
    return (
        F.broadcast(qt)
        .join(weighted, "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", F.col("doc_id").alias("cand_id"))
        .agg(
            F.sum(F.expr(rdiv("idf_milli * tf_milli", "1000", op)))
            .cast("long")
            .alias("score_milli")
        )
    )


# ---------------------------------------------------------------------------
# hybrid retrieval v2: RRF fusion with the BM25 sparse leg
# ---------------------------------------------------------------------------


def _hybrid_bm25_oracle() -> str:
    return f"""
WITH {_o_bm25_scored_ctes(nq=_RRF_NP)},
brank AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_milli DESC, cand_id) AS r_bm25
  FROM scored
),
btop AS (SELECT * FROM brank WHERE r_bm25 <= {_RRF_PRE}),
q AS (SELECT vec_id AS query_id, embedding AS qv,
             {_O_NORM.format(a='embedding')} AS nq
      FROM embeddings WHERE vec_id < {_RRF_NP}),
c AS (SELECT vec_id AS cand_id, embedding AS cv,
             {_O_NORM.format(a='embedding')} AS nc
      FROM embeddings),
escored AS (
  SELECT query_id, cand_id,
         round({_o_cosine_prenormed('qv', 'cv', 'nq', 'nc')}, 6) AS sim
  FROM q, c WHERE query_id != cand_id
),
erank AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS r_emb
  FROM escored
),
etop AS (SELECT * FROM erank WHERE r_emb <= {_RRF_PRE}),
fused AS (
  SELECT COALESCE(t.query_id, e.query_id) AS query_id,
         COALESCE(t.cand_id, e.cand_id) AS cand_id,
         t.r_bm25, e.r_emb,
         COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + t.r_bm25), 0.0)
           + COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + e.r_emb), 0.0) AS rrf
  FROM btop t FULL OUTER JOIN etop e
    ON t.query_id = e.query_id AND t.cand_id = e.cand_id
),
final AS (
  SELECT query_id, cand_id,
         CAST(r_bm25 AS BIGINT) AS r_bm25, CAST(r_emb AS BIGINT) AS r_emb,
         round(rrf, 6) AS rrf,
         row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, cand_id) AS rank
  FROM fused
)
SELECT query_id, cand_id, r_bm25, r_emb, rrf, CAST(rank AS BIGINT) AS rank
FROM final WHERE rank <= {_RRF_OUT}
"""


@register(
    "hybrid_bm25_rrf",
    _hybrid_bm25_oracle(),
    doc="Hybrid retrieval v2 — the PRODUCTION composition: reciprocal-"
    "rank fusion (RRF, k=60) of the BM25 sparse leg (bm25_topk's "
    "all-integer Okapi scoring chain, reused via _bm25_scored) and "
    "the dense embedding-cosine leg, for 10 probe docs. "
    "hybrid_search_rrf fuses a bow-cosine sparse leg; real hybrid "
    "stacks (Elastic/Vespa/Weaviate-style) fuse BM25 + dense, and "
    "with the BM25 leg now in-engine this query closes that gap "
    "(VERDICT r9 ask #3). Same fusion machinery: per-ranker top-20 "
    "with a total (score DESC, cand) order, full outer join on "
    "(query, cand), 1/(60+rank) contributions (per-row IEEE, "
    "identical in both engines), deterministic final tie-break. At "
    "100 TB each leg keeps its own scale path (df-bounded term "
    "equi-join; IVF/LSH ANN) and the fusion input stays "
    "queries x 2 x 20 rows regardless of corpus size.",
    tags=("similarity", "text", "fusion", "topk"),
)
def hybrid_bm25_rrf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from bigdatasmallprice_spark.operators.similarity import brute_force_topk

    # scan floor (A/B: 3.85s -> 2.43s): same bm25 tf pass as bm25_topk
    docs = table_par(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")

    wb = Window.partitionBy("query_id").orderBy(
        F.col("score_milli").desc(), F.col("cand_id")
    )
    btop = (
        _bm25_scored(docs, nq=_RRF_NP)
        .withColumn("r_bm25", F.row_number().over(wb))
        .filter(F.col("r_bm25") <= _RRF_PRE)
        .select("query_id", "cand_id", "r_bm25")
    )
    etop = (
        brute_force_topk(emb.filter(F.col("vec_id") < _RRF_NP), emb, k=_RRF_PRE)
        .select("query_id", "cand_id", F.col("rank").alias("r_emb"))
    )
    fused = btop.join(etop, ["query_id", "cand_id"], "full_outer").select(
        "query_id",
        "cand_id",
        "r_bm25",
        "r_emb",
        (
            F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("r_bm25")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("r_emb")), F.lit(0.0))
        ).alias("rrf_raw"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf_raw").desc(), F.col("cand_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= _RRF_OUT)
        .select(
            "query_id",
            "cand_id",
            F.col("r_bm25").cast("long").alias("r_bm25"),
            F.col("r_emb").cast("long").alias("r_emb"),
            F.round("rrf_raw", 6).alias("rrf"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# the text -> embedding bridge: similarity operators over REAL text-derived
# vectors (mean-pooled word2vec) instead of the synthetic embeddings table
# ---------------------------------------------------------------------------

_DV_NQ = 5  # probe documents for the pooled-vector top-k
_DV_TOPK = 5
# SemDeDup bar for 8-dim POOLED text vectors: pooling 10-60 tokens from
# a 31-word vocabulary concentrates cosines near 1 (measured at
# sf0.001: unrelated-pair mean 0.9685, 5-shingle-Jaccard>=0.5 near-dup
# pairs min 0.983 / mean 0.9974, global p99 0.9964). 0.998 prunes ~19%
# of the corpus (95/500 at sf0.001) — the bulk of the near-dup cosine
# mass without the within-cluster avalanche a lower bar triggers
# (clusters concentrate sims, so 0.995 already removes 64%; SemDeDup
# itself runs at the aggressive end, but the near-dup reading is the
# one the invariant tests pin).
_TSD_TAU = 0.998

_O_DOT8 = "list_sum(list_transform(range(1, 9), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
_O_NORM8 = "sqrt(list_sum(list_transform(range(1, 9), i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
_O_IDOT8 = "list_sum(list_transform(range(1, 9), i -> {a}.xu[i] * {b}.xu[i]))"


def _doc_vec_chain_sql() -> str:
    """word2vec fit + mean-pool as an OPEN WITH block ending at
    ``dvec(doc_id, xu)`` — the shared prefix of both bridge oracles."""
    from bigdatasmallprice_spark.operators.word2vec import (
        o_doc_embeddings_sql,
        o_word2vec_chain_sql,
    )

    return f"WITH {o_word2vec_chain_sql()},\n{o_doc_embeddings_sql()}"


def _doc_embedding_topk_oracle() -> str:
    dot = _O_DOT8.format(a="qv", b="cv")
    return f"""
{_doc_vec_chain_sql()},
q AS (SELECT doc_id AS query_id, xu AS qv, {_O_NORM8.format(a='xu')} AS nq
      FROM dvec WHERE doc_id < {_DV_NQ}),
c AS (SELECT doc_id AS cand_id, xu AS cv, {_O_NORM8.format(a='xu')} AS nc
      FROM dvec),
scored AS (
  SELECT query_id, cand_id,
         round(CASE WHEN nq * nc > 0 THEN {dot} / (nq * nc) ELSE 0.0 END, 6) AS sim
  FROM q, c WHERE query_id != cand_id
),
ranked AS (
  SELECT query_id, cand_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
  FROM scored
)
SELECT query_id, cand_id, sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_DV_TOPK}
"""


def _doc_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, xu): mean-pooled word2vec document vectors — the
    trained SGNS token embeddings (word_embedding_train's exact chain)
    pooled over each document's token occurrences."""
    from bigdatasmallprice_spark.operators.word2vec import doc_embeddings
    from bigdatasmallprice_spark.queries.textq import word_embedding_train_q

    # scan floor on the pooling pass too (word_embedding_train_q
    # floors its own harvest scan): tokenize + explode + vocab join is
    # the same heavy-narrow-off-the-scan shape. A/B floor-all improved
    # all four doc_embedding_* rows 1.1-1.2x and text_semantic_dedup
    docs = table_par(spark, sf_dir, "documents")
    emb = word_embedding_train_q(spark, sf_dir)
    return doc_embeddings(docs, emb)


@register(
    "doc_embedding_topk",
    _doc_embedding_topk_oracle(),
    doc="Similarity search over REAL text-derived vectors — the "
    "text -> embedding bridge (VERDICT r9 ask #2): "
    "word_embedding_train's SGNS token vectors mean-pooled into "
    "8-dim integer micro-unit document embeddings "
    "(operators/word2vec.py::doc_embeddings — one vocabulary join + "
    "one (doc, dim) aggregate, linear in corpus tokens), then the "
    "EXISTING brute-force cosine top-k operator "
    "(operators/similarity.py::brute_force_topk, the ANN "
    "correctness baseline) serves 5 probe docs' top-5 neighbors. "
    "8-dim micro-unit folds stay exact in the double accumulator "
    "(|terms| <= 3.2e13 < 2^53), so both engines rank identical "
    "sims. Quality invariant pinned in tests/test_doc_embeddings.py: "
    "5-shingle-Jaccard near-dup pairs out-rank unrelated pairs by "
    "pooled cosine. The oracle replays fit -> pool -> rank as ONE "
    "closed CTE chain.",
    tags=("similarity", "text", "topk", "train", "curation"),
)
def doc_embedding_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.similarity import brute_force_topk

    # localCheckpoint: the probe and corpus legs both re-plan this
    # frame; truncating the fit+pool lineage keeps them leaf-sized
    dv = _doc_vectors(spark, sf_dir).transform(cut_lineage)
    return brute_force_topk(
        dv.filter(F.col("doc_id") < _DV_NQ),
        dv,
        k=_DV_TOPK,
        id_col="doc_id",
        vec_col="xu",
    )


_HI_DIM, _HI_WIN = 32, 5  # the production-capacity bridge setting


def _doc_embedding_topk_hi_oracle() -> str:
    from bigdatasmallprice_spark.operators.word2vec import (
        o_doc_embeddings_sql,
        o_word2vec_chain_sql,
    )

    dot = (
        f"list_sum(list_transform(range(1, {_HI_DIM + 1}),"
        " i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))"
    )
    norm = (
        f"sqrt(list_sum(list_transform(range(1, {_HI_DIM + 1}),"
        " i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
    )
    return f"""
WITH {o_word2vec_chain_sql(window=_HI_WIN, dim=_HI_DIM)},
{o_doc_embeddings_sql()},
q AS (SELECT doc_id AS query_id, xu AS qv, {norm.format(a='xu')} AS nq
      FROM dvec WHERE doc_id < {_DV_NQ}),
c AS (SELECT doc_id AS cand_id, xu AS cv, {norm.format(a='xu')} AS nc
      FROM dvec),
scored AS (
  SELECT query_id, cand_id,
         round(CASE WHEN nq * nc > 0 THEN {dot} / (nq * nc) ELSE 0.0 END, 6) AS sim
  FROM q, c WHERE query_id != cand_id
),
ranked AS (
  SELECT query_id, cand_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
  FROM scored
)
SELECT query_id, cand_id, sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_DV_TOPK}
"""


@register(
    "doc_embedding_topk_hi",
    _doc_embedding_topk_hi_oracle(),
    doc="The text->embedding bridge at PRODUCTION capacity (VERDICT "
    f"r11 ask #6): {_HI_DIM}-dim SGNS token vectors from "
    f"{_HI_WIN}-token windows, mean-pooled and served by the same "
    "brute-force cosine top-k as the dim-8 default — the capacity "
    "knob (window in word_skipgram_pairs, dim threaded through "
    "sgns_init/sgns_fit and the oracle chain) previously proven "
    "bit-for-bit only in pytest (tests/test_doc_embeddings.py::"
    "test_hi_capacity_bridge_dim32_window5), now earning an external "
    "CORRECTNESS row. Overflow analysis at 32 dims (same test): "
    "|u_micro| ~ 2e5 after GD, so the exact-int dot of 32 terms "
    "<= ~1.3e12 — far inside the double accumulator's 2^53 and the "
    "BIGINT fold's 2^63. Cost curve documented in BENCH: the (pair x "
    "dim) GD frames scale linearly in dim, so this runs ~4x the "
    "dim-8 fit — the price of production capacity, paid in the "
    "training job, not at serve time.",
    tags=("similarity", "text", "topk", "train", "curation"),
)
def doc_embedding_topk_hi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.sgns import (
        sgns_fit,
        sgns_init,
        sgns_training_pairs,
    )
    from bigdatasmallprice_spark.operators.similarity import brute_force_topk
    from bigdatasmallprice_spark.operators.word2vec import (
        doc_embeddings,
        vocab_nodes,
        word_skipgram_pairs,
    )

    # scan floor (A/B: 9.31s -> 8.71s): dim-32/window-5 harvest + pool
    docs = table_par(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = word_skipgram_pairs(docs, window=_HI_WIN)
    nodes = vocab_nodes(docs).persist()
    n = nodes.count()
    train = sgns_training_pairs(pairs, nodes, n).transform(cut_lineage)
    emb = sgns_fit(train, sgns_init(nodes, dim=_HI_DIM), dim=_HI_DIM)
    dv = doc_embeddings(
        docs,
        emb.select(
            F.col("node").alias("word"), "dim", F.col("u").alias("u_micro")
        ),
    ).transform(cut_lineage)
    return brute_force_topk(
        dv.filter(F.col("doc_id") < _DV_NQ),
        dv,
        k=_DV_TOPK,
        id_col="doc_id",
        vec_col="xu",
    )


def _text_semantic_dedup_oracle() -> str:
    k_expr = f"(SELECT GREATEST(8, COUNT(*) // {_SD_TARGET_CLUSTER}) FROM x)"
    km = _o_km_ctes(
        k_expr,
        _KM_ITERS,
        x_select="SELECT doc_id AS id, xu FROM dvec",
        dim=8,
        lead=", ",
        # dvec doc_ids are contiguous today (so this is a no-op), but
        # any empty-text doc below k dropping out of dvec would break
        # the `id < k` seed while Spark's _lloyd seeds by rank —
        # mirror the rank seed to remove the latent seam
        seed_by_rank=True,
    )
    return f"""
{_doc_vec_chain_sql()}{km}
, p AS (
  SELECT a.cid, b.id AS rid
  FROM a{_KM_ITERS} a JOIN a{_KM_ITERS} b ON a.cid = b.cid AND a.id < b.id
  WHERE round(CAST({_O_IDOT8.format(a='a', b='b')} AS DOUBLE)
              / (sqrt(CAST({_O_IDOT8.format(a='a', b='a')} AS DOUBLE))
                 * sqrt(CAST({_O_IDOT8.format(a='b', b='b')} AS DOUBLE))), 6) >= {_TSD_TAU}
)
, rem AS (SELECT cid, COUNT(DISTINCT rid) AS n_removed FROM p GROUP BY 1)
, sz AS (SELECT cid, COUNT(*) AS n_vecs FROM a{_KM_ITERS} GROUP BY 1)
SELECT sz.cid, CAST(sz.n_vecs AS BIGINT) AS n_vecs,
       CAST(COALESCE(rem.n_removed, 0) AS BIGINT) AS n_removed,
       CAST(sz.n_vecs - COALESCE(rem.n_removed, 0) AS BIGINT) AS n_kept
FROM sz LEFT JOIN rem ON sz.cid = rem.cid
"""


@register(
    "text_semantic_dedup",
    _text_semantic_dedup_oracle(),
    doc="SemDeDup over REAL text-derived vectors — the other half of "
    "the text -> embedding bridge: mean-pooled word2vec document "
    "embeddings (integer micro-units straight from the SGNS fit, no "
    "double round-trip — kmeans_assignments_prescaled) clustered by "
    "the EXISTING exact-int Lloyd loop (k scales with the corpus: "
    f"max(8, n_docs // {_SD_TARGET_CLUSTER}), both engines derive it "
    "from the same COUNT), then near-duplicates pruned WITHIN "
    "clusters only (semantic_dedup_summary, keep-smallest-id, "
    f"cosine >= {_TSD_TAU} — the bar measured for 8-dim pooled "
    "vectors, see _TSD_TAU). Until now the SemDeDup/ANN stack only "
    "ever saw the synthetic embeddings table; this runs the identical "
    "operators on vectors the engine itself trained from text. "
    "Cluster-bounded candidate pairs (equi-join on cid), exact-int "
    "distances, oracle = ONE closed CTE chain through fit -> pool -> "
    "Lloyd -> prune.",
    tags=("similarity", "dedup", "text", "train", "curation"),
)
def text_semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.similarity import (
        kmeans_assignments_prescaled,
        semantic_dedup_summary,
    )

    scaled = _doc_vectors(spark, sf_dir).select(
        F.col("doc_id").alias("id"), "xu"
    ).transform(cut_lineage)
    k = max(8, scaled.count() // _SD_TARGET_CLUSTER)
    assigned = kmeans_assignments_prescaled(scaled, k=k, iters=_KM_ITERS)
    return semantic_dedup_summary(assigned, tau=_TSD_TAU)


_DV_NPROBE = 2


def _doc_embedding_ivf_oracle() -> str:
    it = _KM_ITERS
    k_expr = f"(SELECT GREATEST(8, COUNT(*) // {_SD_TARGET_CLUSTER}) FROM x)"
    km = _o_km_ctes(
        k_expr,
        it,
        x_select="SELECT doc_id AS id, xu FROM dvec",
        dim=8,
        lead=", ",
        with_final_update=True,
        # same latent-seam removal as _text_semantic_dedup_oracle:
        # rank seeding ≡ `id < k` on contiguous ids, and stays correct
        # if a sub-k doc ever drops out of dvec
        seed_by_rank=True,
    )
    dist8 = (
        "list_sum(list_transform(range(1, 9), "
        "i -> (x.xu[i] - c.cu[i]) * (x.xu[i] - c.cu[i])))"
    )
    idot = _O_IDOT8
    cos = (
        f"round(CAST({idot.format(a='q', b='a')} AS DOUBLE)"
        f" / (sqrt(CAST({idot.format(a='q', b='q')} AS DOUBLE))"
        f" * sqrt(CAST({idot.format(a='a', b='a')} AS DOUBLE))), 6)"
    )
    return f"""
{_doc_vec_chain_sql()}{km}
, af AS (
  SELECT id, cid, xu FROM (
    SELECT x.id, c.cid, x.xu,
           row_number() OVER (PARTITION BY x.id ORDER BY {dist8}, c.cid) AS rn
    FROM x, c{it} c) WHERE rn = 1
)
, qc AS (
  SELECT id AS query_id, xu, cid FROM (
    SELECT x.id, x.xu, c.cid,
           row_number() OVER (PARTITION BY x.id ORDER BY {dist8}, c.cid) AS crn
    FROM x, c{it} c WHERE x.id < {_DV_NQ}) WHERE crn <= {_DV_NPROBE}
)
, scored AS (
  SELECT q.query_id, a.id AS cand_id, {cos} AS sim
  FROM qc q JOIN af a ON a.cid = q.cid AND a.id <> q.query_id
)
, ranked AS (
  SELECT query_id, cand_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
  FROM scored
)
SELECT query_id, cand_id, sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_DV_TOPK}
"""


@register(
    "doc_embedding_ivf_topk",
    _doc_embedding_ivf_oracle(),
    doc="The SCALE PATH of the text -> embedding bridge: IVF-served "
    "top-k over the pooled word2vec document vectors. "
    "doc_embedding_topk's brute scan is the correctness baseline "
    "(probes x corpus); this trains the coarse quantizer on the SAME "
    "prescaled exact-int Lloyd loop (kmeans_fit_prescaled, k scales "
    "with the corpus), assigns every document to its nearest cell by "
    "exact integer squared L2 (assign_cells — one Arrow-batched "
    "narrow map against the broadcast k-row centroid table), and "
    "each probe query scans only its nprobe=2 nearest cells' posting "
    "lists (an equi-join on cid) with an exact integer cosine "
    "re-rank — candidates per query bounded by cell population, "
    "never the corpus. Recall vs the brute baseline is pinned in "
    "tests/test_doc_embeddings.py. Oracle = fit -> pool -> Lloyd -> "
    "assign -> probe -> re-rank as ONE closed CTE chain.",
    tags=("similarity", "text", "topk", "train"),
)
def doc_embedding_ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    scaled = _doc_vectors(spark, sf_dir).select(
        F.col("doc_id").alias("id"), "xu"
    ).transform(cut_lineage)
    return _div_ivf_topk(scaled)


def _div_ivf_topk(scaled: DataFrame) -> DataFrame:
    """The IVF twin's fit -> assign -> probe -> re-rank over a
    persisted (id, xu) frame — factored so doc_embedding_recall_eval
    can serve the approximate leg from the SAME pooled vectors its
    ground truth scans (one word2vec fit per query, not two)."""
    from pyspark.sql import Window

    from bigdatasmallprice_spark.operators.similarity import (
        assign_cells,
        centroid_arrays,
        kmeans_fit_prescaled,
    )

    k = max(8, scaled.count() // _SD_TARGET_CLUSTER)
    cent = centroid_arrays(
        kmeans_fit_prescaled(scaled, k=k, iters=_KM_ITERS)
    ).transform(cut_lineage)  # k-row model; sever the Lloyd lineage
    assigned = assign_cells(scaled, cent)

    d2 = F.expr(
        "aggregate(zip_with(xu, cu, (a, b) -> (a - b) * (a - b)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    wc = Window.partitionBy("id").orderBy(F.col("d2"), F.col("cid"))
    qc = (
        scaled.filter(F.col("id") < _DV_NQ)
        .crossJoin(F.broadcast(cent))
        .withColumn("d2", d2)
        .withColumn("crn", F.row_number().over(wc))
        .filter(F.col("crn") <= _DV_NPROBE)
        .select(F.col("id").alias("query_id"), F.col("xu").alias("qv"), "cid")
    )
    idot = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    cands = (
        F.broadcast(qc)
        .join(assigned.select(F.col("id").alias("cand_id"), "cid", F.col("xu").alias("cv")), "cid")
        .filter(F.col("cand_id") != F.col("query_id"))
        .withColumn(
            "sim",
            F.round(
                F.expr(idot.format(a="qv", b="cv")).cast("double")
                / (
                    F.sqrt(F.expr(idot.format(a="qv", b="qv")).cast("double"))
                    * F.sqrt(F.expr(idot.format(a="cv", b="cv")).cast("double"))
                ),
                6,
            ),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("cand_id"))
    return (
        cands.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= _DV_TOPK)
        .select("query_id", "cand_id", "sim", "rank")
    )


def _doc_embedding_recall_oracle() -> str:
    it = _KM_ITERS
    k_expr = f"(SELECT GREATEST(8, COUNT(*) // {_SD_TARGET_CLUSTER}) FROM x)"
    km = _o_km_ctes(
        k_expr,
        it,
        x_select="SELECT doc_id AS id, xu FROM dvec",
        dim=8,
        lead=", ",
        with_final_update=True,
        seed_by_rank=True,
    )
    dist8 = (
        "list_sum(list_transform(range(1, 9), "
        "i -> (x.xu[i] - c.cu[i]) * (x.xu[i] - c.cu[i])))"
    )
    idot = _O_IDOT8
    icos = (
        f"round(CAST({idot.format(a='q', b='a')} AS DOUBLE)"
        f" / (sqrt(CAST({idot.format(a='q', b='q')} AS DOUBLE))"
        f" * sqrt(CAST({idot.format(a='a', b='a')} AS DOUBLE))), 6)"
    )
    bdot = _O_DOT8.format(a="qv", b="cv")
    return f"""
{_doc_vec_chain_sql()},
bq AS (SELECT doc_id AS query_id, xu AS qv, {_O_NORM8.format(a='xu')} AS nq
       FROM dvec WHERE doc_id < {_DV_NQ}),
bcand AS (SELECT doc_id AS cand_id, xu AS cv, {_O_NORM8.format(a='xu')} AS nc
          FROM dvec),
bscored AS (
  SELECT query_id, cand_id,
         round(CASE WHEN nq * nc > 0 THEN {bdot} / (nq * nc) ELSE 0.0 END, 6) AS sim
  FROM bq, bcand WHERE query_id != cand_id
),
gt AS (
  SELECT query_id, cand_id FROM (
    SELECT query_id, cand_id,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
    FROM bscored) WHERE rank <= {_DV_TOPK}
){km}
, iaf AS (
  SELECT id, cid, xu FROM (
    SELECT x.id, c.cid, x.xu,
           row_number() OVER (PARTITION BY x.id ORDER BY {dist8}, c.cid) AS rn
    FROM x, c{it} c) WHERE rn = 1
)
, iqc AS (
  SELECT id AS query_id, xu, cid FROM (
    SELECT x.id, x.xu, c.cid,
           row_number() OVER (PARTITION BY x.id ORDER BY {dist8}, c.cid) AS crn
    FROM x, c{it} c WHERE x.id < {_DV_NQ}) WHERE crn <= {_DV_NPROBE}
)
, iscored AS (
  SELECT q.query_id, a.id AS cand_id, {icos} AS sim
  FROM iqc q JOIN iaf a ON a.cid = q.cid AND a.id <> q.query_id
)
, ap AS (
  SELECT query_id, cand_id FROM (
    SELECT query_id, cand_id,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
    FROM iscored) WHERE rank <= {_DV_TOPK}
)
SELECT g.query_id,
       CAST(COUNT(*) AS BIGINT) AS possible,
       CAST(COUNT(a.cand_id) AS BIGINT) AS hits,
       round(CAST(COUNT(a.cand_id) AS DOUBLE) / COUNT(*), 6) AS recall
FROM gt g
LEFT JOIN ap a ON a.query_id = g.query_id AND a.cand_id = g.cand_id
GROUP BY 1
"""


@register(
    "doc_embedding_recall_eval",
    _doc_embedding_recall_oracle(),
    doc="Index-quality gate for the text -> embedding bridge (VERDICT "
    "r10 ask #5): per-probe recall@k of the IVF scale path "
    "(doc_embedding_ivf_topk's exact chain) against the brute-force "
    "ground truth (doc_embedding_topk's exact chain), both computed "
    "over ONE shared word2vec fit + pooling — the ann_recall_eval "
    "pattern re-based on pooled text vectors, so the bridge's "
    "quality number is externally verified per probe instead of "
    "living only in pytest. Output: (query_id, possible, hits, "
    "recall). Oracle = the two registered chains composed into one "
    "closed WITH over the shared dvec prefix. At 100 TB ground "
    "truth comes from this same fixed probe sample — never a full "
    "cross join.",
    tags=("similarity", "text", "eval", "train"),
)
def doc_embedding_recall_eval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.similarity import brute_force_topk

    dv = _doc_vectors(spark, sf_dir).transform(cut_lineage)
    scaled = dv.select(F.col("doc_id").alias("id"), "xu")
    gt = brute_force_topk(
        dv.filter(F.col("doc_id") < _DV_NQ),
        dv,
        k=_DV_TOPK,
        id_col="doc_id",
        vec_col="xu",
    ).select("query_id", "cand_id")
    ap = _div_ivf_topk(scaled).select(
        "query_id", "cand_id", F.lit(1).alias("__hit")
    )
    return (
        gt.join(ap, ["query_id", "cand_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("possible"),
            F.count("__hit").cast("long").alias("hits"),
        )
        .select(
            "query_id",
            "possible",
            "hits",
            F.round(
                F.col("hits").cast("double") / F.col("possible"), 6
            ).alias("recall"),
        )
    )


_TT_ANCHORS = 20


def _o_cos8(a: str, b: str, na: str, nb: str) -> str:
    dot = _O_DOT8.format(a=a, b=b)
    return f"CASE WHEN {na} * {nb} > 0 THEN {dot} / ({na} * {nb}) ELSE 0.0 END"


def _text_triplet_oracle() -> str:
    def cells(src, idc, vecc, nrmc, nprobe):
        return _O_TRIP_CELLS.format(
            src=src,
            idc=idc,
            vecc=vecc,
            nrmc=nrmc,
            nprobe=nprobe,
            cos=_o_cos8(f"t.{vecc}", "c.cvec", f"t.{nrmc}", "c.ncv"),
        )

    nrm = _O_NORM8.format(a="v.xu")
    return f"""
{_doc_vec_chain_sql()},
dlab AS (
  SELECT v.doc_id, v.xu, {nrm} AS nn, d.lang AS lbl
  FROM dvec v JOIN documents d ON d.doc_id = v.doc_id
),
cent AS (SELECT doc_id AS cid, xu AS cvec, nn AS ncv FROM dlab WHERE doc_id < 8),
a AS ({cells(
    f"SELECT doc_id AS anchor_id, xu AS qv, nn AS nq, lbl FROM dlab WHERE doc_id < {_TT_ANCHORS}",
    'anchor_id', 'qv', 'nq', 1)}),
c AS ({cells(
    "SELECT doc_id AS cand_id, xu AS cv, nn AS nc, lbl FROM dlab",
    'cand_id', 'cv', 'nc', 1)}),
s AS (
  SELECT a.anchor_id, a.lbl AS albl, c.cand_id, c.lbl AS clbl,
         round({_o_cos8('a.qv', 'c.cv', 'a.nq', 'c.nc')}, 6) AS sim
  FROM a JOIN c ON a.cell = c.cell AND a.anchor_id != c.cand_id
),
pos AS (
  SELECT anchor_id, cand_id AS pos_id, sim AS pos_sim FROM (
    SELECT anchor_id, cand_id, sim,
           row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, cand_id) AS rn
    FROM s WHERE albl = clbl
  ) WHERE rn = 1
),
neg AS (
  SELECT anchor_id, cand_id AS neg_id, sim AS neg_sim FROM (
    SELECT anchor_id, cand_id, sim,
           row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, cand_id) AS rn
    FROM s WHERE albl != clbl
  ) WHERE rn = 1
)
SELECT pos.anchor_id, pos_id, pos_sim, neg_id, neg_sim
FROM pos JOIN neg ON pos.anchor_id = neg.anchor_id
"""


@register(
    "text_triplet_mining",
    _text_triplet_oracle(),
    doc="Hard-negative triplet mining over REAL text-derived vectors — "
    "the metric-learning member of the bridge: triplet_mining's "
    "EXISTING hard_triplets operator (IVF cell-blocked candidates, "
    "per-anchor nearest same-label positive and nearest "
    "different-label hard negative, 6-decimal rounded sims with a "
    "total tie-break) run on the pooled word2vec document vectors "
    "with the documents table's LANGUAGE as the label — the data "
    "prep for fine-tuning a doc embedding to separate languages. "
    "8-dim integer micro folds stay exact in the double accumulator, "
    "so the operator runs UNMODIFIED (vec_col='xu', label_col="
    "'lang'); candidates bounded by cell population, anchors "
    "broadcast. The oracle chains fit -> pool -> cells -> mine as "
    "one closed WITH block.",
    tags=("similarity", "text", "train", "curation"),
)
def text_triplet_mining_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatasmallprice_spark.operators.similarity import _norm, hard_triplets

    docs = table(spark, sf_dir, "documents")
    dl = (
        _doc_vectors(spark, sf_dir)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .transform(cut_lineage)
    )
    centroids = dl.filter(F.col("doc_id") < 8).select(
        F.col("doc_id").alias("cid"),
        F.col("xu").alias("cvec"),
        _norm("xu").alias("ncv"),
    )
    return hard_triplets(
        dl.filter(F.col("doc_id") < _TT_ANCHORS),
        dl,
        centroids,
        nprobe=1,
        id_col="doc_id",
        vec_col="xu",
        label_col="lang",
    )
