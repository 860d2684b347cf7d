"""SGNS embedding fit — word2vec's skip-gram-with-negative-sampling
objective (Mikolov et al. 2013) over a (center, context, cnt) pair
corpus. operators/word2vec.py feeds it token co-occurrence windows;
the fit never cares what a "node" is, so integer ids and string word
keys ride through the same expressions, and the ANN stack
(operators/similarity.py) can serve the output.

The reference has no embedding trainer; this extends the engine's D5
training surface (linreg, GBT, distillation) to representation
learning, with the distill module's ALL-INTEGER discipline taken to a
model that is DATA-SIZED instead of driver-sized:

- distill holds 5 weights driver-side and injects them as literals;
  an embedding table is n x D x 2 numbers, so here the MODEL STATE IS
  A DATAFRAME (node, dim, u, v) and every GD iteration is joins +
  aggregates over it — the shape that still works when the vocabulary
  is billions (the driver never sees a weight).
- every number in the trajectory (init, dot products, the rational
  sigmoid, per-pair gradients, their sums, the update, the clamp) is
  a BIGINT in fixed-point units with explicitly-rounded integer
  divisions (pdiv/rdiv from operators/distill.py), so the DuckDB
  oracle replays the whole fit bit-identically on any engine build.

Objective (full-batch, deterministic): weighted squared error over
the rational sigmoid p = 0.5*(1 + z/(1+|z|)), z = u_c . v_o — the
same link/gradient chain as the distillation fit (the 2 and the 0.5
of dp/dz cancel), with y = 1 for skip-gram pairs and y = 0 for
deterministic negatives. True word2vec uses per-occurrence SGD with
sampled negatives; a replayable engine fit wants full-batch GD with a
FIXED negative set — "shared negatives" drawn once per positive pair
by an md5-slice hash (an engine-portable seeded-RNG stand-in) mod n,
mapped through the ranked node index. Collisions with the pair's own
endpoints are dropped (the standard filter).

Fixed-point layout (micro = 1e-6, milli sigmoid):

- embeddings u, v: micro-units, init md5-uniform in +/-EMB_INIT
  (0.1), clamped to +/-EMB_CLAMP (2.0) after every update.
- z = rdiv(sum_d u_cd * v_od, 1e6): micro; |z| <= D * 4e6 before the
  +/-1e8 clamp shared with distill.
- per-pair gradient per dim: d_u = rdiv(em * 1000 * v_od, dzsq) and
  symmetrically d_v — micro-units of (p - y) * emb / (1+|z|)^2 —
  each multiplied by the pair's exact weight cnt.
- update: u -= rdiv(LR * sum(cnt * d_u), W_c) where W_c = sum(cnt)
  over the node's training rows (its static corpus weight); same for
  v over W_o. LR = 4, T = SGNS_ITERS full-batch iterations.

Overflow audit (BIGINT max 9.2e18): |u*v| <= 4e12, the D-term dot sum
<= 3.2e13; |em| <= 1000 so |em*1000*v| <= 2e12 (pdiv doubles: 4e12);
per-row d <= 2e6, cnt*d <= 2e6*cnt; the (node, dim) gradient fold is
bounded by 2e6 * W_node, safe past 1e12 total corpus weight per node.

Scale shape: per iteration ONE (pair x dim) equi-join frame (bounded
by |train| * D), one (pair) groupBy for z, one join back for the
gradient rows, two (node, dim) aggregates, one update join — all
hash equi-joins on bounded keys (plan-guarded). The embedding frame
is localCheckpoint'ed every iteration (it is referenced twice per
round — the references-per-round > 1 cadence rule)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql.types import StringType

from bigdatasmallprice_spark.caching import cut_lineage
from bigdatasmallprice_spark.operators.distill import (
    DUCK_DIV,
    DZH,
    SCALE,
    SPARK_DIV,
    ZC_EXPR,
    dzsq_expr,
    pm_expr,
    rdiv,
)

EMB_DIM = 8
# trajectory length from MEASURED convergence (BASELINE.md r8): on the
# planted-partition quality probe, within-clique cosine is 0.541 at 4
# iterations vs 0.554 at 6 with top-1 retrieval already perfect at 3 —
# the last two rounds buy nothing the invariants can see, and each
# full-batch round costs a broadcast-join pass over the pair corpus
SGNS_ITERS = 4
NEG_PER_POS = 2
SGNS_LR = 4  # integer learning rate on micro-unit mean gradients
EMB_INIT = 100_000  # init range +/-0.1 in micro-units
EMB_CLAMP = 2_000_000  # embedding entries clamped to +/-2.0


# --- deterministic md5-slice hash ------------------------------------------
def _spark_h(key: str) -> str:
    return f"CAST(conv(substr(md5({key}), 1, 8), 16, 10) AS BIGINT)"


def _duck_h(key: str) -> str:
    return f"('0x' || substr(md5({key}), 1, 8))::BIGINT"


# --- shared per-iteration expression chain (op = engine div spelling) -------
# the clamp/sigmoid chain (ZC_EXPR, DZH, dzsq_expr, pm_expr) is imported
# from operators/distill.py — ONE source of truth for the trajectory-
# critical rational-sigmoid expressions across the distill/sgns/langid
# families (a tweak applied in one module must reach every engine pair)


def z_expr(op: str) -> str:
    """Pair dot product in micro-units from the summed uc*vo column."""
    return rdiv("dot", str(SCALE), op)


def du_expr(op: str) -> str:
    """cnt-weighted micro gradient for u[center, dim] on one pair row."""
    return f"cnt * {rdiv('em * 1000 * vo', 'dzsq', op)}"


def dv_expr(op: str) -> str:
    return f"cnt * {rdiv('em * 1000 * uc', 'dzsq', op)}"


def upd_expr(col: str, g: str, wt: str, op: str) -> str:
    """Clamped integer weight update from the summed gradient."""
    step = rdiv(f"{SGNS_LR} * coalesce({g}, CAST(0 AS BIGINT))", f"coalesce({wt}, CAST(1 AS BIGINT))", op)
    return f"least(greatest({col} - {step}, -{EMB_CLAMP}), {EMB_CLAMP})"


def _init_expr(side: str, h, node: str = "node", dim: str = "dim") -> str:
    """md5-uniform init in +/-EMB_INIT micro-units for one side.
    ``node``/``dim`` name the key columns so qualified references
    (the oracle's d.node/d.dim) are built directly, never by
    string-replacing rendered SQL."""
    key = (
        f"'{side}:' || CAST({node} AS VARCHAR) || ':' || CAST({dim} AS VARCHAR)"
    )
    return f"CAST({h(key)} % {2 * EMB_INIT + 1} - {EMB_INIT} AS BIGINT)"


def sgns_init(nodes: DataFrame, dim: int = EMB_DIM) -> DataFrame:
    """(node, ua, va): deterministic md5-uniform init in +/-EMB_INIT
    micro-units, Spark-side in ARRAY form (the oracle replays the
    identical per-(node, dim) values in long form — integer for
    integer)."""

    def arr(side: str) -> str:
        key = (
            f"'{side}:' || CAST(node AS STRING) || ':' || "
            "CAST(d AS STRING)"
        )
        h = _spark_h(key)
        return (
            f"transform(sequence(0, {dim - 1}), d -> "
            f"CAST({h} % {2 * EMB_INIT + 1} - {EMB_INIT} AS BIGINT))"
        )

    return nodes.selectExpr(
        "node", f"{arr('u')} AS ua", f"{arr('v')} AS va"
    )


def sgns_training_pairs(
    pairs: DataFrame,
    nodes: DataFrame,
    n_nodes: int,
    neg_per_pos: int = NEG_PER_POS,
) -> DataFrame:
    """Skip-gram (center, context, cnt) positives + md5-deterministic
    negatives -> the training table keyed uniquely on
    (center, other, ym) with exact summed weights. ``n_nodes`` is the
    node count (a model-sized scalar); negatives land on the ranked
    node index so the id space never matters."""
    from bigdatasmallprice_spark.operators.topk import (
        approx_quantile_buckets,
        banded_global_rank,
    )

    # the pair corpus feeds BOTH the positives branch and the negative
    # draw below — checkpoint our own reference once so the skip-gram
    # self-join doesn't execute twice inside the union (localCheckpoint,
    # never persist/unpersist, on what may be a caller-cached frame)
    pairs = pairs.transform(cut_lineage)
    pos = pairs.select(
        "center", F.col("context").alias("other"),
        F.lit(1000).cast("long").alias("ym"), "cnt",
    )
    # the node index is ROW_NUMBER() OVER (ORDER BY node) - 1, but |V|
    # is vocabulary-scale, so the sort is sharded: a MONOTONE
    # coarsening of the unbounded node domain makes a bounded band —
    # approx-quantile buckets for numeric ids, a 2-char prefix for
    # string tokens (a fixed-length prefix preserves UTF8-binary
    # order) — then
    # banded_global_rank (band ASC, tie=node) reproduces the global
    # rank bit-identically: (band, node) order equals (node) order
    # because the band is monotone in node. The oracle keeps the plain
    # window (same ranks by construction).
    nd = nodes.select(F.col("node"))
    if isinstance(nd.schema["node"].dataType, StringType):
        bucketed = nd.withColumn("bucket", F.substring("node", 1, 2))
    else:
        bucketed = approx_quantile_buckets(nd, "node", n_buckets=32)
    idx = banded_global_rank(
        bucketed, "bucket", "node", out_col="__rk", band_desc=False
    ).select(
        (F.col("__rk") - 1).cast("long").alias("nidx"),
        F.col("node").alias("neg"),
    )
    key = (
        "'ng:' || CAST(center AS STRING) || ':' || "
        "CAST(context AS STRING) || ':' || CAST(j AS STRING)"
    )
    neg = (
        pairs.select(
            "center", "context", "cnt",
            F.explode(
                F.array(*[F.lit(j).cast("long") for j in range(neg_per_pos)])
            ).alias("j"),
        )
        .selectExpr(
            "center", "context", "cnt",
            f"{_spark_h(key)} % {n_nodes} AS nidx",
        )
        .join(F.broadcast(idx), "nidx")
        .filter("neg <> center AND neg <> context")
        .select(
            "center", F.col("neg").alias("other"),
            F.lit(0).cast("long").alias("ym"), "cnt",
        )
    )
    return (
        pos.unionByName(neg)
        .groupBy("center", "other", "ym")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def sgns_fit(
    train: DataFrame,
    emb0: DataFrame,
    iters: int = SGNS_ITERS,
    dim: int = EMB_DIM,
) -> DataFrame:
    """Full-batch integer GD with the state in ARRAY form
    (node, ua, va, wtu, wtv): the pair dot product is an inline
    zip_with/aggregate (no pair-keyed groupBy at all), the two
    embedding joins move |train| rows instead of |train| x D, and the
    gradient rows explode once into their null-padded (node, dim)
    halves so ONE aggregate + ONE array-rebuild + ONE update join
    close the iteration. (The first cut kept (node, dim, u, v) long
    form — 3.4s/iteration at sf0.1 against 1.1s for this shape,
    measured; the oracle keeps long form, which is fine because every
    fold is an integer sum.) Returns the final (node, dim, u, v)
    frame. ``train`` is scanned once per iteration — persist it; the
    state is localCheckpoint'ed every round (referenced twice).

    The model frame is VOCABULARY-sized (one row per node, ~150 bytes
    at D=8), not corpus-sized, so it is broadcast into the two
    per-iteration train joins: that removes BOTH shuffles of the (much
    larger) pair corpus, leaving one gradient shuffle per round
    (14.6s -> 8.5s at sf0.1, measured). localCheckpoint frames report
    unknown stats, so AQE never makes this choice on its own."""
    op = SPARK_DIV
    wc = train.groupBy(F.col("center").alias("node")).agg(
        F.sum("cnt").cast("long").alias("wtu")
    )
    wo = train.groupBy(F.col("other").alias("node")).agg(
        F.sum("cnt").cast("long").alias("wtv")
    )
    cur = (
        emb0.join(wc, "node", "left")
        .join(wo, "node", "left")
        .select(
            "node", "ua", "va",
            F.expr("coalesce(wtu, CAST(1 AS BIGINT))").alias("wtu"),
            F.expr("coalesce(wtv, CAST(1 AS BIGINT))").alias("wtv"),
        )
        .transform(cut_lineage)
    )
    dot = (
        "CAST(aggregate(zip_with(ua, va, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x) AS BIGINT)"
    )
    du_i = f"cnt * {rdiv('em * 1000 * va[i]', 'dzsq', op)}"
    dv_i = f"cnt * {rdiv('em * 1000 * ua[i]', 'dzsq', op)}"
    # (r13 note: sharing ONE BroadcastExchange between the two lookups
    # via identical project(node, ua, va) build sides was tried and
    # does NOT work — Catalyst column pruning narrows each build side
    # back to the columns that join uses, so the canonicalized
    # exchanges differ and ReuseExchange never fires. Two narrow
    # broadcasts per round is the resting state.)
    for it in range(iters):
        p = (
            train.join(
                F.broadcast(cur.select(F.col("node").alias("center"), "ua")),
                "center",
            )
            .join(
                F.broadcast(cur.select(F.col("node").alias("other"), "va")),
                "other",
            )
            .selectExpr(
                "center", "other", "ym", "cnt", "ua", "va",
                f"{dot} AS dot",
            )
            .selectExpr(
                "center", "other", "ym", "cnt", "ua", "va",
                f"{z_expr(op)} AS z",
            )
            .selectExpr(
                "center", "other", "ym", "cnt", "ua", "va",
                f"{ZC_EXPR} AS zc",
            )
            .selectExpr(
                "center", "other", "ym", "cnt", "ua", "va",
                f"{pm_expr(op)} AS pm", f"{dzsq_expr(op)} AS dzsq",
            )
            .selectExpr(
                "center", "other", "cnt", "ua", "va", "dzsq",
                "(pm - ym) AS em",
            )
        )
        # each pair row explodes into its TWO null-padded gradient
        # halves (u-side keyed by center, v-side by other), each half
        # carrying its whole gradient ARRAY — so ONE node-keyed
        # aggregate with per-dim conditional sums serves both
        # embedding matrices on 2x|train| skinny rows (the first cut
        # exploded to 2*D*|train| (node, dim) rows through two
        # aggregates and an array rebuild — 3x the wall, measured)
        g2 = p.selectExpr(
            "explode(array("
            "named_struct('node', center, "
            f"'gu', transform(sequence(0, {dim - 1}), "
            f"i -> CAST({du_i} AS BIGINT)), "
            "'gv', CAST(NULL AS ARRAY<BIGINT>)), "
            "named_struct('node', other, "
            "'gu', CAST(NULL AS ARRAY<BIGINT>), "
            f"'gv', transform(sequence(0, {dim - 1}), "
            f"i -> CAST({dv_i} AS BIGINT))))) AS r"
        ).select("r.*")
        garr = g2.groupBy("node").agg(
            *[
                F.sum(F.expr(f"gu[{i}]")).cast("long").alias(f"gu{i}")
                for i in range(dim)
            ],
            *[
                F.sum(F.expr(f"gv[{i}]")).cast("long").alias(f"gv{i}")
                for i in range(dim)
            ],
        ).selectExpr(
            "node",
            "array(" + ", ".join(f"gu{i}" for i in range(dim)) + ") AS gua",
            "array(" + ", ".join(f"gv{i}" for i in range(dim)) + ") AS gva",
        )
        upd_u = (
            f"ua[i] - {rdiv(f'{SGNS_LR} * coalesce(gua[i], CAST(0 AS BIGINT))', 'wtu', op)}"
        )
        upd_v = (
            f"va[i] - {rdiv(f'{SGNS_LR} * coalesce(gva[i], CAST(0 AS BIGINT))', 'wtv', op)}"
        )
        # garr is vocabulary-sized like cur; the update join must
        # broadcast it EXPLICITLY — both inputs are lineage-truncated
        # (localCheckpoint) frames with unknown stats, so the planner
        # would otherwise fall back to a sort-merge join with two
        # extra exchanges per GD round
        cur = (
            cur.join(F.broadcast(garr), "node", "left")
            .selectExpr(
                "node",
                f"transform(sequence(0, {dim - 1}), i -> CAST("
                f"least(greatest({upd_u}, -{EMB_CLAMP}), {EMB_CLAMP})"
                " AS BIGINT)) AS ua",
                f"transform(sequence(0, {dim - 1}), i -> CAST("
                f"least(greatest({upd_v}, -{EMB_CLAMP}), {EMB_CLAMP})"
                " AS BIGINT)) AS va",
                "wtu", "wtv",
            )
        )
        # the state is referenced THREE times by the NEXT iteration
        # (two embedding projections + the update join) — checkpoint
        # eagerly per round (the references-per-round rule). The LAST
        # round's state is referenced exactly once (the final
        # posexplode), so its checkpoint would buy nothing: skipping
        # it saves one eager job and leaves the repeating per-round
        # unit visible in the returned plan (the plan guard reads it).
        if it < iters - 1:
            cur = cur.transform(cut_lineage)
    return cur.selectExpr(
        "node", "posexplode(arrays_zip(ua, va)) AS (pos, s)"
    ).select(
        "node",
        F.col("pos").cast("long").alias("dim"),
        F.col("s.ua").alias("u"),
        F.col("s.va").alias("v"),
    )


# --- DuckDB oracle: the identical unrolled trajectory ----------------------
def o_sgns_core_sql(
    iters: int = SGNS_ITERS,
    dim: int = EMB_DIM,
    neg_per_pos: int = NEG_PER_POS,
) -> str:
    """The corpus-independent tail of the SGNS oracle: everything
    downstream of ``sgp(center, context, cnt)`` and ``nodes(node)`` —
    deterministic negatives -> train -> md5 init -> ``iters`` unrolled
    GD blocks, ending with ``emb{iters}``. Callers prepend their own
    corpus prefix (token co-occurrence windows in
    operators/word2vec.py). CTEs read more than once are
    MATERIALIZED: DuckDB 1.0 inlines a CTE at each reference."""
    op = DUCK_DIV
    nkey = (
        "'ng:' || CAST(center AS VARCHAR) || ':' || "
        "CAST(context AS VARCHAR) || ':' || CAST(j AS VARCHAR)"
    )
    parts = [
        f"""nidx AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY node) - 1 AS BIGINT) AS nidx,
         node AS neg
  FROM nodes
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
negs AS (
  SELECT s.center, n.neg AS other, CAST(0 AS BIGINT) AS ym, s.cnt
  FROM (
    SELECT center, context, cnt, js.j,
           {_duck_h(nkey)} % (SELECT n FROM nn) AS hidx
    FROM sgp, (SELECT unnest(range({neg_per_pos})) AS j) js
  ) s JOIN nidx n ON n.nidx = s.hidx
  WHERE n.neg <> s.center AND n.neg <> s.context
),
train AS MATERIALIZED (
  SELECT center, other, ym, CAST(SUM(cnt) AS BIGINT) AS cnt FROM (
    SELECT center, context AS other, CAST(1000 AS BIGINT) AS ym, cnt
    FROM sgp
    UNION ALL SELECT * FROM negs
  ) GROUP BY 1, 2, 3
),
wcn AS (SELECT center AS node, CAST(SUM(cnt) AS BIGINT) AS wtu
        FROM train GROUP BY 1),
won AS (SELECT other AS node, CAST(SUM(cnt) AS BIGINT) AS wtv
        FROM train GROUP BY 1),
emb0 AS MATERIALIZED (
  SELECT d.node, d.dim,
         {_init_expr("u", _duck_h, node="d.node", dim="d.dim")} AS u,
         {_init_expr("v", _duck_h, node="d.node", dim="d.dim")} AS v,
         COALESCE(wcn.wtu, CAST(1 AS BIGINT)) AS wtu,
         COALESCE(won.wtv, CAST(1 AS BIGINT)) AS wtv
  FROM (SELECT node, CAST(ds.dim AS BIGINT) AS dim
        FROM nodes, (SELECT unnest(range({dim})) AS dim) ds) d
  LEFT JOIN wcn ON wcn.node = d.node
  LEFT JOIN won ON won.node = d.node
)"""
    ]
    for t in range(1, iters + 1):
        parts.append(f"""pd{t} AS MATERIALIZED (
  SELECT p.center, p.other, p.ym, p.cnt, a.dim, a.u AS uc, b.v AS vo
  FROM train p
  JOIN emb{t - 1} a ON a.node = p.center
  JOIN emb{t - 1} b ON b.node = p.other AND b.dim = a.dim
),
z{t} AS (
  SELECT center, other, ym, cnt,
         CAST(SUM(uc * vo) AS BIGINT) AS dot
  FROM pd{t} GROUP BY 1, 2, 3, 4
),
zc{t} AS (SELECT center, other, ym, cnt, {ZC_EXPR} AS zc
          FROM (SELECT center, other, ym, cnt, {z_expr(op)} AS z FROM z{t})),
em{t} AS (
  SELECT center, other, ym, dzsq, (pm - ym) AS em FROM (
    SELECT center, other, ym,
           {pm_expr(op)} AS pm, {dzsq_expr(op)} AS dzsq
    FROM zc{t}
  )
),
g{t} AS MATERIALIZED (
  SELECT pd.center, pd.other, pd.dim,
         CAST({du_expr(op)} AS BIGINT) AS du,
         CAST({dv_expr(op)} AS BIGINT) AS dv
  FROM (SELECT p.*, e.dzsq, e.em FROM pd{t} p
        JOIN em{t} e ON e.center = p.center AND e.other = p.other
                    AND e.ym = p.ym) pd
),
gu{t} AS (SELECT center AS node, dim, CAST(SUM(du) AS BIGINT) AS gu
          FROM g{t} GROUP BY 1, 2),
gv{t} AS (SELECT other AS node, dim, CAST(SUM(dv) AS BIGINT) AS gv
          FROM g{t} GROUP BY 1, 2),
emb{t} AS MATERIALIZED (
  SELECT m.node, m.dim,
         CAST({upd_expr("m.u", "gu.gu", "m.wtu", op)} AS BIGINT) AS u,
         CAST({upd_expr("m.v", "gv.gv", "m.wtv", op)} AS BIGINT) AS v,
         m.wtu, m.wtv
  FROM emb{t - 1} m
  LEFT JOIN gu{t} gu ON gu.node = m.node AND gu.dim = m.dim
  LEFT JOIN gv{t} gv ON gv.node = m.node AND gv.dim = m.dim
)""")
    return ",\n".join(parts)
