"""SGNS embedding fit (operators/sgns.py): training-table construction,
trajectory determinism, loss direction, bounds, and the pinned
representation-quality invariant — embeddings trained on a planted
two-clique pair corpus must place within-clique pairs closer than
cross-clique pairs and retrieve within-clique top-1 neighbors."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from bigdatasmallprice_spark.operators.sgns import (
    EMB_CLAMP,
    EMB_DIM,
    EMB_INIT,
    NEG_PER_POS,
    sgns_fit,
    sgns_init,
    sgns_training_pairs,
)


def _nodes(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "node long")


def _two_clique_corpus(spark):
    """Two cliques {0..4} and {10..14} joined by one bridge pair (4, 10):
    the planted-partition skip-gram corpus, every ordered within-clique
    (center, context) pair once plus the bridge."""
    cliques = [range(5), range(10, 15)]
    rows = [(a, b, 1) for c in cliques for a in c for b in c if a != b]
    rows.append((4, 10, 1))
    ids = list(range(5)) + list(range(10, 15))
    nodes = _nodes(spark, ids)
    pairs = spark.createDataFrame(rows, "center long, context long, cnt long")
    train = sgns_training_pairs(pairs, nodes, len(ids))
    return nodes, train, ids


def _cos(a, b):
    num = sum(x * y for x, y in zip(a, b))
    da = math.sqrt(sum(x * x for x in a))
    db = math.sqrt(sum(x * x for x in b))
    return num / (da * db) if da and db else 0.0


def test_training_pairs_unique_keys_and_negative_hygiene(spark):
    nodes, train, ids = _two_clique_corpus(spark)
    rows = train.collect()
    keys = [(r.center, r.other, r.ym) for r in rows]
    assert len(keys) == len(set(keys))
    assert {r.ym for r in rows} == {0, 1000}
    # negatives never collide with their pair's center (the context
    # collision is filtered per-source-pair, so only the center
    # constraint survives the (center, other) re-aggregation)
    assert all(r.center != r.other for r in rows if r.ym == 0)
    npos = sum(1 for r in rows if r.ym == 1000)
    nneg = sum(1 for r in rows if r.ym == 0)
    assert 0 < nneg <= NEG_PER_POS * npos


def test_init_is_deterministic_and_bounded(spark):
    nodes = _nodes(spark, [1, 2, 3])
    a = sorted(map(tuple, sgns_init(nodes).collect()))
    b = sorted(map(tuple, sgns_init(nodes).collect()))
    assert a == b
    for _, ua, va in a:
        assert len(ua) == EMB_DIM and len(va) == EMB_DIM
        assert all(abs(x) <= EMB_INIT for x in ua + va)
    # the u and v sides must start distinct (symmetric init makes
    # u.v degenerate)
    assert any(ua != va for _, ua, va in a)


def test_fit_is_deterministic_and_clamped(spark):
    nodes, train, ids = _two_clique_corpus(spark)
    train = train.persist()
    try:
        a = sorted(map(tuple, sgns_fit(train, sgns_init(nodes)).collect()))
        b = sorted(map(tuple, sgns_fit(train, sgns_init(nodes)).collect()))
    finally:
        train.unpersist()
    assert a == b
    assert len(a) == len(ids) * EMB_DIM
    assert all(abs(r[2]) <= EMB_CLAMP and abs(r[3]) <= EMB_CLAMP for r in a)


def test_fit_moves_positive_pairs_toward_positive_dot(spark):
    """The fit must reduce the squared-error loss: mean sigmoid input
    z over POSITIVE pairs strictly increases from init to the trained
    state (y = 1 pulls p up), and the trained mean z over positives
    exceeds the mean over negatives."""
    nodes, train, ids = _two_clique_corpus(spark)
    train = train.persist()

    def mean_z(emb, ym):
        u = {
            r.node: {}
            for r in emb.select("node").distinct().collect()
        }
        v = {n: {} for n in u}
        for r in emb.collect():
            u[r.node][r.dim] = r.u
            v[r.node][r.dim] = r.v
        zs = [
            sum(
                u[r.center][d] * v[r.other][d] for d in range(EMB_DIM)
            )
            for r in train.collect()
            if r.ym == ym
        ]
        return sum(zs) / len(zs)

    emb0_long = sgns_init(nodes).selectExpr(
        "node", "posexplode(arrays_zip(ua, va)) AS (pos, s)"
    ).select(
        "node",
        F.col("pos").cast("long").alias("dim"),
        F.col("s.ua").alias("u"),
        F.col("s.va").alias("v"),
    )
    try:
        fit = sgns_fit(train, sgns_init(nodes))
        z0_pos = mean_z(emb0_long, 1000)
        zt_pos = mean_z(fit, 1000)
        zt_neg = mean_z(fit, 0)
    finally:
        train.unpersist()
    assert zt_pos > z0_pos
    assert zt_pos > zt_neg


def test_quality_invariant_within_clique_beats_cross(spark):
    """The pinned representation-quality bar: on the planted two-clique
    graph, (1) mean within-clique cosine of the trained input
    embeddings exceeds mean cross-clique cosine, and (2) top-1
    neighbor retrieval lands within the node's own clique for a
    majority of nodes — strictly better than the cross-heavy base
    rate a random embedding gives."""
    nodes, train, ids = _two_clique_corpus(spark)
    train = train.persist()
    try:
        fit = sgns_fit(train, sgns_init(nodes)).collect()
    finally:
        train.unpersist()
    emb = {n: [0] * EMB_DIM for n in ids}
    for r in fit:
        emb[r.node][r.dim] = r.u
    same, cross = [], []
    for i in ids:
        for j in ids:
            if i < j:
                c = _cos(emb[i], emb[j])
                (same if (i < 5) == (j < 5) else cross).append(c)
    assert sum(same) / len(same) > sum(cross) / len(cross)
    hits = 0
    for i in ids:
        best = max((j for j in ids if j != i), key=lambda j: _cos(emb[i], emb[j]))
        hits += (i < 5) == (best < 5)
    assert hits > len(ids) / 2


def test_trained_embeddings_serve_through_the_ann_stack(spark):
    """The loop-closing claim made concrete: the (node, dim, u) output
    of the fit pivots into the engine's standard embedding shape and
    flows through the REAL ANN operator (brute_force_topk) unchanged —
    and the retrieval it returns respects the planted communities for
    a majority of query nodes."""
    from bigdatasmallprice_spark.operators.similarity import (
        brute_force_topk,
    )

    nodes, train, ids = _two_clique_corpus(spark)
    train = train.persist()
    try:
        fit = sgns_fit(train, sgns_init(nodes))
    finally:
        train.unpersist()
    vecs = fit.groupBy("node").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, u))), "
            "s -> CAST(s.u AS DOUBLE) / 1e6)"
        ).alias("embedding")
    ).select(F.col("node").alias("vec_id"), "embedding")
    top1 = brute_force_topk(vecs, vecs, k=1)
    hits = sum(
        (r.query_id < 5) == (r.cand_id < 5) for r in top1.collect()
    )
    assert hits > len(ids) / 2
