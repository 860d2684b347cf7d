"""Operator-level semantics tests (SURVEY §5 layer 2)."""

from __future__ import annotations

import datetime as dt
import math
import random

import pytest
from pyspark.sql import functions as F

from bigdatasmallprice_spark.functions.metrics import regression_metrics
from bigdatasmallprice_spark.functions.tariffs import energiepreis, gesamttarif, netzpreis
from bigdatasmallprice_spark.operators.splits import (
    rolling_split_bounds,
    split_by_dates,
    split_label_by_ratio,
)
from bigdatasmallprice_spark.operators.upsert import upsert_do_nothing
from bigdatasmallprice_spark.operators.windows import lag_features, partitioned_lag_stitch

UTC = dt.timezone.utc


@pytest.fixture(scope="module")
def series(spark):
    rng = random.Random(3)
    rows = [
        (dt.datetime(2026, 1, 1) + dt.timedelta(hours=i), round(rng.gauss(50, 10), 2))
        for i in range(2000)
        if rng.random() > 0.03  # gaps
    ]
    return spark.createDataFrame(rows, "t timestamp, v double")


def test_partitioned_lag_stitch_equals_global_window(series):
    """The scale-path lag (per-month windows + overlap repair) must be
    row-identical to the single-partition global window."""
    lags = [1, 24, 168]
    glob = lag_features(series, "v", lags, order_by=["t"]).orderBy("t").collect()
    stitched = (
        partitioned_lag_stitch(
            series, "v", lags, time_col="t", bucket_expr=F.date_trunc("month", F.col("t"))
        )
        .orderBy("t")
        .collect()
    )
    assert len(glob) == len(stitched)
    for g, s in zip(glob, stitched):
        for n in lags:
            assert g[f"v_lag_{n}"] == s[f"v_lag_{n}"], (g["t"], n)


def test_upsert_first_writer_wins(spark):
    existing = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0)], "k long, d string, v double"
    )
    batch = spark.createDataFrame(
        [(2, "a", 99.0), (3, "a", 30.0), (3, "a", 31.0)], "k long, d string, v double"
    )
    out = upsert_do_nothing(existing, batch, keys=["k", "d"], order_by=["v"]).collect()
    got = {(r.k, r.v) for r in out}
    # key 2 keeps the EXISTING value; batch-internal dup of key 3 keeps first by order
    assert got == {(1, 10.0), (2, 20.0), (3, 30.0)}
    # idempotency: re-upserting the same batch changes nothing
    again = upsert_do_nothing(
        upsert_do_nothing(existing, batch, ["k", "d"], ["v"]), batch, ["k", "d"], ["v"]
    ).collect()
    assert {(r.k, r.v) for r in again} == got


def test_ratio_split_invariants(series):
    lab = split_label_by_ratio(series, ["t"], 0.7, 0.15)
    counts = {r["split"]: r["n"] for r in lab.groupBy("split").agg(F.count("*").alias("n")).collect()}
    n = sum(counts.values())
    assert counts["train"] == int(n * 0.7)
    assert counts["val"] == int(n * 0.15)
    bounds = {
        r["split"]: (r["mn"], r["mx"])
        for r in lab.groupBy("split").agg(F.min("t").alias("mn"), F.max("t").alias("mx")).collect()
    }
    assert bounds["train"][1] < bounds["val"][0] < bounds["val"][1] < bounds["test"][0]


def test_calendar_and_rolling_split(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2026, 1, 1) + dt.timedelta(days=i),) for i in range(60)], "t timestamp"
    )
    train_end, val_end = rolling_split_bounds(df, "t", test_days=7, val_days=14)
    lab = split_by_dates(df, "t", train_end, val_end)
    counts = {r["split"]: r["n"] for r in lab.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert counts["test"] == 7 and counts["val"] == 14
    assert counts["train"] == 60 - 21


# tariff goldens (reference test_tariff_formulas.py:33-152)
def test_tariff_goldens(spark):
    df = spark.createDataFrame(
        [(150.0, 80.0), (900.0, 10000.0), (525.0, -500.0)], "load double, epex double"
    )
    out = df.select(
        F.round(netzpreis(F.col("load")), 4).alias("netz"),
        F.round(energiepreis(F.col("epex")), 4).alias("energie"),
    ).collect()
    # load=150 -> L_norm=0 -> raw 0 -> clipped to floor 5.0
    assert out[0].netz == 5.0
    # EPEX=80 -> 0.15*8+2 = 3.2 (within [3,13])
    assert out[0].energie == 3.2
    # load=900 -> L_norm=1 -> 15 -> within [5,25] -> 15
    assert out[1].netz == 15.0
    # EPEX=10000 -> 152 -> ceil 13.0
    assert out[1].energie == 13.0
    # load=525 -> L_norm=0.5 -> 3.75 -> clipped up to 5.0
    assert out[2].netz == 5.0
    # EPEX=-500 -> -5.5 -> floor 3.0
    assert out[2].energie == 3.0


def test_gesamttarif_sum(spark):
    df = spark.createDataFrame([(500.0, 120.0)], "load double, epex double")
    r = df.select(
        (netzpreis(F.col("load")) + energiepreis(F.col("epex"))).alias("a"),
        gesamttarif(netzpreis(F.col("load")), energiepreis(F.col("epex"))).alias("b"),
    ).collect()[0]
    assert r.a == r.b


# metric goldens (reference test_model.py:66-120)
def test_metrics_mape_masking(spark):
    df = spark.createDataFrame(
        [(100.0, 110.0), (5.0, 50.0), (-20.0, -10.0), (9.0, 0.0)], "y double, yhat double"
    )
    m = regression_metrics(df, "y", "yhat").collect()[0]
    # MAE over all 4 rows: (10+45+10+9)/4
    assert math.isclose(m.mae, 18.5)
    # MAPE only rows |y|>=10: (10/100 + 10/20)/2 = 0.3 -> 30%
    assert math.isclose(m.mape_pct, 30.0)
    assert m.n_mape == 2


def test_metrics_all_masked_is_null(spark):
    df = spark.createDataFrame([(1.0, 2.0), (-3.0, 0.0)], "y double, yhat double")
    m = regression_metrics(df, "y", "yhat").collect()[0]
    assert m.mape_pct is None
    assert m.n_mape == 0


# ---------------------------------------------------------------------------
# as-of join (operators/asof.py)
# ---------------------------------------------------------------------------


def test_asof_backward_semantics(spark):
    """Most-recent-prior match per key; equal timestamps match; probes
    before any source row get NULL; keys never cross."""
    T = dt.datetime
    probe = spark.createDataFrame(
        [
            (1, T(2026, 1, 1, 0, 0), "p0"),   # before any source -> NULL
            (1, T(2026, 1, 1, 1, 0), "p1"),   # == s1 ts -> matches s1
            (1, T(2026, 1, 1, 2, 30), "p2"),  # between s1 and s2 -> s1
            (1, T(2026, 1, 1, 9, 0), "p3"),   # after s2 -> s2
            (2, T(2026, 1, 1, 5, 0), "q0"),   # other key: only its own source
        ],
        "user_id long, ts timestamp, tag string",
    )
    source = spark.createDataFrame(
        [
            (1, T(2026, 1, 1, 1, 0), 100),
            (1, T(2026, 1, 1, 3, 0), 300),
            (2, T(2026, 1, 1, 4, 0), 400),
        ],
        "user_id long, ts timestamp, pv long",
    )
    from bigdatasmallprice_spark.operators.asof import asof_join_backward

    out = {
        r["tag"]: r["pv"]
        for r in asof_join_backward(probe, source, ["user_id"], "ts", ["pv"]).collect()
    }
    assert out == {"p0": None, "p1": 100, "p2": 100, "p3": 300, "q0": 400}


def test_asof_join_no_cartesian_in_plan(spark):
    probe = spark.createDataFrame([(1, dt.datetime(2026, 1, 1), "x")], "k long, ts timestamp, t string")
    source = spark.createDataFrame([(1, dt.datetime(2026, 1, 1), 5)], "k long, ts timestamp, v long")
    from bigdatasmallprice_spark.operators.asof import asof_join_backward

    plan = asof_join_backward(probe, source, ["k"], "ts", ["v"])._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# IVF ANN (operators/similarity.py)
# ---------------------------------------------------------------------------


def test_ivf_topk_structure_and_recall(spark):
    """Each query yields <=k ranked candidates; rank-1 IVF hit is the
    true nearest neighbor for most queries (nprobe=2 of 4 cells on
    clustered data -> high recall)."""
    from bigdatasmallprice_spark.operators.similarity import (
        _norm,
        ann_ivf_topk,
        brute_force_topk,
    )

    rng = random.Random(11)
    centers = [[10.0 if d == c * 4 else 0.0 for d in range(16)] for c in range(4)]
    rows = []
    for i in range(200):
        c = centers[i % 4]
        rows.append((i, [round(v + rng.gauss(0, 1.0), 3) for v in c]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cvec"),
        _norm("embedding").alias("ncv"),
    )
    q = emb.filter(F.col("vec_id") < 12)
    ivf = ann_ivf_topk(q, emb, cent, k=3, nprobe=2).collect()
    per_q = {}
    for r in ivf:
        per_q.setdefault(r["query_id"], []).append(r)
    assert all(len(v) <= 3 for v in per_q.values())
    for v in per_q.values():
        assert [x["rank"] for x in sorted(v, key=lambda x: x["rank"])] == list(range(1, len(v) + 1))

    bf = {r["query_id"]: r["cand_id"] for r in brute_force_topk(q, emb, k=1).collect()}
    ivf1 = {qid: min(v, key=lambda x: x["rank"])["cand_id"] for qid, v in per_q.items()}
    hits = sum(1 for qid in bf if ivf1.get(qid) == bf[qid])
    assert hits >= int(0.8 * len(bf)), f"IVF rank-1 recall too low: {hits}/{len(bf)}"


# ---------------------------------------------------------------------------
# skew mitigation (operators/skew.py)
# ---------------------------------------------------------------------------


def test_salted_agg_equals_plain_agg(spark):
    """Skewed data (90% one key): salted two-phase agg must be exactly
    the plain agg, and phase 1 must actually fan the hot key out."""
    from bigdatasmallprice_spark.operators.skew import salted_agg

    rng = random.Random(7)
    rows = [("hot" if rng.random() < 0.9 else f"k{rng.randrange(20)}", rng.randrange(1000))
            for _ in range(20000)]
    df = spark.createDataFrame(rows, "k string, v long")
    got = {
        r["k"]: (r["v_sum"], r["n"], r["v_min"], r["v_max"])
        for r in salted_agg(
            df, ["k"],
            {"v_sum": ("sum", "v"), "n": ("count", "v"),
             "v_min": ("min", "v"), "v_max": ("max", "v")},
            n_salts=8,
        ).collect()
    }
    expect = {
        r["k"]: (r["v_sum"], r["n"], r["v_min"], r["v_max"])
        for r in df.groupBy("k").agg(
            F.sum("v").alias("v_sum"), F.count("v").alias("n"),
            F.min("v").alias("v_min"), F.max("v").alias("v_max"),
        ).collect()
    }
    assert got == expect


def test_salted_join_equals_plain_join(spark):
    from bigdatasmallprice_spark.operators.skew import salted_join_left_hot

    rng = random.Random(9)
    left = spark.createDataFrame(
        [("hot" if rng.random() < 0.8 else f"k{rng.randrange(10)}", i) for i in range(5000)],
        "k string, lv long",
    )
    right = spark.createDataFrame(
        [(f"k{i}", i * 100) for i in range(10)] + [("hot", 999)], "k string, rv long"
    )
    got = sorted(
        (r["k"], r["lv"], r["rv"])
        for r in salted_join_left_hot(left, right, ["k"], n_salts=4).collect()
    )
    expect = sorted((r["k"], r["lv"], r["rv"]) for r in left.join(right, "k").collect())
    assert got == expect


# ---------------------------------------------------------------------------
# date-partitioned bronze + partition pruning (SURVEY X1)
# ---------------------------------------------------------------------------


def test_bronze_partition_pruning(spark, tmp_path):
    from bigdatasmallprice_spark.catalog import read_bronze, write_bronze

    rows = [
        (dt.datetime(2026, 1, 1 + d, h), float(d * 24 + h))
        for d in range(10)
        for h in range(24)
    ]
    df = spark.createDataFrame(rows, "time timestamp, v double")
    path = str(tmp_path / "bronze_events")
    write_bronze(df, path, "time", mode="overwrite")

    br = read_bronze(spark, path)
    assert br.count() == 240
    # a 3-day predicate must prune to 3 partition directories
    q = br.filter(
        (F.col("p_date") >= dt.date(2026, 1, 3)) & (F.col("p_date") <= dt.date(2026, 1, 5))
    )
    assert q.count() == 72
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "p_date" in m.group(1), plan  # predicate reached the scan as a partition filter


# ---------------------------------------------------------------------------
# approximate aggregates (the 100 TB substitutes for exact DISTINCT/median)
# ---------------------------------------------------------------------------


def test_approx_aggregates_within_bounds(spark):
    """approx_count_distinct (HLL++) and approx percentile must land
    within their configured error of the exact answers — these replace
    exact DISTINCT/median when the exact shuffle would be the bottleneck."""
    n = 50000
    df = spark.range(n).selectExpr("id % 9973 AS k", "CAST(id % 1000 AS DOUBLE) AS v")
    row = df.agg(
        F.approx_count_distinct("k", rsd=0.02).alias("acd"),
        F.countDistinct("k").alias("cd"),
        F.percentile_approx("v", 0.5, 10000).alias("p50"),
        F.expr("percentile(v, 0.5)").alias("p50_exact"),
    ).collect()[0]
    assert abs(row["acd"] - row["cd"]) / row["cd"] < 0.05
    assert abs(row["p50"] - row["p50_exact"]) <= 1.0


# ---------------------------------------------------------------------------
# connected components (near-dup cluster collapse)
# ---------------------------------------------------------------------------


def test_connected_components_known_graph(spark):
    """Chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    triangle 10-11-12, isolated pair 20-21 — every node must get the
    component's minimum id as its label."""
    from bigdatasmallprice_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a: long, id_b: long",
    )
    got = {
        (r["node"], r["label"])
        for r in connected_components(pairs, "id_a", "id_b").collect()
    }
    want = {(1, 1), (2, 1), (3, 1), (4, 1),
            (10, 10), (11, 10), (12, 10),
            (20, 20), (21, 20)}
    assert got == want


# ---------------------------------------------------------------------------
# bronze compaction (small-files maintenance)
# ---------------------------------------------------------------------------


def test_compact_bronze_reduces_files_preserves_rows(spark, tmp_path):
    """Ten dedup-append runs leave ~10 files per date partition; after
    compaction each partition holds one target-sized file and the table
    content is unchanged."""
    import datetime as dt
    import glob

    from bigdatasmallprice_spark.catalog import compact_bronze, read_bronze, write_bronze

    path = str(tmp_path / "bronze")
    base = dt.datetime(2026, 3, 1)
    for run in range(10):
        rows = [
            (base + dt.timedelta(days=d, minutes=run), float(run * 100 + d))
            for d in range(3)
        ]
        df = spark.createDataFrame(rows, "time timestamp, v double")
        write_bronze(df, path, "time")

    before = {
        p: len(glob.glob(f"{path}/p_date={p}/*.parquet"))
        for p in ("2026-03-01", "2026-03-02", "2026-03-03")
    }
    assert all(n >= 10 for n in before.values()), before
    expect = sorted((str(r["time"]), r["v"]) for r in read_bronze(spark, path).collect())

    after = compact_bronze(spark, path)
    assert all(n == 1 for n in after.values()), after
    got = sorted((str(r["time"]), r["v"]) for r in read_bronze(spark, path).collect())
    assert got == expect and len(got) == 30


def test_multiformat_roundtrip_preserves_schema_and_rows(spark, tmp_path):
    """The engine's sinks are not parquet-only: ORC, JSON-lines, and
    headered CSV round-trip the same frame (CSV/JSON need an explicit
    read schema — inference is banned by the fixed-DDL discipline)."""
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.datetime(2026, 1, 1, 12), "a", 1.5, 7), (dt.datetime(2026, 1, 2), "b", -2.25, 9)],
        "time timestamp, k string, v double, n long",
    )
    expect = sorted(map(tuple, df.collect()))
    for fmt in ("orc", "json", "csv"):
        p = str(tmp_path / fmt)
        w = df.write.mode("overwrite")
        (w.option("header", True) if fmt == "csv" else w).format(fmt).save(p)
        r = spark.read.schema(df.schema)
        back = (r.option("header", True) if fmt == "csv" else r).format(fmt).load(p)
        assert back.schema == df.schema, (fmt, back.schema)
        assert sorted(map(tuple, back.collect())) == expect, fmt


# ---------------------------------------------------------------------------
# backfill driver (idempotent date-range ingestion) + incremental rollup
# ---------------------------------------------------------------------------


def test_backfill_is_idempotent_and_retries(spark, tmp_path):
    import datetime as dt

    from bigdatasmallprice_spark.ingest import backfill_dates

    days = [dt.date(2026, 4, 1) + dt.timedelta(days=i) for i in range(3)]
    calls = {"n": 0}

    def fetch(d):
        calls["n"] += 1
        if d == days[1] and calls["n"] < 4:  # flaky day: fails twice, then succeeds
            raise ConnectionError("boom")
        base = dt.datetime(d.year, d.month, d.day)
        rows = [
            {"time": base + dt.timedelta(hours=h), "k": "a", "v": float(h)} for h in range(4)
        ]
        # duplicate key inside the batch: first row must win
        rows.append({"time": base, "k": "a", "v": 999.0})
        return rows

    path = str(tmp_path / "bronze")
    schema = "time timestamp, k string, v double"
    naps = []
    first = backfill_dates(
        spark, fetch, days, path, schema, keys=["time", "k"], sleep=naps.append
    )
    assert first == {days[0]: 4, days[1]: 4, days[2]: 4}, first
    assert naps == [1.0, 2.0], naps  # exponential backoff actually happened

    again = backfill_dates(
        spark, fetch, days, path, schema, keys=["time", "k"], sleep=naps.append
    )
    assert again == {d: 0 for d in days}, again  # DO NOTHING on re-run

    got = spark.read.parquet(path)
    assert got.count() == 12
    # first-writer-wins: the dup-key row (v=999) never landed
    assert got.filter(F.col("v") == 999.0).count() == 0


def test_incremental_rollup_splices_refresh_window(spark):
    import datetime as dt

    from bigdatasmallprice_spark.operators.rollup import hourly_rollup, incremental_rollup

    base = dt.datetime(2026, 5, 1)
    rows = [
        (base + dt.timedelta(minutes=15 * i), "t", float(i)) for i in range(96 * 4)
    ]  # 4 days of 15-min data
    df = spark.createDataFrame(rows, "time timestamp, k string, v double")
    full = hourly_rollup(df, "time", "v", ["k"])

    # materialize from the first 3 days, then late rows land in day 3
    # and day 4 arrives; the refresh window covers [day3, day5)
    cutoff = base + dt.timedelta(days=3)
    stale = hourly_rollup(df.filter(F.col("time") < cutoff), "time", "v", ["k"])
    refreshed = incremental_rollup(
        df, stale, "time", "v", ["k"], cutoff, base + dt.timedelta(days=5)
    )
    got = sorted(map(tuple, refreshed.collect()))
    expect = sorted(map(tuple, full.collect()))
    assert got == expect and len(got) == 96


def test_approx_quantile_buckets_near_equal_sizes(spark):
    """The sketch-based decile assignment (no global sort) must produce
    buckets within ~5% of n/10 and order-consistent assignment (higher
    value => same or higher bucket)."""
    from bigdatasmallprice_spark.operators.topk import approx_quantile_buckets

    n = 40000
    df = spark.range(n).selectExpr("CAST(pmod(id * 48271 + 11, 99991) AS DOUBLE) AS v")
    out = approx_quantile_buckets(df, "v", n_buckets=10).persist()
    sizes = {r["bucket"]: r["count"] for r in out.groupBy("bucket").count().collect()}
    assert set(sizes) == set(range(1, 11)), sizes
    assert all(abs(c - n / 10) / (n / 10) < 0.05 for c in sizes.values()), sizes
    # monotone: the max value of bucket b never exceeds the min of b+1
    stats = {
        r["bucket"]: (r["lo"], r["hi"])
        for r in out.groupBy("bucket").agg(F.min("v").alias("lo"), F.max("v").alias("hi")).collect()
    }
    for b in range(1, 10):
        assert stats[b][1] <= stats[b + 1][0], (b, stats)
    out.unpersist()


def test_training_features_stitched_identical_sf01(spark):
    """VERDICT r1 item 8: the zero-global-window scale path produces the
    exact rows of the flagship (same values bit-for-bit, since every
    rolling mean divides identical exact integer sums)."""
    from bigdatasmallprice_spark.queries.timeseries import (
        training_features,
        training_features_stitched,
    )

    sf = "/root/testdata/sf0.1"
    a = training_features(spark, sf)
    b = training_features_stitched(spark, sf)
    assert a.columns == b.columns
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb


def test_quantized_ann_recall_vs_exact(spark):
    """int8 quantization of normalized vectors keeps top-5 recall high
    (error per cosine <= ~2/127); exact integer dots, no float order."""
    from bigdatasmallprice_spark.operators.similarity import (
        brute_force_topk,
        quantized_topk,
    )
    from bigdatasmallprice_spark.queries.core import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    probes = emb.filter(emb.vec_id < 10)
    exact = brute_force_topk(probes, emb, k=5).collect()
    quant = quantized_topk(probes, emb, k=5).collect()
    by_q_exact, by_q_quant = {}, {}
    for r in exact:
        by_q_exact.setdefault(r.query_id, set()).add(r.cand_id)
    for r in quant:
        by_q_quant.setdefault(r.query_id, set()).add(r.cand_id)
    assert set(by_q_exact) == set(by_q_quant)
    recalls = [
        len(by_q_exact[q] & by_q_quant[q]) / len(by_q_exact[q]) for q in by_q_exact
    ]
    assert sum(recalls) / len(recalls) >= 0.8, f"mean recall@5 too low: {recalls}"


def test_kmeans_fit_reduces_sse(spark):
    """Each Lloyd round must not increase the within-cluster SSE; the
    trained centroids should beat the fixed id<k seed assignment."""
    from pyspark.sql import functions as F

    from bigdatasmallprice_spark.operators.similarity import (
        assign_cells,
        centroid_arrays,
        kmeans_fit_scaled,
        update_centroids,
        with_scaled_units,
    )
    from bigdatasmallprice_spark.queries.core import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    scaled = with_scaled_units(emb.select("vec_id", "embedding"))

    # independent SQL distance (not the numpy path under test)
    sq_dist = F.expr(
        "aggregate(zip_with(xu, cu, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )

    def sse(cent):
        a = scaled.crossJoin(F.broadcast(cent)).withColumn("d", sq_dist)
        return (
            a.groupBy("id").agg(F.min("d").alias("dmin")).agg(F.sum("dmin")).first()[0]
        )

    seed = scaled.filter(F.col("id") < 8).select(
        F.col("id").alias("cid"), F.col("xu").alias("cu")
    )
    sse0 = sse(seed)
    c1 = centroid_arrays(update_centroids(assign_cells(scaled, seed)))
    sse1 = sse(c1)
    c2 = centroid_arrays(update_centroids(assign_cells(scaled, c1)))
    sse2 = sse(c2)
    assert sse1 <= sse0 and sse2 <= sse1, (sse0, sse1, sse2)
    assert sse2 < sse0  # training actually moved the quantizer

    out = kmeans_fit_scaled(emb, k=8, iters=2)
    rows = out.collect()
    assert {r.dim for r in rows} == set(range(64))
    n_by_cid = {r.cid: r.n_assigned for r in rows}
    assert sum(n_by_cid.values()) == emb.count()  # every vector assigned once


def test_decontamination_flags_planted_overlap(spark):
    """A train doc sharing an 8-gram with an eval doc is contaminated;
    a disjoint doc is not."""
    from bigdatasmallprice_spark.queries import textq

    eval_text = "alpha beta gamma delta epsilon zeta eta theta iota"
    rows = [
        (0, eval_text, "en", "srcA", len(eval_text)),  # doc_id 0 -> eval slice
        (1, "x1 alpha beta gamma delta epsilon zeta eta theta x2", "en", "srcA", 10),
        (2, "totally disjoint words only here nothing shared at all", "en", "srcB", 10),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    import bigdatasmallprice_spark.queries.core as core

    orig = core.table
    try:
        core.table = lambda s, d, name: df
        textq.table = core.table
        out = {r.source: r for r in textq.benchmark_decontamination_q(spark, "ignored").collect()}
    finally:
        core.table = orig
        textq.table = orig
    # doc 1 (10 tokens) has 3 distinct 8-grams; exactly one — "alpha beta
    # gamma delta epsilon zeta eta theta" — also occurs in the eval doc
    assert out["srcA"].n_contaminated == 1
    assert out["srcA"].n_overlap_ngrams == 1
    assert out["srcB"].n_contaminated == 0


def test_connected_components_driver_path_equals_distributed(spark):
    """The small-graph union-find fast path and the distributed
    min-label propagation must produce identical (node, label) sets."""
    import random

    from bigdatasmallprice_spark.operators.dedup import connected_components

    rng = random.Random(42)
    nodes = list(range(400))
    edges = [
        (min(a, b), max(a, b))
        for a, b in (
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(300)
        )
        if a != b
    ]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {
        (r.node, r.label)
        for r in connected_components(pairs).collect()
    }
    dist = {
        (r.node, r.label)
        for r in connected_components(pairs, driver_threshold=0).collect()
    }
    assert fast == dist and len(fast) > 0


# ── BPE apply (operators/bpe.py) ──────────────────────────────────────────


def _bpe_reference(word, merges):
    """Obviously-correct reference: replay merges in rank order, each
    rewriting all left-to-right occurrences, re-checking from rank 0
    after every successful merge (equivalent to lowest-rank-first)."""
    symbols = list(word)
    changed = True
    while changed:
        changed = False
        for a, b in merges:  # rank order
            i, out, hit = 0, [], False
            while i < len(symbols):
                if i < len(symbols) - 1 and symbols[i] == a and symbols[i + 1] == b:
                    out.append(a + b); i += 2; hit = True
                else:
                    out.append(symbols[i]); i += 1
            if hit:
                symbols = out
                changed = True
                break  # restart at lowest rank, like the real algorithm
    return symbols


def test_bpe_segment_multilevel_merges():
    """Merged symbols must themselves merge (th + e -> the): the
    iterative property a single-pass implementation would miss."""
    from bigdatasmallprice_spark.operators.bpe import bpe_segment, make_ranks

    merges = [("t", "h"), ("th", "e"), ("e", "r")]
    ranks = make_ranks(merges)
    assert bpe_segment("the", ranks) == ["the"]
    assert bpe_segment("there", ranks) == ["the", "r", "e"]
    # (th,e) rank 1 beats (e,r) rank 2 after the initial t+h merge
    assert bpe_segment("ether", ranks) == ["e", "the", "r"]
    assert bpe_segment("a", ranks) == ["a"]
    assert bpe_segment("", ranks) == []


def test_bpe_segment_rank_priority_and_overlap():
    from bigdatasmallprice_spark.operators.bpe import bpe_segment, make_ranks

    # "ab" outranks "ba": abab -> [ab, ab], not a [ba] in the middle
    assert bpe_segment("abab", make_ranks([("a", "b"), ("b", "a")])) == ["ab", "ab"]
    # left-to-right non-overlapping: aaa -> [aa, a]
    assert bpe_segment("aaa", make_ranks([("a", "a")])) == ["aa", "a"]
    assert bpe_segment("aaaa", make_ranks([("a", "a"), ("aa", "aa")])) == ["aaaa"]


def test_bpe_segment_matches_reference_on_random_words():
    import random

    from bigdatasmallprice_spark.operators.bpe import bpe_segment, make_ranks

    rng = random.Random(7)
    alpha = "abcd"
    merges = [("a", "b"), ("c", "d"), ("ab", "cd"), ("b", "c"), ("abcd", "abcd")]
    ranks = make_ranks(merges)
    for _ in range(300):
        word = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 12)))
        got = bpe_segment(word, ranks)
        want = _bpe_reference(word, merges)
        assert got == want, (word, got, want)
        assert "".join(got) == word  # segmentation is lossless


def test_bpe_encode_distributed_matches_local(spark):
    """Distributed encode over the corpus-trained merge table equals a
    local per-doc computation; merging strictly shrinks token counts."""
    from bigdatasmallprice_spark.operators.bpe import (
        bpe_encode_tokens,
        bpe_segment,
        make_ranks,
        trained_merges,
    )
    from bigdatasmallprice_spark.queries.core import table

    sf = "/root/testdata/sf0.001"
    merges = trained_merges(spark, sf)
    assert len(merges) == 20 and all(len(a) == 1 and len(b) == 1 for a, b in merges)
    docs = table(spark, sf, "documents")
    out = {r.doc_id: r for r in bpe_encode_tokens(docs, merges).collect()}
    ranks = make_ranks(merges)
    local = docs.select("doc_id", "text").collect()
    assert len(out) == len(local) > 0
    for r in local:
        words = [w for w in (r.text or "").split(" ") if w]
        want = sum(len(bpe_segment(w, ranks)) for w in words)
        got = out[r.doc_id]
        assert got.n_bpe_tokens == want
        assert got.n_words <= got.n_bpe_tokens <= got.n_chars


def test_audit_slice_guard_refuses_large_inputs(spark):
    """ngram_jaccard's all-pairs verify stage is bounded by construction;
    feeding it more than the audit cap must raise, not run O(n^2)."""
    import pytest as _pytest

    from bigdatasmallprice_spark.queries.dedupq import (
        _AUDIT_SLICE_MAX,
        _bounded_audit_slice,
    )

    small = spark.range(_AUDIT_SLICE_MAX)
    assert _bounded_audit_slice(small, "ok") is small
    big = spark.range(_AUDIT_SLICE_MAX + 1)
    with _pytest.raises(ValueError, match="audit slice"):
        _bounded_audit_slice(big, "too_big")


# ---------------------------------------------------------------------------
# bloom-filter membership prefilter
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_bounded_size(spark):
    """Every corpus member MUST be a bloom candidate (zero false
    negatives — the property the prefilter's correctness rests on), and
    the bitmap never exceeds m/64 rows regardless of corpus size."""
    from bigdatasmallprice_spark.operators.dedup import (
        bloom_bits,
        bloom_membership,
    )
    from pyspark.sql import functions as F

    corpus = spark.range(500).select(
        F.concat(F.lit("member-"), F.col("id")).alias("t")
    )
    m, k = 1 << 12, 4
    bits = bloom_bits(corpus, text_col="t", m=m, k=k)
    assert bits.count() <= m // 64
    # probe set = all members + disjoint non-members
    probe = spark.range(700).select(
        F.col("id"),
        F.when(F.col("id") < 500, F.concat(F.lit("member-"), F.col("id")))
        .otherwise(F.concat(F.lit("outsider-"), F.col("id")))
        .alias("t"),
    )
    got = {
        r.id: r.bloom_hit
        for r in bloom_membership(probe, bits, ["id"], text_col="t", m=m, k=k).collect()
    }
    assert all(got[i] for i in range(500)), "false negative: member not flagged"
    # small m + 500 members => some false positives are expected, but
    # they must stay well under 100% (sanity that the bitmap is not
    # saturated and the test is not vacuous)
    fp = sum(1 for i in range(500, 700) if got[i])
    assert fp < 200


def test_bloom_hit_column_matches_frame_variant(spark):
    """The literal-bitmap column probe must agree with the frame-level
    bloom_membership on every row (members AND outsiders), and its plan
    must contain no exchange — it is pure row-local codegen work."""
    from bigdatasmallprice_spark.operators.dedup import (
        bloom_bits,
        bloom_hit_column,
        bloom_membership,
        collect_bloom_bitmap,
    )
    from pyspark.sql import functions as F

    corpus = spark.range(300).select(
        F.concat(F.lit("member-"), F.col("id")).alias("t")
    )
    m, k = 1 << 12, 4
    bits = bloom_bits(corpus, text_col="t", m=m, k=k)
    bitmap = collect_bloom_bitmap(bits, m=m)
    probe = spark.range(500).select(
        F.col("id"),
        F.when(F.col("id") < 300, F.concat(F.lit("member-"), F.col("id")))
        .otherwise(F.concat(F.lit("outsider-"), F.col("id")))
        .alias("t"),
    )
    frame = {
        r.id: r.bloom_hit
        for r in bloom_membership(probe, bits, ["id"], text_col="t", m=m, k=k).collect()
    }
    col_df = probe.select("id", bloom_hit_column(bitmap, "t", m=m, k=k).alias("h"))
    col = {r.id: r.h for r in col_df.collect()}
    assert col == frame
    plan = col_df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_bloom_bitmap_broadcasts(spark):
    """The membership probe's join against the bitmap must be a
    BroadcastHashJoin — the whole point of folding the corpus to
    <=m/64 longs."""
    from bigdatasmallprice_spark.operators.dedup import (
        bloom_bits,
        bloom_membership,
    )
    from pyspark.sql import functions as F

    corpus = spark.range(100).select(F.col("id").cast("string").alias("t"))
    bits = bloom_bits(corpus, text_col="t", m=1 << 12, k=4)
    probe = spark.range(50).select(
        F.col("id"), F.col("id").cast("string").alias("t")
    )
    plan = (
        bloom_membership(probe, bits, ["id"], text_col="t", m=1 << 12, k=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_semantic_dedup_keeps_smallest_and_counts(spark):
    """Hand-built clusters: three exact-duplicate vectors + one
    orthogonal vector in cluster space -> the two larger ids of the
    duplicate triple are removed, the loner survives."""
    from bigdatasmallprice_spark.operators.similarity import (
        kmeans_assignments,
        semantic_dedup_summary,
    )

    dim = 64
    dup = [1.0] * dim
    loner = [1.0 if i < 32 else -1.0 for i in range(dim)]
    rows = [(0, dup), (1, dup), (2, dup), (3, loner)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    assigned = kmeans_assignments(df, k=2, iters=1)
    out = {r.cid: r for r in semantic_dedup_summary(assigned, tau=0.99).collect()}
    total_removed = sum(r.n_removed for r in out.values())
    total_kept = sum(r.n_kept for r in out.values())
    assert total_removed == 2 and total_kept == 2


def test_shingle_expr_short_docs_and_duckdb_parity(spark):
    """Docs shorter than the shingle width must yield an EMPTY array
    (unguarded sequence() descends and element_at throws), and the
    Spark expression must agree value-for-value with the DuckDB twin
    on every length."""
    import duckdb

    from bigdatasmallprice_spark.functions.texts import o_shingle_expr, shingle_expr
    from pyspark.sql import functions as F

    texts = ["", "a", "a b", "a b c", "a b c d", "a b c d e", "x y z w v u"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    got = {
        r.i: r.sh
        for r in df.select(
            "i", F.expr(shingle_expr("split(t, ' ')", 4)).alias("sh")
        ).collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(texts):
        (expect,) = con.execute(
            f"SELECT {o_shingle_expr('ws', 4)} FROM (SELECT string_split(?, ' ') AS ws)",
            [t],
        ).fetchone()
        assert got[i] == expect, (t, got[i], expect)
    assert got[0] == [] and got[3] == [] and len(got[6]) == 3


def test_bloom_positions_rejects_bad_geometry(spark):
    """k > 4 would slice past md5's 32 hex chars -> NULL positions ->
    universal false negatives; must raise instead of silently breaking
    the no-false-negative guarantee."""
    import pytest

    from bigdatasmallprice_spark.operators.dedup import bloom_positions

    with pytest.raises(ValueError):
        bloom_positions("t", k=5)
    with pytest.raises(ValueError):
        bloom_positions("t", k=0)
    with pytest.raises(ValueError):
        bloom_positions("t", m=32)


def test_kmeans_assignments_rejects_zero_iters(spark):
    import pytest

    from bigdatasmallprice_spark.operators.similarity import kmeans_assignments

    df = spark.createDataFrame([(0, [1.0] * 64)], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError):
        kmeans_assignments(df, k=1, iters=0)


# ---------------------------------------------------------------------------
# SCD type-2: incremental apply == full rebuild
# ---------------------------------------------------------------------------


def test_scd2_apply_fold_equals_reconstruct(spark):
    """Folding time-partitioned change batches through scd2_apply must
    produce the same history as one scd2_reconstruct over the full
    log — including no-op changes (same attr), multi-change batches,
    and keys untouched by later batches."""
    from bigdatasmallprice_spark.operators.scd2 import scd2_apply, scd2_reconstruct
    from pyspark.sql import functions as F

    rows = [
        # (key, attr, ts, tiebreak)
        (1, "A", 1, 1),
        (1, "A", 2, 2),   # no-op (same attr)
        (1, "B", 3, 3),
        (1, "B", 5, 5),   # no-op
        (1, "C", 9, 9),
        (2, "X", 1, 4),
        (2, "Y", 2, 6),
        (2, "Y", 8, 7),   # no-op in a later batch
        (3, "Q", 4, 8),   # single-change key
    ]
    sch = "k long, a string, ts long, tb long"
    full = spark.createDataFrame(rows, sch)
    want = sorted(
        map(tuple, scd2_reconstruct(full, "k", "a", "ts", "tb").collect())
    )

    # batches split at ts<=2, ts in (2,5], ts>5 — time-partitioned
    hist = scd2_reconstruct(
        spark.createDataFrame([r for r in rows if r[2] <= 2], sch), "k", "a", "ts", "tb"
    )
    for lo, hi in [(2, 5), (5, 99)]:
        batch = spark.createDataFrame(
            [r for r in rows if lo < r[2] <= hi], sch
        )
        hist = scd2_apply(hist, batch, "k", "a", "ts", "tb")
    got = sorted(map(tuple, hist.collect()))
    assert got == want, (got, want)
    # shape sanity: exactly one open interval per key
    opens = [r for r in got if r[4]]
    assert len(opens) == 3


def test_funnel_stage_times_arbitrary_stages_vs_python_oracle(spark):
    """3-stage funnel on hand-built sequences vs a brute-force Python
    fold — covers out-of-order events, ties at equal timestamps,
    skipped stages, and users with no funnel events at all."""
    from bigdatasmallprice_spark.operators.funnel import funnel_stage_times

    rows = [
        (1, "a", 1), (1, "b", 2), (1, "c", 3),     # full path
        (2, "b", 1), (2, "a", 2), (2, "c", 3),     # b before a: b doesn't count, c >= nothing
        (3, "a", 5), (3, "b", 5), (3, "c", 5),     # all ties: >= lets every stage through
        (4, "a", 1), (4, "c", 2),                  # skipped middle: c never qualifies
        (5, "x", 1),                               # no funnel events: present, all null
        (6, "a", 4), (6, "b", 3), (6, "b", 9),     # early b ignored, later b counts
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts long")
    got = {
        r.user_id: (r.t_a, r.t_b, r.t_c)
        for r in funnel_stage_times(df, ["a", "b", "c"]).collect()
    }

    def oracle(evts):
        ta = min((t for t, e in evts if e == "a"), default=None)
        tb = (
            min((t for t, e in evts if e == "b" and t >= ta), default=None)
            if ta is not None
            else None
        )
        tc = (
            min((t for t, e in evts if e == "c" and t >= tb), default=None)
            if tb is not None
            else None
        )
        return (ta, tb, tc)

    by_user: dict[int, list] = {}
    for u, e, t in rows:
        by_user.setdefault(u, []).append((t, e))
    for u, evts in by_user.items():
        assert got[u] == oracle(evts), (u, got[u], oracle(evts))
    import pytest

    with pytest.raises(ValueError):
        funnel_stage_times(df, [])
    with pytest.raises(ValueError):
        funnel_stage_times(df, ["a", "a"])


def test_audit_cols_are_shuffle_free_and_deterministic(spark, tmp_path):
    """Lineage columns: no Exchange in the plan, source file captured
    from the scan, and the row hash is stable across re-runs (injected
    ingest_ts, not wall clock)."""
    import datetime as dt

    from bigdatasmallprice_spark.catalog import with_audit_cols
    from pyspark.sql import functions as F

    src = str(tmp_path / "in")
    spark.range(100).selectExpr("id", "id * 2 AS v").write.parquet(src)
    base = spark.read.parquet(src)
    ts = dt.datetime(2026, 8, 14, 0, 0, 0)
    a1 = with_audit_cols(base, "batch-1", ts, content_cols=["id", "v"])
    plan = a1._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    rows1 = {r.id: r for r in a1.collect()}
    rows2 = {r.id: r for r in with_audit_cols(base, "batch-1", ts, ["id", "v"]).collect()}
    assert all(rows1[i]._audit_row_hash == rows2[i]._audit_row_hash for i in rows1)
    assert all(rows1[i]._audit_source_file.endswith(".parquet") for i in rows1)
    assert rows1[0]._audit_batch_id == "batch-1"
    # hash keys on content: a changed value changes the hash
    changed = with_audit_cols(
        base.withColumn("v", F.col("v") + 1), "batch-1", ts, ["id", "v"]
    )
    rows3 = {r.id: r for r in changed.collect()}
    assert all(rows1[i]._audit_row_hash != rows3[i]._audit_row_hash for i in rows1)


def test_scaled_plane_count_matches_oracle_case_chain():
    """The Spark side derives the near-dup plane count in Python
    (scaled_plane_count); the oracle derives it from COUNT(*) via an
    integer CASE chain (_o_scaled_planes_case). They must agree at
    EVERY corpus size, especially the power-of-two block boundaries
    where a float log2 derivation would be engine-dependent."""
    import duckdb

    from bigdatasmallprice_spark.operators.similarity import (
        ANN_PLANES,
        NEARDUP_BLOCK,
        NEARDUP_MAX_PLANES,
        scaled_plane_count,
    )
    from bigdatasmallprice_spark.queries.simq import _o_scaled_planes_case

    con = duckdb.connect()
    sizes = {1, 2, NEARDUP_BLOCK - 1, NEARDUP_BLOCK, NEARDUP_BLOCK + 1}
    for p in range(ANN_PLANES, NEARDUP_MAX_PLANES + 1):
        b = (1 << p) * NEARDUP_BLOCK  # largest n still mapping to p
        sizes |= {b - 1, b, b + 1}
    for n in sorted(sizes):
        con.execute(f"CREATE OR REPLACE VIEW embeddings AS SELECT * FROM range({n})")
        got = con.execute(_o_scaled_planes_case()).fetchone()[0]
        want = scaled_plane_count(n)
        assert got == want, (n, got, want)
        assert ANN_PLANES <= want <= NEARDUP_MAX_PLANES


def test_banded_neardup_recovers_recall(spark):
    """Multi-band near-dup: bands add recall monotonically, never
    false positives (every candidate is exact-cosine verified), the
    single-band result is a subset, and measured recall is in the
    ballpark of the 1-(1-s^p)^b Charikar bound that bands_for_recall
    inverts."""
    import numpy as np

    from bigdatasmallprice_spark.operators.similarity import (
        NEARDUP_PLANES,
        bands_for_recall,
        banded_neardup_vectorized,
        bucketed_neardup_vectorized,
    )
    from bigdatasmallprice_spark.queries.core import table

    emb = table(spark, "/root/testdata/sf0.01", "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.stack([np.array(r.embedding, dtype="float64") for r in rows])
    n = np.linalg.norm(V, axis=1)
    ok = n > 0
    Vn = V / np.where(ok, n, 1.0)[:, None]
    S = (Vn @ Vn.T).round(6)
    iu, ju = np.triu_indices(len(ids), k=1)
    truth = {
        (int(ids[i]), int(ids[j]))
        for i, j in zip(iu, ju)
        if S[i, j] >= 0.35 and ok[i] and ok[j]
    }
    assert truth  # non-vacuous

    p = 4
    single = {
        (r.id_a, r.id_b)
        for r in bucketed_neardup_vectorized(
            emb, threshold=0.35, planes=NEARDUP_PLANES[:p]
        ).collect()
    }
    recalls = {}
    for nb in (1, 4):
        got = {
            (r.id_a, r.id_b)
            for r in banded_neardup_vectorized(
                emb, threshold=0.35, n_bands=nb, planes_per_band=p
            ).collect()
        }
        assert got <= truth  # exact verify => no false positives
        recalls[nb] = len(got & truth) / len(truth)
        if nb == 1:
            assert got == single  # band 0 IS the single-band plane set
    assert recalls[4] > recalls[1]

    # bands_for_recall inverts the band-hit formula exactly
    b = bands_for_recall(0.9, sim=0.35, planes_per_band=4)
    import math
    s = 1.0 - math.acos(0.35) / math.pi
    assert 1.0 - (1.0 - s**4) ** b >= 0.9
    assert 1.0 - (1.0 - s**4) ** (b - 1) < 0.9


def test_span_dedup_rewrite_semantics(spark):
    """Handcrafted corpus vs a transparent Python reference: first
    occurrence (global (doc_id, pos) order) survives, later ones are
    cut, overlapping duplicate spans union their positions, within-doc
    repeats count as duplicates, sub-span-width docs pass through."""
    from bigdatasmallprice_spark.operators.dedup import span_dedup_rewrite

    w = [f"w{i}" for i in range(30)]
    boiler = " ".join(w[:8])  # the span that repeats across docs
    docs = [
        # doc 0: the canonical first occurrence (kept), plus unique tail
        (0, boiler + " " + " ".join(w[8:16])),
        # doc 1: same span mid-document (cut), with a 1-word overlap
        # extension repeating w0..w7 shifted — exercises position union
        (1, "x0 " + boiler + " " + " ".join(w[1:9])),
        # doc 2: repeats the span TWICE within one doc; second is a
        # within-doc duplicate of the first (both after doc 0/1)
        (2, boiler + " sep0 sep1 " + boiler),
        # doc 3: shorter than the span width — untouched
        (3, "a b c"),
        # doc 4: fully unique — untouched
        (4, " ".join(f"u{i}" for i in range(12))),
    ]
    n = 8

    def py_rewrite(corpus):
        occ = []  # (span, doc, pos)
        for d, t in corpus:
            ws = t.split(" ")
            for p in range(len(ws) - n + 1):
                occ.append((" ".join(ws[p : p + n]), d, p))
        first = {}
        for sp, d, p in sorted(occ, key=lambda o: (o[1], o[2])):
            first.setdefault(sp, (d, p))
        from collections import Counter

        freq = Counter(sp for sp, _, _ in occ)
        cuts = {}
        for sp, d, p in occ:
            if freq[sp] > 1 and first[sp] != (d, p):
                cuts.setdefault(d, set()).update(range(p, p + n))
        out = {}
        for d, t in corpus:
            ws = t.split(" ")
            cut = cuts.get(d, set())
            out[d] = (
                " ".join(wd for i, wd in enumerate(ws) if i not in cut),
                len(ws),
                len(cut),
            )
        return out

    want = py_rewrite(docs)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.new_text, r.n_before, r.n_removed)
        for r in span_dedup_rewrite(df, n=n).collect()
    }
    assert got == want
    # the invariants the corpus was built to pin down
    assert got[0][0] == docs[0][1]  # first occurrence untouched
    # doc 1 loses BOTH its spans: w0..w7 duplicates doc 0 pos 0 and its
    # tail w1..w8 duplicates doc 0's pos-1 span — only the prefix stays
    assert got[1][0] == "x0"
    assert got[2][0] == "sep0 sep1"  # both within-doc repeats cut
    assert got[3] == ("a b c", 3, 0)
    assert got[4][2] == 0
    # hashed variant: identical rewrite, 8-byte window key
    got_h = {
        r.doc_id: (r.new_text, r.n_before, r.n_removed)
        for r in span_dedup_rewrite(df, n=n, hashed=True).collect()
    }
    assert got_h == want


def test_pq_shortlist_recall_and_rerank_exactness(spark):
    """PQ's two claims at once: (a) the exact re-rank means every
    returned pair's exact_dist really is the exact integer squared L2
    (checked against a brute-force recompute), the returned set is the
    exact top-5 OF THE SHORTLIST, and ranks are consistent with
    exact_dist; (b) shortlist quality: against the TRUE exact top-5
    per probe, recall is pinned at its deterministic value (0.76 on
    these synthetic near-iid embeddings — PQ's hardest case; the test
    asserts >= 0.7 so a codebook regression shows up, while the
    adc/exact columns let the driver hash the full error surface)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bigdatasmallprice_spark.operators.similarity import (
        pq_adc_topk,
        with_scaled_units,
    )

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 10)
    rows = pq_adc_topk(probes, emb, k_top=5).collect()
    assert len(rows) == 50

    xs = with_scaled_units(emb.select("vec_id", "embedding"))
    pv = xs.filter("id < 10").select(
        F.col("id").alias("pid"), F.col("xu").alias("pu")
    )
    exact = (
        pv.crossJoin(xs.select("id", F.col("xu").alias("vu")))
        .filter("id != pid")
        .select(
            "pid",
            "id",
            F.expr(
                "aggregate(zip_with(pu, vu, (a, b) -> (a - b) * (a - b)), "
                "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            ).alias("d"),
        )
    )
    dmap = {(r.pid, r.id): r.d for r in exact.collect()}
    w = Window.partitionBy("pid").orderBy("d", "id")
    true5 = {}
    for r in (
        exact.withColumn("rk", F.row_number().over(w)).filter("rk <= 5").collect()
    ):
        true5.setdefault(r.pid, set()).add(r.id)

    by_probe = {}
    for r in rows:
        assert r.exact_dist == dmap[(r.probe_id, r.vec_id)], r
        by_probe.setdefault(r.probe_id, []).append((r.rank, r.exact_dist, r.vec_id))
    hits = 0
    for pid, lst in by_probe.items():
        lst.sort()
        # ranks consistent with exact distance (ties by vec_id)
        assert [t[0] for t in lst] == [1, 2, 3, 4, 5]
        assert lst == sorted(lst, key=lambda t: (t[1], t[2]))
        hits += len({t[2] for t in lst} & true5[pid])
    assert hits / 50 >= 0.7, hits / 50


def test_pq_supports_external_probes(spark):
    """Probes need not be corpus members: a query vector absent from
    the indexed corpus must still get a full exact-re-ranked top-k
    (the re-rank reads probe vectors from the PROBES frame, never a
    corpus lookup by id)."""
    from pyspark.sql import functions as F

    from bigdatasmallprice_spark.operators.similarity import pq_adc_topk

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    corpus = emb.filter("vec_id >= 20")  # probes NOT in the corpus
    probes = emb.filter("vec_id < 3").select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    rows = pq_adc_topk(probes, corpus, k_top=5).collect()
    assert len(rows) == 15, len(rows)  # 3 probes x full top-5
    assert all(r.exact_dist >= 0 and r.vec_id >= 20 for r in rows)


def test_kmeans_seeds_k_centroids_on_shifted_ids(spark):
    """`id < k` seeding breaks on corpora whose ids don't start at 0;
    the fit must seed exactly k centroids from the k SMALLEST ids."""
    from pyspark.sql import functions as F

    from bigdatasmallprice_spark.operators.similarity import kmeans_fit_scaled

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select((F.col("vec_id") + 5_000).alias("vec_id"), "embedding")
        .limit(100)
    )
    out = kmeans_fit_scaled(emb, k=8, iters=1)
    assert out.select("cid").distinct().count() == 8


def test_ivfpq_recall_and_cell_pruning(spark):
    """The composed index must (a) return the exact top-5 OF ITS
    cell-pruned shortlist with true exact_dist values (spot-recomputed),
    (b) hold the r8 frontier operating point's recall — 16 cells /
    nprobe=4 / shortlist 16k measures 0.90 over these 10 probes (0.708
    over 50; the old 8/2/8k point read 0.82/0.528 at the SAME ~25%
    scanned fraction — frontier table in BASELINE.md) — and (c) only
    ever return candidates from the probe's nprobe nearest cells."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bigdatasmallprice_spark.operators.similarity import (
        assign_cells,
        centroid_arrays,
        ivfpq_topk,
        kmeans_fit_scaled,
        with_scaled_units,
    )

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 10)
    rows = ivfpq_topk(probes, emb, k_top=5).collect()
    assert len(rows) == 50

    xs = with_scaled_units(emb.select("vec_id", "embedding"))
    pv = xs.filter("id < 10").select(
        F.col("id").alias("pid"), F.col("xu").alias("pu")
    )
    exact = (
        pv.crossJoin(xs.select("id", F.col("xu").alias("vu")))
        .filter("id != pid")
        .select(
            "pid",
            "id",
            F.expr(
                "aggregate(zip_with(pu, vu, (a, b) -> (a - b) * (a - b)), "
                "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            ).alias("d"),
        )
    )
    dmap = {(r.pid, r.id): r.d for r in exact.collect()}
    w = Window.partitionBy("pid").orderBy("d", "id")
    true5 = {
        (r.pid, r.id)
        for r in exact.withColumn("rk", F.row_number().over(w))
        .filter("rk <= 5")
        .collect()
    }
    got = {(r.probe_id, r.vec_id) for r in rows}
    for r in rows:
        assert r.exact_dist == dmap[(r.probe_id, r.vec_id)], r
    # deterministic chain: 0.90 exactly; the pin moves up to >= 0.85
    # (the r6 ask's bar) — the old 8/2/8k point's 0.82 now FAILS, so a
    # regression back to the dominated operating point is caught
    assert len(got & true5) / 50 >= 0.85, len(got & true5) / 50

    # every returned candidate lives in one of its probe's nprobe cells
    from bigdatasmallprice_spark.operators.similarity import (
        IVFPQ_CELLS,
        IVFPQ_NPROBE,
    )

    km = kmeans_fit_scaled(emb, k=IVFPQ_CELLS, iters=2)
    cent = centroid_arrays(km)
    cells = {
        r.id: r.cid for r in assign_cells(xs, cent).select("id", "cid").collect()
    }
    pc = (
        pv.crossJoin(F.broadcast(cent.select(F.col("cid").alias("cell"), "cu")))
        .select(
            "pid", "cell",
            F.expr(
                "aggregate(zip_with(pu, cu, (a, b) -> (a - b) * (a - b)), "
                "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            ).alias("cd"),
        )
    )
    wc = Window.partitionBy("pid").orderBy("cd", "cell")
    probe_cells = {}
    for r in (
        pc.withColumn("rn", F.row_number().over(wc))
        .filter(f"rn <= {IVFPQ_NPROBE}")
        .collect()
    ):
        probe_cells.setdefault(r.pid, set()).add(r.cell)
    for r in rows:
        assert cells[r.vec_id] in probe_cells[r.probe_id], r


def test_bpe_codegen_apply_equals_segment():
    """The codegen replace-chain apply (bpe_symbols_sql) must count
    tokens char-exactly like the priority-loop bpe_segment for
    single-level merge tables — including the run/overlap traps
    (aaaa merges floor(n/2) times; a grouping choice upstream must
    not starve a later-rank pair) and rank interactions."""
    import duckdb

    from bigdatasmallprice_spark.operators.bpe import (
        bpe_segment,
        bpe_symbols_sql,
        bpe_token_count_from_symbols_sql,
        make_ranks,
    )

    cases = [
        ([("a", "a")], ["aaaa", "aaa", "a", "", "baab", "aabaa aaa"]),
        ([("a", "b"), ("b", "c")], ["abc", "abcb", "aabbcc", "abab bcbc"]),
        ([("b", "c"), ("a", "b")], ["abc", "abcbc", "ab"]),
        ([("a", "a"), ("a", "b")], ["aaaaaaab", "aaab", "aab aaab abab"]),
        ([("e", "r"), ("o", "r"), ("i", "n")], ["error in order", "winner"]),
        # newline-bearing documents: the (?s) char-marking regex must
        # wrap \n like any other character (the r11 ADVICE dotall fix)
        ([("a", "b")], ["ab\ncd", "a\nb", "\n", "ab\nab ab"]),
    ]
    con = duckdb.connect()
    for merges, texts in cases:
        ranks = make_ranks(merges)
        sym = bpe_symbols_sql("t", merges, "duckdb")
        cnt = bpe_token_count_from_symbols_sql("m", "t")
        for text in texts:
            want = sum(len(bpe_segment(w, ranks)) for w in text.split(" ") if w)
            got = con.execute(
                f"SELECT {cnt} FROM (SELECT t, {sym} AS m FROM (SELECT ? AS t))",
                [text],
            ).fetchone()[0]
            assert got == want, (merges, text, want, got)


def test_bpe_codegen_requires_creation_order():
    """A pair whose symbol is neither a character nor an earlier
    merge's output cannot come from a BPE trainer — the codegen path
    refuses instead of silently mis-merging."""
    import pytest as _pytest

    from bigdatasmallprice_spark.operators.bpe import bpe_symbols_sql

    with _pytest.raises(ValueError, match="creation-ordered"):
        bpe_symbols_sql("t", [("th", "e")], "spark")
    # the same pair IS valid once rank 0 creates 'th'
    bpe_symbols_sql("t", [("t", "h"), ("th", "e")], "spark")


def test_bpe_codegen_apply_multilevel_equals_segment():
    """The codegen chain covers production-shaped MULTI-LEVEL tables:
    for any creation-ordered table, ascending-rank replace passes
    equal the priority loop (a rank-r merge only creates pairs
    containing its output symbol, whose ranks are all > r). Cases:
    the th/the chain, same-pair multi-char runs, deep 4-level chains,
    outputs feeding later pairs on both sides."""
    import duckdb

    from bigdatasmallprice_spark.operators.bpe import (
        bpe_segment,
        bpe_symbols_sql,
        bpe_token_count_from_symbols_sql,
        make_ranks,
    )

    cases = [
        ([("t", "h"), ("th", "e")], ["the", "there", "ether", "the the theth"]),
        ([("a", "b"), ("ab", "ab")], ["abab", "ababab", "abababab", "aabb ab"]),
        (
            [("a", "b"), ("c", "d"), ("ab", "cd"), ("abcd", "abcd")],
            ["abcd", "abcdabcd", "abcdabcdabcd", "abcab dcd"],
        ),
        ([("e", "r"), ("er", "s"), ("t", "er")], ["terser", "ters", "ererer"]),
    ]
    con = duckdb.connect()
    for merges, texts in cases:
        ranks = make_ranks(merges)
        sym = bpe_symbols_sql("t", merges, "duckdb")
        cnt = bpe_token_count_from_symbols_sql("m", "t")
        for text in texts:
            want = sum(len(bpe_segment(w, ranks)) for w in text.split(" ") if w)
            got = con.execute(
                f"SELECT {cnt} FROM (SELECT t, {sym} AS m FROM (SELECT ? AS t))",
                [text],
            ).fetchone()[0]
            assert got == want, (merges, text, want, got)


def test_bpe_codegen_property_random_tables():
    """Property check: for RANDOM creation-ordered tables (pairs drawn
    from the growing symbol alphabet, trainer-style) and random
    strings, the codegen chain equals bpe_segment."""
    import duckdb

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bigdatasmallprice_spark.operators.bpe import (
        bpe_segment,
        bpe_symbols_sql,
        bpe_token_count_from_symbols_sql,
        make_ranks,
    )

    con = duckdb.connect()

    @settings(max_examples=60, deadline=None)
    @given(data=st.data())
    def check(data):
        chars = ["a", "b", "c"]
        symbols = list(chars)
        merges = []
        n_merges = data.draw(st.integers(0, 6))
        for _ in range(n_merges):
            a = data.draw(st.sampled_from(symbols))
            b = data.draw(st.sampled_from(symbols))
            if (a, b) in merges:
                continue
            merges.append((a, b))
            if a + b not in symbols:
                symbols.append(a + b)
        text = data.draw(st.text(alphabet="abc ", max_size=24))
        ranks = make_ranks(merges)
        want = sum(len(bpe_segment(w, ranks)) for w in text.split(" ") if w)
        sym = bpe_symbols_sql("t", merges, "duckdb")
        cnt = bpe_token_count_from_symbols_sql("m", "t")
        got = con.execute(
            f"SELECT {cnt} FROM (SELECT t, {sym} AS m FROM (SELECT ? AS t))",
            [text],
        ).fetchone()[0]
        assert got == want, (merges, text, want, got)

    check()


def test_bpe_codegen_equals_arrow_on_corpus(spark):
    """Two independent implementations of the same tokenizer — the
    codegen replace chain and the Arrow bpe_encode_tokens path — must
    produce identical per-document counts over the corpus with the
    pinned pack merges."""
    from pyspark.sql import functions as F

    from bigdatasmallprice_spark.operators.bpe import (
        bpe_encode_tokens,
        bpe_symbols_sql,
        bpe_token_count_from_symbols_sql,
    )
    from bigdatasmallprice_spark.queries.core import table
    from bigdatasmallprice_spark.queries.textq import _PACK_BPE_MERGES

    docs = table(spark, "/root/testdata/sf0.001", "documents")
    sym = bpe_symbols_sql("text", _PACK_BPE_MERGES, "spark")
    cnt = bpe_token_count_from_symbols_sql("m", "text")
    expr_counts = dict(
        docs.select("doc_id", "text")
        .withColumn("m", F.expr(sym))
        .selectExpr("doc_id", f"{cnt} AS n")
        .collect()
    )
    arrow_counts = dict(
        bpe_encode_tokens(docs, _PACK_BPE_MERGES)
        .select("doc_id", "n_bpe_tokens")
        .collect()
    )
    assert expr_counts == arrow_counts



def test_banded_global_rank_equals_global_window(spark):
    """banded_global_rank must reproduce ROW_NUMBER() OVER (ORDER BY
    band DESC, tie) bit-for-bit — including heavy ties (many rows per
    band) and bands of size 1 — while never sorting the corpus in one
    partition."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bigdatasmallprice_spark.operators.topk import banded_global_rank

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    t = docs.selectExpr("doc_id", "size(split(text, ' ')) AS nt")
    w = Window.orderBy(F.col("nt").desc(), F.col("doc_id"))
    want = {
        (r.doc_id, r.rn)
        for r in t.withColumn("rn", F.row_number().over(w)).collect()
    }
    got = {
        (r.doc_id, r.rn)
        for r in banded_global_rank(t, "nt", "doc_id").collect()
    }
    assert got == want
    # degenerate: every row in ONE band (all-equal counts) still ranks
    # correctly by the tie column
    one = t.select("doc_id", F.lit(7).alias("nt"))
    got1 = sorted(
        (r.doc_id, r.rn) for r in banded_global_rank(one, "nt", "doc_id").collect()
    )
    assert got1 == [(i, j + 1) for j, i in enumerate(sorted(d for d, _ in got1))]



def test_partitioned_lead1_stitch_equals_global_window(spark):
    """The lead stitch must equal lead(1) over the global order for
    every row — bucket-boundary rows repaired from the successor
    bucket's head, the final row NULL, 1-row buckets chaining."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bigdatasmallprice_spark.operators.windows import (
        partitioned_lead1_stitch,
    )

    from bigdatasmallprice_spark.catalog import load_table

    ev = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .select("event_id", "ts")
        .withColumn("us", F.unix_micros("ts"))
    )
    want = {
        (r["event_id"], r["l"])
        for r in ev.withColumn(
            "l", F.lead("us").over(Window.orderBy("ts", "event_id"))
        ).collect()
    }
    got = {
        (r["event_id"], r["nxt"])
        for r in partitioned_lead1_stitch(
            ev, "us", ["ts", "event_id"], F.date_trunc("day", F.col("ts")), "nxt"
        ).collect()
    }
    assert got == want
    # degenerate: every row its own bucket — heads chain row to row
    tiny = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k long, v long"
    )
    got1 = sorted(
        (r["k"], r["nxt"])
        for r in partitioned_lead1_stitch(
            tiny, "v", ["k"], F.col("k"), "nxt"
        ).collect()
    )
    assert got1 == [(1, 20), (2, 30), (3, None)]
    # nullable value_col (the r11 ADVICE case): an interior row whose
    # TRUE lead(1) is NULL must keep NULL, not be patched with the next
    # bucket's head — the repair targets rk == n by position only
    nulls = spark.createDataFrame(
        [(1, 0, 10), (2, 0, None), (3, 0, 30), (4, 1, 40), (5, 1, None)],
        "k long, b long, v long",
    )
    gotn = sorted(
        (r["k"], r["nxt"])
        for r in partitioned_lead1_stitch(
            nulls, "v", ["k"], F.col("b"), "nxt"
        ).collect()
    )
    # global lead over k: 1->None(row2), 2->30, 3->40 (bucket boundary,
    # repaired from bucket 1's head), 4->None(row5 value), 5->None(last)
    assert gotn == [(1, None), (2, 30), (3, 40), (4, None), (5, None)]



def test_banded_rank_and_lead_stitch_property(spark):
    """Property check over random data: banded_global_rank equals the
    global ROW_NUMBER window and partitioned_lead1_stitch equals the
    global lead(1) — duplicate bands/order keys, skewed bands, and
    arbitrary bucket granularities included. Driven by ONE seeded
    sample set (hypothesis-free loop: Spark jobs are too slow for
    per-example shrinking; the cases enumerate the failure classes)."""
    import itertools

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bigdatasmallprice_spark.operators.topk import banded_global_rank
    from bigdatasmallprice_spark.operators.windows import (
        partitioned_lead1_stitch,
    )

    # deterministic pseudo-random rows: (id, band, v) with heavy band
    # collisions (band = id*7 % 5) and a skewed variant (band mostly 0)
    datasets = [
        [(i, (i * 7) % 5, (i * 13) % 11) for i in range(40)],
        [(i, 0 if i % 10 else i, i % 3) for i in range(30)],
        [(0, 4, 1)],  # single row
    ]
    for rows in datasets:
        df = spark.createDataFrame(rows, "id long, band long, v long")
        w = Window.orderBy(F.col("band").desc(), F.col("id"))
        want = {
            (r["id"], r["rn"])
            for r in df.withColumn("rn", F.row_number().over(w)).collect()
        }
        got = {
            (r["id"], r["rn"])
            for r in banded_global_rank(df, "band", "id").collect()
        }
        assert got == want, rows[:3]

        # bucket granularities incl. near-1-row buckets; bucket_expr
        # must be MONOTONE along the order (the operator's contract,
        # like date_trunc over time) — floor(v/mod) is, v%mod is not
        for mod in (1, 3, 7, 100):
            wl = Window.orderBy("v", "id")
            wantl = {
                (r["id"], r["l"])
                for r in df.withColumn("l", F.lead("band").over(wl)).collect()
            }
            gotl = {
                (r["id"], r["l"])
                for r in partitioned_lead1_stitch(
                    df, "band", ["v", "id"], F.floor(F.col("v") / mod), "l"
                ).collect()
            }
            assert gotl == wantl, (rows[:3], mod)
