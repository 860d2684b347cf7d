"""Physical-plan assertions: the optimizer behaviors §4 promises must
actually appear in the executed plans — predicate pushdown to the
parquet scan, column pruning, broadcast of dimension tables, and
whole-stage codegen over the hot expressions. These are the properties
that keep the same code fast at 100 TB; asserting them here stops a
refactor from silently de-optimizing a query."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdatasmallprice_spark.queries.core import table

SF = "/root/testdata/sf0.001"


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = table(spark, SF, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_totalprice"
    )
    plan = _formatted(df)
    assert "PushedFilters" in plan and "o_orderstatus" in plan.split("PushedFilters")[1].split("]")[0], plan


def test_column_pruning_in_read_schema(spark):
    df = table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    plan = _formatted(df)
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    # a 2-column projection must not scan the full 11-column table
    assert "l_extendedprice" not in read_schema, read_schema


def test_star_join_broadcasts_dimensions(spark):
    from bigdatasmallprice_spark.registry import all_queries

    df = all_queries()["market_revenue"].fn(spark, SF)
    plan = _formatted(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan  # dims are small: no shuffle join


def test_aggregation_runs_in_wholestage_codegen(spark):
    df = (
        table(spark, SF, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.sum((F.col("l_extendedprice") * 100).cast("long")).alias("s"))
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "codegen"
    )
    # "Found N WholeStageCodegen subtrees" + the generated-java listing
    assert "WholeStageCodegen" in plan and "Found" in plan, plan[:500]


def test_partial_aggregation_before_shuffle(spark):
    """groupBy must plan a map-side partial HashAggregate under the
    exchange — the map-side combine that shrinks the shuffle."""
    df = table(spark, SF, "lineitem").groupBy("l_returnflag").count()
    simple = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    before_exchange = simple.split("Exchange")[-1]  # deepest segment, below the shuffle
    assert "HashAggregate" in before_exchange, simple


def test_salted_join_salt_survives_optimization(spark):
    """VERDICT r1 item 7: the salt column must reach the physical join
    keys — if Catalyst folded or pruned it, the hot key would collapse
    back onto one reducer."""
    from pyspark.sql import functions as F

    from bigdatasmallprice_spark.operators.skew import salted_join_left_hot

    left = spark.range(1000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    )
    right = spark.range(3).select(F.col("id").alias("k"), F.lit(1).alias("w"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = salted_join_left_hot(left, right, ["k"], n_salts=8)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "__salt" in plan, "salt column eliminated by the optimizer"
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # and the semantics are intact
        assert out.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_runtime_bloom_filter_injected_for_selective_join(spark):
    """At 100 TB a selective dim join gets a runtime bloom filter on the
    fact scan (row-group level pruning before the shuffle). The
    application-side threshold is 10 GB, so the test lowers it to
    simulate fact-at-scale; the mechanism and plan shape are what's
    asserted, plus result equality with the filter disabled."""
    from pyspark.sql import functions as F

    from bigdatasmallprice_spark.catalog import load_table

    sf = "/root/testdata/sf0.01"
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").filter(F.col("p_brand") == "Brand#23")
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = li.join(part, li["l_partkey"] == part["p_partkey"]).groupBy(
            "p_brand"
        ).agg(F.count(F.lit(1)).alias("n"))
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), "runtime bloom filter not injected"
        with_filter = j.collect()
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "false"
        )
        without = (
            li.join(part, li["l_partkey"] == part["p_partkey"])
            .groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        assert sorted(map(tuple, with_filter)) == sorted(map(tuple, without))
    finally:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        for k, v in old.items():
            spark.conf.set(k, v)


def test_decontamination_broadcasts_eval_grams(spark):
    """The eval n-gram set must broadcast (eval corpora are MBs; train
    corpora are TBs) — a SortMergeJoin here would shuffle the full
    exploded train-gram table on a string key."""
    from bigdatasmallprice_spark.queries.textq import benchmark_decontamination_q

    df = benchmark_decontamination_q(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_pii_scrub_is_a_pure_map(spark):
    """The PII pass is per-row regexp work: its plan must contain NO
    exchange at all — a scrub that shuffles 100 TB would be wrong."""
    from bigdatasmallprice_spark.registry import all_queries

    df = all_queries()["pii_scrub"].fn(spark, SF)
    plan = _formatted(df)
    assert "Exchange" not in plan, plan
    # pruned scan: the 2 unused columns (lang, n_chars) must not be read
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "lang" not in read_schema and "n_chars" not in read_schema, read_schema


def test_mixture_plan_broadcasts_back_onto_corpus(spark):
    """The rows-per-domain plan table must broadcast onto the corpus
    scan, never shuffle the corpus on the group key."""
    from bigdatasmallprice_spark.registry import all_queries

    df = all_queries()["mixture_sampling_plan"].fn(spark, SF)
    plan = _formatted(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_line_dedup_windows_by_line_not_globally(spark):
    """The keep-first rule partitions its window BY LINE — a global
    (unpartitioned) window here would serialize the corpus."""
    from bigdatasmallprice_spark.registry import all_queries

    df = all_queries()["line_dedup"].fn(spark, SF)
    plan = _formatted(df)
    assert "Window" in plan
    # every Window operator in the plan carries a partition spec
    for seg in plan.split("Window [")[1:]:
        head = seg.split("]")[1] if "]" in seg else seg
        assert "windowspecdefinition(line" in seg or "partitionBy" in head or "line#" in seg, seg[:300]


def test_shard_manifest_windows_by_shard(spark):
    from bigdatasmallprice_spark.registry import all_queries

    df = all_queries()["shard_manifest"].fn(spark, SF)
    plan = _formatted(df)
    assert "Window" in plan
    assert "windowspecdefinition(shard" in plan, plan


def test_password_hash_is_pure_codegen(spark):
    """Credential hashing (F.sha2) stays JVM-side: no exchange, no
    Python stage; the modulo predicate is applied at the scan stage."""
    from bigdatasmallprice_spark.registry import all_queries

    df = all_queries()["password_hash_audit"].fn(spark, SF)
    plan = _formatted(df)
    assert "Exchange" not in plan, plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, plan
    tree = df._jdf.queryExecution().executedPlan().toString()
    assert tree.startswith("*(1)"), tree  # whole-stage-codegen'd top stage


def test_bow_cosine_is_equi_join_shaped(spark):
    """The posting-list self-join must plan as an equi-join on the term
    (sum(df^2) candidates) — never a nested-loop/cartesian all-pairs."""
    from bigdatasmallprice_spark.registry import all_queries

    df = all_queries()["bow_cosine_pairs"].fn(spark, SF)
    plan = _formatted(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_aqe_skew_join_splits_hot_partition(spark):
    """The session enables AQE skew-join handling; this pins that it
    actually ENGAGES: a hot-key shuffle join with the skew thresholds
    scaled to test data must show a skew-split AQEShuffleRead in the
    final adaptive plan, with results identical to the broadcast plan."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # 200k rows on one hot key vs a spread tail. The downstream agg
        # is GLOBAL: an agg keyed on the join key would forbid the skew
        # split (it must preserve hash distribution on k) — AQE
        # correctly declines there, which is itself the documented
        # engine behavior.
        left = spark.range(0, 220_000).selectExpr(
            "CASE WHEN id < 200000 THEN 7 ELSE id % 1000 END AS k",
            "id AS v",
        )
        right = spark.range(0, 1000).selectExpr("id AS k", "id * 10 AS w")
        j = left.join(right, "k").agg(
            F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
        )
        row = j.collect()[0]
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "AQEShuffleRead skewed" in plan, plan
        # every left row matches exactly one right row
        assert row.n == 220_000 and row.s == 219_999 * 220_000 // 2
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_semantic_dedup_pairs_join_on_cluster_not_cartesian(spark):
    """The SemDeDup pair join must be an equi-join keyed on cid — the
    cluster bound is the whole scale story. A CartesianProduct or
    BroadcastNestedLoopJoin here means all-pairs leaked back in."""
    from bigdatasmallprice_spark.registry import all_queries

    df = all_queries()["semantic_dedup"].fn(spark, SF)
    plan = _formatted(df)
    assert "CartesianProduct" not in plan, plan
    # the only nested-loop joins allowed are the k-row centroid
    # broadcasts inside assign_cells (bounded by k, not the corpus)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line and not line.strip().startswith("("):
            assert "BuildRight" in line, line


def test_bloom_prefilter_bitmap_broadcasts_and_no_cartesian(spark):
    """The registered bloom query probes the bitmap via broadcast (it
    is <= m/64 longs) and never forms an unbounded product."""
    from bigdatasmallprice_spark.registry import all_queries

    df = all_queries()["bloom_shingle_prefilter"].fn(spark, SF)
    plan = _formatted(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bloom_prefilter_lean_has_no_join(spark):
    """The production bloom path must be join-free: the 32 KB bitmap is
    a constant-folded literal probed per row, so the batch side is a
    pure map + one per-source aggregate — the exact-truth join lives
    only in the audited variant."""
    from bigdatasmallprice_spark.registry import all_queries

    df = all_queries()["bloom_shingle_prefilter_lean"].fn(spark, SF)
    plan = _formatted(df)
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ann_index_upsert_assignment_broadcasts_centroids(spark):
    """Batch-to-cell assignment must broadcast the k centroids — the
    upsert is a narrow map over the batch, no corpus shuffle."""
    from bigdatasmallprice_spark.registry import all_queries

    df = all_queries()["ann_index_upsert"].fn(spark, SF)
    plan = _formatted(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_snapshot_diff_hashes_before_join(spark):
    """The release diff must shuffle (doc_id, hash), not document
    bodies: the join input's projection excludes text."""
    from bigdatasmallprice_spark.registry import all_queries

    df = all_queries()["corpus_snapshot_diff"].fn(spark, SF)
    plan = _formatted(df)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    # md5 is computed below the join (in the scan-side projections);
    # the exchange carries the 32-hex hash, not a re-read of text
    exchange_sections = plan.split("Exchange")
    assert len(exchange_sections) > 1, plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the same key join with ZERO Exchange —
    the write-once-shuffle-never strategy for recurring fact-fact
    joins at 100 TB. Also: aggregation on the bucket key needs no
    exchange."""
    from bigdatasmallprice_spark.catalog import load_table, write_bucketed

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ev = load_table(spark, SF, "events").select("event_id", "user_id", "value")
        usr = (
            load_table(spark, SF, "events")
            .groupBy("user_id")
            .count()
            .withColumnRenamed("count", "n_events")
        )
        write_bucketed(ev, "bt_events", ["user_id"], n_buckets=8)
        write_bucketed(usr, "bt_users", ["user_id"], n_buckets=8)
        a = spark.table("bt_events")
        b = spark.table("bt_users")
        joined = a.join(b, "user_id")
        plan = _formatted(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        # same-key aggregation over the bucketed table: no exchange either
        agg_plan = _formatted(a.groupBy("user_id").count())
        assert "Exchange" not in agg_plan, agg_plan
        # and the result matches the unbucketed join
        assert joined.count() == (
            load_table(spark, SF, "events")
            .select("event_id", "user_id", "value")
            .join(usr, "user_id")
            .count()
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bt_events")
        spark.sql("DROP TABLE IF EXISTS bt_users")


def test_event_funnel_reuses_one_partitioning(spark):
    """All four funnel-stage windows + the per-user rollup must share
    ONE user-partitioned Exchange; only the final single-row aggregate
    adds a second. Three-plus exchanges would mean the stacked windows
    re-shuffled per stage."""
    from bigdatasmallprice_spark.registry import all_queries

    df = all_queries()["event_funnel"].fn(spark, SF)
    plan = _formatted(df)
    n_exchanges = sum(
        1 for line in plan.splitlines() if line.strip().startswith("(") and ") Exchange" in line
    )
    assert n_exchanges <= 2, plan
    assert "Window" in plan


def _key_exchanges(plan: str, key: str) -> list[str]:
    import re

    out = []
    for line in plan.splitlines():
        if "hashpartitioning" not in line:
            continue
        m = re.search(rf"hashpartitioning\(({key}#\d+L?)[,)]", line)
        if m:
            out.append(m.group(1))
    return out


def test_hashed_span_and_line_shuffles_carry_long_keys(spark):
    """The *_hashed variants must shuffle on an 8-byte BIGINT key (the
    md5-slice stand-in for xxhash64), never on the raw span/line text;
    the unhashed originals keep the string key (documented constant-
    factor cost). Long attributes print with an 'L' suffix in the
    formatted plan (sp#38L); strings have no suffix."""
    from bigdatasmallprice_spark.registry import all_queries

    cases = [
        ("dedup_span_stats", "dedup_span_stats_hashed", "sp"),
        ("eval_split_clean", "eval_split_clean_hashed", "sp"),
        ("line_dedup", "line_dedup_hashed", "line"),
    ]
    for raw_name, hashed_name, key in cases:
        hashed_plan = _formatted(all_queries()[hashed_name].fn(spark, SF))
        keys = _key_exchanges(hashed_plan, key)
        assert keys, f"{hashed_name}: no {key}-keyed exchange found"
        assert all(k.endswith("L") for k in keys), (hashed_name, keys)

        raw_plan = _formatted(all_queries()[raw_name].fn(spark, SF))
        raw_keys = _key_exchanges(raw_plan, key)
        assert raw_keys and all(not k.endswith("L") for k in raw_keys), (
            raw_name,
            raw_keys,
        )


def test_distill_scoring_is_pure_jvm_single_aggregate(spark):
    """quality_classifier_filter's returned plan (corpus scoring with
    the trained weights as literals) must stay whole-JVM — no Python
    stages, no joins — with the per-source aggregate as its only
    shuffle; the trained weights appear as plain double literals."""
    from bigdatasmallprice_spark.registry import all_queries

    df = all_queries()["quality_classifier_filter"].fn(spark, SF)
    plan = _formatted(df)
    for marker in (
        "BatchEvalPython",
        "ArrowEvalPython",
        "MapInPandas",
        "FlatMapGroupsInPandas",
        "Join",
        "CartesianProduct",
    ):
        assert marker not in plan, (marker, plan)
    assert plan.count("hashpartitioning") == 1, plan


def test_dedup_rewrite_plan_no_text_reshuffle_and_hashed_long_key(spark):
    """The rewrite's duplicate-marking window shuffles SPANS (8-byte
    BIGINT key in the hashed variant), never document text: the text-
    bearing side reaches its single doc_id join from the scan without
    an intermediate text-keyed exchange, and no cartesian product may
    appear anywhere."""
    from bigdatasmallprice_spark.registry import all_queries

    hashed_plan = _formatted(all_queries()["dedup_rewrite_hashed"].fn(spark, SF))
    keys = _key_exchanges(hashed_plan, "__sp")
    assert keys and all(k.endswith("L") for k in keys), keys

    import re

    for name in ("dedup_rewrite", "dedup_rewrite_hashed"):
        plan = _formatted(all_queries()[name].fn(spark, SF))
        assert "CartesianProduct" not in plan, name
        # exactly two scans of the documents parquet — the text branch
        # and the span branch; the span branch prunes text away after
        # the explode, and BOTH windows (count + row_number) must ride
        # ONE span-keyed exchange (a second would mean the stacked
        # windows re-shuffled)
        n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
        assert n_scans == 2, (name, n_scans)
        key = "__sp"
        span_exchanges = [
            line
            for line in plan.splitlines()
            if "hashpartitioning" in line and key + "#" in line
        ]
        assert len(span_exchanges) == 1, (name, span_exchanges)


def test_sketch_queries_stay_jvm_side_and_sketch_sized(spark):
    """HLL: three hash-keyed exchanges (corpus pairs, register fold,
    per-source fold), no join, no Python stage. CMS: the probe stage
    joins BROADCAST-only against the register table (never a shuffle
    join); the only nested-loop is the broadcast scalar total."""
    from bigdatasmallprice_spark.registry import all_queries

    hll = _formatted(all_queries()["hll_distinct"].fn(spark, SF))
    assert "MapInPandas" not in hll and "BatchEvalPython" not in hll
    assert "Join" not in hll, hll  # pure aggregate chain
    n_shuffles = hll.count("Arguments: hashpartitioning")
    assert n_shuffles == 3, hll

    cms = _formatted(all_queries()["count_min_probe"].fn(spark, SF))
    assert "SortMergeJoin" not in cms, cms
    assert "BroadcastHashJoin" in cms, cms
    # formatted plans print each node twice (tree + detail section):
    # exactly ONE nested-loop node — the broadcast scalar total
    assert cms.count("BroadcastNestedLoopJoin") <= 2, cms
    assert "MapInPandas" not in cms and "BatchEvalPython" not in cms


def test_zorder_pruning_is_window_over_one_union_no_join(spark):
    """The layout comparison is union -> ntile window -> two tiny
    aggregates: no join anywhere, the z-value computes in codegen (no
    Python), and the window exchange carries the layout key."""
    from bigdatasmallprice_spark.registry import all_queries

    plan = _formatted(all_queries()["zorder_pruning"].fn(spark, SF))
    assert "Join" not in plan, plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "Window" in plan and "ntile" in plan
    assert "hashpartitioning(layout" in plan, plan


def test_hll_union_lean_scans_corpus_once_no_audit(spark):
    """The production HLL union variant must carry NO corpus-sized
    surface beyond the register fold: exactly ONE parquet scan of the
    documents table (the persisted register table feeds every other
    branch), the only corpus-width exchange is the (source, idx)
    register fold, and no Python stage / cartesian product / distinct
    of the (source, shingle) frame survives (the MAX-fold IS the
    dedup)."""
    import re

    from bigdatasmallprice_spark.registry import all_queries

    # a prior test's persisted subtree (e.g. the audited twin's
    # (source, shingle) cache) would substitute InMemoryRelation for
    # the scan and distort the counts below
    spark.catalog.clearCache()
    df = all_queries()["hll_union_lean"].fn(spark, SF)
    plan = _formatted(df)
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_scans == 1, (n_scans, plan)
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan
    # the single corpus-width exchange: the register fold keyed on
    # (source, idx); every OTHER exchange hangs off the in-memory
    # sketch-sized register table
    corpus_exchanges = [
        line
        for line in plan.splitlines()
        if "Arguments: hashpartitioning" in line and "idx#" in line
    ]
    assert len(corpus_exchanges) == 1, corpus_exchanges


def test_winnow_fingerprints_are_codegen_and_pair_join_is_equi(spark):
    """Fingerprint selection must be pure codegen over token arrays (no
    Python stage, no shuffle before the (doc, fp) explode) and the pair
    stage a hash equi-join on the 8-byte fp key — no cartesian."""
    from bigdatasmallprice_spark.registry import all_queries

    spark.catalog.clearCache()
    df = all_queries()["winnow_neardup_pairs"].fn(spark, SF)
    plan = _formatted(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
    # every exchange is keyed on fp (+ the pair groupBy) — the text
    # itself never re-shuffles
    ex = [
        line
        for line in plan.splitlines()
        if "Arguments: hashpartitioning" in line
    ]
    assert ex and all("fp#" in line or "id_a" in line for line in ex), ex


def test_token_budget_sample_prefilters_before_the_rank_window(spark):
    """The scale path must show the histogram-band threshold PREFILTER
    upstream of the per-source rank window: a broadcast hash join of
    the slim projection against the tiny per-source threshold table,
    with the band filter applied, so the window only ever sorts ~k
    survivors per source instead of the source's full corpus share."""
    from bigdatasmallprice_spark.registry import all_queries

    spark.catalog.clearCache()
    df = all_queries()["token_budget_sample"].fn(spark, SF)
    plan = _formatted(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # the threshold join
    assert "thr_band" in plan, plan  # the band prefilter condition
    # the rank window sits ABOVE the threshold join in the plan text
    assert plan.index("Window") < plan.index("BroadcastHashJoin"), plan


def test_sgns_fit_broadcasts_vocab_state_and_stays_equi(spark):
    """word_embedding_train: the per-iteration joins of the pair corpus
    against the vocabulary-sized model frame must be BROADCAST hash
    joins (localCheckpoint stats are opaque to AQE, so sgns_fit hints
    them explicitly), the gradient fold one hash aggregate, and nothing
    cartesian or Python-staged. The final plan only shows the LAST
    iteration (earlier ones are materialized checkpoints), which is
    exactly the repeating unit."""
    from bigdatasmallprice_spark.registry import all_queries

    spark.catalog.clearCache()
    df = all_queries()["word_embedding_train"].fn(spark, SF)
    plan = _formatted(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def _assert_no_unpartitioned_corpus_window(plan: str) -> None:
    """Every windowspecdefinition must either open with a partition
    column (ordering columns carry ASC/DESC markers, partition columns
    don't) or order ONLY the distinct-bucket list (__bucket) — the
    successor mapping and stitch validation, bucket-count-sized at any
    corpus scale."""
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs, plan
    for args in specs:
        first = args.split(",")[0]
        if " ASC" in first or " DESC" in first:
            assert first.strip().startswith("__bucket"), args


def test_stitched_flagship_has_no_unpartitioned_corpus_window(spark):
    """SURVEY §7.3's declared hazard, closed: the registered scale-safe
    flagship's executed plan holds NO unpartitioned window over
    corpus-grain data — every lag/rolling window partitions by the
    stitch bucket. (localCheckpoint truncates earlier stages from this
    plan; the stitch operators themselves are guarded below, and
    bit-identity with the global-window flagship is asserted in
    tests/test_operators.py.)"""
    from bigdatasmallprice_spark.registry import all_queries

    spark.catalog.clearCache()
    df = all_queries()["training_features_stitched"].fn(spark, SF)
    _assert_no_unpartitioned_corpus_window(_formatted(df))


def test_stitch_operators_window_inside_buckets(spark):
    """The two operators every window of the stitched flagship is
    built from: all corpus-grain windows partition by __bucket; the
    only orderBy-only windows run over the distinct bucket list."""
    from bigdatasmallprice_spark.operators.windows import (
        partitioned_lag_stitch,
        partitioned_rolling_stitch,
    )

    base = spark.range(500).selectExpr(
        "timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, "
        "CAST(id AS INT), 0, 0) AS h",
        "CAST(id % 97 AS DOUBLE) AS v",
    )
    bucket = F.floor(F.unix_timestamp(F.col("h")) / F.lit(48 * 3600))
    lagged = partitioned_lag_stitch(base, "v", [1, 24], "h", bucket, validate=False)
    _assert_no_unpartitioned_corpus_window(_formatted(lagged))
    rolled = partitioned_rolling_stitch(
        base, "v", 24, "h", bucket, "s24", "n24", validate=False
    )
    _assert_no_unpartitioned_corpus_window(_formatted(rolled))


def test_kn_and_bm25_model_joins_are_equi_not_cartesian(spark):
    """The LM/retrieval model tables join on their word keys; the only
    nested-loop joins allowed are vs broadcast 1-row scalars (the KN
    type count, BM25's 2-scalar global)."""
    from bigdatasmallprice_spark.registry import all_queries

    for name in ("ngram_lm_kn", "ngram_lm_kn3", "bm25_topk"):
        spark.catalog.clearCache()
        plan = _formatted(all_queries()[name].fn(spark, SF))
        assert "CartesianProduct" not in plan, (name, plan[:400])
        assert "MapInPandas" not in plan and "EvalPython" not in plan, name


def test_dsir_ratio_table_broadcasts_and_rank_is_band_bounded(spark):
    """The DSIR score join is vs the broadcast model-sized ratio table;
    the only rank window runs over ONE band's rows (never the corpus)."""
    from bigdatasmallprice_spark.registry import all_queries

    spark.catalog.clearCache()
    df = all_queries()["dsir_importance_sample"].fn(spark, SF)
    plan = _formatted(df)
    assert "CartesianProduct" not in plan, plan[:400]
    assert "BroadcastHashJoin" in plan, plan[:400]


def test_text_semantic_dedup_pairs_join_on_cluster_not_cartesian(spark):
    """The bridge SemDeDup (pooled text vectors) keeps the cluster
    bound: the pair stage is an equi-join keyed on cid; the only
    nested-loop joins are broadcast model-sized frames (the k-row
    centroid table inside assign_cells, the SGNS 1-row scalars)."""
    from bigdatasmallprice_spark.registry import all_queries

    df = all_queries()["text_semantic_dedup"].fn(spark, SF)
    plan = _formatted(df)
    assert "CartesianProduct" not in plan, plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line and not line.strip().startswith("("):
            assert "BuildRight" in line or "BuildLeft" in line, line


def test_doc_embedding_pooling_is_equi_join_shaped(spark):
    """Mean-pooling joins token positions against the vocabulary-sized
    embedding table by an EQUI key (wd) and aggregates — no product,
    no Python stage; cost stays linear in corpus tokens."""
    from bigdatasmallprice_spark.queries.simq import _doc_vectors

    plan = _formatted(_doc_vectors(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan


def test_hybrid_bm25_fusion_stays_bounded(spark):
    """The BM25 leg's probe terms broadcast; fusion is a full outer
    join of two top-20 frames — nothing unbounded, no cartesian."""
    from bigdatasmallprice_spark.registry import all_queries

    df = all_queries()["hybrid_bm25_rrf"].fn(spark, SF)
    plan = _formatted(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


# ---------------------------------------------------------------------------
# The whole-registry single-partition-window sweep (VERDICT r11 ask #2c)


def _subtree_lines(simple: str) -> list[tuple[int, str]]:
    """(depth, text) per physical-plan line; depth from the '+-'/':-'
    marker offset so parent/child structure survives string parsing."""
    out = []
    for raw in simple.splitlines():
        for marker in ("+- ", ":- "):
            i = raw.find(marker)
            if i >= 0:
                out.append((i, raw[i + 3 :].strip()))
                break
        else:
            if raw.strip():
                out.append((-1, raw.strip()))
    return out


_CORPUS_SCAN = __import__("re").compile(
    r"/(customer|supplier|part|partsupp|orders|lineitem|events|documents|"
    r"embeddings)\.parquet"
)
_REDUCER = __import__("re").compile(
    r"HashAggregate|SortAggregate|ObjectHashAggregate|GlobalLimit|"
    r"CollectLimit|TakeOrderedAndProject"
)


def _raw_corpus_single_partition_exchanges(simple: str) -> list[str]:
    """Every 'Exchange SinglePartition' whose subtree scans a
    corpus-scale parquet table with NO aggregate/limit in between —
    i.e. a full-corpus single-reducer sort/window. Returns the
    offending exchange lines (empty = plan is scale-safe)."""
    lines = _subtree_lines(simple)
    bad = []
    for i, (depth, text) in enumerate(lines):
        if "Exchange SinglePartition" not in text:
            continue
        # the subtree: following lines strictly deeper than the exchange
        sub = []
        for d, t in lines[i + 1 :]:
            if d <= depth:
                break
            sub.append(t)
        raw_scan = any(
            _CORPUS_SCAN.search(t) and not _REDUCER.search(t) for t in sub
        )
        reduced = any(_REDUCER.search(t) for t in sub)
        if raw_scan and not reduced:
            bad.append(text)
    return bad


def test_no_registered_query_sorts_the_corpus_on_one_reducer(spark):
    """Machine-check the r11 claim: NO registered query (all 171, not
    just the driver 50) plans an unpartitioned window / global sort
    that funnels a corpus-scale parquet scan into one partition. An
    'Exchange SinglePartition' is fine over aggregated (bounded:
    hourly, per-band, model-sized) frames — flagged only when its
    subtree reaches a corpus table scan with no aggregate or limit in
    between. banded_global_rank (operators/topk.py) is the in-house
    fix for every hit this sweep would find."""
    from bigdatasmallprice_spark.registry import all_queries

    spark.catalog.clearCache()
    offenders = {}
    for name, spec in sorted(all_queries().items()):
        df = spec.fn(spark, SF)
        simple = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )
        hits = _raw_corpus_single_partition_exchanges(simple)
        if hits:
            offenders[name] = hits
    assert not offenders, offenders


def test_training_export_manifest_adds_no_python_stage(spark):
    """The export funnel's ADDED stages (BPE chain, mixture, pack) are
    pure JVM: every MapInPandas in the composed plan is the v3 stage's
    own Arrow-batched k-means ``assign`` (the documented exception —
    its cached lineage prints once per scan reference), and no
    row-at-a-time Python or cartesian product appears anywhere."""
    from bigdatasmallprice_spark.registry import all_queries

    spark.catalog.clearCache()
    df = all_queries()["training_export_manifest"].fn(spark, SF)
    # "simple" mode prints the Python function name inline on the node
    export_plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    for line in export_plan.splitlines():
        if "MapInPandas" in line:
            assert "assign" in line, line
    assert "BatchEvalPython" not in export_plan, "row-at-a-time Python"
    assert "BroadcastHashJoin" in export_plan
    assert "CartesianProduct" not in export_plan
