"""Cache-release discipline: a long-lived session running many
persisting queries must not accumulate cache entries."""

from __future__ import annotations

import datetime as dt

import pytest

from bigdatasmallprice_spark.caching import (
    persistent_rdd_ids,
    released_caches,
    run_query_released,
)
from tests.spark_jobs import job_group

# ten registered queries that persist() internally (the round-4
# pair-aggregate window rewrites removed the span/eval/line persists,
# so this list names queries that still genuinely cache)
PERSISTING = [
    "minhash_lsh_pairs",
    "simhash_pairs",
    "dedup_incremental",
    "bloom_shingle_prefilter",
    "semantic_dedup",
    "neardup_clusters",
    "dedup_canonical",
    "corpus_curation_summary",
    "embedding_covariance",
    "hybrid_search_rrf",
    # r10: the two heaviest r9 persisters (ADVICE item) — several
    # persists each across the KN/DSIR model chains
    "dsir_importance_sample",
    "curation_pipeline_v2",
]

SF = "/root/testdata/sf0.001"
CLOCK = dt.datetime(2026, 2, 15, 6, 0, tzinfo=dt.timezone.utc)


def test_back_to_back_persisting_queries_stay_bounded(spark):
    spark.catalog.clearCache()
    base = persistent_rdd_ids(spark)
    for name in PERSISTING:
        rows = run_query_released(spark, name, SF)
        assert rows  # the query actually ran
        added = persistent_rdd_ids(spark) - base
        assert not added, (name, added)


def test_released_caches_spares_preexisting(spark):
    from pyspark.sql import functions as F

    pre = spark.range(100).select(F.col("id")).persist()
    pre.count()
    pre_ids = persistent_rdd_ids(spark)
    with released_caches(spark):
        inner = spark.range(50).persist()
        inner.count()
        assert persistent_rdd_ids(spark) > pre_ids
    after = persistent_rdd_ids(spark)
    assert pre_ids <= after and len(after) == len(pre_ids)
    pre.unpersist()


def test_serving_run_registered_releases_caches(spark):
    from bigdatasmallprice_spark.serving import run_registered

    spark.catalog.clearCache()
    base = persistent_rdd_ids(spark)
    rows = run_registered(spark, "minhash_lsh_pairs", SF)
    assert isinstance(rows, list)
    assert not (persistent_rdd_ids(spark) - base)


@pytest.fixture(scope="module")
def domain(spark):
    from bigdatasmallprice_spark.plans.feature_views import register_views
    from tests.domain_data import domain_frames

    register_views(spark, domain_frames(spark))
    return spark


def _leaked(spark, before: set[int]):
    """(persistent RDDs added since ``before``, whether the catalog's
    cache holds an entry). Only additions count: the context cleaner may
    drop earlier tests' RDDs at any time."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    return persistent_rdd_ids(spark) - before, not cache.isEmpty()


def _training_tasks(spark, model_dir):
    from bigdatasmallprice_spark.runs import default_dags

    (dag,) = [
        d for d in default_dags(spark, model_dir, lambda: CLOCK)
        if d.dag_id == "bdsp_training_daily"
    ]
    return {t.task_id: t.fn for t in dag.tasks}


def test_training_task_job_budget(domain, tmp_path):
    """Each training task evaluates its view's (time, target) projection
    once, splits the cached projection, and then fires one collect for the
    fit (naive mean and linear moments together) and one for both models'
    metrics (plus rolling_split_bounds on the load surface). Budgets are
    the counts measured on this fixture; evaluating the view per action
    took 66 and 21 jobs, and splitting the uncached view while saving and
    scoring each model twice took 25 and 16."""
    budget = {"run_training": 23, "train_load_model": 11}
    for task_id, fn in _training_tasks(domain, str(tmp_path)).items():
        with job_group(domain, f"train-{task_id}") as ids:
            assert fn({})
        assert 0 < len(ids) <= budget[task_id], (task_id, len(ids))


def test_training_and_export_release_their_caches(domain, tmp_path):
    """Each training task and each export persists its surface for its own
    actions and releases exactly that entry on exit."""
    from bigdatasmallprice_spark.export import run_export, run_load_export

    spark = domain
    spark.catalog.clearCache()
    base = persistent_rdd_ids(spark)
    for task_id, fn in _training_tasks(spark, str(tmp_path / "models")).items():
        assert fn({}), task_id
        assert _leaked(spark, base) == (set(), False), task_id
    assert run_export(spark, str(tmp_path / "energy"), CLOCK)
    assert _leaked(spark, base) == (set(), False)
    assert run_load_export(spark, str(tmp_path / "load"), CLOCK)
    assert _leaked(spark, base) == (set(), False)


def test_scan_persisted_recomputes_a_released_cache(domain):
    """A cache entry released from under a scan_persisted frame, as another
    thread's released_caches would release it, is recomputed through the
    scan's lineage: the scan returns the same rows, it does not fail."""
    from bigdatasmallprice_spark.caching import (
        _unpersist_added,
        persisted,
        scan_persisted,
    )

    spark = domain
    df = spark.table("training_features").select("time", "price_eur_mwh")
    want = sorted(map(repr, df.collect()))
    before = persistent_rdd_ids(spark)
    with persisted(df) as cached:
        scan = scan_persisted(cached)
        assert sorted(map(repr, scan.collect())) == want
        assert _unpersist_added(spark, before) > 0
        assert sorted(map(repr, scan.collect())) == want


def test_failed_training_task_releases_its_cache(domain, tmp_path, monkeypatch):
    """The task fails inside its labeled-surface block, after the fit has
    filled both cache entries (the projection and the labeled frame) and
    before any artifact is written: both entries are released all the
    same, and nothing is published."""
    from bigdatasmallprice_spark import modelstore

    def boom(*_args, **_kwargs):
        raise RuntimeError("scoring failed")

    spark = domain
    spark.catalog.clearCache()
    base = persistent_rdd_ids(spark)
    model_dir = tmp_path / "models"
    monkeypatch.setattr(modelstore, "score_doc", boom)
    for task_id, fn in _training_tasks(spark, str(model_dir)).items():
        with pytest.raises(RuntimeError, match="scoring failed"):
            fn({})
        assert _leaked(spark, base) == (set(), False), task_id
    assert not model_dir.exists()
