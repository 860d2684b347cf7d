"""The stock training tasks (runs.default_dags' bdsp_training_daily): each
evaluates its feature view once, writes each artifact once with its
metrics, and publishes the same bytes under any shuffle layout."""

from __future__ import annotations

import collections
import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

CLOCK = dt.datetime(2026, 2, 15, 6, 0, tzinfo=dt.timezone.utc)

# the linear fits this fixture gives: the integer moments are exact, so the
# coefficients are pinned to the bit
COEFFICIENTS = {
    "model_epex": {
        "k": "all", "n": 738, "b0c": 8492.896769299883,
        "b1c": -14.672726785927196, "b2c": -25.324217244764736,
    },
    "model_load": {
        "k": "all", "n": 2283, "b0c": 47029.0901404169,
        "b1c": 9.239853883710483, "b2c": 456.78367907489127,
    },
}
SURFACES = {
    "run_training": ("model_epex", "naive"),
    "train_load_model": ("model_load", "naive_load"),
}


@pytest.fixture(scope="module")
def domain(spark):
    from bigdatasmallprice_spark.plans.feature_views import register_views
    from tests.domain_data import domain_frames

    register_views(spark, domain_frames(spark))
    return spark


@pytest.fixture
def parquet_views(domain, tmp_path):
    """The fixture's bronze tables as parquet files, so a plan names the
    tables it scans; the in-memory views come back afterwards."""
    from bigdatasmallprice_spark.plans.feature_views import register_views
    from tests.domain_data import domain_frames

    spark = domain
    frames = {}
    for name, df in domain_frames(spark).items():
        df.write.parquet(str(tmp_path / name))
        frames[name] = spark.read.parquet(str(tmp_path / name))
    register_views(spark, frames)
    yield spark
    register_views(spark, domain_frames(spark))


def _training_tasks(spark, model_dir):
    from bigdatasmallprice_spark.runs import default_dags

    (dag,) = [
        d for d in default_dags(spark, model_dir, lambda: CLOCK)
        if d.dag_id == "bdsp_training_daily"
    ]
    return {t.task_id: t.fn for t in dag.tasks}


def _children(plan) -> list:
    """A physical plan node's children, through AQE's wrappers and stages."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [plan.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [plan.plan()]
    kids = plan.children()
    return [kids.apply(i) for i in range(kids.length())]


def _leaves(plan) -> list:
    kids = _children(plan)
    return [leaf for k in kids for leaf in _leaves(k)] if kids else [plan]


def _scanned_tables(plan) -> collections.Counter:
    """Parquet scans of ``plan`` by table directory name."""
    return collections.Counter(
        os.path.basename(str(leaf.relation().location().rootPaths().apply(0)))
        for leaf in _leaves(plan)
        if leaf.getClass().getSimpleName() == "FileSourceScanExec"
    )


def _lineage(rdd) -> set[int]:
    """Ids of ``rdd`` and every RDD it depends on."""
    deps = rdd.dependencies()
    ids = {rdd.id()}
    for i in range(deps.length()):
        ids |= _lineage(deps.apply(i).rdd())
    return ids


def _kinds(leaves) -> set[str]:
    return {leaf.getClass().getSimpleName() for leaf in leaves}


@pytest.mark.parametrize(
    "model_name, view",
    [
        ("model_epex", "training_features"),
        ("model_load", "winterthur_net_load_features"),
    ],
)
def test_labeled_surface_scans_its_view_once(parquet_views, model_name, view):
    """The labeled surface is a one-node scan of the labeled cache; the
    split behind that cache reads only the persisted (time, target)
    projection, never a file; and the projection scans the view's bronze
    tables exactly as one evaluation of the view does (the ratio split
    reads its input three times, so an uncached view was scanned three
    times over)."""
    from bigdatasmallprice_spark.export import label_splits
    from bigdatasmallprice_spark.serving import labeled_model_surface

    spark = parquet_views
    cache = spark._jsparkSession.sharedState().cacheManager()

    def cached(df):
        return cache.lookupCachedData(df._jdf).get().cachedRepresentation().cacheBuilder()

    with labeled_model_surface(spark, model_name) as (labeled, target):
        train = labeled.filter(F.col("split") == "train")
        assert train.count() > 0
        (scan,) = _leaves(train._jdf.queryExecution().executedPlan())
        assert _kinds([scan]) == {"RDDScanExec"}
        projection = spark.table(view).select("time", target)
        split = cached(label_splits(projection, target))
        assert split.cachedColumnBuffers().id() in _lineage(scan.rdd())
        split_leaves = _leaves(split.cachedPlan())
        assert _kinds(split_leaves) == {"InMemoryTableScanExec"}
        evaluated = cached(projection)
        assert all(
            leaf.relation().cacheBuilder().equals(evaluated) for leaf in split_leaves
        )
        scanned = _scanned_tables(evaluated.cachedPlan())
    once = _scanned_tables(projection._jdf.queryExecution().executedPlan())
    assert scanned == once and len(once) >= 3


def test_training_task_writes_each_artifact_once(domain, tmp_path, monkeypatch):
    """During one training task each model's file is installed by exactly
    one os.replace, and the document it installs already carries its
    metrics: no reader can see an artifact without them."""
    real_replace = os.replace
    installed = []

    def spy(src, dst):
        with open(src) as f:
            installed.append((os.path.basename(dst), json.load(f)["metrics"]))
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", spy)
    for task_id, fn in _training_tasks(domain, str(tmp_path)).items():
        installed.clear()
        fn({})
        version = CLOCK.strftime("%Y%m%dT%H%M%S")
        assert sorted(name for name, _ in installed) == sorted(
            f"{m}_v{version}.json" for m in SURFACES[task_id]
        ), task_id
        for name, metrics in installed:
            (m,) = metrics
            assert m["n"] > 0 and m["mae"] > 0 and m["rmse"] >= m["mae"], name


def test_training_is_identical_across_shuffle_partitions(domain, tmp_path):
    """Differential check, one computation under two configurations: the
    same training run at 1 and at 8 shuffle partitions must publish
    byte-identical artifacts. The naive mean and the metrics come from
    exact sums, so the partition layout cannot move their last bits; the
    linear coefficients are pinned to their published values."""
    spark = domain
    published = {}
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in (1, 8):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            model_dir = tmp_path / str(parts)
            for fn in _training_tasks(spark, str(model_dir)).values():
                fn({})
            published[parts] = {
                f: (model_dir / f).read_bytes() for f in sorted(os.listdir(model_dir))
            }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert len(published[8]) == 4
    assert published[1] == published[8]
    for f, raw in published[8].items():
        doc = json.loads(raw)
        if doc["name"] in COEFFICIENTS:
            assert doc["coefficients"] == [COEFFICIENTS[doc["name"]]], f
