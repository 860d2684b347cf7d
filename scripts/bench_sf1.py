"""Scale checkpoint: the most expensive registered queries at sf0.1 vs
sf1 (10x data, .scratch/sf1 from scripts/make_sf1.py), n=2 warm runs
each, min taken. Emits BENCH_sf1.json at the repo root:

  {"queries": {name: {"sf01": s, "sf1": s, "ratio": r}}, ...}

ratio ~= 1-10 means sublinear-to-linear scaling (input grew 10x);
the bucketed dedup/ANN paths must stay <= ~linear — a superlinear
ratio there would mean a hidden all-pairs or a shuffle that grows
faster than the data. The flagship pair (training_features with its
reference-faithful global window vs training_features_stitched) is
timed to show the stitched plan is the one to ship at scale.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(REPO, ".scratch", "sf1")

QUERIES = [
    # dedup / curation (bucketed LSH + components pipelines)
    "dedup_exact",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "neardup_clusters",
    "dedup_canonical",
    "corpus_curation_summary",
    "curation_funnel",
    "line_dedup",
    "cross_source_contamination",
    # similarity / ANN
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_ivf_trained",
    "kmeans_centroids",
    "embedding_covariance",
    # text / sequence / ML
    "tfidf_terms",
    "bpe_train_merges",
    "session_stats",
    "train_gbt_model",
    "training_features",
    # round-3 additions (cluster-bounded / bitmap / closed-form paths —
    # each must stay <= ~linear at 10x)
    "semantic_dedup",
    "ann_index_upsert",
    "bloom_shingle_prefilter",
    "cardinality_sketch",
    "perplexity_buckets",
    "rolling_backtest",
    "dataset_card",
    # round-6 additions: the HLL set-algebra pair (the audited twin was
    # the one registered query missing from the checkpoint — VERDICT r5
    # ask #5) and its audit-free production variant
    "hll_union_distinct",
    "hll_union_lean",
    "winnow_neardup_pairs",
    "quantile_sketch_by_type",
    "quantile_sketch_lean",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "token_budget_sample",
    # r9 additions (registered scale-safe flagship + the LM/retrieval/
    # sampling family; training_features_stitched is also appended by
    # the no-args special case below — listing it here keeps the row
    # refreshed on partial runs too)
    "training_features_stitched",
    "ngram_lm_kn",
    "ngram_lm_kn3",
    "dsir_importance_sample",
    "triplet_mining",
    "bm25_topk",
    "curation_pipeline_v2",
    "word_embedding_train",
    # r10 additions: the text -> embedding bridge (SGNS fit + pool +
    # serve — one vocab join and one (doc,dim) agg on top of the
    # word2vec trajectory; must stay ~linear), the BM25-legged RRF
    # fusion, and the KN-scored CCNet buckets
    "doc_embedding_topk",
    "text_semantic_dedup",
    "hybrid_bm25_rrf",
    "perplexity_buckets_kn",
    "ngram_lm_mkn",
    "doc_embedding_ivf_topk",
    "curation_pipeline_v3",
    "text_triplet_mining",
    # r11: served funnel, BPE packing, order-3 mkn, bridge recall eval
    "curation_pipeline_v3_served",
    "pack_sequences_bpe",
    "ngram_lm_mkn3",
    "doc_embedding_recall_eval",
]


def time_query(fn, spark, sf_dir: str, n: int = 2) -> float:
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        fn(spark, sf_dir).collect()
        best = min(best, time.perf_counter() - t0)
        spark.catalog.clearCache()
    return round(best, 3)


def main() -> None:
    from bigdatasmallprice_spark.queries.timeseries import training_features_stitched
    from bigdatasmallprice_spark.registry import all_queries
    from bigdatasmallprice_spark.session import get_spark

    spark = get_spark("bench-sf1")
    specs = all_queries()
    # optional CLI args: measure only the named queries (merged into the
    # artifact like any run) — lets a round re-measure its additions
    # without re-timing the whole list
    wanted = sys.argv[1:] or QUERIES
    unknown = [n for n in wanted if n not in specs]
    if unknown:
        raise SystemExit(
            f"not registered queries: {unknown} — valid names are the "
            "registry's (training_features_stitched is a special case "
            "measured only by the no-args full run)"
        )
    fns = {n: specs[n].fn for n in wanted}
    if not sys.argv[1:]:
        fns["training_features_stitched"] = training_features_stitched

    out: dict[str, dict[str, float]] = {}
    for name, fn in fns.items():
        # warm codegen at the small sf first, then measure both
        fn(spark, SF01).collect()
        spark.catalog.clearCache()
        s01 = time_query(fn, spark, SF01)
        s1 = time_query(fn, spark, SF1)
        out[name] = {"sf01": s01, "sf1": s1, "ratio": round(s1 / s01, 2)}
        print(name, out[name], flush=True)

    # merge into the existing checkpoint: keep prior query rows (and
    # extra evidence keys like long_series_window_ab) unless re-measured
    path = os.path.join(REPO, "BENCH_sf1.json")
    doc = {
        "metric": "sf1_scale_checkpoint",
        "unit": "sec",
        "sf_pair": [0.1, 1.0],
        "queries": {},
    }
    if os.path.exists(path):
        with open(path) as fh:
            doc.update(json.load(fh))
    doc["queries"].update(out)
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
