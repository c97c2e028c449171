"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship query (TPC-H Q1 shape) on sf0.001.
queries()       — every implemented operator from SURVEY.md §2
                  (relational surface + LLM-pipeline extensions).
oracle_sql()    — DuckDB-equivalent SQL for each hash-checkable query;
                  omitted only for genuinely non-SQL ops (LSH banding,
                  SimHash, mapInPandas stubs) → rows-only check.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from mongo_cdc_spark.operators import (  # noqa: E402
    cdc_batch, dedup, graph, layout, multimodal, quality, relational,
    similarity, skew, sqlfront, text, timeseries, tpch_full, training,
)

_MODULES = (cdc_batch, relational, tpch_full, dedup, similarity, text,
            multimodal, training, skew, layout, quality, timeseries,
            graph, sqlfront)

# The driver grades the first 50 queries() entries, in insertion order.
# _GRADE_FIRST is that window and holds at most 50 names: first the
# queries never graded, then those changed since their last green
# correctness row, then new operators. All other queries follow in
# module order, so the full registry is intact.
_GRADE_FIRST = (
    "ts_motif_discovery", "agg_approx_sketches",
    "dedup_sample_rate_estimate", "embedding_class_scatter",
    "similarity_threshold_pairs", "dedup_embedding_cosine",
    "dedup_semantic_semdedup", "train_decontaminate_semantic",
    "events_markov_stationary", "graph_kcore_decomposition",
    "cdc_key_envelope", "stats_conformal_interval",
    "similarity_pair_distance_histogram", "similarity_jl_projection_audit",
    "knn_mmr_rerank", "knn_sq8_search", "ann_range_search",
    "ann_recall_eval", "knn_bruteforce_cosine", "knn_ivf_centroid",
    "knn_lsh_hyperplane", "knn_pq_quantize", "mine_hard_negatives",
    "kmeans_silhouette_eval", "kmeans_cluster_agreement",
    "knn_ivf_balance_report", "similarity_mips_norm_augment",
    "events_retention_cohorts", "events_session_stats",
    "events_time_to_convert", "graph_link_prediction",
    "layout_clustering_depth", "layout_range_bounds", "orders_ship_latency",
    "sketch_accuracy_eval", "stats_brier_decomposition",
    "stats_chi_square_independence", "stats_eb_shrinkage",
    "stats_gini_split_search", "stats_isotonic_calibration",
    "stats_levene_variance", "stats_twoway_fixed_effects",
    "streaming_retention_curve_replay", "train_corpus_release",
    "train_cross_source_overlap", "train_dataset_card",
    "train_length_buckets", "ts_dow_seasonality",
    "ts_exponential_smoothing", "ts_kendall_tau",
)


def _ordered(merged: dict) -> dict:
    front = {k: merged[k] for k in _GRADE_FIRST if k in merged}
    front.update(merged)
    return front


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return relational.q1_pricing_summary(spark, "/root/testdata/sf0.001")


def _merge(attr: str) -> dict:
    """Merge per-module registries, refusing silent shadowing: a name
    registered twice would overwrite an (often already-graded) query
    with a different implementation — caught live in round 7 when a
    new operator accidentally reused events_user_lifecycle."""
    merged: dict = {}
    for mod in _MODULES:
        for name, val in getattr(mod, attr).items():
            if name in merged:
                raise ValueError(
                    f"duplicate query registration: {name!r} "
                    f"(second one in {mod.__name__})")
            merged[name] = val
    return merged


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(_merge("QUERIES"))


def oracle_sql() -> dict[str, str]:
    return _ordered(_merge("ORACLE"))
