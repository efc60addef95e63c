"""Central query registry.

Every implemented operator/query registers a ``QuerySpec`` here:
- ``fn(spark, sf_dir) -> DataFrame`` — the Spark implementation,
- ``oracle`` — equivalent ANSI SQL for the DuckDB correctness oracle
  (``None`` only for genuinely non-SQL-expressible ops: iterative
  algorithms, sequential ML, custom stateful streaming).

``__spark_entry__.py`` (the driver contract) is a thin view over this.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}

# Modules that register specs on import (import order no longer encodes
# the driver window — see _WINDOW_FRONT below).
_SPEC_MODULES = [
    "bigdata2016w_spark.plans.temporal",
    "bigdata2016w_spark.plans.analytics",
    "bigdata2016w_spark.plans.joins_setops",
    "bigdata2016w_spark.plans.reshape",
    "bigdata2016w_spark.plans.sampling",
    "bigdata2016w_spark.plans.upsert_plans",
    "bigdata2016w_spark.plans.curation",
    "bigdata2016w_spark.plans.lm_quality",
    "bigdata2016w_spark.plans.multimodal_plans",
    # graph before pipeline: pagerank_top10's oracle upgrade (r03) needs a
    # driver row; its r02 record predates the unrolled-CTE oracle
    "bigdata2016w_spark.plans.graph",
    "bigdata2016w_spark.plans.pipeline",
    "bigdata2016w_spark.plans.relational",
    "bigdata2016w_spark.plans.text_analytics",
    "bigdata2016w_spark.plans.retrieval",
    "bigdata2016w_spark.plans.ml",
    "bigdata2016w_spark.plans.events",
    # appended last deliberately — must not displace queries still
    # awaiting their first driver verdict inside the 50-query window
    "bigdata2016w_spark.plans.traversal",
    "bigdata2016w_spark.plans.maintenance",
    "bigdata2016w_spark.plans.corpus_ext",
    "bigdata2016w_spark.plans.sketches",
    "bigdata2016w_spark.plans.layout",
]


# ORDER MATTERS for external verification: the round driver samples the
# FIRST 50 names returned by all_specs() for its DuckDB-oracle correctness
# file. _WINDOW_FRONT pins that window explicitly (finer-grained than
# module import order). Rotation history for rounds 6-11 lives in
# docs/window_history.md; the comments here describe only the LIVE window.
#
# ROUND 12 window (11 + 23 + 16 = 50): lead with the two IVM queries
# (r11's only reds — hash-flagged on raw DECIMAL output, now CAST to
# DOUBLE at the boundary) plus the eight r12-new queries
# (embeddings_semdedup_admission — the last streaming surface certified
# end-to-end — the filtered-vector-search pair, the retraction-delta
# IVM in batch and streamed-CDC form, the bilinear join-view IVM, DSIR
# importance selection, the schema-evolution conform-read, and the
# dedup-cluster-keyed leakage-safe split), then the 23 remaining
# r08-latest greens in r08 sample order, then 16 fillers from the
# oldest r09-latest greens in r09 sample order. The 5 rows-only
# no-oracle queries
# (ann_ivf, sgd_scores, sgd_ensemble, sgd_auc, bpe_merge_table) stay
# BEHIND the window — an oracle slot spent on a rows-only check is
# wasted.
#
# ROUND 13 rotation plan: lead with any r12 reds, then the r09-latest
# greens not covered by the r12 window (the ~21 displaced by the r12
# additions plus the rest of the r09 tier), fillers from oldest
# r10-latest greens.
_WINDOW_FRONT = [
    # --- needs a green driver row (2 hash-fixed + 9 r12-new) ---
    "orders_ivm_streamed", "orders_ivm_nation_revenue",
    "embeddings_semdedup_admission", "ann_ivf_filtered",
    "ann_ivfpq_filtered_serve", "orders_ivm_retractions",
    "orders_ivm_cdc_streamed", "orders_ivm_join_delta",
    "documents_dsir_selection", "orders_schema_evolution_read",
    "documents_leakage_safe_split",
    # --- the 23 remaining r08-latest greens, r08 sample order ---
    "orders_upsert", "orders_scd2", "orders_snapshot_diff",
    "doc_repetition_stats", "contamination_check", "dup_span_fraction",
    "corpus_datacard", "doc_lm_score", "vocab_coverage",
    "doc_tfidf_terms", "documents_weighted_sample",
    "doc_bpe_token_stats", "token_heavy_hitters",
    "media_image_features", "media_frame_sample", "pagerank_top10",
    "graph_triangles", "dedup_exact", "embedding_near_dupes",
    "dedup_jaccard", "dedup_minhash_lsh", "dedup_simhash",
    "ann_bruteforce",
    # --- oldest r09-latest greens, r09 sample order (16) ---
    "ann_ivf_pq_residual", "ann_ivf_pq_rerank", "graph_lpa_communities",
    "orders_price_quantile_sketch", "ann_lsh", "doc_stats",
    "doc_lang_id", "dedup_clusters", "dedup_clusters_star",
    "embedding_label_centroids", "embedding_nearest_centroid",
    "embedding_hard_negatives", "q4_priority_late_exists",
    "q21_waiting_supplier", "q10_returned_revenue",
    "q12_priority_shipping",
]


def register(spec: QuerySpec) -> QuerySpec:
    if spec.name in REGISTRY:
        raise ValueError(f"duplicate query name {spec.name!r}")
    REGISTRY[spec.name] = spec
    return spec


def all_specs() -> dict[str, QuerySpec]:
    """Import all plan modules (idempotent) and return the full registry,
    reordered so _WINDOW_FRONT leads (the driver's 50-query correctness
    window), followed by the rest in registration order."""
    for mod in _SPEC_MODULES:
        importlib.import_module(mod)
    missing = [n for n in _WINDOW_FRONT if n not in REGISTRY]
    if missing:  # fail loudly: a rename must update the window, not hide
        raise KeyError(f"_WINDOW_FRONT names not registered: {missing}")
    front = {n: REGISTRY[n] for n in _WINDOW_FRONT}
    rest = {n: s for n, s in REGISTRY.items() if n not in front}
    return {**front, **rest}
