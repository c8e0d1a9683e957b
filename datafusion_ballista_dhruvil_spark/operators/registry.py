"""Query registry: the engine's declared operator surface.

Every implemented query/operator from SURVEY.md §2 registers here with a
PySpark DataFrame builder and a DuckDB oracle SQL string.
``__spark_entry__.py`` exposes these to the driver's correctness harness;
``bench.py`` times them.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle`` is equivalent DuckDB ANSI SQL.

    Every call of the registered builder runs in a build scope
    (``scale.owned_build``) that owns the caches the builder marks with
    ``scale.cached``: they are released when the returned frame's action
    completes, or at once if the build raises.
    """

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            # imported per call: scale registers queries through this module
            from datafusion_ballista_dhruvil_spark.operators.scale import owned_build

            return owned_build(lambda: fn(spark, sf_dir))

        QUERIES[name] = build
        ORACLES[name] = oracle
        return build

    return deco


#: Driver-facing export order. The driver's correctness gate consumes
#: only the FIRST 50 registered queries, so export order IS coverage.
#: Every registered query has a green latest verdict (none unverdicted
#: through r11). Tranche composition (changed-code-first):
#: 0) the 17 builders that now pass their frames to SQL as arguments
#:    instead of registering temp views;
#: 1) the 11 builders moved onto dedup.bucket_pairs / dedup.set_overlap,
#:    verified_pairs_of's users included;
#: 2) udf_grouped_map_normalize, which lost the orderBy after its
#:    grouped map;
#: 3) the 19 builders whose code moved onto a shared similarity kernel,
#:    sim_dbscan_core also without its orderBy;
#: 4) the first 2 of the build-scope change's builders.
#: Dropped from the previous list to keep the tranche at 50: its last
#: 17 rows, the rest of the build-scope change and the first mm_ payload
#: builders.
#: All names below are asserted against QUERIES at import (see bottom of
#: load_all in __init__); a typo here raises instead of silently dropping
#: a verdict slot.
EXPORT_PRIORITY: list[str] = [
    # ---- frames passed to SQL as arguments (changed code)
    "ops_grouping_sets", "ops_lateral_join", "ops_distinct_on",
    "ops_qualify_rewrite", "ops_recursive_cte", "ops_listagg_within_group",
    "ops_pipe_syntax", "ops_group_order_by_all", "ops_session_variables",
    "ops_execute_immediate", "ops_identifier_clause",
    "ops_lateral_column_alias", "ops_not_in_null_semantics",
    "ev_rollup_multires", "ev_forecast_holt", "q15", "udf_table_function",
    # ---- moved onto bucket_pairs / set_overlap (changed code)
    "dedup_minhash_lsh", "dedup_cluster_cc", "dedup_editdist_verify",
    "pipeline_clean_corpus", "dedup_graph_triangles", "dedup_minhash_accuracy",
    "dedup_simhash_pairs", "dedup_incremental_lsh", "dedup_sorted_neighborhood",
    "dedup_lsh_tuning_curve", "mm_image_neardup_pairs",
    # ---- grouped map without its orderBy (changed code)
    "udf_grouped_map_normalize",
    # ---- moved onto a shared similarity kernel (changed code)
    "sim_cosine_topk", "sim_ann_recall", "sim_recall_at_k_curve",
    "sim_matryoshka_recall", "sim_ivf_topk", "sim_knn_label_agreement",
    "sim_ivf_balance_audit", "sim_kmeans_assign", "dedup_semantic_keep",
    "sim_cluster_purity_nmi", "sim_silhouette", "sim_dbscan_core",
    "sim_bitext_margin_mining", "sim_pq_adc", "sim_ivf_pq",
    "sim_pq_code_dedup", "sim_residual_quantize", "sim_srp_agreement_audit",
    "sample_kcenter_coreset",
    # ---- build-scope change, not yet verdicted
    "dedup_ngram_jaccard", "dedup_kcore_peel",
]


def export_ordered(d: dict[str, object]) -> dict:
    """Reorder a registry dict: EXPORT_PRIORITY entries first (in that
    order), everything else after in registration order."""
    prio = [k for k in EXPORT_PRIORITY if k in d]
    rest = [k for k in d if k not in set(prio)]
    return {k: d[k] for k in [*prio, *rest]}
