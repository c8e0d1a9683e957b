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
#: 0) udf_table_function, whose UDTF is now a uniquely named temporary
#:    function dropped once its plan is analyzed;
#: 1) the 47 builders with a Python stage (``py_eval`` or ``py_map`` in
#:    PLAN_FINGERPRINTS.json), whose workers now fork from the engine's
#:    daemon (``worker_daemon``);
#: 2) the first 2 rows of the previous list.
#: Dropped from the previous list to keep the tranche at 50: the rest of
#: its frames-as-SQL-arguments and bucket_pairs / set_overlap rows and
#: the 2 build-scope builders.
#: All names below are asserted against QUERIES at import (see bottom of
#: load_all in __init__); a typo here raises instead of silently dropping
#: a verdict slot.
EXPORT_PRIORITY: list[str] = [
    # ---- UDTF dropped after analysis (changed code)
    "udf_table_function",
    # ---- Python stages on the engine's worker daemon (changed code)
    "avro_roundtrip_agg", "dedup_semantic_keep", "ev_forecast_holt",
    "hybrid_search_rrf", "mm_audio_features", "mm_audio_resample",
    "mm_audio_vad_segments", "mm_decode_features", "mm_image_ahash",
    "mm_image_dhash", "mm_image_entropy", "mm_image_neardup_pairs",
    "mm_image_resize", "mm_jpeg_color_stats", "mm_jpeg_features",
    "mm_png_features", "mm_resize_thumbnail", "mm_scene_cuts",
    "sample_kcenter_coreset", "sim_anisotropy_audit", "sim_ann_bucketed",
    "sim_ann_recall", "sim_bitext_margin_mining", "sim_cluster_purity_nmi",
    "sim_cosine_topk", "sim_dbscan_core", "sim_embedding_neardup",
    "sim_hard_negatives", "sim_ivf_balance_audit", "sim_ivf_pq",
    "sim_ivf_topk", "sim_kmeans_assign", "sim_knn_label_agreement",
    "sim_matryoshka_recall", "sim_mmr_rerank", "sim_ndcg_eval", "sim_pq_adc",
    "sim_pq_code_dedup", "sim_recall_at_k_curve", "sim_residual_quantize",
    "sim_silhouette", "sim_srp_agreement_audit", "sim_triplet_margin",
    "text_heavy_hitters", "udf_grouped_agg", "udf_grouped_map_normalize",
    "udf_vectorized_score",
    # ---- frames passed to SQL as arguments (previous list)
    "ops_grouping_sets", "ops_lateral_join",
]


def export_ordered(d: dict[str, object]) -> dict:
    """Reorder a registry dict: EXPORT_PRIORITY entries first (in that
    order), everything else after in registration order."""
    prio = [k for k in EXPORT_PRIORITY if k in d]
    rest = [k for k in d if k not in set(prio)]
    return {k: d[k] for k in [*prio, *rest]}
