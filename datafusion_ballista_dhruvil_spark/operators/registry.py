"""Query registry: the engine's declared operator surface.

Every implemented query/operator from SURVEY.md §2 registers here with a
PySpark DataFrame builder and (when SQL-expressible) a DuckDB oracle SQL
string. ``__spark_entry__.py`` exposes these to the driver's correctness
harness; ``bench.py`` times them.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle`` is equivalent DuckDB ANSI SQL.

    Omit ``oracle`` only for genuinely non-SQL-expressible operators (the
    driver then records a weaker rows-only check).

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
        if oracle is not None:
            ORACLES[name] = oracle
        return build

    return deco


#: Driver-facing export order. The driver's correctness gate consumes
#: only the FIRST 50 registered queries, so export order IS coverage.
#: Every registered query has a green latest verdict (none unverdicted
#: through r11). Tranche composition (changed-code-first):
#: 1) the 23 builders whose source the build-scope change touched: the
#:    21 that wrapped their result in owned_result, dedup_cluster_cc
#:    (releases its pair caches through the scope), and
#:    sim_pca_power_iteration (comment only);
#: 2) builders changed since r11 with no verdict since: the 14 mm_
#:    payload builders (one map stage each) and the _bpe_learn /
#:    chunk_pair_edges sharers text_bpe_merges, text_bpe_tokenize and
#:    dedup_chunk_pagerank (dedup_kcore_peel is in 1);
#: 3) the first 10 remaining rows of the previous tranche.
#: Dropped from the previous list: its last 23 rows, ev_rollup_multires
#: through text_ngram_profile. Each carries a green r11 verdict and this
#: change does not touch its source, so a slot re-verifies less there
#: than on changed code.
#: All names below are asserted against QUERIES at import (see bottom of
#: load_all in __init__); a typo here raises instead of silently dropping
#: a verdict slot.
EXPORT_PRIORITY: list[str] = [
    # ---- build-scope change (changed code)
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_cluster_cc",
    "dedup_editdist_verify", "dedup_incremental_lsh", "pipeline_clean_corpus",
    "dedup_minhash_accuracy", "dedup_graph_triangles", "dedup_kcore_peel",
    "dedup_lsh_tuning_curve", "ev_rfm_segments", "ev_chisquare_matrix",
    "ev_markov_stationary", "ev_lttb_downsample", "ev_mann_kendall",
    "ops_agg_approx", "ops_mad_outliers", "text_source_entropy_kl",
    "sim_kmeans_iterate", "sim_cluster_purity_nmi", "sim_pca_power_iteration",
    "tpcds_q64", "tpcds_q39",
    # ---- changed since r11, not yet verdicted
    "mm_decode_features", "mm_png_features", "mm_image_ahash",
    "mm_image_dhash", "mm_image_neardup_pairs", "mm_image_entropy",
    "mm_image_resize", "mm_audio_features", "mm_audio_vad_segments",
    "mm_audio_resample", "mm_jpeg_features", "mm_jpeg_color_stats",
    "mm_resize_thumbnail", "mm_scene_cuts",
    "text_bpe_merges", "text_bpe_tokenize", "dedup_chunk_pagerank",
    # ---- kept from the previous tranche
    "ev_markov_attribution", "text_crosslingual_confusion",
    "ev_anomaly_zscore", "ev_cohort_retention", "ev_date_bin",
    "ev_dau_wau_mau", "ev_funnel_stages", "ev_gapfill_series",
    "ev_props_json", "ev_props_variant",
]


def export_ordered(d: dict[str, object]) -> dict:
    """Reorder a registry dict: EXPORT_PRIORITY entries first (in that
    order), everything else after in registration order."""
    prio = [k for k in EXPORT_PRIORITY if k in d]
    rest = [k for k in d if k not in set(prio)]
    return {k: d[k] for k in [*prio, *rest]}
