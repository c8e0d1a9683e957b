"""Query registry: the engine's declared operator surface.

Every implemented query/operator from SURVEY.md §2 registers here with a
PySpark DataFrame builder and (when SQL-expressible) a DuckDB oracle SQL
string. ``__spark_entry__.py`` exposes these to the driver's correctness
harness; ``bench.py`` times them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle`` is equivalent DuckDB ANSI SQL.

    Omit ``oracle`` only for genuinely non-SQL-expressible operators (the
    driver then records a weaker rows-only check).
    """

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


#: Driver-facing export order. The driver's correctness gate consumes
#: only the FIRST 50 registered queries, so export order IS coverage.
#: Every registered query has a green latest verdict (none unverdicted
#: through r11). Tranche composition (changed-code-first, then the rest
#: of the r11 tranche):
#: 1) the 14 mm_ payload builders whose Python stage changed (each now
#:    encodes and decodes its container in one map stage through
#:    multimodal.map_payload_rows);
#: 2) 36 rows kept from the r11 tranche. All 50 r11 rows carry the
#:    newest verdict, so the 14 dropped are rows whose builder source is
#:    unchanged since that verdict: dedup_lsh_tuning_curve and
#:    ops_agg_approx (their r11 change is verified), the 3 shingle-spread
#:    representatives (the no-op is confirmed), and the last 9 unchanged
#:    refresh rows, text_decontam_overlap through yoy_sales_growth
#:    (text_ngram_profile changed since, so it stays).
#: All names below are asserted against QUERIES at import (see bottom of
#: load_all in __init__); a typo here raises instead of silently dropping
#: a verdict slot.
EXPORT_PRIORITY: list[str] = [
    # ---- one-stage payload builders (changed code)
    "mm_decode_features", "mm_png_features", "mm_image_ahash",
    "mm_image_dhash", "mm_image_neardup_pairs", "mm_image_entropy",
    "mm_image_resize", "mm_audio_features", "mm_audio_vad_segments",
    "mm_audio_resample", "mm_jpeg_features", "mm_jpeg_color_stats",
    "mm_resize_thumbnail", "mm_scene_cuts",
    # ---- kept from the r11 tranche
    "ev_markov_attribution",
    "sim_cluster_purity_nmi",
    "sim_pca_power_iteration",
    "text_bpe_merges",
    "text_crosslingual_confusion",
    "ev_anomaly_zscore", "ev_cohort_retention", "ev_date_bin",
    "ev_dau_wau_mau", "ev_funnel_stages", "ev_gapfill_series",
    "ev_props_json", "ev_props_variant", "ev_rollup_multires",
    "ev_scd2_intervals", "ev_session_window", "ev_sessionize",
    "ev_transition_matrix", "ev_tumbling_window", "ev_type_pivot",
    "ev_watermark_audit", "mix_resample_sources", "ops_lateral_join",
    "ops_sort_null_order", "ops_unpivot", "pack_token_bins",
    "range_recent_clicks", "sample_negative_pairs",
    "sample_stratified_hash", "sample_topk_per_group", "sim_cosine_topk",
    "split_hash_assign", "text_bm25_topk", "text_chunk_crossdup",
    "text_chunk_windows", "text_ngram_profile",
]


def export_ordered(d: dict[str, object]) -> dict:
    """Reorder a registry dict: EXPORT_PRIORITY entries first (in that
    order), everything else after in registration order."""
    prio = [k for k in EXPORT_PRIORITY if k in d]
    rest = [k for k in d if k not in set(prio)]
    return {k: d[k] for k in [*prio, *rest]}
