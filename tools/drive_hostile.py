"""Hostile-session drive: the driver builds its OWN SparkSession (non-UTC
tz, none of create_session's confs). ensure_session_confs must keep every
query hash-stable anyway. Runs a representative subset: every
events/timestamp query, the connector round-trips, and the operators with
Python-closure or pandas-kernel stages."""

import importlib.util
import sys

from pyspark.sql import SparkSession

SF = "/root/testdata/sf0.01"
REPO = "/root/repo"

spec = importlib.util.spec_from_file_location(
    "__spark_entry__", f"{REPO}/__spark_entry__.py"
)
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)

from tools.drive_common import compare_all, make_duckdb  # noqa: E402

spark = (
    SparkSession.builder.appName("hostile")
    .master("local[8]")
    .config("spark.sql.session.timeZone", "America/New_York")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("WARN")

queries = mod.queries()
oracles = mod.oracle_sql()
subset = [
    n
    for n in sorted(queries)
    if (
        n.startswith(("ev_", "asof_", "range_", "pipeline_"))
        or n
        in (
            "q1",
            "q3",
            "q4",
            "q10",
            "q18",
            "ops_scalar_datetime",
            # year(o_orderdate) renders in SESSION TZ — the exact class
            # of foreign-session breakage this drive exists to catch;
            # ensure_session_confs must keep the year grouping stable
            "tpcds_q3",
            "tpcds_q64",
            "tpcds_q78",
            "ops_table_checksum",
            "ops_profile_stats",
            "text_pii_redact",
            "sim_embedding_quantize",
            "dedup_semantic_keep",
            "ev_cohort_retention",
            "avro_roundtrip_agg",
            "csv_roundtrip_agg",
            "json_roundtrip_agg",
            "snapshot_timetravel_agg",
            "hybrid_search_rrf",
            "sim_random_projection",
            "text_bigram_lm_score",
            "text_chunk_crossdup",
            "dedup_chunk_pagerank",
            "sim_kmeans_iterate",
            "dedup_editdist_verify",
            "udf_grouped_agg",
            "udf_vectorized_score",
            # pandas_udf/mapInPandas kernels pickled by reference — the
            # foreign-worker import failure class this drive exists to catch
            "sim_cosine_topk",
            "sim_ivf_topk",
            "sim_ann_bucketed",
            "sim_pq_adc",
            # every mm_ payload builder: map_payload_rows is module-level
            # and its row functions reference the codecs (multimodal,
            # jpeg_py) by reference — the foreign workers must import them
            "mm_decode_features",
            "mm_png_features",
            "mm_resize_thumbnail",
            "mm_image_ahash",
            "mm_image_entropy",
            "mm_image_resize",
            "mm_audio_features",
            "mm_audio_resample",
            "mm_scene_cuts",
            "mm_jpeg_features",
            "mm_jpeg_color_stats",
            # r4 kernels: cell-local grouped-map matmuls, perceptual-hash
            # banding, VAD framing, the Python DataSource read path, and
            # the driver-collect-then-replace BPE loop
            "sim_knn_label_agreement",
            "sim_dbscan_core",
            "mm_image_dhash",
            "mm_image_neardup_pairs",
            "mm_audio_vad_segments",
            "snapshot_pysource_agg",
            "text_bpe_merges",
            "udf_grouped_map_normalize",
            # r4 session-2 kernels: broadcast-codebook RVQ/recall sweeps,
            # the collected-matrix attribution solve, shuffle_hash-pinned
            # boilerplate join, cached LSH sweep sample
            "sim_residual_quantize",
            "sim_recall_at_k_curve",
            "sim_ivf_balance_audit",
            "dedup_lsh_tuning_curve",
            "text_boilerplate_lines",
            "dedup_url_canonical",
            "mix_token_apportionment",
        )
    )
]
con = make_duckdb(SF)
n_fails = compare_all(spark, con, queries, oracles, subset, SF)
print(f"(hostile-session subset of {len(subset)})")
spark.stop()
sys.exit(1 if n_fails else 0)
