"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship tile-grid explode on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent SQL per query (the correctness
gate compares row count + schema + order-insensitive value hash at
sf0.01).

Column-name parity rule: every computed column is aliased identically
in the Spark plan and the oracle SQL. Float rule: sums accumulate in
DECIMAL and cast to DOUBLE on both sides so hashes match exactly.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.multimodal import alignment as mm_alignment
from dataset_batch_processor_spark.multimodal import queries as mm_queries
from dataset_batch_processor_spark.sources import jsonl as jsonl_ops
from dataset_batch_processor_spark.sources import storage as storage_ops
from dataset_batch_processor_spark.sources import tabular as tabular_ops
from dataset_batch_processor_spark.streaming import batchcheck as stream_check
from dataset_batch_processor_spark.streaming import incremental as stream_inc
from dataset_batch_processor_spark.streaming import driftmon as stream_drift
from dataset_batch_processor_spark.streaming import turndedup as stream_turndedup
from dataset_batch_processor_spark.streaming import qualitygate as stream_qg
from dataset_batch_processor_spark.streaming import convgate as stream_cvg
from dataset_batch_processor_spark.streaming import quotagate as stream_qt
from dataset_batch_processor_spark.streaming import rlvrgate as stream_rvg
from dataset_batch_processor_spark.streaming import canarygate as stream_cng
from dataset_batch_processor_spark.streaming import hllgate as stream_hlg
from dataset_batch_processor_spark.streaming import prefgate as stream_pfg
from dataset_batch_processor_spark.operators import (
    analytics,
    chat,
    chatvalidate,
    datacard,
    ffdpack,
    icp,
    recipe,
    curriculum,
    langid,
    matryoshka,
    mmr,
    preference,
    rlvr,
    canary,
    embed,
    agreement,
    ragchunk,
    winnow,
    pii,
    batching,
    hll,
    boilerplate,
    bpe,
    captions as cap_ops,
    components,
    corpusstats,
    dataops,
    doremi,
    decontam,
    dedupdash,
    dsir,
    ivfpq,
    coreset,
    linkage,
    lmobjectives,
    perceptron,
    curation,
    dedup as dedup_ops,
    merge as merge_ops,
    mlfilter,
    pq,
    quantize,
    recall,
    substring,
    relational,
    setops,
    tpch,
    windows,
    embdup,
    lmscore,
    imagedup,
    pca,
    mining,
    feathash,
    cms,
    curationfunnel,
    histsketch,
    routing,
    search,
    funnel,
    phash,
    events as events_ops,
    semdedup,
    webquality,
    similarity,
    temporal,
    textanalysis,
    textclean,
    textops,
    tiling,
)

SF0001 = "/root/testdata/sf0.001"

# Canonical parameter grid (FIXTURES.md): reference defaults
# tile=1024, overlap=0.5, padding=10 (/root/reference/start_app.py:29-31).
SPEC_DEFAULT = tiling.TileSpec(
    tile_size=1024, overlap_ratio=0.5, padding=10, caption="a photo"
)
SPEC_AUTO = tiling.TileSpec(
    tile_size=1024, overlap_ratio=0.5, padding=0, pad_option="Auto Adjust",
    save_format="JPG",
)
SPEC_NUMTILES = tiling.TileSpec(
    tile_size=0, overlap_ratio=0.0, padding=0, num_tiles=9
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: tile-grid explode (G1) over sf0.001 images_meta."""
    return tiling.tile_grid(catalog.images_meta(spark, SF0001), SPEC_DEFAULT)


# ---------------------------------------------------------------- queries

def _q_tile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tiling.tile_grid(catalog.images_meta(spark, sf_dir), SPEC_DEFAULT)


def _q_tile_grid_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tiling.tile_grid(catalog.images_meta(spark, sf_dir), SPEC_AUTO)


def _q_tile_grid_numtiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tiling.tile_grid(catalog.images_meta(spark, sf_dir), SPEC_NUMTILES)


def _q_route_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    return routing.route_images(catalog.images_meta(spark, sf_dir), 1024, 0.5)


def _q_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return routing.route_counts(
        routing.route_images(catalog.images_meta(spark, sf_dir), 1024, 0.5)
    )


def _q_auto_crop(spark: SparkSession, sf_dir: str) -> DataFrame:
    return routing.auto_crop(
        routing.route_images(catalog.images_meta(spark, sf_dir), 1024, 0.5)
    )


def _q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.dedup_lines(catalog.text_lines(spark, sf_dir), key_len=24)


def _q_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.dedup_stats(catalog.text_lines(spark, sf_dir), key_len=24)


def _q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.dedup_lines_normalized(catalog.text_lines(spark, sf_dir))


def _q_merge_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.merge_text(catalog.text_lines(spark, sf_dir))


def _q_split_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.split_chunks(catalog.text_lines(spark, sf_dir), records_per_file=50)


def _q_caption_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cap_ops.join_captions(
        catalog.images_meta(spark, sf_dir), catalog.captions(spark, sf_dir)
    )


def _q_mru_captions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cap_ops.mru_captions(catalog.caption_dict(spark, sf_dir))


def _q_caption_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cap_ops.upsert_caption(
        catalog.caption_dict(spark, sf_dir), "Brand#11", 10_000_000
    )


def _load_last_verified() -> dict[str, int]:
    """Last round in which each query had a green driver row, FOLDED
    FROM the committed ``CORRECTNESS_r{N}.json`` artifacts at import
    (green = ``hash_match``, or ``rows_match`` for the rows-only
    checks, with no recorded error). The driver verifies at most ~50
    queries per round in dict-insertion order, so ``_prioritize``
    fronts (a) names with NO green row ever, then (b) the STALEST
    green rows — each round the window re-proves the oldest
    verifications, so every query re-verifies at least every ~4 rounds
    instead of r1-era rows aging forever. Generated rather than
    hand-maintained (VERDICT r6 wrong#2): a hand-refreshed table one
    round stale would silently skew which rows get re-proved."""
    import glob
    import json
    import re

    out: dict[str, int] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m is None:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, r in rows.items():
            if not isinstance(r, dict) or r.get("err"):
                continue
            ok = r.get("hash_match")
            if ok is None:
                ok = r.get("rows_match")
            if ok:
                out[name] = max(out.get(name, 0), rnd)
    return out


_LAST_VERIFIED = _load_last_verified()

# The hand-maintained r6 table this loader replaced is preserved below
# (underscore-prefixed, unused) ONLY as the fixture for
# tests/test_rotation.py's equivalence check over the r1-r6 artifacts.
_R6_HAND_TABLE = {
    "active_customers_semi": 5,
    "asof_latest_order": 2,
    "asof_next_order_30d": 2,
    "auto_crop": 4,
    "brand_type_rollup": 5,
    "caption_join": 4,
    "caption_upsert": 4,
    "corpus_mixture_weights": 3,
    "corpus_source_summary": 4,
    "csv_roundtrip_orders": 2,
    "customer_asof_snapshot": 3,
    "customer_cube": 5,
    "customer_first_last_order": 3,
    "customer_order_gaps": 2,
    "customer_scd2_dim": 3,
    "customer_upsert_merge": 2,
    "customer_value_ntiles": 2,
    "customers_without_orders": 5,
    "dedup_exact_docs": 4,
    "dedup_lines": 4,
    "dedup_lines_normalized": 4,
    "dedup_stats": 4,
    "distinct_sketches": 4,
    "docs_bigram_lm_score": 5,
    "docs_bloom_decontam": 4,
    "docs_bm25_topk": 4,
    "docs_bpe_subword_tokens": 5,
    "docs_bpe_tokens": 5,
    "docs_cdc_chunks": 3,
    "docs_clean_pii": 2,
    "docs_containment_pairs": 4,
    "docs_decontaminate": 4,
    "docs_dedup_keep_longest": 4,
    "docs_dedup_survivors": 4,
    "docs_dup_components": 4,
    "docs_epoch_shuffle": 5,
    "docs_feature_hash_embedding": 5,
    "docs_fingerprint": 5,
    "docs_hybrid_rrf": 5,
    "docs_incremental_lsh_pairs": 4,
    "docs_keyword_search": 3,
    "docs_lang_id": 5,
    "docs_lang_rebalance_sample": 5,
    "docs_length_histogram": 2,
    "docs_ngram_jaccard_pairs": 4,
    "docs_quality_score": 5,
    "docs_repetition_metrics": 2,
    "docs_sequence_packing": 5,
    "docs_shard_packing": 2,
    "docs_snapshot_diff": 4,
    "docs_split_counts": 2,
    "docs_stratified_sample": 2,
    "docs_substring_dedup_apply": 5,
    "docs_substring_dedup_spans": 5,
    "docs_surprisal_rank": 3,
    "docs_tfidf_topterms": 2,
    "docs_token_rarity": 2,
    "docs_token_stats": 5,
    "docs_train_val_split": 2,
    "docs_vocab_coverage": 4,
    "docs_weighted_sample": 3,
    "docs_winnow_fingerprint": 5,
    "dup_graph_degree_stats": 4,
    "dup_graph_pagerank": 4,
    "dup_graph_triangles": 5,
    "dup_source_overlap": 5,
    "emb_ann_lsh_topk": 5,
    "emb_ann_multiprobe_topk": 4,
    "emb_ann_recall_report": 5,
    "emb_cosine_topk": 1,
    "emb_hard_negatives": 5,
    "emb_ivf_fullprobe_equiv": 2,
    "emb_ivf_topk": 1,
    "emb_ivfpq_topk": 5,
    "emb_knn_label_purity": 5,
    "emb_label_centroids": 2,
    "emb_label_knn": 3,
    "emb_near_dup_components": 4,
    "emb_near_dup_pairs": 1,
    "emb_norm_histogram": 4,
    "emb_pca_covariance": 5,
    "emb_pq_topk": 4,
    "emb_quantize_int8": 3,
    "emb_semdedup_survivors": 5,
    "event_followups_within_hour": 2,
    "events_anomaly_hours": 3,
    "events_cms_counters": 5,
    "events_cms_heavy_hitters": 5,
    "events_cms_streaming_counters": 5,
    "events_cohort_retention": 3,
    "events_daily_from_hourly": 2,
    "events_funnel": 3,
    "events_gap_fill_ffill": 2,
    "events_hist_quantiles": 5,
    "events_hist_streaming": 5,
    "events_hourly": 4,
    "events_json_extract": 4,
    "events_sessionize": 1,
    "events_sliding_active_users": 3,
    "events_stream_dedup": 3,
    "events_stream_hourly": 3,
    "events_stream_join_pairs": 4,
    "events_stream_sessions": 5,
    "events_value_histogram": 5,
    "events_value_percentiles": 3,
    "events_zorder_cells": 5,
    "fk_integrity_audit": 4,
    "img_dhash_components": 5,
    "img_dhash_near_dup_pairs": 5,
    "jsonl_roundtrip_orders": 3,
    "lineitem_grouping_sets": 2,
    "lineitem_profile": 3,
    "lineitem_qty_mode": 3,
    "lineitem_quantiles": 1,
    "lineitem_skew_audit": 5,
    "merge_text": 4,
    "minhash_jaccard_verify": 4,
    "minhash_lsh_pairs": 4,
    "minhash_signatures": 4,
    "ml_face_route": 1,
    "mm_audio_features": 5,
    "mm_audio_vad_segments": 5,
    "mm_decode_meta": 2,
    "mm_frame_sample": 5,
    "mm_heif_roundtrip": 5,
    "mm_jpeg_roundtrip": 2,
    "mm_png_roundtrip": 2,
    "mm_progressive_roundtrip": 4,
    "mm_resize_roundtrip": 3,
    "mm_tile_checksum": 4,
    "mm_vp8_roundtrip": 5,
    "mm_wav_roundtrip": 2,
    "mm_webp_roundtrip": 3,
    "mru_captions": 4,
    "names_union_all": 2,
    "orc_roundtrip_lineitem": 2,
    "orders_date_parts": 1,
    "orders_median_by_priority": 3,
    "orders_quality_report": 3,
    "orders_running_total": 4,
    "orders_stream_counts": 2,
    "orders_trailing_30d": 2,
    "part_string_funcs": 1,
    "partkey_set_ops": 1,
    "parts_above_brand_avg": 2,
    "parts_fuzzy_match_stats": 4,
    "priority_pivot": 1,
    "q10_returned_items": 1,
    "q11_important_stock": 5,
    "q12_priority_class": 5,
    "q13_order_distribution": 2,
    "q14_promo_effect": 2,
    "q15_top_supplier": 2,
    "q16_supplier_cnt": 5,
    "q17_small_qty_revenue": 2,
    "q18_large_volume": 2,
    "q19_disjunctive": 2,
    "q1_pricing_summary": 4,
    "q20_promotion_suppliers": 5,
    "q21_waiting_suppliers": 2,
    "q22_inactive_high_balance": 2,
    "q2_min_cost_supplier": 5,
    "q3_shipping_priority": 4,
    "q4_order_priority": 2,
    "q5_regional_revenue": 4,
    "q6_forecast_revenue": 2,
    "q7_volume_shipping": 1,
    "q8_market_share": 2,
    "q9_product_profit": 2,
    "route_counts": 4,
    "route_images": 4,
    "salted_event_stats": 2,
    "simhash_signatures": 4,
    "split_chunks": 4,
    "tile_grid": 4,
    "tile_grid_auto_adjust": 4,
    "tile_grid_num_tiles": 4,
    "top_customers_per_nation": 4,
    "value_percentiles_sketch": 2,
}


def _prioritize(d: dict) -> dict:
    """Return ``d`` reordered for the driver's ~50-query window:
    never-verified names first (insertion order), then verified names
    stalest-round first (ties alphabetical, deterministic)."""
    front = {k: v for k, v in d.items() if k not in _LAST_VERIFIED}
    for k in sorted(
        (k for k in d if k in _LAST_VERIFIED),
        key=lambda k: (_LAST_VERIFIED[k], k),
    ):
        front[k] = d[k]
    return front


# Every module-level QUERIES/ORACLES pair, in registry insertion order
# (``_prioritize`` and tests/test_rotation.py depend on it).
_MODULES = (
    dedup_ops, agreement, ragchunk, winnow, pii, components, decontam,
    corpusstats, similarity, funnel, webquality, curationfunnel, phash,
    dedupdash, events_ops, textanalysis, textclean, dsir, boilerplate,
    mlfilter, merge_ops, setops, tpch, windows, embdup, lmscore, imagedup, pca,
    mining, feathash, cms, histsketch, search, quantize, temporal, curation,
    mm_queries, storage_ops, tabular_ops, jsonl_ops, stream_check,
    stream_drift, analytics, dataops, doremi, pq, ivfpq, recall, substring,
    stream_inc, stream_qg, stream_cvg, stream_qt, stream_rvg, stream_cng,
    stream_hlg, stream_pfg, linkage, semdedup, bpe, lmobjectives, coreset,
    perceptron, chat, chatvalidate, langid, preference, rlvr, canary, embed,
    batching, hll, matryoshka, mmr, datacard, ffdpack, icp, recipe, curriculum,
    stream_turndedup, mm_alignment,
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        # --- reference parity (SURVEY.md §2) ---
        "tile_grid": _q_tile_grid,
        "tile_grid_auto_adjust": _q_tile_grid_auto,
        "tile_grid_num_tiles": _q_tile_grid_numtiles,
        "route_images": _q_route_images,
        "route_counts": _q_route_counts,
        "auto_crop": _q_auto_crop,
        "dedup_lines": _q_dedup_lines,
        "dedup_stats": _q_dedup_stats,
        "dedup_lines_normalized": _q_dedup_normalized,
        "merge_text": _q_merge_text,
        "split_chunks": _q_split_chunks,
        "caption_join": _q_caption_join,
        "mru_captions": _q_mru_captions,
        "caption_upsert": _q_caption_upsert,
        # --- standard relational surface ---
        "q1_pricing_summary": relational.q1_pricing_summary,
        "q3_shipping_priority": relational.q3_shipping_priority,
        "q5_regional_revenue": relational.q5_regional_revenue,
        "top_customers_per_nation": relational.top_customers_per_nation,
        "events_hourly": relational.events_hourly,
        "events_json_extract": relational.events_json_extract,
        "orders_running_total": relational.orders_running_total,
    }
    for mod in _MODULES:
        q.update(mod.QUERIES)
    return _prioritize(q)


def oracle_sql() -> dict[str, str]:
    o = {
        "tile_grid": tiling.tile_grid_sql(SPEC_DEFAULT, catalog.IMAGES_META_SQL),
        "tile_grid_auto_adjust": tiling.tile_grid_sql(
            SPEC_AUTO, catalog.IMAGES_META_SQL
        ),
        "tile_grid_num_tiles": tiling.tile_grid_sql(
            SPEC_NUMTILES, catalog.IMAGES_META_SQL
        ),
        "route_images": routing.route_images_sql(catalog.IMAGES_META_SQL, 1024, 0.5),
        "route_counts": (
            "WITH "
            + catalog.IMAGES_META_SQL
            + """
SELECT CASE WHEN (width < 1024 OR height < 1024)
              OR ((width - 1024) % 512) <> 0
              OR ((height - 1024) % 512) <> 0
            THEN 'incompatible' ELSE 'ok' END AS route,
       count(*) AS n_images
FROM images_meta GROUP BY 1
"""
        ),
        "auto_crop": routing.auto_crop_sql(catalog.IMAGES_META_SQL, 1024, 0.5),
        "dedup_lines": textops.DEDUP_LINES_SQL.format(
            text_lines_cte=catalog.TEXT_LINES_SQL, key_len=24
        ),
        "dedup_stats": textops.DEDUP_STATS_SQL.format(
            text_lines_cte=catalog.TEXT_LINES_SQL, key_len=24
        ),
        "dedup_lines_normalized": textops.DEDUP_NORMALIZED_SQL.format(
            text_lines_cte=catalog.TEXT_LINES_SQL
        ),
        "merge_text": textops.MERGE_TEXT_SQL.format(
            text_lines_cte=catalog.TEXT_LINES_SQL
        ),
        "split_chunks": textops.SPLIT_CHUNKS_SQL.format(
            text_lines_cte=catalog.TEXT_LINES_SQL, records_per_file=50
        ),
        "caption_join": cap_ops.JOIN_CAPTIONS_SQL.format(
            images_cte=catalog.IMAGES_META_SQL, captions_cte=catalog.CAPTIONS_SQL
        ),
        "mru_captions": cap_ops.MRU_CAPTIONS_SQL.format(
            caption_dict_cte=catalog.CAPTION_DICT_SQL
        ),
        "caption_upsert": cap_ops.upsert_caption_sql(
            catalog.CAPTION_DICT_SQL, "Brand#11", 10_000_000
        ),
        "q1_pricing_summary": relational.Q1_SQL,
        "q3_shipping_priority": relational.Q3_SQL,
        "q5_regional_revenue": relational.Q5_SQL,
        "top_customers_per_nation": relational.TOP_CUSTOMERS_SQL,
        "events_hourly": relational.EVENTS_HOURLY_SQL,
        "events_json_extract": relational.EVENTS_JSON_SQL,
        "orders_running_total": relational.ORDERS_RUNNING_SQL,
    }
    for mod in _MODULES:
        o.update(mod.ORACLES)
    return _prioritize(o)
