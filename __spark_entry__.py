"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (q3 shipping-priority) on sf0.001.
``queries()`` — every implemented query/operator from SURVEY.md §2 +
the training-data pipeline operators; callables take (spark, sf_dir).
``oracle_sql()`` — matching DuckDB SQL (same aliases, same rounding);
entries without SQL-expressible semantics are omitted (rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


# The driver verifies a PREFIX of the registry (first 50 queries), so the
# order below is load-bearing.  The curated window covers (a) one
# representative per operator family whose other members were hash-green
# in the previous round, (b) every query that has EVER regressed or gone
# unchecked in a prior round, and (c) a rotating TPC-H slice.  The tail
# holds queries hash-green in the latest checked round; the full set is
# still verified locally via tools/check_correctness.py each round.
_R13_CHANGED = [
    # code-changed since last driver check: the 39 r12-changed paths
    # (VERDICT r12 "Next round" item 1 — er1/st10's redefined
    # entity-level output must be driver-verified), plus the r13
    # inherited-commit surface (24918dd: matchers prefix-alternation
    # rewrite -> m2/m3; top_bigram O(n log n) -> t6 already listed) and
    # e1 (this round's count_distinct work).  Passed to
    # rotate_window.py --changed; pinned by tests/test_driver_contract.
    "q1_pricing_summary", "q9_product_profit", "t2_quality_scores",
    "t4_fingerprints", "t6_repetition_filters", "t7_pii_redaction",
    "t9_quality_classifier", "t11_readability",
    "mm1_media_metadata", "mm2_frame_sampling", "mm3_resize_geometry",
    "mm4_audio_features", "mm5_png_pixel_checksum", "mm6_flac_checksum",
    "mm7_lossless_jpeg_checksum", "mm8_gif_frame_checksum",
    "mm9_tiff_strip_checksum", "mm10_bmp_checksum", "mm11_ico_checksum",
    "d2_minhash_lsh_dedup", "d8_incremental_dedup", "d5_embedding_neardup",
    "sim7_mmr_rerank", "sim8_radius_search", "p5_sequence_packing",
    "c2_curation_pipeline_v2", "p9_quality_budget_selection",
    "er1_record_linkage", "st10_streaming_linkage",
    "st1_streaming_daily_counts", "st2_stream_stream_join",
    "st3_streaming_dedup", "st4_stream_static_decontam",
    "st5_streaming_neardup", "st6_streaming_sessions",
    "st8_streaming_interval_join", "st11_streaming_kmeans",
    "st12_streaming_json_ingest", "e12_session_outage_overlap",
    "m2_matcher_regex_set", "m3_matcher_negative_regex",
    "e1_event_type_stats",
]

_CHECK_WINDOW = [
    # r13 rotation — MECHANICAL, emitted by
    # `python tools/rotate_window.py --max-round 12 --changed <_R13_CHANGED>`
    # (policy: never-checked > outstanding-failure > code-changed >
    # stalest-by-last-green-round, ties in registry order) and pinned by
    # tests/test_driver_contract.py::test_window_matches_rotation_policy.
    # Ledger at r12 close: zero never-checked, zero outstanding failures
    # (CORRECTNESS_r12 was 50/50 green).  Window = the 42 _R13_CHANGED
    # entries in registry order (er1/st10's entity-level linkage output
    # gets its first driver verification, VERDICT r12 gate item 1) + the
    # 8 stalest r8-green entries.
    "d2_minhash_lsh_dedup",
    "d5_embedding_neardup",
    "t2_quality_scores",
    "t4_fingerprints",
    "mm1_media_metadata",
    "mm2_frame_sampling",
    "mm3_resize_geometry",
    "mm4_audio_features",
    "mm5_png_pixel_checksum",
    "t6_repetition_filters",
    "t7_pii_redaction",
    "p5_sequence_packing",
    "c2_curation_pipeline_v2",
    "t9_quality_classifier",
    "d8_incremental_dedup",
    "sim7_mmr_rerank",
    "t11_readability",
    "p9_quality_budget_selection",
    "mm6_flac_checksum",
    "er1_record_linkage",
    "sim8_radius_search",
    "mm7_lossless_jpeg_checksum",
    "mm8_gif_frame_checksum",
    "mm9_tiff_strip_checksum",
    "mm10_bmp_checksum",
    "mm11_ico_checksum",
    "e1_event_type_stats",
    "m2_matcher_regex_set",
    "m3_matcher_negative_regex",
    "st3_streaming_dedup",
    "st1_streaming_daily_counts",
    "st6_streaming_sessions",
    "st2_stream_stream_join",
    "st4_stream_static_decontam",
    "st5_streaming_neardup",
    "st8_streaming_interval_join",
    "e12_session_outage_overlap",
    "st10_streaming_linkage",
    "st11_streaming_kmeans",
    "st12_streaming_json_ingest",
    "q1_pricing_summary",
    "q9_product_profit",
    "q10_returned_items",
    "q12_priority_shipping",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q19_bracket_revenue",
    "t3_lang_id",
    "gr1_pagerank",
]
assert len(_CHECK_WINDOW) == 50, len(_CHECK_WINDOW)


def _registry_in_order():
    """Every registered query, module by module in the order imported
    here, then in definition order: the same order whichever query
    module the process imported first (``REGISTRY`` itself is filled in
    import order)."""
    from parquet_common_spark.operators import pipeline_queries
    from parquet_common_spark.plans import analytics, functions_coverage, tpch
    from parquet_common_spark.plans.common import REGISTRY

    modules = (pipeline_queries, analytics, functions_coverage, tpch)
    rank = {m.__name__: i for i, m in enumerate(modules)}
    return dict(sorted(REGISTRY.items(), key=lambda kv: rank[kv[1].fn.__module__]))


def _registry():
    # Reorder so the curated check window forms the dict prefix.
    reg = _registry_in_order()
    return {**{n: reg[n] for n in _CHECK_WINDOW if n in reg}, **reg}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    reg = _registry()
    return reg["q3_shipping_priority"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in _registry().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in _registry().items() if q.oracle is not None}
