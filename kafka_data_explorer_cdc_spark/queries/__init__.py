"""Query inventory package — importing this module populates the registry."""

from .registry import REGISTRY, Query, oracles, queries, query  # noqa: F401

# Each module registers its queries at import time. Registration order
# is driver-execution order, and the driver checks only the FIRST 50
# registry entries per round.
#
# ROTATION POLICY (standing): each round, _FRONT is rebuilt as
#   1. every entry with NO driver CORRECTNESS row in any round
#      (new additions since the last window), in build order; then
#   2. the stalest cohort — entries whose newest driver-green round is
#      oldest — until the 50-slot window is full.
# Goal: union driver coverage stays at 100% and no entry's newest
# driver row is more than ~3 rounds old. The per-entry last-green
# table is generated into COVERAGE.md ("Driver-check freshness").
#
# Round 6: (0) = the 10 round-6 additions (b44-b46, d28-d34);
# (1) = the 20 round-5 additions the r5 window missed (b31-b42, a18,
# d26, d27, mm5, s28-s31); (2) = the r2 cohort (14: k13-k23 family +
# d07/d16-d19) and the head of the r3 cohort (d04x/d06x — also
# bench-flagged for an idle A/B — plus k24-k27; k28-k34 displaced to
# round 7).
#
# ROUND-8 WINDOW (this file's _FRONT, below): the first 50 of the 55
# entries never driver-checked as of CORRECTNESS_r07 — the 45-entry
# round-8 queue documented in round 7 PLUS the first 5 of the 10 late
# round-7 additions (b91, b92, d78, d79, d80). Verified against the
# union of CORRECTNESS_r01..r07 — none of these has a driver row in
# any round. All are green under the local oracle mirror at sf0.001
# (tests/test_oracle.py runs every entry).
#
# ROUND-9 WINDOW (this file's _FRONT, below): the 31 entries with NO
# driver row in the union of CORRECTNESS_r01..r08 (verified by
# tools/rotation_check.py against the artifacts on disk) in the
# priority order documented at end-of-round-8, then the 10 round-9
# additions (d88-d91, k64-k70, b100-b105, mm10, s49 — also never
# checked): exactly 50, so the entire window is first-ever checks and
# the full r2-stale cohort (k13-k17, k20-k23, d07, d16-d19) slips to
# round 10 (never-checked entries pre-empt rotation per the standing
# policy). Result: union driver coverage reaches 322/322 after this
# round's driver run.
#
# ROUND-12 WINDOW (computed end-of-round-11; re-verify with
# tools/rotation_check.py against CORRECTNESS_r11 when it lands — the
# round-10 driver ran NO correctness check, so if round 11's driver
# also skips it, everything below shifts by one round and the current
# _FRONT stays correct as-is):
#   1. any round-12 additions (never-checked) first, then
#   1b. any entry of the current 50-slot window that did NOT get a
#      CORRECTNESS_r11 row (never-checked pre-empts stale), then
#   2. the displaced r3-stale cohort (18, build order):
#      b14_scalar_functions, b14b_date_functions, b15a_json_extract,
#      b15b_array_functions,
#      k24_kql_join, k25_kql_let, k26_kql_parse_extract,
#      k27_kql_case_tiers, k28_kql_arg_max, k29_kql_make_set,
#      k30_kql_percentile, k32_kql_top_nested, k33_kql_lookup,
#      k34_kql_mv_apply, k35_kql_pivot, k36_kql_top_hitters,
#      k37_kql_search, k38_kql_range_source; then
#   3. the r4-stale cohort (33, build order): b09x_cube_priority_status,
#      b10_window_topk_per_group, b11_window_running_revenue,
#      b12_global_topk, b13a_union_all_counts, b13b_intersect,
#      b26_salted_skew_agg, b27_percentiles, b25_session_window,
#      b21_tumbling_window_agg, b21b_sliding_window_agg,
#      b14c_edit_distance, b30_window_distribution,
#      a12_cdc_latest_state, a16_order_count_by_city,
#      a17_cdc_scd2_history, k19_kql_ago_filter, k31_kql_make_series,
#      k18_kql_time_binning, k40_kql_datetime_scalars,
#      d20_neardup_clusters, d21_pii_redaction, d22_segment_dedup,
#      d23_char_entropy, d24_tfidf_cosine_pairs,
#      d25_url_canonical_dedup, s21_stream_tumbling_counts,
#      s22_stream_sliding_counts, s23_stream_dedup,
#      s24_stream_cdc_apply, s25_stream_sessionization,
#      s26_stream_stateful_funnel, s27_stream_stream_join — take as
#      many as fill 50; the rest (plus the r5 cohort, build order as
#      documented in round 10's queue) rotates in round 13.
# NOTE on the staleness ceiling: with a 353-entry registry and a
# 50-slot window the arithmetic floor is ~7 rounds; never-checked
# entries rightly pre-empt rotation — accepted trade, documented here
# so the number isn't a surprise.
from . import kql_q  # noqa: F401,E402
from . import llm  # noqa: F401,E402
from . import streaming_q  # noqa: F401,E402
from . import reference  # noqa: F401,E402
from . import relational  # noqa: F401,E402

_FRONT = [
    # ROUND-13 WINDOW (round-12's window carried forward UNCHANGED in
    # slots 0..44 — the round-12 driver produced no CORRECTNESS
    # artifact either, so the 40-entry backlog + k103 + the 4 round-12
    # additions all still await their first driver row; the round-13
    # judge re-verified all of them MATCH at sf0.01. The ONLY edit
    # this round: the 5 round-13 additions (k111–k115, never-checked
    # by construction) displace the 5 r2-stale rotation slots
    # (k14 k15 k16 k13 k17), per the standing policy — additions
    # displace stale-rotation slots, never the backlog. Run
    # tools/rotation_check.py after any edit here; it FAILs if a
    # never-checked entry sits outside the 50-slot head.)
    # Layout, per the standing policy above:
    #   (0) the 40 entries with NO driver row in any round — the
    #       round-10 cohort (b106–b117, d92–d98, k71–k84, mm11–mm13,
    #       s50–s52) stranded when the round-10 driver produced no
    #       CORRECTNESS artifact and the round-11 window was consumed
    #       by the 73 round-11 additions; judge-verified 40/40 at
    #       sf0.01 in the round-11 VERDICT, driver rows land this
    #       round;
    #   (1) k103_kql_hash_digest_functions — the r11 red row; the
    #       oracle dtype is fixed (CAST(to_timestamp(...) AS
    #       TIMESTAMP), kql_q.py) and needs a fresh driver row;
    #   (1b) the round-12 additions (never-checked by construction),
    #       displacing stale-rotation slots per the policy note below:
    #       k109_kql_graph_mark_components, k110_kql_series_iir,
    #       mm16_image_histogram_gate, s61_stream_bottomk_sample;
    #   (1c) the round-13 additions (never-checked by construction),
    #       displacing the 5 r2-stale rotation slots that sat here in
    #       round 12 (k14 k15 k16 k13 k17):
    #       k111_kql_geo_point_in_polygon, k112_kql_series_seasonal,
    #       k113_kql_graph_match_edge_props,
    #       k114_kql_string_codepoint_scalars,
    #       k115_kql_active_users_count.
    # 40 + 1 + 4 + 5 = 50. The r2-stale cohort (now 14 entries:
    # k13–k17 displaced this round + k20–k23, d07, d16–d19) plus the
    # r3 cohort lead the round-14 rotation.
    #
    # ROUND-14 QUEUE (computed end-of-round-13; re-verify with
    # tools/rotation_check.py once CORRECTNESS_r13 lands — that run
    # retires the whole 50-slot head, freeing all 50 slots):
    #   1. any round-14 additions (never-checked) first; then
    #   2. the r2-stale cohort (14, build order): k14_kql_avg_sales,
    #      k15_kql_total_sales, k16_kql_order_counts,
    #      k13_kql_recent_orders, k17_kql_filtered_pipeline
    #      (displaced from the round-13 window by k111–k115),
    #      k20_kql_between, k21_kql_countif_sumif, k22_kql_parse_json,
    #      k23_kql_mv_expand,
    #      d07_embedding_cosine_topk, d16_chunk_documents,
    #      d17_contamination_check, d18_repetition_ratio,
    #      d19_stratified_sample; then
    #   3. the r3-stale cohort (25, build order): b13c_except,
    #      b14_scalar_functions, b14b_date_functions,
    #      b15a_json_extract, b15b_array_functions, k24_kql_join,
    #      k25_kql_let, k26_kql_parse_extract, k27_kql_case_tiers,
    #      k28_kql_arg_max, k29_kql_make_set, k30_kql_percentile,
    #      k32_kql_top_nested, k33_kql_lookup, k34_kql_mv_apply,
    #      k35_kql_pivot, k36_kql_top_hitters, k37_kql_search,
    #      k38_kql_range_source, k39_kql_scalar_strings,
    #      k41_kql_serialized_windows, k42_kql_parse_where,
    #      d04x_minhash_lsh_portable, d06x_simhash_portable,
    #      d07w_lsh_cosine_portable; then
    #   4. the head of the r4-stale cohort (33 documented in the
    #      round-12 header above) — take as many as fill 50 (19 slots
    #      if no additions land).
    # (0) never driver-checked — 40 entries
    "k80_kql_series_fit_line",
    "k81_kql_series_fit_2lines",
    "k82_kql_activity_counts",
    "k83_kql_new_activity_metrics",
    "k84_kql_session_count",
    "d98_winnow_overlap_pairs",
    "k78_kql_sliding_window_counts",
    "k79_kql_activity_engagement",
    "d97_gopher_rules_audit",
    "k77_kql_diffpatterns",
    "d96_kmv_vocab_overlap",
    "mm13_image_dhash_neardup",
    "d94_winnowing_fingerprints",
    "d95_cross_source_dup_matrix",
    "mm12_video_shot_segments",
    "s52_stream_late_shipment_monitor",
    "b114_shipmode_priority_q12",
    "b115_order_priority_q4",
    "b116_suppliers_kept_waiting_q21",
    "b117_small_qty_revenue_q17",
    "k74_kql_series_decompose_anomalies",
    "k75_kql_autocluster",
    "k76_kql_series_periods_detect",
    "s50_stream_late_data_watermark",
    "d92_colbert_maxsim",
    "d92x_colbert_maxsim_ivf",
    "b106_product_profit_q9",
    "b107_local_supplier_volume_q5",
    "b108_volume_shipping_q7",
    "b109_market_share_q8",
    "b110_returned_items_q10",
    "b111_promo_revenue_q14",
    "b112_forecast_revenue_q6",
    "b113_large_volume_customer_q18",
    "k71_kql_funnel_sequence",
    "k72_kql_sequence_detect",
    "k73_kql_series_fill",
    "d93_ivf_index_optimize",
    "mm11_audio_vad_segments",
    "s51_stream_sequence_detect",
    # (1) the r11 red row, oracle dtype fixed this round
    "k103_kql_hash_digest_functions",
    # (1b) round-12 additions, never-checked by construction
    "k109_kql_graph_mark_components",
    "k110_kql_series_iir",
    "mm16_image_histogram_gate",
    "s61_stream_bottomk_sample",
    # (2) r2-stale rotation (5 of 14; k20-k23/d07/d16-d19 → round 13)
    "k111_kql_geo_point_in_polygon",
    "k112_kql_series_seasonal",
    "k113_kql_graph_match_edge_props",
    "k114_kql_string_codepoint_scalars",
    "k115_kql_active_users_count",
]


def _reorder() -> None:
    idx = {name: i for i, name in enumerate(REGISTRY)}

    def rank(name: str) -> tuple[int, int]:
        if name in _FRONT:
            return (0, _FRONT.index(name))
        fam = name[0]  # b=relational, a=reference, rest keep import order
        return ({"b": 1, "a": 2}.get(fam, 3), idx[name])

    snapshot = sorted(REGISTRY.items(), key=lambda kv: rank(kv[0]))
    REGISTRY.clear()
    REGISTRY.update(snapshot)


_reorder()

__all__ = ["REGISTRY", "Query", "queries", "oracles", "query"]
