"""Round-14 behavior tests.

1. The signed-zero lint (ADVICE r13 #3): round 13 pinned the four
   machine-found sign-crossing rounded oracles with `+ 0`; round 14
   completes the audit fleet-wide and freezes it as a lint. Every
   `round(...)` in every registered oracle must be one of:

   - integer-cast (``CAST(round(..) AS BIGINT/INTEGER)`` -- integers
     have no signed zero);
   - pinned (``round(..) + 0`` or ``round(..) / 10^k + 0`` -- IEEE
     guarantees -0.0 + 0 = +0.0);
   - classified NONNEG in the table below: the measure provably cannot
     land in the negative half-window (-0.5*10^-scale, 0) -- because
     the argument is non-negative by construction (prices, quantities,
     counts, ratios of counts, norms, clamped chemistry), the output is
     filtered away from zero (|z| > 3 outliers, cosine >= 0.35 pairs),
     the argument lives on a value grid coarser than the half-window
     (cents/100.0 rounded at scale 2: only exact +0.0 can land), or the
     round never reaches the output projection (ORDER BY / WHERE
     intermediates -- comparisons and arithmetic cannot distinguish the
     zero sign, only the driver's format/byte hash can).

   The table records the EXPECTED COUNT of unpinned, non-integer-cast
   rounds per oracle. Adding a new round() to any oracle fails the lint
   until the author either pins it or consciously classifies it here --
   which is the entire point (the r13 hazard only fires when a value
   lands on -0.0, i.e., never in a quick local check).

2. The twelve r14 pins themselves (a10 strength/win_chance over
   negative-capable acctbal means, a8 avg_bal, q9 profit on a 1e-4
   grid inside a 5e-3 half-window, the four FP-noisy rating deltas,
   token_entropy's ln(n) - sum(c*ln c)/n cancellation, the two ANN
   output cosines, the two FPL winning_chance quirk twins) stay
   spelled; a refactor that drops one reopens the divergence silently.
"""

from __future__ import annotations

import re

from fantasy_premier_league_spark.plans.registry import all_oracles


def _round_spans(sql: str) -> list[tuple[int, int]]:
    out = []
    for m in re.finditer(r"\bround\s*\(", sql, re.IGNORECASE):
        i, depth = m.end(), 1
        while i < len(sql) and depth:
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            i += 1
        out.append((m.start(), i))
    return out


def unpinned_rounds(sql: str) -> int:
    """round() calls that are neither integer-cast nor `+ 0`-pinned."""
    n = 0
    for _s, e in _round_spans(sql):
        after = sql[e : e + 40]
        if re.match(r"\s*AS\s+(BIGINT|INTEGER)\s*\)", after, re.IGNORECASE):
            continue
        # (?![\d.]) -- NOT \b -- so real arithmetic like `+ 0.5` is not
        # miscounted as a pin (\b sits between `0` and `.`; ADVICE r14 #2)
        if re.match(r"\s*(/\s*[\d.]+\s*)?\+\s*0(?![\d.])", after):
            continue
        n += 1
    return n


# Expected unpinned-round count per oracle, each consciously classified
# NONNEG by the rule in the module docstring. Queries absent from this
# table must have zero unpinned rounds.
NONNEG_ROUNDS: dict[str, int] = {
    # -- cents-grid /100.0 at scale 2 (only exact +0.0 in half-window),
    #    and/or non-negative amounts (prices, quantities, revenues) --
    "a11_max_per_key": 1,
    "a2_keyed_counters": 1,
    "a2a3_pricing_summary": 7,
    "aqe_skew_join": 1,
    "bloom_semi_join": 1,
    "bucketed_colocated_join": 1,
    "cube_revenue": 1,
    "distinct_count_agg": 1,
    "events_gapfill_daily": 1,
    "f3_point_lookup": 1,  # acctbal on exact cent grid
    "f4_predicate_search": 1,
    "f5_key_filter": 1,  # events.value >= 0.01 by generation
    "grouping_sets_revenue": 1,
    "j1_broadcast_dim_join": 1,
    "j2_stream_static_join": 1,
    "j3_agg_dim_join": 1,
    "o2_topk_orders": 1,
    "pivot_status_revenue": 1,
    "q10_returned_items": 1,
    "q11_important_parts": 1,
    "q14_promo_revenue": 1,
    "q15_top_supplier": 1,
    "q17_small_quantity_revenue": 1,
    "q18_large_orders": 2,
    "q19_bracket_revenue": 1,
    "q20_excess_suppliers": 1,  # s_acctbal on exact cent grid
    "q22_idle_customers": 1,  # cents/100.0 grid; filtered > positive avg
    "q2_min_cost_supplier": 2,  # acctbal cent grid; cost >= 0
    "q3_shipping_priority": 1,
    "q5_regional_revenue": 1,
    "q6_forecast_revenue": 1,
    "q7_volume_shipping": 1,
    "rollup_revenue": 1,
    "s8_python_datasource_feed": 1,
    "s9_python_stream_feed": 1,
    # r15 writer twin of s8/s9: total_value sums events.value, which is
    # >= 0.01 by generation -- never sign-crossing
    "s10_python_datasource_writer": 1,
    "salted_skew_join": 1,
    "session_windows": 1,
    "sql_frontend_q20_nested_in": 1,  # acctbal cent grid (1e2 rescale)
    "t15_sliding_window_stream": 1,
    "t4_windowed_stream_agg": 1,
    "t9_session_window_stream": 1,
    "w1_topk_per_group": 1,  # acctbal cent grid
    "w5_range_frame": 1,
    # -- ratios / probabilities / counts in [0, 1] or [0, inf) --
    "ann_ivfpq_recall": 1,
    "ann_lsh_recall": 1,
    "ann_pq_recall": 2,  # recall + mean ABS distance error
    "ann_sq8_recall": 5,  # recalls, abs err, ORDER BY intermediates
    "c8_safe_division": 2,  # coalesce(nonneg-ratio, 0.0)
    "corpus_source_overlap": 1,  # jaccard
    "dedup_containment_pairs": 2,
    "dedup_minhash_accuracy": 2,
    "dedup_ngram_jaccard": 1,
    "dedup_prefix_filter_pairs": 1,
    "dedup_simhash_accuracy": 2,  # 1 - hamming/32 >= 0, jaccard
    "docs_clean_pipeline": 1,  # avg token count
    "docs_quality_percentile_filter": 1,  # p75 of nonneg scores
    "docs_temperature_mix": 2,  # shares of positive totals
    "events_funnel_conversion": 1,  # count ratio
    "events_transition_matrix": 1,  # count share
    "fuzzy_name_search": 1,  # jaccard
    "q8_market_share": 1,  # volume share
    "sketch_hll_distinct": 1,  # cardinality estimate
    "sketch_kmv_setops": 1,  # estimate scale-0; CAST'd companion
    "sketch_quantile_hist": 2,  # quantiles of nonneg bins
    "stats_chi2_independence": 1,  # sum of squares
    "stats_key_skew": 2,  # mean count, max/mean ratio
    "stats_mad_outliers": 2,  # median, MAD of value >= 0.01
    "stats_percentiles": 5,  # quantiles/sd/min/max of value >= 0.01
    "t10_stream_hll": 1,
    "text_bm25_rank": 1,  # sum of ln(1 + positive) terms
    "text_lang_id": 1,  # vowel ratio
    "text_quality_filter": 1,  # distinct ratio
    "text_subword_stats": 1,  # subwords per word >= 1
    "text_tfidf_keywords": 1,  # tf * ln(N/df) >= 0 (df <= N)
    "text_token_stats": 2,  # mean word len, stopword ratio
    "text_udtf_chunk_windows": 1,  # mean token count
    "w2_moving_average": 2,  # windows over value >= 0.01
    "w4_ntile_deciles": 2,  # min/max totalprice
    "w7_rank_family": 2,  # percent_rank, cume_dist in [0, 1]
    # -- filtered away from the zero window --
    "dedup_embedding_cosine": 1,  # WHERE cosine >= 0.35
    "stats_zscore_outliers": 1,  # WHERE |z| > 3.0
    # -- non-negative by formula --
    "a5_rating_recurrence": 1,  # rating >= 0 recurrence (delta IS pinned)
    "a6_chemistry_pairs": 1,  # greatest(0.0, ..) clamps; +0.0 literal wins
    "docs_bigram_logprob": 1,  # mean of ln((c1+V)/(c12+1)) > 0 units
    "docs_unigram_logprob": 1,  # mean of ln(total/c) >= 0 units
    "emb_norm_stats": 3,  # min/max/avg of L2 norms
    "fpl_a3_final_metrics": 4,  # effectiveness ratios in [0, 1]
    "fpl_a4_profile": 1,  # pass accuracy in [0, 1]
    "fpl_a5_rating": 1,  # rating >= 0 (delta IS pinned)
    "fpl_a5_spec_rating": 1,
    "fpl_a6_chemistry": 1,  # greatest(0.0, ..) clamp
    "fpl_a7_final_rating": 1,
    "fpl_req1_invalid_team_quirk": 1,  # strength_used: sum of nonneg
    "fpl_req1_win_prediction": 1,  # strength: sum of nonneg ratings
    "fpl_req2_dropped_goals_quirk": 1,
    "fpl_req2_player_profile": 1,
    "fpl_t5_stateful_stream": 1,  # rating (delta IS pinned)
    "ml_kmeans_rating_impute": 1,  # ratings / centroid means >= 0
    "orders_revenue_concentration": 1,  # cumulative share in [0, 1]
    "sql_frontend_recursive_spine": 1,  # running sum of nonneg units
    "sql_frontend_running_total": 1,
    "sql_frontend_topday": 1,  # revenue units
    "stats_corr_matrix": 2,  # stddevs >= 0 (corr/covar ARE pinned)
    "t16_fpl_pipeline_roundtrip": 4,  # clamp, pass acc, rating, chem sum
    "text_repetition_stats": 2,  # tf ratio, bigram frac (entropy pinned)
    # -- round never reaches the output projection --
    "ann_ivf_topk": 3,  # ORDER BY / assignment intermediates
    "dedup_semantic_clusters": 1,  # WHERE-clause similarity gate
    "knn_classify_vote": 1,  # cosine consumed by rank, not output
}


def test_signed_zero_lint_every_round_is_classified():
    oracles = {n: s for n, s in all_oracles().items() if s is not None}
    actual = {
        name: n
        for name, sql in sorted(oracles.items())
        if (n := unpinned_rounds(sql))
    }
    unclassified = {
        n: c for n, c in actual.items() if NONNEG_ROUNDS.get(n) != c
    }
    stale = {n: c for n, c in NONNEG_ROUNDS.items() if actual.get(n) != c}
    assert not unclassified and not stale, (
        "signed-zero lint: every unpinned round() must be classified "
        f"NONNEG or gain `+ 0`. unclassified/changed={unclassified} "
        f"stale-table-entries={stale}"
    )


def test_r14_sign_crossing_pins_stay_spelled():
    o = all_oracles()
    pins = {
        "a10_win_chance": ["+ 0 AS strength", "+ 0 AS win_chance"],
        "a8_composition_count": ["+ 0 AS avg_bal"],
        "q9_product_profit": ["+ 0 AS profit"],
        "a5_rating_recurrence": ["+ 0 AS delta"],
        "fpl_a5_rating": ["+ 0 AS delta"],
        "fpl_a5_spec_rating": ["+ 0 AS delta"],
        "fpl_t5_stateful_stream": ["+ 0 AS delta"],
        "text_repetition_stats": ["+ 0 AS token_entropy"],
        "ann_cosine_topk": ["+ 0 AS cosine"],
        "ann_ivf_topk": ["+ 0 AS cosine"],
        "fpl_req1_win_prediction": ["+ 0 AS winning_chance"],
        "fpl_req1_invalid_team_quirk": ["+ 0 AS winning_chance"],
    }
    for name, needles in pins.items():
        for needle in needles:
            assert needle in o[name], (name, needle)


def test_t19_reads_state_not_a_recompute(spark):
    """The r14 surface query must return rows from the STATE STORE
    batch source -- if a refactor quietly swaps in a batch aggregate
    over the parquet (which would pass the oracle identically), the
    state-reader surface loses its gate. Fence the physical plan to
    the statestore relation and pin the driver-facing schema."""
    from fantasy_premier_league_spark.plans.registry import QUERIES, _load_all

    _load_all()
    df = QUERIES["t19_state_store_reader"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "StateScan" in plan or "statestore" in plan.lower(), plan
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint",
        "bigint",
        "bigint",
    ]
    assert df.columns == ["user_id", "n_events", "value_cents"]

    # the sibling Spark-4 reader surface, gated from the SAME
    # checkpoint without spending a registration slot: state-metadata
    # must describe exactly the operator/partitioning t19 wrote. The
    # path comes from the query's own contract, not a hand rebuild of
    # the scratch layout (ADVICE r14 #3).
    from fantasy_premier_league_spark.streaming.queries import (
        t19_checkpoint_path,
    )

    ckpt = t19_checkpoint_path(spark, "/root/testdata/sf0.001")
    md = spark.read.format("state-metadata").load(ckpt).collect()
    assert len(md) == 1
    assert md[0]["operatorName"] == "stateStoreSave"
    assert md[0]["numPartitions"] == 8  # the scoped_conf the query pins
