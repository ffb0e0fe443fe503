"""Physical-plan assertions: the scale discipline, pinned as tests.

Correctness tests (oracle parity) prove the answers are right at
sf0.01; these tests prove the PLANS are the ones that survive a 100x
scale-up — filters reach the parquet scan, projections prune the read
schema, dimension joins broadcast instead of shuffling the fact side,
top-k never global-sorts, aggregates combine map-side, and no operator
ever drops to row-at-a-time Python (`BatchEvalPython`).

Each assertion names the SURVEY.md section-2 operator it guards and the
failure mode it would catch (e.g. a refactor that breaks pushdown by
wrapping the filter column in a non-pushable expression).
"""

from __future__ import annotations

import re

import pytest

from fantasy_premier_league_spark.plans.registry import all_queries

SF = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    """Physical-plan string exactly as ``df.explain(mode)`` prints it."""
    spark = df.sparkSession
    return spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def build(spark, name: str):
    return all_queries()[name](spark, SF)


# ---------------------------------------------------------------------------
# Predicate pushdown (SURVEY section 4 "Predicate pushdown"): the literal
# filters in F3/F4/Q1/Q3 must reach the parquet reader as PushedFilters,
# not run as a post-scan Filter over full row groups.
# ---------------------------------------------------------------------------

PUSHDOWN_CASES = [
    ("a2a3_pricing_summary", "l_shipdate"),
    ("f3_point_lookup", "c_name"),
    ("f4_predicate_search", "o_orderstatus"),
    ("f5_key_filter", "user_id"),
    ("q3_shipping_priority", "c_mktsegment"),
]


@pytest.mark.parametrize(("name", "column"), PUSHDOWN_CASES)
def test_filter_reaches_parquet_scan(spark, name, column):
    plan = plan_of(build(spark, name))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed, f"{name}: no parquet scan with PushedFilters in plan"
    assert any(column in p for p in pushed), (
        f"{name}: filter on {column} not pushed to scan; pushed={pushed}"
    )


def test_column_pruning_reaches_scan(spark):
    """Q1 projects 7 of lineitem's 11 columns; the scan must read only
    those (a scan reading all columns for a narrow projection is wrong
    at 100 TB regardless of correctness)."""
    plan = plan_of(build(spark, "a2a3_pricing_summary"))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, "no parquet ReadSchema found"
    read_cols = {c.split(":")[0] for c in schemas[0].split(",")}
    assert "l_orderkey" not in read_cols and "l_partkey" not in read_cols, (
        f"unused key columns not pruned from scan: {sorted(read_cols)}"
    )
    assert {"l_quantity", "l_returnflag", "l_shipdate"} <= read_cols


# ---------------------------------------------------------------------------
# Join strategy (SURVEY section 4 "Join strategy"): dimension lookups
# (J1/J3/J5 families) broadcast the small side — the fact side must not
# shuffle for a lookup join.
# ---------------------------------------------------------------------------

BROADCAST_CASES = ["j1_broadcast_dim_join", "j3_agg_dim_join", "q3_shipping_priority"]


@pytest.mark.parametrize("name", BROADCAST_CASES)
def test_dim_joins_broadcast(spark, name):
    plan = plan_of(build(spark, name))
    assert "BroadcastHashJoin" in plan, f"{name}: dimension join did not broadcast"


def test_point_lookup_has_no_shuffle(spark):
    """F3 is a pushed-down scan + limit; any Exchange means a refactor
    turned a point lookup into a distributed job."""
    plan = plan_of(build(spark, "f3_point_lookup"))
    assert "Exchange" not in plan, f"point lookup shuffles:\n{plan}"


# ---------------------------------------------------------------------------
# Top-k (O2/W1): limit+orderBy must compile to TakeOrderedAndProject
# (per-partition heaps + driver merge), never a global sort.
# ---------------------------------------------------------------------------


def test_topk_avoids_global_sort(spark):
    plan = plan_of(build(spark, "o2_topk_orders"))
    assert "TakeOrderedAndProject" in plan, f"top-k plan global-sorts:\n{plan}"


# ---------------------------------------------------------------------------
# TPC-H scale-shape claims (tpch.py docstrings), pinned:
# - q15: the max-revenue scalar must land as a broadcast EQUALITY join
#   (BroadcastHashJoin), never a nested-loop theta join, and nothing may
#   fall back to a sort-merge of the aggregated side.
# - q18: the HAVING fan-back must plan as a LeftSemi join (only
#   qualifying orderkeys flow into the wide join), not inner+distinct.
# ---------------------------------------------------------------------------


def test_q15_scalar_max_joins_broadcast(spark):
    plan = plan_of(build(spark, "q15_top_supplier"))
    assert "BroadcastHashJoin" in plan, f"q15: scalar-max join not broadcast:\n{plan}"
    assert "BroadcastNestedLoopJoin" not in plan, (
        "q15: scalar-max comparison planned as nested loop"
    )


def test_q18_having_fanback_is_semi_join(spark):
    plan = plan_of(build(spark, "q18_large_orders"))
    assert "LeftSemi" in plan, f"q18: qualifying-orders join is not left-semi:\n{plan}"
    assert "partial_sum" in plan, "q18: HAVING pre-agg lost map-side combine"


# ---------------------------------------------------------------------------
# Aggregation (A2/A3): groupBy.agg must go partial (map-side combine)
# so the shuffle carries one row per (partition, key), not per event.
# ---------------------------------------------------------------------------


def test_aggregates_combine_map_side(spark):
    plan = plan_of(build(spark, "a2a3_pricing_summary"))
    assert "partial_sum" in plan, "no partial aggregation before the exchange"
    assert plan.count("HashAggregate") >= 2, "missing partial/final agg pair"


def test_codegen_covers_the_hot_path(spark):
    """Scan->filter->project->partial-agg must fuse into one
    WholeStageCodegen span (SURVEY section 4 'Vectorization'). AQE only
    reveals codegen markers in the final plan, so execute first."""
    df = build(spark, "a2a3_pricing_summary")
    df.collect()
    plan = plan_of(df, mode="simple")
    assert re.search(r"\*\(\d+\)\s*HashAggregate", plan), (
        f"hash aggregate outside codegen:\n{plan}"
    )


# ---------------------------------------------------------------------------
# Python boundary (SURVEY section 2.8 rebuild policy): the ONLY Python in
# any plan is Arrow-batched (FlatMapGroupsInPandas / MapInPandas /
# ArrowEvalPython). Row-at-a-time BatchEvalPython anywhere is a
# regression to the reference's per-record closure model.
# ---------------------------------------------------------------------------

# Queries whose *construction* runs real work (streaming batch gate,
# label-propagation driver loop) — plan shape is covered by their own
# suites / the oracle-parity run.
SLOW_TO_BUILD = {
    "fpl_t5_stateful_stream",
    "t4_windowed_stream_agg",
    "t6_stream_dedup",
    "t7_stream_stream_join",
    "t9_session_window_stream",
    "t11_socket_roundtrip",
    "t12_stream_outer_join",
    "t13_stream_cdc_upsert",
    "t14_stream_dedup_within_watermark",
    "t15_sliding_window_stream",
    "s9_python_stream_feed",
    "dedup_cluster_components",
    "t16_fpl_pipeline_roundtrip",
}

# Broadcast nested-loop joins that are genuinely all-pairs by design
# (tiny side broadcast): pair generation, centroid assignment,
# query-vector fan-out, scalar fan-in of a 1-row aggregate. Any OTHER
# query planning a BroadcastNestedLoopJoin fails the test below.
CARTESIAN_OK = {
    "j4_pair_generation",     # J4: all-pairs roster generation (tiny dim)
    "a10_win_chance",         # scalar fan-in of 1-row strength aggregate
    "ann_cosine_topk",        # query-vector fan-out (N_QUERIES rows broadcast)
    "ann_ivf_topk",           # centroid fan-out (_NLIST rows broadcast)
    "ml_kmeans_profiles",     # centroid fan-out (_K rows broadcast)
    "ml_kmeans_embeddings",   # centroid fan-out (_K_EMB rows broadcast)
    "ml_quadratic_fit",       # scalar fan-in of the 1-row moment aggregate
    "q22_idle_customers",     # scalar fan-in of the 1-row avg-balance aggregate
    "q11_important_parts",    # scalar fan-in of the 1-row national-total aggregate
    "ann_lsh_recall",         # query-vector fan-out (N_QUERIES rows broadcast)
    "stats_key_skew",         # scalar fan-in of the 1-row heaviest-key row
    "graph_triangle_doulion",  # scalar fan-in: two 1-row aggregates crossed
    "text_bm25_rank",         # scalar fan-in of the 1-row corpus-stats aggregate
    "knn_classify_vote",      # query-vector fan-out (|queries| rows broadcast)
    "ann_sq8_recall",         # query-vector fan-out, float + int8 passes
    "docs_unigram_logprob",   # scalar fan-in of the 1-row corpus-total aggregate
    "docs_temperature_mix",   # scalar fan-in of two 1-row total aggregates
    "text_nb_lang_confusion",  # |langs|-row candidate fan-out (bounded by design)
    "customer_rfm_segments",  # scalar fan-in of the 1-row quantile-boundary row
    "dq_constraint_checks",   # scalar fan-in: 1-row count crossed with 1-row count
    "orders_revenue_concentration",  # scalar fan-in of the 1-row boundary array
    "text_tfidf_keywords",    # scalar fan-in of the 1-row doc-count aggregate
    "ann_pq_recall",          # codebook (_PQ_K rows) + query-set fan-out
    "docs_dsir_weights",      # scalar fan-in of the 1-row vocab/total aggregates
    "stats_chi2_independence",  # scalar fan-in of the 1-row grand-total aggregate
    "ann_ivfpq_recall",       # coarse-centroid (_NLIST rows) + query-set fan-out
    "dedup_semantic_clusters",  # Lloyd's centroid fan-out (k rows broadcast)
    "ml_kmeans_rating_impute",  # centroid fan-out (_K rows) + scalar fan-in
    #   of the 1-row global-mean fallback (ml.py gmean crossJoin)
    "ml_kmeans_chemistry_impute",  # same: _K centroids + 1-row global mean
    "docs_bigram_logprob",    # scalar fan-in of the 1-row vocab-size count
    "quality_perceptron_train",  # 1-row class-weight + per-iteration 1-row
    #   weight broadcasts (the batch-subgradient schedule)
}


def _buildable_names():
    return sorted(set(all_queries()) - SLOW_TO_BUILD)


@pytest.fixture(scope="module")
def fleet_plans(spark):
    """One build+explain per buildable query, fanned out across a
    thread pool (r18: the three fleet-wide plan lints each rebuilt and
    re-explained every plan — 3x ~180 Catalyst runs, a large slice of
    the 16:31 driver verify that overran its budget, VERDICT r17 #1;
    safety argument in tests/parallel.py). The lints below consult the
    memoized plan text, so each still fails with its own name/message."""
    from tests.parallel import fan_out

    def make(name):
        def run():
            return plan_of(all_queries()[name](spark, SF))

        return run

    return fan_out((n, make(n)) for n in _buildable_names())


def _fleet_plan(fleet_plans, name: str) -> str:
    from tests.parallel import unwrap

    return unwrap(fleet_plans[name])


@pytest.mark.parametrize("name", _buildable_names())
def test_no_row_at_a_time_python(fleet_plans, name):
    plan = _fleet_plan(fleet_plans, name)
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF in plan (use pandas_udf/mapInPandas)"
    )


@pytest.mark.parametrize("name", _buildable_names())
def test_no_unhinted_cartesian(fleet_plans, name):
    """CartesianProduct (both sides materialized per-pair, no broadcast)
    must never appear; BroadcastNestedLoopJoin is allowed only for the
    CARTESIAN_OK queries whose broadcast side is bounded by design
    (centroids, query vectors, 1-row scalars, pair blocks)."""
    plan = _fleet_plan(fleet_plans, name)
    assert "CartesianProduct" not in plan, f"{name}: unplanned cartesian product"
    if name not in CARTESIAN_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: unexpected nested-loop join (unbounded side?); add to "
            f"CARTESIAN_OK only if the broadcast side is bounded by design"
        )


# ---------------------------------------------------------------------------
# Round-5 operator tier (SURVEY 2.10 additions), pinned:
# - bloom_semi_join: the bit-set probes must be BROADCAST left-semi
#   joins (the whole point is that the fact side never shuffles for the
#   prefilter), and the plan must carry exactly one shuffle-exchange
#   family for the final aggregation.
# - graph_pagerank: every per-iteration rank join must broadcast (the
#   rank vector is |nodes| rows); a sort-merge join here means the edge
#   list is being shuffled once per iteration.
# - docs_pack_sequences: the only single-partition window may be the
#   one over the |groups|-row offset table -- the per-document running
#   sum must stay partitioned by block.
# - _winnow_selected (was text_winnowing; bare query retired r14): the
#   window min must run after ONE exchange on doc_id; the shingle
#   transform must not leave codegen for Python.
# ---------------------------------------------------------------------------


def test_bloom_probes_broadcast_and_fact_never_shuffles_early(spark):
    plan = plan_of(build(spark, "bloom_semi_join"))
    semi_broadcasts = re.findall(r"BroadcastHashJoin .*LeftSemi", plan)
    assert len(semi_broadcasts) >= 2, (
        f"bloom_semi_join: expected the two bit probes (+ exact filter) as "
        f"broadcast left-semi joins:\n{plan}"
    )
    assert "SortMergeJoin" not in plan, (
        "bloom_semi_join: fact side shuffled for a join; the prefilter must "
        "be broadcast-only"
    )


def test_pagerank_iterations_broadcast_rank_vector(spark):
    """Pin the PER-ITERATION plan (the registered query now checkpoints
    the final vector inside its loop-partition scope, so its own plan
    is a checkpoint scan + TakeOrdered)."""
    from fantasy_premier_league_spark.operators.graph import _pagerank_iteration

    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "a", 1)], "src string, dst string, outdeg long"
    )
    nodes = spark.createDataFrame([("a",), ("b",)], "v string")
    ranks = nodes.selectExpr("v", "CAST(1000 AS LONG) AS u")
    plan = plan_of(_pagerank_iteration(edges, nodes, ranks, 1))
    assert "SortMergeJoin" not in plan, (
        f"pagerank iteration shuffles the edge list instead of "
        f"broadcasting the rank vector:\n{plan}"
    )
    assert plan.count("BroadcastHashJoin") >= 2, (
        f"pagerank iteration: contrib and fan-back joins must broadcast:\n{plan}"
    )


def test_pack_sequences_prefix_sum_is_hierarchical(spark):
    plan = plan_of(build(spark, "docs_pack_sequences"), mode="simple")
    # windows partitioned by the block key keep their partitioning;
    # only the offset-table window may be single-partition
    single_part_windows = [
        ln for ln in plan.splitlines() if "Window" in ln and "[g#" not in ln
        and "windowspecdefinition(g" not in ln
    ]
    per_block = [
        ln for ln in plan.splitlines() if "Window" in ln and (
            "windowspecdefinition(g" in ln or "[g#" in ln
        )
    ]
    assert per_block, (
        f"docs_pack_sequences: per-document running sum lost its block "
        f"partitioning:\n{plan}"
    )
    assert len(single_part_windows) <= 1, (
        f"docs_pack_sequences: more than one global window:\n{plan}"
    )


def test_winnowing_single_exchange_no_python(spark):
    # the bare text_winnowing query was retired r14 (N=200 swap for
    # t19); the fence moves to the shared selection pipeline itself,
    # which dedup_winnowing_pairs still runs on class representatives
    from fantasy_premier_league_spark.operators.textstats import (
        _winnow_selected,
    )
    from fantasy_premier_league_spark.sources.testdata import load_table

    docs = load_table(spark, SF, "documents")
    plan = plan_of(_winnow_selected(docs))
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning(doc_id") <= 1, (
        f"_winnow_selected: window re-shuffles doc_id more than once:\n{plan}"
    )


# ---------------------------------------------------------------------------
# Round-6 pins (VERDICT r5 #4/#5):
# - the CC iteration body must keep both per-round equi-joins as
#   ShuffledHashJoin (the r5 hand-audit removed 25 SortMergeJoins from
#   the loop; a refactor dropping the hints would silently reintroduce
#   2 sorts x rounds);
# - aqe_skew_join must demonstrably trigger AQE's runtime skew split
#   (the automatic twin of salted_skew_join's manual recipe).
# ---------------------------------------------------------------------------


def test_cc_round_plan_has_no_sortmergejoin(spark):
    from fantasy_premier_league_spark.operators.dedup import _cc_round

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    labels = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "node long, lbl long"
    )
    plan = plan_of(_cc_round(edges, labels))
    assert "SortMergeJoin" not in plan, (
        f"CC round: SortMergeJoin reintroduced into the iteration body "
        f"(2 wasted sorts per join per round at scale):\n{plan}"
    )
    assert plan.count("ShuffledHashJoin") >= 2, (
        f"CC round: expected both the propagation join and the pointer-"
        f"jumping join as ShuffledHashJoin:\n{plan}"
    )


def test_cc_round_reuses_cached_edge_partitioning(spark):
    """r17: the loop caches the edge list repartition(parts, src), and
    the InMemoryTableScan's preserved HashPartitioning(src) must keep
    the propagation join from re-shuffling the edge list every round
    (the BIG side at corpus scale). A regression -- e.g. swapping the
    cache for a localCheckpoint, which loses partitioning under AQE --
    re-adds an ENSURE_REQUIREMENTS exchange on src per round."""
    from fantasy_premier_league_spark.operators.dedup import _cc_round

    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = (
        spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
        .repartition(parts, "src")
        .cache()
    )
    try:
        edges.count()
        labels = spark.createDataFrame(
            [(1, 1), (2, 2), (3, 3)], "node long, lbl long"
        )
        plan = plan_of(_cc_round(edges, labels))
        src_exchanges = [
            line
            for line in plan.splitlines()
            if "hashpartitioning(src" in line and "ENSURE_REQUIREMENTS" in line
        ]
        assert not src_exchanges, (
            f"CC round: the edge list is re-shuffled by src inside the loop "
            f"body despite the partitioned cache:\n{plan}"
        )
    finally:
        edges.unpersist()


def test_aqe_skew_join_actually_splits(spark):
    from fantasy_premier_league_spark.operators import advanced

    # sf0.01: the hot partition is ~300KB vs the 64KB skew threshold
    # (at sf0.001 it is below threshold and AQE correctly leaves it);
    # the query executes eagerly inside its conf guard
    advanced.aqe_skew_join(spark, "/root/testdata/sf0.01").count()
    plan = advanced.LAST_AQE_SKEW_PLAN
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, (
        f"aqe_skew_join: AQE did not split the skewed partition "
        f"(single-mapper input? thresholds off?):\n{plan}"
    )


# ---------------------------------------------------------------------------
# Bucketed layout (round 6): the co-located fact-to-fact join must be
# exchange-free — both scans read the bucketed catalog tables and the
# SortMergeJoin consumes bucket-local partitions directly. A refactor
# that drops bucketBy, mismatches bucket counts, or lets a broadcast
# hint mask the layout would reintroduce the per-query shuffle this
# operator exists to eliminate.
# ---------------------------------------------------------------------------


def test_bucketed_join_is_exchange_free(spark):
    from fantasy_premier_league_spark.operators.advanced import bucketed_join

    plan = plan_of(bucketed_join(spark, SF))
    assert "SortMergeJoin" in plan, f"bucketed join must merge-join:\n{plan}"
    assert "Exchange" not in plan, (
        f"bucketed co-located join reintroduced a shuffle:\n{plan}"
    )
    assert plan.count("Bucketed: true") == 2, (
        f"both sides must scan bucketed tables:\n{plan}"
    )


# ---------------------------------------------------------------------------
# Retrieval tier (round 6): BM25's corpus-side plan must stay one pass —
# document frequencies and corpus stats come back as broadcasts, never
# by re-shuffling the token table; k-NN voting broadcasts the query
# vectors so the corpus side never exchanges before scoring.
# ---------------------------------------------------------------------------


def test_bm25_broadcasts_stats_not_corpus(spark):
    plan = plan_of(build(spark, "text_bm25_rank"))
    assert plan.count("BroadcastExchange") >= 2, (
        f"BM25: df/corpus-stats joins must broadcast:\n{plan}"
    )
    assert "BatchEvalPython" not in plan


def test_knn_broadcasts_queries(spark):
    plan = plan_of(build(spark, "knn_classify_vote"))
    assert "BroadcastExchange" in plan, (
        f"kNN: query set must broadcast against the corpus:\n{plan}"
    )
    assert "BatchEvalPython" not in plan


def test_decontaminate_broadcasts_eval_grams(spark):
    plan = plan_of(build(spark, "docs_decontaminate"))
    assert "BroadcastExchange" in plan, (
        f"decontamination: eval n-gram inventory must broadcast:\n{plan}"
    )


# ---------------------------------------------------------------------------
# Global window-partitioning fence (round 6): an ORDERED window with no
# PARTITION BY moves the entire input to one task — the classic silent
# scale-killer (every prior round's verdict hand-audited these). The
# only admissible unpartitioned+ordered windows run over inputs bounded
# by something other than data volume; each is named here with its
# bound. Everything else must partition.
# ---------------------------------------------------------------------------

GLOBAL_WINDOW_OK = {
    "docs_pack_sequences",       # |blocks|-row broadcast offset table
    "ml_kmeans_profiles",        # k centroid rows
    "sql_frontend_running_total",  # |days| pre-aggregate (shared SQL dialect)
    "sql_frontend_recursive_spine",  # |months|-row recursive spine (12 rows)
    "orders_revenue_concentration",  # 10-row decile table cumulative share
    "text_bm25_rank",            # rank over the top-20 AFTER TakeOrdered
    "w3_cumulative_users",       # |days| pre-aggregate
    "part_skyline",              # |price-bands| (~100-row) boundary table
    "ml_kmeans_rating_impute",   # k centroid rows (seed window post-limit(_K))
    "ml_kmeans_chemistry_impute",  # same shared _fpl_cluster_labels seed
    "quality_perceptron_train",  # pocket pick over the 8-row iteration table
}


def _top_level_groups(s: str) -> list[str]:
    groups, depth, start = [], 0, None
    for i, c in enumerate(s):
        if c == "[":
            if depth == 0:
                start = i
            depth += 1
        elif c == "]":
            depth -= 1
            if depth == 0:
                groups.append(s[start + 1 : i])
    return groups


def _unpartitioned_ordered_windows(plan: str) -> int:
    """Count Window operators whose Arguments carry an ordering spec but
    no partition spec (formatted explain prints [funcs], [partition],
    [order]; a missing partition leaves 2 groups with ASC/DESC in the
    second)."""
    n = 0
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if re.fullmatch(r"\(\d+\) Window(Exec)?", ln.strip()):
            for j in range(i + 1, min(i + 4, len(lines))):
                arg = lines[j].strip()
                if arg.startswith("Arguments:"):
                    g = _top_level_groups(arg)
                    if len(g) == 2 and (" ASC" in g[1] or " DESC" in g[1]):
                        n += 1
                    break
    return n


@pytest.mark.parametrize("name", _buildable_names())
def test_no_unpartitioned_ordered_window(fleet_plans, name):
    plan = _fleet_plan(fleet_plans, name)
    n = _unpartitioned_ordered_windows(plan)
    if name in GLOBAL_WINDOW_OK:
        return  # bounded by design, documented above
    assert n == 0, (
        f"{name}: {n} ordered window(s) with no PARTITION BY — the whole "
        f"input funnels through one task at scale. Partition the window, "
        f"or add to GLOBAL_WINDOW_OK with the row-count bound that makes "
        f"it safe.\n{plan}"
    )


@pytest.mark.parametrize(
    "name", ["sketch_kmv_setops", "text_tfidf_keywords"]
)
def test_topk_per_group_uses_window_group_limit(spark, name):
    """rank<=k filters must run as WindowGroupLimit with a Partial
    stage BEFORE the shuffle -- each map task then forwards at most k
    rows per group, which is what makes per-group top-k survive 100 TB
    (a full per-group sort would not)."""
    plan = plan_of(build(spark, name), mode="simple")
    assert "WindowGroupLimit" in plan, f"{name}: rank-limit pushdown missing:\n{plan}"
    assert "Partial" in plan.split("WindowGroupLimit", 1)[1] or plan.count(
        "WindowGroupLimit"
    ) >= 2, f"{name}: no map-side (Partial) WindowGroupLimit stage:\n{plan}"


# ---------------------------------------------------------------------------
# Round-6 closer tier, pinned: the scale-bearing plan properties of the
# containment/keep-best/skyline/z-order/PQ additions. Same rationale as
# the CC/PageRank iteration pins -- these properties were established
# by hand-audit and must not silently regress under a refactor.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name",
    ["dedup_containment_pairs", "dedup_minhash_lsh_candidates", "dedup_simhash_pairs"],
)
def test_containment_pairs_join_shape(spark, name):
    """The bucket self-join (posting list or LSH band) must hash-join
    (never sort-merge: no downstream order need) and must never
    broadcast a corpus side."""
    plan = plan_of(all_queries()[name](spark, SF))
    assert "SortMergeJoin" not in plan, f"{name}: bucket self-join sorts:\n{plan}"
    assert "ShuffledHashJoin" in plan, f"{name}: bucket self-join not SHJ:\n{plan}"


def test_md5_hash_is_spelled_only_in_its_helper():
    """The portable md5-prefix hash has one Spark and one DuckDB spelling,
    functions/scalars.py md5_hash/md5_hash_sql; every query that hashes
    calls them, so the two engines cannot drift apart per query."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "fantasy_premier_league_spark"
    helper = pkg / "functions" / "scalars.py"
    hits = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        if path != helper
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "F.substring(F.md5(" in line or "substr(md5(" in line
    ]
    assert not hits, f"md5-prefix hash spelled outside md5_hash: {hits}"


def test_squared_l2_fold_is_spelled_only_in_its_helper():
    """The squared-L2 distance has one Spark and one DuckDB spelling,
    operators/ml.py dist2/dist2_sql; every clustering and quantizer
    calls them, so the fold order the two engines must share cannot
    drift apart per query. Spark's spelling is a two-argument lambda
    opening on the difference of its arguments, DuckDB's a difference
    of a CAST to DOUBLE."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "fantasy_premier_league_spark"
    helper = pkg / "operators" / "ml.py"
    allowed = {
        n
        for node in ast.parse(helper.read_text()).body
        if isinstance(node, ast.FunctionDef) and node.name in ("dist2", "dist2_sql")
        for n in range(node.lineno, node.end_lineno + 1)
    }
    spark_fold = re.compile(r"lambda (\w+), (\w+): \(\1\b")
    hits = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if (spark_fold.search(line) or "AS DOUBLE) - " in line)
        and not (path == helper and n in allowed)
    ]
    assert not hits, f"squared-L2 fold spelled outside dist2/dist2_sql: {hits}"


def test_fpl_fold_steps_are_called_only_in_the_shared_fold():
    """The A5 rating step and the A4 running mean are called from one
    function, functions/fpl_rules.py fold_player, which the batch
    chain, the request snapshot and the stream all run, so a second
    loop over them cannot let stream and batch drift apart."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "fantasy_premier_league_spark"
    rules = pkg / "functions" / "fpl_rules.py"
    allowed = {
        n
        for node in ast.parse(rules.read_text()).body
        if isinstance(node, ast.FunctionDef) and node.name == "fold_player"
        for n in range(node.lineno, node.end_lineno + 1)
    }
    steps = ("rating_step", "running_mean")
    hits = [
        f"{path.relative_to(pkg)}:{node.lineno}"
        for path in sorted(pkg.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", getattr(node.func, "attr", None)) in steps
        and not (path == rules and node.lineno in allowed)
    ]
    assert not hits, f"rating_step/running_mean called outside fold_player: {hits}"


def test_chem_blocked_pairs_pins_probe_parallelism(spark):
    """r17 optimization guard: the blocked pair self-join's quadratic
    cost is in the JOIN OUTPUT while its shuffle INPUT is tiny, so
    AQE's byte-based coalescing once folded the probe onto 3 of 32
    cores (sf0.1: 6.1 s -> 1.3 s when pinned). Both sides must reach
    the ShuffledHashJoin through REPARTITION_BY_NUM exchanges (exempt
    from coalescing), and the pair aggregation must combine map-side
    before the group exchange."""
    plan = plan_of(all_queries()["fpl_chem_blocked_pairs"](spark, SF))
    assert "ShuffledHashJoin" in plan, f"pair join not SHJ:\n{plan}"
    assert plan.count("REPARTITION_BY_NUM") == 2, (
        f"pair join sides not parallelism-pinned:\n{plan}"
    )
    # partial agg below the exchange: two HashAggregates for one groupBy
    assert plan.count("HashAggregate") >= 2, f"no map-side combine:\n{plan}"


def test_req1_shared_trace_single_fold(spark):
    """r17 optimization guard: team_strengths materializes ONE rating
    trace (lazy localCheckpoint) shared by the chemistry pair join and
    the final-rating branch. Before the fix the applyInPandas fold
    appeared up to 3x in the req1 plans and the final-rating branch
    re-ran the whole perf+fold pipeline (sf0.1 solo: 4.8 -> 3.8 s).
    The final plan must show ZERO FlatMapGroupsInPandas nodes -- the
    single fold lives behind the shared checkpoint and runs once at
    materialization."""
    for name in ("fpl_req1_invalid_team_quirk", "fpl_req1_win_prediction"):
        plan = plan_of(build(spark, name), mode="simple")
        assert "FlatMapGroupsInPandas" not in plan, (
            f"{name}: rating-trace fold re-entered the plan (the shared "
            f"localCheckpoint in team_strengths was dropped):\n{plan}"
        )


def test_chem_impute_single_fold_and_shared_counters(spark):
    """r17 optimization guard: ml_kmeans_chemistry_impute checkpoints
    the rating trace BEFORE the chemistry self-join (the legacy
    chemistry_df form carries TWO FlatMapGroupsInPandas folds, one per
    join side -- only the exchange below them gets AQE runtime reuse)
    and shares ONE match-counters frame between the cluster-feature
    branch and the trace branch. The registered plan must show zero
    Python fold nodes; the fold runs once at checkpoint
    materialization."""
    from fantasy_premier_league_spark.operators.pipeline import (
        chemistry_df,
        chemistry_from_trace,
        performance_df,
        rating_trace_df,
    )

    # the class being fixed: an UN-checkpointed trace self-join carries
    # the fold on both sides
    legacy = plan_of(
        chemistry_from_trace(
            rating_trace_df(performance_df(spark)).select(
                "playerId", "matchId", "teamId", "delta"
            )
        ),
        mode="simple",
    )
    assert legacy.count("FlatMapGroupsInPandas") == 2
    # chemistry_df itself now checkpoints the trace (fpl_a6's path)
    assert "FlatMapGroupsInPandas" not in plan_of(chemistry_df(spark), mode="simple")
    for name in ("ml_kmeans_chemistry_impute", "ml_kmeans_rating_impute"):
        plan = plan_of(build(spark, name), mode="simple")
        assert "FlatMapGroupsInPandas" not in plan, (
            f"{name}: the rating-trace fold re-entered the plan (the "
            f"shared trace/counters checkpoint was dropped):\n{plan}"
        )


def test_cosine_joins_no_per_pair_norms(spark):
    """r17 optimization guard: every cosine pair join reads per-side
    norm columns projected BEFORE the join. The per-pair form evaluates
    BOTH norms inside one join-output expression -- visible as a single
    plan line carrying two SQRT(aggregate(...)) folds. No plan line may
    carry more than one SQRT."""
    for name in (
        "ann_cosine_topk",
        "ann_ivf_topk",
        "ann_lsh_recall",
        "ann_sq8_recall",
        "knn_classify_vote",
    ):
        plan = plan_of(build(spark, name))
        offenders = [
            line for line in plan.splitlines() if line.upper().count("SQRT") >= 2
        ]
        assert not offenders, (
            f"{name}: per-pair norm recomputation re-entered a join "
            f"expression:\n" + "\n".join(offenders)
        )


def test_semantic_clusters_no_per_pair_norm(spark):
    """r17 optimization guard: the blocked cosine join must read the
    per-vector norm from the checkpointed `ranked` frame, not recompute
    sqrt(sum-of-squares) per PAIR (2 x |pairs| 64-term folds for
    |vectors| distinct values). The registered plan therefore carries
    no SQRT above the checkpoint scan."""
    plan = plan_of(build(spark, "dedup_semantic_clusters"), mode="simple")
    assert "SQRT" not in plan.upper(), (
        f"dedup_semantic_clusters: per-pair norm recomputation "
        f"re-entered the pair join:\n{plan}"
    )


def test_pq_train_long_format_scan_budget(spark):
    """r17 optimization guard: _pq_train processes all M subspaces in
    ONE long-format pipeline (explode to (vec_id, s, sub)), so the
    registered ann_pq_recall plan reads the cached feature table a
    bounded number of times. The per-subspace loop form scanned it 22x
    (3 passes x 4 subspaces + ADC/exact); the long form is 8. A
    regression back to per-subspace pipelines roughly triples the
    count."""
    plan = plan_of(build(spark, "ann_pq_recall"), mode="simple")
    n = plan.count("InMemoryTableScan")
    assert n <= 10, (
        f"ann_pq_recall: {n} feature-table scans in the plan (the "
        f"long-format train pipeline bounded this at 8):\n{plan}"
    )


def test_perceptron_history_fused_readouts(spark):
    """r17 optimization guard: each perceptron iteration's accuracy
    readout is fused into the NEXT iteration's update aggregate (same
    scan, same `mis` predicate), so a training run scans the feature
    table T+1 times instead of 2T. In the train plan that leaves
    exactly ONE visible aggregate pair -- the final readout under w_T
    -- over one broadcast crossJoin; every other readout projects from
    a per-iteration checkpoint (Scan ExistingRDD)."""
    plan = plan_of(build(spark, "quality_perceptron_train"), mode="simple")
    assert plan.count("HashAggregate") == 2, (
        f"perceptron history grew extra readout scans:\n{plan}"
    )
    assert plan.count("BroadcastNestedLoopJoin") == 1, (
        f"perceptron history: expected one visible feature crossJoin:\n{plan}"
    )


def test_skyline_single_bounded_global_window(spark):
    """Exactly ONE unpartitioned ordered window may exist -- the
    ~100-row price-band boundary table. A second one means the sweep
    regressed to a global window over the data."""
    plan = plan_of(all_queries()["part_skyline"](spark, SF))
    n = _unpartitioned_ordered_windows(plan)
    assert n <= 1, f"part_skyline: {n} global windows (boundary table only):\n{plan}"
    assert "BroadcastHashJoin" in plan, (
        f"part_skyline: boundary table must broadcast back:\n{plan}"
    )


def test_zorder_layout_joinless(spark):
    """Morton coding + bucket rectangles is map-side expressions plus
    one aggregation: any join appearing means the layout comparison
    stopped being a single-pass computation."""
    plan = plan_of(all_queries()["zorder_layout_buckets"](spark, SF))
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan, f"zorder_layout_buckets grew a {op}:\n{plan}"


def test_pq_recall_no_sort_merge(spark):
    """PQ code tables join on exact keys with no order need: the 4-way
    codes join and the recall join must stay hash joins (the corpus
    never sorts), and codebook/LUT/query fan-outs must broadcast."""
    plan = plan_of(all_queries()["ann_pq_recall"](spark, SF))
    assert "SortMergeJoin" not in plan, f"ann_pq_recall sorts a codes join:\n{plan}"
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, (
        f"ann_pq_recall: bounded fan-outs must broadcast:\n{plan}"
    )


# ---------------------------------------------------------------------------
# Round-10 additions: the SQL front-end's classic correlated shapes
# must decorrelate into joins (never nested-loop per-row subquery
# execution), and the new loop operators must keep their iteration
# work off the corpus.
# ---------------------------------------------------------------------------


def test_sql_frontend_q4_decorrelates_to_semi_join(spark):
    plan = plan_of(build(spark, "sql_frontend_q4_exists"))
    assert "LeftSemi" in plan, "correlated EXISTS did not become a semi join"
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sql_frontend_q21_has_semi_and_anti(spark):
    plan = plan_of(build(spark, "sql_frontend_q21_multi_exists"))
    assert "LeftSemi" in plan, "EXISTS branch did not become a semi join"
    assert "LeftAnti" in plan, "NOT EXISTS branch did not become an anti join"
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sql_frontend_q17_correlated_agg_is_join(spark):
    """Catalyst must rewrite the correlated scalar avg subquery into an
    aggregate + join (per-row re-execution of the subquery is the
    100 TB death shape)."""
    plan = plan_of(build(spark, "sql_frontend_q17_correlated"))
    assert "Join" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bpe_pair_count_plan_is_one_aggregate(spark):
    """Each BPE iteration's argmax is a single partial-aggregated
    groupBy over the vocab table + a 1-row TakeOrdered -- no join, no
    window, no Python stage."""
    from pyspark.sql import functions as F

    from fantasy_premier_league_spark.operators.textstats import (
        _BPE_TOPWORDS,
        _tok,
    )
    from fantasy_premier_league_spark.sources.testdata import load_table

    docs = load_table(spark, SF, "documents")
    words = (
        docs.select(F.explode(_tok(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "word")
        .limit(_BPE_TOPWORDS)
    )
    seqs = words.select(F.array_join(F.split("word", ""), " ").alias("seq"), "cnt")
    arr = F.split("seq", " ")
    n = F.size(arr)
    pairs = (
        seqs.select(
            F.explode(
                F.arrays_zip(F.slice(arr, 1, n - 1), F.slice(arr, 2, n - 1))
            ).alias("p"),
            "cnt",
        )
        .groupBy(F.col("p.0").alias("l"), F.col("p.1").alias("r"))
        .agg(F.sum("cnt").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "l", "r")
        .limit(1)
    )
    plan = plan_of(pairs)
    assert "TakeOrderedAndProject" in plan, "argmax should be top-1 pushdown"
    assert "partial_sum" in plan or "partial" in plan.lower(), (
        "pair counts must combine map-side"
    )
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan


def test_gopher_rules_single_scan_constant_unpivot(spark):
    """All 7 rule flags come from ONE documents scan; the unpivot
    multiplies rows by a constant 7 before a partial-aggregated
    groupBy -- the shuffle carries ~7 rows per map partition."""
    plan = plan_of(build(spark, "docs_gopher_rules"))
    # formatted mode names each node twice (tree + detail section)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, (
        "gopher rules must scan documents once"
    )
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan


def test_sql_frontend_q20_nested_in_decorrelates(spark):
    """Nested IN + correlated scalar agg must become joins (semi for
    the IN, aggregate+join for the half-sum) -- no nested-loop."""
    plan = plan_of(build(spark, "sql_frontend_q20_nested_in"))
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
