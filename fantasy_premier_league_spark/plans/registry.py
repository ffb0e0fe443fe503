"""Registry wiring operators to the driver's correctness contract.

Every operator module registers (name, spark_fn, oracle_sql) pairs; the
repo-root ``__spark_entry__.py`` re-exports the collected dicts. The
oracle SQL is ANSI SQL runnable by DuckDB over the same parquet tables,
so each registration is a self-contained differential test.

Convention (driver compares by column NAME, sorted, then value-hash):
- alias every computed column identically in Spark and SQL;
- round floating aggregates on BOTH sides (helpers in
  ``fantasy_premier_league_spark.functions``) so summation-order
  nondeterminism across engines cannot flip a hash;
- cast integer aggregates to BIGINT in DuckDB (its sum(int) is
  HUGEINT, Spark's is LONG).
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# The driver's correctness gate checks the FIRST 50 registered queries.
# With >50 registered, rotate. Since round 8 the head is DERIVED from
# the committed CORRECTNESS_r*.json artifacts (the hand-maintained list
# twice miscounted -- VERDICT r7 "what's wrong" #4):
#   1. every CHANGED_THIS_ROUND query leads (implementation or oracle
#      changed after its last driver row -- only this list stays
#      hand-maintained, because no artifact records code changes);
#   2. every query with NO driver row yet follows (new registrations);
#   3. the remaining slots fill oldest-driver-row-first, ties broken by
#      registration order, so a full re-verification cycle completes in
#      ceil(N/50) rounds and nothing can age out past that bound.
# tests/test_sample_rotation.py enforces the same rules against the
# artifacts, with the staleness threshold ceil(N/50) rounds (the old
# fixed ">2 rounds" bound is unsatisfiable at steady state once
# N > 150: a full cycle takes 4 rounds -- VERDICT r7 #2).

# Queries whose implementing code changed this round AFTER their last
# driver check -- update whenever a registered query's implementation
# or oracle changes. The r14 list (the 12 signed-zero `+ 0` output-
# measure pins from the fleet-wide round() audit) was consumed by the
# r14 driver sample -- all 50 rows green, CORRECTNESS_r14.json -- and
# pruned at the start of r15 (VERDICT r14 task #1). r15 keeps
# CHANGED + NEW small so the 26 r10-vintage rows at the staleness
# bound head the sample (VERDICT r14 task #4).
CHANGED_THIS_ROUND: list[str] = [
    # (r18 optimization round: entries added below as each query's
    # physical plan moves; the 28 r17 entries were consumed by the r17
    # driver sample -- all 28 green in CORRECTNESS_r17.json -- and
    # pruned here at round open per the standing rule.)
    # The request queries now read the request snapshot (operators/api.py).
    "fpl_req1_win_prediction",
    "fpl_req1_invalid_team_quirk",
    "fpl_req2_player_profile",
    "fpl_req2_dropped_goals_quirk",
    "fpl_req3_match_details",
    "fpl_req3_card_list_quirk",
    # Each FPL rule is spelled once: the shared A3/A4/A5 arithmetic
    # (functions/fpl_rules.py) and one oracle fragment per rule.
    "fpl_a3_final_metrics",
    "fpl_a4_profile",
    "fpl_a5_rating",
    "fpl_a5_spec_rating",
    "fpl_a6_chemistry",
    "fpl_a7_final_rating",
    "fpl_t5_stateful_stream",
    "t16_fpl_pipeline_roundtrip",
    "a6_chemistry_pairs",
    "ml_kmeans_rating_impute",
    "ml_kmeans_chemistry_impute",
    # One filter-then-verify path for the near-dup and similarity family
    # (operators/dedup.py stages) and one md5_hash helper
    # (functions/scalars.py) for every query that hashes.
    "dedup_ngram_jaccard",
    "dedup_minhash_signatures",
    "dedup_minhash_lsh_candidates",
    "dedup_simhash_pairs",
    "dedup_cluster_components",
    "dedup_minhash_accuracy",
    "dedup_prefix_filter_pairs",
    "dedup_chunk_spans",
    "dedup_containment_pairs",
    "dedup_cluster_keep_best",
    "dedup_simhash_accuracy",
    "corpus_source_overlap",
    "dedup_winnowing_pairs",
    "dedup_embedding_cosine",
    "ann_cosine_topk",
    "ann_lsh_recall",
    "ann_sq8_recall",
    "ann_ivf_topk",
    "ann_pq_recall",
    "ann_ivfpq_recall",
    "emb_norm_stats",
    "sample_hash_split",
    "sample_stratified",
    "docs_source_mix",
    "sample_reservoir_per_key",
    "sketch_hll_distinct",
    "sketch_cms_heavy_hitters",
    "sketch_kmv_setops",
    "graph_triangle_doulion",
    "t10_stream_hll",
    # One deterministic Lloyd's (operators/ml.py) for every clustering
    # and quantizer, and one sorted-neighborhood window join.
    "ml_kmeans_profiles",
    "ml_kmeans_embeddings",
    "dedup_semantic_clusters",
]
# (The 28 r17 entries -- triangle counts, blocked pairs, req1 shared
# trace, perceptron fused readouts, t18 staging, CC cached edges,
# kmeans shared counters, PQ long-format train, the cosine-family norm
# hoists, the _shingle_classes window collapse, winnowing, fpl_a6, t16
# concurrent drain -- were all sampled and green in CORRECTNESS_r17.json
# and pruned at the start of r18. With the CHANGED list empty again the
# head budget goes back to rotation: the 28 r13-vintage rows that
# slipped past the r17 sample sit at the staleness bound and head the
# r18 sample automatically.)

# Queries first registered this round (no driver row exists yet).
# Registration stays throttled to the verification budget:
# tests/test_sample_rotation.py fails when changed + never-sampled > 50.
# (r12's two additions -- docs_quality_percentile_filter,
# events_funnel_conversion -- got their first driver rows in
# CORRECTNESS_r12, both green, and moved out at the start of r13.)
NEW_THIS_ROUND: list[str] = []
# (r15's addition -- s10_python_datasource_writer, paired with the
# ann_lsh_buckets retirement to hold N=200 -- got its first driver row
# in CORRECTNESS_r15, green, and moved out at the start of r16. r16
# registers nothing: the 13 r11-vintage rows sit AT the staleness
# bound and 42 r12 rows are right behind them, so the whole head
# budget goes to rotation -- VERDICT r15 task #2.)

# Registration budget (r10 verdict #8): r12 deleted the two green r11
# perceptron bisect probes (their registration comment said "delete
# when green"; CORRECTNESS_r11 shows both green plus train itself) and
# retired TWO redundant events-table twins -- a3_final_metrics (A3
# remains covered by fpl_a3_final_metrics, the real reference formulas
# on the fixtures, plus a2a3_pricing_summary) and a4_profile (A4 via
# fpl_a4_profile; the generic twin's machinery is covered by
# a2_keyed_counters et al.). With the two r12 additions that lands at
# N=200, keeping the full re-verification cycle at ceil(200/50)=4
# rounds. staleness_threshold derives from N, so the suite's bound
# follows automatically.

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _row_is_green(row: object) -> bool:
    """A driver row counts as verification evidence only if it PASSED:
    either the full oracle gate (rows+schema+hash, no err) or the
    rows-only fallback for no-oracle queries (err == "no_oracle" with a
    recorded non-negative row count). A failed check must NOT refresh
    the query's evidence age -- it should rotate straight back into the
    sampled head next round."""
    if not isinstance(row, dict):
        return True  # legacy list-shaped artifact: presence only
    err = row.get("err")
    if err == "no_oracle":
        return (row.get("spark_rows") or 0) >= 0 and row.get("spark_rows") is not None
    return (
        err is None
        and bool(row.get("rows_match"))
        and bool(row.get("schema_match"))
        and bool(row.get("hash_match"))
    )


def driver_history() -> tuple[int, dict[str, int]]:
    """(current_round, last-GREEN-sampled-round per query) from the
    committed CORRECTNESS_r*.json artifacts. Queries never sampled --
    or sampled but never green -- are absent."""
    last: dict[str, int] = {}
    max_round = 0
    for path in glob.glob(os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        max_round = max(max_round, rnd)
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        items = rows.items() if isinstance(rows, dict) else ((n, None) for n in rows)
        for name, row in items:
            if _row_is_green(row):
                last[name] = max(last.get(name, 0), rnd)
    return max_round + 1, last


def staleness_threshold(n_registered: int, head_size: int = 50) -> int:
    """Rounds after which a driver row counts as stale: one full
    rotation cycle. max(2, ...) keeps the old bound when N <= 100."""
    return max(2, math.ceil(n_registered / head_size))


def sample_priority(registered: list[str]) -> list[str]:
    """Derive the full sample ordering from the driver artifacts:
    changed first, then never-sampled, then oldest-evidence-first."""
    _, last = driver_history()
    order = {n: i for i, n in enumerate(registered)}
    changed = [n for n in CHANGED_THIS_ROUND if n in order]
    seen = set(changed)
    never = [n for n in registered if n not in last and n not in seen]
    seen.update(never)
    rest = sorted(
        (n for n in registered if n not in seen),
        key=lambda n: (last.get(n, 0), order[n]),
    )
    return changed + never + rest


def _prioritized(d: dict) -> dict:
    head = {n: d[n] for n in sample_priority(list(QUERIES)) if n in d}
    return head | {n: v for n, v in d.items() if n not in head}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a (spark, sf_dir) -> DataFrame operator.

    ``oracle`` is the DuckDB twin; None marks a genuinely
    non-SQL-expressible op (driver falls back to a rows-only check).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query registration: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _load_all() -> None:
    """Import every operator module for its registration side effects."""
    from fantasy_premier_league_spark.operators import (  # noqa: F401
        advanced,
        analytics,
        api,
        dedup,
        fpl_events,
        graph,
        ml,
        multimodal,
        pipeline,
        ranking,
        rating,
        relational,
        similarity,
        sketches,
        sql_frontend,
        textstats,
        tpch,
        udtf_ops,
    )
    from fantasy_premier_league_spark.sources import py_datasource  # noqa: F401
    from fantasy_premier_league_spark.streaming import queries as streaming_queries  # noqa: F401


def all_queries() -> dict[str, QueryFn]:
    _load_all()
    return _prioritized(QUERIES)


def all_oracles() -> dict[str, str]:
    _load_all()
    return _prioritized(ORACLES)
