"""FPL-pipeline-shaped operators over the driver's ``events`` table.

FIXTURES.md section 7 maps the synthetic stream onto the reference's
domain: ``user_id`` <-> playerId, ``event_type`` <-> eventId,
``props`` JSON <-> tags, and a day of ``ts`` <-> one matchId. Each
query here is the events-table twin of a reference operator, so the
driver's DuckDB gate differentially tests the exact dataflow shape the
football pipeline uses (see operators/pipeline.py for the domain
implementation with the real schemas).

Scale: every aggregation below keys on (user_id[, day]) -- one shuffle,
partial aggregation map-side, no Python in the plan. The chemistry
pair-join is the only super-linear op; its pair space is bounded by
|users|^2 and is block-partitioned in fpl_chem_blocked_pairs below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fantasy_premier_league_spark.functions import fixed_units, rounded
from fantasy_premier_league_spark.operators.pipeline import (
    chemistry_from_trace,
    chemistry_sql,
)
from fantasy_premier_league_spark.plans.registry import register
from fantasy_premier_league_spark.sources.testdata import load_table

# ---------------------------------------------------------------------------
# A1: per-event metric-vector extraction (reference getMetrics,
# master.py:48-138 -- a 91-line Python closure dispatching on eventId and
# tag membership). Rebuilt as a pure column projection: CASE/when +
# get_json_object, fully inside whole-stage codegen, zero Python.
# Fixed-layout counters (the reference's broken 19-tuple default branch,
# master.py:138, is corrected -- every branch emits the same slots).
# ---------------------------------------------------------------------------

_COUNTERS = """
  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS n_click,
  CASE WHEN event_type = 'click' AND k % 2 = 0 THEN 1 ELSE 0 END AS n_acc_click,
  CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS n_view,
  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS n_purchase,
  CASE WHEN event_type = 'purchase' AND value >= 100 THEN 1 ELSE 0 END AS n_big_purchase,
  CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS n_error,
  CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS n_signup
"""


def _event_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    t = F.col("event_type")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        k.alias("k"),
        F.when(t == "click", 1).otherwise(0).alias("n_click"),
        F.when((t == "click") & (k % 2 == 0), 1).otherwise(0).alias("n_acc_click"),
        F.when(t == "view", 1).otherwise(0).alias("n_view"),
        F.when(t == "purchase", 1).otherwise(0).alias("n_purchase"),
        F.when((t == "purchase") & (F.col("value") >= 100), 1).otherwise(0).alias("n_big_purchase"),
        F.when(t == "error", 1).otherwise(0).alias("n_error"),
        F.when(t == "signup", 1).otherwise(0).alias("n_signup"),
    )


# ---------------------------------------------------------------------------
# A2: keyed counter aggregation (reference metricsCounterCalc,
# master.py:140-175 -- updateStateByKey summing 17 counters with a
# reset-on-new-matchId hack). Keying by (player, match) = (user_id, day)
# eliminates the reset entirely: state never needs clearing because the
# key space carries the match horizon (SURVEY 2.4 A2).
# ---------------------------------------------------------------------------

_DAILY_SQL = f"""
    SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(*) AS n_events,
           CAST(sum(n_click) AS BIGINT) AS clicks,
           CAST(sum(n_acc_click) AS BIGINT) AS acc_clicks,
           CAST(sum(n_view) AS BIGINT) AS views,
           CAST(sum(n_purchase) AS BIGINT) AS purchases,
           CAST(sum(n_big_purchase) AS BIGINT) AS big_purchases,
           CAST(sum(n_error) AS BIGINT) AS errors,
           CAST(sum(n_signup) AS BIGINT) AS signups,
           round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0, 2)
             AS value_sum
    FROM (
      SELECT user_id, ts, value,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             {_COUNTERS}
      FROM events
    )
    GROUP BY user_id, strftime(date_trunc('day', ts), '%Y-%m-%d')
"""


def _daily_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    vec = _event_vectors(spark, sf_dir)
    return (
        vec.groupBy("user_id", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("n_click").alias("clicks"),
            F.sum("n_acc_click").alias("acc_clicks"),
            F.sum("n_view").alias("views"),
            F.sum("n_purchase").alias("purchases"),
            F.sum("n_big_purchase").alias("big_purchases"),
            F.sum("n_error").alias("errors"),
            F.sum("n_signup").alias("signups"),
            rounded(F.sum(fixed_units(F.col("value"))) / 100.0, 2).alias("value_sum"),
        )
    )


@register("a2_keyed_counters", oracle=_DAILY_SQL + " ORDER BY user_id, day")
def keyed_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _daily_counters(spark, sf_dir).orderBy("user_id", "day")


# ---------------------------------------------------------------------------
# A6 + J4: pairwise chemistry (reference metrics.py:26-49 -- O(n^2) Python
# dict loop applying the sign rule per batch). Rebuilt as: per-(user, day)
# delta via a lag window, then the FPL chemistry (chemistry_from_trace,
# operators/pipeline.py) over that events-table trace: a self equi-join
# on day with p1 < p2, one grouped sum and a final clamp to [0,1] (the
# clamp the spec demands and the reference omits; SURVEY 2.4 A6).
#
# Sign rule (exact reference semantics, metrics.py:37-44): same team and
# same strict sign -> +mag; same team, opposite/zero -> -mag; opposing
# teams inverted. mag = abs((d1+d2)/2). "Team" = customer's nation.
#
# Scale: the join is keyed on day FIRST (equi-join), so each day's pair
# block is independent -- at 100 TB this partitions by day and the n^2
# factor is bounded per-partition; the user<user predicate halves it.
# ---------------------------------------------------------------------------


@register(
    "a6_chemistry_pairs",
    oracle=f"""
    WITH daily AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 / count(*) AS v
      FROM events GROUP BY user_id, date_trunc('day', ts)
    ),
    delta AS (
      SELECT user_id, day,
             v - lag(v) OVER (PARTITION BY user_id ORDER BY day) AS d
      FROM daily
    ),
    trace AS (
      SELECT delta.user_id AS playerId, delta.day AS matchId,
             customer.c_nationkey AS teamId, delta.d AS delta
      FROM delta JOIN customer ON customer.c_custkey = delta.user_id
      WHERE delta.d IS NOT NULL
    )
    SELECT p1, p2, round(chemistry, 6) AS chemistry
    FROM ({chemistry_sql("trace")}) ORDER BY p1, p2
    """,
)
def chemistry_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    daily = ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day")).agg(
        (F.sum(fixed_units(F.col("value"))) / 100.0 / F.count("*")).alias("v")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    delta = daily.select(
        "user_id", "day", (F.col("v") - F.lag("v").over(w)).alias("d")
    ).filter(F.col("d").isNotNull())
    team = F.broadcast(
        cust.select(F.col("c_custkey").alias("user_id"), F.col("c_nationkey").alias("team"))
    )
    trace = delta.join(team, "user_id").select(
        F.col("user_id").alias("playerId"),
        F.col("day").alias("matchId"),
        F.col("team").alias("teamId"),
        F.col("d").alias("delta"),
    )
    return chemistry_from_trace(trace).select(
        "p1", "p2", rounded(F.col("chemistry"), 6).alias("chemistry")
    ).orderBy("p1", "p2")


# ---------------------------------------------------------------------------
# Chemistry at adversarial roster width (SURVEY section 4 note: "at
# 100 TB [the chemistry pass] needs block partitioning of the pair
# space"). a6/fpl_a6 are match-bounded (22 players -> 231 pairs per
# match, reference metrics.py:18-49); this variant runs the SAME sign
# rule over ONE roster of the first 15k customers (1.5k at sf0.01,
# the full 15k from sf0.1 up -> 112M raw pairs), where a naive
# same-key self-join puts the whole quadratic pair set into a single
# task. The roster width is FIXED (c_custkey < 15000), not a corpus
# fraction: the pair space is quadratic in roster width by definition,
# so an sf-proportional roster would make the query 10,000x slower at
# sf10 -- the same accidental-quadratic the sf1 study caught in
# knn_classify_vote. A fixed roster measures the blocked-join shape at
# every scale; widening the roster is the explicit workload knob.
#
# Block partitioning (r17 optimization, guide S2.4/S2.5): entity ->
# join block cg = id % B' (B' = 32, decoupled from the OUTPUT key
# g = id % 8, which the oracle fixes); unordered pair {x, y} meets
# exactly once at the TRIANGULAR cell (min(cg_x, cg_y), max(...)):
# the left role covers cells (cg, j) for j >= cg, the right role
# (i, cg) for i <= cg, so off-diagonal cells enumerate each pair once
# (no a_id<b_id discard) and only the B' diagonal cells need the id
# ordering filter. vs the r6-r16 ordered scheme (B = 8, both
# orderings enumerated then half filtered) this halves the probe
# output -- 225M -> 112M generated rows at sf0.1.
#
# The explicit repartition(P, cell) with P = spark.sql.shuffle
# .partitions is load-bearing: the pair space is quadratic in the
# JOIN OUTPUT while the shuffle INPUT is tiny (15k x ~16 replicas of
# 40-byte rows), so AQE's byte-based coalescing folded the exchange
# to 3 partitions and ran the 225M-row probe on 3 of 32 cores. A
# REPARTITION_BY_NUM exchange is exempt from coalescing and already
# satisfies the join's hashpartitioning requirement (same keys, same
# P), so it adds no exchange -- it only pins the parallelism.
# B'(B'+1)/2 = 528 cells over P partitions keeps task sizes
# statistically even (guide S2.5: key space >> partition count).
# Measured sf0.1 solo: 5.83 -> 1.45 s (4.0x), identical 64 rows.
# The shuffle_hash hint pins the scale plan (at toy SF Catalyst would
# broadcast and hide the pattern under test).
#
# Everything stays in INTEGER units (deltas in pmod-folded cents, pair
# magnitude = abs(d_a + d_b) half-cent units) so the differential gate
# is summation-order independent -- same discipline as graph_pagerank.
# ---------------------------------------------------------------------------

_CHEM_BLOCKS = 8
# Finer blocking factor for the pair JOIN only (output keys stay
# id % _CHEM_BLOCKS; the oracle never sees this constant).
_CHEM_JOIN_BLOCKS = 32


@register(
    "fpl_chem_blocked_pairs",
    oracle=f"""
    WITH e AS (
      SELECT c_custkey AS id, c_nationkey AS team,
             ((CAST(round(c_acctbal * 100) AS BIGINT) % 2001) + 2001) % 2001
               - 1000 AS d,
             CAST(c_custkey % {_CHEM_BLOCKS} AS BIGINT) AS g
      FROM customer WHERE c_custkey < 15000
    ),
    p AS (
      SELECT a.g AS ga, b.g AS gb,
             CASE WHEN ((a.team = b.team) =
                        ((a.d > 0 AND b.d > 0) OR (a.d < 0 AND b.d < 0)))
                  THEN abs(a.d + b.d) ELSE -abs(a.d + b.d) END AS m
      FROM e a JOIN e b ON a.id < b.id
    )
    SELECT ga, gb, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(m) AS BIGINT) AS signed_mag_units
    FROM p GROUP BY ga, gb ORDER BY ga, gb
    """,
)
def fpl_chem_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    num_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    b2 = _CHEM_JOIN_BLOCKS
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 15000)
    ent = cust.select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").alias("team"),
        (F.pmod(fixed_units(F.col("c_acctbal")), F.lit(2001)) - 1000).alias("d"),
        F.pmod(F.col("c_custkey"), F.lit(_CHEM_BLOCKS)).cast("long").alias("g"),
        F.pmod(F.col("c_custkey"), F.lit(b2)).cast("long").alias("cg"),
    )
    # Triangular cells: the left role fans out to (cg, j) for j >= cg,
    # the right role to (i, cg) for i <= cg; every unordered pair meets
    # exactly once at (min(cg_x, cg_y), max(cg_x, cg_y)), with only the
    # diagonal needing the l_id < r_id dedup.
    left = ent.select(
        F.col("id").alias("l_id"),
        F.col("team").alias("l_team"),
        F.col("d").alias("l_d"),
        F.col("g").alias("l_g"),
        F.col("cg").alias("c1"),
        F.explode(F.sequence(F.col("cg"), F.lit(b2 - 1).cast("long"))).alias("c2"),
    ).repartition(num_part, "c1", "c2")
    right = ent.select(
        F.col("id").alias("r_id"),
        F.col("team").alias("r_team"),
        F.col("d").alias("r_d"),
        F.col("g").alias("r_g"),
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("cg"))).alias("rc1"),
        F.col("cg").alias("rc2"),
    ).repartition(num_part, "rc1", "rc2")
    mag = F.abs(F.col("l_d") + F.col("r_d"))
    same_sign = ((F.col("l_d") > 0) & (F.col("r_d") > 0)) | (
        (F.col("l_d") < 0) & (F.col("r_d") < 0)
    )
    same_team = F.col("l_team") == F.col("r_team")
    # The output keys are the id-ordered pair's blocks: ga = g of the
    # smaller id, gb = g of the larger (matches the oracle's a.id < b.id
    # enumeration); the pair magnitude itself is symmetric in the roles.
    a_first = F.col("l_id") < F.col("r_id")
    return (
        left.join(
            right.hint("shuffle_hash"),
            on=[F.col("c1") == F.col("rc1"), F.col("c2") == F.col("rc2")],
            how="inner",
        )
        .filter((F.col("c1") != F.col("c2")) | (F.col("l_id") < F.col("r_id")))
        .select(
            F.when(a_first, F.col("l_g")).otherwise(F.col("r_g")).alias("ga"),
            F.when(a_first, F.col("r_g")).otherwise(F.col("l_g")).alias("gb"),
            F.when(same_team == same_sign, mag).otherwise(-mag).alias("m"),
        )
        .groupBy("ga", "gb")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("m").alias("signed_mag_units"),
        )
        .orderBy("ga", "gb")
    )
