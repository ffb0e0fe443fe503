"""The FPL domain pipeline on batch DataFrames (SURVEY section 7, Phase 2+4).

Rebuilds the reference's entire dataflow with the real match/event JSON
schemas, Spark-first:

- F1/F2/C1: one permissive ``from_json`` parse of the mixed stream,
  record type = wyId/eventId IS NOT NULL (replaces per-record
  ``json.loads`` + key-presence checks, reference master.py:32-46);
- A1: the 18-slot metric vector as pure column expressions
  (reference getMetrics, master.py:48-138 -- a 91-line Python closure;
  here zero Python, whole-stage codegen; the broken 19-tuple default
  branch at master.py:138 is fixed to the uniform layout);
- A2: per-(playerId, matchId) counter sums (reference
  metricsCounterCalc, master.py:140-175 -- keying by match eliminates
  its reset-on-new-matchId hack);
- A3: final-metric ratios with zero-guards (master.py:177-212);
- flatMaps: roster/substitution explosion via ``explode`` of the
  teamsData map (getPlayerListFromMatch / getTeamIDforPlayer,
  master.py:261-310);
- A5: the rating recurrence rating = 1.05*(perf + old)/2
  (updatePlayerRating, master.py:214-239 -- including the documented
  time_on_pitch-overwritten-to-90 behavior, so the 1.05 path always
  taken) and A4, the cumulative profile with the order-dependent
  running mean (new+old)/2 for pass accuracy (getPlayerProfile,
  master.py:242-259): perf is computed JVM-side, and one per-player
  fold runs both in Arrow-batched applyInPandas;
- A6/J4: pairwise chemistry with the sign rule, init 0.5, clamped to
  [0,1] per the spec (reference metrics.py:26-49 omits the clamp and
  double-applies every pair per batch; the canonical rebuild counts
  each unordered pair once per match and clamps -- both documented
  SURVEY quirks).

Every step is driver-gated: the DuckDB oracle re-derives the same
result from the identical raw JSONL fixtures, so the full chain
(JSON parse -> explode -> agg -> recurrence) is differentially tested.

Each rule is written once per engine. The A3/A4/A5 rules and the A4+A5
fold live in functions/fpl_rules.py: the A3 arithmetic is shared as
Columns here and as pandas Series by the stream, and ``fold_player``
runs here from the initial state and in the stream
(streaming/pipeline.py) from each player's stored state. On the oracle
side this module owns one SQL fragment per rule -- ``_FM_SQL``,
``_rating_sql``, ``final_rating_sql``, ``profile_sql`` and
``chemistry_sql`` -- which the request, KMeans and streaming oracles
embed.

Scale: the stream parses once and splits by record type (no double
parse); all aggregations key on (playerId, matchId) -- one shuffle,
map-side partial aggregation; dimension joins broadcast; the rating
fold shuffles once on playerId and is O(matches) per key; chemistry
joins pairs within a match only (bounded by roster size squared per
match, linear in matches).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fantasy_premier_league_spark.functions import rounded, safe_div
from fantasy_premier_league_spark.functions.fpl_rules import (
    FULL_MATCH,
    INIT_RATING,
    PROFILE_COUNTS,
    final_metrics,
    fold_player,
    performance,
)
from fantasy_premier_league_spark.plans.registry import register
from fantasy_premier_league_spark.schemas import (
    FOLD_SCHEMA,
    METRIC_COUNTER_COLS,
    PLAYERS_SCHEMA,
    STREAM_SCHEMA,
    TEAMS_SCHEMA,
)
from fantasy_premier_league_spark.sources.fpl_fixtures import ensure_fixtures

# Fixtures are generated at import time so the DuckDB oracle (which the
# driver may run before/after the Spark side) always sees the files.
# SPARK_GRAFT_FPL_FIXTURES points the WHOLE chain (Spark readers + the
# baked oracle paths, which stay consistent because both derive from
# this constant) at a scaled fixture dir for the stream-volume study
# (tools/scale_study.py --scales).
FIXTURES = os.environ.get("SPARK_GRAFT_FPL_FIXTURES") or ensure_fixtures()
STREAM_GLOB = os.path.join(FIXTURES, "stream", "*.jsonl")

INIT_CHEMISTRY = 0.5  # metrics.py:16

# ---------------------------------------------------------------------------
# Parse + discriminate (F1/F2/C1)
# ---------------------------------------------------------------------------


def load_raw(spark: SparkSession) -> DataFrame:
    return (
        spark.read.text(STREAM_GLOB)
        .select(F.from_json("value", STREAM_SCHEMA).alias("r"))
        .select("r.*")
    )


def matches_df(spark: SparkSession) -> DataFrame:
    return load_raw(spark).filter(F.col("wyId").isNotNull())


def events_df(spark: SparkSession) -> DataFrame:
    return load_raw(spark).filter(F.col("eventId").isNotNull())


# DuckDB twins ---------------------------------------------------------------

_ROSTER_T = ("STRUCT(playerId INTEGER, goals VARCHAR, ownGoals VARCHAR, "
             "yellowCards VARCHAR, redCards VARCHAR)[]")
_COLS_SQL = (
    "{"
    '"wyId": "INTEGER", "label": "VARCHAR", "dateutc": "VARCHAR", '
    '"duration": "VARCHAR", "winner": "INTEGER", "venue": "VARCHAR", '
    '"gameweek": "INTEGER", '
    '"teamsData": "MAP(VARCHAR, STRUCT(teamId INTEGER, side VARCHAR, '
    "formation STRUCT(lineup " + _ROSTER_T + ", bench " + _ROSTER_T + ", "
    'substitutions STRUCT(playerIn INTEGER, playerOut INTEGER, minute INTEGER)[])))", '
    '"eventId": "INTEGER", "subEventId": "INTEGER", "tags": "STRUCT(id INTEGER)[]", '
    '"playerId": "INTEGER", "matchId": "INTEGER", "teamId": "INTEGER", '
    '"eventSec": "DOUBLE", "id": "BIGINT"'
    "}"
)

_RAW_SQL = (
    f"read_json('{STREAM_GLOB}', format='newline_delimited', columns={_COLS_SQL})"
)

_EVENTS_SQL = f"""
  SELECT id, eventId, subEventId, playerId, matchId, teamId,
         [t.id for t in tags] AS tag_ids
  FROM {_RAW_SQL} WHERE eventId IS NOT NULL
"""

# ---------------------------------------------------------------------------
# A1: metric-vector extraction (fixed 18-slot layout)
# ---------------------------------------------------------------------------


def _has(tag: int) -> Column:
    return F.array_contains(F.col("tags.id"), tag)


def metric_vectors(events: DataFrame) -> DataFrame:
    """Per-event counters; exact branch semantics of master.py:48-138."""
    e = F.col("eventId")
    one = F.lit(1)
    zero = F.lit(0)
    is_pass, is_duel, is_shot = e == 8, e == 1, e == 10
    is_fk, is_foul = e == 3, e == 2
    acc, key, goal = _has(1801), _has(302), _has(101)
    return events.select(
        "id",
        "playerId",
        "matchId",
        F.when(is_pass & acc & ~key, one).otherwise(zero).alias("acc_normal_passes"),
        F.when(is_pass & acc & key, one).otherwise(zero).alias("acc_key_passes"),
        F.when(is_pass & ~key, one).otherwise(zero).alias("normal_passes"),
        F.when(is_pass & key, one).otherwise(zero).alias("key_passes"),
        F.when(is_duel & _has(703), one).otherwise(zero).alias("duels_won"),
        F.when(is_duel & _has(702), one).otherwise(zero).alias("neutral_duels"),
        F.when(is_duel, one).otherwise(zero).alias("total_duels"),
        F.when(is_shot, one).otherwise(zero).alias("shots"),
        F.when(is_shot & acc & goal, one).otherwise(zero).alias("shots_on_target_goal"),
        F.when(is_shot & acc & ~goal, one).otherwise(zero).alias("shots_on_target_no_goal"),
        F.when(is_shot & acc, one).otherwise(zero).alias("shots_on_target"),
        F.when(is_foul, one).otherwise(zero).alias("fouls"),
        F.when(_has(102), one).otherwise(zero).alias("own_goals"),
        F.when(is_fk, one).otherwise(zero).alias("free_kicks"),
        F.when(is_fk & acc, one).otherwise(zero).alias("effective_free_kicks"),
        F.when(is_fk & (F.col("subEventId") == 35) & goal, one).otherwise(zero).alias(
            "penalty_goals"
        ),
        F.when(goal, one).otherwise(zero).alias("goals"),
    )


_VEC_EXPRS_SQL = """
         CASE WHEN eventId = 8 AND list_contains(tag_ids, 1801)
                   AND NOT list_contains(tag_ids, 302) THEN 1 ELSE 0 END AS acc_normal_passes,
         CASE WHEN eventId = 8 AND list_contains(tag_ids, 1801)
                   AND list_contains(tag_ids, 302) THEN 1 ELSE 0 END AS acc_key_passes,
         CASE WHEN eventId = 8 AND NOT list_contains(tag_ids, 302) THEN 1 ELSE 0 END AS normal_passes,
         CASE WHEN eventId = 8 AND list_contains(tag_ids, 302) THEN 1 ELSE 0 END AS key_passes,
         CASE WHEN eventId = 1 AND list_contains(tag_ids, 703) THEN 1 ELSE 0 END AS duels_won,
         CASE WHEN eventId = 1 AND list_contains(tag_ids, 702) THEN 1 ELSE 0 END AS neutral_duels,
         CASE WHEN eventId = 1 THEN 1 ELSE 0 END AS total_duels,
         CASE WHEN eventId = 10 THEN 1 ELSE 0 END AS shots,
         CASE WHEN eventId = 10 AND list_contains(tag_ids, 1801)
                   AND list_contains(tag_ids, 101) THEN 1 ELSE 0 END AS shots_on_target_goal,
         CASE WHEN eventId = 10 AND list_contains(tag_ids, 1801)
                   AND NOT list_contains(tag_ids, 101) THEN 1 ELSE 0 END AS shots_on_target_no_goal,
         CASE WHEN eventId = 10 AND list_contains(tag_ids, 1801) THEN 1 ELSE 0 END AS shots_on_target,
         CASE WHEN eventId = 2 THEN 1 ELSE 0 END AS fouls,
         CASE WHEN list_contains(tag_ids, 102) THEN 1 ELSE 0 END AS own_goals,
         CASE WHEN eventId = 3 THEN 1 ELSE 0 END AS free_kicks,
         CASE WHEN eventId = 3 AND list_contains(tag_ids, 1801) THEN 1 ELSE 0 END AS effective_free_kicks,
         CASE WHEN eventId = 3 AND subEventId = 35 AND list_contains(tag_ids, 101)
              THEN 1 ELSE 0 END AS penalty_goals,
         CASE WHEN list_contains(tag_ids, 101) THEN 1 ELSE 0 END AS goals
"""

_VECTORS_SQL = f"SELECT id, playerId, matchId, {_VEC_EXPRS_SQL} FROM ({_EVENTS_SQL})"


@register(
    "fpl_a1_metric_vector",
    oracle=f"{_VECTORS_SQL} ORDER BY id",
)
def fpl_a1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return metric_vectors(events_df(spark)).orderBy("id")


# ---------------------------------------------------------------------------
# A2: per-(player, match) counter aggregation
# ---------------------------------------------------------------------------


def match_counters(vectors: DataFrame) -> DataFrame:
    return vectors.groupBy("playerId", "matchId").agg(
        *[F.sum(c).cast("long").alias(c) for c in METRIC_COUNTER_COLS]
    )


_CTRS_SQL = "SELECT playerId, matchId, " + ", ".join(
    f"CAST(sum({c}) AS BIGINT) AS {c}" for c in METRIC_COUNTER_COLS
) + f" FROM ({_VECTORS_SQL}) GROUP BY playerId, matchId"


@register(
    "fpl_a2_match_counters",
    oracle=f"{_CTRS_SQL} ORDER BY playerId, matchId",
)
def fpl_a2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return match_counters(metric_vectors(events_df(spark))).orderBy("playerId", "matchId")


# ---------------------------------------------------------------------------
# A3: final metrics (exact formulas, master.py:177-212; div-by-zero -> 0)
# ---------------------------------------------------------------------------


def final_metrics_df(counters: DataFrame) -> DataFrame:
    m = {k: v.alias(k) for k, v in final_metrics(F.col, safe_div).items()}
    return counters.select(
        "playerId",
        "matchId",
        m["pass_accuracy"],
        m["duel_effectiveness"],
        m["shot_effectiveness"],
        "fouls",
        "own_goals",
        "shots_on_target",
        m["free_kick_effectiveness"],
        "goals",
    )


_FM_SQL = f"""
  SELECT playerId, matchId,
         coalesce((acc_normal_passes + acc_key_passes * 2)
                  / nullif(normal_passes + key_passes * 2, 0), 0.0) AS pass_accuracy,
         coalesce((duels_won + neutral_duels * 0.5) / nullif(total_duels, 0), 0.0)
           AS duel_effectiveness,
         coalesce((shots_on_target_goal + shots_on_target_no_goal * 0.5)
                  / nullif(shots, 0), 0.0) AS shot_effectiveness,
         fouls, own_goals, shots_on_target,
         coalesce((effective_free_kicks + penalty_goals) / nullif(free_kicks, 0), 0.0)
           AS free_kick_effectiveness,
         goals
  FROM ({_CTRS_SQL})
"""


@register(
    "fpl_a3_final_metrics",
    oracle=f"""
    SELECT playerId, matchId, round(pass_accuracy, 6) AS pass_accuracy,
           round(duel_effectiveness, 6) AS duel_effectiveness,
           round(shot_effectiveness, 6) AS shot_effectiveness,
           fouls, own_goals, shots_on_target,
           round(free_kick_effectiveness, 6) AS free_kick_effectiveness, goals
    FROM ({_FM_SQL}) ORDER BY playerId, matchId
    """,
)
def fpl_a3(spark: SparkSession, sf_dir: str) -> DataFrame:
    fm = final_metrics_df(match_counters(metric_vectors(events_df(spark))))
    return fm.select(
        "playerId",
        "matchId",
        rounded(F.col("pass_accuracy"), 6).alias("pass_accuracy"),
        rounded(F.col("duel_effectiveness"), 6).alias("duel_effectiveness"),
        rounded(F.col("shot_effectiveness"), 6).alias("shot_effectiveness"),
        "fouls",
        "own_goals",
        "shots_on_target",
        rounded(F.col("free_kick_effectiveness"), 6).alias("free_kick_effectiveness"),
        "goals",
    ).orderBy("playerId", "matchId")


# ---------------------------------------------------------------------------
# flatMap rebuilds: roster + substitution spans (master.py:261-310).
# explode(map_entries(teamsData)) replaces the per-record Python loops.
# ---------------------------------------------------------------------------


def _team_entries(matches: DataFrame) -> DataFrame:
    return matches.select(
        F.col("wyId").alias("matchId"),
        F.explode(F.map_entries("teamsData")).alias("te"),
    ).select(
        "matchId",
        F.col("te.key").cast("int").alias("teamId"),
        F.col("te.value.formation.lineup").alias("lineup"),
        F.col("te.value.formation.bench").alias("bench"),
        F.col("te.value.formation.substitutions").alias("subs"),
    )


def player_spans(matches: DataFrame) -> DataFrame:
    """(matchId, teamId, playerId, inTime, outTime); starters (0, out|90),
    bench (in, 90) or (-1,-1) if never fielded (master.py:280-291)."""
    te = _team_entries(matches)
    starters = te.select(
        "matchId",
        "teamId",
        F.explode("lineup").alias("p"),
        F.col("subs").alias("subs"),
    ).select(
        "matchId",
        "teamId",
        F.col("p.playerId").alias("playerId"),
        F.lit(0).alias("inTime"),
        F.coalesce(
            F.try_element_at(
                F.filter("subs", lambda s: s["playerOut"] == F.col("p.playerId")), F.lit(1)
            )["minute"],
            F.lit(90),
        ).alias("outTime"),
    )
    bench = te.select(
        "matchId",
        "teamId",
        F.explode("bench").alias("p"),
        F.col("subs").alias("subs"),
    ).select(
        "matchId",
        "teamId",
        F.col("p.playerId").alias("playerId"),
        F.coalesce(
            F.try_element_at(
                F.filter("subs", lambda s: s["playerIn"] == F.col("p.playerId")), F.lit(1)
            )["minute"],
            F.lit(-1),
        ).alias("inTime"),
    ).select(
        "matchId",
        "teamId",
        "playerId",
        "inTime",
        F.when(F.col("inTime") == -1, F.lit(-1)).otherwise(F.lit(90)).alias("outTime"),
    )
    return starters.unionByName(bench)


_TEAM_ENTRIES_SQL = f"""
  SELECT wyId AS matchId, CAST(e.key AS INTEGER) AS teamId,
         e.value.formation.lineup AS lineup, e.value.formation.bench AS bench,
         e.value.formation.substitutions AS subs
  FROM (SELECT wyId, unnest(map_entries(teamsData)) AS e
        FROM {_RAW_SQL} WHERE wyId IS NOT NULL)
"""

_SPANS_SQL = f"""
  SELECT matchId, teamId, p.playerId AS playerId, 0 AS inTime,
         coalesce(list_filter(subs, s -> s.playerOut = p.playerId)[1].minute, 90)
           AS outTime
  FROM (SELECT matchId, teamId, unnest(lineup) AS p, subs FROM ({_TEAM_ENTRIES_SQL}))
  UNION ALL
  SELECT matchId, teamId, playerId,
         inTime, CASE WHEN inTime = -1 THEN -1 ELSE 90 END AS outTime
  FROM (
    SELECT matchId, teamId, p.playerId AS playerId,
           coalesce(list_filter(subs, s -> s.playerIn = p.playerId)[1].minute, -1)
             AS inTime
    FROM (SELECT matchId, teamId, unnest(bench) AS p, subs FROM ({_TEAM_ENTRIES_SQL}))
  )
"""


@register(
    "fpl_spans_roster",
    oracle=f"SELECT * FROM ({_SPANS_SQL}) ORDER BY matchId, teamId, playerId, inTime",
)
def fpl_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return player_spans(matches_df(spark)).orderBy("matchId", "teamId", "playerId", "inTime")


# ---------------------------------------------------------------------------
# J5: roster enrichment -- two broadcast dim joins replacing ui.py's
# per-row .first() lookups inside loops (ui.py:129-184).
# ---------------------------------------------------------------------------


def load_players(spark: SparkSession) -> DataFrame:
    return spark.read.csv(
        os.path.join(FIXTURES, "players.csv"), header=True, schema=PLAYERS_SCHEMA
    )


def load_teams(spark: SparkSession) -> DataFrame:
    return spark.read.csv(
        os.path.join(FIXTURES, "teams.csv"), header=True, schema=TEAMS_SCHEMA
    )


# birthDate pinned VARCHAR: Spark reads it string (schemas.py CSV
# fidelity) while DuckDB's sniffer infers DATE -- same value text
# today, but a cross-engine type-family divergence is exactly the
# HUGEINT class that cost two rounds (r11 type sweep found these two
# req2 oracles as the only remaining family mismatches repo-wide).
_PLAYERS_CSV_SQL = (
    f"read_csv('{os.path.join(FIXTURES, 'players.csv')}', header=true, "
    "types={'birthDate': 'VARCHAR'})"
)
_TEAMS_CSV_SQL = f"read_csv('{os.path.join(FIXTURES, 'teams.csv')}', header=true)"


@register(
    "fpl_j5_roster_enrich",
    oracle=f"""
    SELECT r.matchId, r.teamId, t.name AS team_name, r.playerId,
           p.name AS player_name, p.role AS role
    FROM (SELECT DISTINCT matchId, teamId, playerId FROM ({_SPANS_SQL})) r
    JOIN {_PLAYERS_CSV_SQL} p ON p.Id = r.playerId
    JOIN {_TEAMS_CSV_SQL} t ON t.Id = r.teamId
    ORDER BY matchId, teamId, playerId
    """,
)
def fpl_j5(spark: SparkSession, sf_dir: str) -> DataFrame:
    roster = player_spans(matches_df(spark)).select("matchId", "teamId", "playerId").distinct()
    players = F.broadcast(load_players(spark))
    teams = F.broadcast(load_teams(spark))
    return (
        roster.join(players, roster.playerId == players.Id)
        .join(teams, roster.teamId == teams.Id)
        .select(
            "matchId",
            "teamId",
            teams["name"].alias("team_name"),
            "playerId",
            players["name"].alias("player_name"),
            players["role"].alias("role"),
        )
        .orderBy("matchId", "teamId", "playerId")
    )


# ---------------------------------------------------------------------------
# A4+A5: the per-player fold. perf is computed JVM-side with the exact
# reference expression shape; functions/fpl_rules.fold_player (the only
# genuinely sequential part, shared with the stream) runs in one
# applyInPandas, shuffled once on playerId, and yields both the rating
# trace and the profile.
# ---------------------------------------------------------------------------


def performance_df(
    spark: SparkSession,
    counters: DataFrame | None = None,
    effectiveness: str = "shot_effectiveness",
    time_on_pitch: bool = False,
) -> DataFrame:
    """Per counted (player, match): the fold's inputs. ``teamId`` and
    ``perf``, the penalized contribution (master.py:230-232), come from
    the player's roster span, joined J2-style; a row without a span
    keeps them null, so the fold moves only its profile. The profile
    inputs are ``pass_accuracy`` and the PROFILE_COUNTS.

    ``counters`` lets a caller that ALSO aggregates the match counters
    for another branch (the KMeans imputation queries: cluster features
    + rating trace) pass ONE materialized counters frame instead of
    re-running the events corpus pass per branch; the expression is
    identical to the default, so plans only change for callers that
    opt in. ``effectiveness`` and ``time_on_pitch`` are the spec twin's
    two departures (see spec_performance_df); ``time_on_pitch`` adds
    the span's minutes as ``top``."""
    if counters is None:
        counters = match_counters(metric_vectors(events_df(spark)))
    fm = final_metrics_df(counters)
    minutes = ["inTime", "outTime"] if time_on_pitch else []
    spans = player_spans(matches_df(spark)).select(
        "matchId", "playerId", "teamId", *minutes, F.lit(True).alias("fielded")
    )
    cols = [F.when(F.col("fielded"), performance(F.col, effectiveness)).alias("perf")]
    if time_on_pitch:
        cols.append((F.col("outTime") - F.col("inTime")).alias("top"))
    return fm.join(spans, ["playerId", "matchId"], "left").select(
        "playerId", "matchId", "teamId", *cols, "pass_accuracy", *PROFILE_COUNTS
    )


def player_fold_df(perf: DataFrame) -> DataFrame:
    """fold_player over each player's performance_df rows, from the
    initial state: one FOLD_SCHEMA row per counted (player, match)."""

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        folded, _ = fold_player(pdf.sort_values("matchId"))
        return folded[FOLD_SCHEMA.fieldNames()]

    return perf.groupBy("playerId").applyInPandas(fold, schema=FOLD_SCHEMA)


def rated_rows(folded: DataFrame) -> DataFrame:
    """The rating trace of a folded frame: its rows that took a rating
    step (a null delta marks a match without a roster span)."""
    return folded.filter(F.col("delta").isNotNull()).select(
        "playerId", "matchId", "teamId", "rating", "delta"
    )


def rating_trace_df(perf: DataFrame) -> DataFrame:
    """Per fielded (player, match) in match order: the rating after the
    match and its change. A ``top`` column feeds each match's minutes to
    rating_step; without one every match is a full match."""
    return rated_rows(player_fold_df(perf))


def _perf_sql(effectiveness: str = "shot_effectiveness", time_on_pitch: bool = False) -> str:
    """performance_df's oracle, with the same two arguments."""
    contribution = f"""((fm.pass_accuracy + fm.duel_effectiveness + fm.{effectiveness}
           + fm.shots_on_target) / 4)"""
    minutes = ", inTime, outTime" if time_on_pitch else ""
    top = ",\n         sp.outTime - sp.inTime AS top" if time_on_pitch else ""
    return f"""
  SELECT fm.playerId, fm.matchId, sp.teamId,
         {contribution}
         - (0.005 * fm.fouls + 0.05 * fm.own_goals)
           * {contribution} AS perf{top}
  FROM ({_FM_SQL}) fm
  JOIN (SELECT DISTINCT matchId, playerId, teamId{minutes} FROM ({_SPANS_SQL})) sp
    ON sp.playerId = fm.playerId AND sp.matchId = fm.matchId
"""


def _step_sql(row: str, old: str, time_on_pitch: bool) -> str:
    """rating_step for the row with alias prefix ``row`` ("" or "s.")."""
    fc = f"(({row}perf + {old}) / 2)"
    if not time_on_pitch:
        return f"1.05 * {fc}"
    return f"CASE WHEN {row}top = {FULL_MATCH} THEN 1.05 * {fc} ELSE ({row}top / 90.0) * {fc} END"


def _rating_sql(effectiveness: str = "shot_effectiveness", time_on_pitch: bool = False) -> str:
    """rating_trace_df's oracle over _perf_sql with the same arguments."""
    return f"""
  WITH RECURSIVE seqd AS (
    SELECT playerId, matchId, teamId, perf{", top" if time_on_pitch else ""},
           row_number() OVER (PARTITION BY playerId ORDER BY matchId) AS seq
    FROM ({_perf_sql(effectiveness, time_on_pitch)})
  ),
  r AS (
    SELECT playerId, matchId, teamId, seq,
           {_step_sql("", INIT_RATING, time_on_pitch)} AS rating,
           CAST({INIT_RATING} AS DOUBLE) AS prev
    FROM seqd WHERE seq = 1
    UNION ALL
    SELECT s.playerId, s.matchId, s.teamId, s.seq,
           {_step_sql("s.", "r.rating", time_on_pitch)} AS rating, r.rating AS prev
    FROM seqd s JOIN r ON s.playerId = r.playerId AND s.seq = r.seq + 1
  )
  SELECT playerId, matchId, teamId, rating, rating - prev AS delta FROM r
"""


_RATING_SQL = _rating_sql()


def _rating_rows_sql(rating_sql: str) -> str:
    return f"""
    SELECT playerId, matchId, round(rating, 6) AS rating, round(delta, 6) + 0 AS delta
    FROM ({rating_sql}) ORDER BY playerId, matchId
    """


# the rounded trace: fpl_a5_rating's oracle, and fpl_t5_stateful_stream's
# (the streaming fold must reproduce the batch trace)
RATING_ROWS_SQL = _rating_rows_sql(_RATING_SQL)


def _rating_rows(trace: DataFrame) -> DataFrame:
    return trace.select(
        "playerId",
        "matchId",
        rounded(F.col("rating"), 6).alias("rating"),
        rounded(F.col("delta"), 6).alias("delta"),
    ).orderBy("playerId", "matchId")


@register("fpl_a5_rating", oracle=RATING_ROWS_SQL)
def fpl_a5(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rating_rows(rating_trace_df(performance_df(spark)))


# ---------------------------------------------------------------------------
# A5 spec-correct twin (SURVEY 2.4-A5 deviations; VERDICT r10 #5). The
# reference deviates from docs/Specs.pdf in two places the faithful
# fpl_a5_rating reproduces on purpose:
#   1. contribution averages SHOT effectiveness where the spec's
#      "Player Contribution" formula names FREE-KICK effectiveness;
#   2. minutes scaling: time_on_pitch = outTime - inTime is computed,
#      then immediately overwritten with 90 (master.py:219-220), so the
#      (top/90)*finalContrib branch is dead code in the reference.
# This twin pins the SPEC behavior: free-kick effectiveness in the
# mean, and the real (out-in)/90 scaling for substituted players
# (never-fielded bench spans (-1,-1) scale to 0 by the same formula).
# It is the faithful chain with those two arguments flipped.
# ---------------------------------------------------------------------------

_SPEC_ARGS = {"effectiveness": "free_kick_effectiveness", "time_on_pitch": True}


def spec_performance_df(spark: SparkSession) -> DataFrame:
    """Per fielded (player, match): the SPEC contribution (free-kick
    effectiveness, not shot) plus the span's real time-on-pitch."""
    return performance_df(spark, **_SPEC_ARGS)


@register("fpl_a5_spec_rating", oracle=_rating_rows_sql(_rating_sql(**_SPEC_ARGS)))
def fpl_a5_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rating_rows(rating_trace_df(spec_performance_df(spark)))


# A7: final rating extract (reference metrics.py:53-63 reads the LAST
# batch dir -- including its line-55 bug of re-reading the loop var; the
# rebuild's canonical behavior is the true latest rating per player).


def latest_per_player(df: DataFrame) -> DataFrame:
    """Each player's row with the highest matchId (A7's "latest")."""
    w = Window.partitionBy("playerId").orderBy(F.col("matchId").desc())
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def profile_columns(folded: DataFrame) -> DataFrame:
    """The A4 profile after each row of a folded frame (FOLD_SCHEMA
    rows, from player_fold_df or the stream), laid out as the stream's
    K3 profile snapshots."""
    return folded.select(
        "playerId",
        "matchId",
        F.col("pass_accuracy_mean").alias("pass_accuracy"),
        *(F.col(f"{c}_total").alias(c) for c in PROFILE_COUNTS),
    )


def latest_profile(folded: DataFrame) -> DataFrame:
    """Each player's A4 profile: the profile columns of its latest row."""
    return latest_per_player(profile_columns(folded))


def final_rating_sql(trace: str) -> str:
    """latest_per_player's oracle: (playerId, rating) from the relation
    ``trace`` (a CTE name or a parenthesized subquery)."""
    return f"""
    SELECT playerId, rating FROM (
      SELECT playerId, rating,
             row_number() OVER (PARTITION BY playerId ORDER BY matchId DESC) AS rn
      FROM {trace}
    ) WHERE rn = 1"""


@register(
    "fpl_a7_final_rating",
    oracle=f"""
    SELECT playerId, round(rating, 6) AS rating
    FROM ({final_rating_sql(f"({_RATING_SQL})")}) ORDER BY playerId
    """,
)
def fpl_a7(spark: SparkSession, sf_dir: str) -> DataFrame:
    trace = rating_trace_df(performance_df(spark))
    return (
        latest_per_player(trace)
        .select("playerId", rounded(F.col("rating"), 6).alias("rating"))
        .orderBy("playerId")
    )


# ---------------------------------------------------------------------------
# A4: cumulative profile with the order-dependent running mean
# (getPlayerProfile, master.py:242-259), read off the A4+A5 fold.
# ---------------------------------------------------------------------------


def profile_df(spark: SparkSession) -> DataFrame:
    """Per player: summed counters plus the running-mean pass accuracy."""
    return latest_profile(player_fold_df(performance_df(spark))).drop("matchId")


def profile_sql(fm: str) -> str:
    """profile_df's oracle over the final-metrics relation ``fm`` (a CTE
    name or a parenthesized subquery); pass_accuracy unrounded."""
    return f"""
    WITH RECURSIVE seqd AS (
      SELECT playerId, pass_accuracy,
             row_number() OVER (PARTITION BY playerId ORDER BY matchId) AS seq
      FROM {fm}
    ),
    pa AS (
      SELECT playerId, seq, pass_accuracy AS pa FROM seqd WHERE seq = 1
      UNION ALL
      SELECT f.playerId, f.seq, (f.pass_accuracy + pa.pa) / 2 AS pa
      FROM seqd f JOIN pa ON f.playerId = pa.playerId AND f.seq = pa.seq + 1
    ),
    last_pa AS (
      SELECT playerId, pa FROM (
        SELECT playerId, pa, row_number() OVER (PARTITION BY playerId ORDER BY seq DESC) AS rn
        FROM pa
      ) WHERE rn = 1
    )
    SELECT s.playerId, s.fouls, s.goals, s.own_goals,
           last_pa.pa AS pass_accuracy, s.shots_on_target
    FROM (
      SELECT playerId, CAST(sum(fouls) AS BIGINT) AS fouls,
             CAST(sum(goals) AS BIGINT) AS goals,
             CAST(sum(own_goals) AS BIGINT) AS own_goals,
             CAST(sum(shots_on_target) AS BIGINT) AS shots_on_target
      FROM {fm} GROUP BY playerId
    ) s JOIN last_pa ON last_pa.playerId = s.playerId"""


@register(
    "fpl_a4_profile",
    oracle=f"""
    SELECT playerId, fouls, goals, own_goals,
           round(pass_accuracy, 6) AS pass_accuracy, shots_on_target
    FROM ({profile_sql(f"({_FM_SQL})")}) ORDER BY playerId
    """,
)
def fpl_a4(spark: SparkSession, sf_dir: str) -> DataFrame:
    prof = profile_df(spark)
    return prof.select(
        "playerId",
        "fouls",
        "goals",
        "own_goals",
        rounded(F.col("pass_accuracy"), 6).alias("pass_accuracy"),
        "shots_on_target",
    ).orderBy("playerId")


# ---------------------------------------------------------------------------
# A6/J4: chemistry. Per match, every unordered pair of rated (fielded)
# players meets in a self equi-join ON matchId; the sign rule applies
# (same team XNOR same strict delta-sign -> +mag else -mag,
# metrics.py:36-49); cumulative chem = 0.5 + sum over matches, clamped.
# ---------------------------------------------------------------------------


def chemistry_df(spark: SparkSession) -> DataFrame:
    # the trace is materialized ONCE before the pair self-join (r17):
    # un-checkpointed, the applyInPandas fold node sits on BOTH sides
    # of the matchId self-join and executes twice -- only the exchange
    # below it gets AQE runtime reuse (the req1/chem_impute class)
    trace = (
        rating_trace_df(performance_df(spark))
        .select("playerId", "matchId", "teamId", "delta")
        .localCheckpoint(eager=False)
    )
    return chemistry_from_trace(trace)


def chemistry_from_trace(trace: DataFrame) -> DataFrame:
    """A6 chemistry off an already-built rating trace (playerId,
    matchId, teamId, delta). Split from chemistry_df so callers that
    ALSO consume the trace directly (the request snapshot in
    operators/api.py: chemistry + the final ratings) can share ONE
    materialized trace instead of re-running the perf+fold pipeline per
    branch."""
    a, b = trace.alias("a"), trace.alias("b")
    pairs = a.join(
        b,
        (F.col("a.matchId") == F.col("b.matchId"))
        & (F.col("a.playerId") < F.col("b.playerId")),
    ).select(
        F.col("a.playerId").alias("p1"),
        F.col("b.playerId").alias("p2"),
        F.abs((F.col("a.delta") + F.col("b.delta")) / 2).alias("mag"),
        (
            ((F.col("a.delta") > 0) & (F.col("b.delta") > 0))
            | ((F.col("a.delta") < 0) & (F.col("b.delta") < 0))
        ).alias("same_sign"),
        (F.col("a.teamId") == F.col("b.teamId")).alias("same_team"),
    )
    chem = F.lit(INIT_CHEMISTRY) + F.sum(
        F.when(F.col("same_team") == F.col("same_sign"), F.col("mag")).otherwise(
            -F.col("mag")
        )
    )
    return pairs.groupBy("p1", "p2").agg(
        F.greatest(F.lit(0.0), F.least(F.lit(1.0), chem)).alias("chemistry")
    )


def chemistry_sql(trace: str) -> str:
    """chemistry_from_trace's oracle over the relation ``trace``
    (playerId, matchId, teamId, delta); chemistry unrounded."""
    return f"""
    SELECT p1, p2,
           greatest(0.0, least(1.0,
             {INIT_CHEMISTRY} + sum(CASE WHEN same_team = same_sign THEN mag
                                         ELSE -mag END))) AS chemistry
    FROM (
      SELECT a.playerId AS p1, b.playerId AS p2,
             abs((a.delta + b.delta) / 2) AS mag,
             ((a.delta > 0 AND b.delta > 0) OR (a.delta < 0 AND b.delta < 0)) AS same_sign,
             (a.teamId = b.teamId) AS same_team
      FROM {trace} a JOIN {trace} b
        ON a.matchId = b.matchId AND a.playerId < b.playerId
    ) GROUP BY p1, p2"""


# chemistry over the A5 trace, self-contained
_CHEM_SQL = f"""
    WITH trace AS ({_RATING_SQL}){chemistry_sql("trace")}
"""


@register(
    "fpl_a6_chemistry",
    oracle=f"""
    SELECT p1, p2, round(chemistry, 6) AS chemistry
    FROM ({_CHEM_SQL}) ORDER BY p1, p2
    """,
)
def fpl_a6(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chemistry_df(spark).select(
        "p1", "p2", rounded(F.col("chemistry"), 6).alias("chemistry")
    ).orderBy("p1", "p2")
