"""Typed schemas for every record shape the engine consumes.

The reference parses raw JSON per record with ``json.loads`` and passes
untyped dicts/tuples around (``/root/reference/master.py:37,45,71``);
here every shape is an explicit ``StructType`` so ``from_json`` parses
once, Catalyst prunes unused fields, and state values are named structs
instead of positional tuples (reference ``master.py:48-138``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Dimension tables (reference data/players.csv, data/teams.csv; consumed at
# master.py:27-30, ui.py:16-17). Explicit schemas replace inferSchema.
# --------------------------------------------------------------------------

PLAYERS_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("birthArea", T.StringType()),
        T.StructField("birthDate", T.StringType()),  # YYYY-MM-DD; kept string for CSV fidelity
        T.StructField("foot", T.StringType()),
        T.StructField("role", T.StringType()),  # GK / DF / MD / FW
        T.StructField("height", T.IntegerType()),
        T.StructField("passportArea", T.StringType()),
        T.StructField("weight", T.IntegerType()),
        T.StructField("Id", T.IntegerType()),
    ]
)

TEAMS_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("Id", T.IntegerType()),
    ]
)

# --------------------------------------------------------------------------
# Event JSON (reference master.py:71-135; field list in docs/Presentation.pdf
# "Events JSON" slide). Tag vocabulary (docs/Specs.pdf Tasks 1-6):
#   101 goal, 102 own goal, 302 key pass, 701 duel lost, 702 duel neutral,
#   703 duel won, 1801 accurate, 1802 not accurate.
# --------------------------------------------------------------------------

TAG_STRUCT = T.StructType([T.StructField("id", T.IntegerType())])

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("eventId", T.IntegerType()),  # 1 duel, 2 foul, 3 FK, 8 pass, 10 shot
        T.StructField("subEventId", T.IntegerType()),  # 35 = penalty (master.py:129)
        T.StructField("tags", T.ArrayType(TAG_STRUCT)),
        T.StructField("playerId", T.IntegerType()),
        T.StructField("matchId", T.IntegerType()),
        T.StructField("teamId", T.IntegerType()),
        T.StructField("eventSec", T.DoubleType()),
        T.StructField("matchPeriod", T.StringType()),  # 1H/2H/E1/E2/P
        T.StructField("id", T.LongType()),
        T.StructField("eventName", T.StringType()),
        T.StructField("subEventName", T.StringType()),
    ]
)

# --------------------------------------------------------------------------
# Match JSON (reference master.py:268-309, ui.py:111-184; full field list in
# docs/Presentation.pdf Match-JSON slides). Unconsumed spec fields are still
# modeled so raw records round-trip to the match log (SURVEY 1.2).
# teamsData is a JSON object keyed by teamId-as-string -> MapType.
# --------------------------------------------------------------------------

ROSTER_ENTRY_STRUCT = T.StructType(
    [
        T.StructField("playerId", T.IntegerType()),
        T.StructField("goals", T.StringType()),  # int-or-"null"-string in the wild
        T.StructField("ownGoals", T.StringType()),
        T.StructField("yellowCards", T.StringType()),
        T.StructField("redCards", T.StringType()),
    ]
)

SUBSTITUTION_STRUCT = T.StructType(
    [
        T.StructField("playerIn", T.IntegerType()),
        T.StructField("playerOut", T.IntegerType()),
        T.StructField("minute", T.IntegerType()),
    ]
)

FORMATION_STRUCT = T.StructType(
    [
        T.StructField("lineup", T.ArrayType(ROSTER_ENTRY_STRUCT)),
        T.StructField("bench", T.ArrayType(ROSTER_ENTRY_STRUCT)),
        T.StructField("substitutions", T.ArrayType(SUBSTITUTION_STRUCT)),
    ]
)

TEAM_DATA_STRUCT = T.StructType(
    [
        T.StructField("teamId", T.IntegerType()),
        T.StructField("side", T.StringType()),
        T.StructField("score", T.IntegerType()),
        T.StructField("scoreHT", T.IntegerType()),
        T.StructField("scoreET", T.IntegerType()),
        T.StructField("scoreP", T.IntegerType()),
        T.StructField("hasFormation", T.IntegerType()),
        T.StructField("coachId", T.IntegerType()),
        T.StructField("formation", FORMATION_STRUCT),
    ]
)

MATCH_SCHEMA = T.StructType(
    [
        T.StructField("wyId", T.IntegerType()),
        T.StructField("label", T.StringType()),
        T.StructField("dateutc", T.StringType()),  # "YYYY-MM-DD hh:mm:ss"
        T.StructField("duration", T.StringType()),  # Regular/ExtraTime/Penalties
        T.StructField("winner", T.IntegerType()),  # teamId, 0 = draw
        T.StructField("venue", T.StringType()),
        T.StructField("gameweek", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("competitionId", T.IntegerType()),
        T.StructField("seasonId", T.IntegerType()),
        T.StructField("roundId", T.IntegerType()),
        T.StructField("date", T.StringType()),
        T.StructField("teamsData", T.MapType(T.StringType(), TEAM_DATA_STRUCT)),
    ]
)

# Merged stream schema: one permissive parse for the mixed match/event stream;
# record type discrimination becomes wyId/eventId IS NOT NULL filters
# (replaces checkMatchRecord/checkEventRecord, master.py:32-46).
STREAM_SCHEMA = T.StructType(
    sorted(
        {f.name: f for f in list(MATCH_SCHEMA.fields) + list(EVENT_SCHEMA.fields)}.values(),
        key=lambda f: f.name,
    )
)

# --------------------------------------------------------------------------
# The metric vector (a named replacement for the reference's positional
# tuple, master.py:48-138), and the A4+A5 fold's output row. The fold
# state is the stream's RATING_STATE_SCHEMA (streaming/pipeline.py).
# --------------------------------------------------------------------------

# 17 counters + matchId: the fixed 18-slot metric vector (the reference's
# default branch emits a broken 19-tuple, master.py:138 -- we use the fix).
METRIC_COUNTER_COLS = [
    "acc_normal_passes",
    "acc_key_passes",
    "normal_passes",
    "key_passes",
    "duels_won",
    "neutral_duels",
    "total_duels",
    "shots",
    "shots_on_target_goal",
    "shots_on_target_no_goal",
    "shots_on_target",
    "fouls",
    "own_goals",
    "free_kicks",
    "effective_free_kicks",
    "penalty_goals",
    "goals",
]

# One row of the A4+A5 fold (functions/fpl_rules.py fold_player): a
# counted (player, match), its roster span's teamId (null without one),
# the rating after it and the profile so far. The batch fold
# (operators/pipeline.py player_fold_df), the stream's state operator
# and its K4 rating sink all emit it.
FOLD_SCHEMA = T.StructType(
    [
        T.StructField("playerId", T.IntegerType()),
        T.StructField("matchId", T.IntegerType()),
        T.StructField("teamId", T.IntegerType()),
        T.StructField("rating", T.DoubleType()),
        T.StructField("delta", T.DoubleType()),
        T.StructField("pass_accuracy_mean", T.DoubleType()),
        T.StructField("fouls_total", T.LongType()),
        T.StructField("goals_total", T.LongType()),
        T.StructField("own_goals_total", T.LongType()),
        T.StructField("shots_on_target_total", T.LongType()),
    ]
)
