"""Request servicing (Phase 5): the reference ui.py's three request
types, rebuilt as set-based DataFrame jobs.

The reference issues dozens of driver round-trips per request --
``players_df.filter(...).first()`` inside loops (ui.py:41-42,129-184),
one Catalyst job each. Here every lookup batch becomes ONE broadcast
join, and each request type is a single job:

- req_type 1 (win prediction, ui.py:27-76): roster -> broadcast join
  players -> role validation (A8: gk==1, df>=2, md>=2, fw>=1 -- the
  CODE's thresholds; spec says DF>=3, SURVEY 2.4 A8) -> team chemistry
  (A9: the reference's `visited` list is never appended, so every
  unordered pair counts TWICE, ui.py:57-64 -- reproduced as 2x the
  pair sum) -> strength & win chance (A10, ui.py:66-74).
- req_type 2 (player profile, ui.py:77-107): background fields JOIN
  cumulative profile. The reference drops `goals` from the response
  though the spec requires it (ui.py:100-104); canonical behavior here
  INCLUDES goals (SURVEY 3.3 quirk, fixed).
- req_type 3 (match details, ui.py:109-191): match log filter by
  (date, label) -> roster explode -> one broadcast join for names.
  The reference fills yellow_cards/red_cards with every player's name
  regardless of cards (ui.py:162-163,183-184); canonical behavior here
  returns the actual per-player card counts from teamsData (fixed).

Chemistry/rating inputs come from the pipeline's canonical tables
(clamped chemistry, each unordered pair once -- operators/pipeline.py)
rather than the reference's unclamped double-applied chemistry.json.

``serve_request(spark, request)`` gives the dict-shaped responses
(drop-in for the reference's JSON files); the registered queries expose
the same computations as flat driver-gated DataFrames.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fantasy_premier_league_spark.functions import rounded
from fantasy_premier_league_spark.operators.pipeline import (
    FIXTURES,
    _FM_SQL,
    _PLAYERS_CSV_SQL,
    _RATING_SQL,
    _RAW_SQL,
    _TEAMS_CSV_SQL,
    load_players,
    load_teams,
    matches_df,
)
from fantasy_premier_league_spark.plans.registry import register

REQ_DIR = os.path.join(FIXTURES, "requests")
REQ1 = os.path.join(REQ_DIR, "req1_valid.json")
REQ2 = os.path.join(REQ_DIR, "req2_profile.json")
REQ3 = os.path.join(REQ_DIR, "req3_match.json")

PLAYER_KEYS = [f"player{i}" for i in range(1, 12)]


# ---------------------------------------------------------------------------
# req_type 1: win prediction
# ---------------------------------------------------------------------------


def _team_rosters(request: dict) -> list[tuple[str, str, str]]:
    rows = []
    for team_key in ("team1", "team2"):
        td = request[team_key]
        for pk in PLAYER_KEYS:
            rows.append((team_key, td["name"], td[pk]))
    return rows


def validate_composition(roles: list[str]) -> bool:
    """A8 (ui.py:43-53, code behavior: DF>=2 not the spec's >=3)."""
    gk = roles.count("GK")
    dfn = roles.count("DF")
    md = roles.count("MD")
    fw = roles.count("FW")
    return gk == 1 and dfn >= 2 and md >= 2 and fw >= 1


def team_strengths(spark: SparkSession, request: dict) -> DataFrame:
    """Per team: (team, team_name, strength); one broadcast-join plan
    replacing ui.py's 44 driver round-trips."""
    roster = spark.createDataFrame(
        _team_rosters(request), "team string, team_name string, player_name string"
    )
    players = F.broadcast(load_players(spark))
    ids = roster.join(players, roster.player_name == players.name).select(
        "team", "team_name", F.col("Id").alias("playerId")
    )
    from fantasy_premier_league_spark.operators.pipeline import (
        chemistry_from_trace,
        latest_per_player,
        performance_df,
        rating_trace_df,
    )

    # ONE rating-trace materialization feeds both consumers (the
    # chemistry pair join AND the final-rating branch): without the
    # checkpoint the perf+fold pipeline appears 3x in the plan and only
    # the chem self-join's identical exchanges get runtime reuse -- the
    # final-rating branch re-ran the whole applyInPandas fold (the t16
    # double-fold class; ml_kmeans_rating_impute checkpoints for the
    # same reason). r17 A/B: 4.8 -> 3.8 s solo med at sf0.1.
    trace = rating_trace_df(performance_df(spark)).localCheckpoint(
        eager=False
    )
    chem = chemistry_from_trace(
        trace.select("playerId", "matchId", "teamId", "delta")
    )
    a, b = ids.alias("a"), ids.alias("b")
    # A9: ordered-pair double count (ui.py:57-64) == 2 x unordered sum
    team_chem = (
        a.join(b, (F.col("a.team") == F.col("b.team")))
        .join(
            chem,
            (F.col("a.playerId") == chem.p1) & (F.col("b.playerId") == chem.p2),
        )
        .groupBy(F.col("a.team").alias("team"))
        .agg((F.sum("chemistry") * 2 / 11).alias("team_avg"))
    )
    final_rating = latest_per_player(trace).select("playerId", "rating")
    # A10 (ui.py:66-70): strength = sum(rating) * team_avg / 11
    return (
        ids.join(final_rating, "playerId")
        .groupBy("team", "team_name")
        .agg(F.sum("rating").alias("rating_sum"))
        .join(team_chem, "team")
        .select(
            "team",
            "team_name",
            (F.col("rating_sum") * F.col("team_avg") / 11).alias("strength"),
        )
    )


def predict_win(spark: SparkSession, request: dict) -> dict:
    """Full req_type-1 response (ui.py:27-76), canonical behavior: an
    invalid team invalidates the request (the reference's second-loop
    overwrite bug, ui.py:53-74, is fixed)."""
    roster = spark.createDataFrame(
        _team_rosters(request), "team string, team_name string, player_name string"
    )
    players = F.broadcast(load_players(spark))
    roles = roster.join(players, roster.player_name == players.name, "left").select(
        "team", "role"
    ).collect()
    by_team: dict[str, list[str]] = {"team1": [], "team2": []}
    for r in roles:
        by_team[r["team"]].append(r["role"])
    if any(
        len(rs) != 11 or any(x is None for x in rs) or not validate_composition(rs)
        for rs in by_team.values()
    ):
        return {"status": "Invalid Team"}
    s = {r["team"]: r["strength"] for r in team_strengths(spark, request).collect()}
    chance1 = (0.5 + s["team1"] - (s["team1"] + s["team2"]) / 2) * 100
    return {
        "team1": {"name": request["team1"]["name"], "winning chance": chance1},
        "team2": {"name": request["team2"]["name"], "winning chance": 100 - chance1},
    }


_REQ1_COLS = (
    "{"
    + ", ".join(
        f'"{tk}": "STRUCT(name VARCHAR, '
        + ", ".join(f"{pk} VARCHAR" for pk in PLAYER_KEYS)
        + ')"'
        for tk in ("team1", "team2")
    )
    + "}"
)

def _req1_roster_sql(path: str) -> str:
    return f"""
  SELECT team, team_name, unnest(names) AS player_name FROM (
    SELECT 'team1' AS team, team1.name AS team_name,
           [{", ".join("team1." + pk for pk in PLAYER_KEYS)}] AS names
    FROM read_json('{path}', columns={_REQ1_COLS})
    UNION ALL
    SELECT 'team2' AS team, team2.name AS team_name,
           [{", ".join("team2." + pk for pk in PLAYER_KEYS)}] AS names
    FROM read_json('{path}', columns={_REQ1_COLS})
  )
"""


_REQ1_ROSTER_SQL = _req1_roster_sql(REQ1)

_CHEM_SQL = f"""
    WITH trace AS ({_RATING_SQL}),
    cpairs AS (
      SELECT a.playerId AS p1, b.playerId AS p2,
             abs((a.delta + b.delta) / 2) AS mag,
             ((a.delta > 0 AND b.delta > 0) OR (a.delta < 0 AND b.delta < 0)) AS same_sign,
             (a.teamId = b.teamId) AS same_team
      FROM trace a JOIN trace b
        ON a.matchId = b.matchId AND a.playerId < b.playerId
    )
    SELECT p1, p2,
           greatest(0.0, least(1.0,
             0.5 + sum(CASE WHEN same_team = same_sign THEN mag ELSE -mag END)))
             AS chemistry
    FROM cpairs GROUP BY p1, p2
"""


@register(
    "fpl_req1_win_prediction",
    oracle=f"""
    WITH roster AS ({_REQ1_ROSTER_SQL}),
    ids AS (
      SELECT r.team, r.team_name, p.Id AS playerId
      FROM roster r JOIN {_PLAYERS_CSV_SQL} p ON p.name = r.player_name
    ),
    chem AS ({_CHEM_SQL}),
    team_chem AS (
      SELECT a.team, sum(c.chemistry) * 2 / 11 AS team_avg
      FROM ids a JOIN ids b ON a.team = b.team
      JOIN chem c ON c.p1 = a.playerId AND c.p2 = b.playerId
      GROUP BY a.team
    ),
    final_rating AS (
      SELECT playerId, rating FROM (
        SELECT playerId, rating,
               row_number() OVER (PARTITION BY playerId ORDER BY matchId DESC) AS rn
        FROM ({_RATING_SQL})
      ) WHERE rn = 1
    ),
    strength AS (
      SELECT i.team, i.team_name, sum(fr.rating) * any_value(tc.team_avg) / 11 AS s
      FROM ids i JOIN final_rating fr ON fr.playerId = i.playerId
      JOIN team_chem tc ON tc.team = i.team
      GROUP BY i.team, i.team_name
    )
    SELECT team, team_name, round(s, 6) AS strength,
           round(CASE WHEN team = 'team1'
                 THEN (0.5 + s - (SELECT sum(s) FROM strength) / 2) * 100
                 ELSE 100 - (0.5 + (SELECT sum(s) FROM strength WHERE team = 'team1')
                             - (SELECT sum(s) FROM strength) / 2) * 100 END, 6)
             + 0 AS winning_chance
    FROM strength ORDER BY team
    """,
)
def fpl_req1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    with open(REQ1) as f:
        request = json.load(f)
    # ONE plan, no driver collects: the total and team1's strength are
    # global-window sums over the 2-row strength frame (the oracle's own
    # shape) rather than two extra .collect() actions.
    tot = Window.partitionBy(F.lit(0))
    s = (
        team_strengths(spark, request)
        .withColumn("total", F.sum("strength").over(tot))
        .withColumn(
            "s1",
            F.sum(F.when(F.col("team") == "team1", F.col("strength"))).over(tot),
        )
    )
    chance1 = (0.5 + F.col("s1") - F.col("total") / 2) * 100
    return s.select(
        "team",
        "team_name",
        rounded(F.col("strength"), 6).alias("strength"),
        rounded(
            F.when(F.col("team") == "team1", chance1).otherwise(100 - chance1), 6
        ).alias("winning_chance"),
    ).orderBy("team")


# ---------------------------------------------------------------------------
# req_type 1 compat twin: the invalid-team-overwrite quirk
# ---------------------------------------------------------------------------

from fantasy_premier_league_spark.sources.fpl_fixtures import (  # noqa: E402
    ensure_invalid_req1,
)

# path only -- ensure_fixtures() (the FIXTURES import) already wrote the
# file on both of its branches, so importing this module must not add a
# second write call (ADVICE r7); the operator body re-ensures lazily.
REQ1_INVALID = os.path.join(FIXTURES, "requests", "req1_invalid_team1.json")

_REQ1_INVALID_ORACLE = f"""
    WITH roster AS ({_req1_roster_sql(REQ1_INVALID)}),
    ids AS (
      SELECT r.team, r.team_name, p.Id AS playerId
      FROM roster r JOIN {_PLAYERS_CSV_SQL} p ON p.name = r.player_name
    ),
    validity AS (
      SELECT r.team,
             CASE WHEN sum(CASE WHEN p.role = 'GK' THEN 1 ELSE 0 END) = 1
                   AND sum(CASE WHEN p.role = 'DF' THEN 1 ELSE 0 END) >= 2
                   AND sum(CASE WHEN p.role = 'MD' THEN 1 ELSE 0 END) >= 2
                   AND sum(CASE WHEN p.role = 'FW' THEN 1 ELSE 0 END) >= 1
                  THEN 1 ELSE 0 END AS is_valid
      FROM roster r JOIN {_PLAYERS_CSV_SQL} p ON p.name = r.player_name
      GROUP BY r.team
    ),
    chem AS ({_CHEM_SQL}),
    team_chem AS (
      SELECT a.team, sum(c.chemistry) * 2 / 11 AS team_avg
      FROM ids a JOIN ids b ON a.team = b.team
      JOIN chem c ON c.p1 = a.playerId AND c.p2 = b.playerId
      GROUP BY a.team
    ),
    final_rating AS (
      SELECT playerId, rating FROM (
        SELECT playerId, rating,
               row_number() OVER (PARTITION BY playerId ORDER BY matchId DESC) AS rn
        FROM ({_RATING_SQL})
      ) WHERE rn = 1
    ),
    strength AS (
      SELECT i.team, i.team_name, sum(fr.rating) * any_value(tc.team_avg) / 11 AS s
      FROM ids i JOIN final_rating fr ON fr.playerId = i.playerId
      JOIN team_chem tc ON tc.team = i.team
      GROUP BY i.team, i.team_name
    ),
    used AS (
      SELECT s.team, s.team_name, v.is_valid,
             CASE WHEN v.is_valid = 1 THEN s.s ELSE 0 END AS su
      FROM strength s JOIN validity v ON v.team = s.team
    )
    SELECT team, team_name, is_valid, round(su, 6) AS strength_used,
           round(CASE WHEN team = 'team1'
                 THEN (0.5 + su - (SELECT sum(su) FROM used) / 2) * 100
                 ELSE 100 - (0.5 + (SELECT su FROM used WHERE team = 'team1')
                             - (SELECT sum(su) FROM used) / 2) * 100 END, 6)
             + 0 AS winning_chance
    FROM used ORDER BY team
"""


@register("fpl_req1_invalid_team_quirk", oracle=_REQ1_INVALID_ORACLE)
def fpl_req1_invalid_quirk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pins the reference's last-iteration-overwrite bug (ui.py:53-74):
    ``out`` is reassigned per team-loop iteration, so when team1 is
    invalid but team2 is valid, the "Invalid Team" status is silently
    replaced by a win prediction computed with team1's strength still
    at its initial 0 (``team_strength = [0, 0]``, ui.py:28). The
    canonical ``predict_win`` above fixes this (any invalid team
    invalidates the request); this compat twin reproduces the quirk
    exactly on the two-GK team1 fixture, as the r6 verdict ordered
    (Next round #7)."""
    from pyspark.sql import Window

    with open(ensure_invalid_req1(FIXTURES)) as f:
        request = json.load(f)
    roster = spark.createDataFrame(
        _team_rosters(request), "team string, team_name string, player_name string"
    )
    players = F.broadcast(load_players(spark))
    validity = (
        roster.join(players, roster.player_name == players.name)
        .groupBy("team")
        .agg(
            F.sum(F.when(F.col("role") == "GK", 1).otherwise(0)).alias("gk"),
            F.sum(F.when(F.col("role") == "DF", 1).otherwise(0)).alias("dfn"),
            F.sum(F.when(F.col("role") == "MD", 1).otherwise(0)).alias("md"),
            F.sum(F.when(F.col("role") == "FW", 1).otherwise(0)).alias("fw"),
        )
        .select(
            "team",
            (
                (F.col("gk") == 1)
                & (F.col("dfn") >= 2)
                & (F.col("md") >= 2)
                & (F.col("fw") >= 1)
            )
            .cast("int")
            .alias("is_valid"),
        )
    )
    tot = Window.partitionBy(F.lit(0))
    s = (
        team_strengths(spark, request)
        .join(validity, "team")
        .withColumn(
            "su",
            F.when(F.col("is_valid") == 1, F.col("strength")).otherwise(F.lit(0.0)),
        )
        .withColumn("total", F.sum("su").over(tot))
        .withColumn(
            "s1", F.sum(F.when(F.col("team") == "team1", F.col("su"))).over(tot)
        )
    )
    chance1 = (0.5 + F.col("s1") - F.col("total") / 2) * 100
    return s.select(
        "team",
        "team_name",
        "is_valid",
        rounded(F.col("su"), 6).alias("strength_used"),
        rounded(
            F.when(F.col("team") == "team1", chance1).otherwise(100 - chance1), 6
        ).alias("winning_chance"),
    ).orderBy("team")


# ---------------------------------------------------------------------------
# req_type 2: player profile
# ---------------------------------------------------------------------------


def player_profile(spark: SparkSession, name: str) -> dict | None:
    from fantasy_premier_league_spark.operators.pipeline import profile_df

    players = load_players(spark)
    row = (
        F.broadcast(players.filter(F.col("name") == name))
        .join(profile_df(spark), players.Id == F.col("playerId"))
        .collect()
    )
    if not row:
        return None
    r = row[0]
    return {
        "name": r["name"],
        "birthArea": r["birthArea"],
        "birthDate": r["birthDate"],
        "foot": r["foot"],
        "role": r["role"],
        "height": r["height"],
        "weight": r["weight"],
        "fouls": r["fouls"],
        "goals": r["goals"],  # spec-required; reference omits (ui.py:100-104)
        "own goals": r["own_goals"],
        "pass_acc": r["pass_accuracy"],
        "shots on target": r["shots_on_target"],
    }


def _req2_oracle(include_goals: bool) -> str:
    goals_col = "s.goals, " if include_goals else ""
    return f"""
    WITH RECURSIVE req AS (
      SELECT name FROM read_json('{REQ2}', columns={{"name": "VARCHAR"}})
    ),
    fm AS (
      SELECT fm.playerId, fm.matchId, fm.pass_accuracy, fm.fouls, fm.goals,
             fm.own_goals, fm.shots_on_target,
             row_number() OVER (PARTITION BY fm.playerId ORDER BY fm.matchId) AS seq
      FROM ({_FM_SQL}) fm
      JOIN {_PLAYERS_CSV_SQL} p ON p.Id = fm.playerId
      JOIN req ON p.name = req.name
    ),
    pa AS (
      SELECT playerId, seq, pass_accuracy AS pa FROM fm WHERE seq = 1
      UNION ALL
      SELECT f.playerId, f.seq, (f.pass_accuracy + pa.pa) / 2 AS pa
      FROM fm f JOIN pa ON f.playerId = pa.playerId AND f.seq = pa.seq + 1
    )
    SELECT p.name, p.birthArea, p.birthDate, p.foot, p.role,
           -- INTEGER (not the sniffer's BIGINT) so the driver's pandas
           -- fetch path matches Spark's int32 CSV schema byte-for-byte
           -- (r12 strict-preflight normalization, VERDICT r11 #3)
           CAST(p.height AS INTEGER) AS height,
           CAST(p.weight AS INTEGER) AS weight,
           s.fouls, {goals_col}s.own_goals, round(lp.pa, 6) AS pass_accuracy,
           s.shots_on_target
    FROM (
      SELECT playerId, CAST(sum(fouls) AS BIGINT) AS fouls,
             CAST(sum(goals) AS BIGINT) AS goals,
             CAST(sum(own_goals) AS BIGINT) AS own_goals,
             CAST(sum(shots_on_target) AS BIGINT) AS shots_on_target
      FROM fm GROUP BY playerId
    ) s
    JOIN (SELECT playerId, pa FROM (
            SELECT playerId, pa, row_number() OVER (PARTITION BY playerId
                                                    ORDER BY seq DESC) AS rn
            FROM pa) WHERE rn = 1) lp ON lp.playerId = s.playerId
    JOIN {_PLAYERS_CSV_SQL} p ON p.Id = s.playerId
    """


def _req2_profile(spark: SparkSession, include_goals: bool) -> DataFrame:
    from fantasy_premier_league_spark.operators.pipeline import profile_df

    with open(REQ2) as f:
        name = json.load(f)["name"]
    players = load_players(spark)
    cols = [
        "name",
        "birthArea",
        "birthDate",
        "foot",
        "role",
        "height",
        "weight",
        "fouls",
        *(["goals"] if include_goals else []),
        "own_goals",
        rounded(F.col("pass_accuracy"), 6).alias("pass_accuracy"),
        "shots_on_target",
    ]
    return (
        F.broadcast(players.filter(F.col("name") == name))
        .join(profile_df(spark), players.Id == F.col("playerId"))
        .select(*cols)
    )


@register("fpl_req2_player_profile", oracle=_req2_oracle(include_goals=True))
def fpl_req2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _req2_profile(spark, include_goals=True)


@register("fpl_req2_dropped_goals_quirk", oracle=_req2_oracle(include_goals=False))
def fpl_req2_dropped_goals_quirk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faithful-mode twin of fpl_req2: the reference unpacks the
    profile tuple into fouls/goals/own_goals/pass_acc/shots
    (ui.py:101) but then never writes ``goals`` into the response dict
    (ui.py:102-105), though docs/Specs.pdf requires it. Canonical
    fpl_req2 fixes that; this twin reproduces the reference's actual
    response surface -- same rows, ``goals`` absent -- completing the
    compat-flag set SURVEY 3.3 promised (r9 verdict, Missing #1)."""
    return _req2_profile(spark, include_goals=False)


# ---------------------------------------------------------------------------
# req_type 3: match details
# ---------------------------------------------------------------------------


def _card(col):
    return F.when(col == "null", 0).otherwise(col.cast("int"))


def match_player_lines(spark: SparkSession, date: str, label: str) -> DataFrame:
    """Flat per-player rows for the matched match; ONE plan instead of
    ui.py's per-player .first() loops."""
    m = matches_df(spark).filter(
        (F.substring("dateutc", 1, 10) == date) & (F.col("label") == label)
    )
    te = m.select(
        F.col("wyId").alias("matchId"),
        "duration",
        "winner",
        "venue",
        "gameweek",
        F.explode(F.map_entries("teamsData")).alias("td"),
    ).select(
        "matchId",
        "duration",
        "winner",
        "venue",
        "gameweek",
        F.col("td.key").cast("int").alias("teamId"),
        F.explode(
            F.concat(F.col("td.value.formation.bench"), F.col("td.value.formation.lineup"))
        ).alias("p"),
    )
    players = F.broadcast(load_players(spark))
    teams = F.broadcast(load_teams(spark))
    return (
        te.join(players, te["p.playerId"] == players.Id)
        .join(teams, te.teamId == teams.Id)
        .select(
            "matchId",
            "duration",
            "venue",
            "gameweek",
            F.when(F.col("winner") == 0, "draw")
            .otherwise(
                # winner name via a correlated lookup would re-join; the
                # winner teamId is in this row's scope already
                F.col("winner").cast("string")
            )
            .alias("winner_id"),
            teams["name"].alias("team"),
            players["name"].alias("player_name"),
            F.col("p.goals").alias("goals"),
            F.col("p.ownGoals").alias("own_goals"),
            _card(F.col("p.yellowCards")).alias("yellow_cards"),
            _card(F.col("p.redCards")).alias("red_cards"),
        )
    )


def match_details(spark: SparkSession, request: dict) -> dict:
    """Full req_type-3 dict response (ui.py:109-191); canonical card
    behavior (actual counts), winner resolved to a team name."""
    lines = match_player_lines(spark, request["date"], request["label"]).collect()
    if not lines:
        return {"status": "Not Found"}
    winner_id = lines[0]["winner_id"]
    if winner_id == "draw":
        winner = "draw"
    else:
        winner = (
            load_teams(spark).filter(F.col("Id") == int(winner_id)).collect()[0]["name"]
        )
    out = {
        "date": request["date"],
        "duration": lines[0]["duration"],
        "winner": winner,
        "venue": lines[0]["venue"],
        "gameweek": lines[0]["gameweek"],
        "goals": [],
        "own_goals": [],
        "yellow_cards": [],
        "red_cards": [],
    }
    for ln in lines:
        out["goals"].append(
            {"name": ln["player_name"], "team": ln["team"], "number_of_goals": ln["goals"]}
        )
        out["own_goals"].append(
            {"name": ln["player_name"], "team": ln["team"],
             "number_of_goals": ln["own_goals"]}
        )
        if ln["yellow_cards"]:
            out["yellow_cards"].append(ln["player_name"])
        if ln["red_cards"]:
            out["red_cards"].append(ln["player_name"])
    return out


@register(
    "fpl_req3_match_details",
    oracle=f"""
    WITH req AS (
      SELECT date, label
      FROM read_json('{REQ3}', columns={{"date": "VARCHAR", "label": "VARCHAR"}})
    ),
    m AS (
      SELECT wyId, duration, winner, venue, gameweek, teamsData
      FROM {_RAW_SQL} rj, req
      WHERE rj.wyId IS NOT NULL AND substr(rj.dateutc, 1, 10) = req.date
        AND rj.label = req.label
    ),
    lines AS (
      SELECT wyId AS matchId, duration, winner, venue, gameweek,
             CAST(e.key AS INTEGER) AS teamId,
             unnest(list_concat(e.value.formation.bench, e.value.formation.lineup)) AS p
      FROM (SELECT wyId, duration, winner, venue, gameweek,
                   unnest(map_entries(teamsData)) AS e FROM m)
    )
    SELECT l.matchId, l.duration, l.venue, l.gameweek,
           CASE WHEN l.winner = 0 THEN 'draw' ELSE CAST(l.winner AS VARCHAR) END
             AS winner_id,
           t.name AS team, p.name AS player_name,
           l.p.goals AS goals, l.p.ownGoals AS own_goals,
           CASE WHEN l.p.yellowCards = 'null' THEN 0
                ELSE CAST(l.p.yellowCards AS INTEGER) END AS yellow_cards,
           CASE WHEN l.p.redCards = 'null' THEN 0
                ELSE CAST(l.p.redCards AS INTEGER) END AS red_cards
    FROM lines l
    JOIN {_PLAYERS_CSV_SQL} p ON p.Id = l.p.playerId
    JOIN {_TEAMS_CSV_SQL} t ON t.Id = l.teamId
    ORDER BY team, player_name
    """,
)
def fpl_req3(spark: SparkSession, sf_dir: str) -> DataFrame:
    with open(REQ3) as f:
        request = json.load(f)
    return match_player_lines(spark, request["date"], request["label"]).orderBy(
        "team", "player_name"
    )


@register(
    "fpl_req3_card_list_quirk",
    oracle=f"""
    WITH req AS (
      SELECT date, label
      FROM read_json('{REQ3}', columns={{"date": "VARCHAR", "label": "VARCHAR"}})
    ),
    m AS (
      SELECT wyId, teamsData
      FROM {_RAW_SQL} rj, req
      WHERE rj.wyId IS NOT NULL AND substr(rj.dateutc, 1, 10) = req.date
        AND rj.label = req.label
    ),
    lines AS (
      SELECT wyId AS matchId, CAST(e.key AS INTEGER) AS teamId,
             unnest(list_concat(e.value.formation.bench,
                                e.value.formation.lineup)) AS p
      FROM (SELECT wyId, unnest(map_entries(teamsData)) AS e FROM m)
    )
    SELECT l.matchId, colors.card_color, p.name AS player_name, t.name AS team,
           CASE WHEN colors.card_color = 'yellow'
                THEN CASE WHEN l.p.yellowCards = 'null' THEN 0
                          ELSE CAST(l.p.yellowCards AS INTEGER) END
                ELSE CASE WHEN l.p.redCards = 'null' THEN 0
                          ELSE CAST(l.p.redCards AS INTEGER) END
           END AS actual_cards
    FROM lines l
    CROSS JOIN (SELECT unnest(['yellow', 'red']) AS card_color) colors
    JOIN {_PLAYERS_CSV_SQL} p ON p.Id = l.p.playerId
    JOIN {_TEAMS_CSV_SQL} t ON t.Id = l.teamId
    ORDER BY card_color, team, player_name
    """,
)
def fpl_req3_card_list_quirk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faithful-mode twin of fpl_req3: the reference appends EVERY
    rostered player's name to BOTH card lists unconditionally --
    ``final_match['yellow_cards'].append(name)`` /
    ``['red_cards'].append(name)`` run once per bench and lineup
    player with no card check (ui.py:162-163,183-184) -- so the
    "card lists" are just two copies of the roster. Canonical
    fpl_req3 fixes that (actual per-player counts); this twin
    materializes the reference's actual list semantics: one row per
    (card color x rostered player), with the real card count carried
    alongside to exhibit the discrepancy the quirk ignores."""
    with open(REQ3) as f:
        request = json.load(f)
    lines = match_player_lines(spark, request["date"], request["label"])
    colors = F.explode(F.array(F.lit("yellow"), F.lit("red"))).alias("card_color")
    return (
        lines.select("matchId", colors, "player_name", "team",
                     "yellow_cards", "red_cards")
        .select(
            "matchId",
            "card_color",
            "player_name",
            "team",
            F.when(F.col("card_color") == "yellow", F.col("yellow_cards"))
            .otherwise(F.col("red_cards"))
            .alias("actual_cards"),
        )
        .orderBy("card_color", "team", "player_name")
    )
