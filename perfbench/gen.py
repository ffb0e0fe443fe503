"""Seeded inputs for the workloads, built only from the raw fixture files
(no Spark, no package import), so a seed reproduces the same request mix
and arrival schedule on any checkout.

``Facts`` also carries what the output checks compare against: roles and
background fields from ``players.csv``, and each match's date, label and
roster from the first line of its stream file.
"""

from __future__ import annotations

import csv
import glob
import json
import os
import random
from dataclasses import dataclass

# A8 thresholds of the request path (gk == 1, df >= 2, md >= 2, fw >= 1)
MIN_ROLES = {"DF": 2, "MD": 2, "FW": 1}
BACKGROUND = ("birthArea", "birthDate", "foot", "role", "height", "weight")
# round order: cheapest first, so a short window still holds every type
REQUEST_TYPES = ("match_details", "player_profile", "predict_win")
ROUND_TYPES = 4  # each type takes its invalid path once every 4 rounds


@dataclass
class Facts:
    players: dict[str, dict]  # name -> players.csv row
    team_names: dict[int, str]  # teamId -> name
    squads: dict[int, list[str]]  # teamId -> names of the players it fields
    matches: list[dict]  # stream order: wyId, date, label, roster, file


def load_facts(fixtures: str) -> Facts:
    with open(os.path.join(fixtures, "players.csv"), newline="") as fh:
        players = {r["name"]: r for r in csv.DictReader(fh)}
    by_id = {int(r["Id"]): name for name, r in players.items()}
    with open(os.path.join(fixtures, "teams.csv"), newline="") as fh:
        team_names = {int(r["Id"]): r["name"] for r in csv.DictReader(fh)}
    files = sorted(glob.glob(os.path.join(fixtures, "stream", "*.jsonl")))
    squads: dict[int, set[int]] = {}
    matches = []
    for path in files:
        with open(path) as fh:
            m = json.loads(fh.readline())
        roster = 0
        for td in m["teamsData"].values():
            form = td["formation"]
            roster += len(form["lineup"]) + len(form["bench"])
            fielded = squads.setdefault(int(td["teamId"]), set())
            fielded.update(p["playerId"] for p in form["lineup"])
            fielded.update(s["playerIn"] for s in form["substitutions"])
        matches.append(
            {
                "wyId": m["wyId"],
                "date": m["dateutc"][:10],
                "label": m["label"],
                "venue": m["venue"],
                "gameweek": m["gameweek"],
                "duration": m["duration"],
                "roster": roster,
                "file": path,
            }
        )
    return Facts(
        players=players,
        team_names=team_names,
        squads={t: sorted(by_id[i] for i in ids) for t, ids in squads.items()},
        matches=matches,
    )


def valid_composition(roles: list) -> bool:
    return (
        len(roles) == 11
        and None not in roles
        and roles.count("GK") == 1
        and all(roles.count(r) >= n for r, n in MIN_ROLES.items())
    )


def _roster(rng: random.Random, facts: Facts, team: int, invalid: str | None):
    squad = facts.squads[team]
    role = {n: facts.players[n]["role"] for n in squad}
    keepers = [n for n in squad if role[n] == "GK"]
    outfield = [n for n in squad if role[n] != "GK"]
    while True:
        xi = [rng.choice(keepers)] + rng.sample(outfield, 10)
        if valid_composition([role[n] for n in xi]):
            break
    if invalid == "two_keepers":
        xi[rng.randrange(1, 11)] = next(k for k in keepers if k != xi[0])
    elif invalid == "unknown_player":
        xi[rng.randrange(11)] = f"Unknown Player {rng.randrange(10**6)}"
    rng.shuffle(xi)
    return xi


def _predict_win(rng: random.Random, facts: Facts, invalid: bool) -> dict:
    t1, t2 = rng.sample(sorted(facts.squads), 2)
    bad = rng.choice(("team1", "team2")) if invalid else None
    kind = rng.choice(("two_keepers", "unknown_player"))
    req = {"req_type": 1, "date": "2018-04-01"}
    for key, team in (("team1", t1), ("team2", t2)):
        xi = _roster(rng, facts, team, kind if key == bad else None)
        req[key] = {"name": facts.team_names[team]}
        req[key].update({f"player{i + 1}": n for i, n in enumerate(xi)})
    return req


def expected_valid_team(facts: Facts, request: dict) -> bool:
    """Validity of a win-prediction request from players.csv roles."""
    return all(
        valid_composition(
            [
                facts.players.get(request[k][f"player{i}"], {}).get("role")
                for i in range(1, 12)
            ]
        )
        for k in ("team1", "team2")
    )


def request_mix(seed: int, facts: Facts, rounds: int = 64) -> list[dict]:
    """The closed loop's request sequence: rounds of one request of each
    type, so every prefix holds the types in near-equal numbers. The type
    order is fixed, because the JVM is still warming up during the window
    and a seeded order would give every run a different warm-up path; the
    seed draws each request's content and which round of every four (never
    the first) takes each type's invalid path."""
    rng = random.Random(seed)
    bad_round = {t: rng.randrange(1, ROUND_TYPES) for t in REQUEST_TYPES}
    fielded = sorted({n for squad in facts.squads.values() for n in squad})
    out = []
    for r in range(rounds):
        for t in REQUEST_TYPES:
            invalid = r % ROUND_TYPES == bad_round[t]
            if t == "predict_win":
                arg = _predict_win(rng, facts, invalid)
            elif t == "player_profile":
                arg = (
                    f"Unknown Player {rng.randrange(10**6)}"
                    if invalid
                    else rng.choice(fielded)
                )
            else:
                m = rng.choice(facts.matches)
                arg = {"req_type": 3, "date": m["date"], "label": m["label"]}
                if invalid:
                    arg["date"] = f"1999-01-{rng.randrange(1, 29):02d}"
            out.append({"type": t, "valid": not invalid, "arg": arg})
    return out


def arrival_offsets(seed: int, n: int, seconds: float) -> list[float]:
    """Due times in [0, seconds) of ``n`` arrivals of a Poisson process
    conditioned on ``n`` arrivals in the window: sorted uniform draws."""
    rng = random.Random(seed)
    return sorted(rng.uniform(0.0, seconds) for _ in range(n))
