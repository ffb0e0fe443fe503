"""Golden-pipeline tests (SURVEY section 5.2/5.3): an independent
pure-Python re-implementation of the Specs formulas computes the
expected metric / rating / profile / chemistry tables straight from the
fixture JSON, and the Spark pipeline must match. This is a third
opinion, separate from both Spark and the DuckDB oracles.

Quirk-pinning: each documented reference deviation (SURVEY 1.2/2.4)
gets an explicit assertion recording the CHOSEN canonical behavior:
- fixed 18-slot layout: an eventId not in {1,2,3,8,10} carrying tag 102
  counts own_goals (the reference's 19-tuple default branch,
  master.py:138, would shift it into free_kicks);
- penalty goals (eventId 3, subEventId 35, tag 101) count in BOTH
  penalty_goals and goals (master.py:80-81,129-130);
- chemistry is clamped to [0,1] (spec demands it, metrics.py omits);
- the rating always takes the 1.05 path (time_on_pitch overwritten to
  90, master.py:220-221).
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

import pytest

from fantasy_premier_league_spark.sources.fpl_fixtures import ensure_fixtures

SF = "/root/testdata/sf0.01"  # unused by fpl queries, but part of the signature


def _load_records():
    matches, events = [], []
    for path in sorted(glob.glob(os.path.join(ensure_fixtures(), "stream", "*.jsonl"))):
        with open(path) as f:
            for line in f:
                rec = json.loads(line)
                (matches if "wyId" in rec else events).append(rec)
    return matches, events


def _py_counters(events):
    """Pure-Python A1+A2: per-(player, match) counter sums."""
    ctr = defaultdict(lambda: defaultdict(int))
    for ev in events:
        tags = [t["id"] for t in ev["tags"]]
        key = (ev["playerId"], ev["matchId"])
        c = ctr[key]
        e = ev["eventId"]
        if 101 in tags:
            c["goals"] += 1
        if 102 in tags:
            c["own_goals"] += 1
        if e == 8:
            if 302 in tags:
                c["key_passes"] += 1
                if 1801 in tags:
                    c["acc_key_passes"] += 1
            else:
                c["normal_passes"] += 1
                if 1801 in tags:
                    c["acc_normal_passes"] += 1
        elif e == 1:
            c["total_duels"] += 1
            if 703 in tags:
                c["duels_won"] += 1
            if 702 in tags:
                c["neutral_duels"] += 1
        elif e == 10:
            c["shots"] += 1
            if 1801 in tags:
                c["shots_on_target"] += 1
                if 101 in tags:
                    c["shots_on_target_goal"] += 1
                else:
                    c["shots_on_target_no_goal"] += 1
        elif e == 3:
            c["free_kicks"] += 1
            if 1801 in tags:
                c["effective_free_kicks"] += 1
            if ev["subEventId"] == 35 and 101 in tags:
                c["penalty_goals"] += 1
        elif e == 2:
            c["fouls"] += 1
    return ctr


def _py_final_metrics(ctr):
    out = {}
    for key, c in ctr.items():
        def div(n, d):
            return n / d if d else 0.0
        out[key] = {
            "pass_accuracy": div(
                c["acc_normal_passes"] + c["acc_key_passes"] * 2,
                c["normal_passes"] + c["key_passes"] * 2,
            ),
            "duel_effectiveness": div(
                c["duels_won"] + c["neutral_duels"] * 0.5, c["total_duels"]
            ),
            "shot_effectiveness": div(
                c["shots_on_target_goal"] + c["shots_on_target_no_goal"] * 0.5,
                c["shots"],
            ),
            "fouls": c["fouls"],
            "own_goals": c["own_goals"],
            "shots_on_target": c["shots_on_target"],
            "free_kick_effectiveness": div(
                c["effective_free_kicks"] + c["penalty_goals"], c["free_kicks"]
            ),
            "goals": c["goals"],
        }
    return out


def _py_rosters(matches):
    """(matchId, playerId) -> teamId for lineup+bench (fielded set is
    lineup + subbed-in bench, which in the fixtures is exactly the set
    of players with events)."""
    roster = {}
    for m in matches:
        for tid_str, td in m["teamsData"].items():
            for p in td["formation"]["lineup"] + td["formation"]["bench"]:
                roster[(m["wyId"], p["playerId"])] = int(tid_str)
    return roster


def _py_ratings(fm, roster):
    """Per-player match-ordered rating trace (master.py:214-239)."""
    per_player = defaultdict(list)
    for (pid, mid), met in fm.items():
        if (mid, pid) in roster:
            per_player[pid].append((mid, met))
    trace = {}
    for pid, rows in per_player.items():
        rows.sort()
        r = 0.5
        for mid, met in rows:
            contrib = (
                met["pass_accuracy"]
                + met["duel_effectiveness"]
                + met["shot_effectiveness"]
                + met["shots_on_target"]
            ) / 4
            contrib = contrib - (0.005 * met["fouls"] + 0.05 * met["own_goals"]) * contrib
            new = 1.05 * ((contrib + r) / 2)
            trace[(pid, mid)] = (new, new - r)
            r = new
    return trace


@pytest.fixture(scope="module")
def golden():
    matches, events = _load_records()
    ctr = _py_counters(events)
    fm = _py_final_metrics(ctr)
    roster = _py_rosters(matches)
    return {
        "matches": matches,
        "events": events,
        "counters": ctr,
        "final_metrics": fm,
        "roster": roster,
        "ratings": _py_ratings(fm, roster),
    }


def test_match_counters_match_golden(spark, golden):
    from fantasy_premier_league_spark.operators.pipeline import (
        events_df,
        match_counters,
        metric_vectors,
    )

    rows = match_counters(metric_vectors(events_df(spark))).collect()
    assert len(rows) == len(golden["counters"])
    for row in rows:
        exp = golden["counters"][(row["playerId"], row["matchId"])]
        for col in (
            "acc_normal_passes", "key_passes", "duels_won", "shots",
            "shots_on_target", "fouls", "own_goals", "free_kicks",
            "penalty_goals", "goals",
        ):
            assert row[col] == exp[col], (row["playerId"], row["matchId"], col)


def test_rating_trace_matches_golden(spark, golden):
    from fantasy_premier_league_spark.operators.pipeline import (
        performance_df,
        rating_trace_df,
    )

    rows = rating_trace_df(performance_df(spark)).collect()
    assert len(rows) == len(golden["ratings"])
    for row in rows:
        exp_rating, exp_delta = golden["ratings"][(row["playerId"], row["matchId"])]
        assert row["rating"] == pytest.approx(exp_rating, abs=1e-12)
        assert row["delta"] == pytest.approx(exp_delta, abs=1e-12)


def test_profile_running_mean_matches_golden(spark, golden):
    from fantasy_premier_league_spark.operators.pipeline import profile_df

    rows = {r["playerId"]: r for r in profile_df(spark).collect()}
    per_player = defaultdict(list)
    for (pid, mid), met in golden["final_metrics"].items():
        per_player[pid].append((mid, met))
    for pid, mm in per_player.items():
        mm.sort()
        pa = None
        fouls = goals = 0
        for _, met in mm:
            pa = met["pass_accuracy"] if pa is None else (met["pass_accuracy"] + pa) / 2
            fouls += met["fouls"]
            goals += met["goals"]
        assert rows[pid]["pass_accuracy"] == pytest.approx(pa, abs=1e-12)
        assert rows[pid]["fouls"] == fouls
        assert rows[pid]["goals"] == goals


def test_quirk_default_branch_own_goal(spark, golden):
    """eventId=7 + tag 102: our fixed layout counts own_goals, NOT
    free_kicks (pins the master.py:138 19-tuple bug as fixed)."""
    from fantasy_premier_league_spark.operators.pipeline import events_df, metric_vectors

    quirks = (
        metric_vectors(events_df(spark).filter("eventId = 7")).collect()
    )
    assert len(quirks) >= 1
    for q in quirks:
        assert q["own_goals"] == 1
        assert q["free_kicks"] == 0
        assert q["goals"] == 0


def test_quirk_penalty_counts_goal_and_penalty(spark):
    from fantasy_premier_league_spark.operators.pipeline import events_df, metric_vectors

    pens = metric_vectors(
        events_df(spark).filter("eventId = 3 AND subEventId = 35")
    ).collect()
    assert len(pens) >= 1
    for p in pens:
        assert p["penalty_goals"] == 1
        assert p["goals"] == 1
        assert p["free_kicks"] == 1


def test_chemistry_bounds_and_symmetry(spark):
    from fantasy_premier_league_spark.operators.pipeline import chemistry_df

    rows = chemistry_df(spark).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["chemistry"] <= 1.0  # spec clamp (Specs.pdf "Chemistry")
        assert r["p1"] < r["p2"]  # each unordered pair exactly once


def test_span_shapes(spark):
    """All four substitution-span shapes exist (master.py:280-291)."""
    from fantasy_premier_league_spark.operators.pipeline import matches_df, player_spans

    spans = player_spans(matches_df(spark)).collect()
    shapes = set()
    for s in spans:
        if s["inTime"] == 0 and s["outTime"] == 90:
            shapes.add("full90")
        elif s["inTime"] == 0:
            shapes.add("subbed_out")
        elif s["inTime"] == -1 and s["outTime"] == -1:
            shapes.add("unused_bench")
        elif s["outTime"] == 90:
            shapes.add("subbed_in")
    assert shapes == {"full90", "subbed_out", "unused_bench", "subbed_in"}


def _fold_input(*rows):
    """fold_player's per-match input: (matchId, perf, pass_accuracy,
    fouls, goals, own_goals, shots_on_target) per row."""
    import pandas as pd

    from fantasy_premier_league_spark.functions.fpl_rules import PROFILE_COUNTS

    return pd.DataFrame(rows, columns=["matchId", "perf", "pass_accuracy", *PROFILE_COUNTS])


def test_fold_drops_a_match_that_arrives_after_a_later_one():
    """Out-of-order arrival: folding from a state whose last_match is M,
    a row for an earlier match emits nothing and leaves the state as it
    was, while the batch chain, which folds every match sorted from the
    initial state, takes that match in. Stream and batch therefore
    agree only when matches arrive in matchId order."""
    from fantasy_premier_league_spark.functions.fpl_rules import fold_player

    early, late = (10, 0.6, 0.9, 2, 1, 0, 0), (20, 0.4, 0.5, 1, 0, 0, 1)
    _, state = fold_player(_fold_input(late))
    folded, after = fold_player(_fold_input(early), state)
    assert folded.empty
    assert after == state
    batch, batch_state = fold_player(_fold_input(early, late))
    assert batch["matchId"].tolist() == [10, 20]
    assert batch_state != state


def test_unfielded_row_moves_the_profile_not_the_rating(spark):
    """A counted (player, match) row without a roster span (null perf
    and teamId) moves the profile totals and the running mean, but not
    the rating, and is not part of the rating trace."""
    from fantasy_premier_league_spark.functions.fpl_rules import INIT_RATING, rating_step
    from fantasy_premier_league_spark.operators.pipeline import (
        latest_profile,
        player_fold_df,
        rated_rows,
    )

    perf = spark.createDataFrame(
        [
            (7, 1, 100, 0.4, 0.5, 1, 1, 0, 2),
            (7, 2, None, None, 0.9, 2, 1, 0, 1),
            (7, 3, 100, 0.6, 0.7, 0, 0, 1, 0),
        ],
        "playerId int, matchId int, teamId int, perf double, pass_accuracy double, "
        "fouls long, goals long, own_goals long, shots_on_target long",
    )
    folded = player_fold_df(perf).localCheckpoint()
    r1 = rating_step(0.4, INIT_RATING)
    r3 = rating_step(0.6, r1)
    rows = {r["matchId"]: r for r in folded.collect()}
    assert rows[2]["rating"] == r1 and rows[2]["delta"] is None
    assert rows[2]["teamId"] is None
    trace = sorted((r["matchId"], r["rating"], r["delta"]) for r in rated_rows(folded).collect())
    assert trace == [(1, r1, r1 - INIT_RATING), (3, r3, r3 - r1)]
    (profile,) = latest_profile(folded).collect()
    assert profile.asDict() == {
        "playerId": 7,
        "matchId": 3,
        "pass_accuracy": (0.7 + (0.9 + 0.5) / 2) / 2,
        "fouls": 3,
        "goals": 2,
        "own_goals": 1,
        "shots_on_target": 3,
    }
