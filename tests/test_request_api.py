"""Request-API behavior tests (ui.py req_types 1-3, FIXTURES.md section 5):
response shapes, the Invalid Team path, the Not Found path, and the
canonical quirk fixes (goals present in profile, real card counts)."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from fantasy_premier_league_spark.operators.api import (
    REQ1,
    REQ2,
    REQ3,
    match_details,
    player_profile,
    predict_win,
)
from fantasy_premier_league_spark.sources.fpl_fixtures import ensure_fixtures


def _load(path):
    with open(path) as f:
        return json.load(f)


def test_predict_win_valid(spark):
    out = predict_win(spark, _load(REQ1))
    assert set(out) == {"team1", "team2"}
    c1 = out["team1"]["winning chance"]
    c2 = out["team2"]["winning chance"]
    assert c1 + c2 == pytest.approx(100.0)
    assert out["team1"]["name"] == "Arsenal"


def test_predict_win_invalid_composition(spark):
    req = _load(REQ1)
    # swap the GK (player1, slot 0) for a second FW-role bench player:
    # composition becomes gk=0 -> invalid (ui.py:53)
    req["team1"]["player1"] = "Player Arsenal 14"
    out = predict_win(spark, req)
    assert out == {"status": "Invalid Team"}


def test_predict_win_unknown_player(spark):
    req = _load(REQ1)
    req["team2"]["player3"] = "No Such Player"
    out = predict_win(spark, req)
    assert out == {"status": "Invalid Team"}


def test_player_profile_includes_goals(spark):
    out = player_profile(spark, _load(REQ2)["name"])
    assert out is not None
    # spec-required field the reference omits (ui.py:100-104)
    assert "goals" in out
    for k in ("name", "birthArea", "foot", "role", "height", "weight",
              "fouls", "own goals", "pass_acc", "shots on target"):
        assert k in out
    assert out["fouls"] >= 0 and 0.0 <= out["pass_acc"] <= 1.0


def test_player_profile_unknown_name(spark):
    assert player_profile(spark, "No Such Player") is None


def test_match_details_found(spark):
    out = match_details(spark, _load(REQ3))
    assert out["winner"] in {"Arsenal", "Chelsea", "Liverpool", "Spurs", "draw"}
    assert out["duration"] == "Regular"
    assert len(out["goals"]) == 30  # 2 teams x (11 lineup + 4 bench)
    assert len(out["own_goals"]) == 30
    # canonical card behavior: no cards in fixtures -> empty lists
    # (the reference would fill every player's name, ui.py:162-163)
    assert out["yellow_cards"] == []
    assert out["red_cards"] == []


def test_match_details_not_found(spark):
    missing = _load(os.path.join(ensure_fixtures(), "requests", "req3_missing.json"))
    assert match_details(spark, missing) == {"status": "Not Found"}


def test_req2_dropped_goals_quirk_twin(spark):
    """Faithful twin omits exactly the goals column; rows otherwise
    identical to the canonical profile (ui.py:102-105)."""
    from fantasy_premier_league_spark.operators.api import (
        fpl_req2,
        fpl_req2_dropped_goals_quirk,
    )

    canon = fpl_req2(spark, "").collect()
    quirk = fpl_req2_dropped_goals_quirk(spark, "").collect()
    assert len(canon) == len(quirk) == 1
    c, q = canon[0].asDict(), quirk[0].asDict()
    assert "goals" in c and "goals" not in q
    c.pop("goals")
    assert c == q


def test_req3_card_list_quirk_twin(spark):
    """Faithful twin lists every rostered player under BOTH colors
    regardless of actual card counts (ui.py:162-163,183-184)."""
    from fantasy_premier_league_spark.operators.api import (
        fpl_req3,
        fpl_req3_card_list_quirk,
    )

    roster = fpl_req3(spark, "").collect()
    quirk = fpl_req3_card_list_quirk(spark, "").collect()
    assert len(quirk) == 2 * len(roster) == 60  # 30 players x 2 colors
    names = {r["player_name"] for r in roster}
    for color in ("yellow", "red"):
        rows = [r for r in quirk if r["card_color"] == color]
        assert {r["player_name"] for r in rows} == names
    # fixtures carry no cards: the quirk lists players anyway, and the
    # carried actual count exhibits the ignored discrepancy
    assert all(r["actual_cards"] == 0 for r in quirk)


# ---------------------------------------------------------------------------
# The request snapshot: one per data version, released when superseded,
# built once under concurrent first requests
# ---------------------------------------------------------------------------


def _stream_copy(tmp_path, monkeypatch):
    """Point the pipeline's stream glob at a copy of the fixture stream,
    which is a data version no snapshot has been built for."""
    from fantasy_premier_league_spark.operators import pipeline

    stream = tmp_path / "stream"
    shutil.copytree(os.path.dirname(pipeline.STREAM_GLOB), stream)
    monkeypatch.setattr(pipeline, "STREAM_GLOB", str(stream / "*.jsonl"))
    return stream


def test_snapshot_follows_the_data_version(spark, tmp_path, monkeypatch):
    from pyspark import StorageLevel

    from fantasy_premier_league_spark.operators import api

    stream = _stream_copy(tmp_path, monkeypatch)
    req, name = _load(REQ1), _load(REQ2)["name"]

    def answers():
        return predict_win(spark, req), player_profile(spark, name)

    def cached(snapshot):
        return [t.storageLevel != StorageLevel.NONE for t in snapshot.tables()]

    before = answers()
    old = api._snapshot
    assert all(cached(old))
    # the last match team1 (Arsenal, teamId 10) played: removing it moves
    # team1's ratings and the req2 player's profile
    arsenal = [p for p in sorted(stream.glob("*.jsonl"))
               if '"10":{' in p.read_text().split("\n", 1)[0]]
    arsenal[-1].unlink()
    after = answers()
    assert after != before
    # the superseded snapshot was released and the new one is cached
    assert api._snapshot is not old
    assert not any(cached(old))
    assert all(cached(api._snapshot))

    api._snapshot.release()
    monkeypatch.setattr(api, "_snapshot", None)
    fresh = answers()
    api._snapshot.release()
    assert after == fresh


def test_concurrent_cold_requests_share_one_snapshot(spark, tmp_path, monkeypatch):
    from fantasy_premier_league_spark.operators import api
    from tests.parallel import fan_out, unwrap

    _stream_copy(tmp_path, monkeypatch)
    req1, req3 = _load(REQ1), _load(REQ3)
    name = _load(REQ2)["name"]
    kinds = {
        "predict_win": lambda: predict_win(spark, req1),
        "player_profile": lambda: player_profile(spark, name),
        "match_details": lambda: match_details(spark, req3),
        "fpl_req1": lambda: api.fpl_req1(spark, "").collect(),
        "fpl_req2": lambda: api.fpl_req2(spark, "").collect(),
        "fpl_req3": lambda: api.fpl_req3(spark, "").collect(),
    }
    builds = []
    build = api._build_snapshot

    def counted(*args):
        builds.append(args)
        return build(*args)

    monkeypatch.setattr(api, "_build_snapshot", counted)

    def case(kind):
        answer = kinds[kind]()
        return answer, api.request_snapshot(spark)

    outcomes = fan_out(
        [((kind, i), lambda kind=kind: case(kind)) for i in range(2) for kind in kinds],
        max_workers=8,
    )
    results = {key: unwrap(out) for key, out in outcomes.items()}
    assert len(builds) == 1
    assert len({id(snap) for _, snap in results.values()}) == 1
    for (kind, _), (answer, _) in results.items():
        assert answer == kinds[kind](), kind
