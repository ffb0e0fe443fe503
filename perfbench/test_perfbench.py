"""Spark-free tests of the benchmark itself.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import catalog  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
from checks import check_request  # noqa: E402
from tracing import Tracer, union_length  # noqa: E402
from worker import Run, check_responses  # noqa: E402


@pytest.fixture(scope="module")
def bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def facts(tmp_path_factory):
    """Facts of the x1 fixture, generated into a private temp dir."""
    from fantasy_premier_league_spark.sources import fpl_fixtures

    saved = tempfile.tempdir
    tempfile.tempdir = str(tmp_path_factory.mktemp("fixtures"))
    try:
        return gen.load_facts(fpl_fixtures.ensure_fixtures(1))
    finally:
        tempfile.tempdir = saved


def test_benchmark_json_is_the_catalog(bench_json):
    assert bench_json == catalog.benchmark_json(bench_json["run_seconds"])


def test_metric_and_workload_names(bench_json):
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in bench_json[k]]
    names += [w["name"] for w in bench_json["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert catalog.NAME_RE.match(name), name
    for w in bench_json["workloads"]:
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
               for m in bench_json["end_to_end"])
    assert max(m["bound"] for m in bench_json["end_to_end"]) <= 0.25
    setup_bound = next(m["bound"] for m in bench_json["end_to_end"] if m["name"] == "setup_s")
    assert setup_bound == max(m["bound"] for m in bench_json["end_to_end"])


def test_every_layer_metric_names_an_e2e_metric_and_workload(bench_json):
    e2e = {m["name"] for m in bench_json["end_to_end"]}
    workloads = {w["name"] for w in bench_json["workloads"]}
    for m in bench_json["per_layer"]:
        _, _, moves, on, _ = catalog.PER_LAYER[m["name"]]
        assert moves in e2e, m["name"]
        assert on and set(on) <= workloads, m["name"]


def test_tail_needs_ten_samples_beyond():
    assert stats.tail([float(i) for i in range(10)]) is None
    pct, value = stats.tail([float(i) for i in range(11)])
    assert (pct, value) == (0.0, 0.0)
    xs = [float(i) for i in range(100)]
    pct, value = stats.tail(xs)
    assert sum(x > value for x in xs) == 10
    assert value == 89.0 and pct == pytest.approx(100 * 89 / 99)


def test_balanced_percentile_ignores_type_counts():
    few = {"a": [100.0], "b": [400.0]}
    many = {"a": [100.0] * 9, "b": [400.0]}
    assert stats.balanced(few, 50) == pytest.approx(200.0)
    assert stats.balanced(many, 50) == pytest.approx(200.0)


def test_seed_reproduces_mix_and_schedule(facts):
    assert gen.request_mix(7, facts) == gen.request_mix(7, facts)
    assert gen.request_mix(7, facts) != gen.request_mix(8, facts)
    assert gen.arrival_offsets(7, 80, 20.0) == gen.arrival_offsets(7, 80, 20.0)
    assert gen.arrival_offsets(7, 80, 20.0) != gen.arrival_offsets(8, 80, 20.0)
    due = gen.arrival_offsets(7, 80, 20.0)
    assert due == sorted(due) and 0 <= due[0] and due[-1] < 20.0


def test_mix_shape(facts):
    mix = gen.request_mix(3, facts, rounds=8)
    for r in range(8):
        block = mix[3 * r: 3 * r + 3]
        assert sorted(x["type"] for x in block) == sorted(gen.REQUEST_TYPES)
        assert r != 0 or all(x["valid"] for x in block)
    for t in gen.REQUEST_TYPES:
        assert sum(not x["valid"] for x in mix if x["type"] == t) == 2  # 1 in 4 rounds
    for x in mix:
        if x["type"] == "predict_win":
            assert gen.expected_valid_team(facts, x["arg"]) == x["valid"]


def _pw_item(facts):
    return next(x for x in gen.request_mix(5, facts) if x["type"] == "predict_win" and x["valid"])


def _pw_oracle(item, chance1):
    return (
        ["team", "team_name", "strength", "winning_chance"],
        [("team1", item["arg"]["team1"]["name"], 1.0, chance1),
         ("team2", item["arg"]["team2"]["name"], 1.0, 100 - chance1)],
    )


def _pw_response(item, chance1):
    return {
        "team1": {"name": item["arg"]["team1"]["name"], "winning chance": chance1},
        "team2": {"name": item["arg"]["team2"]["name"], "winning chance": 100 - chance1},
    }


def test_correct_responses_pass(facts):
    item = _pw_item(facts)
    assert check_request(item, _pw_response(item, 61.25), facts, _pw_oracle(item, 61.25)) == []
    bad = next(x for x in gen.request_mix(5, facts) if x["type"] == "predict_win" and not x["valid"])
    assert check_request(bad, {"status": "Invalid Team"}, facts, ([], [])) == []
    missing = {"type": "match_details", "arg": {"date": "1999-01-01", "label": "x"}}
    assert check_request(missing, {"status": "Not Found"}, facts, ([], [])) == []


def test_wrong_response_counts_in_failed_frac(facts):
    item = _pw_item(facts)
    ok = {**item, "op": "req-0", "resp": _pw_response(item, 61.25), "err": None}
    wrong = {**item, "op": "req-1", "resp": _pw_response(item, 55.0), "err": None}
    raised = {**item, "op": "req-2", "resp": None, "err": "KeyError: 'team1'"}
    run = Run(SimpleNamespace(trace=0))
    check_responses(run, [ok, wrong, raised], facts, lambda r: _pw_oracle(item, 61.25))
    assert run.attempted == 3
    assert len(run.failures) == 2
    assert run.failed_frac == pytest.approx(2 / 3)


def test_profile_background_checked_against_players_csv(facts):
    name = next(n for n in facts.players if not n.startswith("Unknown"))
    known = facts.players[name]
    oracle = (
        ["fouls", "goals", "own_goals", "shots_on_target", "pass_accuracy"],
        [(3, 1, 0, 2, 0.5)],
    )
    resp = {**{f: known[f] for f in gen.BACKGROUND}, "name": name, "fouls": 3, "goals": 1,
            "own goals": 0, "shots on target": 2, "pass_acc": 0.5}
    item = {"type": "player_profile", "arg": name}
    assert check_request(item, resp, facts, oracle) == []
    assert check_request(item, {**resp, "foot": "neither"}, facts, oracle)
    assert check_request(item, None, facts, oracle)


def test_self_time_subtracts_children():
    tr = Tracer(True)
    tr.spans = [
        {"id": 0, "name": "a", "start": 0.0, "end": 10.0, "parent": None, "op": 1},
        {"id": 1, "name": "b", "start": 1.0, "end": 4.0, "parent": 0, "op": 1},
        {"id": 2, "name": "c", "start": 3.0, "end": 6.0, "parent": 0, "op": 1},
    ]
    assert tr.self_ms()[0] == pytest.approx(5000.0)
    assert union_length([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)


def test_spans_nest_and_carry_the_operation():
    tr = Tracer(True)
    tr.op = "req-1"
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    with tr.span("batch", op="batch-3"):
        pass
    outer, inner, batch = tr.closed_spans()
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["op"] == outer["op"] == "req-1" and batch["op"] == "batch-3"
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.closed_spans() == []
