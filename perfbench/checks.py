"""Output checks. They run after the timed window and outside ``setup_s``.

Every request response is checked twice:

- against facts read from the raw fixture files (team validity from
  ``players.csv`` roles, background fields, match found or not, roster
  size), and
- against the registered DuckDB oracle of its request type
  (``fpl_req1_win_prediction``, ``fpl_req2_player_profile``,
  ``fpl_req3_match_details``), pointed at the request by swapping the
  fixture request path in the oracle SQL for the generated request file.

At the x10 fixture the oracles' rating recurrence and final-metrics
subqueries take ~25 s in DuckDB. Neither depends on the request, so
``Oracles`` materializes them once per checkout under the cache dir,
keyed by the fixture bytes and the SQL text, and substitutes the cached
tables for those subqueries. The t16 oracle result for the published
stream is cached the same way.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

from gen import BACKGROUND, Facts, expected_valid_team

TOL = 2e-6  # both engines round to 6 places; allow one unit either way


def _close(a, b) -> bool:
    return a is not None and b is not None and math.isclose(a, b, abs_tol=TOL)


def tree_digest(root: str) -> str:
    """sha1 over the relative paths and bytes of every file under root."""
    h = hashlib.sha1()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class Oracles:
    """Registered oracle SQL, run in DuckDB with cached heavy subqueries."""

    def __init__(self, cache_dir: str, fixtures: str, temp_dir: str):
        import duckdb

        from fantasy_premier_league_spark.operators import api, pipeline
        from fantasy_premier_league_spark.plans.registry import all_oracles

        self.cache_dir = cache_dir
        self.fixtures = fixtures
        self.api = api
        self.sql = all_oracles()
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        self.con.execute("SET memory_limit = '2GB'")
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        self.fixture_digest = tree_digest(fixtures)
        # heavy request-independent subqueries, outermost first so the
        # chemistry text is replaced before the rating text inside it
        self.fragments = [
            ("chem", api._CHEM_SQL),
            ("rating", pipeline._RATING_SQL),
            ("fm", pipeline._FM_SQL),
        ]
        os.makedirs(cache_dir, exist_ok=True)

    def _key(self, *parts: str) -> str:
        h = hashlib.sha1(self.fixture_digest.encode())
        for p in parts:
            h.update(p.replace(self.fixtures, "<fixtures>").encode())
        return h.hexdigest()[:16]

    def _subst(self, sql: str) -> str:
        """sql with every cached fragment it embeds replaced by its table."""
        for name, frag in self.fragments:
            if frag != sql:
                sql = sql.replace(frag, f"SELECT * FROM cached_{name}")
        return sql

    def materialize(self) -> None:
        """Create the cached subquery tables as views over parquet files,
        computing any file that is not cached yet."""
        for name, frag in reversed(self.fragments):
            path = os.path.join(self.cache_dir, f"{name}-{self._key(frag)}.parquet")
            if not os.path.exists(path):
                tmp = f"{path}.{os.getpid()}.tmp"
                self.con.execute(
                    f"COPY ({self._subst(frag)}) TO '{tmp}' (FORMAT parquet)"
                )
                os.replace(tmp, path)
            self.con.execute(
                f"CREATE OR REPLACE VIEW cached_{name} AS SELECT * FROM read_parquet('{path}')"
            )

    def request_rows(self, kind: str, request_path: str) -> tuple[list, list]:
        """Oracle rows of one request type for the request in request_path."""
        name, fixture_path = {
            "predict_win": ("fpl_req1_win_prediction", self.api.REQ1),
            "player_profile": ("fpl_req2_player_profile", self.api.REQ2),
            "match_details": ("fpl_req3_match_details", self.api.REQ3),
        }[kind]
        sql = self.sql[name]
        if fixture_path not in sql:
            raise RuntimeError(f"{name} oracle no longer reads {fixture_path}")
        rel = self.con.execute(self._subst(sql).replace(fixture_path, request_path))
        return [d[0] for d in rel.description], rel.fetchall()

    def t16_rows(self, stream_glob: str) -> tuple[list, list]:
        """t16_fpl_pipeline_roundtrip oracle over the published matches
        (stream_glob replaces the fixture stream glob), cached by the
        published bytes."""
        from fantasy_premier_league_spark.operators.pipeline import STREAM_GLOB

        sql = self.sql["t16_fpl_pipeline_roundtrip"]
        if STREAM_GLOB not in sql:
            raise RuntimeError("t16 oracle no longer reads the fixture stream")
        src = os.path.dirname(stream_glob)
        key = hashlib.sha1((self._key(sql) + tree_digest(src)).encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"t16-{key[:16]}.json")
        if not os.path.exists(path):
            rel = self.con.execute(sql.replace(STREAM_GLOB, stream_glob))
            doc = {"columns": [d[0] for d in rel.description], "rows": rel.fetchall()}
            tmp = f"{path}.{os.getpid()}.tmp"
            with open(tmp, "w") as fh:
                json.dump(doc, fh)
            os.replace(tmp, path)
        with open(path) as fh:
            doc = json.load(fh)
        return doc["columns"], doc["rows"]

    def close(self) -> None:
        self.con.close()


def _as_dicts(oracle: tuple[list, list]) -> list[dict]:
    cols, rows = oracle
    return [dict(zip(cols, r)) for r in rows]


def check_request(
    item: dict, response, facts: Facts, oracle: tuple[list, list]
) -> list[str]:
    """Problems with one response (empty = correct)."""
    kind, arg = item["type"], item["arg"]
    rows = _as_dicts(oracle)
    if kind == "predict_win":
        if not expected_valid_team(facts, arg):
            return [] if response == {"status": "Invalid Team"} else [
                f"expected Invalid Team, got {response!r}"[:200]
            ]
        want = {r["team"]: r for r in rows}
        problems = []
        for key in ("team1", "team2"):
            got = (response or {}).get(key) or {}
            exp = want.get(key)
            if exp is None or got.get("name") != arg[key]["name"]:
                problems.append(f"{key}: missing or misnamed in {response!r}"[:200])
            elif not _close(got.get("winning chance"), exp["winning_chance"]):
                problems.append(
                    f"{key}: chance {got.get('winning chance')} != "
                    f"oracle {exp['winning_chance']}"
                )
        return problems
    if kind == "player_profile":
        known = facts.players.get(arg)
        if known is None or not rows:
            return [] if response is None else [f"expected None, got {response!r}"[:200]]
        if response is None:
            return ["profile missing"]
        exp = rows[0]
        problems = [
            f"{f}: {response.get(f)!r} != players.csv {known[f]!r}"
            for f in BACKGROUND
            if str(response.get(f)) != known[f]
        ]
        for got_key, exp_key in (
            ("fouls", "fouls"),
            ("goals", "goals"),
            ("own goals", "own_goals"),
            ("shots on target", "shots_on_target"),
        ):
            if response.get(got_key) != exp[exp_key]:
                problems.append(f"{got_key}: {response.get(got_key)} != {exp[exp_key]}")
        if not _close(response.get("pass_acc"), exp["pass_accuracy"]):
            problems.append(f"pass_acc: {response.get('pass_acc')} != {exp['pass_accuracy']}")
        return problems
    # match_details
    found = [m for m in facts.matches if (m["date"], m["label"]) == (arg["date"], arg["label"])]
    if not found:
        return [] if response == {"status": "Not Found"} else [
            f"expected Not Found, got {response!r}"[:200]
        ]
    if not isinstance(response, dict) or "goals" not in response:
        return [f"match missing: {response!r}"[:200]]
    problems = []
    roster = sum(m["roster"] for m in found)
    if len(response["goals"]) != roster or len(rows) != roster:
        problems.append(f"roster {len(response['goals'])} != {roster} (oracle {len(rows)})")
    for f in ("venue", "gameweek", "duration"):
        if response.get(f) != found[0][f]:
            problems.append(f"{f}: {response.get(f)!r} != {found[0][f]!r}")

    def by_player(entries):
        return sorted((e["name"], e["team"], str(e["number_of_goals"])) for e in entries)

    if by_player(response["goals"]) != sorted(
        (r["player_name"], r["team"], str(r["goals"])) for r in rows
    ):
        problems.append("goals differ from the oracle")
    if by_player(response["own_goals"]) != sorted(
        (r["player_name"], r["team"], str(r["own_goals"])) for r in rows
    ):
        problems.append("own goals differ from the oracle")
    for card in ("yellow_cards", "red_cards"):
        if sorted(response[card]) != sorted(r["player_name"] for r in rows if r[card]):
            problems.append(f"{card} differ from the oracle")
    return problems


def check_table(columns: list, rows: list, oracle: tuple[list, list]) -> list[str]:
    """Row-count, column and order-insensitive value check of a served
    table, normalized as the repo's parity suite normalizes it."""
    from tests.oracle_harness import canonical_rows

    o_cols, o_rows = oracle
    if sorted(columns) != sorted(o_cols):
        return [f"columns {sorted(columns)} != oracle {sorted(o_cols)}"]
    if len(rows) != len(o_rows):
        return [f"{len(rows)} rows != oracle {len(o_rows)}"]
    if canonical_rows(columns, rows) != canonical_rows(o_cols, [tuple(r) for r in o_rows]):
        return ["values differ from the oracle"]
    return []
