#!/usr/bin/env python
"""Check that every oracle whose text changed since a git revision still
returns the same rows in DuckDB.

Usage:
    python tools/oracle_rows_diff.py REV [SF_DIR ...]

REV's package is read through ``git archive`` into a temporary directory
outside the repository; the working tree is never checked out. For every
registered oracle whose text at REV differs from the working tree's, both
texts run in DuckDB: an oracle over the sf tables once per SF_DIR
(default /root/testdata/sf0.01), an FPL oracle (it reads the generated
fixture, not an SF dir) once. The two results must have the same column
names, the same DuckDB types, and equal ``canonical_rows`` and
``signed_canonical_rows`` (tests/oracle_harness.py). An oracle that is
registered on one side only counts as a difference.

Prints one line per changed oracle and SF dir; exits 1 on any difference.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_SF = "/root/testdata/sf0.01"

_DUMP = "import json, __spark_entry__ as e; print(json.dumps(e.oracle_sql()))"


def oracles_at(rev: str) -> dict[str, str]:
    """The registered oracle texts of ``rev``, imported in a child
    interpreter from a ``git archive`` of that revision."""
    with tempfile.TemporaryDirectory(prefix="oracle-rows-diff-") as tmp:
        archive = subprocess.run(
            ["git", "archive", rev], cwd=REPO, capture_output=True, check=True
        ).stdout
        subprocess.run(["tar", "-x", "-C", tmp], input=archive, check=True)
        out = subprocess.run(
            [sys.executable, "-c", _DUMP],
            cwd=tmp,
            env={**os.environ, "PYTHONPATH": tmp},
            capture_output=True,
            text=True,
            check=True,
        ).stdout
    return json.loads(out.strip().splitlines()[-1])


def run(con, sql: str) -> tuple[list[str], list[str], list[tuple]]:
    cur = con.cursor()
    try:
        rel = cur.sql(sql)
        return rel.columns, [str(t) for t in rel.types], rel.fetchall()
    finally:
        cur.close()


def differences(con, old: str, new: str) -> tuple[list[str], int]:
    """(what differs between the two texts' results, new row count)."""
    from tests.oracle_harness import canonical_rows, signed_canonical_rows

    ocols, otypes, orows = run(con, old)
    ncols, ntypes, nrows = run(con, new)
    diffs = []
    if ocols != ncols:
        diffs.append(f"columns {ocols} -> {ncols}")
    if otypes != ntypes:
        diffs.append(f"types {otypes} -> {ntypes}")
    if canonical_rows(ocols, orows) != canonical_rows(ncols, nrows):
        diffs.append(f"rows ({len(orows)} -> {len(nrows)})")
    elif signed_canonical_rows(ocols, orows) != signed_canonical_rows(ncols, nrows):
        diffs.append("signed-zero split")
    return diffs, len(nrows)


def main() -> int:
    args = sys.argv[1:]
    if not args or args[0].startswith("-"):
        raise SystemExit(__doc__)
    rev, sf_dirs = args[0], args[1:] or [DEFAULT_SF]

    from fantasy_premier_league_spark.operators.pipeline import FIXTURES
    from fantasy_premier_league_spark.plans.registry import all_oracles
    from tests.oracle_harness import duck_connection

    old, new = oracles_at(rev), all_oracles()
    failed = False
    for name in sorted(set(old) ^ set(new)):
        side = "working tree" if name in new else rev
        print(f"{name}: registered only in the {side}")
        failed = True
    changed = sorted(n for n in set(old) & set(new) if old[n] != new[n])
    cons = {sf: duck_connection(sf) for sf in sf_dirs}
    for name in changed:
        fpl = FIXTURES in new[name]
        for sf in sf_dirs[:1] if fpl else sf_dirs:
            where = "fpl fixture" if fpl else sf
            try:
                diffs, n = differences(cons[sf], old[name], new[name])
            except Exception as exc:  # noqa: BLE001 -- report and go on
                diffs, n = [f"error: {type(exc).__name__}: {exc}"], 0
            verdict = "DIFFERS: " + "; ".join(diffs) if diffs else f"same ({n} rows)"
            print(f"{name} [{where}]: {verdict}", flush=True)
            failed |= bool(diffs)
    print(
        f"{len(changed)} changed of {len(new)} oracles; "
        + ("differences found" if failed else "all results equal")
    )
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
