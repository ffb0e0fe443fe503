"""Check every registered query against its DuckDB oracle, at one or
more scale factors.

Usage:
    python tools/contract_sweep.py [SF_DIR ...] [--queries a,b] [--out PATH]

SF_DIR defaults to the sf0.01 test data (tests/conftest.py
SF_CORRECTNESS), the scale of the driver's correctness gate; a larger SF (sf0.1, a make_scale.py-built sf1) puts a
decade more rows on value edges the gate never sees. Each query
function is called once per SF dir, and both checks run on that one
DataFrame, local-checkpointed so its plan runs once:

- ``compare_signed`` (tests/oracle_harness.py): column names, type
  families, canonical rows and signed-zero rows. Its first sf0.1 run
  machine-found the signed-zero hazard -- docs_dsir_weights doc 3533's
  log-ratio mean rounded to -0.0 in DuckDB and +0.0 in Spark, float-equal
  but hash-distinct -- now pinned fleet-wide by the `round(...) + 0`
  oracle convention (tests/test_round13_ops.py);
- ``compare_strict``, the driver's own pandas path (``df.toPandas()``
  against the oracle's ``fetchdf()``): per-column dtypes and byte-exact
  cells, which the harness's value normalization collapses.

Prints one line per query and SF dir and exits 1 on any failure. A
report row's status is IDENTICAL when both checks pass, NO_ORACLE for a
rows-only query (it still has to run), HARNESS (``harness``: the
assertion), DTYPE (``dtype_diffs``) or VALUES (``first_diff``) for a
failed check -- a DTYPE or VALUES row also carries ``harness`` when both
checks failed -- and ERROR (``err``) when the query or its oracle
raised. A failing row names its ``sf_dir``.

--queries (comma-separated) restricts the run; without it the whole
fleet runs. --out writes the JSON report.
tests/test_tools.py::test_preflight_artifact_is_committed_and_clean
requires the newest PREFLIGHT_r{N}.json to be git-tracked, to have no
failing row and to cover exactly the registered fleet, so --out is
refused with --queries: a subset run must never pass as fleet coverage.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from fantasy_premier_league_spark.plans.registry import (  # noqa: E402
    all_oracles,
    all_queries,
)
from fantasy_premier_league_spark.session import get_spark  # noqa: E402
from tests.conftest import SF_CORRECTNESS  # noqa: E402
from tests.oracle_harness import (  # noqa: E402
    compare_signed,
    compare_strict,
    duck_connection,
)

PASSED = ("IDENTICAL", "NO_ORACLE")


def check(spark, con, sf_dir: str, fn, sql: str | None) -> dict:
    """The report row of one call of a query function."""
    try:
        df = fn(spark, sf_dir)
        if sql is None:
            df.count()
            return {"status": "NO_ORACLE"}
        # both checks read one run of the plan
        df = df.localCheckpoint()
        try:
            row = compare_strict(df.toPandas(), con.execute(sql).fetchdf())
            try:
                compare_signed(df, con, sql)
            except AssertionError as ex:
                row["harness"] = str(ex)[:300]
                if row["status"] == "IDENTICAL":
                    row["status"] = "HARNESS"
        finally:
            # the checkpoint's blocks stay until its RDD is unpersisted
            df._jdf.queryExecution().logical().rdd().unpersist(False)
        return row
    except Exception as exc:  # noqa: BLE001 -- record it and go on
        return {"status": "ERROR", "err": f"{type(exc).__name__}: {exc}"[:300]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Check registered queries against their DuckDB oracles."
    )
    ap.add_argument("sf_dirs", nargs="*", default=[SF_CORRECTNESS], metavar="SF_DIR")
    ap.add_argument("--queries", help="comma-separated names (default: the whole fleet)")
    ap.add_argument("--out", help="write the JSON report here (whole fleet only)")
    args = ap.parse_args(argv)

    queries, oracles = all_queries(), all_oracles()
    names = list(queries)
    if args.queries is not None:
        if args.out is not None:
            ap.error("--out is only valid for whole-fleet runs (no --queries)")
        names = [s.strip() for s in args.queries.split(",") if s.strip()]
        unknown = sorted(set(names) - set(queries))
        if unknown:
            ap.error(f"--queries names not registered: {unknown}")

    spark = get_spark("contract-sweep")
    report: dict[str, dict] = {}
    t0 = time.monotonic()
    for sf_dir in args.sf_dirs:
        con = duck_connection(sf_dir)
        for i, name in enumerate(names, 1):
            row = check(spark, con, sf_dir, queries[name], oracles.get(name))
            detail = ""
            if row["status"] not in PASSED:
                row["sf_dir"] = sf_dir
                detail = " " + json.dumps({k: v for k, v in row.items() if k != "status"})
            print(f"{i:3d} {name} [{sf_dir}]: {row['status']}{detail}", flush=True)
            if report.get(name, {"status": "IDENTICAL"})["status"] in PASSED:
                report[name] = row  # a failing row outlives later passes
        con.close()
    wall_s = round(time.monotonic() - t0, 1)

    counts = Counter(row["status"] for row in report.values())
    failed = sorted(n for n, row in report.items() if row["status"] not in PASSED)
    print(
        f"# contract sweep @ {' '.join(args.sf_dirs)} in {wall_s:.0f}s: "
        + ", ".join(f"{k}={v}" for k, v in sorted(counts.items()))
    )
    for name in failed:
        print(f"  FAILED {name}: {report[name]['status']}")
    if args.out is not None:
        with open(args.out, "w") as fh:
            json.dump(
                {"sf_dirs": args.sf_dirs, "wall_s": wall_s, "counts": counts, "queries": report},
                fh,
                indent=1,
                sort_keys=True,
            )
            fh.write("\n")
        print(f"report written to {args.out}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
