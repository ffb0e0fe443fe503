"""Run the ENTIRE differential fuzz set at an arbitrary scale factor.

The pytest gate (tests/test_fuzz_differential.py) pins every axis to
sf0.001 to keep CI wall-time flat; this tool replays the identical
seeded cases at a larger SF, where 10-100x more rows reach the tie,
empty-group, and cut-boundary edges the small corpus may never touch.
A divergence here reproduces from (axis, seed) alone, exactly like the
gate.

Usage:
    python tools/fuzz_shakeout.py [sf_dir]   # default /root/testdata/sf0.01
    python tools/fuzz_shakeout.py /root/testdata/sf0.1 --out FUZZ_r17.json

--out writes a committed-artifact JSON (VERDICT r16 task #2: the
stdout-only shakeout made SURVEY's closing-run lines unverifiable after
the fact). The artifact records per-axis case counts, failures, and
walls. No test reads it: the committed FUZZ_r{N}.json is a record of
the run, and tests/test_fuzz_differential.py is the gate.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from fantasy_premier_league_spark.session import get_spark  # noqa: E402
from tests import fuzz_grammar as g  # noqa: E402
from tests.oracle_harness import (  # noqa: E402
    compare,
    compare_signed,
    duck_connection,
)

AXES = [
    ("scan", g.draw_case, g.build_spark, 30),
    ("join", g.draw_join_case, g.build_join_spark, 15),
    ("window", g.draw_window_case, g.build_window_spark, 12),
    ("null", g.draw_null_case, g.build_null_spark, 12),
    ("setop", g.draw_setop_case, g.build_setop_spark, 12),
    ("expr", g.draw_expr_case, g.build_expr_spark, 12),
    ("topk", g.draw_topk_case, g.build_topk_spark, 12),
    ("rollup", g.draw_rollup_case, g.build_rollup_spark, 12),
    ("subquery", g.draw_subquery_case, g.build_subquery_spark, 12),
    ("datetime", g.draw_datetime_case, g.build_datetime_spark, 12),
    ("pattern", g.draw_pattern_case, g.build_pattern_spark, 12),
    ("numeric", g.draw_numeric_case, g.build_numeric_spark, 12),
    ("rangejoin", g.draw_rangejoin_case, g.build_rangejoin_spark, 12),
    ("stream", g.draw_stream_case, g.build_stream_spark, 12),
    ("scalarsub", g.draw_scalarsub_case, g.build_scalarsub_spark, 12),
    ("rangeframe", g.draw_rangeframe_case, g.build_rangeframe_spark, 12),
    ("filteragg", g.draw_filteragg_case, g.build_filteragg_spark, 12),
    ("signedzero", g.draw_signedzero_case, g.build_signedzero_spark, 12),
    ("lateral", g.draw_lateral_case, g.build_lateral_spark, 12),
    ("joinchain", g.draw_joinchain_case, g.build_joinchain_spark, 12),
    ("multidistinct", g.draw_multidistinct_case, g.build_multidistinct_spark, 12),
    ("winjoin", g.draw_winjoin_case, g.build_winjoin_spark, 12),
]


def main() -> int:
    argv = sys.argv[1:]
    out_path: str | None = None
    args: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--out":
            if i + 1 >= len(argv):
                raise SystemExit("--out needs a path")
            out_path = argv[i + 1]
            i += 2
        elif a.startswith("--out="):
            out_path = a.split("=", 1)[1]
            i += 1
        elif a.startswith("--"):
            raise SystemExit(f"unrecognized flag {a!r}; known: --out PATH")
        else:
            args.append(a)
            i += 1
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    spark = get_spark("fuzz-shakeout")
    con = duck_connection(sf_dir)
    failures: list[tuple[str, int, str]] = []
    axes_report: dict[str, dict] = {}
    total = 0
    wall0 = time.monotonic()
    for name, draw, build, n in AXES:
        t0 = time.monotonic()
        bad = 0
        for seed in range(n):
            total += 1
            case = draw(seed)
            try:
                # the signedzero axis exists to see the class compare()
                # erases: compare_signed layers the byte-level check on
                # the same single collection
                check = compare_signed if name == "signedzero" else compare
                check(build(spark, sf_dir, case), con, case["sql"])
            except AssertionError as e:
                bad += 1
                failures.append((name, seed, str(e).splitlines()[0][:160]))
        axis_wall = round(time.monotonic() - t0, 1)
        axes_report[name] = {"cases": n, "failed": bad, "wall_s": axis_wall}
        status = "ok" if bad == 0 else f"{bad} FAILED"
        print(f"  {name:<9} {n:>3} cases  {axis_wall:6.1f}s  {status}")
    wall_s = round(time.monotonic() - wall0, 1)
    print(f"shakeout: {total - len(failures)}/{total} matched at {sf_dir} in {wall_s:.0f}s")
    for name, seed, msg in failures:
        print(f"  DIVERGED {name}[{seed}]: {msg}")
    if out_path is not None:
        with open(out_path, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "wall_s": wall_s,
                    "total": total,
                    "failed": len(failures),
                    "axes": axes_report,
                    "divergences": [
                        {"axis": a, "seed": s, "err": m} for a, s, m in failures
                    ],
                },
                fh,
                indent=1,
                sort_keys=True,
            )
            fh.write("\n")
        print(f"shakeout artifact written to {out_path}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
