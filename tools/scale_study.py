#!/usr/bin/env python
"""Scaling study: bench the named queries at two or more data volumes
(medians of bench.py's in-session repeats) and print the ratio/exponent
table in the markdown shape BASELINE.md records.

Two axes:

- sf (default): the heavy tier at bench.py's DEFAULT_SF_DIR and at
  SPARK_GRAFT_SCALE_BIG (default .scale/sf1, one decade; point it at
  .scale/sf10 for two). A missing big replica is built via
  make_scale.py.
- fixture volume (``--scales 1,10,100``): the FPL chain over
  ensure_fixtures(scale) dirs (scale x 12 matches, same roster), with
  SPARK_GRAFT_FPL_FIXTURES pointing the whole chain -- Spark readers
  AND the baked DuckDB oracle paths -- at each. t16's triggers size to
  the file count, so its batch count stays constant and the
  measurement is data scaling, not micro-batch fixed cost.

Usage:
    python tools/scale_study.py [query ...]                     # sf axis
    python tools/scale_study.py --scales 1,10,100 [query ...]   # fixtures
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import DEFAULT_SF_DIR  # noqa: E402

SF_BIG = os.environ.get(
    "SPARK_GRAFT_SCALE_BIG", os.path.join(REPO, ".scale", "sf1")
)

DEFAULT_HEAVIES = [
    "aqe_skew_join",
    "salted_skew_join",
    "t7_stream_stream_join",
    "dedup_cluster_components",
    "graph_pagerank",
    "dedup_simhash_pairs",
    "docs_decontaminate",
    "dedup_prefix_filter_pairs",
    "knn_classify_vote",
    "text_bm25_rank",
    "t13_stream_cdc_upsert",
    "bucketed_colocated_join",
]

DEFAULT_FPL = [
    "t16_fpl_pipeline_roundtrip",
    "fpl_req1_win_prediction",
    "fpl_a6_chemistry",
]


def bench(env: dict[str, str], names: list[str]) -> dict[str, float]:
    """Per-query medians from one bench.py run under ``env``."""
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=os.environ | env | {"SPARK_GRAFT_BENCH_ONLY": ",".join(names)},
        capture_output=True,
        text=True,
        check=False,
    )
    # first JSON line = the full payload (per-query medians for every
    # selected query); the LAST line is the driver-facing compact
    # summary whose queries dict only covers the comparable prefix
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        print(out.stdout[-2000:], file=sys.stderr)
        print(out.stderr[-2000:], file=sys.stderr)
        raise SystemExit(f"bench produced no JSON under {env}")
    payload = json.loads(lines[0])
    if payload.get("errors"):
        print(f"# errors under {env}: {payload['errors']}", file=sys.stderr)
    return payload["queries"]


def print_table(
    labels: list[str], results: list[dict], names: list[str], factor: float
) -> None:
    cols = " | ".join(f"{lab} med" for lab in labels)
    print(f"| query | {cols} | ratio ({factor:g}x data) | exponent |")
    print("|---|" + "---|" * (len(labels) + 2))
    for n in names:
        meds = [r.get(n) for r in results]
        cells = " | ".join("MISSING" if m is None else f"{m:.2f} s" for m in meds)
        if None in meds:
            print(f"| `{n}` | {cells} | - | - |")
            continue
        r = meds[-1] / meds[0]
        exp = f"{math.log10(r) / math.log10(factor):.2f}" if factor > 1 else "n/a"
        print(f"| `{n}` | {cells} | {r:.2f}x | {exp} |")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--scales", help="fixture-volume axis, e.g. 1,10,100 (default: sf axis)"
    )
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    if args.scales:
        from fantasy_premier_league_spark.sources import fpl_fixtures

        scales = [int(s) for s in args.scales.split(",")]
        names = args.queries or DEFAULT_FPL
        envs = [
            {
                "SPARK_GRAFT_SF_DIR": DEFAULT_SF_DIR,
                "SPARK_GRAFT_FPL_FIXTURES": fpl_fixtures.ensure_fixtures(s),
            }
            for s in scales
        ]
        labels = [f"x{s}" for s in scales]
        factor = scales[-1] / scales[0]
    else:
        factor = 100 if SF_BIG.rstrip("/").endswith("sf10") else 10
        if not os.path.isdir(SF_BIG):
            subprocess.run(
                [
                    sys.executable,
                    os.path.join(REPO, "tools", "make_scale.py"),
                    "--src",
                    DEFAULT_SF_DIR,
                    "--dst",
                    SF_BIG,
                    "--factor",
                    str(factor),
                ],
                check=True,
            )
        names = args.queries or DEFAULT_HEAVIES
        dirs = [DEFAULT_SF_DIR, SF_BIG]
        envs = [{"SPARK_GRAFT_SF_DIR": d} for d in dirs]
        labels = [os.path.basename(d.rstrip("/")) for d in dirs]
    print_table(labels, [bench(e, names) for e in envs], names, factor)


if __name__ == "__main__":
    main()
