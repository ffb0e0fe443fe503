"""Tests of the tools/ scripts.

1. The parity runner (tools/contract_sweep.py) and its strict pandas-path
   comparator (tests/oracle_harness.py ``compare_strict``). The driver
   hashes query results through a pandas fetch path that the
   value-normalizing harness cannot see; ``compare_strict`` checks both
   engines through that exact path. The unit tests pin its divergence
   classes without Spark, the artifact test pins the committed
   fleet-wide PREFLIGHT_r{N}.json, and the Spark test runs the runner on
   a stub registration that only the strict check catches.

2. The streaming-latency harness (tools/stream_latency.py): the
   percentile math and the shape table behind the BASELINE.md rows.
"""

from __future__ import annotations

import math

from tests.conftest import SF_SMOKE


def sys_path_repo() -> None:
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo not in sys.path:
        sys.path.insert(0, repo)


def test_strict_preflight_detects_dtype_divergence():
    import pandas as pd

    from tests.oracle_harness import compare_strict

    a = pd.DataFrame({"x": pd.array([1, 2], dtype="int32"), "k": ["a", "b"]})
    b = pd.DataFrame({"x": pd.array([1, 2], dtype="int64"), "k": ["a", "b"]})
    out = compare_strict(a, b)
    assert out["status"] == "DTYPE"
    assert out["dtype_diffs"] == {"x": ["int32", "int64"]}
    # the HUGEINT class: int64 vs float64 -- the exact two-round bug
    c = pd.DataFrame({"x": pd.array([1.0, 2.0], dtype="float64"), "k": ["a", "b"]})
    assert compare_strict(b, c)["status"] == "DTYPE"


def test_strict_preflight_detects_value_divergence_and_identity():
    import pandas as pd

    from tests.oracle_harness import compare_strict

    a = pd.DataFrame({"x": [1, 2], "k": ["a", "b"]})
    # row order must NOT matter (the driver hash is order-insensitive)
    b = pd.DataFrame({"x": [2, 1], "k": ["b", "a"]})
    assert compare_strict(a, b)["status"] == "IDENTICAL"
    c = pd.DataFrame({"x": [1, 3], "k": ["a", "b"]})
    out = compare_strict(a, c)
    assert out["status"] == "VALUES" and out["n_diff_rows"] == 1


def test_preflight_artifact_is_committed_and_clean():
    """The newest PREFLIGHT_r{N}.json must be on disk, tracked, free of
    failing rows, and cover EXACTLY the currently registered fleet: an
    artifact is only as good as its vintage, so any registration change
    (add/retire) forces a fresh fleet-wide run and a new committed
    artifact."""
    import glob
    import json
    import os
    import re
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    arts = {
        int(re.search(r"PREFLIGHT_r(\d+)\.json$", p).group(1)): p
        for p in glob.glob(os.path.join(repo, "PREFLIGHT_r*.json"))
    }
    assert arts, "no PREFLIGHT_r*.json artifact exists"
    rnd = max(arts)
    name = os.path.basename(arts[rnd])
    tracked = subprocess.run(
        ["git", "ls-files", "--error-unmatch", name],
        cwd=repo,
        capture_output=True,
    ).returncode
    assert tracked == 0, f"{name} not git-tracked"
    with open(arts[rnd]) as fh:
        rep = json.load(fh)
    bad = {
        k: v
        for k, v in rep["queries"].items()
        if v["status"] not in ("IDENTICAL", "NO_ORACLE")
    }
    assert not bad, f"strict preflight divergences: {bad}"
    from fantasy_premier_league_spark.plans.registry import all_queries

    fleet = set(all_queries())
    swept = set(rep["queries"])
    assert swept == fleet, (
        f"{name} is stale against the registered fleet: "
        f"missing={sorted(fleet - swept)} extra={sorted(swept - fleet)} "
        "-- re-run tools/contract_sweep.py fleet-wide with --out and "
        "commit the new artifact"
    )


def test_strict_zero_sweep_compares_row_multisets():
    """ADVICE r13 #1: the sweep's signed-zero canonicalization keeps
    the zero sign inside the ROW, so same-count-per-column splits on
    different rows are caught (the per-column counter missed them)."""
    from tests.oracle_harness import _signed_cell, signed_canonical_rows

    assert _signed_cell(-0.0) == "-0"
    assert _signed_cell(0.0) == "0"
    # same per-column -0.0 COUNTS (one each), different rows -> differ
    a = signed_canonical_rows(["k", "v"], [("x", -0.0), ("y", 0.0)])
    b = signed_canonical_rows(["k", "v"], [("x", 0.0), ("y", -0.0)])
    assert a != b
    # the runner must run THIS canonicalization (via compare_signed,
    # which collects each side once) next to the strict pandas check
    from tests.oracle_harness import compare_signed, compare_strict

    sys_path_repo()
    from tools import contract_sweep

    assert contract_sweep.compare_signed is compare_signed
    assert contract_sweep.compare_strict is compare_strict


def test_sweep_fails_an_int_column_against_a_bigint_oracle(spark, monkeypatch, capsys):
    """Spark int32 and a DuckDB BIGINT share the harness's int family and
    canonical values, but the driver's pandas path sees int32 vs int64:
    the runner must report a DTYPE row and exit 1."""
    from pyspark.sql import functions as F

    from fantasy_premier_league_spark.plans import registry

    sys_path_repo()
    from tools import contract_sweep

    name = "stub_int_vs_bigint"
    monkeypatch.setitem(
        registry.QUERIES,
        name,
        lambda s, sf: s.range(3).select(F.col("id").cast("int").alias("x")),
    )
    monkeypatch.setitem(
        registry.ORACLES, name, "SELECT CAST(range AS BIGINT) AS x FROM range(3)"
    )
    assert contract_sweep.main([SF_SMOKE, "--queries", name]) == 1
    line = next(ln for ln in capsys.readouterr().out.splitlines() if name in ln)
    assert ": DTYPE " in line and '"x": ["int32", "int64"]' in line, line


def test_stream_latency_percentile_is_quantile_cont():
    """The p50/p95 rows recorded in BASELINE.md use
    tools/stream_latency.py's linear-interpolation percentile, pinned
    here against the quantile_cont definition."""
    sys_path_repo()
    from tools.stream_latency import _pct

    xs = [10.0, 20.0, 30.0, 40.0]
    # quantile_cont: index = (n-1)*p over the sorted values;
    # p95 -> idx = 3 * 0.95 = 2.85 -> 30 + (40 - 30) * 0.85 = 38.5
    assert _pct(xs, 0.50) == 25.0
    assert abs(_pct(xs, 0.95) - 38.5) < 1e-9
    assert _pct([7.0], 0.95) == 7.0
    assert math.isnan(_pct([], 0.5))


def test_stream_latency_shapes_registry():
    """The latency harness's shape table backs the BASELINE.md
    steady-state matrix (t4/join/merge/pystate); a renamed or dropped
    shape silently orphans its recorded rows."""
    sys_path_repo()
    from tools.stream_latency import SHAPES

    assert sorted(SHAPES) == ["agg", "join", "merge", "pystate"]
