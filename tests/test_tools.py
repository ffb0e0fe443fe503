"""Tests of the tools/ scripts.

1. The parity runner (tools/contract_sweep.py) and its strict pandas-path
   comparator (tests/oracle_harness.py ``compare_strict``). The driver
   hashes query results through a pandas fetch path that the
   value-normalizing harness cannot see; ``compare_strict`` checks both
   engines through that exact path. The unit tests pin its divergence
   classes without Spark, the artifact test pins the committed
   fleet-wide PREFLIGHT_r{N}.json, and the Spark test runs the runner on
   a stub registration that only the strict check catches.

2. The streaming-latency reader (tools/stream_latency.py): its
   percentile definition, its progress summary and the shape table
   behind the BASELINE.md rows.

3. An import check over every tools/*.py.

4. The regression gate's flagging logic (tools/bench_regression.py):
   the min-of-spread gate must suppress median-only flaps (two rounds
   of sub-second false positives: r10 bucketed_colocated_join, r11
   events_transition_matrix) while still flagging real regressions,
   which move the spread floor too, and total failures (query missing
   from the current run).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

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
    perfbench.stats.percentile (tools/stream_latency.py reads through
    it), pinned here against the quantile_cont definition."""
    import pytest

    sys_path_repo()
    from perfbench.stats import percentile

    xs = [10.0, 20.0, 30.0, 40.0]
    # quantile_cont: index = (n-1)*p over the sorted values;
    # p95 -> idx = 3 * 0.95 = 2.85 -> 30 + (40 - 30) * 0.85 = 38.5
    assert percentile(xs, 50) == 25.0
    assert abs(percentile(xs, 95) - 38.5) < 1e-9
    assert percentile([7.0], 95) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def _progress(batch_id, trigger, add, rows, state=None):
    p = {
        "batchId": batch_id,
        "numInputRows": rows,
        "durationMs": {"triggerExecution": trigger, "addBatch": add},
    }
    if state is not None:
        p["stateOperators"] = [{"numRowsTotal": state}]
    return p


def test_stream_latency_summarize_drops_batch0():
    """summarize reports batch 0 (stream init) alone and computes the
    steady-state percentiles over the batches after it; state rows come
    from the first state operator."""
    sys_path_repo()
    from tools.stream_latency import summarize

    progress = [_progress(0, 5000, 4000, 0, state=0)] + [
        _progress(i + 1, t, t // 2, 100 * (i + 1), state=10 * (i + 1))
        for i, t in enumerate([10, 20, 30, 40])
    ]
    out = summarize(progress)
    assert out["n_batches_steady"] == 4
    assert out["batch0_trigger_ms"] == 5000.0
    assert out["p50_trigger_ms"] == 25.0
    assert out["p95_trigger_ms"] == 38.5
    assert out["max_trigger_ms"] == 40.0
    assert out["p50_addBatch_ms"] == 12.5
    assert out["median_input_rows"] == 300
    assert out["max_state_rows"] == 40
    # a stateless shape (merge) reports no state rows
    bare = summarize([_progress(0, 9, 9, 0), _progress(1, 5, 4, 7)])
    assert bare["max_state_rows"] == 0 and bare["p50_trigger_ms"] == 5.0


def test_stream_latency_shapes_registry():
    """The latency reader's shape table backs the BASELINE.md
    steady-state matrix (t4/join/merge); a renamed or dropped shape
    silently orphans its recorded rows."""
    sys_path_repo()
    from tools.stream_latency import SHAPES

    assert sorted(SHAPES) == ["agg", "join", "merge"]


def test_every_tool_imports_without_starting_spark():
    """Every tools/*.py loads by file path through importlib (its module
    body runs, its main does not) in a fresh interpreter that ends with
    no SparkContext: a tool left pointing at a deleted module fails
    here, not on its next hand run."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = """
import glob, importlib.util, os, sys
for path in sorted(glob.glob(os.path.join(sys.argv[1], "tools", "*.py"))):
    name = "tool_" + os.path.basename(path)[:-3]
    spec = importlib.util.spec_from_file_location(name, path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
    print(os.path.basename(path))
from pyspark import SparkContext
assert SparkContext._active_spark_context is None, "a tool started Spark"
"""
    out = subprocess.run(
        [sys.executable, "-c", code, repo],
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    tools = sorted(f for f in os.listdir(os.path.join(repo, "tools")) if f.endswith(".py"))
    assert out.stdout.split() == tools


# 4. tools/bench_regression.py

_GATE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "bench_regression.py"
)


def _run(tmp_path, base: dict, cur: dict) -> tuple[int, str]:
    bp, cp = tmp_path / "base.json", tmp_path / "cur.json"
    bp.write_text(json.dumps(base))
    cp.write_text(json.dumps(cur))
    out = subprocess.run(
        [sys.executable, _GATE, "--base", str(bp), "--cur", str(cp)],
        capture_output=True,
        text=True,
    )
    return out.returncode, out.stdout


def _payload(queries: dict, spread: dict | None = None) -> dict:
    d = {"queries": queries}
    if spread is not None:
        d["spread"] = spread
    return d


# enough stable peers that the run-wide median ratio stays ~1.0
_PEERS = {f"q{i}": 1.0 for i in range(9)}


def test_median_flap_with_stable_min_is_suppressed(tmp_path):
    base = _payload(
        _PEERS | {"flappy": 0.42},
        {"flappy": {"min": 0.419, "med": 0.42, "max": 0.63}},
    )
    cur = _payload(
        _PEERS | {"flappy": 0.74},  # 1.76x median...
        {"flappy": {"min": 0.488, "med": 0.74, "max": 1.18}},  # ...1.16x min
    )
    rc, out = _run(tmp_path, base, cur)
    assert rc == 0, out
    assert "REGRESSION" not in out
    # ADVICE r11: the save must be VISIBLE -- an intermittent real
    # regression is suppressed by the same rule, and only this line
    # keeps the signal in the round record.
    assert "SUPPRESSED flappy" in out and "min-of-spread 1.16x" in out


def test_retired_query_reports_informationally(tmp_path):
    base = _payload(_PEERS | {"a3_final_metrics": 0.9})
    cur = _payload(dict(_PEERS))
    rc, out = _run(tmp_path, base, cur)
    assert rc == 0, out
    assert "retired a3_final_metrics" in out and "MISSING" not in out


def test_comparable_subtotal_gate(tmp_path):
    over = _payload(dict(_PEERS))
    over["comparable_subtotal"] = 99.0
    rc, out = _run(tmp_path, _payload(dict(_PEERS)), over)
    assert rc == 1
    assert "comparable_subtotal" in out and "re-based" in out
    ok = _payload(dict(_PEERS))
    ok["comparable_subtotal"] = 21.0
    rc, out = _run(tmp_path, _payload(dict(_PEERS)), ok)
    assert rc == 0, out


def test_real_regression_moves_the_floor_and_flags(tmp_path):
    base = _payload(
        _PEERS | {"broken": 0.42},
        {"broken": {"min": 0.419, "med": 0.42, "max": 0.63}},
    )
    cur = _payload(
        _PEERS | {"broken": 1.3},
        {"broken": {"min": 1.1, "med": 1.3, "max": 1.6}},  # min 2.6x
    )
    rc, out = _run(tmp_path, base, cur)
    assert rc == 1
    assert "REGRESSION broken" in out and "min-of-spread" in out


def test_flagged_regression_carries_steal_annotation(tmp_path):
    """r15: a flagged row whose window recorded hypervisor steal must
    carry the telemetry inline (annotation ONLY -- rc stays 1, nothing
    is waived); a clean-window flag must not."""
    base = _payload(
        _PEERS | {"hot": 0.42, "cold": 0.42},
        {
            "hot": {"min": 0.419, "med": 0.42, "max": 0.63},
            "cold": {"min": 0.419, "med": 0.42, "max": 0.63},
        },
    )
    cur = _payload(
        _PEERS | {"hot": 1.3, "cold": 1.3},
        {
            "hot": {"min": 1.1, "med": 1.3, "max": 1.6, "steal_max": 11.5},
            "cold": {"min": 1.1, "med": 1.3, "max": 1.6, "steal_max": 0.0},
        },
    )
    rc, out = _run(tmp_path, base, cur)
    assert rc == 1  # annotated, NOT waived
    hot = [ln for ln in out.splitlines() if ln.startswith("REGRESSION hot")]
    cold = [ln for ln in out.splitlines() if ln.startswith("REGRESSION cold")]
    assert hot and "steal_max 11.5% in-window" in hot[0]
    assert cold and "steal_max" not in cold[0]


def test_no_spread_recorded_median_alone_flags(tmp_path):
    base = _payload(_PEERS | {"legacy": 0.42})
    cur = _payload(_PEERS | {"legacy": 0.74})
    rc, out = _run(tmp_path, base, cur)
    assert rc == 1
    assert "REGRESSION legacy" in out


def test_missing_query_is_the_worst_regression(tmp_path):
    base = _payload(_PEERS | {"vanished": 2.0})
    cur = _payload(dict(_PEERS))
    rc, out = _run(tmp_path, base, cur)
    assert rc == 1
    assert "vanished" in out and "MISSING" in out
