"""Unit tests for tools/bench_regression.py's flagging logic (r11):
the min-of-spread gate must suppress median-only flaps (two rounds of
sub-second false positives: r10 bucketed_colocated_join, r11
events_transition_matrix) while still flagging real regressions, which
move the spread floor too, and total failures (query missing from the
current run)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "bench_regression.py")


def _run(tmp_path, base: dict, cur: dict) -> tuple[int, str]:
    bp, cp = tmp_path / "base.json", tmp_path / "cur.json"
    bp.write_text(json.dumps(base))
    cp.write_text(json.dumps(cur))
    out = subprocess.run(
        [sys.executable, TOOL, "--base", str(bp), "--cur", str(cp)],
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
