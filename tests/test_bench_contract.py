"""The bench artifact contract, regression-proofed.

Rounds 3 and 4 both lost their BENCH_r{N}.json to process-level
failures: r4 died on one query's AnalysisException before printing,
and r3 printed its JSON but exited nonzero during JVM teardown, so the
driver recorded parsed=null. The contract is: bench.py ALWAYS exits 0
and ALWAYS prints exactly one parseable JSON line with the agreed
keys, whatever individual queries do.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_exits_zero_and_prints_one_json_line():
    # one repeat keeps the contract test inside its timeout; the
    # driver's real runs use the default 3-repeat median
    detail_out = os.path.join(REPO, "BENCH_DETAIL.test.json")
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_REPEATS="1",
        BENCH_DETAIL_OUT=detail_out,
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        timeout=560,
        env=env,
        cwd=REPO,
    )
    assert proc.returncode == 0, f"bench exited {proc.returncode}:\n{proc.stderr[-2000:]}"
    json_lines = [
        ln for ln in proc.stdout.splitlines() if ln.startswith("{") and ln.endswith("}")
    ]
    assert len(json_lines) == 2, f"expected two JSON lines, got: {proc.stdout!r}"
    payload = json.loads(json_lines[0])
    for key in ("metric", "value", "unit", "queries", "sf", "comparable_subtotal"):
        assert key in payload, f"missing key {key}"
    assert payload["unit"] == "sec"
    # a query that raises must be recorded, not fatal -- and on healthy
    # testdata nothing should be failing at all
    assert "errors" not in payload, f"bench recorded per-query errors: {payload.get('errors')}"
    assert len(payload["queries"]) >= 23
    # healthy run => the comparable subtotal is present (it is nulled
    # whenever any comparable-prefix query errors, so a partial run can never
    # masquerade as a speedup)
    assert payload["comparable_subtotal"] is not None
    assert payload["repeats"] == 1
    assert set(payload["spread"]) == set(payload["queries"])
    for s in payload["spread"].values():
        assert s["min"] <= s["med"] <= s["max"]

    # Self-attribution telemetry (VERDICT r14 #3): the artifact must
    # carry per-query wall-clock windows plus the concurrent steal
    # series, so a contention burst is identifiable from the artifact
    # alone -- no judge autopsy against run order.
    tel = payload["telemetry"]
    for key in ("steal_interval_s", "steal_samples", "steal_max_pct", "query_windows"):
        assert key in tel, f"telemetry missing key {key}"
    assert set(tel["query_windows"]) >= set(payload["queries"])
    for w0, w1 in tel["query_windows"].values():
        assert w0 <= w1
    # the run spans minutes; the 0.5 s sampler must have real samples,
    # each a [epoch_s, steal_pct] pair inside the run's wall window
    assert len(tel["steal_samples"]) >= 10
    run_start = min(w for w, _ in tel["query_windows"].values())
    run_end = max(w for _, w in tel["query_windows"].values())
    for ts, pct in tel["steal_samples"]:
        assert run_start - 60 <= ts <= run_end + 60
        assert 0.0 <= pct <= 100.0
    assert tel["steal_max_pct"] == max(p for _, p in tel["steal_samples"])
    # windows long enough to contain a sample carry the inline verdict
    assert any("steal_max" in s for s in payload["spread"].values())

    # The LAST line is the driver-facing compact summary: it must parse
    # ALONE and fit comfortably inside the driver's ~2000-char stdout
    # tail capture (BENCH_r06 shipped parsed=null because the one full
    # line grew past that window). It must also be the final stdout
    # line, so tail-truncation can never clip it.
    final = proc.stdout.splitlines()[-1].strip()
    assert final == json_lines[1], "compact summary must be the last stdout line"
    assert len(final) < 1500, f"compact summary too long: {len(final)} chars"
    summary = json.loads(final)
    for key in (
        "metric",
        "value",
        "unit",
        "comparable_subtotal",
        "n_queries",
        "n_errors",
        "steal_max_pct",
        "queries",
        "sf",
    ):
        assert key in summary, f"compact summary missing key {key}"
    assert summary["steal_max_pct"] == payload["telemetry"]["steal_max_pct"]
    assert summary["value"] == payload["value"]
    assert summary["n_errors"] == 0

    # The full spread must ALSO land in a committed file (the driver
    # keeps only a stdout tail, so per-query round-over-round diffs
    # need an on-disk artifact -- VERDICT r7 #3), covering every query
    # the run timed.
    try:
        with open(detail_out) as fh:
            detail = json.load(fh)
        assert detail["queries"] == payload["queries"]
        assert set(detail["spread"]) == set(payload["queries"])
    finally:
        if os.path.exists(detail_out):
            os.remove(detail_out)
    assert summary["comparable_subtotal"] is not None
    # per-query medians for the comparable prefix ride along (23 names
    # at ~30 chars each stays far under the length cap)
    assert summary["comparable_n"] == 23
    assert len(summary["queries"]) == 23


def test_pick_cleanest_selection_rule():
    """--until-clean keeps the LOWEST-steal attempt, ties toward the
    earliest (VERDICT r15 #6: the r15 cleanest-of-nine hand selection,
    now code)."""
    sys.path.insert(0, REPO)
    import bench

    assert bench.pick_cleanest([7.6]) == 0
    assert bench.pick_cleanest([17.9, 0.4, 2.2]) == 1
    assert bench.pick_cleanest([3.0, 1.5, 1.5]) == 1  # tie -> earliest
    assert bench.pick_cleanest([0.0, 0.0]) == 0
    # an error-free attempt beats a cleaner one that dropped a query
    # (errors null comparable_subtotal -- review r16)
    assert bench.pick_cleanest([1.0, 5.0], had_errors=[True, False]) == 1
    assert bench.pick_cleanest([5.0, 1.0], had_errors=[True, True]) == 1


def test_unknown_flag_exits_2():
    """A misspelled flag must abort loudly (ADVICE r16): the old bare
    membership test silently degraded '--until-clena' to a single
    attempt with no selection trail."""
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--until-clena"],
        capture_output=True,
        text=True,
        timeout=60,
        cwd=REPO,
    )
    assert proc.returncode == 2, proc.stderr[-500:]
    assert "unknown arguments" in proc.stderr


def test_until_clean_records_selection_trail():
    """End-to-end: with --until-clean and an unreachable cleanliness
    threshold (CLEAN_PCT=0 -- steal can never be negative) bench must
    run exactly CLEAN_ATTEMPTS measurement passes -- each in its OWN
    subprocess (VERDICT r16 #4) -- keep the cleanest, and record the
    whole selection trail in the artifact. BENCH_ONLY narrows to one
    cheap query so the re-measure loop stays fast."""
    detail_out = os.path.join(REPO, "BENCH_DETAIL.untilclean.json")
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_REPEATS="1",
        SPARK_GRAFT_BENCH_ONLY="a2a3_pricing_summary",
        SPARK_GRAFT_BENCH_CLEAN_PCT="0",
        SPARK_GRAFT_BENCH_CLEAN_ATTEMPTS="2",
        BENCH_DETAIL_OUT=detail_out,
    )
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py"), "--until-clean"],
            capture_output=True,
            text=True,
            timeout=560,
            env=env,
            cwd=REPO,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        payload = json.loads(
            [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][0]
        )
        sel = payload["telemetry"]["selection"]
        assert sel["mode"] == "until_clean"
        # every attempt isolated in a fresh subprocess -- the artifact
        # must say so (warm-bias removal, VERDICT r16 #4)
        assert sel["isolation"] == "subprocess-per-attempt"
        assert sel["max_attempts"] == 2
        peaks = sel["attempt_steal_max_pct"]
        had_errors = sel["attempt_had_errors"]
        assert len(peaks) == 2 and len(had_errors) == 2
        # ADVICE r16: assert the kept attempt via pick_cleanest's OWN
        # rule -- error-free first, then lowest steal -- not min(peaks),
        # which is wrong whenever an attempt records a query error
        sys.path.insert(0, REPO)
        import bench

        kept = bench.pick_cleanest(peaks, had_errors)
        assert sel["kept_attempt"] == kept + 1
        # the kept attempt's telemetry is what ships
        assert payload["telemetry"]["steal_max_pct"] == peaks[kept]
        # the discarded attempt must be visible to a reader: both
        # entries recorded even though only one attempt's numbers ship
        assert payload["queries"].keys() == {"a2a3_pricing_summary"}
    finally:
        if os.path.exists(detail_out):
            os.remove(detail_out)


def test_steal_burst_is_identifiable_from_artifact_alone():
    """Synthetic-load smoke for the attribution mechanics (VERDICT r14
    #3 done-criterion): drive the sampler with a faked /proc/stat that
    steals 40% of jiffies during one window, run two fake 'queries'
    around it, and show the artifact fields alone name the burst window
    -- exactly the read that took a run-order autopsy in r14."""
    import time as _time

    sys.path.insert(0, REPO)
    import bench

    # fake cumulative cpu counters, /proc/stat-shaped: 100 jiffies per
    # sample tick, steal 40/tick only while the main thread holds the
    # burst flag up -- so burst attribution follows wall-clock exactly
    # like a real co-tenant window does
    burst_on = {"flag": False}

    def fake_read_cpu():
        fake_read_cpu.total += 100
        fake_read_cpu.steal += 40 if burst_on["flag"] else 0
        return fake_read_cpu.total, fake_read_cpu.steal

    fake_read_cpu.total = 0
    fake_read_cpu.steal = 0

    sampler = bench.StealSampler(interval_s=0.02)
    sampler._read_cpu = fake_read_cpu

    # Event-driven windows (not fixed sleeps): under heavy machine load
    # -- e.g. the subprocess bench tests in this module -- the sampler
    # thread can be starved, so waiting for SAMPLE COUNTS keeps each
    # window guaranteed non-empty without timing sensitivity.
    def wait_for_samples(n: int, timeout_s: float = 30.0) -> None:
        deadline = _time.time() + timeout_s
        while len(sampler.samples) < n and _time.time() < deadline:
            _time.sleep(0.01)
        assert len(sampler.samples) >= n, (
            f"sampler produced {len(sampler.samples)} < {n} samples "
            f"in {timeout_s}s"
        )

    t0 = _time.time()
    sampler.start()
    wait_for_samples(4)  # quiet window: fake query A
    a_end = _time.time()
    burst_on["flag"] = True
    wait_for_samples(len(sampler.samples) + 6)  # burst window: fake query B
    b_end = _time.time()
    burst_on["flag"] = False
    samples = sampler.stop()
    assert len(samples) >= 8, samples

    quiet = bench.steal_max_in_window(samples, t0, a_end)
    burst = bench.steal_max_in_window(samples, a_end, b_end)
    # the burst window reads ~40% steal; the quiet window ~0 -- the
    # artifact's spread[name]["steal_max"] is this exact computation
    assert burst is not None and burst >= 20.0, (burst, samples)
    assert quiet is None or quiet <= 5.0, (quiet, samples)


def test_profile_covers_every_headline_query():
    """PROFILE.json (tools/query_profile.py) has an error-free row for
    every bench.HEADLINE query, with both phases' counters and stage
    rows, so the committed profile cannot silently fall behind the
    headline."""
    sys.path.insert(0, REPO)
    import bench

    with open(os.path.join(REPO, "PROFILE.json")) as fh:
        profile = json.load(fh)
    meta, rows = profile["meta"], profile["queries"]
    assert meta["errors"] == []
    for key in ("nproc", "git_rev", "steal_max_pct"):
        assert meta[key] is not None, key
    assert set(bench.HEADLINE) <= set(rows)
    counters = ("jobs", "tasks", "executor_run_ms", "executor_cpu_ms",
                "shuffle_bytes", "spill_bytes", "gc_ms", "driver_ms", "stages")
    for name in bench.HEADLINE:
        row = rows[name]
        assert "error" not in row, (name, row.get("error"))
        for key in ("construction_ms", "action_ms", "persistent_rdds",
                    "storage_memory_bytes"):
            assert row[key] >= 0, (name, key)
        for phase in ("construction", "action"):
            assert all(k in row[phase] for k in counters), (name, phase)
            stages = row[phase]["stages"]
            assert sum(s["tasks"] for s in stages) == row[phase]["tasks"], (name, phase)
