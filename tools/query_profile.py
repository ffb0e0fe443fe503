#!/usr/bin/env python
"""Profile the headline queries into PROFILE.json, one line per query.

    python tools/query_profile.py

No flags: bench.py's selection (``bench.HEADLINE`` or
$SPARK_GRAFT_BENCH_ONLY), data ($SPARK_GRAFT_SF_DIR, default sf0.1) and
cores ($SPARK_GRAFT_CPUS, read once at start). After bench's warm-up,
each query runs once to warm and once profiled under a job group named
after it, in two phases:

- construction: the Python call that returns the DataFrame, including
  any eager localCheckpoint/collect or stream drain inside it;
- action: the noop write.

Each phase carries its wall ms and the status-store counters of the
jobs that started inside it (``perfbench/tracing.py``
``engine_totals``), plus one row per stage; a stage counts in the first
phase whose jobs list it. Streaming micro-batches run under their
query's own job group, so a phase owns every job started in its window
(the queries run one at a time). The row ends with the persistent-RDD
count and storage memory the query left. The status store keeps only
1000 jobs and 1000 stages by default, so it is read after every query.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from perfbench.tracing import engine_snapshot, engine_totals  # noqa: E402

OUT = os.path.join(REPO, "PROFILE.json")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _rounded(counters: dict) -> dict:
    return {k: round(v, 1) if isinstance(v, float) else v for k, v in counters.items()}


def _phase(jobs, stages, lo: float, hi: float, claimed: set) -> dict:
    """Totals and stage rows of the jobs that started in [lo, hi); a
    stage already in ``claimed`` is left to the phase that ran it."""
    mine = [j for j in jobs if j["start"] is not None and lo <= j["start"] < hi]
    own = {sid: stages[sid] for j in mine for sid in j["stages"]
           if sid in stages and sid not in claimed}
    claimed.update(own)
    return {**_rounded(engine_totals(mine, own, lo, hi)),
            "stages": [{"id": sid, **_rounded(s)} for sid, s in sorted(own.items())]}


def profile_one(spark, name: str, fn, sf_dir: str) -> dict:
    sc = spark.sparkContext
    try:
        _noop(fn(spark, sf_dir))
        sc.setJobGroup(name, name)
        t0 = time.time()
        df = fn(spark, sf_dir)
        t1 = time.time()
        _noop(df)
        t2 = time.time()
    except Exception as exc:  # noqa: BLE001 - recorded in the row
        return {"error": f"{type(exc).__name__}: {exc}"[:300]}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs, stages = engine_snapshot(spark)
    claimed: set = set()
    execs = jsc.statusStore().executorList(True)
    return {
        "construction_ms": round(1000.0 * (t1 - t0), 1),
        "action_ms": round(1000.0 * (t2 - t1), 1),
        "construction": _phase(jobs, stages, t0, t1, claimed),
        "action": _phase(jobs, stages, t1, t2, claimed),
        "persistent_rdds": sc._jsc.getPersistentRDDs().size(),
        "storage_memory_bytes": sum(execs.apply(i).memoryUsed()
                                    for i in range(execs.size())),
    }


def profile_all(spark, queries, selected, sf_dir, repeats) -> dict:
    """Stands in for ``bench.measure_once`` inside ``bench.run_attempt``."""
    sampler = bench.StealSampler().start()
    rows, windows = {}, {}
    for name in selected:
        w0 = bench._wall_anchored_now()
        rows[name] = row = profile_one(spark, name, queries[name], sf_dir)
        windows[name] = (w0, bench._wall_anchored_now())
        print(name, row.get("error") or f"{row['construction_ms'] + row['action_ms']:.0f} ms",
              file=sys.stderr)
    samples = sampler.stop()
    for name, (w0, w1) in windows.items():
        rows[name]["steal_max"] = bench.steal_max_in_window(samples, w0, w1)
    return {"rows": rows, "steal_max_pct": max((p for _, p in samples), default=0.0),
            "steal_samples": len(samples)}


def main() -> None:
    if sys.argv[1:]:
        raise SystemExit("query_profile takes no arguments")
    from fantasy_premier_league_spark.plans.registry import all_queries
    from fantasy_premier_league_spark.session import default_parallelism

    nproc = default_parallelism()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", bench.DEFAULT_SF_DIR)
    queries = all_queries()
    selected, _ = bench._resolve_selected(queries)
    # run_attempt owns the session and bench's warm-up ladder; its
    # measuring pass is swapped for the profiler
    bench.measure_once = profile_all
    result = bench.run_attempt(queries, selected, sf_dir, 1)
    rev = subprocess.run(["git", "-C", REPO, "describe", "--always", "--dirty"],
                         capture_output=True, text=True).stdout.strip() or None
    rows = result.pop("rows")
    meta = {"sf_dir": os.path.basename(sf_dir.rstrip("/")), "nproc": nproc,
            "git_rev": rev, **result,
            "errors": sorted(n for n, r in rows.items() if "error" in r)}
    # one line per query, so two profiles diff query by query
    with open(OUT, "w") as fh:
        fh.write('{"meta": ' + json.dumps(meta) + ',\n "queries": {\n')
        fh.write(",\n".join(f"  {json.dumps(n)}: {json.dumps(r)}" for n, r in rows.items()))
        fh.write("\n }}\n")
    print(f"{OUT}: {len(rows)} queries, {len(meta['errors'])} errors", file=sys.stderr)


if __name__ == "__main__":
    main()
