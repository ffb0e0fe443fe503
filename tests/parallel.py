"""Threaded fan-out for the differential suites (r18, guide §2.6
"overlap independent jobs" applied to the test harness itself).

The oracle-parity and fuzz suites are hundreds of INDEPENDENT
Spark-vs-DuckDB comparisons run sequentially by pytest; each one leaves
local[32] nearly idle (small data, fixed per-query scheduling cost), so
the suite's wall is ~N x per-case fixed cost -- 16:31 in the r17 driver
verify, which overran the driver's budget and recorded tests_ok:false
with zero failures (VERDICT r17 item #1). Spark's scheduler happily
runs concurrent jobs from driver threads, and DuckDB cursors share one
catalog, so the cases fan out across a small thread pool and each
pytest test then just asserts its own precomputed outcome: same test
count, same per-case attribution (the stored exception re-raises inside
the owning test), a fraction of the wall.

Safety notes, checked against the code rather than assumed:
- temp-view races: sql_frontend queries and the fuzz lateral axis's
  `range_sql` shape (tests/fuzz_grammar.py, view ``lat_sql_<table>``)
  create temp views, always CREATE OR REPLACE with definitions that
  are identical for one name within one suite (same sf_dir, same
  table), and spark.sql() resolves views at analysis time, so a
  concurrent identical replace cannot change any result;
- scoped session confs (sized_loop_partitions et al.) are performance
  keys (shuffle.partitions); a cross-thread overlap can only move
  partition counts, never rows;
- streaming queries use per-run temp dirs and clone the session at
  start (the t16 concurrent-drain precedent);
- DuckDB: the shared connection is never used concurrently -- every
  worker opens its own cursor (same catalog, thread-local state).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor

# modest default: enough to hide per-case fixed cost, not enough to
# oversubscribe local[32] or distort any timing-sensitive stream test
DEFAULT_WORKERS = int(os.environ.get("SPARK_GRAFT_TEST_PAR", "8"))


def fan_out(
    cases: Iterable[tuple[object, Callable[[], object]]],
    max_workers: int | None = None,
) -> dict[object, tuple[str, object]]:
    """Run ``thunk()`` for every ``(key, thunk)`` across a thread pool.

    Returns ``{key: ("ok", value) | ("err", exception)}`` -- exceptions
    are captured per case so the owning pytest test can re-raise them
    with full attribution (and ``-x`` still stops at the first failing
    TEST, in deterministic parametrize order).
    """
    cases = list(cases)

    def run(case):
        key, thunk = case
        try:
            return key, ("ok", thunk())
        except Exception as exc:  # noqa: BLE001 -- re-raised in the test
            return key, ("err", exc)

    workers = max_workers or DEFAULT_WORKERS
    with ThreadPoolExecutor(max_workers=workers) as pool:
        return dict(pool.map(run, cases))


def unwrap(outcome: tuple[str, object]) -> object:
    """Return the stored value or re-raise the stored exception."""
    kind, val = outcome
    if kind == "err":
        raise val
    return val
