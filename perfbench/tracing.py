"""Spans and engine counters for the traced run (``--trace 1``).

Spans are recorded only around calls the benchmark's own files make or
patch in: each wrapped function of a layer module becomes a span named
``<module>.<function>`` with start, end, parent span and operation id.
Spans stay in memory and are written out when the run ends. Engine
counters come from Spark's status store, read once at the end of the
run, and from a benchmark-registered StreamingQueryListener.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from contextlib import contextmanager

PACKAGE = "fantasy_premier_league_spark"


class Tracer:
    """Collects spans; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op = None  # operation id the main thread is working on
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op=None):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        # per thread: (span id, op id) of the open spans, innermost last
        stack = self._local.__dict__.setdefault("stack", [])
        parent, parent_op = stack[-1] if stack else (None, self.op)
        op_id = op if op is not None else parent_op
        with self._lock:
            sid = len(self.spans)
            self.spans.append(None)
        stack.append((sid, op_id))
        start = time.perf_counter()
        self.overhead_s += start - t_in
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans[sid] = {
                "id": sid, "name": name, "start": start, "end": end,
                "parent": parent, "op": op_id,
            }
            self.overhead_s += time.perf_counter() - end

    def wrap(self, module_name: str, fn_names) -> None:
        """Replace each function with a span-recording wrapper, in its
        module and wherever another package module imported it by name."""
        if not self.enabled:
            return
        module = sys.modules[module_name]
        short = module_name[len(PACKAGE) + 1:]
        for fn_name in fn_names:
            original = getattr(module, fn_name)
            wrapped = self._wrapped(f"{short}.{fn_name}", original)
            for mod_name, mod in list(sys.modules.items()):
                if mod_name.startswith(PACKAGE) and getattr(mod, fn_name, None) is original:
                    setattr(mod, fn_name, wrapped)

    def _wrapped(self, name: str, fn):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return call

    def closed_spans(self) -> list[dict]:
        return [s for s in self.spans if s is not None]

    def self_ms(self) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover."""
        spans = self.closed_spans()
        children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        return {
            s["id"]: 1000.0
            * (
                (s["end"] - s["start"])
                - union_length([(c["start"], c["end"]) for c in children.get(s["id"], [])],
                               s["start"], s["end"])
            )
            for s in spans
        }

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.closed_spans()}, fh)
            fh.write("\n")


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def engine_snapshot(spark) -> tuple[list[dict], dict[int, dict]]:
    """All retained jobs and stages from the in-process status store."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    jobs = []
    seq = store.jobsList(jvm.java.util.ArrayList())
    for i in range(seq.size()):
        j = seq.apply(i)
        ids = j.stageIds()
        jobs.append(
            {
                "group": j.jobGroup().get() if j.jobGroup().isDefined() else None,
                "start": _opt_ms(j.submissionTime()),
                "end": _opt_ms(j.completionTime()),
                "stages": [ids.apply(k) for k in range(ids.size())],
            }
        )
    stages: dict[int, dict] = {}
    seq = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    for i in range(seq.size()):
        s = seq.apply(i)
        if str(s.status()) == "SKIPPED":
            continue
        agg = stages.setdefault(
            s.stageId(),
            {"tasks": 0, "executor_run_ms": 0.0, "executor_cpu_ms": 0.0,
             "shuffle_bytes": 0, "spill_bytes": 0, "gc_ms": 0.0},
        )
        agg["tasks"] += s.numCompleteTasks()
        agg["executor_run_ms"] += s.executorRunTime()
        agg["executor_cpu_ms"] += s.executorCpuTime() / 1e6
        agg["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
        agg["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        agg["gc_ms"] += s.jvmGcTime()
    return jobs, stages


def engine_totals(jobs: list[dict], stages: dict[int, dict], t0: float, t1: float) -> dict:
    """Counters of the given jobs, plus wall time of [t0, t1] (wall-clock
    seconds) that no job interval covers."""
    out = {"jobs": len(jobs), "tasks": 0, "executor_run_ms": 0.0,
           "executor_cpu_ms": 0.0, "shuffle_bytes": 0, "spill_bytes": 0, "gc_ms": 0.0}
    seen = set()
    for j in jobs:
        for sid in j["stages"]:
            if sid in stages and sid not in seen:
                seen.add(sid)
                for k, v in stages[sid].items():
                    out[k] += v
    covered = union_length(
        [(j["start"], j["end"] if j["end"] is not None else t1) for j in jobs
         if j["start"] is not None],
        t0, t1,
    )
    out["driver_ms"] = 1000.0 * ((t1 - t0) - covered)
    return out


def progress_listener(records: list, tracer: Tracer):
    """A StreamingQueryListener appending one dict per progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            t = time.perf_counter()
            p = event.progress
            state = p.stateOperators[0] if p.stateOperators else None
            records.append(
                {
                    "id": str(p.id),
                    "batch": p.batchId,
                    "timestamp": p.timestamp,
                    "rows": p.numInputRows,
                    "duration": dict(p.durationMs),
                    "state_rows": state.numRowsTotal if state else 0,
                    "state_mem": state.memoryUsedBytes if state else 0,
                }
            )
            tracer.overhead_s += time.perf_counter() - t

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()
