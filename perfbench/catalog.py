"""Every metric the benchmark prints, and what each per-layer metric
should move.

End-to-end metrics are measured on every workload, because every run
must print all of them. A per-layer metric is printed by every traced
run too; a layer that a workload does not exercise reads 0 there (zero
calls, zero time, zero batches).

``PER_LAYER`` writes down, before anything is measured, which
end-to-end metric on which workloads a change in each layer metric
should move.
"""

from __future__ import annotations

import re

from gen import REQUEST_TYPES

WORKLOADS = {
    "requests": "closed loop, 1 client: a seeded mix of the three ui.py "
    "requests over the x10 fixture; each answer is rebuilt from all events",
    "stream": "open loop at 4 matches/s: x10 match files published into a "
    "fresh source dir, folded and committed on a 5 s trigger",
}

# name -> (unit, better, bound, definition)
END_TO_END = {
    "setup_s": (
        "s", "lower", 0.25,
        "process start to the first timed operation: fixture generation, "
        "get_spark and warmup",
    ),
    "p50_ms": (
        "ms", "lower", 0.25,
        "median latency of an operation, balanced over operation types: the "
        "geometric mean of each type's median (requests: the three request "
        "types, valid path; stream: one type, scheduled publish of a match "
        "to the return of the sink call for its batch)",
    ),
    "p90_ms": (
        "ms", "lower", 0.25,
        "the same construction at the 90th percentile",
    ),
    "final_s": (
        "s", "lower", 0.25,
        "after the timed window, the time to the workload's final checked "
        "answer (requests: the fixture predict_win request; stream: from "
        "the last commit to a collected t16_serve table)",
    ),
}

BOTH = ("requests", "stream")
REQ = ("requests",)
STREAM = ("stream",)
PIPELINE_FNS = (
    "performance_df",
    "rating_trace_df",
    "chemistry_from_trace",
    "profile_df",
    "matches_df",
    "load_players",
)

# name -> (unit, better, moves, workloads, definition)
PER_LAYER: dict[str, tuple[str, str, str, tuple[str, ...], str]] = {}


def _layer(name, unit, better, moves, workloads, definition):
    PER_LAYER[name] = (unit, better, moves, workloads, definition)


# setup: session, sources.fpl_fixtures, warmup
_layer("setup.session_ms", "ms", "lower", "setup_s", BOTH,
       "wall time of session.get_spark")
_layer("setup.fixtures_ms", "ms", "lower", "setup_s", BOTH,
       "wall time of sources.fpl_fixtures.ensure_fixtures(10)")
_layer("setup.warmup_ms", "ms", "lower", "setup_s", BOTH,
       "wall time of the warmup operations")

# operators.api, per request type (valid path)
for _t in REQUEST_TYPES:
    _layer(f"api.{_t}.p50_ms", "ms", "lower", "p50_ms", REQ,
           f"median latency of a valid {_t} request")
    _layer(f"api.{_t}.driver_ms", "ms", "lower", "p50_ms", REQ,
           f"per {_t} call: wall time minus the union of its Spark job intervals")
    _layer(f"api.{_t}.jobs", "count", "lower", "p50_ms", REQ,
           f"Spark jobs per {_t} call")
    _layer(f"api.{_t}.tasks", "count", "lower", "p50_ms", REQ,
           f"Spark tasks per {_t} call")
    _layer(f"api.{_t}.executor_run_ms", "ms", "lower", "p50_ms", REQ,
           f"executor run time per {_t} call")
    _layer(f"api.{_t}.shuffle_bytes", "bytes", "lower", "p50_ms", REQ,
           f"shuffle read + write bytes per {_t} call")
_layer("api.final.predict_win_ms", "ms", "lower", "final_s", REQ,
       "latency of the fixture predict_win request answered after the window")
_layer("api.invalid.p50_ms", "ms", "lower", "p90_ms", REQ,
       "median latency of the invalid-team / unknown-player / missing-match path")
_layer("api.requests_per_s", "1/s", "higher", "p50_ms", REQ,
       "requests completed per second of the timed window")

# operators.pipeline, counted at the boundary the api calls through
for _f in PIPELINE_FNS:
    _layer(f"pipeline.{_f}.calls_per_op", "count", "lower", "p50_ms", BOTH,
           f"calls of operators.pipeline.{_f} per operation")
_layer("pipeline.build_ms_per_op", "ms", "lower", "p50_ms", BOTH,
       "self time of the operators.pipeline calls per operation: "
       "driver-side plan construction")

# streaming.pipeline: progress events, sink marks, state
for _k in ("trigger", "addbatch", "planning", "walcommit", "latestoffset"):
    _layer(f"stream.{_k}_ms_p50", "ms", "lower", "p50_ms", STREAM,
           f"median {_k} duration of a micro-batch (StreamingQueryListener)")
_layer("stream.trigger_ms_max", "ms", "lower", "p90_ms", STREAM,
       "longest micro-batch trigger execution")
_layer("stream.sink_ms_p50", "ms", "lower", "p50_ms", STREAM,
       "median wall time of one make_state_sink call")
_layer("stream.sink_rating_ms_p50", "ms", "lower", "p50_ms", STREAM,
       "median K4 rating write inside the sink (marks=)")
_layer("stream.sink_merge_ms_p50", "ms", "lower", "p50_ms", STREAM,
       "median K3 profile MERGE inside the sink (marks=)")
_layer("stream.batches", "count", "lower", "p50_ms", STREAM,
       "micro-batches that committed published matches")
_layer("stream.input_rows_per_batch_p50", "count", "higher", "p50_ms", STREAM,
       "median input rows of a micro-batch")
_layer("stream.state_rows", "count", "lower", "p50_ms", STREAM,
       "state rows of the stateful fold after the last batch")
_layer("stream.state_mem_bytes", "bytes", "lower", "p50_ms", STREAM,
       "state store memory after the last batch")
_layer("stream.queue_wait_ms_p50", "ms", "lower", "p50_ms", STREAM,
       "median time from a match's due time to the start of the trigger "
       "that picks it up; moves only if the trigger changes")
_layer("gen.late_max_ms", "ms", "lower", "p90_ms", STREAM,
       "how late the publisher ran; must stay well below p50_ms")
_layer("gen.backlog_max", "count", "lower", "p90_ms", STREAM,
       "most matches published but not yet committed; growth means the "
       "rate is unsustainable and p90_ms is invalid")
_layer("stream.ingest_ms", "ms", "lower", "final_s", STREAM,
       "run_ingest_sinks availableNow drain over the published matches")
_layer("stream.serve_ms", "ms", "lower", "final_s", STREAM,
       "streaming.queries.t16_serve built and collected")
for _k in ("commit_p50_ms", "commit_p90_ms"):
    _layer(f"stream.local1.{_k}", "ms", "lower", "p50_ms", STREAM,
           f"single-thread baseline (local[1], half window): {_k}")
_layer("stream.local1.backlog_max", "count", "lower", "p90_ms", STREAM,
       "single-thread baseline: most matches published but not committed")

# Spark engine, per operation (request, or micro-batch on stream)
for _k, _u, _d in (
    ("jobs", "count", "Spark jobs"),
    ("tasks", "count", "Spark tasks"),
    ("executor_run_ms", "ms", "executor run time"),
    ("executor_cpu_ms", "ms", "executor CPU time"),
    ("shuffle_bytes", "bytes", "shuffle read + write bytes"),
    ("spill_bytes", "bytes", "memory + disk spill bytes"),
    ("gc_ms", "ms", "executor JVM GC time"),
    ("driver_ms", "ms", "wall time outside any Spark job interval"),
):
    _layer(f"engine.{_k}_per_op", _u, "lower", "p50_ms", BOTH,
           f"{_d} per operation (a request, or a micro-batch on stream)")

# host and run validity
_layer("host.steal_max_pct", "%", "lower", "p90_ms", BOTH,
       "highest CPU steal sampled in the run, to explain noise")
_layer("host.steal_mean_pct", "%", "lower", "p50_ms", BOTH,
       "mean CPU steal sampled in the run")
_layer("trace.overhead_pct", "%", "lower", "p50_ms", BOTH,
       "tracer bookkeeping time as a share of the traced window")
_layer("failed_frac", "ratio", "lower", "p90_ms", BOTH,
       "failed or wrong operations over operations attempted")

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def benchmark_json(run_seconds: int) -> dict:
    """The BENCHMARK.json document this catalog describes."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": run_seconds,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound, _) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b}
            for n, (u, b, _, _, _) in PER_LAYER.items()
        ],
    }
