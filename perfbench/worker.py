"""One benchmark run, in the fresh process ``run.py`` starts.

Order of a run: set up (fixtures, ``get_spark``, warmup), the timed
window, the final answers, then the output checks, which run outside
both the window and ``setup_s``. End-to-end metrics come from runs with
``--trace 0``; ``--trace 1`` records spans and engine counters and
prints the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import catalog  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
from checks import Oracles, check_request, check_table  # noqa: E402
from tracing import Tracer, engine_snapshot, engine_totals, progress_listener  # noqa: E402

PKG = "fantasy_premier_league_spark"
FIXTURE_SCALE = 10
STREAM_RATE = 4.0  # matches per second, mean of the open loop
TRIGGER_S = 5  # the reference's DStream batch interval
# Spark fires processing-time triggers at wall-clock multiples of the
# interval; arrivals start this far past one, so the batch boundaries
# fall at the same place in every run's schedule
PHASE_S = 0.5
ALL_FILES = 1 << 20  # maxFilesPerTrigger: each trigger takes every new file
FIXED_REQUESTS = (
    ("predict_win", "req1_valid.json"),
    ("player_profile", "req2_profile.json"),
    ("match_details", "req3_match.json"),
)

now = time.monotonic


class Run:
    """State shared by the phases of one run."""

    def __init__(self, args):
        self.args = args
        self.tracer = Tracer(args.trace == 1)
        self.layer: dict[str, float] = {}
        self.info: dict = {}
        self.attempted = 0
        self.failures: list[str] = []

    def fail(self, what: str) -> None:
        self.failures.append(what[:300])

    @property
    def failed_frac(self) -> float:
        return len(self.failures) / max(1, self.attempted)

    def timed(self, name: str, fn, *a, **kw):
        """Call fn and record its wall time (ms) as the layer metric ``name``."""
        t = now()
        out = fn(*a, **kw)
        self.layer[name] = 1000.0 * (now() - t)
        return out


def setup_session(run: Run):
    """Fixtures, then get_spark, then the layer modules (wrapped when
    tracing). operators/pipeline.py binds SPARK_GRAFT_FPL_FIXTURES at
    import, so the variable is set before any layer module is imported."""
    from fantasy_premier_league_spark.sources import fpl_fixtures

    run.tracer.wrap(f"{PKG}.sources.fpl_fixtures", ["ensure_fixtures"])
    fixtures = run.timed("setup.fixtures_ms", fpl_fixtures.ensure_fixtures, FIXTURE_SCALE)
    os.environ["SPARK_GRAFT_FPL_FIXTURES"] = fixtures
    from fantasy_premier_league_spark import session

    run.tracer.wrap(f"{PKG}.session", ["get_spark"])
    spark = run.timed("setup.session_ms", session.get_spark, "perfbench")
    import fantasy_premier_league_spark.operators.api  # noqa: F401
    import fantasy_premier_league_spark.streaming.pipeline  # noqa: F401
    import fantasy_premier_league_spark.streaming.queries  # noqa: F401

    run.tracer.wrap(f"{PKG}.operators.api", catalog.REQUEST_TYPES)
    run.tracer.wrap(f"{PKG}.operators.pipeline", catalog.PIPELINE_FNS)
    run.tracer.wrap(
        f"{PKG}.streaming.pipeline",
        ["stream_source", "streaming_player_state", "make_state_sink", "run_ingest_sinks"],
    )
    run.tracer.wrap(f"{PKG}.streaming.queries", ["t16_serve"])
    return spark, fixtures


def _mod(name: str):
    return sys.modules[f"{PKG}.{name}"]


# ---------------------------------------------------------------- requests


def call_request(spark, kind: str, arg):
    api = _mod("operators.api")
    return getattr(api, kind)(spark, arg)


def request_file(run: Run, op: str, kind: str, arg) -> str:
    """The request as the registered oracle reads it from disk."""
    payload = {"req_type": 2, "name": arg} if kind == "player_profile" else arg
    path = os.path.join(run.args.run_dir, f"{op}.json")
    with open(path, "w") as fh:
        json.dump(payload, fh)
    return path


def check_responses(run: Run, results: list[dict], facts, oracle_rows) -> None:
    """Count each response as one attempted operation, failed if the call
    raised or any check found a problem."""
    for r in results:
        run.attempted += 1
        problems = [r["err"]] if r["err"] else check_request(r, r["resp"], facts, oracle_rows(r))
        if problems:
            run.fail(f"{r['op']} {r['type']}: " + "; ".join(problems))


def run_requests(run: Run) -> dict:
    spark, fixtures = setup_session(run)
    sc = spark.sparkContext
    facts = gen.load_facts(fixtures)
    mix = gen.request_mix(run.args.seed, facts)
    fixed = []
    for kind, fname in FIXED_REQUESTS:
        with open(os.path.join(fixtures, "requests", fname)) as fh:
            req = json.load(fh)
        fixed.append({"type": kind, "valid": True,
                      "arg": req["name"] if kind == "player_profile" else req})

    def one(item, op):
        run.tracer.op = op
        if run.tracer.enabled:
            t_tr = time.perf_counter()
            sc.setJobGroup(op, op)
            run.tracer.overhead_s += time.perf_counter() - t_tr
        w0, t0 = time.time(), now()
        try:
            resp, err = call_request(spark, item["type"], item["arg"]), None
        except Exception as exc:  # noqa: BLE001 - a failed request is a measured outcome
            resp, err = None, f"{type(exc).__name__}: {exc}"
        t1, w1 = now(), time.time()
        if run.tracer.enabled:
            t_tr = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            run.tracer.overhead_s += time.perf_counter() - t_tr
        return {**item, "op": op, "resp": resp, "err": err,
                "ms": 1000.0 * (t1 - t0), "wall": (w0, w1)}

    t = now()
    warm = [one(item, f"warm-{item['type']}") for item in fixed]
    run.layer["setup.warmup_ms"] = 1000.0 * (now() - t)

    window0 = now()
    run.info["setup_s"] = window0 - run.args.t_spawn
    deadline = window0 + run.args.seconds
    done = []
    while now() < deadline:
        done.append(one(mix[len(done)], f"req-{len(done)}"))
    window_s = now() - window0
    final0 = now()
    final = [one(next(f for f in fixed if f["type"] == "predict_win"), "final-predict_win")]
    final_s = now() - final0
    run.tracer.op = None

    engine = engine_snapshot(spark) if run.tracer.enabled else None
    oracles = Oracles(run.args.cache_dir, fixtures, os.path.join(run.args.run_dir, "duckdb"))
    oracles.materialize()
    check_responses(
        run, warm + done + final, facts,
        lambda r: oracles.request_rows(r["type"], request_file(run, r["op"], r["type"], r["arg"])),
    )
    oracles.close()

    valid = {t: [r["ms"] for r in done if r["type"] == t and r["valid"]]
             for t in catalog.REQUEST_TYPES}
    run.info["samples"] = {t: len(v) for t, v in valid.items()}
    run.info["requests"] = [(r["op"], r["type"], r["valid"], round(r["ms"], 1))
                            for r in warm + done + final]
    tail = stats.tail([r["ms"] for r in done])
    run.info["tail"] = None if tail is None else {"pct": tail[0], "ms": tail[1], "n": len(done)}
    e2e = {
        "setup_s": run.info["setup_s"],
        "p50_ms": stats.balanced(valid, 50),
        "p90_ms": stats.balanced(valid, 90),
        "final_s": final_s,
    }
    if run.tracer.enabled:
        layer = run.layer
        for t in catalog.REQUEST_TYPES:
            layer[f"api.{t}.p50_ms"] = stats.p50(valid[t])
            calls = [r for r in done if r["type"] == t and r["valid"]]
            per_call = [engine_totals([j for j in engine[0] if j["group"] == r["op"]],
                                      engine[1], *r["wall"]) for r in calls]
            for k in ("driver_ms", "jobs", "tasks", "executor_run_ms", "shuffle_bytes"):
                layer[f"api.{t}.{k}"] = _mean([c[k] for c in per_call])
        layer["api.final.predict_win_ms"] = final[0]["ms"]
        layer["api.invalid.p50_ms"] = stats.p50([r["ms"] for r in done if not r["valid"]])
        layer["api.requests_per_s"] = len(done) / window_s
        ops = {r["op"] for r in done}
        per_op = [engine_totals([j for j in engine[0] if j["group"] == r["op"]],
                                engine[1], *r["wall"]) for r in done]
        _engine_layer(layer, per_op)
        _pipeline_layer(run, ops, len(done))
        run.layer["trace.overhead_pct"] = 100.0 * run.tracer.overhead_s / (window_s + final_s)
    return e2e


# ------------------------------------------------------------------ stream


def _stream_query(spark, src: str, out: str, sink, trigger: dict):
    sp = _mod("streaming.pipeline")
    return (
        sp.streaming_player_state(sp.stream_source(spark, src, max_files_per_trigger=ALL_FILES))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(out, "_ckpt_state"))
        .trigger(**trigger)
        .start()
    )


def _ingest_and_serve(run: Run, spark, src: str, out: str) -> tuple[list, list, dict]:
    """run_ingest_sinks drained over ``src``, then t16_serve collected;
    returns the served columns and rows and the two wall times (ms)."""
    sp, sq = _mod("streaming.pipeline"), _mod("streaming.queries")
    t = now()
    sp.run_ingest_sinks(
        sp.stream_source(spark, src, max_files_per_trigger=ALL_FILES),
        out, os.path.join(out, "_ckpt_ingest"),
    ).awaitTermination()
    ingest_ms = 1000.0 * (now() - t)
    t = now()
    with run.tracer.span("serve.collect"):
        served = sq.t16_serve(spark, out)
        rows = [tuple(r) for r in served.collect()]
    walls = {"stream.ingest_ms": ingest_ms, "stream.serve_ms": 1000.0 * (now() - t)}
    return served.columns, rows, walls


def stream_pass(run: Run, spark, tag: str, matches: list[dict], due: list[float]) -> dict:
    """Publish the ``matches``' files at ``due`` offsets into a fresh
    source dir while the fold commits on the 5 s trigger; wait for the
    last commit."""
    import pyarrow.dataset as ds

    base = os.path.join(run.args.run_dir, tag)
    src, out = os.path.join(base, "src"), os.path.join(base, "out")
    os.makedirs(src)
    marks, sink_times = [], {}
    real = _mod("streaming.pipeline").make_state_sink(
        os.path.join(out, "rating"), os.path.join(out, "profile"), marks=marks
    )

    def sink(batch_df, batch_id):
        t = now()
        with run.tracer.span("streaming.pipeline.state_sink", op=f"{tag}-batch-{batch_id}"):
            real(batch_df, batch_id)
        sink_times[batch_id] = (t, now())

    query = _stream_query(spark, src, out, sink, {"processingTime": f"{TRIGGER_S} seconds"})
    ready = now()
    wall = time.time()
    start_wall = (wall // TRIGGER_S + 1) * TRIGGER_S + PHASE_S
    plan = {
        "t0": ready + (start_wall - wall),
        "files": [[m["file"], os.path.join(src, os.path.basename(m["file"])), d]
                  for m, d in zip(matches, due)],
        "out": os.path.join(base, "published.json"),
    }
    plan_path = os.path.join(base, "plan.json")
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    t0 = plan["t0"]
    wall0 = time.time() + (t0 - now())
    publisher = subprocess.Popen([sys.executable, os.path.join(HERE, "publisher.py"), plan_path])
    if publisher.wait() != 0:
        raise RuntimeError("publisher failed")
    query.processAllAvailable()
    query.stop()
    with open(plan["out"]) as fh:
        published = json.load(fh)

    # which batch committed each match, read back from the K4 rating sink
    table = ds.dataset(os.path.join(out, "rating"), partitioning="hive").to_table(
        columns=["batch_id", "matchId", "playerId"]
    )
    batch_of: dict[int, set] = {}
    pairs = set()
    for b, m, p in zip(*(table.column(c).to_pylist() for c in ("batch_id", "matchId", "playerId"))):
        batch_of.setdefault(m, set()).add(b)
        if (p, m) in pairs:
            run.fail(f"{tag}: rating row ({p}, {m}) committed twice")
        pairs.add((p, m))
    match_ids = [m["wyId"] for m in matches]
    latencies, queue_due = [], []
    for mid, d in zip(match_ids, due):
        run.attempted += 1
        batches = batch_of.get(mid, set())
        if len(batches) != 1 or min(batches) not in sink_times:
            run.fail(f"{tag}: match {mid} committed in batches {sorted(batches)}")
            continue
        b = min(batches)
        latencies.append(1000.0 * (sink_times[b][1] - (t0 + d)))
        queue_due.append((b, wall0 + d))
    extra = set(batch_of) - set(match_ids)
    if extra:
        run.fail(f"{tag}: unpublished matches committed: {sorted(extra)[:5]}")

    # backlog just before each commit: visible but not yet committed
    committed, backlog = 0, 0
    per_batch = {}
    for mid in match_ids:
        for b in batch_of.get(mid, ()):
            per_batch[b] = per_batch.get(b, 0) + 1
    for b in sorted(sink_times, key=lambda k: sink_times[k][1]):
        visible = sum(1 for t in published if t <= sink_times[b][1])
        backlog = max(backlog, visible - committed)
        committed += per_batch.get(b, 0)
    return {
        "src": src, "out": out, "latencies": latencies, "sink_times": sink_times,
        "marks": marks, "queue_due": queue_due, "query_id": str(query.id),
        "late_max_ms": max(1000.0 * (p - (t0 + d)) for p, d in zip(published, due)),
        "backlog_max": backlog, "t0": t0, "wall0": wall0, "ready": ready,
        "last_commit": max(t for _, t in sink_times.values()),
    }


def _warm_stream(run: Run, spark, matches: list[dict], tag: str) -> None:
    """The timed path once over two matches in its own dirs: the
    stateful fold and the state sink. The ingest drain and the serve
    query run once per run after the window, so their first-run cost
    stays in ``final_s``."""
    base = os.path.join(run.args.run_dir, tag)
    src, out = os.path.join(base, "src"), os.path.join(base, "out")
    os.makedirs(src)
    for m in matches:
        shutil.copy(m["file"], src)
    sink = _mod("streaming.pipeline").make_state_sink(
        os.path.join(out, "rating"), os.path.join(out, "profile")
    )
    _stream_query(spark, src, out, sink, {"availableNow": True}).awaitTermination()


def run_stream(run: Run) -> dict:
    spark, fixtures = setup_session(run)
    facts = gen.load_facts(fixtures)
    n = min(len(facts.matches), round(STREAM_RATE * run.args.seconds))
    due = gen.arrival_offsets(run.args.seed, n, run.args.seconds)

    t = now()
    _warm_stream(run, spark, facts.matches[-2:], "warm")
    run.layer["setup.warmup_ms"] = 1000.0 * (now() - t)
    records: list[dict] = []
    if run.tracer.enabled:
        spark.streams.addListener(progress_listener(records, run.tracer))

    main = stream_pass(run, spark, "main", facts.matches[:n], due)
    # set-up ends when the query is running; the wait for the trigger
    # phase before the first arrival is the schedule's, not the program's
    run.info["setup_s"] = main["ready"] - run.args.t_spawn
    columns, rows, walls = _ingest_and_serve(run, spark, main["src"], main["out"])
    run.layer.update(walls)
    final_s = now() - main["last_commit"]
    window_s = main["last_commit"] - main["t0"]

    engine = engine_snapshot(spark) if run.tracer.enabled else None
    oracles = Oracles(run.args.cache_dir, fixtures, os.path.join(run.args.run_dir, "duckdb"))
    run.attempted += 1
    for problem in check_table(columns, rows, oracles.t16_rows(os.path.join(main["src"], "*.jsonl"))):
        run.fail(f"t16_serve: {problem}")
    oracles.close()

    lat = main["latencies"]
    tail = stats.tail(lat)
    run.info["samples"] = {"match_commit": len(lat)}
    run.info["batches"] = {b: round(t1 - main["t0"], 3) for b, (_, t1) in main["sink_times"].items()}
    run.info["tail"] = None if tail is None else {"pct": tail[0], "ms": tail[1], "n": len(lat)}
    e2e = {
        "setup_s": run.info["setup_s"],
        "p50_ms": stats.balanced({"match_commit": lat}, 50),
        "p90_ms": stats.balanced({"match_commit": lat}, 90),
        "final_s": final_s,
    }
    if run.tracer.enabled:
        _stream_layer(run, main, records)
        t_lo = main["wall0"]
        t_hi = t_lo + window_s
        jobs = [j for j in engine[0] if j["start"] is not None and t_lo <= j["start"] <= t_hi]
        n_batches = max(1, len(main["sink_times"]))
        totals = engine_totals(jobs, engine[1], t_lo, t_hi)
        _engine_layer(run.layer, [{k: v / n_batches for k, v in totals.items()}])
        ops = {s["op"] for s in run.tracer.closed_spans() if str(s["op"]).startswith("main-batch")}
        _pipeline_layer(run, ops, n_batches)
        run.layer["trace.overhead_pct"] = 100.0 * run.tracer.overhead_s / (window_s + final_s)
        local1_baseline(run, spark, facts, due)
    return e2e


def _stream_layer(run: Run, main: dict, records: list[dict]) -> None:
    layer = run.layer
    recs = [r for r in records if r["id"] == main["query_id"] and r["rows"] > 0]
    for key, field in (("trigger", "triggerExecution"), ("addbatch", "addBatch"),
                       ("planning", "queryPlanning"), ("walcommit", "walCommit"),
                       ("latestoffset", "latestOffset")):
        layer[f"stream.{key}_ms_p50"] = stats.p50([r["duration"].get(field, 0) for r in recs])
    layer["stream.trigger_ms_max"] = max((r["duration"].get("triggerExecution", 0) for r in recs), default=0)
    layer["stream.sink_ms_p50"] = stats.p50([1000.0 * (e - s) for s, e in main["sink_times"].values()])
    layer["stream.sink_rating_ms_p50"] = stats.p50([1000.0 * m["rating_s"] for m in main["marks"]])
    layer["stream.sink_merge_ms_p50"] = stats.p50([1000.0 * m["merge_s"] for m in main["marks"]])
    layer["stream.batches"] = len(main["sink_times"])
    layer["stream.input_rows_per_batch_p50"] = stats.p50([r["rows"] for r in recs])
    layer["stream.state_rows"] = recs[-1]["state_rows"] if recs else 0
    layer["stream.state_mem_bytes"] = recs[-1]["state_mem"] if recs else 0
    starts = {r["batch"]: _iso_epoch(r["timestamp"]) for r in recs}
    layer["stream.queue_wait_ms_p50"] = stats.p50(
        [1000.0 * (starts[b] - d) for b, d in main["queue_due"] if b in starts]
    )
    layer["gen.late_max_ms"] = main["late_max_ms"]
    layer["gen.backlog_max"] = main["backlog_max"]


def local1_baseline(run: Run, spark, facts, due: list[float]) -> None:
    """The same stream at local[1] over the first half of the window, as
    the single-thread baseline (per-layer only)."""
    spark.stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    spark = _mod("session").get_spark("perfbench-local1")
    half = [d for d in due if d < run.args.seconds / 2]
    _warm_stream(run, spark, facts.matches[-2:], "local1-warm")
    res = stream_pass(run, spark, "local1", facts.matches[: len(half)], half)
    run.layer["stream.local1.commit_p50_ms"] = stats.p50(res["latencies"])
    run.layer["stream.local1.commit_p90_ms"] = (
        stats.percentile(res["latencies"], 90) if res["latencies"] else 0.0
    )
    run.layer["stream.local1.backlog_max"] = res["backlog_max"]


def _iso_epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# ------------------------------------------------------------ shared layer


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _engine_layer(layer: dict, per_op: list[dict]) -> None:
    for k in ("jobs", "tasks", "executor_run_ms", "executor_cpu_ms", "shuffle_bytes",
              "spill_bytes", "gc_ms", "driver_ms"):
        layer[f"engine.{k}_per_op"] = _mean([o[k] for o in per_op])


def _pipeline_layer(run: Run, ops: set, n_ops: int) -> None:
    spans = [s for s in run.tracer.closed_spans() if s["op"] in ops]
    self_ms = run.tracer.self_ms()
    for fn in catalog.PIPELINE_FNS:
        calls = sum(1 for s in spans if s["name"] == f"operators.pipeline.{fn}")
        run.layer[f"pipeline.{fn}.calls_per_op"] = calls / max(1, n_ops)
    build = sum(self_ms[s["id"]] for s in spans if s["name"].startswith("operators.pipeline."))
    run.layer["pipeline.build_ms_per_op"] = build / max(1, n_ops)


# -------------------------------------------------------------------- main


def git_rev() -> str | None:
    """HEAD of the checkout, or None when it is not a git work tree (git
    would otherwise search the parent directories)."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def stop_spark() -> None:
    """Stop the session and wait for the JVM the gateway launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(catalog.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--t-spawn", type=float, required=True)
    p.add_argument("--run-dir", required=True)
    p.add_argument("--cache-dir", required=True)
    p.add_argument("--out-dir", required=True)
    p.add_argument("--result", required=True)
    args = p.parse_args(argv)
    run = Run(args)
    from bench import StealSampler

    sampler = StealSampler().start()
    try:
        e2e = {"requests": run_requests, "stream": run_stream}[args.workload](run)
    finally:
        steal = [pct for _, pct in sampler.stop()]
        stop_spark()
    run.layer["host.steal_max_pct"] = max(steal, default=0.0)
    run.layer["host.steal_mean_pct"] = _mean(steal)
    run.layer["failed_frac"] = run.failed_frac
    if args.trace == 0:
        wanted, source = catalog.END_TO_END, e2e
    else:
        # a layer this workload does not exercise reads 0; one it does
        # exercise must have been measured
        wanted, source = catalog.PER_LAYER, run.layer
        missing = [n for n, spec in wanted.items()
                   if args.workload in spec[3] and n not in source]
        if missing:
            raise RuntimeError(f"per-layer metrics not measured: {missing}")
    metrics = {
        name: {"value": float(source.get(name, 0.0)), "unit": wanted[name][0]}
        for name in wanted
    }
    import pyspark

    info = {
        **run.info,
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__, "python": platform.python_version(),
        "git_rev": git_rev(), "failures": run.failures[:20], "e2e": e2e,
        "steal_max_pct": run.layer["host.steal_max_pct"],
        "steal_mean_pct": run.layer["host.steal_mean_pct"],
        "layer": run.layer if args.trace else None,
    }
    stem = os.path.join(args.out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if run.tracer.enabled:
        run.tracer.write(stem + ".spans.json", {"info": info})
    with open(stem + ".json", "w") as fh:
        json.dump(info, fh, indent=1, default=str)
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
