"""Streaming tests (SURVEY 2.7 T1-T8): stream/batch parity for the
stateful tier, idempotent sinks, socket ingest, and watermark
semantics. Structured Streaming's unified-semantics promise is the
assertion: replaying the fixture stream must produce byte-identical
state to the batch pipeline."""

from __future__ import annotations

import json
import os
import socket
import threading
import time

import pytest

from fantasy_premier_league_spark.sources.fpl_fixtures import ensure_fixtures


@pytest.fixture()
def tmp_ckpt(tmp_path):
    return str(tmp_path / "ckpt")


def test_stateful_rating_matches_batch(spark):
    """applyInPandasWithState trace == batch applyInPandas trace (T5)."""
    from fantasy_premier_league_spark.operators.pipeline import (
        performance_df,
        rating_trace_df,
    )
    from fantasy_premier_league_spark.streaming.pipeline import (
        run_stream_to_memory,
        stream_source,
        streaming_player_state,
    )

    stream_dir = os.path.join(ensure_fixtures(), "stream")
    out = streaming_player_state(stream_source(spark, stream_dir))
    got = run_stream_to_memory(out, output_mode="append")
    stream_rows = {
        (r["playerId"], r["matchId"]): r for r in got.collect()
    }
    batch_rows = rating_trace_df(performance_df(spark)).collect()
    assert len(stream_rows) == len(batch_rows)
    for b in batch_rows:
        s = stream_rows[(b["playerId"], b["matchId"])]
        assert s["rating"] == pytest.approx(b["rating"], abs=1e-12)
        assert s["delta"] == pytest.approx(b["delta"], abs=1e-12)


def test_stateful_profile_matches_batch(spark):
    """Final per-player profile state == batch profile (A4 parity)."""
    from fantasy_premier_league_spark.operators.pipeline import profile_df
    from fantasy_premier_league_spark.streaming.pipeline import (
        run_stream_to_memory,
        stream_source,
        streaming_player_state,
    )

    stream_dir = os.path.join(ensure_fixtures(), "stream")
    out = streaming_player_state(stream_source(spark, stream_dir))
    got = run_stream_to_memory(out, output_mode="append")
    # last row per player = final cumulative state
    final = {}
    for r in got.collect():
        cur = final.get(r["playerId"])
        if cur is None or r["matchId"] > cur["matchId"]:
            final[r["playerId"]] = r
    for b in profile_df(spark).collect():
        s = final[b["playerId"]]
        assert s["fouls_total"] == b["fouls"]
        assert s["goals_total"] == b["goals"]
        assert s["own_goals_total"] == b["own_goals"]
        assert s["shots_on_target_total"] == b["shots_on_target"]
        assert s["pass_accuracy_mean"] == pytest.approx(b["pass_accuracy"], abs=1e-12)


def test_stream_folds_the_batch_chains_rows(spark, tmp_path, monkeypatch):
    """A counted (player, match) takes a rating step only where the
    player has a roster span: the stream reads each batch's spans, as
    the batch chain's J2 join does. In a copy of the fixture stream one
    player with events in a match is dropped from that match's lineup;
    both sides keep the row with a null teamId and delta and the rating
    unchanged, and agree on every FOLD_SCHEMA column."""
    import shutil

    from fantasy_premier_league_spark import schemas
    from fantasy_premier_league_spark.operators import pipeline
    from fantasy_premier_league_spark.streaming.pipeline import (
        run_stream_to_memory,
        stream_source,
        streaming_player_state,
    )

    stream = tmp_path / "stream"
    shutil.copytree(os.path.dirname(pipeline.STREAM_GLOB), stream)
    monkeypatch.setattr(pipeline, "STREAM_GLOB", str(stream / "*.jsonl"))
    path = sorted(stream.glob("*.jsonl"))[5]
    match, *events = path.read_text().splitlines()
    record = json.loads(match)
    lineup = next(iter(record["teamsData"].values()))["formation"]["lineup"]
    player = lineup.pop(0)["playerId"]
    assert any(json.loads(e)["playerId"] == player for e in events)
    # the file source takes files in modification-time order: keep the
    # edited match in its place
    mtime = path.stat().st_mtime_ns
    path.write_text("\n".join([json.dumps(record), *events]) + "\n")
    os.utime(path, ns=(mtime, mtime))

    def by_key(df):
        return {(r["playerId"], r["matchId"]): r.asDict() for r in df.collect()}

    batch = by_key(pipeline.player_fold_df(pipeline.performance_df(spark)))
    got = run_stream_to_memory(
        streaming_player_state(stream_source(spark, str(stream))), output_mode="append"
    )
    stream_rows = by_key(got)

    trace = sorted((m, r) for (p, m), r in stream_rows.items() if p == player)
    pos = next(i for i, (m, _) in enumerate(trace) if m == record["wyId"])
    assert pos > 0
    unfielded, before = trace[pos][1], trace[pos - 1][1]
    assert unfielded["delta"] is None and unfielded["teamId"] is None
    assert unfielded["rating"] == before["rating"]

    assert got.schema == schemas.FOLD_SCHEMA
    assert stream_rows.keys() == batch.keys()
    for key, b in batch.items():
        s = stream_rows[key]
        for col in schemas.FOLD_SCHEMA.fieldNames():
            if col in ("rating", "delta") and b[col] is not None:
                assert s[col] == pytest.approx(b[col], abs=1e-12), (key, col)
            else:
                assert s[col] == b[col], (key, col)


def test_t16_serve_reads_no_event_feed(spark, tmp_path):
    """t16_serve reads the K4 rating rows and the committed K3 profile
    snapshot only: each K4 row carries its roster span's teamId, so
    chemistry needs no join back to the event feed."""
    from fantasy_premier_league_spark.streaming.pipeline import (
        make_state_sink,
        stream_source,
        streaming_player_state,
    )
    from fantasy_premier_league_spark.streaming.queries import t16_serve

    out = tmp_path / "out"
    (
        streaming_player_state(
            stream_source(
                spark, os.path.join(ensure_fixtures(), "stream"), max_files_per_trigger=6
            )
        )
        .writeStream.foreachBatch(
            make_state_sink(str(out / "rating"), str(out / "profile"))
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    served = t16_serve(spark, str(out))
    files = served.inputFiles()
    assert files and served.count() > 0
    assert not [f for f in files if "/events/" in f]


def test_stream_fold_imports_skip_the_batch_pipeline():
    """The stream fold and the applyInPandas folds reach the shared FPL
    rules by reference inside Python workers. Importing them, or the
    streaming pipeline, must not import operators/pipeline.py, whose
    import generates the fixtures."""
    import subprocess
    import sys

    code = (
        "import sys\n"
        "import fantasy_premier_league_spark.functions.fpl_rules\n"
        "import fantasy_premier_league_spark.streaming.pipeline\n"
        "assert 'fantasy_premier_league_spark.operators.pipeline' not in sys.modules\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code], cwd=repo, check=True, timeout=120)


def test_streaming_match_counters_update_mode(spark):
    """A2 as an incremental agg == batch counters (T5/T6)."""
    from fantasy_premier_league_spark.operators.pipeline import (
        events_df,
        match_counters,
        metric_vectors,
    )
    from fantasy_premier_league_spark.streaming.pipeline import (
        run_stream_to_memory,
        stream_source,
        streaming_match_counters,
    )

    stream_dir = os.path.join(ensure_fixtures(), "stream")
    agg = streaming_match_counters(stream_source(spark, stream_dir, max_files_per_trigger=4))
    got = run_stream_to_memory(agg, output_mode="complete")
    stream_counts = {
        (r["playerId"], r["matchId"]): r for r in got.collect()
    }
    batch = match_counters(metric_vectors(events_df(spark))).collect()
    assert len(stream_counts) == len(batch)
    for b in batch:
        s = stream_counts[(b["playerId"], b["matchId"])]
        for col in ("goals", "fouls", "shots", "normal_passes", "total_duels"):
            assert s[col] == b[col]


def test_ingest_sinks_idempotent_partitions(spark, tmp_path):
    """K2/K3/T8: batch-id-partitioned appends; match log holds every
    match record exactly once."""
    from pyspark.sql import functions as F

    from fantasy_premier_league_spark.streaming.pipeline import (
        run_ingest_sinks,
        stream_source,
    )

    stream_dir = os.path.join(ensure_fixtures(), "stream")
    out_dir = str(tmp_path / "sinks")
    q = run_ingest_sinks(
        stream_source(spark, stream_dir), out_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    log = spark.read.parquet(os.path.join(out_dir, "match_log"))
    assert log.count() == 12  # one per fixture match
    assert log.select("wyId").distinct().count() == 12
    # one batch per match file (maxFilesPerTrigger=1)
    assert log.select("batch_id").distinct().count() == 12
    events = spark.read.parquet(os.path.join(out_dir, "events"))
    assert events.filter(F.col("playerId").isNull()).count() == 0
    # S5/S7 re-scan path: the sink is directly queryable (vs eval() of
    # text part-files in the reference, ui.py:88-98)
    total_events = events.count()
    assert total_events > 5000


def test_console_sink_drains(spark, tmp_path):
    """K1: the debug console sink runs a full availableNow drain of the
    fixture stream (master.py's .pprint() x8 observability role)."""
    from fantasy_premier_league_spark.streaming.pipeline import (
        console_sink,
        stream_source,
    )

    stream_dir = os.path.join(ensure_fixtures(), "stream")
    q = console_sink(
        stream_source(spark, stream_dir, max_files_per_trigger=12),
        str(tmp_path / "ckpt"),
        num_rows=1,
    )
    q.awaitTermination()
    assert q.lastProgress is not None


def test_socket_ingest(spark, tmp_ckpt):
    """S1: the reference's exact transport -- line-delimited JSON over a
    TCP socket -- parsed and discriminated by the streaming engine."""
    from fantasy_premier_league_spark.streaming.pipeline import socket_source

    lines = []
    stream_dir = os.path.join(ensure_fixtures(), "stream")
    with open(os.path.join(stream_dir, "match_00.jsonl")) as f:
        lines = f.read().splitlines()

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    port = server.getsockname()[1]
    server.listen(1)

    def serve():
        conn, _ = server.accept()
        with conn:
            payload = ("\n".join(lines) + "\n").encode()
            conn.sendall(payload)
            time.sleep(8)  # keep the socket open while batches drain

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    parsed = socket_source(spark, "127.0.0.1", port)
    counts = parsed.selectExpr(
        "count(wyId) AS n_matches", "count(eventId) AS n_events"
    )
    query = (
        counts.writeStream.format("memory")
        .queryName("socket_counts")
        .outputMode("complete")
        .option("checkpointLocation", tmp_ckpt)
        .start()
    )
    expected_events = len(lines) - 1
    deadline = time.time() + 60
    ok = False
    while time.time() < deadline:
        rows = spark.table("socket_counts").collect()
        if rows and rows[0]["n_matches"] == 1 and rows[0]["n_events"] == expected_events:
            ok = True
            break
        time.sleep(1)
    query.stop()
    server.close()
    assert ok, f"socket stream incomplete: {spark.table('socket_counts').collect()}"


def test_watermark_drops_late_data(spark, tmp_path):
    """T3: with a watermark, an event later than (max ts - delay) is
    dropped from the windowed aggregate -- the explicit late-data story
    the reference lacks (its reset hack silently discards state)."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "late_src")
    os.makedirs(src)
    # three files -> three micro-batches: the watermark the engine uses
    # to filter batch N is the one computed after batch N-1, so the
    # watermark must already be past the late window BEFORE the late
    # file's batch starts (one-batch propagation delay).
    batches = [
        [
            {"ts": "2024-01-01T10:00:00", "user_id": 1, "value": 1.0},
            {"ts": "2024-01-01T12:00:00", "user_id": 1, "value": 2.0},
        ],
        [{"ts": "2024-01-01T13:00:00", "user_id": 1, "value": 4.0}],
        [{"ts": "2024-01-01T00:30:00", "user_id": 1, "value": 99.0}],  # late
    ]
    for i, rows in enumerate(batches):
        with open(os.path.join(src, f"{chr(ord('a') + i)}.jsonl"), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(
            os.path.join(src, f"{chr(ord('a') + i)}.jsonl"),
            (time.time() + i * 5, time.time() + i * 5),
        )

    schema = "ts timestamp, user_id long, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "user_id")
        .agg(F.sum("value").alias("total"))
    )
    query = (
        stream.writeStream.format("memory")
        .queryName("late_agg")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    rows = spark.table("late_agg").collect()
    totals = {r["window"]["start"].hour: r["total"] for r in rows}
    assert 0 not in totals  # the late record never lands
    assert totals.get(10) == 1.0  # on-time window emitted once closed


def test_sinks_leave_session_overwrite_mode_unchanged(spark, tmp_path):
    """The batch_id-partitioned sinks ask for dynamic partition
    overwrite per write, never by setting the session conf. Inside a
    drain the sink sees the query's cloned session, so a conf set there
    leaks into every later write of that query; a sink called directly
    on a static batch (as below) would flip the caller's own session."""
    from fantasy_premier_league_spark.schemas import FOLD_SCHEMA
    from fantasy_premier_league_spark.streaming.pipeline import (
        make_state_sink,
        run_ingest_sinks,
        stream_source,
    )
    from fantasy_premier_league_spark.streaming.queries import (
        make_dedup_history_sink,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    # own SQL conf, so no earlier test's state decides the baseline
    sess = spark.newSession()
    before = sess.conf.get(key)

    out_dir = str(tmp_path / "ingest")
    run_ingest_sinks(
        stream_source(
            sess, os.path.join(ensure_fixtures(), "stream"), max_files_per_trigger=12
        ),
        out_dir,
        str(tmp_path / "ckpt"),
    ).awaitTermination()
    assert sess.read.parquet(os.path.join(out_dir, "match_log")).count() == 12

    rating_dir = str(tmp_path / "rating")
    state_sink = make_state_sink(rating_dir, str(tmp_path / "profile"))
    dedup_sink = make_dedup_history_sink(
        str(tmp_path / "history"), str(tmp_path / "accepted")
    )
    for batch_id in (0, 1):
        state_sink(
            sess.createDataFrame(
                [(7, batch_id, 10, 0.5, 0.0, 0.5, 1, 0, 0, 1)], FOLD_SCHEMA
            ),
            batch_id,
        )
        dedup_sink(
            sess.createDataFrame([(batch_id, f"doc {batch_id}")], "doc_id long, text string"),
            batch_id,
        )
    assert sess.conf.get(key) == before
    # each write replaced only its own batch_id partition
    for table in (rating_dir, str(tmp_path / "accepted")):
        got = sess.read.parquet(table).select("batch_id").distinct().collect()
        assert sorted(r[0] for r in got) == [0, 1]


def test_t16_leaves_the_callers_session_conf_alone(spark, monkeypatch):
    """t16 runs its state drain with 4 shuffle (= state) partitions. It
    must set them on a session clone: a query function that writes the
    caller's session conf changes every query running next to it.
    ``SparkSession.conf`` is cached per session, so the recorder below
    sees only writes to the caller's conf, not the clone's."""
    from fantasy_premier_league_spark.plans.registry import all_queries
    from tests.conftest import SF_SMOKE

    writes: list[tuple] = []
    monkeypatch.setattr(spark.conf, "set", lambda *kv: writes.append(kv))
    rows = all_queries()["t16_fpl_pipeline_roundtrip"](spark, SF_SMOKE)
    assert rows.count() > 0
    assert writes == []


def test_t16_leaves_no_listener_behind(spark):
    """Each t16 call drains its state on a session clone, and the
    stateful query runs on a clone of that; Spark registers a streaming
    listener bus for each and never removes it. t16 removes both, so
    the SparkContext's listener count stays flat across calls."""
    from fantasy_premier_league_spark.plans.registry import all_queries
    from tests.conftest import SF_SMOKE

    t16 = all_queries()["t16_fpl_pipeline_roundtrip"]
    bus = spark.sparkContext._jsc.sc().listenerBus()
    sizes = []
    for _ in range(3):
        assert t16(spark, SF_SMOKE).count() > 0
        sizes.append(bus.listeners().size())
    assert sizes == [sizes[0]] * 3


def test_stream_source_lists_one_directory(spark, tmp_path):
    """stream_source reads its directory with a ``*.jsonl`` name filter.
    40 match files (past ``parallelPartitionDiscovery.threshold``, 32,
    where a glob's one root path per file starts a distributed listing
    job at every trigger) drain with no listing job, and a file of
    another name (a publisher's temp copy) is never read."""
    import glob
    import shutil

    from fantasy_premier_league_spark.streaming.pipeline import (
        run_stream_to_memory,
        stream_source,
    )

    fixtures = sorted(glob.glob(os.path.join(ensure_fixtures(), "stream", "*.jsonl")))
    src = tmp_path / "src"
    src.mkdir()
    for i in range(40):
        shutil.copyfile(fixtures[i % len(fixtures)], src / f"match_{i:02d}.jsonl")
    shutil.copyfile(fixtures[0], src / "match_40.jsonl.tmp")
    lines = sum(len(p.read_text().splitlines()) for p in src.glob("*.jsonl"))

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def listing_jobs() -> set:
        seq = store.jobsList(sc._jvm.java.util.ArrayList())
        jobs = (seq.apply(i) for i in range(seq.size()))
        return {
            j.jobId()
            for j in jobs
            if j.description().isDefined()
            and j.description().get().startswith("Listing leaf files")
        }

    before = listing_jobs()
    got = run_stream_to_memory(
        stream_source(spark, str(src), max_files_per_trigger=10), output_mode="append"
    )
    assert got.count() == lines
    assert listing_jobs() - before == set()


def test_state_sink_keeps_an_absent_players_profile(spark, tmp_path):
    """K3: snapshot vN holds each player's latest row over v(N-1) and
    batch N, so a player absent from batch N keeps its v(N-1) row. The
    snapshot is written in PROFILE_SNAPSHOT_SCHEMA, the schema its
    readers pass."""
    from fantasy_premier_league_spark.schemas import FOLD_SCHEMA
    from fantasy_premier_league_spark.streaming.pipeline import (
        PROFILE_SNAPSHOT_SCHEMA,
        make_state_sink,
    )

    profile_root = tmp_path / "profile"
    sink = make_state_sink(str(tmp_path / "rating"), str(profile_root))

    def batch(*rows):
        # (playerId, matchId, fouls_total): one folded row each
        return spark.createDataFrame(
            [(p, m, 10, 0.5, 0.1, 70.0, f, 0, 0, 1) for p, m, f in rows],
            FOLD_SCHEMA,
        )

    def snapshot(version: str):
        df = spark.read.parquet(str(profile_root / version))
        return df.schema, sorted(tuple(r) for r in df.collect())

    sink(batch((1, 10, 1), (2, 10, 2), (2, 11, 3)), 0)
    sink(batch((1, 12, 4), (3, 12, 5)), 1)
    schema, v0 = snapshot("v00000")
    _, v1 = snapshot("v00001")
    assert [(f.name, f.dataType) for f in schema] == [
        (f.name, f.dataType) for f in PROFILE_SNAPSHOT_SCHEMA
    ]
    assert v0 == [(1, 10, 70.0, 1, 0, 0, 1), (2, 11, 70.0, 3, 0, 0, 1)]
    assert v1 == [
        (1, 12, 70.0, 4, 0, 0, 1),
        (2, 11, 70.0, 3, 0, 0, 1),
        (3, 12, 70.0, 5, 0, 0, 1),
    ]


def test_stop_on_error_stops_every_query_and_keeps_first_error():
    """The t16 concurrent-drain cleanup: when the block fails, every
    active query is stopped even if an earlier stop raises, and the
    block's own error is the one that propagates."""
    from fantasy_premier_league_spark.streaming.queries import stop_on_error

    class StubQuery:
        isActive = True

        def __init__(self) -> None:
            self.stop_calls = 0

        def stop(self) -> None:
            self.stop_calls += 1
            raise RuntimeError("stop failed")

    queries = [StubQuery(), StubQuery()]
    with pytest.raises(ValueError, match="drain failed") as info:
        with stop_on_error(queries):
            raise ValueError("drain failed")
    assert [q.stop_calls for q in queries] == [1, 1]
    assert len(info.value.__notes__) == 2


def test_state_sink_restart_idempotent(spark, tmp_path):
    """T8 under a REAL restart (VERDICT r8 #4, carried from r7 #8):
    crash the state query mid-ladder AFTER the K3/K4 sink wrote batch 2
    but BEFORE Structured Streaming committed its offsets -- the
    worst-case replay window -- then restart from the same checkpoint.
    The replayed batch_id must be deduped (K4 partition overwrite; K3
    committed-snapshot MERGE ignoring the crashed batch's own partial
    snapshot) and the final state must equal a clean uninterrupted run.
    """
    from pyspark.errors import StreamingQueryException

    from fantasy_premier_league_spark.streaming.pipeline import (
        make_state_sink,
        stream_source,
        streaming_player_state,
    )
    from fantasy_premier_league_spark.streaming.queries import t16_serve

    stream_dir = os.path.join(ensure_fixtures(), "stream")

    def run(ckpt: str, sink) -> None:
        (
            streaming_player_state(
                stream_source(spark, stream_dir, max_files_per_trigger=3)
            )
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    def snapshot(rating_dir: str, profile_root: str):
        import glob

        rating = sorted(
            tuple(r)
            for r in spark.read.parquet(rating_dir)
            .select("playerId", "matchId", "rating", "batch_id")
            .collect()
        )
        latest = sorted(glob.glob(os.path.join(profile_root, "v*")))[-1]
        profile = sorted(
            tuple(r) for r in spark.read.parquet(latest).collect()
        )
        return rating, profile

    # clean reference run
    ref_rating = str(tmp_path / "ref" / "rating")
    ref_profile = str(tmp_path / "ref" / "profile")
    run(str(tmp_path / "ref" / "ckpt"), make_state_sink(ref_rating, ref_profile))

    # crashed run: batch 2's sink work completes (rating partition +
    # profile snapshot), then its _SUCCESS marker is removed to model a
    # partial snapshot write, then the "process" dies before commit
    rating_dir = str(tmp_path / "crash" / "rating")
    profile_root = str(tmp_path / "crash" / "profile")
    ckpt = str(tmp_path / "crash" / "ckpt")
    real_sink = make_state_sink(rating_dir, profile_root)
    crashed = {"done": False}

    def crashing_sink(batch_df, batch_id):
        real_sink(batch_df, batch_id)
        if batch_id == 2 and not crashed["done"]:
            crashed["done"] = True
            os.remove(os.path.join(profile_root, "v00002", "_SUCCESS"))
            raise RuntimeError("injected crash after sink write, before commit")

    with pytest.raises(StreamingQueryException):
        run(ckpt, crashing_sink)
    assert crashed["done"], "crash was never injected; ladder shape changed?"

    # before the restart t16_serve must serve the last COMMITTED profile
    # snapshot (v00001), not the partial v00002 the crash left
    counts = ["fouls", "goals", "own_goals", "shots_on_target"]

    def by_player(df):
        return {r[0]: tuple(r[1:]) for r in df.select("playerId", *counts).collect()}

    served = by_player(t16_serve(spark, str(tmp_path / "crash")))
    committed = by_player(spark.read.parquet(os.path.join(profile_root, "v00001")))
    assert served and served == {p: committed.get(p) for p in served}

    # restart from the SAME checkpoint with the plain sink: batch 2
    # replays (same batch_id), then 3 runs fresh
    run(ckpt, real_sink)

    got_rating, got_profile = snapshot(rating_dir, profile_root)
    ref_rating_rows, ref_profile_rows = snapshot(ref_rating, ref_profile)
    assert got_rating == ref_rating_rows
    assert got_profile == ref_profile_rows
    # the replayed batch did not duplicate: one batch_id partition per
    # ladder rung, each (playerId, matchId) exactly once
    bids = sorted({r[3] for r in got_rating})
    assert bids == [0, 1, 2, 3]
    keys = [(r[0], r[1]) for r in got_rating]
    assert len(keys) == len(set(keys))


def test_dedup_history_restart_idempotent(spark, tmp_path):
    """T8 for the t18 dedup-history state under a REAL restart: crash
    the ingest mid-ladder AFTER batch 3's sink wrote its accepted
    partition and a PARTIAL history snapshot (no _SUCCESS), before
    Structured Streaming committed its offsets. On restart the replayed
    batch must ignore its own partial v00003 snapshot, re-read the
    committed v00002 base, reproduce the identical accept/reject
    decisions, and the final accepted table + history must equal a
    clean uninterrupted run."""
    from pyspark.errors import StreamingQueryException

    from fantasy_premier_league_spark.functions.tuning import scoped_conf
    from fantasy_premier_league_spark.streaming.queries import (
        make_dedup_history_sink,
        stage_crawl_stream,
    )

    SF = "/root/testdata/sf0.001"
    src = stage_crawl_stream(spark, SF, str(tmp_path))
    schema = spark.read.parquet(src).schema

    def run(ckpt: str, sink) -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        with scoped_conf(spark, "spark.sql.shuffle.partitions", "4"):
            (
                stream.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )

    def snapshot(hist_root: str, accepted: str):
        import glob

        acc = sorted(
            tuple(r)
            for r in spark.read.parquet(accepted)
            .select("doc_id", "digest", "batch_id")
            .collect()
        )
        latest = sorted(glob.glob(os.path.join(hist_root, "v*")))[-1]
        hist = sorted(r[0] for r in spark.read.parquet(latest).collect())
        return acc, hist

    # clean reference run
    ref_hist = str(tmp_path / "ref" / "history")
    ref_acc = str(tmp_path / "ref" / "accepted")
    run(str(tmp_path / "ref" / "ckpt"), make_dedup_history_sink(ref_hist, ref_acc))

    # crashed run: batch 3's sink work completes (accepted partition +
    # history v00003), then the snapshot's _SUCCESS marker is removed to
    # model a partial history write, then the "process" dies pre-commit
    hist_root = str(tmp_path / "crash" / "history")
    accepted = str(tmp_path / "crash" / "accepted")
    ckpt = str(tmp_path / "crash" / "ckpt")
    real_sink = make_dedup_history_sink(hist_root, accepted)
    crashed = {"done": False}

    def crashing_sink(batch_df, batch_id):
        real_sink(batch_df, batch_id)
        if batch_id == 3 and not crashed["done"]:
            crashed["done"] = True
            os.remove(os.path.join(hist_root, "v00003", "_SUCCESS"))
            raise RuntimeError("injected crash after sink write, before commit")

    with pytest.raises(StreamingQueryException):
        run(ckpt, crashing_sink)
    assert crashed["done"], "crash was never injected; ladder shape changed?"

    # restart from the SAME checkpoint: batch 3 replays (same batch_id,
    # same committed v00002 base -> identical decisions), then 4..7 run
    run(ckpt, real_sink)

    got_acc, got_hist = snapshot(hist_root, accepted)
    ref_acc_rows, ref_hist_rows = snapshot(ref_hist, ref_acc)
    assert got_acc == ref_acc_rows
    assert got_hist == ref_hist_rows
    # the replayed batch did not duplicate: every digest accepted once
    digests = [r[1] for r in got_acc]
    assert len(digests) == len(set(digests))
    assert sorted({r[2] for r in got_acc}) == list(range(8))


def test_crawl_stage_single_job_contract(spark, tmp_path):
    """r17 optimization guard: stage_crawl_stream now stages all 8
    fixture files with ONE partitioned write (was 8 filter+coalesce
    jobs). The file-source replay contract must survive the rewrite:
    exactly 8 single-file fixtures named in ladder order, strictly
    ascending mtimes (batch_id == file index), and every row in file i
    belonging to crawl-bucket i."""
    from fantasy_premier_league_spark.streaming.queries import (
        stage_crawl_stream,
    )

    src = stage_crawl_stream(spark, "/root/testdata/sf0.001", str(tmp_path))
    files = sorted(os.listdir(src))
    assert files == [f"crawl_{i:02d}.parquet" for i in range(8)]
    mtimes = [os.path.getmtime(os.path.join(src, f)) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 8
    for i, f in enumerate(files):
        rows = spark.read.parquet(os.path.join(src, f)).collect()
        assert rows, f"{f}: empty fixture (bucket {i} lost its rows)"
        for r in rows:
            crawl2 = r.doc_id >= 100000000
            bucket = (4 if crawl2 else 0) + (r.doc_id % 100000000) % 4
            assert bucket == i, f"{f}: doc {r.doc_id} in wrong bucket"
