"""Round-15 surfaces: the Python DataSource streaming WRITER's
exactly-once commit protocol (sources/py_datasource.py S10).

The registered query (s10_python_datasource_writer) gates row-level
delivery differentially; these tests pin the PROTOCOL pieces the
aggregate gate cannot isolate: idempotent replay discard, abort
cleanup, and the manifest-only read surface. All driver-side logic, so
they run without a SparkSession -- the writer's commit/abort execute on
the driver in production too.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa

from fantasy_premier_league_spark.sources.py_datasource import (
    _FeedSinkCommit,
    _stream_writer_cls,
    committed_feed_files,
)


def _batch(n: int, start: int = 0) -> pa.RecordBatch:
    return pa.record_batch(
        {"event_id": pa.array(range(start, start + n), type=pa.int64())}
    )


def _writer(tmp_path):
    return _stream_writer_cls()(str(tmp_path))


def test_write_stages_then_commit_publishes_atomically(tmp_path):
    w = _writer(tmp_path)
    msg = w.write(iter([_batch(3), _batch(2, start=3)]))
    assert msg.rows == 5
    assert os.path.dirname(msg.file).endswith("staging")
    # staged output is invisible to the read surface until commit
    assert committed_feed_files(str(tmp_path)) == []
    w.commit([msg], batchId=0)
    files = committed_feed_files(str(tmp_path))
    assert len(files) == 1 and os.path.exists(files[0])
    assert not os.path.exists(msg.file)  # staged name consumed by rename
    manifest = json.load(
        open(os.path.join(tmp_path, "committed", "manifest-0.json"))
    )
    assert manifest == {
        "batch_id": 0,
        "files": [{"file": os.path.basename(files[0]), "rows": 5}],
    }


def test_replayed_batch_commit_is_idempotent(tmp_path):
    """The crash-restart path: the checkpoint replays the last
    unacknowledged epoch, so commit() sees a batchId whose manifest is
    already published and must DISCARD the duplicate staged output --
    rows land exactly once, never twice."""
    w = _writer(tmp_path)
    first = w.write(iter([_batch(4)]))
    w.commit([first], batchId=7)
    published = committed_feed_files(str(tmp_path))

    replay = w.write(iter([_batch(4)]))  # re-executed task, same data
    assert os.path.exists(replay.file)
    w.commit([replay], batchId=7)  # same epoch re-commits after restart
    # duplicate staged file dropped; the committed set is unchanged
    assert not os.path.exists(replay.file)
    assert committed_feed_files(str(tmp_path)) == published


def test_abort_removes_staged_never_committed(tmp_path):
    w = _writer(tmp_path)
    ok = w.write(iter([_batch(2)]))
    # a failed task yields None in the driver's collected messages
    w.abort([ok, None], batchId=3)
    assert not os.path.exists(ok.file)
    assert committed_feed_files(str(tmp_path)) == []
    assert not os.path.exists(
        os.path.join(tmp_path, "committed", "manifest-3.json")
    )


def test_empty_task_stages_nothing(tmp_path):
    w = _writer(tmp_path)
    msg = w.write(iter([]))
    assert msg == _FeedSinkCommit(file=None, rows=0)
    assert os.listdir(os.path.join(tmp_path, "staging")) == []
    # commit of an all-empty batch still publishes the (empty) manifest:
    # the epoch is acknowledged, so a restart will not replay it
    w.commit([msg], batchId=1)
    assert json.load(
        open(os.path.join(tmp_path, "committed", "manifest-1.json"))
    ) == {"batch_id": 1, "files": []}
    assert committed_feed_files(str(tmp_path)) == []


def test_s10_sink_exactly_once_across_restart(spark, tmp_path):
    """The t18-style proof in anger: stop the stream MID-LADDER after
    >= 2 committed epochs, restart from the same checkpoint (the engine
    replays the last unacknowledged batch), and verify the committed
    read surface holds row-exact totals -- the replay's duplicate staged
    output must be discarded by the manifest check, never
    double-published.

    The SOURCE here is the file stream (4 chunk files,
    maxFilesPerTrigger=1), NOT the custom events_stream_feed reader:
    the claim under test is the SINK's cross-restart discipline, and a
    restart-safe test needs a source whose offsets survive restart --
    the self-offset demo reader deliberately does not (it raises its
    restart canary instead; see py_datasource partitions())."""
    import glob
    import json
    import os
    import time

    from fantasy_premier_league_spark.sources.py_datasource import (
        committed_feed_files,
        register_feed_sink,
    )
    from tests.conftest import SF_SMOKE

    register_feed_sink(spark)
    src = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_id", "user_id", "event_type", "value"
    )
    total = src.count()
    src_dir = str(tmp_path / "src")
    src.repartition(4).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    root = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def start():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
            .writeStream.format("events_feed_sink")
            .option("path", root)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    def manifest_rows() -> int:
        out = 0
        for mf in glob.glob(os.path.join(root, "committed", "manifest-*.json")):
            with open(mf) as fh:
                out += sum(f["rows"] for f in json.load(fh)["files"])
        return out

    # phase 1: let at least TWO epochs publish (the regime where a
    # naive sink would double-publish on replay), then kill mid-ladder
    q = start()
    deadline = time.time() + 120
    while time.time() < deadline:
        if (
            len(glob.glob(os.path.join(root, "committed", "manifest-*.json")))
            >= 2
        ):
            break
        time.sleep(0.05)
    else:
        raise TimeoutError("fewer than 2 epochs committed in 120 s")
    q.stop()

    # phase 2: restart from the same checkpoint and drain the rest
    q = start()
    deadline = time.time() + 120
    try:
        while time.time() < deadline:
            q.processAllAvailable()
            if manifest_rows() >= total:
                break
            time.sleep(0.1)
        else:
            raise TimeoutError("restart did not drain in 120 s")
    finally:
        q.stop()

    files = committed_feed_files(root)
    got = spark.read.parquet(*files)
    # event_id is unique in the events table, so count == countDistinct
    # proves no row was dropped or double-published across the restart
    n, nd = got.selectExpr(
        "count(*)", "count(distinct event_id)"
    ).first()
    assert (n, nd) == (total, total), (
        f"exactly-once broken across restart: rows={n} distinct={nd} "
        f"expected {total}"
    )


def test_s10_runs_on_a_fresh_thread(spark):
    """The parity suites run queries on a thread pool. A fresh Python
    thread maps to a JVM thread with no active session, and the
    streaming writer looks Python data source names up through that
    active session, so s10 must not depend on the caller's thread."""
    import threading

    from fantasy_premier_league_spark.plans.registry import all_queries
    from tests.conftest import SF_SMOKE

    out: dict = {}

    def run() -> None:
        try:
            out["rows"] = all_queries()["s10_python_datasource_writer"](
                spark, SF_SMOKE
            ).collect()
        except Exception as exc:  # noqa: BLE001 -- asserted below
            out["err"] = exc

    t = threading.Thread(target=run)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "s10 drain did not finish"
    assert "err" not in out, out.get("err")
    assert out["rows"], "s10 returned no rows"


def test_feed_registration_is_thread_safe(spark):
    """The parallel suites register the Python data sources from many
    threads at once. Spark rejects registering a name on a session that
    lacks it when the calling thread's active session already resolves
    it, so two concurrent first registrations on one session can fail
    (DATA_SOURCE_ALREADY_EXISTS); only one may reach the register call."""
    import sys
    import threading

    from fantasy_premier_league_spark.sources.py_datasource import (
        register_stream_feed_source,
    )

    n_threads, rounds = 8, 25
    errors: list = []

    def run(sess, barrier) -> None:
        try:
            sess._jvm.SparkSession.setActiveSession(sess._jsparkSession)
            barrier.wait(timeout=30)
            register_stream_feed_source(sess)
        except Exception as exc:  # noqa: BLE001 -- asserted below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(rounds):
            sess = spark.newSession()  # fresh registry: nothing registered
            barrier = threading.Barrier(n_threads)
            threads = [
                threading.Thread(target=run, args=(sess, barrier))
                for _ in range(n_threads)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
            assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert errors == []


def test_stream_feed_reader_restart_canary(spark, tmp_path):
    """The self-offset demo reader cannot be restart-safe on the Python
    stream API (the engine never hands the reader the committed offset;
    measured duplicate delivery before the fix). The reader must now
    FAIL LOUDLY on the regression telltale -- a backward batch after a
    >= 2-epoch restart -- instead of silently re-delivering."""
    import time

    from fantasy_premier_league_spark.sources.py_datasource import (
        register_stream_feed_source,
    )
    from tests.conftest import SF_SMOKE

    register_stream_feed_source(spark)
    path = f"{SF_SMOKE}/events.parquet"
    ckpt = str(tmp_path / "ckpt")

    def start():
        return (
            spark.readStream.format("events_stream_feed")
            .option("path", path)
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while time.time() < deadline:
        q.processAllAvailable()
        prog = q.lastProgress
        if prog is not None and prog["batchId"] >= 2:
            break
        time.sleep(0.05)
    else:
        raise TimeoutError("fewer than 2 epochs in 120 s")
    q.stop()

    q = start()  # fresh reader: its ladder regrows from 0
    import pytest

    with pytest.raises(Exception, match="offset ladder regressed"):
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            time.sleep(0.1)
    q.stop()


def test_stream_feed_cursor_contract_driver_side(tmp_path):
    """Offset-owning mode, no Spark needed (initialOffset/latestOffset/
    commit all run driver-side): a fresh reader resumes from the cursor
    a previous incarnation committed -- the broker-owns-offsets
    contract -- and the cursor is monotonic (a replayed older epoch
    never regresses it)."""
    import json

    from fantasy_premier_league_spark.sources.py_datasource import (
        _stream_reader_cls,
    )
    from tests.conftest import SF_SMOKE

    path = f"{SF_SMOKE}/events.parquet"
    cursor = str(tmp_path / "cursor.json")
    cls = _stream_reader_cls()

    r1 = cls(path, cursor)
    assert r1.initialOffset() == {"row": 0}  # brand-new feed
    first = r1.latestOffset()["row"]
    second = r1.latestOffset()["row"]
    assert 0 < first < second
    r1.commit({"row": first})
    r1.commit({"row": second})
    assert json.load(open(cursor)) == {"row": second}

    # a FRESH reader (restart, or a new query with no checkpoint)
    # resumes from the committed cursor, not from 0
    r2 = cls(path, cursor)
    assert r2.initialOffset() == {"row": second}
    third = r2.latestOffset()["row"]
    assert third > second
    # ladder never regresses -> the restart canary cannot fire
    r2.partitions({"row": second}, {"row": third})

    # monotonic: replaying an older epoch's commit (rolled-back
    # checkpoint) must not move the cursor backwards
    r2.commit({"row": first})
    assert json.load(open(cursor)) == {"row": second}


def test_stream_feed_cursor_restart_exactly_once(spark, tmp_path):
    """The r15 canary test's positive twin (VERDICT r15 #3): the same
    >= 2-epoch kill-and-restart that trips the cursor-less canary
    PASSES in offset-owning mode -- the fresh reader resumes from the
    sidecar cursor, the replayed WAL epoch is deduplicated by the S10
    manifest check, and the committed read surface holds row-exact
    totals end to end (custom Python reader -> custom Python sink
    across a real crash boundary)."""
    import glob
    import json
    import os
    import time

    from fantasy_premier_league_spark.sources.py_datasource import (
        committed_feed_files,
        register_feed_sink,
        register_stream_feed_source,
    )
    from tests.conftest import SF_SMOKE

    register_stream_feed_source(spark)
    register_feed_sink(spark)
    path = f"{SF_SMOKE}/events.parquet"
    import pyarrow.parquet as pq

    total = pq.ParquetFile(path).metadata.num_rows
    cursor = str(tmp_path / "cursor.json")
    root = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def start():
        return (
            spark.readStream.format("events_stream_feed")
            .option("path", path)
            .option("cursor", cursor)
            .load()
            .writeStream.format("events_feed_sink")
            .option("path", root)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    def manifest_rows() -> int:
        out = 0
        for mf in glob.glob(os.path.join(root, "committed", "manifest-*.json")):
            with open(mf) as fh:
                out += sum(f["rows"] for f in json.load(fh)["files"])
        return out

    # phase 1: >= 2 epochs committed (the regime whose regrown ladder
    # re-delivered 1250/1000 rows before the cursor), then kill
    q = start()
    deadline = time.time() + 120
    while time.time() < deadline:
        if (
            len(glob.glob(os.path.join(root, "committed", "manifest-*.json")))
            >= 2
        ):
            break
        time.sleep(0.05)
    else:
        raise TimeoutError("fewer than 2 epochs committed in 120 s")
    q.stop()
    assert os.path.exists(cursor), "commit() must have persisted the cursor"

    # phase 2: restart -- the fresh reader resumes from the cursor
    # instead of regrowing its ladder from 0 (no canary, no duplicates)
    q = start()
    deadline = time.time() + 120
    try:
        while time.time() < deadline:
            q.processAllAvailable()
            if manifest_rows() >= total:
                break
            time.sleep(0.1)
        else:
            raise TimeoutError("restart did not drain in 120 s")
    finally:
        q.stop()

    got = spark.read.parquet(*committed_feed_files(root))
    n, nd = got.selectExpr("count(*)", "count(distinct event_id)").first()
    assert (n, nd) == (total, total), (
        f"exactly-once broken across restart: rows={n} distinct={nd} "
        f"expected {total}"
    )


def test_batch_writer_quadrant_roundtrip(spark, tmp_path):
    """The BATCH half of the custom sink (DataSource.writer -- the last
    Python-DataSource quadrant: batch/stream x read/write), gated
    without spending a registration slot, the state-metadata precedent.
    Same staged/manifest protocol; plus the batch-only semantics: a
    second append-mode job must refuse (epoch already committed) and
    mode('overwrite') must replace the committed contents atomically."""
    from fantasy_premier_league_spark.sources.py_datasource import (
        committed_feed_files,
        register_feed_sink,
    )
    from tests.conftest import SF_SMOKE

    register_feed_sink(spark)
    root = str(tmp_path / "batch_sink")
    src = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_id", "user_id", "event_type", "value"
    )
    # Python data sources accept only Append/Overwrite save modes
    src.write.format("events_feed_sink").option("path", root).mode(
        "append"
    ).save()
    got = spark.read.parquet(*committed_feed_files(root))
    assert got.count() == src.count()
    assert (
        got.selectExpr("count(distinct event_id)").first()[0] == src.count()
    )

    # append without overwrite: the committed epoch must refuse, and
    # the refusal must leave the published contents untouched
    import pytest

    before = sorted(committed_feed_files(root))
    with pytest.raises(Exception, match="already committed"):
        src.limit(5).write.format("events_feed_sink").option(
            "path", root
        ).mode("append").save()
    assert sorted(committed_feed_files(root)) == before

    # overwrite: replaces the epoch wholesale
    src.limit(7).write.format("events_feed_sink").option(
        "path", root
    ).mode("overwrite").save()
    got2 = spark.read.parquet(*committed_feed_files(root))
    assert got2.count() == 7


def test_read_surface_trusts_manifests_not_listings(tmp_path):
    """A torn write -- a file present under committed/ but absent from
    every manifest (e.g. a crash between rename and manifest publish of
    a NEWER batch) -- must be invisible to readers."""
    w = _writer(tmp_path)
    msg = w.write(iter([_batch(3)]))
    w.commit([msg], batchId=0)
    stray = os.path.join(tmp_path, "committed", "batch-9-orphan.parquet")
    with open(stray, "wb") as fh:
        fh.write(b"torn")
    files = committed_feed_files(str(tmp_path))
    assert len(files) == 1 and stray not in files
