"""Structured Streaming queries runnable under the batch correctness
gate (SURVEY 2.7: T1-T8 semantics).

The reference's streaming layer is a DStream socket pipeline with 5 s
micro-batches and 4 chained ``updateStateByKey`` (master.py:330-373).
Here the same computations run as incremental Structured Streaming
plans; for the differential gate the stream is the parquet file source
drained with ``processAllAvailable`` into a memory sink, so the result
is a plain DataFrame a SQL oracle can check: stream/batch parity is
exactly Structured Streaming's unified-semantics promise.

Scale: a tumbling-window count/sum keyed by (window, event_type) keeps
state bounded by |windows| x |types|; with a watermark (used in the
pipeline variant, streaming/pipeline.py) expired windows are evicted,
so 100 TB of history never accumulates in the state store.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fantasy_premier_league_spark.functions import (
    epoch_us,
    fixed_units,
    rounded,
    scoped_conf,
)
from fantasy_premier_league_spark.operators.sketches import (
    HLL_ESTIMATE_SQL,
    HLL_REGS_SQL,
    hll_estimate,
    hll_registers,
)
from fantasy_premier_league_spark.plans.registry import register
from fantasy_premier_league_spark.sources.testdata import canonicalize_ts, load_table
from fantasy_premier_league_spark.streaming.pipeline import (
    PROFILE_SNAPSHOT_SCHEMA,
    RATING_OUTPUT_SCHEMA,
    latest_committed_version,
    run_stream_to_memory,
)


# per-session scratch-dir lifecycle (wipe-at-claim, stale-sibling
# prune, atexit removal) shared with the bucketed-table scratch path
from fantasy_premier_league_spark.functions.tuning import (
    claim_session_tmpdir as _claim_session_tmpdir,
)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-source stream with canonical timestamps.

    The file source needs an explicit schema; take the RAW footer
    schema from a batch peek (so the declared types always match what
    the current testdata generation physically encodes -- it has
    flipped between nanos-as-long and micros-NTZ across rounds), then
    apply the same ts canonicalization as the batch path. Hardcoding
    either encoding silently corrupts values when the generator
    changes: declaring long over micros data divided every ts by 1000
    and collapsed all windows onto 1970."""
    # batch peek also sets the legacy nanos conf when needed
    load_table(spark, sf_dir, "events")
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    return canonicalize_ts(
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


@register(
    "t4_windowed_stream_agg",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
           count(*) AS n,
           round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0, 2)
             AS total_value
    FROM events GROUP BY 1, 2 ORDER BY day, event_type
    """,
)
def windowed_stream_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = (
        _events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum(fixed_units(F.col("value"))).alias("total_value_c"))
    )
    result = run_stream_to_memory(stream, output_mode="complete")
    return result.select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd").alias("day"),
        "event_type",
        "n",
        rounded(F.col("total_value_c") / 100.0, 2).alias("total_value"),
    ).orderBy("day", "event_type")


# ---------------------------------------------------------------------------
# T6: streaming deduplication. dropDuplicates over a keyed state store,
# with the event-time day in the key and a watermark so expired days are
# EVICTED from state -- the bounded-state form of exact dedup for an
# unbounded 100 TB stream (the batch twin is dedup_exact). Only the key
# columns are returned: which physical row survives per key is
# arrival-order-dependent, the key set is not.
# ---------------------------------------------------------------------------


@register(
    "t6_stream_dedup",
    oracle="""
    SELECT DISTINCT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           user_id, event_type
    FROM events ORDER BY day, user_id, event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Watermark is set on day_ts ITSELF (after the truncation) so the
    # event-time column participates in the dedup key: dropDuplicates
    # then evicts a day's key-state once the watermark passes it.
    # Watermarking raw ts instead leaves the keyed state untracked and
    # growing forever on an unbounded stream.
    stream = (
        _events_stream(spark, sf_dir)
        .withColumn("day_ts", F.date_trunc("day", F.col("ts")))
        .withWatermark("day_ts", "1 day")
        .dropDuplicates(["day_ts", "user_id", "event_type"])
        .select("day_ts", "user_id", "event_type")
    )
    result = run_stream_to_memory(stream, output_mode="append")
    return result.select(
        F.date_format("day_ts", "yyyy-MM-dd").alias("day"), "user_id", "event_type"
    ).orderBy("day", "user_id", "event_type")


# ---------------------------------------------------------------------------
# T7: stream-stream interval join. Purchases join signups of the same
# user within a 1-day window; both sides carry watermarks and the join
# condition bounds event-time distance, so each side's state store holds
# at most one watermark-delay's worth of rows at 100 TB. (The reference
# J2 is stream-static; this is the genuinely-streaming join the rebuild
# adds.)
# ---------------------------------------------------------------------------


@register(
    "t7_stream_stream_join",
    oracle="""
    SELECT p.user_id,
           s.event_id AS signup_event, p.event_id AS purchase_event,
           CAST(date_diff('second', s.ts, p.ts) AS BIGINT) AS secs_to_purchase
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id
     AND s.ts <= p.ts AND p.ts <= s.ts + INTERVAL 1 DAY
    ORDER BY p.user_id, signup_event, purchase_event
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Both join arms fork from ONE source stream (a streaming self-join):
    # the file source is listed/tracked once instead of maintaining two
    # independent backlogs over the same parquet — at 100 TB that is one
    # scan's worth of source state, not two.
    #
    # Stream-STREAM joins require TIMESTAMP watermark columns (plain
    # watermarked aggregations accept NTZ; the join's state eviction
    # check does not). The cast is value-preserving under the session's
    # pinned UTC zone, and the joined seconds-difference is
    # shift-invariant regardless.
    events = _events_stream(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_event"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 day")
    )
    signups = (
        events.filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("event_id").alias("signup_event"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "1 day")
    )
    joined = purchases.join(
        signups,
        (F.col("p_user") == F.col("s_user"))
        & (F.col("s_ts") <= F.col("p_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 DAY")),
    )
    result = run_stream_to_memory(joined, output_mode="append")
    return result.select(
        F.col("p_user").alias("user_id"),
        "signup_event",
        "purchase_event",
        (F.col("p_ts").cast("long") - F.col("s_ts").cast("long")).alias(
            "secs_to_purchase"
        ),
    ).orderBy("user_id", "signup_event", "purchase_event")


# ---------------------------------------------------------------------------
# T9: NATIVE streaming session windows (F.session_window) -- the engine
# merges per-key sessions in the state store as events arrive, vs the
# batch gaps-and-islands form (advanced.session_windows) that needs the
# whole history sorted. Same 30-min gap; a session's window ends at
# last_event + gap, and an event landing exactly AT the previous
# session's end starts a NEW session (the window is [start, end)), so
# the oracle flags new sessions with >= gap, not > gap.
# ---------------------------------------------------------------------------

_GAP_US = 30 * 60 * 1_000_000


@register(
    "t9_session_window_stream",
    oracle=f"""
    WITH g AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts) >= {_GAP_US}
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    s AS (
      SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    )
    SELECT user_id, count(*) AS n_events,
           epoch_us(min(ts)) AS start_us,
           epoch_us(max(ts)) + {_GAP_US} AS end_us,
           round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0, 2)
             AS total_value
    FROM s GROUP BY user_id, sid
    ORDER BY user_id, start_us
    """,
)
def session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = (
        _events_stream(spark, sf_dir)
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(fixed_units(F.col("value"))).alias("total_value_c"),
        )
    )
    result = run_stream_to_memory(stream, output_mode="complete")
    return result.select(
        "user_id",
        "n_events",
        epoch_us(F.col("win.start")).alias("start_us"),
        epoch_us(F.col("win.end")).alias("end_us"),
        rounded(F.col("total_value_c") / 100.0, 2).alias("total_value"),
    ).orderBy("user_id", "start_us")


# ---------------------------------------------------------------------------
# T5: the stateful tier (A4+A5) run THROUGH the streaming engine --
# applyInPandasWithState over the fixture stream, one micro-batch per
# match file. The oracle is the same recursive-CTE recurrence used for
# the batch pipeline: stream/batch parity IS the check.
# ---------------------------------------------------------------------------


def _register_stateful() -> None:
    from fantasy_premier_league_spark.operators.pipeline import RATING_ROWS_SQL
    from fantasy_premier_league_spark.sources import fpl_fixtures

    @register("fpl_t5_stateful_stream", oracle=RATING_ROWS_SQL)
    def fpl_t5(spark: SparkSession, sf_dir: str) -> DataFrame:
        from fantasy_premier_league_spark.streaming.pipeline import (
            stream_source,
            streaming_player_state,
        )

        stream_dir = os.path.join(fpl_fixtures.ensure_fixtures(), "stream")
        out = streaming_player_state(stream_source(spark, stream_dir))
        table = run_stream_to_memory(out, output_mode="append")
        return table.select(
            "playerId",
            "matchId",
            rounded(F.col("rating"), 6).alias("rating"),
            rounded(F.col("delta"), 6).alias("delta"),
        ).orderBy("playerId", "matchId")


_register_stateful()


# ---------------------------------------------------------------------------
# T10: streaming HLL -- the deterministic HyperLogLog of
# operators/sketches.py run THROUGH the streaming engine. Register
# max-merge is commutative and order-insensitive, so the drained
# stream's registers are bit-identical to the batch scan's and the SAME
# batch oracle hash-gates both: sketch-mergeability IS
# streaming-compatibility. State is |event_types| x 16 registers --
# constant, no watermark needed; at 100 TB/day the state store still
# holds ~a hundred integers.
# ---------------------------------------------------------------------------

@register(
    "t10_stream_hll",
    oracle=f"""
    WITH {HLL_REGS_SQL}
    SELECT event_type, round({HLL_ESTIMATE_SQL} * 1000) / 1000 AS hll_estimate
    FROM regs GROUP BY event_type ORDER BY event_type
    """,
)
def stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    regs = run_stream_to_memory(
        hll_registers(_events_stream(spark, sf_dir)), output_mode="complete"
    )
    return (
        regs.groupBy("event_type")
        .agg(rounded(hll_estimate(), 3).alias("hll_estimate"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# T11: live-socket roundtrip under the driver-visible surface. S1 (the
# reference's actual transport: line-delimited JSON over TCP,
# master.py:330) was the one §2.1 source with only local-pytest
# evidence; this registers it as a gate query: an in-process TCP server
# streams every fixture line, the REAL socket source (streaming/
# pipeline.py socket_source) parses it, and the drained per-event-code
# counters are gated against the batch oracle over the same fixture
# files. The socket source is receiver-based (no availableNow barrier),
# so the drain polls the complete-mode sink until the counters match
# the known fixture total -- and RAISES on timeout rather than shipping
# a partial count to the gate.
# ---------------------------------------------------------------------------


def _register_socket_roundtrip() -> None:
    from fantasy_premier_league_spark.operators import pipeline as P

    oracle = f"""
    SELECT eventId AS event_code,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(playerId) AS BIGINT) AS n_with_player
    FROM {P._RAW_SQL}
    WHERE eventId IS NOT NULL
    GROUP BY eventId ORDER BY event_code
    """

    @register("t11_socket_roundtrip", oracle=oracle)
    def t11_socket_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
        import glob
        import json
        import socket as socketlib
        import threading
        import time

        from fantasy_premier_league_spark.sources import fpl_fixtures
        from fantasy_premier_league_spark.streaming.pipeline import socket_source

        stream_dir = os.path.join(fpl_fixtures.ensure_fixtures(), "stream")
        lines: list[str] = []
        expected = 0
        for path in sorted(glob.glob(os.path.join(stream_dir, "*.jsonl"))):
            with open(path) as fh:
                for ln in fh.read().splitlines():
                    lines.append(ln)
                    if json.loads(ln).get("eventId") is not None:
                        expected += 1

        server = socketlib.socket(socketlib.AF_INET, socketlib.SOCK_STREAM)
        server.setsockopt(socketlib.SOL_SOCKET, socketlib.SO_REUSEADDR, 1)
        server.bind(("127.0.0.1", 0))
        port = server.getsockname()[1]
        server.listen(1)
        done = threading.Event()

        def serve() -> None:
            try:
                conn, _ = server.accept()
                with conn:
                    conn.sendall(("\n".join(lines) + "\n").encode())
                    done.wait(timeout=120)  # keep open while batches drain
            except OSError:
                pass
            finally:
                server.close()

        thread = threading.Thread(target=serve, daemon=True)
        thread.start()

        parsed = socket_source(spark, "127.0.0.1", port)
        agg = (
            parsed.filter(F.col("eventId").isNotNull())
            .groupBy(F.col("eventId").alias("event_code"))
            .agg(
                F.count("*").alias("n_events"),
                F.count("playerId").alias("n_with_player"),
            )
        )
        name = "t11_" + uuid.uuid4().hex[:8]
        checkpoint = os.path.join(tempfile.gettempdir(), f"ckpt_{name}")
        with scoped_conf(spark, "spark.sql.shuffle.partitions", "8"):
            query = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", checkpoint)
                .start()
            )
        try:
            deadline = time.time() + 90
            while True:
                got = (
                    spark.table(name).agg(F.sum("n_events")).collect()[0][0] or 0
                )
                if got == expected:
                    break
                if time.time() > deadline:
                    raise RuntimeError(
                        f"socket roundtrip drained {got}/{expected} events "
                        f"before timeout -- partial counts must not reach "
                        f"the gate"
                    )
                time.sleep(0.5)
            # snapshot BEFORE stopping: memory-sink rows survive stop,
            # but materializing here makes the race impossible
            result = spark.createDataFrame(
                spark.table(name).collect(), schema=spark.table(name).schema
            )
        finally:
            done.set()
            query.stop()
            shutil.rmtree(checkpoint, ignore_errors=True)
        return result.orderBy("event_code")


_register_socket_roundtrip()


# ---------------------------------------------------------------------------
# T12: stream-stream LEFT OUTER interval join -- the watermark-driven
# null-emission path t7's inner join never exercises. An unmatched left
# row sits in the state store until the global watermark passes the end
# of its join window (s_ts + 1 day); only then can the engine PROVE no
# future purchase matches and emit the null-padded row. The drain's
# trailing no-data micro-batch (watermark = max_ts - delay) performs
# that final eviction, so rows whose window is still inside the
# watermark horizon at end-of-stream are correctly withheld -- the
# batch oracle reproduces exactly that horizon arithmetic. The global
# watermark is the MIN across the two withWatermark operators -- each
# arm tracks its own max event time over its post-filter rows -- so the
# horizon is least(max signup ts, max purchase ts) - 30 min, and an
# unmatched signup appears iff s_ts + 1 day < that horizon (found
# empirically: using the overall max ts admits one extra row whose
# window ends inside the purchase arm's watermark lag).
#
# Scale: identical state-bound story to t7 (each side holds one
# watermark-delay of rows); outer emission adds no state, it changes
# only the eviction path from discard to emit-null.
# ---------------------------------------------------------------------------


@register(
    "t12_stream_outer_join",
    oracle="""
    WITH s AS (SELECT * FROM events WHERE event_type = 'signup'),
         p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         horizon AS (
           SELECT least(
                    max(CASE WHEN event_type = 'signup' THEN ts END),
                    max(CASE WHEN event_type = 'purchase' THEN ts END)
                  ) - INTERVAL 30 MINUTE AS wm
           FROM events
         )
    SELECT s.user_id, s.event_id AS signup_event,
           p.event_id AS purchase_event,
           CAST(date_diff('second', s.ts, p.ts) AS BIGINT) AS secs_to_purchase
    FROM s LEFT JOIN p
      ON s.user_id = p.user_id
     AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 DAY
    WHERE p.event_id IS NOT NULL
       OR s.ts + INTERVAL 1 DAY < (SELECT wm FROM horizon)
    ORDER BY s.user_id, signup_event, purchase_event
    """,
)
def stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _events_stream(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    signups = (
        events.filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("event_id").alias("signup_event"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "30 minutes")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_event"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    joined = signups.join(
        purchases,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 DAY")),
        "left_outer",
    )
    result = run_stream_to_memory(joined, output_mode="append")
    return result.select(
        F.col("s_user").alias("user_id"),
        "signup_event",
        "purchase_event",
        (F.col("p_ts").cast("long") - F.col("s_ts").cast("long")).alias(
            "secs_to_purchase"
        ),
    ).orderBy("user_id", "signup_event", "purchase_event")


# ---------------------------------------------------------------------------
# T13: incremental CDC upsert — the streaming twin of cdc_latest_state.
# The events changelog is replayed as a 4-file stream (maxFilesPerTrigger
# = 1 forces four genuine micro-batches), and every batch MERGEs into a
# keyed snapshot: batch-local argmax per user, union with the previous
# snapshot, argmax again. State lands in a parquet dir VERSIONED BY
# batch_id (overwrite-by-version = idempotent replay, the T8
# exactly-once recipe; on a lakehouse this foreachBatch body is
# literally `MERGE INTO` on Delta/Iceberg). The final snapshot must
# equal the batch engine's one-pass compaction — incremental-view
# maintenance correctness, differential-gated.
#
# Scale: per-batch work is one shuffle on user_id over (batch + |users|)
# rows; the snapshot never exceeds |users| rows regardless of changelog
# length, and no driver collection happens anywhere.
# ---------------------------------------------------------------------------


@register(
    "t13_stream_cdc_upsert",
    oracle="""
    WITH latest AS (
      SELECT user_id, event_id, event_type, value, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_id AS last_event, event_type AS last_type,
           value AS last_value, epoch_us(ts) AS last_ts_us
    FROM latest WHERE rn = 1 AND event_type <> 'error'
    ORDER BY user_id
    """,
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        epoch_us(F.col("ts")).alias("ts_us"),
    )
    # per-(session, sf_dir) dir: appId alone would let a second
    # invocation at a DIFFERENT scale wipe scratch a previously
    # returned DataFrame still lazily reads; sf_dir alone (the old
    # scheme) raced concurrent sessions (review r9)
    tag = "".join(c if c.isalnum() else "_" for c in sf_dir.rstrip("/"))
    root = _claim_session_tmpdir(
        f"t13_cdc_upsert_{tag}", spark.sparkContext.applicationId
    )
    src = os.path.join(root, "src")
    state_root = os.path.join(root, "state")
    ev.repartition(4).write.parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    latest_path: dict[str, str | None] = {"v": None}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # struct-max argmax: field order (ts_us, event_id) == the
        # changelog's "latest wins, ties to higher event_id" rule
        batch_latest = batch_df.groupBy("user_id").agg(
            F.max(
                F.struct(
                    F.col("ts_us"),
                    F.col("event_id"),
                    F.col("event_type"),
                    F.col("value"),
                )
            ).alias("s")
        )
        if latest_path["v"] is not None:
            prev = batch_df.sparkSession.read.parquet(latest_path["v"])
            merged = (
                prev.unionByName(batch_latest)
                .groupBy("user_id")
                .agg(F.max("s").alias("s"))
            )
        else:
            merged = batch_latest
        out = os.path.join(state_root, f"v{batch_id}")
        merged.write.mode("overwrite").parquet(out)
        latest_path["v"] = out

    checkpoint = os.path.join(root, "ckpt")
    with scoped_conf(spark, "spark.sql.shuffle.partitions", "8"):
        query = (
            stream.writeStream.foreachBatch(merge)
            .option("checkpointLocation", checkpoint)
            .start()
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()

    snap = spark.read.parquet(latest_path["v"])
    return (
        snap.filter(F.col("s.event_type") != "error")
        .select(
            "user_id",
            F.col("s.event_id").alias("last_event"),
            F.col("s.event_type").alias("last_type"),
            F.col("s.value").alias("last_value"),
            F.col("s.ts_us").alias("last_ts_us"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# T14: watermark-bounded KEY dedup -- dropDuplicatesWithinWatermark
# (Spark 3.5+). Unlike t6, the event-time column is NOT part of the
# dedup key: the key is (user_id, event_type) alone, and the state
# store instead remembers each key only until the watermark passes the
# first-seen event's time plus the delay. That is the API for "drop
# retransmissions within the dedup horizon" feeds where duplicates
# cluster in time -- state stays bounded by keys-per-horizon on an
# unbounded 100 TB stream, while plain dropDuplicates on the same key
# would pin every key forever. With the delay spanning the whole
# fixture the result is exactly the global distinct key set, which is
# what the batch oracle pins (which physical row survives per key is
# arrival-order-dependent; the key set is not).
# ---------------------------------------------------------------------------


@register(
    "t14_stream_dedup_within_watermark",
    oracle="""
    SELECT DISTINCT user_id, event_type
    FROM events ORDER BY user_id, event_type
    """,
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dropDuplicatesWithinWatermark requires TIMESTAMP (not NTZ) event
    # time; the cast interprets wall-clock in the session's fixed UTC
    # zone and only feeds state-expiry bookkeeping -- the dedup KEY
    # carries no time column, so the result set is cast-independent.
    stream = (
        _events_stream(spark, sf_dir)
        .withColumn("wm_ts", F.col("ts").cast("timestamp"))
        .withWatermark("wm_ts", "3650 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    result = run_stream_to_memory(stream, output_mode="append")
    return result.select("user_id", "event_type").orderBy("user_id", "event_type")


# ---------------------------------------------------------------------------
# T15: SLIDING windows -- the window type t4 (tumbling) and t9
# (session) don't cover: 2-day windows sliding by 1 day, so every
# event lands in exactly two overlapping windows. Spark's window()
# replicates each row into its slide-count windows BEFORE the shuffle
# (map-side expand, then the same partial-agg path as tumbling); state
# per key is (window, type) and a watermark would evict closed windows
# on an unbounded feed. The oracle materializes the same two-window
# membership as a UNION ALL of the aligned day-floor and
# day-floor-minus-one window starts.
# ---------------------------------------------------------------------------


@register(
    "t15_sliding_window_stream",
    oracle="""
    WITH contrib AS (
      SELECT date_trunc('day', ts) AS win_start, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
      UNION ALL
      SELECT date_trunc('day', ts) - INTERVAL 1 DAY, event_type,
             CAST(round(value * 100) AS BIGINT)
      FROM events
    )
    SELECT strftime(win_start, '%Y-%m-%d') AS win_day, event_type,
           count(*) AS n,
           round(CAST(sum(cents) AS BIGINT) / 100.0, 2) AS total_value
    FROM contrib GROUP BY win_start, event_type
    ORDER BY win_day, event_type
    """,
)
def sliding_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = (
        _events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "2 days", "1 day").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum(fixed_units(F.col("value"))).alias("cents"))
    )
    result = run_stream_to_memory(stream, output_mode="complete")
    return result.select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd").alias("win_day"),
        "event_type",
        "n",
        rounded(F.col("cents") / 100.0, 2).alias("total_value"),
    ).orderBy("win_day", "event_type")


# ---------------------------------------------------------------------------
# T16: the reference's WHOLE pipeline end-to-end THROUGH THE REAL SINKS
# (r6 verdict Next round #8). The fixture stream drains through (a) the
# K2 ingest sinks (match log + event feed, idempotent batch_id
# partitions, streaming/pipeline.py run_ingest_sinks), (b) the K4
# rating sink (per-batch partitions of the stateful operator's output),
# and (c) a K3 profile snapshot per batch (the reference's
# rmtree+rewrite of player_profile_data, master.py:220-221, rebuilt as
# versioned prev-snapshot MERGE like t13 -- each snapshot reads only its
# predecessor, state size O(players), never the full history). The
# gated result then recomputes the reference's three user-facing
# surfaces (final rating A7, cumulative profile A4, chemistry A6) FROM
# THE SINK TABLES ONLY, while the oracle re-derives them from the raw
# fixture JSON: one hash gate proves ingest -> state -> sinks -> serving
# loses nothing. Closes the last local-pytest-only rows of SURVEY 2.1.
# ---------------------------------------------------------------------------


def _t16_oracle() -> str:
    from fantasy_premier_league_spark.operators import pipeline as P

    # one trace CTE feeds both the final rating and chemistry, so the
    # rating recursion runs once
    return f"""
    WITH trace AS ({P._RATING_SQL}),
    final AS ({P.final_rating_sql("trace")}),
    prof AS ({P.profile_sql(f"({P._FM_SQL})")}),
    chem AS (
      SELECT p1, p2, round(chemistry, 6) AS chemistry
      FROM ({P.chemistry_sql("trace")})
    ),
    chem_pp AS (
      SELECT playerId,
             CAST(sum(CAST(round(chemistry * 1000000) AS BIGINT)) AS BIGINT)
               / 1000000.0 AS chem_sum
      FROM (
        SELECT p1 AS playerId, chemistry FROM chem
        UNION ALL
        SELECT p2 AS playerId, chemistry FROM chem
      ) GROUP BY playerId
    )
    SELECT f.playerId, round(f.rating, 6) AS final_rating,
           round(pr.pass_accuracy, 6) AS pass_accuracy,
           pr.fouls, pr.goals, pr.own_goals, pr.shots_on_target,
           round(cp.chem_sum, 6) AS chem_sum
    FROM final f
    JOIN prof pr ON pr.playerId = f.playerId
    JOIN chem_pp cp ON cp.playerId = f.playerId
    ORDER BY f.playerId
    """


@contextmanager
def stop_on_error(queries: list):
    """On an exception in the block, stop every still-active query in
    ``queries`` and re-raise. Each stop runs on its own: a stop that
    raises (py4j error from a query that already failed) is attached
    to the original error as a note, so it neither hides that error
    nor skips the next query's stop."""
    try:
        yield
    except BaseException as err:
        for q in queries:
            try:
                if q.isActive:
                    q.stop()
            except Exception as stop_err:  # noqa: BLE001 -- kept as a note
                err.add_note(f"stopping {q!r} also failed: {stop_err!r}")
        raise


def t16_serve(spark: SparkSession, out_dir: str) -> DataFrame:
    """Stage 3 -- serving: every input comes from the sink tables; the
    profile is the newest COMMITTED K3 snapshot, as the sink reads it.
    Each table is read with the schema its sink writes, so no job
    infers one from the Parquet footers."""
    from fantasy_premier_league_spark.operators.pipeline import (
        chemistry_from_trace,
        latest_per_player,
    )

    rating_dir = os.path.join(out_dir, "rating")
    profile_root = os.path.join(out_dir, "profile")
    events_dir = os.path.join(out_dir, "events")

    # ---- serving: every input below comes from the sink tables ----
    rating = spark.read.schema(RATING_OUTPUT_SCHEMA).parquet(rating_dir)
    profile = spark.read.schema(PROFILE_SNAPSHOT_SCHEMA).parquet(
        latest_committed_version(profile_root)
    )
    teams = (
        spark.read.schema("playerId INT, matchId INT, teamId INT")
        .parquet(events_dir)
        .select("playerId", "matchId", "teamId")
        .distinct()
    )
    final = latest_per_player(rating).select(
        "playerId", F.col("rating").alias("final_rating")
    )
    trace = rating.select("playerId", "matchId", "delta").join(
        teams, ["playerId", "matchId"]
    )
    chem = chemistry_from_trace(trace).select(
        "p1", "p2", rounded(F.col("chemistry"), 6).alias("chemistry")
    )
    # per-pair values are 6-dp-rounded on both engines, so the
    # per-player sum runs on exact scaled integers (order-free)
    chem_pp = (
        chem.select(F.col("p1").alias("playerId"), "chemistry")
        .unionByName(chem.select(F.col("p2").alias("playerId"), "chemistry"))
        .groupBy("playerId")
        .agg(
            (
                F.sum(F.round(F.col("chemistry") * 1000000).cast("long")).cast(
                    "long"
                )
                / 1000000.0
            ).alias("chem_sum")
        )
    )
    return (
        final.join(
            profile.select(
                "playerId",
                "pass_accuracy",
                "fouls",
                "goals",
                "own_goals",
                "shots_on_target",
            ),
            "playerId",
        )
        .join(chem_pp, "playerId")
        .select(
            "playerId",
            rounded(F.col("final_rating"), 6).alias("final_rating"),
            rounded(F.col("pass_accuracy"), 6).alias("pass_accuracy"),
            "fouls",
            "goals",
            "own_goals",
            "shots_on_target",
            rounded(F.col("chem_sum"), 6).alias("chem_sum"),
        )
        .orderBy("playerId")
    )


def _register_pipeline_roundtrip() -> None:
    @register("t16_fpl_pipeline_roundtrip", oracle=_t16_oracle())
    def t16_fpl_pipeline_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Stage the fixture stream, drain the ingest sinks and the
        stateful ladder concurrently, then serve from the sink tables.

        Honors SPARK_GRAFT_FPL_FIXTURES (scaled fixture dirs) like the
        batch pipeline; triggers size to the file count so the BATCH
        COUNT stays constant under stream-volume scaling."""
        import glob as _glob

        from fantasy_premier_league_spark.operators.pipeline import (
            FIXTURES as _fixtures_root,
        )
        from fantasy_premier_league_spark.streaming.pipeline import (
            drop_listener_bus,
            make_state_sink,
            run_ingest_sinks,
            stream_source,
            streaming_player_state,
        )

        stream_dir = os.path.join(_fixtures_root, "stream")
        n_stream_files = len(_glob.glob(os.path.join(stream_dir, "*.jsonl")))
        # per-session sink dir + stale-sibling prune + atexit removal:
        # the shared lifecycle contract lives in _claim_session_tmpdir
        out_dir = _claim_session_tmpdir(
            "t16_roundtrip", spark.sparkContext.applicationId
        )
        # The two availableNow drains OVERLAP (r17, guide §2.6 "overlap
        # independent jobs"): they read the same static fixture dir and
        # write DISJOINT sink tables (events/feed vs rating/profile)
        # with separate checkpoints, so the scheduler back-fills the
        # ladder's per-batch tails with ingest tasks (0.78x of the
        # sequential wall). The state ladder's source is built on a
        # session clone with 4 shuffle (= state) partitions, so the
        # caller's session conf is never written; ingest runs under the
        # caller's session default.
        queries: list = []
        with stop_on_error(queries):
            # K2 + event feed: idempotent batch_id partitions (T8). The
            # ingest sink needs no per-match cadence, so the whole
            # fixture drains in one batch.
            queries.append(
                run_ingest_sinks(
                    stream_source(
                        spark,
                        stream_dir,
                        max_files_per_trigger=max(64, n_stream_files),
                    ),
                    out_dir,
                    os.path.join(out_dir, "_ckpt_ingest"),
                )
            )
            # The stateful fold drained through the K3 + K4 sink
            # (make_state_sink documents the committed-snapshot MERGE
            # rule). max(3, ceil(files/4)) match files per micro-batch
            # keeps a genuine multi-batch incremental run (4 batches, 4 profile
            # snapshot versions) at a fraction of the per-batch fixed
            # cost; file order is path order, so matches still arrive
            # chronologically and the fold's per-batch matchId sort
            # preserves the recurrence order.
            sink = make_state_sink(
                os.path.join(out_dir, "rating"), os.path.join(out_dir, "profile")
            )
            state_spark = spark.newSession()
            state_spark.conf.set("spark.sql.shuffle.partitions", "4")
            state_query = (
                streaming_player_state(
                    stream_source(
                        state_spark,
                        stream_dir,
                        max_files_per_trigger=max(3, -(-n_stream_files // 4)),
                    )
                )
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", os.path.join(out_dir, "_ckpt_state"))
                .trigger(availableNow=True)
                .start()
            )
            queries.append(state_query)
            for q in queries:
                q.awaitTermination()
        # the clone and the session the stateful query ran on leave one
        # streaming listener bus each on the SparkContext
        drop_listener_bus(state_spark._jsparkSession)
        drop_listener_bus(state_query._jsq.streamingQuery().sparkSessionForStream())
        return t16_serve(spark, out_dir)


_register_pipeline_roundtrip()


# ---------------------------------------------------------------------------
# T18: ingest-time dedup against UNBOUNDED persistent history -- the
# production pattern t6/t14 cannot express: those hold dedup keys in
# the engine's state store (bounded by watermark/run lifetime), while a
# training-data crawler must reject content seen in ANY previous crawl.
# Here the history is a digest TABLE maintained by foreachBatch with
# the same committed-snapshot MERGE discipline as make_state_sink
# (_SUCCESS + version < batch_id), so a replayed batch after a crash
# re-reads the last committed history and reproduces its decisions --
# T8 for the dedup state itself.
#
# The stream models a RE-CRAWL: the corpus arrives once (4 batches,
# bucketed by doc_id % 4), then arrives again with new doc_ids
# (+100000000) and ~1/7 of the texts modified ('<text> v2') -- so the
# accept branch (first occurrences + genuinely changed re-crawl docs)
# and the reject branch (unchanged re-crawl mass) are BOTH exercised,
# and the batch oracle derives the identical logical stream from the
# documents table alone.
#
# 100 TB shape: per batch one in-batch digest groupBy + one anti-join
# of the batch against the history table on digest; production buckets
# the history by digest so the anti-join co-locates without shuffling
# the history side each batch, and the history append stays
# partition-local. Accepted docs land in batch_id partitions (dynamic
# overwrite = idempotent replay, as t13/K4).
# ---------------------------------------------------------------------------


def stage_crawl_stream(spark: SparkSession, sf_dir: str, root: str) -> str:
    """Stage the t18 re-crawl fixture under ``root/src``: 8 single-file
    parquets (crawl 1 buckets 0-3, then crawl 2 with +100000000 doc_ids
    and ~1/7 texts modified), names + mtimes strictly ascending so the
    file source with maxFilesPerTrigger=1 replays them in order
    (batch_id == file index). Returns the src dir. Shared by the
    registered query and the restart-idempotency test."""
    import glob as _g

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = os.path.join(root, "src")
    os.makedirs(src)
    recrawl = docs.select(
        (F.col("doc_id") + 100000000).alias("doc_id"),
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    now = time.time()
    # ONE partitioned write stages all 8 fixture files (r17): the
    # previous per-bucket loop ran 8 filter+coalesce(1) jobs, each
    # re-scanning the documents table -- 8 jobs of per-job fixed
    # cost for 2 logical scans of data. Hash-partitioning on the
    # 8-value bucket key sends every bucket to exactly one task, so
    # partitionBy(b) emits exactly one file per bucket dir; row
    # order within a file differs from the loop form, which is
    # invisible to the drain (per-batch min/groupBy + anti-join are
    # order-insensitive) and to the oracle (min(doc_id) per digest).
    # Interleaved A/B at sf0.1: ~0.6 s warm, 2-4 s cold per run.
    both = docs.withColumn(
        "b", (F.col("doc_id") % 4).cast("int")
    ).unionByName(
        recrawl.withColumn(
            "b", ((F.col("doc_id") % 100000000) % 4 + 4).cast("int")
        )
    )
    stage = os.path.join(root, "_stage_all")
    both.repartition("b").write.partitionBy("b").parquet(stage)
    for i in range(8):
        part = _g.glob(os.path.join(stage, f"b={i}", "part-*.parquet"))
        assert len(part) == 1, f"expected 1 staged file for b={i}: {part}"
        dst = os.path.join(src, f"crawl_{i:02d}.parquet")
        shutil.move(part[0], dst)
        os.utime(dst, (now + i, now + i))
    shutil.rmtree(stage, ignore_errors=True)
    return src


def make_dedup_history_sink(hist_root: str, accepted: str):
    """foreachBatch sink holding the t18 ingest-dedup discipline:
    anti-join the batch's first-per-digest rows against the newest
    COMMITTED history snapshot, land accepted docs in an idempotent
    batch_id partition, then append the new digests as history
    version v{batch_id} (T8 for the dedup state: a replayed batch
    re-reads the same committed base and reproduces its decisions).
    Shared by the registered query and the restart test."""
    from fantasy_premier_league_spark.streaming.pipeline import (
        latest_committed_version,
    )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        bd = batch_df.select(
            "doc_id", F.md5(F.col("text").cast("binary")).alias("digest")
        )
        in_batch_first = bd.groupBy("digest").agg(F.min("doc_id").alias("doc_id"))
        prev_dir = latest_committed_version(hist_root, batch_id)
        if prev_dir is not None:
            hist = sp.read.parquet(prev_dir)
            new = in_batch_first.join(hist, "digest", "left_anti")
        else:
            hist = None
            new = in_batch_first
        new.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy(
            "batch_id"
        ).parquet(accepted)
        # merge the history from the batch partition just COMMITTED
        # above: `new` is lazy, so unioning it directly would recompute
        # the scan + anti-join a second time (review r9). No distinct()
        # needed -- hist is duplicate-free by induction and `new` is
        # anti-joined against it, so the union cannot introduce dups.
        # A batch that accepts ZERO rows (every digest already in the
        # history) writes no partition dir at all, so guard the
        # read-back -- the history chain tolerates version gaps
        # (latest_committed_version takes the newest < batch_id), so
        # an all-duplicate batch simply writes no snapshot either.
        part_dir = os.path.join(accepted, f"batch_id={batch_id}")
        if not os.path.isdir(part_dir):
            return
        written = sp.read.parquet(part_dir).select("digest")
        merged_hist = written if hist is None else hist.unionByName(written)
        merged_hist.write.mode("overwrite").parquet(
            os.path.join(hist_root, f"v{batch_id:05d}")
        )

    return ingest


@register(
    "t18_stream_dedup_history",
    oracle="""
    WITH stream AS (
      SELECT doc_id, text, doc_id % 4 AS b FROM documents
      UNION ALL
      SELECT doc_id + 100000000,
             CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END,
             4 + doc_id % 4
      FROM documents
    ),
    d AS (SELECT doc_id, md5(text) AS digest, b FROM stream),
    f AS (SELECT digest, min(b) AS first_b FROM d GROUP BY digest),
    acc AS (
      SELECT d.digest, CAST(min(d.doc_id) AS BIGINT) AS doc_id, f.first_b
      FROM d JOIN f ON f.digest = d.digest AND d.b = f.first_b
      GROUP BY d.digest, f.first_b
    )
    SELECT doc_id, digest, CAST(first_b AS INT) AS batch_id
    FROM acc ORDER BY doc_id
    """,
)
def stream_dedup_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-(session, sf_dir) dir (review r9: keyed only by sf_dir it
    # races concurrent sessions -- one session's entry rmtree deletes
    # the other's live src/checkpoint/history mid-stream; keyed only by
    # appId, a second invocation at a different scale wipes scratch a
    # previously returned DataFrame still lazily reads)
    tag = "".join(c if c.isalnum() else "_" for c in sf_dir.rstrip("/"))
    root = _claim_session_tmpdir(
        f"t18_dedup_history_{tag}", spark.sparkContext.applicationId
    )
    src = stage_crawl_stream(spark, sf_dir, root)
    hist_root = os.path.join(root, "history")
    accepted = os.path.join(root, "accepted")
    ingest = make_dedup_history_sink(hist_root, accepted)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    with scoped_conf(spark, "spark.sql.shuffle.partitions", "8"):
        (
            stream.writeStream.foreachBatch(ingest)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    return (
        spark.read.parquet(accepted)
        .select("doc_id", "digest", F.col("batch_id").cast("int").alias("batch_id"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# T19: the state-store READER (Spark 4 `statestore` batch source) --
# the operational surface every production stream eventually needs:
# inspect, audit, or migrate a running query's checkpointed state
# WITHOUT stopping it or replaying its input. The reference has no
# analogue (its DStream state lives opaquely inside
# ``updateStateByKey`` closures, master.py:330-373 -- debugging it
# means print statements); Structured Streaming's state is a real
# keyed table, and this query gates that it reads back EXACTLY as the
# aggregation semantics promise: after a full availableNow drain of a
# keyed count/sum over events, the store's (key, value) rows ARE the
# batch GROUP BY -- which is precisely the differential oracle.
#
# Scale: the reader emits one partition per state-store shard, so a
# 100 TB stream's state scans with the same parallelism the stream
# wrote it with -- no single-node reconstruction, no checkpoint-format
# spelunking. State-key cardinality (|user_id|), not event volume,
# bounds the read.
# ---------------------------------------------------------------------------


# checkpoint dirs claimed by t19 runs, keyed (applicationId, sf_dir):
# the path contract tests consume via t19_checkpoint_path()
_T19_CHECKPOINTS: dict[tuple[str, str], str] = {}


def t19_checkpoint_path(spark: SparkSession, sf_dir: str) -> str:
    """The checkpoint dir the last ``t19_state_store_reader`` run
    claimed for this (session, sf_dir). Raises KeyError until the query
    has run -- deliberately NOT a re-claim (claim wipes at claim, which
    would delete the state the caller wants to read)."""
    return _T19_CHECKPOINTS[
        (spark.sparkContext.applicationId, sf_dir.rstrip("/"))
    ]


@register(
    "t19_state_store_reader",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def state_store_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain a keyed streaming aggregate, then read its STATE back as
    a batch DataFrame via ``spark.read.format("statestore")``.

    The checkpoint lives in session-claimed scratch (the t18 rule: the
    returned DataFrame lazily re-reads the store, so the directory must
    outlive this call but not the session)."""
    tag = "".join(c if c.isalnum() else "_" for c in sf_dir.rstrip("/"))
    root = _claim_session_tmpdir(
        f"t19_state_reader_{tag}", spark.sparkContext.applicationId
    )
    # record the claimed checkpoint so tests (the state-metadata gate)
    # read the path from the query's own contract instead of rebuilding
    # the scratch layout + sanitization by hand (ADVICE r14 #3); a
    # re-claim in the same session returns the identical path
    _T19_CHECKPOINTS[
        (spark.sparkContext.applicationId, sf_dir.rstrip("/"))
    ] = os.path.join(root, "ckpt")
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(fixed_units(F.col("value"))).alias("value_cents"),
        )
    )
    with scoped_conf(spark, "spark.sql.shuffle.partitions", "8"):
        (
            agg.writeStream.outputMode("update")
            .format("noop")
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    state = (
        spark.read.format("statestore")
        .option("path", os.path.join(root, "ckpt"))
        .load()
    )
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").alias("n_events"),
        F.col("value.sum").alias("value_cents"),
    ).orderBy("user_id")
