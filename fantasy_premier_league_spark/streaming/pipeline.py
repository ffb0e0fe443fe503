"""Structured Streaming rebuild of the reference's DStream job
(master.py:330-379; SURVEY section 7 Phase 3+4).

Reference topology: socket text DStream, 5 s batches, 4 chained
``updateStateByKey``, rmtree/append text sinks. Rebuild topology:

- sources: ``readStream.format("socket")`` for the live demo (S1) and
  the file source over the fixture stream dir (the directory plus a
  ``*.jsonl`` name filter, so each trigger lists one directory) for
  replayable tests --
  ``maxFilesPerTrigger=1`` makes one micro-batch per match file,
  reproducing the reference's match-per-batch cadence deterministically
  (T1); ``availableNow`` drains the backlog and stops (T7);
- one permissive ``from_json`` + wyId/eventId discrimination (F1/F2);
- K2 (match log) and the event feed as idempotent ``foreachBatch``
  Parquet appends partitioned by batch_id -- re-running a batch
  overwrites its own partition, replacing the reference's
  non-transactional append/rmtree sinks (T8);
- A2/A3 as a streaming groupBy aggregation in update mode (state keyed
  by (playerId, matchId), kept partition-local by the StateStore --
  the reference reshuffles the FULL key space every batch);
- A4+A5 (profile running mean + rating recurrence) as ONE
  ``applyInPandasWithState`` operator keyed by playerId (T5): the only
  genuinely sequential semantics in the engine, Arrow-batched, state =
  a single row per player. Chaining stateful ops inside one query is
  not supported by the incremental planner (and the reference's
  4-deep updateStateByKey chain recomputed everything every batch),
  so the state function reduces the batch's raw events to per-match
  rows itself: one pandas groupby-sum, then the A3 ratios and the
  contribution on whole Series (each batch carries whole matches, so
  the sums are complete). It then runs the batch chain's own fold,
  functions/fpl_rules.py ``fold_player``, from the player's stored
  state. The stream reads no roster spans, so every counted match
  takes a rating step; it reproduces the batch results when every
  counted (player, match) is fielded, as in the fixtures, and matches
  arrive in matchId order.

At 100 TB: the file/kafka source partitions by file/topic-partition;
the single stateful shuffle keys on playerId (bounded state, one row
per player); sinks are partitioned appends -- no global barrier, no
driver-memory state.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from fantasy_premier_league_spark.functions import scoped_conf
from fantasy_premier_league_spark.functions.fpl_rules import (
    INIT_STATE,
    PROFILE_COUNTS,
    final_metrics,
    fold_player,
    performance,
    series_div,
)
from fantasy_premier_league_spark.schemas import STREAM_SCHEMA

RATING_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("playerId", T.IntegerType()),
        T.StructField("matchId", T.IntegerType()),
        T.StructField("rating", T.DoubleType()),
        T.StructField("delta", T.DoubleType()),
        T.StructField("pass_accuracy_mean", T.DoubleType()),
        T.StructField("fouls_total", T.LongType()),
        T.StructField("goals_total", T.LongType()),
        T.StructField("own_goals_total", T.LongType()),
        T.StructField("shots_on_target_total", T.LongType()),
    ]
)

# K3 profile snapshot rows: operators/pipeline.py profile_columns of
# the RATING_OUTPUT_SCHEMA rows, one per player
PROFILE_SNAPSHOT_SCHEMA = T.StructType(
    [
        T.StructField("playerId", T.IntegerType()),
        T.StructField("matchId", T.IntegerType()),
        T.StructField("pass_accuracy", T.DoubleType()),
        *(T.StructField(c, T.LongType()) for c in PROFILE_COUNTS),
    ]
)

# state: one row per player (rating + cumulative profile); fold_player's
# state tuple, starting at fpl_rules.INIT_STATE
RATING_STATE_SCHEMA = T.StructType(
    [
        T.StructField("rating", T.DoubleType()),
        T.StructField("pa_mean", T.DoubleType()),
        T.StructField("fouls", T.LongType()),
        T.StructField("goals", T.LongType()),
        T.StructField("own_goals", T.LongType()),
        T.StructField("shots", T.LongType()),
        T.StructField("last_match", T.IntegerType()),
    ]
)


def stream_source(
    spark: SparkSession, stream_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source replay of the fixture stream: one match file per
    micro-batch (S1's test twin; socket source in socket_source()).

    The source path is the directory plus a ``*.jsonl`` name filter, not
    a glob: a glob expands to one root path per file, and past
    ``parallelPartitionDiscovery.threshold`` (32) roots every
    latestOffset lists them with a distributed job."""
    return (
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "*.jsonl")
        .text(stream_dir)
        .select(F.from_json("value", STREAM_SCHEMA).alias("r"))
        .select("r.*")
    )


def socket_source(spark: SparkSession, host: str, port: int) -> DataFrame:
    """S1: the reference's socket ingest (master.py:330), parsed once."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
        .select(F.from_json("value", STREAM_SCHEMA).alias("r"))
        .select("r.*")
    )


def console_sink(
    stream_df: DataFrame, checkpoint: str, num_rows: int = 20
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """K1: the reference's debug console sink (master.py:333-368 prints
    every DStream with .pprint() x8). One writeStream.format("console")
    covers the same observability role; debug-only, never a data sink.
    """
    return (
        stream_df.writeStream.format("console")
        .option("numRows", num_rows)
        .option("truncate", True)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_ingest_sinks(
    parsed: DataFrame, out_dir: str, checkpoint: str
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """K2 + event feed: idempotent foreachBatch Parquet appends.

    Each batch overwrites its own batch_id partition (dynamic partition
    overwrite), so replays after failure cannot duplicate -- the
    exactly-once story the reference's append-to-Match.json lacks.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        stamped = batch_df.withColumn("batch_id", F.lit(batch_id))
        # two write actions below -- without a persist each re-runs the
        # source scan + from_json parse (the same double-execution the
        # r16 t16 stage study priced in make_state_sink; at scale this
        # is the full feed parse, once per sink instead of per action)
        stamped.persist()
        try:
            stamped.filter(F.col("wyId").isNotNull()).select(
                "batch_id", "wyId", "label", "dateutc", "duration", "winner",
                "venue", "gameweek",
                F.to_json(F.struct("teamsData")).alias("teams_json"),
            ).write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("batch_id").parquet(os.path.join(out_dir, "match_log"))
            stamped.filter(F.col("eventId").isNotNull()).select(
                "batch_id", "id", "eventId", "subEventId", "playerId",
                "matchId", "teamId", F.col("tags.id").alias("tag_ids"),
            ).write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("batch_id").parquet(os.path.join(out_dir, "events"))
        finally:
            stamped.unpersist()

    return (
        parsed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def latest_committed_version(root: str, batch_id: "int | None" = None) -> "str | None":
    """Newest COMMITTED snapshot dir ``root/vNNNNN``: the one commit rule
    for versioned MERGE sinks (K3 profile snapshots and the t18
    dedup-history table) and their readers. Committed = the
    ``_SUCCESS`` marker exists. A sink replaying ``batch_id`` also
    bounds the version strictly below it, so a replayed batch after a
    crash ignores its own partial write and re-reads the state its
    original attempt read (T8); a reader passes no bound."""
    import glob as _glob
    import re as _re

    prevs = []
    for d in sorted(_glob.glob(os.path.join(root, "v*"))):
        m = _re.search(r"v(\d+)$", d)
        if (
            m is not None
            and (batch_id is None or int(m.group(1)) < batch_id)
            and os.path.exists(os.path.join(d, "_SUCCESS"))
        ):
            prevs.append(d)
    return prevs[-1] if prevs else None


def make_state_sink(rating_dir: str, profile_root: str, marks: list | None = None):
    """K3 + K4 foreachBatch sink over the streaming player state
    (shared by t16_fpl_pipeline_roundtrip and the restart-idempotency
    test, so the test exercises the REAL sink).

    K4: each batch's rating rows land in their own batch_id partition
    (dynamic partition overwrite) -- a replayed batch rewrites the same
    partition, never duplicates.

    K3: profile snapshot v{batch_id} = previous COMMITTED snapshot
    MERGE this batch's latest per-player state, as ONE window: each
    player's latest row over (previous snapshot UNION this batch's
    profile rows). fold_player emits a match only above the player's
    last_match, so a batch row always outranks the player's previous
    row, and a player absent from the batch keeps it. "Committed" means
    a _SUCCESS marker AND version < batch_id: after a crash mid-write,
    the replayed batch must not read its own partial v{batch_id} dir as
    the merge base (players absent from the partial write would be
    silently dropped) -- it re-reads v{batch_id-1} and reproduces the
    identical snapshot. The previous snapshot is read with its known
    schema (PROFILE_SNAPSHOT_SCHEMA), so no job infers it.

    ``marks``: when given, each batch appends
    ``{"batch_id", "rating_s", "merge_s"}`` so the K4 write and the K3
    MERGE are priced separately (``python3 perfbench/run.py --workload
    stream --trace 1`` reports them as ``stream.sink_rating_ms_p50`` and
    ``stream.sink_merge_ms_p50``).
    """
    import time as _time

    from fantasy_premier_league_spark.operators.pipeline import (
        latest_per_player,
        profile_columns,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        # The K4 write and the K3 MERGE are two ACTIONS on batch_df,
        # and foreachBatch DataFrames are not materialized between
        # actions -- without a persist each action re-executes the
        # micro-batch's whole stateful-fold plan. Caching costs only
        # the touched-groups output (bounded per batch) and cut the
        # t16 state stage to 0.60x in the r16 stage study
        # (BASELINE.md "Round 16").
        batch_df.persist()
        try:
            t0 = _time.perf_counter()
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "overwrite"
            ).option("partitionOverwriteMode", "dynamic").partitionBy(
                "batch_id"
            ).parquet(rating_dir)
            t_rating = _time.perf_counter()
            rows = profile_columns(batch_df)
            prev_dir = latest_committed_version(profile_root, batch_id)
            if prev_dir is not None:
                rows = (
                    sp.read.schema(PROFILE_SNAPSHOT_SCHEMA)
                    .parquet(prev_dir)
                    .unionByName(rows)
                )
            latest_per_player(rows).write.mode("overwrite").parquet(
                os.path.join(profile_root, f"v{batch_id:05d}")
            )
            if marks is not None:
                t_end = _time.perf_counter()
                marks.append(
                    {
                        "batch_id": batch_id,
                        "rating_s": t_rating - t0,
                        "merge_s": t_end - t_rating,
                    }
                )
        finally:
            batch_df.unpersist()

    return sink


def drop_listener_bus(jsession: Any) -> None:
    """Unregister a finished JVM session's streaming listener bus from
    its SparkContext. Spark registers one for every session whose
    StreamingQueryManager gets built -- a ``newSession()`` clone that
    starts a query, and the clone each stateful query runs on (its
    state-store coordinator is reached through it) -- and never removes
    it, so each such run would leave one behind for the context's life.
    """
    manager = jsession.streams()
    field = manager.getClass().getDeclaredField("listenerBus")
    field.setAccessible(True)
    jsession.sparkContext().listenerBus().removeListener(field.get(manager))


def streaming_match_counters(parsed: DataFrame) -> DataFrame:
    """A2 as an incremental streaming aggregation: state keyed by
    (playerId, matchId); update mode emits only changed keys."""
    from fantasy_premier_league_spark.operators.pipeline import (
        match_counters,
        metric_vectors,
    )

    return match_counters(metric_vectors(parsed.filter(F.col("eventId").isNotNull())))


def _fold_player_state(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """A4+A5 (fpl_rules.fold_player) from the player's stored state.
    Input rows: one per event for this player in this batch; each batch
    carries whole matches, so its per-match sums are complete."""
    c = pd.concat(list(pdfs)).groupby(["playerId", "matchId"], as_index=False).sum()
    c = c.assign(**final_metrics(c.__getitem__, series_div))
    c["perf"] = performance(c.__getitem__)
    folded, new_state = fold_player(c, state.get if state.exists else INIT_STATE)
    state.update(new_state)
    yield folded[RATING_OUTPUT_SCHEMA.fieldNames()]


def streaming_player_state(parsed: DataFrame) -> DataFrame:
    """The stateful tier: per-player rating + profile evolving match by
    match, emitted in append mode. Replaces the reference's chained
    updateStateByKey with ONE keyed state operator."""
    from fantasy_premier_league_spark.operators.pipeline import metric_vectors

    events = parsed.filter(F.col("eventId").isNotNull())
    vectors = metric_vectors(events).drop("id")
    return vectors.groupBy("playerId").applyInPandasWithState(
        _fold_player_state,
        outputStructType=RATING_OUTPUT_SCHEMA,
        stateStructType=RATING_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_to_memory(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Drain a streaming query into a memory sink, synchronously, and
    return the sink table (T7).

    The drain is ``processAllAvailable`` on the default trigger, the
    semantics t12's watermark-evicted outer rows are gated against. The
    checkpoint is a throwaway (the memory sink's rows live in the
    session, and each call uses a fresh query name), so it is deleted
    after the drain -- without this, every call leaks a WAL+state
    directory into the temp dir (~1.5 MB each, hundreds per
    verification sweep)."""
    name = "s" + uuid.uuid4().hex[:12]
    checkpoint = os.path.join(tempfile.gettempdir(), f"ckpt_{name}")
    # state partitions are fixed at the first checkpoint, so their
    # count is a deliberate deployment knob, not something AQE can fix
    # later: size it to the cluster (hundreds+ at 100 TB) or pay a
    # per-partition state-store commit/snapshot fixed cost per
    # micro-batch. The gate queries drain sf<=0.1 inputs, where the
    # session's 32 partitions are pure overhead (~3x wall). The query
    # clones the session at start, so the scope only covers start().
    with scoped_conf(stream_df.sparkSession, "spark.sql.shuffle.partitions", "8"):
        query = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .start()
        )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
        shutil.rmtree(checkpoint, ignore_errors=True)
    return stream_df.sparkSession.table(name)
