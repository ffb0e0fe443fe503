#!/usr/bin/env python
"""Steady-state streaming latency reader.

Every streaming correctness gate in this repo drains with
trigger(availableNow=True), which proves exactly-once semantics and
result parity but never measures per-micro-batch trigger-to-commit
latency at a steady processing-time cadence. This reader runs one
streaming shape over Spark's built-in ``rate`` source with a
processingTime trigger for a fixed number of micro-batches and
summarizes StreamingQueryProgress:

- ``trigger_ms``  = durationMs.triggerExecution -- wall time from
  trigger fire to batch commit (the user-visible freshness bound);
- ``addBatch_ms`` = durationMs.addBatch -- the execution component;
- median input rows and peak state rows per batch.

Batch 0 pays stream initialization (offset log creation, state store
setup) and is reported separately, not folded into the percentiles --
steady state is what the p50/p95 claim is about.

The shapes are the three that the perfbench ``stream`` workload (the
real applyInPandasWithState fold) does not measure: ``agg`` (the t4
watermark + tumbling-window aggregate), ``join`` (the t7/t12
double-watermarked stream-stream interval join, the widest state) and
``merge`` (the t18 foreachBatch committed-snapshot MERGE ladder, via
the real make_dedup_history_sink).

Usage:
    python tools/stream_latency.py [--shape agg|join|merge] [--batches 24]
                                   [--trigger-ms 500] [--rows-per-sec 5000]

Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.stats import percentile  # noqa: E402


def _rate(spark, rows_per_sec: int):
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_sec))
        .load()
    )


def _shape_agg(spark, rows_per_sec: int):
    """t4 shape: event-time watermark + 10 s tumbling window + per-window
    count/sum, update mode (streaming/queries.py:118)."""
    from pyspark.sql import functions as F

    stream = (
        _rate(spark, rows_per_sec)
        .withWatermark("timestamp", "5 seconds")
        .groupBy(F.window("timestamp", "10 seconds").alias("win"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value") % 97).alias("checksum"),
        )
    )
    return (
        stream.writeStream.outputMode("update").format("noop"),
        "rate -> watermark 5s -> window 10s agg -> noop (update)",
    )


def _shape_join(spark, rows_per_sec: int):
    """t7/t12 shape: double-watermarked stream-stream interval join --
    the widest per-key state a micro-batch carries
    (streaming/queries.py:183). Both arms fork from ONE rate stream
    exactly as t7 forks its file source; even values play purchases,
    odd play signups, pair key value//2, so every pair lands within a
    second and the 10 s interval always matches while the 5 s watermark
    continuously evicts settled state."""
    from pyspark.sql import functions as F

    events = _rate(spark, rows_per_sec)
    left = (
        events.filter(F.col("value") % 2 == 0)
        .select(
            (F.col("value") / 2).cast("long").alias("l_key"),
            F.col("timestamp").alias("l_ts"),
        )
        .withWatermark("l_ts", "5 seconds")
    )
    right = (
        events.filter(F.col("value") % 2 == 1)
        .select(
            (F.col("value") / 2).cast("long").alias("r_key"),
            F.col("timestamp").alias("r_ts"),
        )
        .withWatermark("r_ts", "5 seconds")
    )
    joined = left.join(
        right,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 10 SECONDS"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 10 SECONDS")),
    )
    return (
        joined.writeStream.outputMode("append").format("noop"),
        "rate fork -> 2x watermark 5s -> interval join ±10s -> noop (append)",
    )


def _shape_merge(spark, rows_per_sec: int):
    """t18 shape: foreachBatch committed-snapshot MERGE ladder -- the
    REAL make_dedup_history_sink (streaming/queries.py:1147), fed
    doc_id/text rows derived from the rate source with value%1000 text
    collisions for duplicate pressure. Per batch: anti-join against the
    newest committed history snapshot, idempotent batch_id partition
    write, history version append -- the exactly-once discipline t18's
    correctness gate proves, here priced per micro-batch."""
    from pyspark.sql import functions as F

    from fantasy_premier_league_spark.functions.tuning import (
        claim_session_tmpdir,
    )
    from fantasy_premier_league_spark.streaming.queries import (
        make_dedup_history_sink,
    )

    # claimed scratch (wipe-at-claim + atexit removal): each batch
    # lands a history version + an accepted partition, real data
    # volume a bare mkdtemp would orphan on every invocation
    root = claim_session_tmpdir(
        "stream_latency_merge", spark.sparkContext.applicationId
    )
    ingest = make_dedup_history_sink(
        os.path.join(root, "history"), os.path.join(root, "accepted")
    )
    docs = _rate(spark, rows_per_sec).select(
        F.col("value").alias("doc_id"),
        F.concat(F.lit("doc-"), (F.col("value") % 1000)).alias("text"),
    )
    return (
        docs.writeStream.foreachBatch(ingest),
        "rate -> foreachBatch anti-join + snapshot MERGE ladder (t18 sink)",
    )


SHAPES = {"agg": _shape_agg, "join": _shape_join, "merge": _shape_merge}


def summarize(progress: list[dict]) -> dict:
    """Latency summary of StreamingQueryProgress dicts ordered by
    batchId. The first (batch 0, stream init) is reported alone; the
    percentiles cover the steady-state batches after it."""
    init, steady = progress[0], progress[1:]
    if not steady:
        raise ValueError("need at least one batch after batch 0")

    def series(key: str) -> list[float]:
        return [float(p["durationMs"][key]) for p in steady if key in p["durationMs"]]

    trig, add = series("triggerExecution"), series("addBatch")
    state = [
        int(p["stateOperators"][0]["numRowsTotal"])
        for p in steady
        if p.get("stateOperators")
    ]
    return {
        "n_batches_steady": len(steady),
        "batch0_trigger_ms": float(init["durationMs"]["triggerExecution"]),
        "p50_trigger_ms": round(percentile(trig, 50), 1),
        "p95_trigger_ms": round(percentile(trig, 95), 1),
        "max_trigger_ms": round(max(trig), 1),
        "p50_addBatch_ms": round(percentile(add, 50), 1),
        "p95_addBatch_ms": round(percentile(add, 95), 1),
        "median_input_rows": statistics.median_high(
            int(p["numInputRows"]) for p in steady
        ),
        "max_state_rows": max(state, default=0),
    }


def run(n_batches: int, trigger_ms: int, rows_per_sec: int, shape: str) -> dict:
    from fantasy_premier_league_spark.session import get_spark

    spark = get_spark("stream-latency")
    writer, shape_desc = SHAPES[shape](spark, rows_per_sec)
    ckpt = tempfile.mkdtemp(prefix="stream_latency_ckpt_")
    query = (
        writer.option("checkpointLocation", ckpt)
        .trigger(processingTime=f"{trigger_ms} milliseconds")
        .start()
    )
    # poll until n_batches micro-batches have committed rather than
    # sleeping a fixed wall time, so a loaded machine yields MORE wait,
    # not fewer batches
    seen: dict[int, dict] = {}
    deadline = time.monotonic() + max(120, n_batches * trigger_ms / 1000 * 6)
    try:
        while len(seen) < n_batches and time.monotonic() < deadline:
            for p in query.recentProgress:
                seen[p["batchId"]] = p
            time.sleep(trigger_ms / 1000 / 4)
    finally:
        query.stop()
        spark.stop()
        shutil.rmtree(ckpt, ignore_errors=True)

    if len(seen) < n_batches:
        raise SystemExit(
            f"only {len(seen)}/{n_batches} micro-batches committed "
            f"before deadline -- machine too loaded for a readout"
        )
    return {
        "shape": shape_desc,
        "trigger_ms": trigger_ms,
        "rows_per_sec": rows_per_sec,
        **summarize([seen[b] for b in sorted(seen)][:n_batches]),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=24)
    ap.add_argument("--trigger-ms", type=int, default=500)
    ap.add_argument("--rows-per-sec", type=int, default=5000)
    ap.add_argument("--shape", choices=sorted(SHAPES), default="agg")
    args = ap.parse_args()
    out = run(args.batches, args.trigger_ms, args.rows_per_sec, args.shape)
    print(json.dumps(out, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
