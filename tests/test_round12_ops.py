"""Round-12 behavior tests.

1. The transformWithStateInPandas environment gate (VERDICT r11 #8):
   SURVEY §2.10 claims the Spark 4 stateful API is unusable here
   because its Python worker needs ``google.protobuf``, which this
   container lacks. That claim was prose; this test makes it
   self-documenting evidence -- it asserts the exact import that the
   API's worker performs fails, and SKIPS with the documented reason.
   If the environment ever gains protobuf, the skip flips into a live
   smoke of the API automatically, closing the gap without a code
   change elsewhere.
"""

from __future__ import annotations

import importlib

import pytest


def _protobuf_available() -> bool:
    try:
        importlib.import_module("google.protobuf")
        return True
    except ImportError:
        return False


def test_transform_with_state_env_gate(spark, tmp_path):
    if not _protobuf_available():
        # Pin the claim precisely: the class itself imports fine (so a
        # naive "import works" check would be misleading), but the
        # state-server protocol module the worker loads does not.
        importlib.import_module("pyspark.sql.streaming.stateful_processor")
        with pytest.raises(ImportError):
            importlib.import_module(
                "pyspark.sql.streaming.proto.StateMessage_pb2"
            )
        pytest.skip(
            "google.protobuf absent: transformWithStateInPandas is "
            "environment-gated (SURVEY §2.10); applyInPandasWithState "
            "covers the arbitrary-state surface"
        )

    # Environment gained protobuf: run the API for real. Minimal
    # per-key running count over an availableNow file stream.
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        IntegerType,
        StructField,
        StructType,
    )

    src = str(tmp_path / "src")
    out_schema = StructType(
        [
            StructField("id1", IntegerType(), True),
            StructField("count", IntegerType(), True),
        ]
    )
    state_schema = StructType([StructField("count", IntegerType(), True)])

    class CountProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.state = handle.getValueState("count", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n = sum(len(pdf) for pdf in rows)
            if self.state.exists():
                n += self.state.get()[0]
            self.state.update((n,))
            yield pd.DataFrame({"id1": [int(key[0])], "count": [n]})

        def close(self) -> None:
            pass

    spark.range(20).select(
        (F.col("id") % 4).cast("int").alias("id1")
    ).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("id1 int")
        .parquet(src)
        .groupBy("id1")
        .transformWithStateInPandas(
            CountProcessor(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("tws_smoke")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["id1"]: r["count"]
        for r in spark.sql("SELECT * FROM tws_smoke").collect()
    }
    assert got == {0: 5, 1: 5, 2: 5, 3: 5}


def test_percentile_approx_matches_exact_at_production_accuracy(spark):
    """BASELINE.md's round-12 note claims `percentile_approx` is the
    production swap for docs_quality_percentile_filter's exact
    `F.percentile` (whose per-source agg state buffers every score --
    a hot-key wall at 100 TB). Measure the claim instead of arguing
    it: at accuracy=10000 the GK sketch's per-source P75 threshold and
    the resulting keep-counts must track the exact aggregate closely
    on the real documents table.
    """
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    scored = docs.select(
        "source", F.size(F.split(F.col("text"), " ")).alias("score")
    )
    thr = (
        scored.groupBy("source")
        .agg(
            F.percentile("score", F.lit(0.75)).alias("p_exact"),
            F.percentile_approx("score", F.lit(0.75), F.lit(10000)).alias(
                "p_approx"
            ),
        )
    )
    kept = (
        scored.join(F.broadcast(thr), "source")
        .groupBy("source", "p_exact", "p_approx")
        .agg(
            F.count(F.when(F.col("score") >= F.col("p_exact"), 1)).alias(
                "kept_exact"
            ),
            F.count(F.when(F.col("score") >= F.col("p_approx"), 1)).alias(
                "kept_approx"
            ),
            F.count("*").alias("n"),
        )
        .collect()
    )
    assert kept, "no sources in documents table"
    for r in kept:
        # GK guarantees rank error <= n/accuracy; with per-source n in
        # the thousands and accuracy=10000 the returned value is an
        # actual element within a handful of ranks of the true P75, so
        # the keep-rate may only move by that rank slack.
        assert abs(r["p_approx"] - r["p_exact"]) <= max(
            1.0, 0.02 * r["p_exact"]
        ), f"threshold drift on {r['source']}: {r['p_exact']} vs {r['p_approx']}"
        assert abs(r["kept_approx"] - r["kept_exact"]) <= max(
            2, 0.02 * r["n"]
        ), f"keep-count drift on {r['source']}"
