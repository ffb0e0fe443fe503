"""SparkSession factory.

Single place where scale-relevant knobs live. Local runs use
``local[$SPARK_GRAFT_CPUS]``; on a real cluster the same builder works
with master unset (picked up from spark-submit). Config choices:

- AQE on (runtime re-plan, partition coalescing, skew-join splitting)
  so plans survive 100x scale-up without hand-tuning;
- shuffle partitions sized to cores locally (the 200 default
  over-parallelizes small data and under-parallelizes 100 TB — on a
  cluster AQE's coalescing makes the initial number less critical);
- session timezone pinned to UTC so timestamp semantics match the
  DuckDB correctness oracle (duckdb timestamps are UTC-naive);
- Arrow enabled for every pandas-interop path (Pandas UDFs,
  applyInPandas, toPandas);
- Python workers fork from ``worker_daemon``, which keeps zipimport's
  directory caches across tasks instead of re-reading pyspark.zip.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "fpl-spark-engine", master: str | None = None) -> SparkSession:
    cores = default_parallelism()
    # Python workers unpickle groupBy().applyInPandas closures by module
    # reference, so the package root must be importable in the WORKER
    # process, not just the driver. Drivers launched from another cwd
    # (bench harness, notebooks) would otherwise fail with
    # ModuleNotFoundError inside the first pandas-UDF stage. Local mode
    # forks workers from the driver env, so exporting PYTHONPATH before
    # the JVM starts covers both; on a real cluster the same line is
    # what --py-files / spark.executorEnv.PYTHONPATH provide.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "fantasy_premier_league_spark.worker_daemon")
        .config("spark.sql.parquet.filterPushdown", "true")
        # bucketed-table writes (bucketed_colocated_join) land in a
        # scratch warehouse, never the repo working tree
        .config("spark.sql.warehouse.dir", "/tmp/fpl_spark_warehouse")
        .config("spark.ui.enabled", "false")
        # local[32] on a 128 GiB box: size the single JVM to the machine
        # (the sf10 scale study OOM'd graph materializations at 8g; a
        # real cluster sizes executors the same way)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
