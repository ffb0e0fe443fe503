"""A5: the player-rating recurrence (reference updatePlayerRating,
master.py:214-239).

The reference folds, per player, per batch:

    contribution = f(metrics); performance = contribution - penalty
    rating       = 1.05 * (performance + old_rating) / 2,  old init 0.5

A sequential per-key recurrence is NOT an algebraic aggregate, so this
is one of the few places Python is justified (SURVEY section 4 "custom
work"): ``applyInPandas`` over user groups -- one shuffle on the key,
Arrow-batched, O(1) state per key, embarrassingly parallel across keys.
The streaming variant (applyInPandasWithState) lives in
streaming/pipeline.py; this batch form replays the full history in
event-time order, which is also how a 100 TB backfill would run.

Events-table mapping (FIXTURES.md section 7): performance for a
(user, day) is the day's mean event value normalized to [0,1]
(least(avg(value)/200, 1)), standing in for the reference's
contribution formula; the recurrence arithmetic (the hard part) is
byte-for-byte the reference's.

Oracle: the same recurrence as a DuckDB RECURSIVE CTE -- sequential
semantics pinned independently of Spark.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fantasy_premier_league_spark.functions import fixed_units, rounded
from fantasy_premier_league_spark.functions.fpl_rules import INIT_RATING
from fantasy_premier_league_spark.plans.registry import register
from fantasy_premier_league_spark.sources.testdata import load_table


def rating_fold(perf: pd.Series, init: float = INIT_RATING) -> pd.Series:
    """rating_n = 1.05 * (perf_n + rating_{n-1}) / 2 (master.py:235-239)."""
    out = []
    r = init
    for p in perf:
        r = 1.05 * (p + r) / 2
        out.append(r)
    return pd.Series(out, index=perf.index, dtype="float64")


def daily_performance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact integer value-sum -> bit-identical perf across engines
    # (see functions.scalars.fixed_units)
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "user_id", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.least(
            F.sum(fixed_units(F.col("value"))) / 100.0 / F.count("*") / 200.0, F.lit(1.0)
        ).alias("perf")
    )


def rating_trace(perf_df: DataFrame) -> DataFrame:
    """Per-(user, day) rating trace via grouped-map pandas fold."""

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        ratings = rating_fold(pdf["perf"])
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "day": pdf["day"],
                "rating": ratings,
                "delta": ratings - ratings.shift(1, fill_value=INIT_RATING),
            }
        )

    # explicit hash repartition on the grouping key: AQE would coalesce
    # the tiny pre-grouped-map shuffle to ONE partition (shuffle-volume
    # optimal, Python-compute pessimal) and serialize the per-key folds
    # on a single worker. A fixed partition count keeps the Arrow
    # batches spread across every core; at cluster scale the key space
    # dwarfs the partition count so this is the natural layout anyway.
    n = perf_df.sparkSession.sparkContext.defaultParallelism
    return perf_df.repartition(n, "user_id").groupBy("user_id").applyInPandas(
        fold, schema="user_id bigint, day string, rating double, delta double"
    )


@register(
    "a5_rating_recurrence",
    oracle="""
    WITH RECURSIVE perf AS (
      SELECT user_id, day, p,
             row_number() OVER (PARTITION BY user_id ORDER BY day) AS seq
      FROM (
        SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               least(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     / 100.0 / count(*) / 200.0, 1.0) AS p
        FROM events GROUP BY user_id, date_trunc('day', ts)
      )
    ),
    r AS (
      SELECT user_id, seq, day, 1.05 * (p + 0.5) / 2 AS rating,
             CAST(0.5 AS DOUBLE) AS prev
      FROM perf WHERE seq = 1
      UNION ALL
      SELECT p.user_id, p.seq, p.day, 1.05 * (p.p + r.rating) / 2 AS rating, r.rating AS prev
      FROM perf p JOIN r ON p.user_id = r.user_id AND p.seq = r.seq + 1
    )
    SELECT user_id, day, round(rating, 6) AS rating, round(rating - prev, 6) + 0 AS delta
    FROM r ORDER BY user_id, day
    """,
)
def rating_recurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    trace = rating_trace(daily_performance(spark, sf_dir))
    return trace.select(
        "user_id",
        "day",
        rounded(F.col("rating"), 6).alias("rating"),
        rounded(F.col("delta"), 6).alias("delta"),
    ).orderBy("user_id", "day")
