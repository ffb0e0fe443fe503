"""Approximate-aggregation sketches (north-star extension, SURVEY 2.10).

Spark ships approx_count_distinct (HLL++) but its register layout is
engine-internal, so a differential gate against DuckDB's own HLL would
compare two different approximations. Instead the sketch here is a
hand-rolled, fully deterministic HyperLogLog built from portable
primitives (md5 -> 32-bit hash, fixed m=16 registers): both engines
compute the IDENTICAL registers and estimate, so the oracle check is
exact even though the answer is approximate.

Scale: this is the streaming/distributed cardinality pattern -- one
groupBy (key, bucket) max-agg (map-side combinable, 16 rows per key
out of the shuffle), then a 16-row fold per key. Register arrays merge
with elementwise max, so sketches compose across partitions, days, or
cluster tiers without re-scanning raw data. The 2^-register harmonic
sum is a sum of dyadic rationals (exact in binary floating point), so
the estimate is bit-identical regardless of summation order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fantasy_premier_league_spark.functions import md5_hash, md5_hash_sql, rounded
from fantasy_premier_league_spark.plans.registry import register
from fantasy_premier_league_spark.sources.testdata import load_table

_M = 16  # registers; alpha_16 from the HLL paper (Flajolet et al. 2007)
_ALPHA = 0.673


def hll_registers(ev: DataFrame) -> DataFrame:
    """(event_type, bucket, m): the HLL registers of each event_type's
    user_ids; over a streaming ``ev`` this is the streaming aggregation.

    bucket = low 4 hash bits; rho = leftmost-1 position of the
    remaining 28 bits; m = max rho per bucket."""
    h = md5_hash(F.col("user_id"))
    w = F.shiftright(h, 4)  # h // 16: top 28 bits
    # leftmost-1 position via INTEGER bit arithmetic: floor(log2(w)) =
    # len(bin(w)) - 1 exactly, with no libm transcendental whose last
    # ulp near powers of two could differ between engines.
    rho = F.when(w == 0, F.lit(29)).otherwise(
        (F.lit(29) - F.length(F.bin(w))).cast("int")
    )
    return (
        ev.select("event_type", F.pmod(h, F.lit(_M)).alias("bucket"), rho.alias("rho"))
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("m"))
    )


def hll_estimate() -> Column:
    """Aggregate over one key's register rows: alpha * m^2 / harmonic
    mean, with absent buckets contributing 2^0. No small/large-range
    correction: bias is part of the pinned, reproducible answer."""
    return F.lit(_ALPHA * _M * _M) / (
        F.sum(F.pow(F.lit(2.0), -F.col("m"))) + (_M - F.count("*"))
    )


# hll_registers' twin over the events table: the CTEs h, r and regs
HLL_REGS_SQL = f"""h AS (
      SELECT event_type,
             {md5_hash_sql("CAST(user_id AS VARCHAR)")} AS h
      FROM events
    ),
    r AS (
      SELECT event_type, h % {_M} AS bucket,
             CASE WHEN h // {_M} = 0 THEN 29
                  ELSE 29 - CAST(length(bin(h // {_M})) AS INT) END AS rho
      FROM h
    ),
    regs AS (SELECT event_type, bucket, max(rho) AS m FROM r GROUP BY 1, 2)"""
HLL_ESTIMATE_SQL = f"{_ALPHA} * {_M * _M} / (sum(power(2.0, -m)) + ({_M} - count(*)))"


@register(
    "sketch_hll_distinct",
    oracle=f"""
    WITH {HLL_REGS_SQL},
    est AS (SELECT event_type, {HLL_ESTIMATE_SQL} AS e FROM regs GROUP BY event_type),
    exact AS (
      SELECT event_type, count(DISTINCT user_id) AS exact_distinct FROM events GROUP BY 1
    )
    SELECT est.event_type AS event_type, round(e, 3) AS hll_estimate, exact_distinct
    FROM est JOIN exact ON est.event_type = exact.event_type
    ORDER BY est.event_type
    """,
)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HLL distinct-user estimate per event_type, next to
    the exact count so the sketch's error is visible in the result."""
    ev = load_table(spark, sf_dir, "events")
    est = hll_registers(ev).groupBy("event_type").agg(hll_estimate().alias("e"))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        est.join(exact, "event_type")
        .select("event_type", rounded(F.col("e"), 3).alias("hll_estimate"), "exact_distinct")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Mergeable quantile histogram: fixed-width integer bins over the exact
# cent units. Like the HLL above, the sketch state (bin -> count) merges
# across partitions/days with plain addition, so quantile estimates for
# any slice union come from summing histograms, never re-scanning rows.
# Estimates are the lower edge of the first bin whose cumulative count
# crosses the target rank -- exact integer logic, identical on both
# engines (vs approx_percentile, whose internal sketch is engine-
# specific and cannot be oracle-checked).
# ---------------------------------------------------------------------------

_BIN_UNITS = 500  # 5.00 in value units of 0.01


@register(
    "sketch_quantile_hist",
    oracle=f"""
    WITH b AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) // {_BIN_UNITS} AS bin,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, bin, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             sum(n) OVER (PARTITION BY event_type) AS tot
      FROM b
    )
    SELECT event_type, CAST(max(tot) AS BIGINT) AS n_events,
           round(min(CASE WHEN cum >= 0.5 * tot THEN bin END) * {_BIN_UNITS} / 100.0, 2)
             AS p50_est,
           round(min(CASE WHEN cum >= 0.9 * tot THEN bin END) * {_BIN_UNITS} / 100.0, 2)
             AS p90_est
    FROM c GROUP BY event_type ORDER BY event_type
    """,
)
def sketch_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch p50/p90 per event_type (bin width 5.00)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    b = (
        ev.groupBy(
            "event_type",
            F.expr(f"CAST(round(value * 100) AS BIGINT) div {_BIN_UNITS}").alias("bin"),
        )
        .agg(F.count("*").alias("n"))
    )
    cum_w = (
        Window.partitionBy("event_type").orderBy("bin")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    tot_w = Window.partitionBy("event_type")
    c = b.select(
        "event_type",
        "bin",
        "n",
        F.sum("n").over(cum_w).alias("cum"),
        F.sum("n").over(tot_w).alias("tot"),
    )
    return (
        c.groupBy("event_type")
        .agg(
            F.max("tot").alias("n_events"),
            rounded(
                F.min(F.when(F.col("cum") >= 0.5 * F.col("tot"), F.col("bin")))
                * _BIN_UNITS
                / 100.0,
                2,
            ).alias("p50_est"),
            rounded(
                F.min(F.when(F.col("cum") >= 0.9 * F.col("tot"), F.col("bin")))
                * _BIN_UNITS
                / 100.0,
                2,
            ).alias("p90_est"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters: the bounded-memory frequency
# estimator for a token stream (Cormode & Muthukrishnan 2005). d=2
# independent hash rows x w=64 buckets of BIGINT counters -- 128 cells
# total regardless of vocabulary size; per-partition sketches merge by
# elementwise ADD, so at 100 TB each executor folds its token slice
# into 128 counters and the shuffle moves one sketch per partition, not
# one row per token (here expressed as groupBy(row, bucket), whose
# partial aggregation IS that merge). Estimates only over-count
# (collisions add), never under-count; taking the min across the d rows
# bounds the error. Both engines build the IDENTICAL sketch (portable
# md5-derived row hashes), so the differential gate is exact even
# though the answer is approximate. Candidate probing reuses the
# deduplicated token set; the top-k never global-sorts (TakeOrdered).
# ---------------------------------------------------------------------------

_CMS_W = 64
_CMS_ROWS = (0, 1)


def _cms_bucket(tok: Column, row: int) -> Column:
    salted = F.concat(F.lit(f"r{row}:"), tok)
    return F.pmod(md5_hash(salted), F.lit(_CMS_W))


@register(
    "sketch_cms_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    cells AS (
      SELECT r, {md5_hash_sql("'r' || r || ':' || tok")}
                 % {_CMS_W} AS bucket,
             count(*) AS c
      FROM toks, (SELECT unnest([0, 1]) AS r)
      GROUP BY 1, 2
    ),
    probes AS (
      SELECT DISTINCT tok FROM toks
    ),
    est AS (
      SELECT p.tok, min(c.c) AS est_count
      FROM probes p
      JOIN cells c
        ON c.bucket = {md5_hash_sql("'r' || c.r || ':' || p.tok")}
                      % {_CMS_W}
      GROUP BY p.tok
    )
    SELECT tok, CAST(est_count AS BIGINT) AS est_count
    FROM est ORDER BY est_count DESC, tok LIMIT 15
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
    cells = None
    for r in _CMS_ROWS:
        part = toks.select(F.lit(r).alias("r"), _cms_bucket(F.col("tok"), r).alias("bucket"))
        cells = part if cells is None else cells.unionByName(part)
    sketch = cells.groupBy("r", "bucket").agg(F.count("*").alias("c"))
    probes = toks.distinct()
    probe_cells = None
    for r in _CMS_ROWS:
        part = probes.select("tok", F.lit(r).alias("r"), _cms_bucket(F.col("tok"), r).alias("bucket"))
        probe_cells = part if probe_cells is None else probe_cells.unionByName(part)
    return (
        probe_cells.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("tok")
        .agg(F.min("c").alias("est_count"))
        .orderBy(F.col("est_count").desc(), "tok")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch with SET OPERATIONS -- the
# mergeable-sketch family member HLL and CMS don't cover: two KMV
# sketches union by "merge and re-truncate to the k smallest", and the
# fraction of the merged sketch present in both inputs estimates the
# Jaccard, hence the intersection (Beyer et al., "On Synopses for
# Distinct-Value Estimation Under Multiset Operations", SIGMOD'07).
#
# Per event type the entity set is "users with a >=90-value event of
# that type". Build: one distinct-pair aggregation, then the k smallest
# 60-bit md5 hashes per type via a rank<=k window -- Spark 3.5+ rewrites
# that filter into WindowGroupLimit, so each map task forwards at most
# k rows per type into the shuffle: the 100 TB-safe form of per-group
# top-k (never a full sort of the group). Downstream everything runs on
# |types|-row sketch tables.
#
# Like dedup_minhash_accuracy, the EXACT union/intersection ride along
# as calibration columns; the estimator itself is gated cross-engine
# (deterministic: md5 hashes, integer sketch contents, one correctly-
# rounded division -- (k-1)*2^60 is a 5-bit-mantissa double, exact).
# ---------------------------------------------------------------------------

_KMV_K = 32


@register(
    "sketch_kmv_setops",
    oracle=f"""
    WITH act AS (
      SELECT DISTINCT event_type,
             {md5_hash_sql("CAST(user_id AS VARCHAR)", 15)} AS h,
             user_id
      FROM events WHERE value >= 90
    ),
    ranked AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM act
    ),
    sk AS (
      SELECT event_type,
             list_sort(list(h)) AS sketch
      FROM ranked WHERE rn <= {_KMV_K} GROUP BY event_type
    ),
    exact AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(DISTINCT a.user_id) AS BIGINT) AS exact_inter
      FROM act a JOIN act b USING (user_id)
      WHERE a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    ),
    sizes AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM act GROUP BY event_type
    ),
    m AS (
      SELECT e.type_a, e.type_b, e.exact_inter,
             na.n AS n_a, nb.n AS n_b,
             list_sort(list_distinct(list_concat(a.sketch, b.sketch)))[1:{_KMV_K}] AS merged,
             a.sketch AS sa, b.sketch AS sb
      FROM exact e
      JOIN sk a ON a.event_type = e.type_a
      JOIN sk b ON b.event_type = e.type_b
      JOIN sizes na ON na.event_type = e.type_a
      JOIN sizes nb ON nb.event_type = e.type_b
    ),
    est AS (
      SELECT type_a, type_b, n_a, n_b, exact_inter,
             CASE WHEN len(merged) < {_KMV_K} THEN CAST(len(merged) AS DOUBLE)
                  ELSE round(({_KMV_K} - 1) * pow(2.0, 60)
                             / CAST(merged[{_KMV_K}] AS DOUBLE))
             END AS est_union,
             len(list_filter(merged,
                 x -> list_contains(sa, x) AND list_contains(sb, x))) AS n_both,
             len(merged) AS n_merged
      FROM m
    )
    SELECT type_a, type_b, n_a, n_b,
           CAST(n_a + n_b - exact_inter AS BIGINT) AS exact_union,
           CAST(exact_inter AS BIGINT) AS exact_inter,
           CAST(est_union AS BIGINT) AS est_union,
           CAST(round(CAST(n_both AS DOUBLE) / n_merged * est_union) AS BIGINT)
             AS est_inter
    FROM est ORDER BY type_a, type_b
    """,
)
def sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    act = (
        ev.filter(F.col("value") >= 90)
        .select(
            "event_type",
            "user_id",
            md5_hash(F.col("user_id"), 15).alias("h"),
        )
        .distinct()
    )
    rn = F.row_number().over(Window.partitionBy("event_type").orderBy("h"))
    sk = (
        act.withColumn("rn", rn)
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("event_type")
        .agg(F.array_sort(F.collect_list("h")).alias("sketch"))
    )
    sizes = act.groupBy("event_type").agg(F.count("*").alias("n"))
    pairs = act.select(F.col("event_type").alias("type_a"), "user_id").join(
        act.select(F.col("event_type").alias("type_b"), "user_id"), "user_id"
    )
    exact = (
        pairs.filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.countDistinct("user_id").alias("exact_inter"))
    )
    # all post-aggregation tables are |types| rows: broadcast every join
    m = (
        exact.join(
            F.broadcast(sk.select(F.col("event_type").alias("type_a"), F.col("sketch").alias("sa"))),
            "type_a",
        )
        .join(
            F.broadcast(sk.select(F.col("event_type").alias("type_b"), F.col("sketch").alias("sb"))),
            "type_b",
        )
        .join(
            F.broadcast(sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))),
            "type_b",
        )
        .withColumn(
            "merged",
            F.slice(F.array_sort(F.array_distinct(F.concat("sa", "sb"))), 1, _KMV_K),
        )
    )
    n_merged = F.size("merged")
    est_union = F.when(
        n_merged < _KMV_K, n_merged.cast("double")
    ).otherwise(
        F.round(
            F.lit(float(_KMV_K - 1)) * F.pow(F.lit(2.0), F.lit(60.0))
            / F.element_at("merged", _KMV_K).cast("double")
        )
    )
    n_both = F.size(
        F.filter(
            F.col("merged"),
            lambda x: F.array_contains("sa", x) & F.array_contains("sb", x),
        )
    )
    return (
        m.withColumn("est_union_d", est_union)
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            (F.col("n_a") + F.col("n_b") - F.col("exact_inter")).alias("exact_union"),
            F.col("exact_inter").cast("long").alias("exact_inter"),
            F.col("est_union_d").cast("long").alias("est_union"),
            F.round(n_both.cast("double") / n_merged * F.col("est_union_d"))
            .cast("long")
            .alias("est_inter"),
        )
        .orderBy("type_a", "type_b")
    )
