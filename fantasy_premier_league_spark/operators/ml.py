"""ML tier: the capabilities the reference SPECS demand but never
implemented (SURVEY 2.9 -- `/root/reference/docs/Specs.pdf` "Solutions"
asks for KMeans k=5 profile clustering and a quadratic rating-vs-age
regression with a rating<0.2 => "retired" rule; no reference code
exists for either).

Clustering is one deterministic Lloyd's algorithm expressed AS
DATAFRAME OPS (broadcast centroids -> assign -> re-center, iterated),
with one Spark and one DuckDB spelling per step below. It serves every
clustering and quantizer of the package: ``ml_kmeans_profiles``, the
FPL player clustering behind the rating and chemistry imputations,
``ml_kmeans_embeddings`` (the spec's k=5 over the 64-dim vectors) and
``dedup_semantic_clusters``, and the PQ codebooks and IVF-PQ coarse
cells of ``operators/similarity.py``. This is also the 100 TB shape:
per iteration one broadcast join (centroids are tiny) + one groupBy(k)
-- the corpus never shuffles on anything wider than the cluster id,
and AQE handles the skew when one centroid captures most points.

Determinism notes for the oracle twins: features are EXACT INTEGERS
(value summed in fixed-point units, event counts, float32 embedding
components scaled by 2^20 and floored), so centroid means are
exact-integer-sum / count -- bit-identical across engines regardless
of summation order. Distances are one left-associated fold and argmin
ties go to the lowest centroid id, so both engines see identical
doubles and pick identical centroids; MLlib's sampled init, which SQL
cannot reproduce, is replaced by the first-k seed. The same trick
makes the regression exact: all normal-equation moments are integer
sums, and Cramer's rule is written with the identical expression tree
in Spark and SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fantasy_premier_league_spark.functions import fixed_units, rounded
from fantasy_premier_league_spark.plans.registry import register
from fantasy_premier_league_spark.sources.testdata import load_table

# --- Deterministic Lloyd's: one spelling per step on each engine --------
#
# Spark: features are an array column ``xs``, centroids ``(cid, cs)``.
# DuckDB: features are columns x1..xd of a feature CTE, centroids
# ``(cid, c1..cd)``.


def dist2(a: Column, b: Column) -> Column:
    """Squared L2 distance between two equal-length arrays as a
    sequential left-to-right fold. (((0+t1)+t2)+...) is the addition
    order of ``dist2_sql``'s chain (0.0+t1 is bitwise t1 for the
    non-negative squares), so both engines see identical IEEE doubles.
    The array form keeps the generated code a few lines; 64 scalar
    columns made Janino compilation itself the bottleneck (~4 s per
    stage at any data size)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dist2_sql(a: str, b: str, dims: range) -> str:
    """DuckDB twin of ``dist2`` between columns ``{a}{i}`` and
    ``{b}{i}``, i in ``dims``: one left-associated chain."""
    terms = (f"(CAST({a}{i} AS DOUBLE) - CAST({b}{i} AS DOUBLE))" for i in dims)
    return " + ".join(f"{t} * {t}" for t in terms)


def first_k_seed(feats: DataFrame, key: str, k: int) -> DataFrame:
    """(cid, cs): the ``k`` rows of ``feats`` (key, xs) with the smallest
    keys as double centroids, cid = 1..k in key order."""
    return feats.orderBy(key).limit(k).select(
        # constant partition key: the input is <= k rows (post-limit), so
        # a single window partition is by design; the explicit key keeps
        # WindowExec off its move-everything-global path/warning
        F.row_number().over(Window.partitionBy(F.lit(0)).orderBy(key)).alias("cid"),
        F.transform("xs", lambda x: x.cast("double")).alias("cs"),
    )


def nearest(
    pairs: DataFrame, keys: list[str], c: str = "cs", cid: str = "cid"
) -> DataFrame:
    """(keys..., cid): the nearest centroid of each point of ``pairs``
    (one row per point ``xs`` and candidate centroid ``c``), ties to the
    lowest cid. min_by on the (dist, cid) struct picks what the oracle's
    row_number(ORDER BY dist, cid) picks, over a (keys, cid, dist)
    projection that combines map-side. A key column rides along with the
    label, so a caller that needs a point's features back names ``xs``
    among the keys instead of joining the points again."""
    return (
        pairs.select(*keys, cid, dist2(F.col("xs"), F.col(c)).alias("dist"))
        .groupBy(*keys)
        .agg(F.min_by(cid, F.struct("dist", cid)).alias(cid))
    )


def nearest_sql(
    key: str, pts: str, cents: str, dims: range, c: str = "c", cid: str = "cid"
) -> str:
    """Twin of ``nearest``: (key, cid) for each row of ``pts`` (key,
    x{dims}) against the centroid rows of ``cents`` ({cid}, {c}{dims})."""
    return f"""
      SELECT {key}, cid FROM (
        SELECT p.{key}, c.{cid} AS cid,
               row_number() OVER (PARTITION BY p.{key}
                                  ORDER BY {dist2_sql("p.x", f"c.{c}", dims)} ASC,
                                           c.{cid} ASC) AS rn
        FROM {pts} p, {cents} c
      ) WHERE rn = 1"""


def recenter(assigned: DataFrame, keys: list[str]) -> DataFrame:
    """(keys..., cs): the elementwise mean of each group's ``xs``, exact
    integer sums / count. posexplode + a (keys, pos) partial aggregate
    (map-side combinable: the distributed dense-vector mean),
    reassembled in pos order."""
    return (
        assigned.select(*keys, F.posexplode("xs").alias("pos", "x"))
        .groupBy(*keys, "pos")
        .agg((F.sum("x").cast("double") / F.count("*")).alias("c"))
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda t: t["c"],
            ).alias("cs")
        )
    )


def recenter_2d(assigned: DataFrame, keys: list[str]) -> DataFrame:
    """``recenter`` for two-feature points as two scalar sums: the same
    exact means in one aggregation instead of two. On 4 CPUs at sf0.1
    the array path made ml_kmeans_profiles ~0.3 s slower (11 more
    stages), and 64 scalar sums made ml_kmeans_embeddings slower."""
    n = F.count("*")
    return assigned.groupBy(*keys).agg(
        F.array(*[F.sum(F.col("xs")[i]).cast("double") / n for i in range(2)]).alias("cs")
    )


def lloyd(
    points: DataFrame,
    cent: DataFrame,
    by: list[str],
    iters: int,
    key: str,
    recenter: Callable[[DataFrame, list[str]], DataFrame] = recenter,
) -> tuple[DataFrame, DataFrame]:
    """``iters`` assignment rounds of Lloyd's over ``points`` (key, *by,
    xs) from the centroids ``cent`` (*by, cid, cs), recentering between
    rounds with ``recenter``. ``by`` names clusterings that run side by
    side in one pipeline (the PQ subspaces). Returns ``(labels, cent)``: the final
    assignment (key, *by, xs, cid) and the centroids it minimized
    against. Every centroid frame is localCheckpointed -- the
    iterative-algorithm lineage discipline MLlib's own KMeans follows."""
    for it in range(iters):
        if it:
            cent = recenter(labels, [*by, "cid"])
        cent = cent.localCheckpoint(eager=False)
        pairs = points.join(F.broadcast(cent), by or None)
        labels = nearest(pairs, [key, *by, "xs"])
    return labels, cent


def lloyd_sql(
    f: str, key: str, dims: range, k: int, iters: int, prefix: str = ""
) -> str:
    """Twin of ``first_k_seed`` + ``lloyd`` over the feature CTE ``f``
    (key, x{dims}): CTE text, led by a comma. ``{prefix}c0`` is the seed,
    ``{prefix}a{i}`` (key, cid) round i's assignment and ``{prefix}c{i}``
    (cid, c{dims}) the centroids recentered from it, so the final
    assignment ``{prefix}a{iters}`` minimized against ``{prefix}c{iters-1}``."""
    seed = ", ".join(f"CAST(x{i} AS DOUBLE) AS c{i}" for i in dims)
    mean = ", ".join(f"CAST(sum(f.x{i}) AS DOUBLE) / count(*) AS c{i}" for i in dims)
    sql = f""",
    {prefix}c0 AS (
      SELECT row_number() OVER (ORDER BY {key}) AS cid, {seed}
      FROM (SELECT * FROM {f} ORDER BY {key} LIMIT {k})
    )"""
    for i in range(1, iters + 1):
        if i > 1:
            sql += f""",
    {prefix}c{i - 1} AS (
      SELECT a.cid, {mean}
      FROM {prefix}a{i - 1} a JOIN {f} f ON f.{key} = a.{key} GROUP BY a.cid
    )"""
        sql += f""",
    {prefix}a{i} AS ({nearest_sql(key, f, f"{prefix}c{i - 1}", dims)}
    )"""
    return sql


# --- KMeans over user profiles -----------------------------------------

_K = 4
_ITERS = 3
_XY = range(1, 3)  # the two profile features

_FEATURES_SQL = """
      SELECT user_id,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x1,
             count(*) AS x2
      FROM events GROUP BY user_id
"""


def user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user profile features, exact-integer valued: xs = [total value
    in cents, event count]."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array(F.sum(fixed_units(F.col("value"))), F.count("*")).alias("xs")
    )


def _xy_lloyd(feats: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The two-feature clustering of the user profiles and the FPL
    players: ``lloyd``'s (labels, cent) over ``feats`` (user_id, xs)."""
    seed = first_k_seed(feats, "user_id", _K)
    return lloyd(feats, seed, [], _ITERS, "user_id", recenter_2d)


def _xy_lloyd_sql() -> str:
    """Twin of ``_xy_lloyd`` over the feature CTE ``f`` (user_id, x1, x2)."""
    return lloyd_sql("f", "user_id", _XY, _K, _ITERS)


def _kmeans_oracle() -> str:
    return f"""
    WITH f AS ({_FEATURES_SQL}){_xy_lloyd_sql()}
    SELECT user_id, CAST(cid AS INT) AS cluster FROM a{_ITERS}
    ORDER BY user_id
    """


@register("ml_kmeans_profiles", oracle=_kmeans_oracle())
def ml_kmeans_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's KMeans (k=4, 3 iters) over user profiles."""
    labels, _ = _xy_lloyd(user_features(spark, sf_dir))
    return labels.select(
        "user_id", F.col("cid").cast("int").alias("cluster")
    ).orderBy("user_id")


# --- KMeans over the 64-dim embedding vectors ---------------------------
#
# Each float32 component is scaled by 2^20 and FLOORED to an exact
# BIGINT (float32 * 2^20 is exactly representable in double, and floor
# has no tie-breaking semantics to disagree on, unlike round). The same
# quantized features feed the PQ and IVF-PQ tiers of similarity.py.

_K_EMB = 5  # k=5 per Specs.pdf "Solution: Clustering"
_ITERS_EMB = 2
EMB_DIMS = range(1, 65)
EMB_SCALE = 1048576.0  # 2^20: exact double product with any float32

EMB_FEATURES_SQL = "SELECT vec_id, " + ", ".join(
    f"CAST(floor(CAST(embedding[{i}] AS DOUBLE) * {EMB_SCALE}) AS BIGINT) AS x{i}"
    for i in EMB_DIMS
) + " FROM embeddings"


def emb_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, xs): the quantized embedding features, cached -- every
    Lloyd's round and every quantizer pass scans them."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda e: F.floor(e.cast("double") * EMB_SCALE).cast("long")
        ).alias("xs"),
    ).cache()


def emb_lloyd(feats: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The embedding clustering: ``lloyd``'s (labels, cent) over
    ``emb_features``."""
    seed = first_k_seed(feats, "vec_id", _K_EMB)
    return lloyd(feats, seed, [], _ITERS_EMB, "vec_id")


def emb_lloyd_sql() -> str:
    """Twin of ``emb_lloyd``: a WITH clause through CTEs ``f`` (features),
    ``a{_ITERS_EMB}`` (labels) and ``c{_ITERS_EMB - 1}`` (centroids)."""
    return f"WITH f AS ({EMB_FEATURES_SQL})" + lloyd_sql(
        "f", "vec_id", EMB_DIMS, _K_EMB, _ITERS_EMB
    )


@register(
    "ml_kmeans_embeddings",
    oracle=emb_lloyd_sql()
    + f"""
    SELECT CAST(cid AS INT) AS cluster, CAST(count(*) AS BIGINT) AS n_vectors
    FROM a{_ITERS_EMB} GROUP BY cid ORDER BY cluster
    """,
)
def ml_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's KMeans (k=5, 2 iters) over the 64-dim
    embedding column, reported as cluster sizes."""
    labels, _ = emb_lloyd(emb_features(spark, sf_dir))
    return (
        labels.groupBy(F.col("cid").cast("int").alias("cluster"))
        .agg(F.count("*").cast("long").alias("n_vectors"))
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# Quadratic regression, closed form. The reference spec fits rating
# vs age and declares rating < 0.2 "retired"; the synthetic analog
# fits event value (fixed-point units) against day index with
# y = b0 + b1*x + b2*x^2, solved by Cramer's rule on the normal
# equations. All moments are exact integer sums (see module doc), so
# one groupBy().agg() -- a single reduction over the whole table, no
# iteration -- fits the model at any scale.
# ---------------------------------------------------------------------------

_RETIRE_THRESHOLD = 0.2
_PREDICT_X = 45  # extrapolation point ("age" in the spec's rule)


def _cramer_sql() -> str:
    det = """(s0 * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s2 * s3)
              + s2 * (s1 * s3 - s2 * s2))"""
    det0 = """(t0 * (s2 * s4 - s3 * s3) - s1 * (t1 * s4 - t2 * s3)
              + s2 * (t1 * s3 - t2 * s2))"""
    det1 = """(s0 * (t1 * s4 - t2 * s3) - t0 * (s1 * s4 - s2 * s3)
              + s2 * (s1 * t2 - s2 * t1))"""
    det2 = """(s0 * (s2 * t2 - s3 * t1) - s1 * (s1 * t2 - s3 * t0)
              + t0 * (s1 * s3 - s2 * s2))"""
    return f"""
    WITH pts AS (
      SELECT CAST(date_diff('day',
               (SELECT min(date_trunc('day', ts)) FROM events),
               date_trunc('day', ts)) + 1 AS BIGINT) AS x,
             CAST(round(value * 100) AS BIGINT) AS yu
      FROM events
    ),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS s0,
             CAST(sum(x) AS DOUBLE) AS s1,
             CAST(sum(x * x) AS DOUBLE) AS s2,
             CAST(sum(x * x * x) AS DOUBLE) AS s3,
             CAST(sum(x * x * x * x) AS DOUBLE) AS s4,
             CAST(sum(yu) AS DOUBLE) AS t0,
             CAST(sum(x * yu) AS DOUBLE) AS t1,
             CAST(sum(x * x * yu) AS DOUBLE) AS t2
      FROM pts
    )
    SELECT round({det0} / {det} / 100.0, 6) + 0 AS b0,
           round({det1} / {det} / 100.0, 6) + 0 AS b1,
           round({det2} / {det} / 100.0, 6) + 0 AS b2,
           round(({det0} / {det}
                  + {det1} / {det} * {_PREDICT_X}
                  + {det2} / {det} * {_PREDICT_X * _PREDICT_X}) / 100.0 / 200.0,
                 6) + 0 AS pred_norm,
           (({det0} / {det}
              + {det1} / {det} * {_PREDICT_X}
              + {det2} / {det} * {_PREDICT_X * _PREDICT_X}) / 100.0 / 200.0)
             < {_RETIRE_THRESHOLD} AS retired
    FROM m
    """


@register("ml_quadratic_fit", oracle=_cramer_sql())
def ml_quadratic_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares quadratic fit of event value vs day index.

    pred_norm scales the day-{_PREDICT_X} prediction into the [0,1]
    perf scale (units/100/200, as the rating pipeline does) and
    ``retired`` applies the spec's < 0.2 rule.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    min_day = ev.agg(F.min(day).alias("min_day"))
    pts = ev.crossJoin(F.broadcast(min_day)).select(
        (F.datediff(day, F.col("min_day")) + 1).cast("long").alias("x"),
        fixed_units(F.col("value")).alias("yu"),
    )
    m = pts.agg(
        F.count("*").cast("double").alias("s0"),
        F.sum("x").cast("double").alias("s1"),
        F.sum(F.expr("x * x")).cast("double").alias("s2"),
        F.sum(F.expr("x * x * x")).cast("double").alias("s3"),
        F.sum(F.expr("x * x * x * x")).cast("double").alias("s4"),
        F.sum("yu").cast("double").alias("t0"),
        F.sum(F.expr("x * yu")).cast("double").alias("t1"),
        F.sum(F.expr("x * x * yu")).cast("double").alias("t2"),
    )
    s0, s1, s2 = F.col("s0"), F.col("s1"), F.col("s2")
    s3, s4 = F.col("s3"), F.col("s4")
    t0, t1, t2 = F.col("t0"), F.col("t1"), F.col("t2")
    det = s0 * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s2 * s3) + s2 * (
        s1 * s3 - s2 * s2
    )
    det0 = t0 * (s2 * s4 - s3 * s3) - s1 * (t1 * s4 - t2 * s3) + s2 * (
        t1 * s3 - t2 * s2
    )
    det1 = s0 * (t1 * s4 - t2 * s3) - t0 * (s1 * s4 - s2 * s3) + s2 * (
        s1 * t2 - s2 * t1
    )
    det2 = s0 * (s2 * t2 - s3 * t1) - s1 * (s1 * t2 - s3 * t0) + t0 * (
        s1 * s3 - s2 * s2
    )
    b0u, b1u, b2u = det0 / det, det1 / det, det2 / det
    pred_norm = (
        b0u + b1u * _PREDICT_X + b2u * (_PREDICT_X * _PREDICT_X)
    ) / 100.0 / 200.0
    return m.select(
        rounded(b0u / 100.0, 6).alias("b0"),
        rounded(b1u / 100.0, 6).alias("b1"),
        rounded(b2u / 100.0, 6).alias("b2"),
        rounded(pred_norm, 6).alias("pred_norm"),
        (pred_norm < _RETIRE_THRESHOLD).alias("retired"),
    )


# --- KMeans rating imputation (Specs.pdf "Solution: Clustering") -------
#
# The spec's stated PURPOSE for clustering: players with too few matches
# have unreliable ratings; impute them from their profile cluster. No
# reference code exists (SURVEY 2.9) -- the rebuild composes the
# deterministic Lloyd's helpers above with the FPL rating recurrence
# (operators/pipeline.py): cluster ALL rostered players on exact-integer
# profile features (attack = 100*goals + shots_on_target, discipline =
# 100*fouls + own_goals, zero for players with no events), then
#   - dense players (>= _MIN_MATCHES matches with events, rating exists)
#     keep their own final rating;
#   - sparse players take their cluster's dense-member mean rating,
#     falling back to the global dense mean if the cluster has none.
# 100 TB shape: one groupBy(playerId) for features, Lloyd's iterations
# each broadcast k centroids + groupBy(k), cluster means are a k-row
# broadcast -- the corpus never self-joins.

_MIN_MATCHES = 5


def _fpl_lloyds_ctes() -> str:
    """WITH-body for the shared FPL player clustering: CTEs ``f``
    (exact-integer profile features + match counts, all rostered
    players) and ``c0``..``a{_ITERS}`` (Lloyd's). Shared by the rating-
    and chemistry-imputation oracles so both gates verify the IDENTICAL
    clustering."""
    from fantasy_premier_league_spark.operators.pipeline import (
        _CTRS_SQL,
        _PLAYERS_CSV_SQL,
    )

    return f"""
    WITH f0 AS (
      SELECT playerId, count(*) AS n_matches,
             100 * sum(goals) + sum(shots_on_target) AS fx,
             100 * sum(fouls) + sum(own_goals) AS fy
      FROM ({_CTRS_SQL}) GROUP BY playerId
    ),
    f AS (
      SELECT CAST(p.Id AS INT) AS user_id,
             CAST(coalesce(f0.fx, 0) AS BIGINT) AS x1,
             CAST(coalesce(f0.fy, 0) AS BIGINT) AS x2,
             CAST(coalesce(f0.n_matches, 0) AS BIGINT) AS n_matches
      FROM {_PLAYERS_CSV_SQL} p LEFT JOIN f0 ON f0.playerId = p.Id
    ){_xy_lloyd_sql()}"""


def _impute_oracle() -> str:
    from fantasy_premier_league_spark.operators.pipeline import (
        _RATING_SQL,
        final_rating_sql,
    )

    sql = _fpl_lloyds_ctes()
    sql += f""",
    rat AS ({final_rating_sql(f"({_RATING_SQL})")}),
    dense AS (
      SELECT a.cid, r.rating
      FROM a{_ITERS} a
      JOIN f ON f.user_id = a.user_id
      JOIN rat r ON r.playerId = a.user_id
      WHERE f.n_matches >= {_MIN_MATCHES}
    ),
    cmean AS (SELECT cid, sum(rating) / count(*) AS crating FROM dense GROUP BY cid),
    gmean AS (SELECT sum(rating) / count(*) AS grating FROM dense)
    SELECT a.user_id AS playerId, CAST(a.cid AS INT) AS cluster, f.n_matches,
           round(CASE WHEN f.n_matches >= {_MIN_MATCHES} AND r.rating IS NOT NULL
                      THEN r.rating ELSE coalesce(cm.crating, g.grating) END,
                 6) AS rating,
           NOT (f.n_matches >= {_MIN_MATCHES} AND r.rating IS NOT NULL) AS imputed
    FROM a{_ITERS} a
    JOIN f ON f.user_id = a.user_id
    LEFT JOIN rat r ON r.playerId = a.user_id
    LEFT JOIN cmean cm ON cm.cid = a.cid
    CROSS JOIN gmean g
    ORDER BY playerId
    """
    return sql


def _fpl_cluster_labels(
    spark: SparkSession, counters: DataFrame | None = None
) -> DataFrame:
    """Spark twin of ``_fpl_lloyds_ctes``: (user_id, cid, n_matches)
    for every rostered player. 100 TB shape: one groupBy(playerId) for
    features, then per Lloyd's round one broadcast of k centroids + one
    groupBy(k) -- the corpus never self-joins.

    ``counters`` (optional) shares one materialized match-counters
    frame with the caller's other branches (see performance_df)."""
    from fantasy_premier_league_spark.operators.pipeline import (
        events_df,
        load_players,
        match_counters,
        metric_vectors,
    )

    ctrs = (
        counters
        if counters is not None
        else match_counters(metric_vectors(events_df(spark)))
    )
    f0 = ctrs.groupBy("playerId").agg(
        F.count("*").alias("n_matches"),
        (100 * F.sum("goals") + F.sum("shots_on_target")).alias("fx"),
        (100 * F.sum("fouls") + F.sum("own_goals")).alias("fy"),
    )
    feats = (
        load_players(spark)
        .select(F.col("Id").cast("int").alias("user_id"))
        .join(f0.withColumnRenamed("playerId", "user_id"), "user_id", "left")
        .select(
            "user_id",
            F.array(
                F.coalesce("fx", F.lit(0)).cast("long"),
                F.coalesce("fy", F.lit(0)).cast("long"),
            ).alias("xs"),
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
        )
        .localCheckpoint(eager=False)  # feeds every Lloyd's round + output
    )
    labels, _ = _xy_lloyd(feats)
    return labels.select("user_id", "cid").join(
        feats.select("user_id", "n_matches"), "user_id"
    )


@register("ml_kmeans_rating_impute", oracle=_impute_oracle())
def ml_kmeans_rating_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-mean rating imputation for sparse players (spec'd use of
    the KMeans clustering; composes Lloyd's with the rating pipeline)."""
    from fantasy_premier_league_spark.operators.pipeline import (
        events_df,
        latest_per_player,
        match_counters,
        metric_vectors,
        performance_df,
        rating_trace_df,
    )

    # ONE events corpus pass (r17, guide §2.4): the cluster-feature
    # branch and the rating-trace branch both aggregate the same match
    # counters; materialize them once and feed both.
    ctrs = match_counters(metric_vectors(events_df(spark))).localCheckpoint(
        eager=False
    )
    lab = _fpl_cluster_labels(spark, counters=ctrs)
    trace = rating_trace_df(performance_df(spark, counters=ctrs))
    rat = (
        latest_per_player(trace)
        .select(F.col("playerId").alias("user_id"), "rating")
        .localCheckpoint(eager=False)  # rating recurrence feeds 2 joins
    )
    dense = lab.filter(F.col("n_matches") >= _MIN_MATCHES).join(rat, "user_id")
    cmean = dense.groupBy("cid").agg(
        (F.sum("rating") / F.count("*")).alias("crating")
    )
    gmean = dense.agg((F.sum("rating") / F.count("*")).alias("grating"))
    is_dense = (F.col("n_matches") >= _MIN_MATCHES) & F.col("rating").isNotNull()
    return (
        lab.join(rat, "user_id", "left")
        .join(F.broadcast(cmean), "cid", "left")
        .crossJoin(F.broadcast(gmean))
        .select(
            F.col("user_id").alias("playerId"),
            F.col("cid").cast("int").alias("cluster"),
            "n_matches",
            rounded(
                F.when(is_dense, F.col("rating")).otherwise(
                    F.coalesce("crating", "grating")
                ),
                6,
            ).alias("rating"),
            (~is_dense).alias("imputed"),
        )
        .orderBy("playerId")
    )

# --- KMeans chemistry imputation (the spec's second imputation half) ---
#
# Specs.pdf "Solution: Clustering" asks for imputing "rating AND
# chemistry" for players with < 5 matches; round 8 shipped the rating
# half only (VERDICT r8 missing #1). Pair-level semantics:
#   - a pair whose BOTH players are dense (>= _MIN_MATCHES matches)
#     keeps its observed chemistry (A6 sign rule, chemistry_df);
#   - every pair involving a SPARSE player -- observed or not; sparse
#     players are exactly the ones whose pairs lack reliable
#     observations -- is generated off the roster dim and imputed with
#     the mean chemistry of dense observed pairs in the same unordered
#     CLUSTER pair (least(c1,c2), greatest(c1,c2)), falling back to
#     the global dense mean.
# The two sets are disjoint by the n_matches predicate, so the result
# is a clean union. 100 TB shape: the observed-pair table never
# self-joins -- cluster labels are a roster-sized broadcast, sparse
# candidate pairs are |sparse| x |roster| over the broadcast roster dim
# (the J4 pair-generation idiom, bounded by roster size, never by the
# event corpus), cluster-pair means are a <= k^2-row broadcast, the
# global mean a 1-row broadcast fan-in.


def _chem_impute_oracle() -> str:
    from fantasy_premier_league_spark.operators.pipeline import _CHEM_SQL

    sql = _fpl_lloyds_ctes()
    sql += f""",
    chem AS ({_CHEM_SQL}),
    labs AS (
      SELECT a.user_id, a.cid, f.n_matches
      FROM a{_ITERS} a JOIN f ON f.user_id = a.user_id
    ),
    dense_pl AS (
      SELECT c.p1, c.p2, l1.cid AS c1, l2.cid AS c2, c.chemistry
      FROM chem c
      JOIN labs l1 ON l1.user_id = c.p1
      JOIN labs l2 ON l2.user_id = c.p2
      WHERE l1.n_matches >= {_MIN_MATCHES} AND l2.n_matches >= {_MIN_MATCHES}
    ),
    sparse_cand AS (
      SELECT DISTINCT least(s.user_id, l.user_id) AS p1,
                      greatest(s.user_id, l.user_id) AS p2
      FROM (SELECT user_id FROM labs WHERE n_matches < {_MIN_MATCHES}) s
      JOIN labs l ON l.user_id <> s.user_id
    ),
    cp AS (
      SELECT least(c1, c2) AS ca, greatest(c1, c2) AS cb,
             sum(chemistry) / count(*) AS cchem
      FROM dense_pl GROUP BY least(c1, c2), greatest(c1, c2)
    ),
    g AS (SELECT sum(chemistry) / count(*) AS gchem FROM dense_pl)
    -- p1/p2 CAST to INTEGER: Spark's playerId is int32 (fixture CSV
    -- schema) but DuckDB joins widen to BIGINT; the driver's pandas
    -- fetch path distinguishes int32/int64 (r12 strict-preflight
    -- normalization, VERDICT r11 #3)
    SELECT CAST(p1 AS INTEGER) AS p1, CAST(p2 AS INTEGER) AS p2,
           CAST(c1 AS INT) AS cluster1, CAST(c2 AS INT) AS cluster2,
           round(chemistry, 6) + 0 AS chemistry, FALSE AS imputed
    FROM dense_pl
    UNION ALL
    SELECT CAST(sc.p1 AS INTEGER) AS p1, CAST(sc.p2 AS INTEGER) AS p2,
           CAST(l1.cid AS INT) AS cluster1, CAST(l2.cid AS INT) AS cluster2,
           round(coalesce(cp.cchem, g.gchem), 6) + 0 AS chemistry,
           TRUE AS imputed
    FROM sparse_cand sc
    JOIN labs l1 ON l1.user_id = sc.p1
    JOIN labs l2 ON l2.user_id = sc.p2
    LEFT JOIN cp ON cp.ca = least(l1.cid, l2.cid)
               AND cp.cb = greatest(l1.cid, l2.cid)
    CROSS JOIN g
    ORDER BY p1, p2
    """
    return sql


@register("ml_kmeans_chemistry_impute", oracle=_chem_impute_oracle())
def ml_kmeans_chemistry_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-pair-mean chemistry imputation for pairs involving
    sparse (< _MIN_MATCHES) players -- the other half of Specs.pdf's
    clustering purpose (SURVEY 2.9)."""
    from fantasy_premier_league_spark.operators.pipeline import (
        chemistry_from_trace,
        events_df,
        match_counters,
        metric_vectors,
        performance_df,
        rating_trace_df,
    )

    # ONE events corpus pass (r17, guide §2.4): cluster features and
    # the chemistry trace share one materialized counters frame; and
    # ONE rating-trace fold -- the un-checkpointed trace self-join ran
    # the applyInPandas fold on both sides (only the exchange below it
    # gets AQE runtime reuse), the same class as the req1 fix.
    ctrs = match_counters(metric_vectors(events_df(spark))).localCheckpoint(
        eager=False
    )
    trace = (
        rating_trace_df(performance_df(spark, counters=ctrs))
        .select("playerId", "matchId", "teamId", "delta")
        .localCheckpoint(eager=False)
    )
    lab = _fpl_cluster_labels(spark, counters=ctrs).localCheckpoint(
        eager=False
    )  # roster-sized dim: feeds both pair sides + the sparse candidates
    l1 = lab.select(
        F.col("user_id").alias("p1"),
        F.col("cid").alias("c1"),
        F.col("n_matches").alias("nm1"),
    )
    l2 = lab.select(
        F.col("user_id").alias("p2"),
        F.col("cid").alias("c2"),
        F.col("n_matches").alias("nm2"),
    )
    dense_pl = (
        chemistry_from_trace(trace)
        .join(F.broadcast(l1), "p1")
        .join(F.broadcast(l2), "p2")
        .filter(
            (F.col("nm1") >= _MIN_MATCHES) & (F.col("nm2") >= _MIN_MATCHES)
        )
        .select("p1", "p2", "c1", "c2", "chemistry")
        .localCheckpoint(eager=False)  # feeds cp, g, and the output
    )
    sparse = lab.filter(F.col("n_matches") < _MIN_MATCHES).select(
        F.col("user_id").alias("s")
    )
    cand = (
        sparse.join(
            F.broadcast(lab.select(F.col("user_id").alias("o"))),
            F.col("s") != F.col("o"),
        )
        .select(
            F.least("s", "o").alias("p1"), F.greatest("s", "o").alias("p2")
        )
        .distinct()
    )
    cp = dense_pl.groupBy(
        F.least("c1", "c2").alias("ca"), F.greatest("c1", "c2").alias("cb")
    ).agg((F.sum("chemistry") / F.count("*")).alias("cchem"))
    g = dense_pl.agg((F.sum("chemistry") / F.count("*")).alias("gchem"))
    out_dense = dense_pl.select(
        "p1",
        "p2",
        F.col("c1").cast("int").alias("cluster1"),
        F.col("c2").cast("int").alias("cluster2"),
        rounded(F.col("chemistry"), 6).alias("chemistry"),
        F.lit(False).alias("imputed"),
    )
    out_sparse = (
        cand.join(F.broadcast(l1.select("p1", "c1")), "p1")
        .join(F.broadcast(l2.select("p2", "c2")), "p2")
        .withColumn("ca", F.least("c1", "c2"))
        .withColumn("cb", F.greatest("c1", "c2"))
        .join(F.broadcast(cp), ["ca", "cb"], "left")
        .crossJoin(F.broadcast(g))
        .select(
            "p1",
            "p2",
            F.col("c1").cast("int").alias("cluster1"),
            F.col("c2").cast("int").alias("cluster2"),
            rounded(F.coalesce("cchem", "gchem"), 6).alias("chemistry"),
            F.lit(True).alias("imputed"),
        )
    )
    return out_dense.unionByName(out_sparse).orderBy("p1", "p2")

# --- In-engine trained quality classifier (pocket perceptron) ----------
#
# The GPT-3-recipe quality filter is a TRAINED linear classifier over
# document features, not a hand rule. This trains one INSIDE the
# engine: a cost-balanced batch pocket perceptron over three integer
# margin features (token count, distinct-ratio, stop-ratio margins),
# labeled by the text_quality_filter rule -- a distillation setup whose
# accuracy readout is honest (the AND-of-halfspaces rule is not
# linearly separable, so the pocket row beats the 89.8% majority class
# without reaching 100%).
#
# Why a perceptron: every update is sum(class_weight * y * x) over the
# misclassified set -- EXACT BIGINT sums, so the unrolled training run
# is bit-identical across engines with no float snapping at all
# (weights, margins, and misclassification counts are all integers;
# the one division, acc_ppm, is integer div). Logistic regression's
# sigmoid/exp would break that; Lloyd's-style exactness is the point.
#
# 100 TB shape: per iteration ONE aggregate over the (checkpointed)
# feature table with the 4-weight row broadcast -- the corpus never
# shuffles at all (partial aggregation only); 8 iterations = 8 scans,
# the classic full-batch subgradient schedule. The pocket selection is
# a window over the 8-row iteration table.

_P_ITERS = 8


def _perceptron_ctes() -> tuple[str, str]:
    """(WITH clause through w/m unrolled CTEs, m1..mT union) -- shared
    by the training oracle and the apply/confusion oracle."""
    from fantasy_premier_league_spark.operators.textstats import _STOPWORDS

    stop = "(" + ", ".join(f"'{s}'" for s in _STOPWORDS) + ")"
    sql = f"""
    WITH f0 AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd,
             CAST(len(list_filter(string_split(text, ' '),
                                  t -> t IN {stop})) AS BIGINT) AS ns
      FROM documents
    ),
    fl AS (
      SELECT nt - 20 AS x1,
             CAST(floor(CAST(10 * nd - 3 * nt AS DOUBLE) / 4) AS BIGINT) AS x2,
             nt - 2 * ns AS x3,
             CASE WHEN nt >= 20 AND 10 * nd >= 3 * nt AND 2 * ns <= nt
                  THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS y
      FROM f0
    ),
    cls AS (SELECT CAST(count(*) FILTER (y = 1) AS BIGINT) AS n_pos,
                   CAST(count(*) FILTER (y = -1) AS BIGINT) AS n_neg FROM fl),
    f AS (
      SELECT x1, x2, x3, y,
             CASE WHEN y = 1 THEN c.n_neg ELSE c.n_pos END AS cw
      FROM fl, cls c
    ),
    w0 AS (SELECT CAST(0 AS BIGINT) AS wb, CAST(0 AS BIGINT) AS w1,
                  CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3)"""
    prev = "w0"
    marg = "y * (w.wb + w.w1*x1 + w.w2*x2 + w.w3*x3)"
    for t in range(1, _P_ITERS + 1):
        sql += f""",
    w{t} AS (
      SELECT w.wb + coalesce(sum(cw*y)    FILTER ({marg} <= 0), 0) AS wb,
             w.w1 + coalesce(sum(cw*y*x1) FILTER ({marg} <= 0), 0) AS w1,
             w.w2 + coalesce(sum(cw*y*x2) FILTER ({marg} <= 0), 0) AS w2,
             w.w3 + coalesce(sum(cw*y*x3) FILTER ({marg} <= 0), 0) AS w3
      FROM f, {prev} w GROUP BY w.wb, w.w1, w.w2, w.w3
    ),
    m{t} AS (
      SELECT {t} AS iter,
             CAST(w.wb AS BIGINT) AS wb, CAST(w.w1 AS BIGINT) AS w1,
             CAST(w.w2 AS BIGINT) AS w2, CAST(w.w3 AS BIGINT) AS w3,
             CAST(count(*) FILTER ({marg} <= 0) AS BIGINT) AS n_mis,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM f, w{t} w GROUP BY w.wb, w.w1, w.w2, w.w3
    )"""
        prev = f"w{t}"
    union = " UNION ALL ".join(
        f"SELECT * FROM m{t}" for t in range(1, _P_ITERS + 1)
    )
    return sql, union


def _perceptron_oracle() -> str:
    sql, union = _perceptron_ctes()
    return sql + f"""
    SELECT CAST(iter AS INT) AS iter, wb, w1, w2, w3, n_mis,
           (1000000 * (n_docs - n_mis)) // n_docs AS acc_ppm,
           CAST(row_number() OVER (ORDER BY n_mis ASC, iter ASC) = 1
                AS INT) AS is_pocket
    FROM ({union})
    ORDER BY iter
    """


def _perceptron_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (x1, x2, x3, y, cw) feature table both the training loop and
    the apply/confusion query scan (checkpointed: scanned repeatedly)."""
    from fantasy_premier_league_spark.operators.textstats import (
        _STOPWORDS,
        _tok,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = _tok(F.col("text"))
    nt = F.size(toks).cast("long")
    nd = F.size(F.array_distinct(toks)).cast("long")
    ns = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("long")
    fl = docs.select(
        (nt - 20).alias("x1"),
        F.floor((10 * nd - 3 * nt).cast("double") / 4).cast("long").alias("x2"),
        (nt - 2 * ns).alias("x3"),
        F.when(
            (nt >= 20) & (10 * nd >= 3 * nt) & (2 * ns <= nt), F.lit(1)
        )
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("y"),
    )
    cls = fl.agg(
        F.count(F.when(F.col("y") == 1, 1)).cast("long").alias("n_pos"),
        F.count(F.when(F.col("y") == -1, 1)).cast("long").alias("n_neg"),
    )
    return (
        fl.crossJoin(F.broadcast(cls))
        .select(
            "x1",
            "x2",
            "x3",
            "y",
            F.when(F.col("y") == 1, F.col("n_neg"))
            .otherwise(F.col("n_pos"))
            .alias("cw"),
        )
        .localCheckpoint(eager=False)  # scanned twice per iteration
    )


def _perceptron_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the full pocket-training loop; one row per iteration with
    (iter, wb, w1, w2, w3, n_mis, n_docs). Shared by the train and
    apply queries so both scan one plan shape. (The r11 driver-bisect
    probes that also consumed this were deleted in r12 once
    CORRECTNESS_r11 showed train green -- VERDICT r11 #2.)"""
    f = _perceptron_features(spark, sf_dir)
    w = spark.range(1).select(
        F.lit(0).cast("long").alias("wb"),
        F.lit(0).cast("long").alias("w1"),
        F.lit(0).cast("long").alias("w2"),
        F.lit(0).cast("long").alias("w3"),
    )
    margin = F.col("y") * (
        F.col("wb")
        + F.col("w1") * F.col("x1")
        + F.col("w2") * F.col("x2")
        + F.col("w3") * F.col("x3")
    )
    mis = margin <= 0

    def upd(x) -> Column:
        return F.coalesce(
            F.sum(F.when(mis, F.col("cw") * F.col("y") * x)), F.lit(0)
        )

    m_rows = []
    # FUSED schedule (optimization r17): iteration t's update scan
    # (f x w_{t-1}) evaluates the same `mis` predicate the t-1
    # readout needs, so one aggregate emits BOTH the weight deltas
    # and (n_mis, n_docs) under w_{t-1} -- the pre-update weights
    # are the groupBy columns, so history row t-1 projects straight
    # out of iteration t's aggregate. The legacy schedule's 2 corpus
    # scans per iteration become T+1 scans total (the last readout,
    # under w_T, still needs its own scan: there is no T+1-th
    # update). Identical integer arithmetic, identical history rows
    # (strict-zero parity at sf0.1/0.01/0.001); sf0.1 wall is
    # stage-floor-bound either way, the win is halved corpus passes
    # at scale.
    for t in range(1, _P_ITERS + 1):
        j = f.crossJoin(F.broadcast(w))
        a = j.groupBy("wb", "w1", "w2", "w3").agg(
            upd(F.lit(1)).alias("dwb"),
            upd(F.col("x1")).alias("dw1"),
            upd(F.col("x2")).alias("dw2"),
            upd(F.col("x3")).alias("dw3"),
            F.count(F.when(mis, 1)).cast("long").alias("n_mis"),
            F.count("*").cast("long").alias("n_docs"),
        ).localCheckpoint(
            eager=False
        )  # truncate the weight lineage: without this each branch
        #    re-derives the whole w_1..w_t chain (O(T^2) scans)
        if t > 1:
            # readout under w_{t-1} = this scan's pre-update weights
            m_rows.append(
                a.select(
                    F.lit(t - 1).cast("int").alias("iter"),
                    "wb", "w1", "w2", "w3", "n_mis", "n_docs",
                )
            )
        w = a.select(
            (F.col("wb") + F.col("dwb")).alias("wb"),
            (F.col("w1") + F.col("dw1")).alias("w1"),
            (F.col("w2") + F.col("dw2")).alias("w2"),
            (F.col("w3") + F.col("dw3")).alias("w3"),
        )
    m_rows.append(
        f.crossJoin(F.broadcast(w))
        .groupBy("wb", "w1", "w2", "w3")
        .agg(
            F.count(F.when(mis, 1)).cast("long").alias("n_mis"),
            F.count("*").cast("long").alias("n_docs"),
        )
        .select(F.lit(_P_ITERS).cast("int").alias("iter"), "*")
    )
    hist = m_rows[0]
    for m in m_rows[1:]:
        hist = hist.unionByName(m)
    return hist


@register("quality_perceptron_train", oracle=_perceptron_oracle())
def quality_perceptron_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train + evaluate the quality classifier in-engine; one row per
    iteration (weights, misclassifications, accuracy), pocket row
    flagged."""
    hist = _perceptron_history(spark, sf_dir)
    pocket = F.row_number().over(
        Window.orderBy(F.col("n_mis").asc(), F.col("iter").asc())
    )
    return (
        hist.select(
            "iter",
            "wb",
            "w1",
            "w2",
            "w3",
            "n_mis",
            F.expr("(1000000 * (n_docs - n_mis)) div n_docs").alias("acc_ppm"),
            # r9/r10 driver hash mismatch root cause (found r11, fixed
            # in _perceptron_ctes): the oracle's wb/w1/w2/w3 were DuckDB
            # HUGEINT (sum(BIGINT) widens to INT128 and propagates
            # through all 8 weight CTEs), which pandas renders as
            # float64 (690415.0 vs int64 690415) -- the registry
            # convention "cast integer aggregates to BIGINT" was
            # followed everywhere but the weight CTEs. Exact-value
            # comparison via fetchall() hides it (HUGEINT -> Python
            # int), which is why it never reproduced locally. The
            # apply query passes because its outputs are all cast.
            (pocket == 1).cast("int").alias("is_pocket"),
        )
        .orderBy("iter")
    )


def _perceptron_apply_oracle() -> str:
    sql, union = _perceptron_ctes()
    marg = "y * (p.wb + p.w1*x1 + p.w2*x2 + p.w3*x3)"
    return sql + f""",
    pocket AS (
      SELECT wb, w1, w2, w3 FROM ({union})
      ORDER BY n_mis ASC, iter ASC LIMIT 1
    )
    SELECT y AS label,
           CASE WHEN (p.wb + p.w1*x1 + p.w2*x2 + p.w3*x3) > 0
                THEN CAST(1 AS INT) ELSE CAST(-1 AS INT) END AS pred,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER ({marg} <= 0) AS BIGINT) AS n_margin_viol
    FROM f, pocket p
    GROUP BY 1, 2 ORDER BY label, pred
    """


@register("quality_perceptron_apply", oracle=_perceptron_apply_oracle())
def quality_perceptron_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-SERVE: re-run the pocket training loop, take the
    pocket weights, and score the whole corpus -- the confusion matrix
    (rule label x predicted sign) that closes the in-engine
    train->inference loop.

    Standalone-query contract (like dedup_cluster_keep_best): the
    training loop re-runs rather than reading another query's output.
    The pocket pick collects T tiny iteration rows driver-side (the
    same 4-value scalar channel as training); scoring is ONE corpus
    scan with the weights folded in as literals -- zero shuffles
    besides the 4-row confusion aggregate. Ties in sign: margin 0
    predicts -1 on both engines (> 0 is the positive test), and
    n_margin_viol carries the training-rule margin check alongside."""
    f = _perceptron_features(spark, sf_dir)
    w = spark.range(1).select(
        F.lit(0).cast("long").alias("wb"),
        F.lit(0).cast("long").alias("w1"),
        F.lit(0).cast("long").alias("w2"),
        F.lit(0).cast("long").alias("w3"),
    )
    margin = F.col("y") * (
        F.col("wb")
        + F.col("w1") * F.col("x1")
        + F.col("w2") * F.col("x2")
        + F.col("w3") * F.col("x3")
    )
    mis = margin <= 0

    def upd(x) -> Column:
        return F.coalesce(
            F.sum(F.when(mis, F.col("cw") * F.col("y") * x)), F.lit(0)
        )

    iters = []
    for t in range(1, _P_ITERS + 1):
        j = f.crossJoin(F.broadcast(w))
        w = j.groupBy("wb", "w1", "w2", "w3").agg(
            upd(F.lit(1)).alias("dwb"),
            upd(F.col("x1")).alias("dw1"),
            upd(F.col("x2")).alias("dw2"),
            upd(F.col("x3")).alias("dw3"),
        ).select(
            (F.col("wb") + F.col("dwb")).alias("wb"),
            (F.col("w1") + F.col("dw1")).alias("w1"),
            (F.col("w2") + F.col("dw2")).alias("w2"),
            (F.col("w3") + F.col("dw3")).alias("w3"),
        ).localCheckpoint(eager=False)
        iters.append(
            f.crossJoin(F.broadcast(w))
            .groupBy("wb", "w1", "w2", "w3")
            .agg(F.count(F.when(mis, 1)).cast("long").alias("n_mis"))
            .select(F.lit(t).cast("int").alias("iter"), "*")
        )
    hist = iters[0]
    for m in iters[1:]:
        hist = hist.unionByName(m)
    best = hist.orderBy(F.col("n_mis").asc(), F.col("iter").asc()).limit(1).collect()[0]

    score = (
        F.lit(int(best["wb"]))
        + F.lit(int(best["w1"])) * F.col("x1")
        + F.lit(int(best["w2"])) * F.col("x2")
        + F.lit(int(best["w3"])) * F.col("x3")
    )
    return (
        f.select(
            F.col("y").alias("label"),
            F.when(score > 0, F.lit(1)).otherwise(F.lit(-1)).cast("int").alias("pred"),
            (F.col("y") * score <= 0).cast("int").alias("viol"),
        )
        .groupBy("label", "pred")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("viol").cast("long").alias("n_margin_viol"),
        )
        .orderBy("label", "pred")
    )
