"""Similarity search over the ``embeddings`` table (north-star
extension, SURVEY 2.10): brute-force cosine top-k as the exactness
baseline, plus an LSH-bucketed approximate variant as the scale path.

Design for 100 TB:
- brute force is a broadcast of the (small) query set against the full
  corpus -- the corpus never shuffles; per-partition dot products stay
  JVM-side via zip_with/aggregate; top-k per query is a
  TakeOrderedAndProject, not a full sort;
- the sign-random-projection LSH variant hashes each vector to a small
  bucket code with deterministic hyperplanes; candidates meet on an
  equality join on the code, shrinking the candidate set by ~2^bits;
- everything computes in float64 after an explicit cast so the DuckDB
  oracle (which would otherwise use float32 list arithmetic) agrees
  bit-for-bit modulo rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fantasy_premier_league_spark.functions import rounded
from fantasy_premier_league_spark.operators.ml import (
    EMB_DIMS,
    EMB_FEATURES_SQL,
    EMB_SCALE,
    _ITERS_EMB,
    dist2,
    dist2_sql,
    emb_features,
    emb_lloyd,
    emb_lloyd_sql,
    first_k_seed,
    lloyd,
    lloyd_sql,
    nearest,
    nearest_sql,
)
from fantasy_premier_league_spark.plans.registry import register
from fantasy_premier_league_spark.sources.testdata import load_table

N_QUERIES = 5  # vectors with vec_id < 5 act as the query set
TOP_K = 5


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, vec, label, nrm). The norm is a per-vector column, so a
    pair join reads it instead of paying two sqrt folds per PAIR."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec"), "label"
    )
    return v.withColumn("nrm", norm(F.col("vec")))


def _top_k(scored: DataFrame, score: str) -> DataFrame:
    """``scored`` (query_id, vec_id, score) cut to each query's TOP_K by
    descending score, ties on vec_id, with the rank."""
    w = Window.partitionBy("query_id").orderBy(F.col(score).desc(), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOP_K
    )


def _cosine_topk(v: DataFrame) -> DataFrame:
    """(query_id, vec_id, cosine, rank): the exact cosine top-K of each
    query vector (vec_id < N_QUERIES) over every other vector of
    ``_vectors`` -- the ground truth the approximate tiers are measured
    against. The bounded query set broadcasts; the corpus never
    shuffles."""
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            rounded(
                dot(F.col("qvec"), F.col("vec")) / (F.col("qnrm") * F.col("nrm")), 6
            ).alias("cosine"),
        )
    )
    return _top_k(scored, "cosine")


# oracle twin of _vectors + _cosine_topk: CTEs v, q, scored and exact
_EXACT_TOPK_SQL = f"""
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec, label FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, vec AS qvec FROM v WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, v.vec_id,
             round(list_dot_product(q.qvec, v.vec)
               / (sqrt(list_dot_product(q.qvec, q.qvec))
                  * sqrt(list_dot_product(v.vec, v.vec))), 6) + 0 AS cosine
      FROM q JOIN v ON v.vec_id <> q.query_id
    ),
    exact AS (
      SELECT query_id, vec_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
        SELECT query_id, vec_id, cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rank
        FROM scored
      ) WHERE rank <= {TOP_K}
    )"""


@register(
    "ann_cosine_topk",
    oracle=f"""
    WITH {_EXACT_TOPK_SQL}
    SELECT query_id, vec_id, cosine, rank FROM exact
    ORDER BY query_id, rank
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cosine_topk(_vectors(spark, sf_dir)).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# Sign-random-projection LSH bucketing: code_i = (vec . h_i) >= 0 with
# deterministic "hyperplanes" h_i built from an alternating +-1 pattern
# (portable across engines -- no RNG at query time). Demonstrates the
# bucket-join scale path: at 100 TB candidates meet on bucket equality,
# cutting the cross product by ~2^bits; the exact re-rank then runs on
# candidates only. A bucket code folds one bit per stride, most
# significant first.
# ---------------------------------------------------------------------------

_LSH_STRIDES = [1, 2, 4, 8]


def _bit(vec: Column, stride: int) -> Column:
    # pseudo-hyperplane: sign pattern alternating every `stride` dims
    signed = F.aggregate(
        F.zip_with(
            vec,
            F.sequence(F.lit(0), F.size(vec) - 1),
            lambda x, i: F.when((i / stride).cast("int") % 2 == 0, x).otherwise(-x),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.when(signed >= 0, 1).otherwise(0)


_BIT_SQL = """
    CASE WHEN list_sum([
      CASE WHEN (i // {stride}) % 2 = 0 THEN vec[i + 1] ELSE -vec[i + 1] END
      for i in range(0, len(vec))
    ]) >= 0 THEN 1 ELSE 0 END
"""


def _sign_bucket(vec: Column, strides: list[int]) -> Column:
    out = F.lit(0)
    for k, stride in enumerate(strides):
        out = out + _bit(vec, stride) * (1 << (len(strides) - 1 - k))
    return out


def _sign_bucket_sql(strides: list[int]) -> str:
    return " + ".join(
        f"({_BIT_SQL.format(stride=stride)}) * {1 << (len(strides) - 1 - k)}"
        for k, stride in enumerate(strides)
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup: pairs of vectors in the SAME sign-LSH
# bucket with cosine >= threshold. The bucket equality join is the
# 100 TB path -- it prunes the n^2 pair space by ~2^bits before any
# exact arithmetic runs; the cosine re-check then touches candidates
# only. (Recall is tunable with more tables/fewer bits; the oracle
# implements the identical bucket prefilter so the check is exact.)
# ---------------------------------------------------------------------------

_NEARDUP_COS = 0.35  # synthetic corpus tops out ~0.51; 0.35 is selective

# 8 hyperplane bits for the near-dup prefilter (vs the 4-bit coarse
# assignment of _LSH_STRIDES): bucket count is THE pruning lever.
# 4 bits / 16 buckets leaves ~1/16 of the n^2 pair space as candidates
# (measured: 5k vectors -> 1.6M candidate pairs, ~7 s at sf0.1); 8
# bits / 256 buckets cuts candidate density ~16x further at the usual
# recall cost, which is the knob a 100 TB run tunes (more tables for
# recall, more bits for precision).
_NEARDUP_STRIDES = [1, 2, 4, 8, 16, 32, 3, 5]


# Sorted-neighborhood window inside each LSH bucket (Hernandez &
# Stolfo, SIGMOD'95): with a FIXED bucket count, in-bucket pair counts
# grow quadratically with the corpus -- the sf10 sweep measured the
# wall emerging (99x time at 100x data as the 10,800x pair growth
# overtook fixed costs). Bounding each vector's candidates to its
# _NEARDUP_WINDOW successors in vec_id order makes candidate work
# occupancy x W (linear); at gate scales occupancy < W, so the result
# set is bit-identical to the unbounded bucket join.
_NEARDUP_WINDOW = 64


def _window_pairs(ranked: DataFrame, part: str, window: int) -> DataFrame:
    """The sorted-neighborhood window join: every pair of rows of
    ``ranked`` (part, rk, ...) in one ``part`` with a.rk < b.rk <=
    a.rk + window, sides aliased ``a`` and ``b``.

    The window must be an EQUI key, not a join filter: on ``part``
    equality alone the hash join still ENUMERATES every in-part pair
    before filtering (measured: capping via a band filter only cut sf10
    from 166s to 139s). Ranks fall in blocks of ``window``; the probe
    side appears in its own block AND the next, the build side in its
    block only, so every successor within the window meets its
    predecessor on an exact (part, block) key and pair generation is
    occupancy x 2W. Same neighbor-bin recipe as range_join_neighbors.
    The build side is the unexploded one, and the pairs have no order
    need, so the join is a shuffled hash join. The rank band is a filter
    AFTER the join: Spark then evaluates it before any pair predicate
    the caller filters on, where a band inside the join condition would
    come after it, and the caller's cosine would run on every pair of
    the two blocks."""
    blk = ((F.col("rk") - 1) / window).cast("long")
    a = ranked.withColumn("pblk", F.explode(F.array(blk, blk + 1))).alias("a")
    b = ranked.withColumn("blk", blk).alias("b")
    return a.join(
        b.hint("shuffle_hash"),
        (F.col(f"a.{part}") == F.col(f"b.{part}")) & (F.col("a.pblk") == F.col("b.blk")),
    ).filter((F.col("b.rk") > F.col("a.rk")) & (F.col("b.rk") <= F.col("a.rk") + window))


def _window_pairs_sql(ranked: str, part: str, window: int) -> str:
    """Twin of ``_window_pairs`` over the CTE ``ranked`` (part, rk, ...);
    DuckDB band-joins directly, so it needs no blocks."""
    return f"""{ranked} a JOIN {ranked} b
        ON a.{part} = b.{part} AND b.rk > a.rk AND b.rk <= a.rk + {window}"""


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    b AS (
      SELECT vec_id,
             [x / sqrt(list_dot_product(vec, vec)) for x in vec] AS nvec,
             {_sign_bucket_sql(_NEARDUP_STRIDES)} AS bucket
      FROM v
    ),
    r AS (
      SELECT vec_id, nvec, bucket,
             row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rk
      FROM b
    )
    SELECT vec1, vec2, round(cosine, 6) AS cosine FROM (
      SELECT a.vec_id AS vec1, b.vec_id AS vec2,
             list_dot_product(a.nvec, b.nvec) AS cosine
      FROM {_window_pairs_sql("r", "bucket", _NEARDUP_WINDOW)}
    ) WHERE cosine >= {_NEARDUP_COS}
    ORDER BY vec1, vec2
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # normalize per ROW before the pair join: cosine then costs one dot
    # product per pair instead of dot + two norms (3x less of the
    # dominant per-pair arithmetic). nrm is a column of _vectors --
    # referencing norm(vec) inside the transform lambda would re-run the
    # whole reduction once per element.
    v = _vectors(spark, sf_dir).select(
        "vec_id",
        F.transform(F.col("vec"), lambda x: x / F.col("nrm")).alias("nvec"),
        _sign_bucket(F.col("vec"), _NEARDUP_STRIDES).alias("bucket"),
    )
    ranked = v.withColumn(
        "rk", F.row_number().over(Window.partitionBy("bucket").orderBy("vec_id"))
    )
    return (
        _window_pairs(ranked, "bucket", _NEARDUP_WINDOW)
        .withColumn("cos", dot(F.col("a.nvec"), F.col("b.nvec")))
        .filter(F.col("cos") >= _NEARDUP_COS)
        .select(
            F.col("a.vec_id").alias("vec1"),
            F.col("b.vec_id").alias("vec2"),
            rounded(F.col("cos"), 6).alias("cosine"),
        )
        .orderBy("vec1", "vec2")
    )


# ---------------------------------------------------------------------------
# IVF-style ANN: coarse-quantize the corpus to inverted lists keyed by
# nearest centroid; a query probes only its nprobe closest lists and
# re-ranks those candidates exactly. At 100 TB the corpus is written
# partitioned-by-centroid (partition pruning makes a probe touch
# nprobe/nlist of the data); centroids come from KMeans -- here they
# are a deterministic subset (vec_id < NLIST) so the DuckDB oracle
# reproduces the exact same index.
# ---------------------------------------------------------------------------

_NLIST = 8
_NPROBE = 2
_COS_SQL = """list_dot_product({a}, {b})
      / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"""


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    cent AS (SELECT vec_id AS cid, vec AS cvec FROM v WHERE vec_id < {_NLIST}),
    assigned AS (
      SELECT vec_id, vec, cid FROM (
        SELECT v.vec_id, v.vec, cent.cid,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY round({_COS_SQL.format(a='v.vec', b='cent.cvec')}, 6) DESC,
                          cent.cid) AS rn
        FROM v, cent
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, vec AS qvec FROM v
          WHERE vec_id >= {_NLIST} AND vec_id < {_NLIST + N_QUERIES}),
    probes AS (
      SELECT query_id, qvec, cid FROM (
        SELECT q.query_id, q.qvec, cent.cid,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round({_COS_SQL.format(a='q.qvec', b='cent.cvec')}, 6) DESC,
                          cent.cid) AS rn
        FROM q, cent
      ) WHERE rn <= {_NPROBE}
    )
    SELECT query_id, vec_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
      SELECT p.query_id, a.vec_id,
             round({_COS_SQL.format(a='p.qvec', b='a.vec')}, 6) + 0 AS cosine,
             row_number() OVER (
               PARTITION BY p.query_id
               ORDER BY round({_COS_SQL.format(a='p.qvec', b='a.vec')}, 6) DESC,
                        a.vec_id) AS rank
      FROM probes p JOIN assigned a ON p.cid = a.cid
      WHERE a.vec_id <> p.query_id
    ) WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    cent = v.filter(F.col("vec_id") < _NLIST).select(
        F.col("vec_id").alias("cid"),
        F.col("vec").alias("cvec"),
        F.col("nrm").alias("cnrm"),
    )

    def _cos(a: Column, b: Column, na: Column, nb: Column) -> Column:
        return dot(a, b) / (na * nb)

    # inverted-list assignment: every corpus vector -> nearest centroid,
    # ties to the lowest cid (ml.nearest's map-side min_by shape)
    cos = rounded(_cos(F.col("vec"), F.col("cvec"), F.col("nrm"), F.col("cnrm")), 6)
    assigned = (
        v.crossJoin(F.broadcast(cent))
        .groupBy("vec_id", "vec", "nrm")
        .agg(F.min_by("cid", F.struct(-cos, F.col("cid"))).alias("cid"))
    )

    q = v.filter(
        (F.col("vec_id") >= _NLIST) & (F.col("vec_id") < _NLIST + N_QUERIES)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    rn_probe = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            rounded(
                _cos(F.col("qvec"), F.col("cvec"), F.col("qnrm"), F.col("cnrm")), 6
            ).desc(),
            F.col("cid"),
        )
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("rn", rn_probe)
        .filter(F.col("rn") <= _NPROBE)
        .select("query_id", "qvec", "qnrm", "cid")
    )

    cand_cos = _cos(F.col("qvec"), F.col("vec"), F.col("qnrm"), F.col("nrm"))
    rank = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            rounded(cand_cos, 6).desc(), F.col("vec_id")
        )
    )
    return (
        F.broadcast(probes)
        .join(assigned, "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            rounded(cand_cos, 6).alias("cosine"),
            rank.alias("rank"),
        )
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Embedding hygiene stats: per-label L2-norm distribution -- the sanity
# gate before any ANN/index build (zero or exploding norms break cosine
# and IVF alike). Pure per-row fold (JVM lambda over the array, no
# Python) + one tiny groupBy; at 100 TB this is a single scan with a
# 5-row result.
# ---------------------------------------------------------------------------


@register(
    "emb_norm_stats",
    oracle="""
    WITH n AS (
      SELECT label,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    )
    SELECT label, count(*) AS n_vectors,
           round(min(nrm) * 1000000) / 1000000 AS min_norm,
           round(max(nrm) * 1000000) / 1000000 AS max_norm,
           round(avg(nrm) * 1000000) / 1000000 AS avg_norm
    FROM n GROUP BY label ORDER BY label
    """,
)
def emb_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _vectors(spark, sf_dir)
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            rounded(F.min("nrm"), 6).alias("min_norm"),
            rounded(F.max("nrm"), 6).alias("max_norm"),
            rounded(F.avg("nrm"), 6).alias("avg_norm"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# LSH recall measurement: for each query vector, what fraction of its
# EXACT cosine top-k shares the query's sign-LSH bucket? The
# approximation-quality readout every ANN deployment needs before
# trusting the bucketed path -- computed here as a differential query
# so the measurement itself is oracle-checked. Composes the exact
# ranking (_cosine_topk) with the 4-bit bucket code (_sign_bucket).
#
# The measured number is deliberately honest: one 4-bit sign-LSH table
# over these 64-dim embeddings recalls only ~0-20% of the exact top-5
# (single-table LSH at 16 buckets prunes hard). That is the
# prune/recall trade the operator exists to expose -- production tuning
# raises tables and lowers bits-per-table until this query's output
# meets the recall target.
# ---------------------------------------------------------------------------


@register(
    "ann_lsh_recall",
    oracle=f"""
    WITH {_EXACT_TOPK_SQL},
    b AS (
      SELECT vec_id,
             {_sign_bucket_sql(_LSH_STRIDES)} AS bucket
      FROM v
    )
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS k,
           CAST(sum(CASE WHEN bq.bucket = bv.bucket THEN 1 ELSE 0 END) AS BIGINT)
             AS n_same_bucket,
           round(CAST(sum(CASE WHEN bq.bucket = bv.bucket THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) * 1000000) / 1000000 AS recall
    FROM exact e
    JOIN b bq ON bq.vec_id = e.query_id
    JOIN b bv ON bv.vec_id = e.vec_id
    GROUP BY e.query_id ORDER BY e.query_id
    """,
)
def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    buckets = v.select("vec_id", _sign_bucket(F.col("vec"), _LSH_STRIDES).alias("bucket"))
    bq = buckets.select(F.col("vec_id").alias("query_id"), F.col("bucket").alias("q_bucket"))
    bv = buckets.select(F.col("vec_id").alias("vec_id"), F.col("bucket").alias("v_bucket"))
    hit = F.when(F.col("q_bucket") == F.col("v_bucket"), 1).otherwise(0)
    return (
        _cosine_topk(v)
        .join(F.broadcast(bq), "query_id")
        .join(bv, "vec_id")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("k"),
            F.sum(hit).alias("n_same_bucket"),
            rounded(F.sum(hit).cast("double") / F.count("*"), 6).alias("recall"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# SQ8 scalar quantization + recall: compress each embedding to int8
# codes with a per-vector max-abs scale (the standard memory-4x
# vector-store trick), rank neighbors by QUANTIZED cosine, and measure
# recall@k plus mean absolute cosine error against the exact float
# ranking -- the compression-accuracy readout a vector store publishes
# before switching its serving tier to int8.
#
# Determinism needs no grid here: the per-vector scale cancels out of
# the quantized cosine (intdot_ab / sqrt(intdot_aa * intdot_bb)), so
# both engines compute integer dot products exactly, then one
# correctly-rounded sqrt and division each -- bit-identical by IEEE,
# unlike the libm ln()/pow() paths that need scaled-integer snapping.
#
# Scale: same shape as ann_cosine_topk -- the bounded query set (not a
# corpus fraction; see the knn_classify_vote 59x lesson) broadcasts,
# the corpus never self-joins, and the int8 codes are the artifact
# you'd persist: 16x less shuffle than raw doubles at serving time.
# ---------------------------------------------------------------------------


@register(
    "ann_sq8_recall",
    oracle=f"""
    WITH {_EXACT_TOPK_SQL},
    qz AS (
      SELECT vec_id,
             list_transform(vec,
               x -> round(x / list_max(list_transform(vec, y -> abs(y))) * 127))
               AS code
      FROM v
    ),
    qn AS (
      SELECT vec_id, code, list_dot_product(code, code) AS self_dot FROM qz
    ),
    qq AS (SELECT vec_id AS query_id, code AS qcode, self_dot AS q_self
           FROM qn WHERE vec_id < {N_QUERIES}),
    approx AS (
      SELECT query_id, vec_id, qcos, rank FROM (
        SELECT qq.query_id, c.vec_id,
               round(list_dot_product(qq.qcode, c.code)
                     / sqrt(qq.q_self * c.self_dot) * 1000000) / 1000000 AS qcos,
               row_number() OVER (
                 PARTITION BY qq.query_id
                 ORDER BY round(list_dot_product(qq.qcode, c.code)
                     / sqrt(qq.q_self * c.self_dot) * 1000000) / 1000000 DESC,
                   c.vec_id) AS rank
        FROM qq JOIN qn c ON c.vec_id <> qq.query_id
      ) WHERE rank <= {TOP_K}
    )
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS k,
           CAST(count(a.vec_id) AS BIGINT) AS n_hits,
           round(CAST(count(a.vec_id) AS DOUBLE) / count(*) * 1000000) / 1000000
             AS recall,
           round(avg(CASE WHEN a.vec_id IS NOT NULL
                          THEN abs(e.cosine - a.qcos) END) * 1000000) / 1000000
             AS mean_abs_cos_err
    FROM exact e
    LEFT JOIN approx a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
    GROUP BY e.query_id ORDER BY e.query_id
    """,
)
def ann_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    scale = F.array_max(F.transform(F.col("vec"), lambda y: F.abs(y)))
    qz = v.select(
        "vec_id",
        F.transform(F.col("vec"), lambda x: F.round(x / scale * 127)).alias("code"),
    )
    qn = qz.withColumn("self_dot", dot(F.col("code"), F.col("code")))
    qq = qn.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("code").alias("qcode"),
        F.col("self_dot").alias("q_self"),
    )
    qscored = (
        qn.crossJoin(F.broadcast(qq))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            rounded(
                dot(F.col("qcode"), F.col("code"))
                / F.sqrt(F.col("q_self") * F.col("self_dot")),
                6,
            ).alias("qcos"),
        )
    )
    a2 = _top_k(qscored, "qcos").select(
        F.col("query_id").alias("a_query_id"),
        F.col("vec_id").alias("a_vec_id"),
        "qcos",
    )
    joined = _cosine_topk(v).join(
        F.broadcast(a2),
        (F.col("a_query_id") == F.col("query_id")) & (F.col("a_vec_id") == F.col("vec_id")),
        "left",
    )
    return (
        joined.groupBy("query_id")
        .agg(
            F.count("*").alias("k"),
            F.count("a_vec_id").alias("n_hits"),
            rounded(F.count("a_vec_id").cast("double") / F.count("*"), 6).alias("recall"),
            rounded(
                F.avg(
                    F.when(
                        F.col("a_vec_id").isNotNull(),
                        F.abs(F.col("cosine") - F.col("qcos")),
                    )
                ),
                6,
            ).alias("mean_abs_cos_err"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) + recall: the FAISS IVF-PQ compression
# standard for billion-vector serving. The 64-dim space splits into
# M=4 independent 16-dim subspaces; each subspace trains its own tiny
# codebook (K=8 centroids, the deterministic Lloyd's of operators/ml.py
# that ml_kmeans_embeddings runs: first-K init + one refinement), and every
# vector compresses to M small code ids -- here 4x log2(8) = 12 bits a
# vector vs 64 float32s, the 32x that makes a 100 TB corpus fit a
# serving tier. Queries rank candidates by ASYMMETRIC distance (ADC):
# per-subspace query->centroid distances form an M x K lookup table
# (M*K*|queries| tiny rows, broadcast), and a candidate's distance is
# the fixed-order sum of its M looked-up entries -- the corpus itself
# never computes a full-dimension distance at serving time.
#
# Determinism is ml.py's: integer-quantized features, exact-integer-sum
# / count centroids, one fold order for every distance (dist2/dist2_sql),
# argmin ties on cid; ranking ties break on vec_id. Output floats
# (recall, relative ADC error) snap to the 1e-6 grid on both sides.
#
# Scale: codebooks and LUTs are O(M*K) rows and broadcast; the corpus
# shuffles only on vec_id-width code rows; exact top-k (the recall
# yardstick) broadcasts the bounded query set like ann_cosine_topk.
# ---------------------------------------------------------------------------

_PQ_M = 4  # subspaces
_PQ_D = 16  # dims per subspace (4 x 16 = 64)
_PQ_K = 8  # centroids per subspace codebook
_PQ_ITERS = 2  # assign to the seed, recenter once, assign again (the codes)


def _pq_dims(s):  # 1-based feature indices of subspace s
    return range(s * _PQ_D + 1, (s + 1) * _PQ_D + 1)


def _l2_exact_sql() -> str:
    """CTE ``exact`` (query_id, vec_id, edist): the exact squared-L2
    top-K of each query in ``q`` over ``f`` -- the PQ tiers' yardstick."""
    chain = dist2_sql("f.x", "q.x", EMB_DIMS)
    return f"""
    exact AS (
      SELECT query_id, vec_id, edist FROM (
        SELECT q.vec_id AS query_id, f.vec_id, {chain} AS edist,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {chain} ASC, f.vec_id ASC) AS rank
        FROM q, f
        WHERE f.vec_id <> q.vec_id
      ) WHERE rank <= {TOP_K}
    )"""


def _pq_train_ctes() -> str:
    """Per-subspace codebook-training + query-LUT CTE text; expects
    CTEs ``f`` (quantized features) and ``q`` (query subset of f) to be
    defined by the caller. Shared by the pure-PQ and IVF-PQ oracles so
    both gate the IDENTICAL codebooks: subspace s trains in CTEs
    ``s{s}_c0``..``s{s}_a{_PQ_ITERS}`` (its codebook is
    ``s{s}_c{_PQ_ITERS - 1}``, its codes ``s{s}_a{_PQ_ITERS}``)."""
    sql = ""
    for s in range(_PQ_M):
        sql += lloyd_sql("f", "vec_id", _pq_dims(s), _PQ_K, _PQ_ITERS, f"s{s}_")
        sql += f""",
    lut_{s} AS (
      SELECT q.vec_id AS query_id, c.cid,
             {dist2_sql("q.x", "c.c", _pq_dims(s))} AS pdist
      FROM q, s{s}_c{_PQ_ITERS - 1} c
    )"""
    code_joins = " ".join(
        f"JOIN s{s}_a{_PQ_ITERS} USING (vec_id)" for s in range(1, _PQ_M)
    )
    cols = ", ".join(f"s{s}_a{_PQ_ITERS}.cid AS c{s}" for s in range(_PQ_M))
    sql += f""",
    codes AS (
      SELECT vec_id, {cols}
      FROM s0_a{_PQ_ITERS} {code_joins}
    )"""
    return sql


def _lut_joins_sql() -> str:
    return " ".join(
        f"JOIN lut_{s} l{s} ON l{s}.query_id = l0.query_id AND l{s}.cid = cw.c{s}"
        for s in range(1, _PQ_M)
    )


def _adc_sum_sql() -> str:
    return " + ".join(f"l{s}.pdist" for s in range(_PQ_M))


def _pq_oracle() -> str:
    lut_joins = _lut_joins_sql()
    adc_sum = _adc_sum_sql()
    sql = (
        f"WITH f AS ({EMB_FEATURES_SQL}),\n"
        f"    q AS (SELECT * FROM f WHERE vec_id < {N_QUERIES})"
    )
    sql += _pq_train_ctes()
    sql += f""",
    adc AS (
      SELECT l0.query_id, cw.vec_id, {adc_sum} AS adist
      FROM codes cw
      JOIN lut_0 l0 ON l0.cid = cw.c0
      {lut_joins}
      WHERE cw.vec_id <> l0.query_id
    ),
    approx AS (
      SELECT query_id, vec_id, adist FROM (
        SELECT query_id, vec_id, adist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adist ASC, vec_id ASC) AS rank
        FROM adc
      ) WHERE rank <= {TOP_K}
    ),{_l2_exact_sql()}
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS k,
           CAST(count(a.vec_id) AS BIGINT) AS n_hits,
           round(CAST(count(a.vec_id) AS DOUBLE) / count(*) * 1000000) / 1000000
             AS recall,
           round(avg(CASE WHEN a.vec_id IS NOT NULL
                          THEN abs(a.adist - e.edist) / e.edist END)
                 * 1000000) / 1000000 AS mean_rel_adc_err
    FROM exact e
    LEFT JOIN approx a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
    GROUP BY e.query_id ORDER BY e.query_id
    """
    return sql


def _subspace_long(df: DataFrame, id_col: str, col: str) -> DataFrame:
    """(id, s, col): every subspace slice of the array ``col`` of every
    row as ONE long frame, so the train pipeline touches the corpus once
    per Lloyd's step instead of once per subspace (r17, guide §1.1/§2.4:
    M=4 independent per-subspace pipelines re-scanned the corpus 3M
    times and paid Catalyst planning per subspace -- the recenter
    checkpoints alone were ~4.6 s of driver plan time at any data
    size)."""
    return df.select(
        id_col,
        F.posexplode(
            F.array(*[F.slice(col, s * _PQ_D + 1, _PQ_D) for s in range(_PQ_M)])
        ).alias("s", col),
    )


def _pq_train(feats: DataFrame, q_ids: DataFrame) -> tuple[DataFrame, list[DataFrame]]:
    """Train the M per-subspace codebooks (Lloyd's from the first-K
    seed, _PQ_ITERS assignment rounds) and return ``(codes, luts)``:
    codes = (vec_id, c0..c{M-1}); luts[s] = (query_id, c{s}, p{s})
    broadcast-sized ADC lookup tables for the given query frame
    (query_id, xs). Shared by the pure-PQ and IVF-PQ recall queries so
    both serve from IDENTICAL codebooks. All M subspaces train side by
    side in ONE long-format pipeline keyed by (s, ...)."""
    # the SAME first-K vectors seed every subspace's codebook
    cb0 = _subspace_long(first_k_seed(feats, "vec_id", _PQ_K), "cid", "cs")
    code_long, cb = lloyd(
        _subspace_long(feats, "vec_id", "xs"), cb0, ["s"], _PQ_ITERS, "vec_id"
    )
    # wide (vec_id, c0..c{M-1}) for the ADC join chain: one groupBy
    # replaces the former M-1 shuffle_hash self-joins on vec_id
    codes = code_long.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("s") == s, F.col("cid"))).alias(f"c{s}")
            for s in range(_PQ_M)
        ]
    )
    lut_long = (
        _subspace_long(q_ids, "query_id", "xs")
        .join(F.broadcast(cb), "s")
        .select("query_id", "s", "cid", dist2(F.col("xs"), F.col("cs")).alias("p"))
    ).localCheckpoint(eager=False)
    luts = [
        lut_long.filter(F.col("s") == s).select(
            "query_id",
            F.col("cid").alias(f"c{s}"),
            F.col("p").alias(f"p{s}"),
        )
        for s in range(_PQ_M)
    ]
    return codes, luts


def _l2_topk(feats: DataFrame, q: DataFrame) -> DataFrame:
    """(query_id, vec_id, edist, rank): the exact squared-L2 top-K of
    each query (query_id, xs) over every other vector of ``feats`` --
    the PQ tiers' yardstick; the bounded query set broadcasts."""
    qf = q.select("query_id", F.col("xs").alias("qxs"))
    w = Window.partitionBy("query_id").orderBy(F.col("edist").asc(), F.col("vec_id"))
    return (
        feats.crossJoin(F.broadcast(qf))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "vec_id", dist2(F.col("xs"), F.col("qxs")).alias("edist")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )


@register("ann_pq_recall", oracle=_pq_oracle())
def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = emb_features(spark, sf_dir)
    q_ids = feats.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "xs"
    )
    codes, luts = _pq_train(feats, q_ids)
    adc = codes.crossJoin(
        F.broadcast(q_ids.select("query_id"))
    ).filter(F.col("vec_id") != F.col("query_id"))
    for s in range(_PQ_M):
        adc = adc.join(F.broadcast(luts[s]), ["query_id", f"c{s}"])
    adist = F.col("p0") + F.col("p1") + F.col("p2") + F.col("p3")
    wa = Window.partitionBy("query_id").orderBy(F.col("adist").asc(), F.col("vec_id"))
    approx = (
        adc.select("query_id", "vec_id", adist.alias("adist"))
        .withColumn("rank", F.row_number().over(wa))
        .filter(F.col("rank") <= TOP_K)
        .select(
            F.col("query_id").alias("a_query_id"),
            F.col("vec_id").alias("a_vec_id"),
            "adist",
        )
    )
    joined = _l2_topk(feats, q_ids).join(
        F.broadcast(approx),
        (F.col("a_query_id") == F.col("query_id"))
        & (F.col("a_vec_id") == F.col("vec_id")),
        "left",
    )
    return (
        joined.groupBy("query_id")
        .agg(
            F.count("*").alias("k"),
            F.count("a_vec_id").alias("n_hits"),
            rounded(F.count("a_vec_id").cast("double") / F.count("*"), 6).alias(
                "recall"
            ),
            rounded(
                F.avg(
                    F.when(
                        F.col("a_vec_id").isNotNull(),
                        F.abs(F.col("adist") - F.col("edist")) / F.col("edist"),
                    )
                ),
                6,
            ).alias("mean_rel_adc_err"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# IVF-PQ: the production ANN index shape (FAISS IndexIVFPQ), composed
# from the two verified halves -- IVF coarse cells (ann_ivf_topk's
# assign/probe) gate WHICH candidates are scored, PQ ADC (ann_pq_recall's
# codebooks/LUTs) gates HOW CHEAPLY, and an exact re-rank of the ADC
# shortlist restores precision at the top. Output is the measurement the
# r6 verdict ordered (Next round #6): recall@k of the full pipeline vs
# the exact top-k, per query, with the candidate-set size riding along
# so the prune ratio is itself gated.
#
# Serving-path cost model at 100 TB:
# - coarse centroids: O(nlist) rows, broadcast; every corpus vector
#   computes nlist full-dim distances ONCE at build time (one scan);
# - codes: M small ints per vector (the 32x compression tier), the only
#   corpus-wide table the query path touches;
# - per query: nlist coarse distances + M*K LUT entries (broadcast),
#   then ADC over only the probed cells' candidates (~nprobe/nlist of
#   the corpus), then RERANK full-dim distances -- the full corpus never
#   computes a full-dimension distance at serving time;
# - the exact top-k yardstick is the measurement harness, not the
#   serving path: it broadcasts the bounded query set like
#   ann_cosine_topk.
#
# Determinism is inherited wholesale: integer-quantized features,
# left-associated distance chains identical to F.aggregate's fold,
# argmin/rank ties on (distance, id).
# ---------------------------------------------------------------------------

# Operating point (tuned on the synthetic corpus, honest numbers in
# the docstring): probe half the cells and exact-re-rank a 10k-deep ADC
# shortlist. The two knobs decompose the recall loss measurably --
# nprobe/nlist bounds the cell-hit ceiling (2/8 cells -> 0.36 here,
# 4/8 -> 0.68), and the shortlist depth recovers ADC's ~0.5 relative
# distance error within probed cells (12-bit codes are deliberately
# tiny). A production index raises K and M before raising nprobe.
_IVFPQ_NPROBE = 4
_IVFPQ_RERANK = 10 * TOP_K


def _ivfpq_oracle() -> str:
    qg = dist2_sql("q.x", "g.x", EMB_DIMS)
    fq = dist2_sql("f.x", "q.x", EMB_DIMS)
    sql = (
        f"WITH f AS ({EMB_FEATURES_SQL}),\n"
        f"    g AS (SELECT * FROM f WHERE vec_id < {_NLIST}),\n"
        f"    q AS (SELECT * FROM f WHERE vec_id >= {_NLIST}"
        f" AND vec_id < {_NLIST + N_QUERIES})"
    )
    sql += _pq_train_ctes()
    sql += f""",
    assigned AS ({nearest_sql("vec_id", "f", "g", EMB_DIMS, c="x", cid="vec_id")}
    ),
    probes AS (
      SELECT query_id, gid FROM (
        SELECT q.vec_id AS query_id, g.vec_id AS gid,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {qg} ASC, g.vec_id ASC) AS rn
        FROM q, g
      ) WHERE rn <= {_IVFPQ_NPROBE}
    ),
    cand AS (
      SELECT p.query_id, a.vec_id
      FROM probes p JOIN assigned a ON a.cid = p.gid
      WHERE a.vec_id <> p.query_id
    ),
    adc AS (
      SELECT l0.query_id, cw.vec_id, {_adc_sum_sql()} AS adist
      FROM cand cd
      JOIN codes cw ON cw.vec_id = cd.vec_id
      JOIN lut_0 l0 ON l0.query_id = cd.query_id AND l0.cid = cw.c0
      {_lut_joins_sql()}
    ),
    shortlist AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adist ASC, vec_id ASC) AS rn
        FROM adc
      ) WHERE rn <= {_IVFPQ_RERANK}
    ),
    rerank AS (
      SELECT query_id, vec_id FROM (
        SELECT s.query_id, s.vec_id,
               row_number() OVER (PARTITION BY s.query_id
                                  ORDER BY {fq} ASC, s.vec_id ASC) AS rn
        FROM shortlist s
        JOIN f ON f.vec_id = s.vec_id
        JOIN q ON q.vec_id = s.query_id
      ) WHERE rn <= {TOP_K}
    ),{_l2_exact_sql()},
    candn AS (SELECT query_id, count(*) AS n_cand FROM cand GROUP BY query_id)
    SELECT e.query_id,
           CAST(any_value(cn.n_cand) AS BIGINT) AS n_cand,
           CAST(count(*) AS BIGINT) AS k,
           CAST(count(r.vec_id) AS BIGINT) AS n_hits,
           round(CAST(count(r.vec_id) AS DOUBLE) / count(*) * 1000000) / 1000000
             AS recall
    FROM exact e
    LEFT JOIN rerank r ON r.query_id = e.query_id AND r.vec_id = e.vec_id
    LEFT JOIN candn cn ON cn.query_id = e.query_id
    GROUP BY e.query_id ORDER BY e.query_id
    """
    return sql


@register("ann_ivfpq_recall", oracle=_ivfpq_oracle())
def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = emb_features(spark, sf_dir)
    coarse = feats.filter(F.col("vec_id") < _NLIST).select(
        F.col("vec_id").alias("gid"), F.col("xs").alias("gxs")
    )
    q = feats.filter(
        (F.col("vec_id") >= _NLIST) & (F.col("vec_id") < _NLIST + N_QUERIES)
    ).select(F.col("vec_id").alias("query_id"), "xs")

    # build-time: one scan assigns every corpus vector to its nearest
    # coarse cell (nlist broadcast distances per row, map-side argmin)
    assigned = nearest(
        feats.crossJoin(F.broadcast(coarse)), ["vec_id"], c="gxs", cid="gid"
    )
    # query-time: nearest nprobe cells per query
    wp = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("gid"))
    probes = (
        q.crossJoin(F.broadcast(coarse))
        .select(
            "query_id", "gid", dist2(F.col("xs"), F.col("gxs")).alias("dist")
        )
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= _IVFPQ_NPROBE)
        .select("query_id", "gid")
    )
    # candidates = corpus vectors living in a probed cell; the bounded
    # (query x cell) probe frame broadcasts, the corpus never shuffles
    cand = (
        F.broadcast(probes)
        .join(assigned, "gid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )

    codes, luts = _pq_train(feats, q)
    # ADC over candidates only: inner join prunes codes to the probed
    # cells before any LUT lookup
    adc = codes.join(F.broadcast(cand), "vec_id")
    for s in range(_PQ_M):
        adc = adc.join(F.broadcast(luts[s]), ["query_id", f"c{s}"])
    adist = F.col("p0") + F.col("p1") + F.col("p2") + F.col("p3")
    ws = Window.partitionBy("query_id").orderBy(F.col("adist").asc(), F.col("vec_id"))
    shortlist = (
        adc.select("query_id", "vec_id", adist.alias("adist"))
        .withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= _IVFPQ_RERANK)
        .select("query_id", "vec_id")
    )
    # exact re-rank of the bounded shortlist (RERANK x |q| rows)
    qf = q.select("query_id", F.col("xs").alias("qxs"))
    wr = Window.partitionBy("query_id").orderBy(F.col("edist").asc(), F.col("vec_id"))
    rerank = (
        F.broadcast(shortlist)
        .join(feats, "vec_id")
        .join(F.broadcast(qf), "query_id")
        .select(
            "query_id", "vec_id", dist2(F.col("xs"), F.col("qxs")).alias("edist")
        )
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= TOP_K)
        .select(
            F.col("query_id").alias("r_query_id"), F.col("vec_id").alias("r_vec_id")
        )
    )
    candn = cand.groupBy("query_id").agg(F.count("*").alias("n_cand"))
    joined = _l2_topk(feats, q).join(
        F.broadcast(rerank),
        (F.col("r_query_id") == F.col("query_id"))
        & (F.col("r_vec_id") == F.col("vec_id")),
        "left",
    ).join(F.broadcast(candn), "query_id", "left")
    return (
        joined.groupBy("query_id")
        .agg(
            F.any_value("n_cand").alias("n_cand"),
            F.count("*").alias("k"),
            F.count("r_vec_id").alias("n_hits"),
            rounded(F.count("r_vec_id").cast("double") / F.count("*"), 6).alias(
                "recall"
            ),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup, Abbas et al. 2023): k-means the embedding
# space, then inside each cluster drop every vector that has a
# cosine >= tau neighbor CLOSER to the centroid -- the keep-one-per-
# semantic-group pruning used on LAION/web corpora before training.
# Composed end-to-end from verified parts: the deterministic Lloyd's of
# ml_kmeans_embeddings (shared CTE/DataFrame helpers, so the gate
# verifies the IDENTICAL clustering) + in-cluster cosine pairs + a
# centroid-distance ranking.
#
# Scale shape: SemDeDup's own premise is k grows with the corpus so
# cluster populations stay bounded (the paper uses k=50k for 5B
# embeddings) -- but a FIXED k with raw in-cluster all-pairs is
# quadratic, the exact disease the r6 sf10 sweep caught in
# dedup_embedding_cosine (and an analytical pre-ship audit caught
# here: 400k in-cluster pairs at sf0.1 -> ~4B at sf10). So the drop
# rule is the sorted-neighborhood form: a vector is compared only to
# the _SEM_WINDOW closer-to-centroid predecessors in its cluster,
# and -- the r6 filter-vs-equi lesson -- the window is an EQUI join
# key (rank-block + neighbor-block explosion), so pair GENERATION is
# occupancy x 2W, never enumerate-then-filter. At gate scale cluster
# populations sit under the window, making this bit-identical to full
# SemDeDup; at 100 TB it is the documented bounded approximation.
# Ranking is one broadcast join against k tiny centroids + one
# in-cluster window.
# ---------------------------------------------------------------------------

_SEM_TAU = 0.3
_SEM_WINDOW = 128


def _semantic_oracle() -> str:
    dot_ab = " + ".join(
        f"CAST(a.x{i} AS DOUBLE) * CAST(b.x{i} AS DOUBLE)" for i in EMB_DIMS
    )
    nrm_a = " + ".join(
        f"CAST(a.x{i} AS DOUBLE) * CAST(a.x{i} AS DOUBLE)" for i in EMB_DIMS
    )
    nrm_b = " + ".join(
        f"CAST(b.x{i} AS DOUBLE) * CAST(b.x{i} AS DOUBLE)" for i in EMB_DIMS
    )
    return (
        emb_lloyd_sql()
        + f""",
    cdist AS (
      SELECT a.vec_id, a.cid, {dist2_sql("f.x", "c.c", EMB_DIMS)} AS cdist
      FROM a{_ITERS_EMB} a JOIN f ON f.vec_id = a.vec_id
      JOIN c{_ITERS_EMB - 1} c ON c.cid = a.cid
    ),
    ranked AS (
      SELECT f.*, d.cid,
             row_number() OVER (PARTITION BY d.cid
                                ORDER BY d.cdist ASC, d.vec_id ASC) AS rk
      FROM cdist d JOIN f ON f.vec_id = d.vec_id
    ),
    drops AS (
      SELECT DISTINCT b.cid, b.vec_id
      FROM {_window_pairs_sql("ranked", "cid", _SEM_WINDOW)}
      WHERE round(({dot_ab}) / (sqrt({nrm_a}) * sqrt({nrm_b})), 6) >= {_SEM_TAU}
    ),
    sizes AS (SELECT cid, count(*) AS n_vectors FROM a{_ITERS_EMB} GROUP BY cid),
    dcount AS (SELECT cid, count(*) AS n_dropped FROM drops GROUP BY cid)
    SELECT CAST(s.cid AS INT) AS cluster,
           CAST(s.n_vectors AS BIGINT) AS n_vectors,
           CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped,
           CAST(s.n_vectors - coalesce(d.n_dropped, 0) AS BIGINT) AS n_kept
    FROM sizes s LEFT JOIN dcount d ON d.cid = s.cid
    ORDER BY cluster
    """
    )


@register("dedup_semantic_clusters", oracle=_semantic_oracle())
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels, cent = emb_lloyd(emb_features(spark, sf_dir))
    # the labels feed BOTH the centroid-distance ranking and the cluster
    # sizes; materialize the Lloyd's chain once
    labels = labels.localCheckpoint(eager=False)
    cdist = labels.join(F.broadcast(cent), "cid").select(
        "vec_id", "cid", "xs", dist2(F.col("xs"), F.col("cs")).alias("cdist")
    )
    wr = Window.partitionBy("cid").orderBy(F.col("cdist").asc(), F.col("vec_id"))
    xd = F.transform("xs", lambda x: x.cast("double"))
    # per-VECTOR norm computed once here (r17, guide §1.2 per-task
    # work): the blocked pair join below evaluated norm() twice per
    # PAIR -- ~2 x |pairs| 64-term sqrt folds for |vectors| distinct
    # values; same doubles (sqrt of the identical fold), so the rounded
    # cosine is bit-identical
    ranked = (
        cdist.withColumn("rk", F.row_number().over(wr))
        .select("vec_id", "cid", "rk", xd.alias("xd"), norm(xd).alias("nrm"))
        .localCheckpoint(eager=False)  # truncate the Lloyd's lineage once
    )
    # a vector drops when a closer-to-centroid predecessor within
    # _SEM_WINDOW ranks of its cluster is cosine-similar
    cosine = rounded(
        dot(F.col("a.xd"), F.col("b.xd")) / (F.col("a.nrm") * F.col("b.nrm")), 6
    )
    drops = (
        _window_pairs(ranked, "cid", _SEM_WINDOW)
        .filter(cosine >= _SEM_TAU)
        .select(F.col("b.cid").alias("cid"), F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    sizes = labels.groupBy("cid").agg(F.count("*").alias("n_vectors"))
    dc = drops.groupBy("cid").agg(F.count("*").alias("n_dropped"))
    # both sides hold one row per cluster: broadcast, never sort-merge
    return (
        sizes.join(F.broadcast(dc), "cid", "left")
        .select(
            F.col("cid").cast("int").alias("cluster"),
            F.col("n_vectors").cast("long").alias("n_vectors"),
            F.coalesce(F.col("n_dropped"), F.lit(0)).cast("long").alias("n_dropped"),
            (F.col("n_vectors") - F.coalesce(F.col("n_dropped"), F.lit(0)))
            .cast("long")
            .alias("n_kept"),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# Gram / scatter matrix over the embedding space (emb_gram_matrix):
# the distributed HALF of PCA-whitening -- at 100 TB you compute the
# d x d scatter matrix in ONE corpus scan (partial-aggregated sums, a
# shuffle of d^2 numbers per map partition) and eigensolve the tiny
# matrix on the driver; the corpus is never touched again. Components
# quantized to exact BIGINT by the ml_kmeans_embeddings floor(x*2^20)
# recipe, so every entry is an order-independent integer sum --
# bit-identical across engines with no float summation anywhere.
# Leading _GRAM_D dims keep the unpivot constant-width; |q|<=2^21 and
# N<=10^9 rows stay under BIGINT (2^42 * 2^21 overhead bits to
# spare); beyond that the production recipe shards the sum into
# per-range partials merged as DECIMAL -- noted, not needed here.
# ---------------------------------------------------------------------------

_GRAM_D = 8


def _gram_oracle() -> str:
    q = ", ".join(
        f"CAST(floor(CAST(embedding[{i}] AS DOUBLE) * {EMB_SCALE}) AS BIGINT)"
        f" AS q{i}"
        for i in range(1, _GRAM_D + 1)
    )
    arms = " UNION ALL ".join(
        f"SELECT {i} AS dim_i, {j} AS dim_j,"
        f" CAST(sum(q{i} * q{j}) AS BIGINT) AS dot,"
        f" CAST(count(*) AS BIGINT) AS n_vecs FROM f"
        for i in range(1, _GRAM_D + 1)
        for j in range(i, _GRAM_D + 1)
    )
    return f"""
    WITH f AS (SELECT {q} FROM embeddings)
    SELECT dim_i, dim_j, dot, n_vecs FROM ({arms})
    ORDER BY dim_i, dim_j
    """


@register("emb_gram_matrix", oracle=_gram_oracle())
def emb_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle scatter matrix (36 rows at d=8) over quantized
    embedding components: one scan, one constant-width agg, the
    eigensolve input for driver-side PCA."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = {
        i: F.floor(
            F.col("embedding")[i - 1].cast("double") * EMB_SCALE
        ).cast("long")
        for i in range(1, _GRAM_D + 1)
    }
    aggs = [
        F.sum(qs[i] * qs[j]).alias(f"g_{i}_{j}")
        for i in range(1, _GRAM_D + 1)
        for j in range(i, _GRAM_D + 1)
    ]
    wide = emb.agg(F.count("*").cast("long").alias("n_vecs"), *aggs)
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("dim_i"),
                    F.lit(j).alias("dim_j"),
                    F.col(f"g_{i}_{j}").cast("long").alias("dot"),
                )
                for i in range(1, _GRAM_D + 1)
                for j in range(i, _GRAM_D + 1)
            ]
        )
    ).alias("p")
    return (
        wide.select("n_vecs", pairs)
        .select("p.dim_i", "p.dim_j", "p.dot", "n_vecs")
        .orderBy("dim_i", "dim_j")
    )
