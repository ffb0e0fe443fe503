"""Iterative graph algorithms as DataFrame loops (north-star extension,
SURVEY 2.10; companion to the label-propagation connected components in
operators/dedup.py).

PageRank here runs over the customer--supplier trade graph implied by
the star schema (an edge per distinct (custkey, suppkey) pair appearing
on an order line, made undirected so no node is a dangling sink). The
reference has no graph tier at all; this is the "iterative algorithm on
Spark" pattern done scale-correctly:

- the edge list is built ONCE, repartitioned on src, and cached: every
  iteration's join reuses the same shuffle-free probe side;
- each iteration is join -> groupBy(dst) -> sum: one shuffle per
  iteration, partial aggregation map-side, nothing ever collects to the
  driver except the final result;
- lineage is truncated with localCheckpoint every few rounds so the
  plan does not grow linearly with iterations (the 100 TB driver-stall
  failure mode of naive iterative DataFrame code);
- the ENTIRE recurrence runs in scaled 64-bit INTEGERS (rank = units
  on a 1e-12 grid; per-edge contribution = units div outdeg; damping
  17/20 applied as integer multiply-then-divide), so the differential
  gate is summation-order independent BY CONSTRUCTION: integer sums
  commute exactly, unlike doubles, and no partition-order or
  single-thread-vs-parallel difference between Spark and DuckDB can
  flip a value. Units stay < ~2e13, far inside BIGINT.

The oracle unrolls the identical recurrence as chained CTEs (DuckDB has
recursive CTEs, but unrolling keeps the iteration count and the integer
grid textually explicit and engine-portable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fantasy_premier_league_spark.functions import md5_hash, md5_hash_sql
from fantasy_premier_league_spark.plans.registry import register
from fantasy_premier_league_spark.sources.testdata import load_table

_ITERS = 3
_GRID = 10**12  # rank units per 1.0 of probability mass
# damping d = 0.85 = _D_NUM / _D_DEN, applied as integer mul-then-div
_D_NUM = 17
_D_DEN = 20


def _oracle() -> str:
    edges = f"""
    edges AS (
      SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      UNION
      SELECT DISTINCT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    nodes AS (SELECT DISTINCT src AS v FROM edges),
    n AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    r0 AS (SELECT v, {_GRID} // (SELECT n FROM n) AS u FROM nodes)
    """
    steps = []
    for i in range(1, _ITERS + 1):
        steps.append(
            f"""
    r{i} AS (
      SELECT nodes.v,
             CAST((({_D_DEN - _D_NUM} * {_GRID} // {_D_DEN}) // (SELECT n FROM n))
                  + ({_D_NUM} * coalesce(sum(r{i - 1}.u // deg.outdeg), 0))
                    // {_D_DEN} AS BIGINT) AS u
      FROM nodes
      LEFT JOIN edges ON edges.dst = nodes.v
      LEFT JOIN deg ON deg.src = edges.src
      LEFT JOIN r{i - 1} ON r{i - 1}.v = edges.src
      GROUP BY nodes.v
    )"""
        )
    return (
        "WITH "
        + edges
        + ","
        + ",".join(steps)
        + f"""
    SELECT v AS node, CAST(u AS BIGINT) AS rank_units
    FROM r{_ITERS} ORDER BY rank_units DESC, node LIMIT 50
    """
    )


# Above this node count the per-iteration broadcasts (rank vector +
# contribution vector, both |nodes| rows, several iterations' worth
# alive at once before lazy teardown) exhaust unified memory -- the
# sf10 scale study measured exactly this as a SparkOutOfMemoryError at
# |nodes| ~ 1.6M on the 8g local driver. Past the cap the iteration
# drops to shuffle_hash joins against the pre-partitioned edge list:
# one extra exchange of the small rank vector per iteration, bounded
# memory.
_BROADCAST_NODE_CAP = 300_000


def _pagerank_iteration(
    contrib_base: DataFrame,
    nodes: DataFrame,
    ranks: DataFrame,
    base_units: int,
    broadcast_vectors: bool = True,
) -> DataFrame:
    """One PageRank iteration. Factored out so the plan test can pin
    the PER-ITERATION physical shape (rank vector broadcast into the
    edge scan below the node cap, zero SortMergeJoin either way) — the
    returned query's own plan is just a scan of the final checkpointed
    vector."""
    hint = F.broadcast if broadcast_vectors else (lambda df: df.hint("shuffle_hash"))
    contribs = (
        contrib_base.join(hint(ranks), contrib_base.src == ranks.v)
        # integer floor-division per edge: exact, order-independent
        .select(F.col("dst"), F.expr("u div outdeg").alias("w"))
        .groupBy("dst")
        .agg(F.sum("w").alias("mass"))
    )
    return (
        nodes.join(hint(contribs), nodes.v == contribs.dst, "left_outer")
        .select("v", F.coalesce(F.col("mass"), F.lit(0)).alias("mass"))
        .select(
            "v",
            (F.lit(base_units) + F.expr(f"({_D_NUM} * mass) div {_D_DEN}"))
            .cast("long")
            .alias("u"),
        )
    )


@register("graph_pagerank", oracle=_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # INTEGER node ids end to end: customer k -> 2k, supplier k -> 2k+1.
    # The edge list is the biggest structure the loop touches (2x the
    # distinct pair count, checkpointed, probed every iteration);
    # (long, long) rows are ~5x smaller than the "c123"/"s45" string
    # form the sf10 study OOM'd on, and every join/groupBy hashes longs
    # instead of strings. Labels are reconstructed only for the final
    # 50-row presentation.
    pairs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    # ONE materialization: the degree-annotated edge list is everything
    # the iterations probe, so checkpoint it once (truncating the
    # distinct+union lineage) instead of recomputing the edges+deg
    # shuffle inside every iteration's plan.
    contrib_base = edges.join(deg, "src").repartition("src").localCheckpoint()
    # every node of the undirected graph appears as a src
    nodes = contrib_base.select(F.col("src").alias("v")).distinct()
    n = nodes.count()  # one scalar to the driver; everything else stays distributed

    base_units = ((_D_DEN - _D_NUM) * _GRID // _D_DEN) // n  # (1-d)/n on the grid

    # The rank vector is |nodes| rows -- tiny next to the edge list --
    # so each iteration BROADCASTS it into the edge scan and the only
    # shuffle is the map-side-combined groupBy(dst). At a scale where
    # the node set itself outgrows broadcast, drop the hint and the
    # pre-partitioned contrib_base turns this into a co-located join.
    ranks = nodes.select("v", F.lit(_GRID // n).cast("long").alias("u"))
    # per-iteration reducers sized to the edge count (the groupBy(dst)
    # is the only shuffle per iteration; session-default reducer counts
    # pay pure scheduling overhead on small working sets, and a 100 TB
    # edge list gets the session setting back)
    from fantasy_premier_league_spark.functions import sized_loop_partitions

    broadcast_vectors = n <= _BROADCAST_NODE_CAP
    with sized_loop_partitions(spark, contrib_base.count()):
        for i in range(_ITERS):
            ranks = _pagerank_iteration(
                contrib_base, nodes, ranks, base_units, broadcast_vectors
            )
            if (i + 1) % 2 == 0 and i + 1 < _ITERS:
                ranks = ranks.localCheckpoint()  # truncate lineage growth
        # materialize the last iteration INSIDE the scope: the caller's
        # action would otherwise run the tail shuffles under the
        # restored session conf (conf is read at execution, not at
        # DataFrame construction); the final top-50 is then a
        # TakeOrdered over the checkpointed vector
        ranks = ranks.localCheckpoint()

    label = F.when(
        F.col("v") % 2 == 0, F.concat(F.lit("c"), (F.col("v") / 2).cast("long"))
    ).otherwise(F.concat(F.lit("s"), ((F.col("v") - 1) / 2).cast("long")))
    return (
        ranks.select(label.alias("node"), F.col("u").alias("rank_units"))
        .orderBy(F.col("rank_units").desc(), "node")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Triangle counting over the co-purchase graph (parts appearing on the
# same order are adjacent), with DEGREE-ORDERED EDGE ORIENTATION -- the
# standard fix for "the curse of the last reducer" (Suri &
# Vassilvitskii, WWW'11): orienting every edge from its lower-(degree,
# id) endpoint to the higher one bounds any node's oriented out-degree
# by O(sqrt(m)), so the wedge self-join's per-key fan-out -- the step
# that is quadratic in the hottest node's degree if done naively -- is
# capped no matter how skewed the raw degree distribution is. Each
# triangle is then counted exactly once: it has exactly one wedge at
# its lowest-ranked vertex, closed by the oriented edge between the
# other two.
#
# Scale shape: pair generation joins lineitem to itself ON ORDERKEY
# (per-order fan-out bounded by order size, ~7 lines in TPC-H data --
# never a hot-key explosion); dedup + degree + orientation are hash
# aggregates; the wedge join and the closing join are equality hash
# joins on (src) and (v, w). No theta joins, no driver traffic.
#
# The DuckDB oracle brute-forces the same canonical (a<b<c) triangles
# with a three-way edge join -- tractable at gate scale, and the
# orientation trick provably enumerates the identical set.
# ---------------------------------------------------------------------------


@register(
    "graph_triangle_counts",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
    ),
    t AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    x AS (
      SELECT a AS node FROM t
      UNION ALL SELECT b FROM t
      UNION ALL SELECT c FROM t
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM x GROUP BY node ORDER BY n_triangles DESC, node LIMIT 20
    """,
)
def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triangle_counts_plan(spark, sf_dir)


def triangle_counts_plan(
    spark: SparkSession,
    sf_dir: str,
    cache_edges: bool = True,
    node_mode: str = "explode",
) -> DataFrame:
    """The registered query's full plan with the two r16 stage-study
    knobs exposed (the study's numbers are in OPTIMIZATION_r17.md).

    Defaults flipped in r17 after the study priced the pre-r17 shape
    (cache_edges=False, node_mode="union") at 1.9x the fixed one at
    sf0.1 (9.06 -> 4.80 s end-to-end): the union-mode node expansion
    re-ran the wedge+closing enumeration 2.18x (three plan branches,
    partially deduped by ReuseExchange), and the uncached edge subtree
    ran ~2x inside the orientation action. Same results, same oracle --
    only the physical plan changed. At 100 TB the explode form matters
    more, not less: triplicating the wedge join there triplicates the
    dominant shuffle."""
    small = _copurchase_is_small(spark, sf_dir)
    triangles = _oriented_triangles(
        _copurchase_edges(spark, sf_dir, small), small, cache_edges
    )
    return _triangle_top_nodes(triangles, node_mode)


def _triangle_nodes(triangles: DataFrame, mode: str = "union") -> DataFrame:
    """Per-triangle vertex expansion (3 node rows per triangle).

    mode="union" (the pre-r17 shape) references the `triangles` plan in
    THREE unionByName branches -- the wedge+closing join subtree appears
    three times in the physical plan, and only ReuseExchange-level reuse
    mitigates the triplication; mode="explode" emits the same three rows
    from ONE pass via explode(array(a, v, w)) -- a JVM-side Generate,
    no Python. The r16 stage study priced both (VERDICT r16 task #5:
    check specifically for hidden re-execution)."""
    if mode == "union":
        return (
            triangles.select(F.col("a").alias("node"))
            .unionByName(triangles.select(F.col("v").alias("node")))
            .unionByName(triangles.select(F.col("w").alias("node")))
        )
    return triangles.select(
        F.explode(F.array("a", "v", "w")).alias("node")
    )


def _triangle_top_nodes(triangles: DataFrame, node_mode: str = "union") -> DataFrame:
    return (
        _triangle_nodes(triangles, node_mode)
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), "node")
        .limit(20)
    )


def _copurchase_is_small(spark: SparkSession, sf_dir: str) -> bool:
    """One parquet-metadata count decides the whole query's join
    strategy: below the cap every join in the triangle path is
    shuffle_hash (sort-free); above it all are unhinted so AQE can
    fall back to spillable sort-merge (a forced hash build dies with
    "cannot acquire memory" at sf10 density)."""
    rows = load_table(spark, sf_dir, "lineitem").count()
    return rows <= _TRI_HINT_CAP


def _hinter(small: bool):
    return (lambda df: df.hint("shuffle_hash")) if small else (lambda df: df)


def _copurchase_edges(spark: SparkSession, sf_dir: str, small: bool = True) -> DataFrame:
    """Canonical (u < v) part co-purchase edges, one per distinct pair."""
    hint = _hinter(small)
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("v"))
    return (
        a.join(hint(b), "o")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )


_TRI_HINT_CAP = 5_000_000  # oriented edges; above this, hash builds OOM


def _oriented_triangles(
    edges: DataFrame, small: bool = True, cache_edges: bool = False
) -> DataFrame:
    """Triangles (a, v, w) of a canonical edge list via degree-ordered
    orientation: each counted once at its lowest-(degree, id) vertex.

    Join strategy is size-conditional, same pattern as the PageRank
    broadcast cap: below _TRI_HINT_CAP oriented edges the wedge and
    closing joins carry shuffle_hash hints (sort-free, ~10x faster at
    gate scale); above it they are left UNHINTED so AQE can degrade to
    sort-merge -- a forced hash build died at sf10 with "cannot
    acquire memory to build hash relation" (hash builds are not
    spillable), and the wedge spill volume there also demonstrates why
    DOULION is the tier that actually runs at that density.

    cache_edges: the `edges` plan feeds BOTH the degree aggregate and
    the rank-annotation join, so inside the single orientation action
    its subtree (lineitem distinct + per-order self-join + pair
    distinct) appears twice; True localCheckpoints it first so the pair
    generation runs once. Priced by the r16 stage study
    (VERDICT r16 task #5 -- the uncached-intermediate-consumed-twice
    class the t16 study found in the state sink)."""
    if cache_edges:
        edges = edges.localCheckpoint()
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # rank packs (degree, id) into one comparable long; both < 2^31
    rank = (F.col("deg") * F.lit(1 << 32) + F.col("node")).alias("rank")
    ranked = deg.select("node", rank)
    # orientation: src = lower-ranked endpoint; carry both ranks so the
    # wedge join never re-derives them
    ru = ranked.select(F.col("node").alias("u"), F.col("rank").alias("rank_u"))
    rv = ranked.select(F.col("node").alias("v"), F.col("rank").alias("rank_v"))
    hint = _hinter(small)
    withranks = edges.join(hint(ru), "u").join(hint(rv), "v")
    oriented = withranks.select(
        F.when(F.col("rank_u") < F.col("rank_v"), F.col("u"))
        .otherwise(F.col("v"))
        .alias("src"),
        F.when(F.col("rank_u") < F.col("rank_v"), F.col("v"))
        .otherwise(F.col("u"))
        .alias("dst"),
        F.greatest("rank_u", "rank_v").alias("rank_dst"),
    ).localCheckpoint()  # reused by the wedge AND closing joins
    w1 = oriented.select(
        "src", F.col("dst").alias("v"), F.col("rank_dst").alias("rank_v")
    )
    w2 = oriented.select(
        "src", F.col("dst").alias("w"), F.col("rank_dst").alias("rank_w")
    )
    wedges = w1.join(hint(w2), "src").filter(
        F.col("rank_v") < F.col("rank_w")
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    return wedges.join(hint(closing), ["v", "w"]).select(
        F.col("src").alias("a"), "v", "w"
    )


# ---------------------------------------------------------------------------
# DOULION (Tsourakakis et al., KDD'09): the APPROXIMATE tier of triangle
# counting for when even orientation-bounded exact enumeration is too
# expensive -- sparsify the graph by keeping each edge independently
# with probability p, count exactly on the sample, scale by 1/p^3
# (each triangle survives with p^3). Wedge work drops by ~1/p^2 ~16x at
# p=1/4. The coin flip is a PORTABLE HASH of the edge key, not random():
# the same edges are kept on any cluster and in the DuckDB twin, so the
# estimator itself -- sample size, sampled count, and scaled estimate --
# is exactly differential-gated, the same measure-the-approximation
# pattern as ann_lsh_recall and dedup_minhash_accuracy.
# ---------------------------------------------------------------------------

_DOULION_MOD = 4  # keep-probability p = 1/4


@register(
    "graph_triangle_doulion",
    oracle=f"""
    WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    alle AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
    ),
    e AS (
      SELECT u, v FROM alle
      WHERE {md5_hash_sql("u || ':' || v")}
            % {_DOULION_MOD} = 0
    ),
    t AS (
      SELECT count(*) AS n
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS sampled_edges,
           CAST(n AS BIGINT) AS sampled_triangles,
           CAST(n * {_DOULION_MOD ** 3} AS BIGINT) AS est_triangles
    FROM t
    """,
)
def graph_triangle_doulion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the pre-sampling edge build is full-sized: same size-conditional
    # strategy as the exact path; the post-sampling triangle join is
    # 1/p of it and inherits the same (conservative) decision
    small = _copurchase_is_small(spark, sf_dir)
    edges = _copurchase_edges(spark, sf_dir, small)
    keep = (
        F.pmod(md5_hash(F.concat_ws(":", F.col("u"), F.col("v"))), F.lit(_DOULION_MOD))
        == 0
    )
    # r17: materialize the sampled edge list ONCE -- it previously fed
    # the sampled_edges count, the degree aggregate, and the rank join
    # as three re-executions of the full edge build + sample filter
    # (the same uncached-intermediate class the r17 triangle study
    # priced at ~2x on the exact path); the checkpoint is 1/p of the
    # edge list, strictly smaller than the orientation checkpoint the
    # enumeration already keeps
    sampled = edges.filter(keep).localCheckpoint()
    triangles = _oriented_triangles(sampled, small)
    return sampled.agg(F.count("*").alias("sampled_edges")).crossJoin(
        triangles.agg(
            F.count("*").alias("sampled_triangles"),
            (F.count("*") * _DOULION_MOD**3).alias("est_triangles"),
        )
    )
