"""Seeded differential query grammar (round 13).

Every registered query is a HAND-CHOSEN plan with a hand-written
oracle; this module closes the complementary gap: machine-generated
filter/group/aggregate queries built SIMULTANEOUSLY as a PySpark
DataFrame plan and as DuckDB SQL from one random draw, so the
DataFrame-API semantics themselves (predicate typing, string/timestamp
comparison coercion, grouped vs global aggregation, distinct counts,
cent-grid sums) get differential coverage no curated list reaches.

Generation is a pure function of the seed (`random.Random(seed)`, no
ambient entropy), so every CI run re-checks the identical query set
and a failure reproduces from its seed alone.

Cross-engine value rules (the repo's standing conventions,
tests/oracle_harness.py + SURVEY §5): sums only on the integer cent
grid (CAST(round(x*100) AS BIGINT), summed as BIGINT on both engines),
min/max allowed directly on DOUBLE (order-insensitive), counts BIGINT
both sides, timestamps compared against shared ISO literals.
"""

from __future__ import annotations

import random
import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# value domains sampled by predicates -- plausible TPC-H ranges so a
# fixed fraction of draws selects a non-trivial row subset
_TABLES = {
    "lineitem": {
        "num": {
            "l_quantity": (1, 50),
            "l_extendedprice": (1000, 80000),
            "l_discount": (0.0, 0.1),
            "l_tax": (0.0, 0.08),
        },
        "str": {
            "l_returnflag": ["A", "N", "R"],
            "l_linestatus": ["O", "F"],
        },
        "ts": {"l_shipdate": (1995, 1998)},
        "keys": ["l_returnflag", "l_linestatus", "l_linenumber"],
        "cents": ["l_extendedprice", "l_quantity"],
        "distinct": ["l_orderkey", "l_suppkey", "l_partkey"],
    },
    "orders": {
        "num": {"o_totalprice": (10000, 400000)},
        "str": {
            "o_orderstatus": ["O", "F", "P"],
            "o_orderpriority": [
                "1-URGENT", "2-HIGH", "3-MEDIUM",
                "4-NOT SPECIFIED", "5-LOW",
            ],
        },
        "ts": {"o_orderdate": (1993, 1997)},
        "keys": ["o_orderstatus", "o_orderpriority"],
        "cents": ["o_totalprice"],
        "distinct": ["o_custkey"],
    },
}

_OPS = ["<", "<=", ">", ">="]


def _conj(cols: list):
    """AND-fold a non-empty list of Column predicates."""
    cond = cols[0]
    for c in cols[1:]:
        cond = cond & c
    return cond


def _predicates(rng: random.Random, spec: dict) -> tuple[list, list[str]]:
    """1-3 AND-ed predicates as (DataFrame Column builder, SQL text)."""
    cols, sqls = [], []
    for _ in range(rng.randint(1, 3)):
        kind = rng.choice(["num", "str", "ts"])
        if kind == "num":
            col, (lo, hi) = rng.choice(sorted(spec["num"].items()))
            op = rng.choice(_OPS)
            if isinstance(lo, float):
                lit = round(rng.uniform(lo, hi), 2)
            else:
                lit = rng.randint(lo, hi)
            cmp = {
                "<": F.col(col) < lit,
                "<=": F.col(col) <= lit,
                ">": F.col(col) > lit,
                ">=": F.col(col) >= lit,
            }[op]
            cols.append(cmp)
            sqls.append(f"{col} {op} {lit}")
        elif kind == "str":
            col, domain = rng.choice(sorted(spec["str"].items()))
            val = rng.choice(domain)
            if rng.random() < 0.3:
                cols.append(F.col(col) != val)
                sqls.append(f"{col} <> '{val}'")
            else:
                cols.append(F.col(col) == val)
                sqls.append(f"{col} = '{val}'")
        else:
            col, (y0, y1) = rng.choice(sorted(spec["ts"].items()))
            lit = f"{rng.randint(y0, y1)}-{rng.randint(1, 12):02d}-01"
            if rng.random() < 0.5:
                cols.append(F.col(col) >= lit)
                sqls.append(f"{col} >= TIMESTAMP '{lit} 00:00:00'")
            else:
                cols.append(F.col(col) < lit)
                sqls.append(f"{col} < TIMESTAMP '{lit} 00:00:00'")
    return cols, sqls


def _aggregates(rng: random.Random, spec: dict) -> tuple[list, list[str]]:
    """1-3 aggregate expressions under the cross-engine value rules."""
    picks = rng.sample(["cnt", "sum_cents", "min", "max", "cntd"],
                       rng.randint(1, 3))
    aggs, sqls = [], []
    for i, p in enumerate(picks):
        alias = f"a{i}"
        if p == "cnt":
            aggs.append(F.count("*").alias(alias))
            sqls.append(f"CAST(count(*) AS BIGINT) AS {alias}")
        elif p == "sum_cents":
            col = rng.choice(spec["cents"])
            # coalesce(0): a selective filter may leave a group (or the
            # global aggregate) empty -- SUM is NULL on both engines,
            # but pinning 0 keeps the int64 dtype on the pandas path
            aggs.append(
                F.coalesce(
                    F.sum(F.round(F.col(col) * 100).cast("long")), F.lit(0)
                ).alias(alias)
            )
            sqls.append(
                f"CAST(coalesce(sum(CAST(round({col} * 100) AS BIGINT)), 0)"
                f" AS BIGINT) AS {alias}"
            )
        elif p in ("min", "max"):
            col = rng.choice(sorted(spec["num"]))
            fn = F.min if p == "min" else F.max
            aggs.append(fn(F.col(col)).alias(alias))
            sqls.append(f"{p}({col}) AS {alias}")
        else:
            col = rng.choice(spec["distinct"])
            aggs.append(F.countDistinct(F.col(col)).alias(alias))
            sqls.append(f"CAST(count(DISTINCT {col}) AS BIGINT) AS {alias}")
    return aggs, sqls


def draw_case(seed: int) -> dict:
    """Pure seed -> BOTH sides of the case from ONE draw sequence, so
    the DataFrame plan and the SQL text cannot fall out of lockstep.
    Column expressions are lazy (no session needed at draw time)."""
    rng = random.Random(seed)
    table = rng.choice(sorted(_TABLES))
    spec = _TABLES[table]
    pred_cols, pred_sql = _predicates(rng, spec)
    n_keys = rng.choice([0, 1, 1, 2])  # bias toward grouped shapes
    keys = rng.sample(spec["keys"], n_keys)
    agg_cols, agg_sql = _aggregates(rng, spec)
    sel = (", ".join(keys) + ", " if keys else "") + ", ".join(agg_sql)
    group = f" GROUP BY {', '.join(keys)}" if keys else ""
    sql = (
        f"SELECT {sel} FROM {table} "
        f"WHERE {' AND '.join(pred_sql)}{group}"
    )
    return {
        "table": table,
        "keys": keys,
        "pred_cols": pred_cols,
        "agg_cols": agg_cols,
        "sql": sql,
    }


def build_spark(spark: SparkSession, sf_dir: str, case: dict) -> DataFrame:
    """Realize a drawn case as the DataFrame plan."""
    df = spark.read.parquet(f"{sf_dir}/{case['table']}.parquet")
    cond = _conj(case["pred_cols"])
    filtered = df.filter(cond)
    if case["keys"]:
        return filtered.groupBy(*case["keys"]).agg(*case["agg_cols"])
    return filtered.agg(*case["agg_cols"])


def draw_join_case(seed: int) -> dict:
    """Seeded orders ⋈ lineitem case: one draw sequence yields the
    join type, per-side predicates, group keys, and aggregates for
    BOTH the DataFrame plan and the SQL text.

    Left-join value rule: aggregates come only from the LEFT (orders)
    side plus count(lineitem-key), so null-extended rows contribute
    identically on both engines (count skips NULL; no arithmetic ever
    touches a null-extended right column)."""
    rng = random.Random(10_000 + seed)
    how = rng.choice(["inner", "left"])
    o_spec, l_spec = _TABLES["orders"], _TABLES["lineitem"]
    o_cols, o_sql = _predicates(rng, o_spec)
    l_cols, l_sql = _predicates(rng, l_spec)
    keys = rng.sample(o_spec["keys"], rng.choice([1, 1, 2]))
    aggs, agg_sql = [], []
    # count of matched lineitem rows: NULL-skipping on both engines
    aggs.append(F.count(F.col("l_orderkey")).alias("n_items"))
    agg_sql.append("CAST(count(l.l_orderkey) AS BIGINT) AS n_items")
    aggs.append(F.count("*").alias("n_rows"))
    agg_sql.append("CAST(count(*) AS BIGINT) AS n_rows")
    cents = rng.choice(o_spec["cents"])
    aggs.append(
        F.coalesce(
            F.sum(F.round(F.col(cents) * 100).cast("long")), F.lit(0)
        ).alias("sum_cents")
    )
    agg_sql.append(
        f"CAST(coalesce(sum(CAST(round(o.{cents} * 100) AS BIGINT)), 0)"
        " AS BIGINT) AS sum_cents"
    )
    on_text = " AND ".join(f"o.{p}" for p in o_sql)
    if how == "inner":
        # inner: lineitem predicates are plain WHERE conjuncts
        join_sql = (
            f"FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
            f"WHERE {on_text} AND {' AND '.join(f'l.{p}' for p in l_sql)}"
        )
    else:
        # left: right-side predicates must live in the ON clause (a
        # WHERE conjunct on the right column would silently turn the
        # join inner -- exactly the semantic fork worth fuzzing)
        join_sql = (
            f"FROM orders o LEFT JOIN lineitem l ON "
            f"o.o_orderkey = l.l_orderkey AND "
            f"{' AND '.join(f'l.{p}' for p in l_sql)} WHERE {on_text}"
        )
    sel = ", ".join(f"o.{k}" for k in keys) + ", " + ", ".join(agg_sql)
    group = ", ".join(f"o.{k}" for k in keys)
    return {
        "how": how,
        "keys": keys,
        "o_pred_cols": o_cols,
        "l_pred_cols": l_cols,
        "agg_cols": aggs,
        "sql": f"SELECT {sel} {join_sql} GROUP BY {group}",
    }


def draw_window_case(seed: int) -> dict:
    """Seeded window-function case over filtered lineitem.

    Determinism rules: ROW-frame functions (row_number, running sum,
    lag) order by a TOTAL order -- the value column plus the unique
    (l_orderkey, l_linenumber) suffix -- so the frame contents are
    identical on both engines; rank/dense_rank deliberately order by
    the value column ALONE, exercising tie semantics (tied rows share
    a rank regardless of their physical order)."""
    rng = random.Random(20_000 + seed)
    spec = _TABLES["lineitem"]
    pred_cols, pred_sql = _predicates(rng, spec)
    part = rng.choice(["l_returnflag", "l_linestatus"])
    val = rng.choice(spec["cents"])
    cents = F.round(F.col(val) * 100).cast("long")
    cents_sql = f"CAST(round({val} * 100) AS BIGINT)"
    total_order = [cents.asc(), F.col("l_orderkey").asc(),
                   F.col("l_linenumber").asc()]
    total_order_sql = f"{cents_sql}, l_orderkey, l_linenumber"
    w_rows = Window.partitionBy(part).orderBy(*total_order)
    w_ties = Window.partitionBy(part).orderBy(cents.asc())
    picks = rng.sample(["row_number", "run_sum", "lag", "rank", "dense_rank"],
                       rng.randint(2, 3))
    out_cols, out_sql = [], []
    for i, p in enumerate(picks):
        alias = f"w{i}"
        if p == "row_number":
            out_cols.append(F.row_number().over(w_rows).alias(alias))
            out_sql.append(
                f"CAST(row_number() OVER (PARTITION BY {part} ORDER BY "
                f"{total_order_sql}) AS INTEGER) AS {alias}"
            )
        elif p == "run_sum":
            out_cols.append(
                F.sum(cents)
                .over(w_rows.rowsBetween(Window.unboundedPreceding, 0))
                .alias(alias)
            )
            out_sql.append(
                f"CAST(sum({cents_sql}) OVER (PARTITION BY {part} ORDER BY "
                f"{total_order_sql} ROWS BETWEEN UNBOUNDED PRECEDING AND "
                f"CURRENT ROW) AS BIGINT) AS {alias}"
            )
        elif p == "lag":
            out_cols.append(
                F.lag(cents, 1, 0).over(w_rows).alias(alias)
            )
            out_sql.append(
                f"CAST(coalesce(lag({cents_sql}, 1) OVER (PARTITION BY "
                f"{part} ORDER BY {total_order_sql}), 0) AS BIGINT)"
                f" AS {alias}"
            )
        elif p == "rank":
            out_cols.append(F.rank().over(w_ties).alias(alias))
            out_sql.append(
                f"CAST(rank() OVER (PARTITION BY {part} ORDER BY "
                f"{cents_sql}) AS INTEGER) AS {alias}"
            )
        else:
            out_cols.append(F.dense_rank().over(w_ties).alias(alias))
            out_sql.append(
                f"CAST(dense_rank() OVER (PARTITION BY {part} ORDER BY "
                f"{cents_sql}) AS INTEGER) AS {alias}"
            )
    sql = (
        f"SELECT l_orderkey, l_linenumber, {part}, "
        + ", ".join(out_sql)
        + f" FROM lineitem WHERE {' AND '.join(pred_sql)}"
    )
    return {
        "part": part,
        "pred_cols": pred_cols,
        "out_cols": out_cols,
        "sql": sql,
    }


def build_window_spark(spark: SparkSession, sf_dir: str, case: dict) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cond = _conj(case["pred_cols"])
    return df.filter(cond).select(
        "l_orderkey", "l_linenumber", case["part"], *case["out_cols"]
    )


def draw_null_case(seed: int) -> dict:
    """Seeded NULL-semantics case: the corpus carries no NULLs, so the
    classic cross-engine divergence class (NULL group keys, null-
    skipping aggregates, coalesce defaults, distinct-over-nullable)
    would otherwise go untested. NULLs are INJECTED deterministically
    with nullif(col, value) -- same expression both engines -- and the
    query then groups BY the nullable key (the NULL group is a real
    group in both dialects) and aggregates a second nullable measure."""
    rng = random.Random(30_000 + seed)
    table = rng.choice(sorted(_TABLES))
    spec = _TABLES[table]
    pred_cols, pred_sql = _predicates(rng, spec)
    # both tables carry exactly two string columns; one becomes the
    # nullable group key, the other the nullable measure
    (kcol, kdom), (mcol, mdom) = rng.sample(sorted(spec["str"].items()), 2)
    kv, mv = rng.choice(kdom), rng.choice(mdom)
    cents = rng.choice(spec["cents"])
    key = F.nullif(F.col(kcol), F.lit(kv)).alias("k")
    measure = F.nullif(F.col(mcol), F.lit(mv))
    aggs = [
        F.count("*").alias("n_rows"),
        F.count(measure).alias("n_m"),  # null-skipping count
        F.countDistinct(measure).alias("n_m_distinct"),
        F.coalesce(
            F.sum(F.round(F.col(cents) * 100).cast("long")), F.lit(0)
        ).alias("sum_cents"),
        F.coalesce(F.max(measure), F.lit("-")).alias("max_m"),
    ]
    sql = f"""
    SELECT nullif({kcol}, '{kv}') AS k,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(nullif({mcol}, '{mv}')) AS BIGINT) AS n_m,
           CAST(count(DISTINCT nullif({mcol}, '{mv}')) AS BIGINT)
             AS n_m_distinct,
           CAST(coalesce(sum(CAST(round({cents} * 100) AS BIGINT)), 0)
             AS BIGINT) AS sum_cents,
           coalesce(max(nullif({mcol}, '{mv}')), '-') AS max_m
    FROM {table} WHERE {' AND '.join(pred_sql)}
    GROUP BY nullif({kcol}, '{kv}')
    """
    return {
        "table": table,
        "pred_cols": pred_cols,
        "key": key,
        "aggs": aggs,
        "sql": sql,
    }


def build_null_spark(spark: SparkSession, sf_dir: str, case: dict) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{case['table']}.parquet")
    cond = _conj(case["pred_cols"])
    return df.filter(cond).groupBy(case["key"]).agg(*case["aggs"])


def draw_topk_case(seed: int) -> dict:
    """Seeded HAVING + ORDER BY + LIMIT case: grouped aggregates with a
    post-aggregation count gate and a deterministic top-k cut. The
    order is TOTAL by construction (the count, then the group keys, a
    unique suffix), so the LIMIT boundary is identical on both engines
    -- ties at the cut are the classic top-k divergence and a total
    order is the only correct answer to them."""
    rng = random.Random(60_000 + seed)
    table = rng.choice(sorted(_TABLES))
    spec = _TABLES[table]
    pred_cols, pred_sql = _predicates(rng, spec)
    keys = rng.sample(spec["keys"], rng.choice([1, 1, 2]))
    agg_cols, agg_sql = _aggregates(rng, spec)
    # the gate/order column: always lead with count(*)
    agg_cols = [F.count("*").alias("n")] + agg_cols
    agg_sql = ["CAST(count(*) AS BIGINT) AS n"] + agg_sql
    h = rng.randint(2, 20)
    k = rng.randint(3, 10)
    sel = ", ".join(keys) + ", " + ", ".join(agg_sql)
    order = "n DESC, " + ", ".join(keys)
    sql = (
        f"SELECT {sel} FROM {table} WHERE {' AND '.join(pred_sql)} "
        f"GROUP BY {', '.join(keys)} HAVING count(*) >= {h} "
        f"ORDER BY {order} LIMIT {k}"
    )
    return {
        "table": table,
        "keys": keys,
        "pred_cols": pred_cols,
        "agg_cols": agg_cols,
        "having": h,
        "k": k,
        "sql": sql,
    }


def build_topk_spark(spark: SparkSession, sf_dir: str, case: dict) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{case['table']}.parquet")
    cond = _conj(case["pred_cols"])
    grouped = df.filter(cond).groupBy(*case["keys"]).agg(*case["agg_cols"])
    return (
        grouped.filter(F.col("n") >= case["having"])
        .orderBy(F.desc("n"), *case["keys"])
        .limit(case["k"])
    )


def draw_expr_case(seed: int) -> dict:
    """Seeded scalar-expression case: per-row computed columns over a
    filtered scan, pinning cross-engine expression semantics (both
    engines: 1-based substring, character length, UTC timestamp
    parts). Deliberately EXCLUDED from the menu, with the divergence
    named: round() at a ties digit (Spark HALF_UP vs DuckDB's
    half-even on doubles) and concat() over NULL (Spark propagates,
    DuckDB ignores) -- the repo's value rules route around both (the
    6-dp `rounded` grid on derived values; `||` / concat_ws on
    non-null columns only)."""
    rng = random.Random(50_000 + seed)
    table = rng.choice(sorted(_TABLES))
    spec = _TABLES[table]
    pred_cols, pred_sql = _predicates(rng, spec)
    strcols = sorted(spec["str"])
    tscol = sorted(spec["ts"])[0]
    key = "l_orderkey" if table == "lineitem" else "o_orderkey"
    menu = ["substr", "upper", "length", "ts_part", "concat"]
    picks = rng.sample(menu, rng.randint(2, 3))
    out_cols, out_sql = [], []
    for i, p in enumerate(picks):
        alias = f"e{i}"
        if p == "substr":
            col = rng.choice(strcols)
            k = rng.randint(1, 4)
            out_cols.append(F.substring(F.col(col), 1, k).alias(alias))
            out_sql.append(f"substr({col}, 1, {k}) AS {alias}")
        elif p == "upper":
            col = rng.choice(strcols)
            fn = rng.choice(["upper", "lower"])
            out_cols.append(
                (F.upper if fn == "upper" else F.lower)(F.col(col)).alias(alias)
            )
            out_sql.append(f"{fn}({col}) AS {alias}")
        elif p == "length":
            col = rng.choice(strcols)
            out_cols.append(F.length(F.col(col)).alias(alias))
            out_sql.append(f"CAST(length({col}) AS INTEGER) AS {alias}")
        elif p == "ts_part":
            part = rng.choice(["year", "month", "day"])
            fn = {"year": F.year, "month": F.month, "day": F.day}[part]
            out_cols.append(fn(F.col(tscol)).alias(alias))
            out_sql.append(
                f"CAST({part}({tscol}) AS INTEGER) AS {alias}"
            )
        else:
            c1, c2 = rng.sample(strcols, 2)  # both tables carry two
            out_cols.append(
                F.concat_ws("|", F.col(c1), F.col(c2)).alias(alias)
            )
            out_sql.append(f"{c1} || '|' || {c2} AS {alias}")
    sql = (
        f"SELECT {key}, " + ", ".join(out_sql)
        + f" FROM {table} WHERE {' AND '.join(pred_sql)}"
    )
    return {
        "table": table,
        "key": key,
        "pred_cols": pred_cols,
        "out_cols": out_cols,
        "sql": sql,
    }


def build_expr_spark(spark: SparkSession, sf_dir: str, case: dict) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{case['table']}.parquet")
    cond = _conj(case["pred_cols"])
    return df.filter(cond).select(case["key"], *case["out_cols"])


_SETOPS = {
    # DataFrame-method name -> SQL connective; the bag/set split is the
    # point: union() is UNION ALL in DataFrame-speak, distinct() makes
    # it set-UNION, intersect/except each have a bag (ALL) twin
    "union_all": "UNION ALL",
    "union_distinct": "UNION",
    "intersect": "INTERSECT",
    "intersect_all": "INTERSECT ALL",
    "except_distinct": "EXCEPT",
    "except_all": "EXCEPT ALL",
}


def draw_setop_case(seed: int) -> dict:
    """Seeded set-operation case: two differently-filtered projections
    of the same low-cardinality column pair, combined by one of the six
    set/bag operators. DataFrame methods and SQL connectives pair as in
    _SETOPS; duplicate rows are preserved through the compare (rows are
    sorted, not de-duplicated), so bag semantics are actually gated."""
    rng = random.Random(40_000 + seed)
    table = rng.choice(sorted(_TABLES))
    spec = _TABLES[table]
    proj = sorted(spec["str"])  # low-cardinality pair -> overlap likely
    a_cols, a_sql = _predicates(rng, spec)
    b_cols, b_sql = _predicates(rng, spec)
    op = rng.choice(sorted(_SETOPS))
    sel = ", ".join(proj)
    sql = (
        f"SELECT {sel} FROM {table} WHERE {' AND '.join(a_sql)} "
        f"{_SETOPS[op]} "
        f"SELECT {sel} FROM {table} WHERE {' AND '.join(b_sql)}"
    )
    return {
        "table": table,
        "proj": proj,
        "a_cols": a_cols,
        "b_cols": b_cols,
        "op": op,
        "sql": sql,
    }


def build_setop_spark(spark: SparkSession, sf_dir: str, case: dict) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{case['table']}.parquet")

    def side(cols):
        c = cols[0]
        for x in cols[1:]:
            c = c & x
        return df.filter(c).select(*case["proj"])

    a, b = side(case["a_cols"]), side(case["b_cols"])
    return {
        "union_all": lambda: a.unionByName(b),
        "union_distinct": lambda: a.unionByName(b).distinct(),
        "intersect": lambda: a.intersect(b),
        "intersect_all": lambda: a.intersectAll(b),
        "except_distinct": lambda: a.subtract(b),
        "except_all": lambda: a.exceptAll(b),
    }[case["op"]]()


def draw_rollup_case(seed: int) -> dict:
    """Seeded multi-level aggregation case: the same filtered scan
    grouped by ROLLUP, CUBE, or an explicit GROUPING SETS list over two
    keys, with GROUPING_ID carried as a column. Both engines assign the
    same bitmask (leftmost key = most significant bit, verified in both
    dialects), and the corpus keys are NULL-free, so subtotal rows are
    unambiguous: every NULL in a key column comes from the rollup, and
    the gid column pins WHICH level each row belongs to -- the classic
    super-aggregate confusion a plain GROUP BY fuzz never reaches.

    Named divergence (machine-found, seed 6 of the first sweep): over
    an EMPTY filtered input, the SQL standard -- and DuckDB -- emit one
    grand-total row for any grouping-set list containing () (it acts as
    a global aggregate), while Spark emits NO rows at all. The oracle
    pins Spark's behavior with HAVING count(*) > 0, which is provably
    inert on non-empty inputs: every non-() group is formed from >= 1
    existing row, and the () row's count is the (positive) total."""
    rng = random.Random(70_000 + seed)
    table = rng.choice(sorted(_TABLES))
    spec = _TABLES[table]
    pred_cols, pred_sql = _predicates(rng, spec)
    k1, k2 = rng.sample(spec["keys"], 2)
    mode = rng.choice(["rollup", "cube", "grouping_sets"])
    agg_cols, agg_sql = _aggregates(rng, spec)
    if mode == "rollup":
        group = f"ROLLUP ({k1}, {k2})"
        sets = None
    elif mode == "cube":
        group = f"CUBE ({k1}, {k2})"
        sets = None
    else:
        # 2-4 distinct levels out of the cube's four; DataFrame side
        # passes the same list to groupingSets()
        levels = rng.sample([[k1, k2], [k1], [k2], []], rng.randint(2, 4))
        sets = levels
        group = "GROUPING SETS (" + ", ".join(
            "(" + ", ".join(lv) + ")" for lv in levels
        ) + ")"
    sql = (
        f"SELECT {k1}, {k2}, "
        f"CAST(GROUPING_ID({k1}, {k2}) AS BIGINT) AS gid, "
        + ", ".join(agg_sql)
        + f" FROM {table} WHERE {' AND '.join(pred_sql)} GROUP BY {group}"
        " HAVING count(*) > 0"
    )
    return {
        "table": table,
        "keys": [k1, k2],
        "mode": mode,
        "sets": sets,
        "pred_cols": pred_cols,
        "agg_cols": agg_cols,
        "sql": sql,
    }


def build_rollup_spark(spark: SparkSession, sf_dir: str, case: dict) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{case['table']}.parquet")
    cond = _conj(case["pred_cols"])
    filtered = df.filter(cond)
    k1, k2 = case["keys"]
    if case["mode"] == "rollup":
        grouped = filtered.rollup(k1, k2)
    elif case["mode"] == "cube":
        grouped = filtered.cube(k1, k2)
    else:
        grouped = filtered.groupingSets(case["sets"], k1, k2)
    return grouped.agg(F.grouping_id().alias("gid"), *case["agg_cols"])


def draw_subquery_case(seed: int) -> dict:
    """Seeded correlated-subquery case: filtered outer rows kept (or
    dropped) by an EXISTS / NOT EXISTS / IN / NOT IN subquery over the
    other table, then grouped and aggregated. The DataFrame side has no
    subquery syntax at all -- EXISTS and IN both realize as LEFT SEMI,
    their negations as LEFT ANTI -- so the axis differentially pins the
    semi/anti-join rewrite of all four SQL surface forms.

    Named exclusion: NOT IN over a subquery that can yield NULL keys is
    three-valued (one NULL empties the result set) and does NOT equal
    an anti-join; the corpus join keys are NULL-free, which is exactly
    the regime where NOT IN == LEFT ANTI holds. Injecting nullif into
    the subquery key would gate DuckDB's three-valued semantics against
    a plan Spark cannot express without the same rewrite -- out of
    scope by construction."""
    rng = random.Random(80_000 + seed)
    outer = rng.choice(sorted(_TABLES))
    inner = "lineitem" if outer == "orders" else "orders"
    o_spec, i_spec = _TABLES[outer], _TABLES[inner]
    outer_cols, outer_sql = _predicates(rng, o_spec)
    inner_cols, inner_sql = _predicates(rng, i_spec)
    # cycle rather than draw: 12 seeds -> exactly 3 of each surface
    # form (a free draw left IN entirely uncovered in the first 18)
    form = ["exists", "not_exists", "in", "not_in"][seed % 4]
    keys = rng.sample(o_spec["keys"], rng.choice([1, 1, 2]))
    okey = "o_orderkey" if outer == "orders" else "l_orderkey"
    ikey = "l_orderkey" if outer == "orders" else "o_orderkey"
    cents = rng.choice(o_spec["cents"])
    aggs = [
        F.count("*").alias("n_rows"),
        F.coalesce(
            F.sum(F.round(F.col(cents) * 100).cast("long")), F.lit(0)
        ).alias("sum_cents"),
    ]
    agg_sql = [
        "CAST(count(*) AS BIGINT) AS n_rows",
        f"CAST(coalesce(sum(CAST(round({cents} * 100) AS BIGINT)), 0)"
        " AS BIGINT) AS sum_cents",
    ]
    if form in ("exists", "not_exists"):
        neg = "NOT " if form == "not_exists" else ""
        sub = (
            f"{neg}EXISTS (SELECT 1 FROM {inner} i "
            f"WHERE i.{ikey} = t.{okey} AND {' AND '.join(inner_sql)})"
        )
    else:
        neg = "NOT " if form == "not_in" else ""
        sub = (
            f"t.{okey} {neg}IN (SELECT {ikey} FROM {inner} "
            f"WHERE {' AND '.join(inner_sql)})"
        )
    sel = ", ".join(keys) + ", " + ", ".join(agg_sql)
    sql = (
        f"SELECT {sel} FROM {outer} t "
        f"WHERE {' AND '.join(outer_sql)} AND {sub} "
        f"GROUP BY {', '.join(keys)}"
    )
    return {
        "outer": outer,
        "inner": inner,
        "okey": okey,
        "ikey": ikey,
        "form": form,
        "keys": keys,
        "outer_cols": outer_cols,
        "inner_cols": inner_cols,
        "aggs": aggs,
        "sql": sql,
    }


def build_subquery_spark(spark: SparkSession, sf_dir: str, case: dict) -> DataFrame:
    outer = spark.read.parquet(f"{sf_dir}/{case['outer']}.parquet")
    inner = spark.read.parquet(f"{sf_dir}/{case['inner']}.parquet")

    how = "left_semi" if case["form"] in ("exists", "in") else "left_anti"
    kept = outer.filter(_conj(case["outer_cols"])).join(
        inner.filter(_conj(case["inner_cols"])).select(case["ikey"]),
        on=F.col(case["okey"]) == F.col(case["ikey"]),
        how=how,
    )
    return kept.groupBy(*case["keys"]).agg(*case["aggs"])


def draw_datetime_case(seed: int) -> dict:
    """Seeded date/time-arithmetic case: per-row calendar functions
    over the table's timestamp column, compared on the DATE grid (Spark
    date_trunc returns TIMESTAMP where DuckDB returns DATE, so both
    sides cast to DATE; the calendar VALUE, not the carrier type, is
    what the axis gates). Covered: date_trunc at week/month/quarter/
    year (both engines truncate weeks to Monday), date+days, add_months
    (both clamp Jan 31 + 1 to Feb 28 rather than sticky end-of-month),
    last_day, and day-granularity datediff against a drawn literal.

    Named exclusions, each a real dialect fork routed around by
    construction: dayofweek numbering (Spark 1=Sunday vs DuckDB
    dayofweek 0=Sunday / isodow 1=Monday), months_between (Spark is
    fractional 31-day-month arithmetic, DuckDB datediff('month')
    counts boundary crossings), and weekofyear edge years."""
    rng = random.Random(90_000 + seed)
    table = rng.choice(sorted(_TABLES))
    spec = _TABLES[table]
    pred_cols, pred_sql = _predicates(rng, spec)
    tscol, (y0, y1) = sorted(spec["ts"].items())[0]
    key = "l_orderkey" if table == "lineitem" else "o_orderkey"
    d = F.col(tscol).cast("date")
    d_sql = f"CAST({tscol} AS DATE)"
    menu = ["trunc", "add_days", "add_months", "last_day", "datediff"]
    picks = rng.sample(menu, rng.randint(2, 3))
    out_cols, out_sql = [], []
    for i, p in enumerate(picks):
        alias = f"d{i}"
        if p == "trunc":
            unit = rng.choice(["week", "month", "quarter", "year"])
            out_cols.append(
                F.date_trunc(unit, F.col(tscol)).cast("date").alias(alias)
            )
            out_sql.append(
                f"CAST(date_trunc('{unit}', {tscol}) AS DATE) AS {alias}"
            )
        elif p == "add_days":
            k = rng.randint(-60, 60)
            out_cols.append(F.date_add(d, k).alias(alias))
            out_sql.append(f"{d_sql} + {k} AS {alias}")
        elif p == "add_months":
            m = rng.randint(1, 11)
            out_cols.append(F.add_months(d, m).alias(alias))
            out_sql.append(
                f"CAST({d_sql} + INTERVAL {m} MONTH AS DATE) AS {alias}"
            )
        elif p == "last_day":
            out_cols.append(F.last_day(d).alias(alias))
            out_sql.append(f"last_day({d_sql}) AS {alias}")
        else:
            lit = f"{rng.randint(y0, y1)}-{rng.randint(1, 12):02d}-15"
            out_cols.append(
                F.datediff(F.lit(lit).cast("date"), d).alias(alias)
            )
            out_sql.append(
                f"CAST(datediff('day', {d_sql}, DATE '{lit}') AS INTEGER)"
                f" AS {alias}"
            )
    sql = (
        f"SELECT {key}, " + ", ".join(out_sql)
        + f" FROM {table} WHERE {' AND '.join(pred_sql)}"
    )
    return {
        "table": table,
        "key": key,
        "pred_cols": pred_cols,
        "out_cols": out_cols,
        "sql": sql,
    }


def build_datetime_spark(spark: SparkSession, sf_dir: str, case: dict) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{case['table']}.parquet")
    cond = _conj(case["pred_cols"])
    return df.filter(cond).select(case["key"], *case["out_cols"])


# the synthetic documents corpus draws its text from a fixed word
# pool; patterns drawn from the same pool keep match rates non-trivial
_DOC_WORDS = [
    "join", "filter", "scan", "merge", "window", "group",
    "sort", "stream", "table", "query", "data", "row",
]


def draw_pattern_case(seed: int) -> dict:
    """Seeded string-pattern case over the documents table: a LIKE /
    NOT LIKE / prefix / regexp-alternation predicate gates the scan,
    and a second, independent pattern is counted per group as a
    conditional aggregate -- so both the filter path and the
    projection path of pattern matching are gated. Spark's
    Column.contains / startswith are pinned to their exact SQL
    spellings (LIKE '%w%' / LIKE 'w%'); rlike vs regexp_matches agree
    on the unanchored-alternation subset used here (both are
    find-anywhere). ILIKE is deliberately absent: the corpus is
    all-lowercase, so it would gate nothing LIKE does not."""
    rng = random.Random(100_000 + seed)
    w1, w2, w3 = rng.sample(_DOC_WORDS, 3)
    kind = rng.choice(["contains", "prefix", "not_contains", "regexp"])
    if kind == "contains":
        pred = F.col("text").contains(w1)
        pred_sql = f"text LIKE '%{w1}%'"
    elif kind == "prefix":
        pred = F.col("text").startswith(w1)
        pred_sql = f"text LIKE '{w1}%'"
    elif kind == "not_contains":
        pred = ~F.col("text").contains(w1)
        pred_sql = f"text NOT LIKE '%{w1}%'"
    else:
        pred = F.col("text").rlike(f"{w1}|{w2}")
        pred_sql = f"regexp_matches(text, '{w1}|{w2}')"
    lo = rng.randint(50, 400)
    key = rng.choice(["lang", "source"])
    hit = F.col("text").contains(w3)
    aggs = [
        F.count("*").alias("n_docs"),
        F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("n_hits"),
        F.min("n_chars").alias("min_chars"),
    ]
    sql = f"""
    SELECT {key},
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN text LIKE '%{w3}%' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hits,
           CAST(min(n_chars) AS BIGINT) AS min_chars
    FROM documents WHERE {pred_sql} AND n_chars >= {lo}
    GROUP BY {key}
    """
    return {
        "key": key,
        "pred": pred,
        "lo": lo,
        "aggs": aggs,
        "sql": sql,
    }


def build_pattern_spark(spark: SparkSession, sf_dir: str, case: dict) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        df.filter(case["pred"] & (F.col("n_chars") >= case["lo"]))
        .groupBy(case["key"])
        .agg(*case["aggs"])
    )


def draw_numeric_case(seed: int) -> dict:
    """Seeded numeric-function case: per-row math over a positive
    numeric column, kept exact wherever the engines can be -- ceil/
    floor land on BIGINT, mod and floor-division run on the integer
    cent grid (all values positive, so truncating and flooring
    division agree and the sign-of-modulo fork is unreachable), and
    greatest/least compare two raw columns. The transcendental picks
    (sqrt, ln) follow the repo's standing 6-dp rounded grid for
    derived doubles; round-at-ties is the named residual risk the
    grid convention already carries fleet-wide (SURVEY §5)."""
    rng = random.Random(110_000 + seed)
    table = rng.choice(sorted(_TABLES))
    spec = _TABLES[table]
    pred_cols, pred_sql = _predicates(rng, spec)
    key = "l_orderkey" if table == "lineitem" else "o_orderkey"
    pos = rng.choice(sorted(spec["num"]))
    cents_col = rng.choice(spec["cents"])
    cents = F.round(F.col(cents_col) * 100).cast("long")
    cents_sql = f"CAST(round({cents_col} * 100) AS BIGINT)"
    menu = ["ceil", "floor", "mod", "intdiv", "sqrt6", "ln6"]
    if len(spec["num"]) >= 2:  # greatest/least needs two numeric cols
        menu.append("minmax2")
    picks = rng.sample(menu, rng.randint(2, 3))
    out_cols, out_sql = [], []
    for i, p in enumerate(picks):
        alias = f"n{i}"
        if p == "ceil":
            out_cols.append(F.ceil(F.col(pos)).cast("long").alias(alias))
            out_sql.append(f"CAST(ceil({pos}) AS BIGINT) AS {alias}")
        elif p == "floor":
            out_cols.append(F.floor(F.col(pos)).cast("long").alias(alias))
            out_sql.append(f"CAST(floor({pos}) AS BIGINT) AS {alias}")
        elif p == "mod":
            k = rng.randint(3, 17)
            out_cols.append((cents % k).alias(alias))
            out_sql.append(f"{cents_sql} % {k} AS {alias}")
        elif p == "intdiv":
            k = rng.randint(3, 17)
            out_cols.append(
                F.floor(cents / k).cast("long").alias(alias)
            )
            out_sql.append(
                f"CAST(floor({cents_sql} / {k}) AS BIGINT) AS {alias}"
            )
        elif p == "sqrt6":
            out_cols.append(F.round(F.sqrt(F.col(pos)), 6).alias(alias))
            out_sql.append(f"round(sqrt({pos}), 6) AS {alias}")
        elif p == "ln6":
            # +1 keeps the argument >= 1 even for zero-valued measures
            out_cols.append(
                F.round(F.log(F.col(pos) + 1), 6).alias(alias)
            )
            out_sql.append(f"round(ln({pos} + 1), 6) AS {alias}")
        else:
            a, b = rng.sample(sorted(spec["num"]), 2)
            fn = rng.choice(["greatest", "least"])
            out_cols.append(
                (F.greatest if fn == "greatest" else F.least)(
                    F.col(a), F.col(b)
                ).alias(alias)
            )
            out_sql.append(f"{fn}({a}, {b}) AS {alias}")
    sql = (
        f"SELECT {key}, " + ", ".join(out_sql)
        + f" FROM {table} WHERE {' AND '.join(pred_sql)}"
    )
    return {
        "table": table,
        "key": key,
        "pred_cols": pred_cols,
        "out_cols": out_cols,
        "sql": sql,
    }


def build_numeric_spark(spark: SparkSession, sf_dir: str, case: dict) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{case['table']}.parquet")
    cond = _conj(case["pred_cols"])
    return df.filter(cond).select(case["key"], *case["out_cols"])


def draw_rangejoin_case(seed: int) -> dict:
    """Seeded range-residual join case: the orders ⋈ lineitem equi key
    plus 1-2 NON-equi conditions in the ON clause -- a date offset
    (l_shipdate against o_orderdate shifted by a drawn number of days;
    both engines coerce the date arithmetic to the timestamp compare
    identically), a cross-column numeric inequality, or a drawn
    quantity band. Residuals-in-ON is the shape that separates a real
    residual-aware equi-join from a cross-join-plus-filter: for LEFT
    joins the placement is semantic (a WHERE on the right side would
    turn the join inner), and the DataFrame spelling is the composite
    join condition, not a post-filter. Aggregates follow the join
    axis's null-extension-safe rules."""
    rng = random.Random(120_000 + seed)
    how = rng.choice(["inner", "left"])
    o_spec = _TABLES["orders"]
    o_cols, o_sql = _predicates(rng, o_spec)
    keys = rng.sample(o_spec["keys"], rng.choice([1, 1, 2]))
    res_cols, res_sql = [], []
    menu = rng.sample(["date_offset", "price_ratio", "qty_band"],
                      rng.randint(1, 2))
    for p in menu:
        if p == "date_offset":
            k = rng.randint(0, 90)
            res_cols.append(
                F.col("l_shipdate")
                >= F.date_add(F.col("o_orderdate").cast("date"), k)
            )
            res_sql.append(
                f"l.l_shipdate >= CAST(o.o_orderdate AS DATE) + {k}"
            )
        elif p == "price_ratio":
            m = rng.randint(2, 20)
            res_cols.append(
                F.col("l_extendedprice") * m < F.col("o_totalprice")
            )
            res_sql.append(f"l.l_extendedprice * {m} < o.o_totalprice")
        else:
            lo = rng.randint(1, 40)
            hi = lo + rng.randint(2, 10)
            res_cols.append(F.col("l_quantity").between(lo, hi))
            res_sql.append(f"l.l_quantity BETWEEN {lo} AND {hi}")
    aggs = [
        F.count("*").alias("n_rows"),
        F.count(F.col("l_orderkey")).alias("n_items"),
        F.coalesce(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
            F.lit(0),
        ).alias("sum_cents"),
    ]
    agg_sql = [
        "CAST(count(*) AS BIGINT) AS n_rows",
        "CAST(count(l.l_orderkey) AS BIGINT) AS n_items",
        "CAST(coalesce(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)),"
        " 0) AS BIGINT) AS sum_cents",
    ]
    jt = "JOIN" if how == "inner" else "LEFT JOIN"
    sel = ", ".join(f"o.{k}" for k in keys) + ", " + ", ".join(agg_sql)
    sql = (
        f"SELECT {sel} FROM orders o {jt} lineitem l "
        f"ON o.o_orderkey = l.l_orderkey AND {' AND '.join(res_sql)} "
        f"WHERE {' AND '.join(f'o.{p}' for p in o_sql)} "
        f"GROUP BY {', '.join(f'o.{k}' for k in keys)}"
    )
    return {
        "how": how,
        "keys": keys,
        "o_pred_cols": o_cols,
        "res_cols": res_cols,
        "aggs": aggs,
        "sql": sql,
    }


def build_rangejoin_spark(spark: SparkSession, sf_dir: str, case: dict) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    cond = orders["o_orderkey"] == lineitem["l_orderkey"]
    for r in case["res_cols"]:
        cond = cond & r
    joined = orders.filter(_conj(case["o_pred_cols"])).join(
        lineitem,
        cond,
        "inner" if case["how"] == "inner" else "left_outer",
    )
    return joined.groupBy(*case["keys"]).agg(*case["aggs"])


def draw_stream_case(seed: int) -> dict:
    """Seeded stream-batch parity case: the drawn filter/group/
    aggregate runs through Structured Streaming -- a multi-file parquet
    copy drained availableNow in (at least) two micro-batches into a
    complete-mode memory sink -- and the accumulated state is compared
    against DuckDB running the same SQL as one batch. The curated
    t-tier gates hand-picked streaming shapes; this axis machine-draws
    them, so incremental state merge across micro-batches is itself
    under differential test. The aggregate menu is the incrementally-
    computable subset (count / cent-sum / min / max): DISTINCT
    aggregates are unsupported on streams by Spark, an engine
    limitation the axis documents by exclusion."""
    rng = random.Random(130_000 + seed)
    table = rng.choice(sorted(_TABLES))
    spec = _TABLES[table]
    pred_cols, pred_sql = _predicates(rng, spec)
    keys = rng.sample(spec["keys"], rng.choice([1, 1, 2]))
    aggs, agg_sql = [], []
    for i, p in enumerate(rng.sample(["cnt", "sum_cents", "min", "max"], 2)):
        alias = f"a{i}"
        if p == "cnt":
            aggs.append(F.count("*").alias(alias))
            agg_sql.append(f"CAST(count(*) AS BIGINT) AS {alias}")
        elif p == "sum_cents":
            col = rng.choice(spec["cents"])
            aggs.append(
                F.coalesce(
                    F.sum(F.round(F.col(col) * 100).cast("long")), F.lit(0)
                ).alias(alias)
            )
            agg_sql.append(
                f"CAST(coalesce(sum(CAST(round({col} * 100) AS BIGINT)), 0)"
                f" AS BIGINT) AS {alias}"
            )
        else:
            col = rng.choice(sorted(spec["num"]))
            fn = F.min if p == "min" else F.max
            aggs.append(fn(F.col(col)).alias(alias))
            agg_sql.append(f"{p}({col}) AS {alias}")
    sel = ", ".join(keys) + ", " + ", ".join(agg_sql)
    sql = (
        f"SELECT {sel} FROM {table} WHERE {' AND '.join(pred_sql)} "
        f"GROUP BY {', '.join(keys)}"
    )
    return {
        "table": table,
        "keys": keys,
        "pred_cols": pred_cols,
        "agg_cols": aggs,
        "sql": sql,
    }


# one multi-file source copy per (app, sf_dir, table) -- the axis pays
# the write once, every case reuses it. Populated under the lock: the
# cases run on a thread pool, and claim_session_tmpdir wipes the dir it
# claims, so two threads that both missed the cache would delete each
# other's in-flight write.
_STREAM_SRC_CACHE: dict[tuple[str, str, str], str] = {}
_STREAM_SRC_LOCK = threading.Lock()


def build_stream_spark(spark: SparkSession, sf_dir: str, case: dict) -> DataFrame:
    import hashlib
    import os

    from fantasy_premier_league_spark.functions.tuning import (
        claim_session_tmpdir,
        scoped_conf,
    )

    app = spark.sparkContext.applicationId
    table = case["table"]
    key = (app, sf_dir, table)
    with _STREAM_SRC_LOCK:
        if key not in _STREAM_SRC_CACHE:
            tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
            root = claim_session_tmpdir(f"fuzz_stream_{table}_{tag}", app)
            src = os.path.join(root, "src")
            spark.read.parquet(f"{sf_dir}/{table}.parquet").repartition(
                4
            ).write.parquet(src)
            _STREAM_SRC_CACHE[key] = src
        src = _STREAM_SRC_CACHE[key]
    schema = spark.read.parquet(src).schema
    cond = _conj(case["pred_cols"])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")  # 4 files -> 2 micro-batches
        .parquet(src)
    )
    agg = stream.filter(cond).groupBy(*case["keys"]).agg(*case["agg_cols"])
    qname = "fuzz_stream_" + hashlib.md5(case["sql"].encode()).hexdigest()[:10]
    with scoped_conf(spark, "spark.sql.shuffle.partitions", "8"):
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(qname)


def draw_scalarsub_case(seed: int) -> dict:
    """Seeded correlated-scalar-subquery case: each filtered outer
    order carries 1-2 scalar measures computed by a correlated
    subquery over its lineitems (count / max quantity / cent-sum).
    The DataFrame side is the textbook DECORRELATION the SQL engine
    performs internally -- pre-aggregate the inner side by the join
    key, left-join, coalesce the no-match NULLs -- so the axis gates
    that the hand rewrite and the engine's own rewrite agree row-for-
    row, including the empty-group defaults (count() of no rows is 0
    on both; max/sum of no rows is NULL, pinned by the same coalesce
    on both engines)."""
    rng = random.Random(140_000 + seed)
    o_spec, l_spec = _TABLES["orders"], _TABLES["lineitem"]
    outer_cols, outer_sql = _predicates(rng, o_spec)
    inner_cols, inner_sql = _predicates(rng, l_spec)
    measures = rng.sample(["cnt", "maxq", "sum_cents"], rng.randint(1, 2))
    inner_aggs, sub_sql = [], []
    out_names = []
    for i, m in enumerate(measures):
        alias = f"s{i}"
        out_names.append(alias)
        inner_where = " AND ".join(inner_sql)
        if m == "cnt":
            inner_aggs.append(F.count("*").alias(alias))
            sub_sql.append(
                f"coalesce((SELECT CAST(count(*) AS BIGINT) FROM lineitem l"
                f" WHERE l.l_orderkey = o.o_orderkey AND {inner_where}), 0)"
                f" AS {alias}"
            )
        elif m == "maxq":
            inner_aggs.append(F.max("l_quantity").alias(alias))
            sub_sql.append(
                f"coalesce((SELECT max(l_quantity) FROM lineitem l"
                f" WHERE l.l_orderkey = o.o_orderkey AND {inner_where}),"
                f" -1) AS {alias}"
            )
        else:
            inner_aggs.append(
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                ).alias(alias)
            )
            sub_sql.append(
                f"coalesce((SELECT CAST(sum(CAST(round(l_extendedprice *"
                f" 100) AS BIGINT)) AS BIGINT) FROM lineitem l"
                f" WHERE l.l_orderkey = o.o_orderkey AND {inner_where}), 0)"
                f" AS {alias}"
            )
    sql = (
        f"SELECT o.o_orderkey, {', '.join(sub_sql)} FROM orders o "
        f"WHERE {' AND '.join(outer_sql)}"
    )
    defaults = {"cnt": 0, "maxq": -1, "sum_cents": 0}
    return {
        "measures": measures,
        "out_names": out_names,
        "defaults": [defaults[m] for m in measures],
        "outer_cols": outer_cols,
        "inner_cols": inner_cols,
        "inner_aggs": inner_aggs,
        "sql": sql,
    }


def build_scalarsub_spark(spark: SparkSession, sf_dir: str, case: dict) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    per_order = (
        lineitem.filter(_conj(case["inner_cols"]))
        .groupBy("l_orderkey")
        .agg(*case["inner_aggs"])
    )
    joined = orders.filter(_conj(case["outer_cols"])).join(
        per_order,
        F.col("o_orderkey") == F.col("l_orderkey"),
        "left_outer",
    )
    # count() of an absent group must read 0, not the join's NULL --
    # the same default the SQL side pins with coalesce
    cols = [
        F.coalesce(F.col(name), F.lit(d)).alias(name)
        for name, d in zip(case["out_names"], case["defaults"])
    ]
    return joined.select("o_orderkey", *cols)


def draw_rangeframe_case(seed: int) -> dict:
    """Seeded RANGE-frame window case: cent-sum and row-count over a
    VALUE-based frame (RANGE BETWEEN k PRECEDING AND CURRENT ROW /
    unbounded, ordered by the cent value). Unlike the ROWS-frame axis,
    no unique suffix is needed for determinism: a range frame is
    defined by the ORDER BY value, so tied rows share one frame and
    the aggregate is order-insensitive by construction -- exactly the
    tie semantics the ROWS axis must route around, here gated
    head-on. Sums stay on the integer cent grid."""
    rng = random.Random(150_000 + seed)
    spec = _TABLES["lineitem"]
    pred_cols, pred_sql = _predicates(rng, spec)
    part = rng.choice(["l_returnflag", "l_linestatus"])
    val = rng.choice(spec["cents"])
    cents = F.round(F.col(val) * 100).cast("long")
    cents_sql = f"CAST(round({val} * 100) AS BIGINT)"
    w_base = Window.partitionBy(part).orderBy(cents.asc())
    picks = rng.sample(["bounded_sum", "unbounded_sum", "bounded_cnt"],
                       rng.randint(2, 3))
    out_cols, out_sql = [], []
    for i, p in enumerate(picks):
        alias = f"r{i}"
        if p == "bounded_sum":
            k = rng.randint(100, 100_000)
            out_cols.append(
                F.sum(cents).over(w_base.rangeBetween(-k, 0)).alias(alias)
            )
            out_sql.append(
                f"CAST(sum({cents_sql}) OVER (PARTITION BY {part} ORDER BY"
                f" {cents_sql} RANGE BETWEEN {k} PRECEDING AND CURRENT ROW)"
                f" AS BIGINT) AS {alias}"
            )
        elif p == "unbounded_sum":
            out_cols.append(
                F.sum(cents)
                .over(w_base.rangeBetween(Window.unboundedPreceding, 0))
                .alias(alias)
            )
            out_sql.append(
                f"CAST(sum({cents_sql}) OVER (PARTITION BY {part} ORDER BY"
                f" {cents_sql} RANGE BETWEEN UNBOUNDED PRECEDING AND"
                f" CURRENT ROW) AS BIGINT) AS {alias}"
            )
        else:
            k = rng.randint(100, 100_000)
            out_cols.append(
                F.count(F.lit(1))
                .over(w_base.rangeBetween(-k, 0))
                .alias(alias)
            )
            out_sql.append(
                f"CAST(count(*) OVER (PARTITION BY {part} ORDER BY"
                f" {cents_sql} RANGE BETWEEN {k} PRECEDING AND CURRENT ROW)"
                f" AS BIGINT) AS {alias}"
            )
    sql = (
        f"SELECT l_orderkey, l_linenumber, {part}, "
        + ", ".join(out_sql)
        + f" FROM lineitem WHERE {' AND '.join(pred_sql)}"
    )
    return {
        "part": part,
        "pred_cols": pred_cols,
        "out_cols": out_cols,
        "sql": sql,
    }


def build_rangeframe_spark(spark: SparkSession, sf_dir: str, case: dict) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cond = _conj(case["pred_cols"])
    return df.filter(cond).select(
        "l_orderkey", "l_linenumber", case["part"], *case["out_cols"]
    )


def draw_filteragg_case(seed: int) -> dict:
    """Seeded conditional-aggregation case: per-group aggregates gated
    by a FILTER (WHERE ...) clause on the SQL side against the
    DataFrame rewrite Spark users actually write -- count(when(p, 1))
    and sum(when(p, x)) -- plus an ungated count(*) anchor per group.
    The gating predicates are drawn from the same grammar as scan
    predicates, so the axis pins that the when()-rewrite and the
    declarative FILTER agree on empty gates (count 0, sum NULL pinned
    to 0 by the same coalesce on both engines)."""
    rng = random.Random(160_000 + seed)
    table = rng.choice(sorted(_TABLES))
    spec = _TABLES[table]
    pred_cols, pred_sql = _predicates(rng, spec)
    gate_cols, gate_sql = _predicates(rng, spec)
    gate = _conj(gate_cols)
    gate_text = " AND ".join(gate_sql)
    keys = rng.sample(spec["keys"], rng.choice([1, 1, 2]))
    cents = rng.choice(spec["cents"])
    aggs = [
        F.count("*").alias("n_all"),
        F.count(F.when(gate, 1)).alias("n_gated"),
        F.coalesce(
            F.sum(
                F.when(gate, F.round(F.col(cents) * 100).cast("long"))
            ),
            F.lit(0),
        ).alias("sum_gated"),
    ]
    sel = ", ".join(keys)
    sql = f"""
    SELECT {sel},
           CAST(count(*) AS BIGINT) AS n_all,
           CAST(count(*) FILTER (WHERE {gate_text}) AS BIGINT) AS n_gated,
           CAST(coalesce(sum(CAST(round({cents} * 100) AS BIGINT))
             FILTER (WHERE {gate_text}), 0) AS BIGINT) AS sum_gated
    FROM {table} WHERE {' AND '.join(pred_sql)}
    GROUP BY {sel}
    """
    return {
        "table": table,
        "keys": keys,
        "pred_cols": pred_cols,
        "aggs": aggs,
        "sql": sql,
    }


def build_filteragg_spark(spark: SparkSession, sf_dir: str, case: dict) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{case['table']}.parquet")
    cond = _conj(case["pred_cols"])
    return df.filter(cond).groupBy(*case["keys"]).agg(*case["aggs"])


def build_join_spark(spark: SparkSession, sf_dir: str, case: dict) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    left = orders.filter(_conj(case["o_pred_cols"]))
    right = lineitem.filter(_conj(case["l_pred_cols"]))
    # pre-filtering the right side then joining is the DataFrame-native
    # equivalent of predicates in the ON clause for BOTH join types
    joined = left.join(
        right,
        left["o_orderkey"] == right["l_orderkey"],
        "inner" if case["how"] == "inner" else "left_outer",
    )
    return joined.groupBy(*case["keys"]).agg(*case["agg_cols"])


def draw_signedzero_case(seed: int) -> dict:
    """Seeded SIGNED-ZERO cases (axis 18, round 14): each case's
    measure is the difference of two independently-gated cent sums,
    scaled down so the rounded value lands in the +/-0 half-window for
    a large fraction of groups -- the exact shape of the r13
    machine-found hazard, generated instead of curated. The oracle
    spells the sweep convention (`round(x * 1e6) / 1e6 + 0`) and the
    Spark side the `rounded()` scaled form, so the axis continuously
    pins BOTH halves: Spark's BigDecimal path never signs a zero, and
    the pin repairs DuckDB's std::round -0.0 -- checked BYTE-wise via
    signed_canonical_rows in the gate (plain compare() deliberately
    cannot see this class). An ungated full cent sum rides along as a
    BIGINT anchor so the case never passes vacuously."""
    rng = random.Random(170_000 + seed)
    table = rng.choice(sorted(_TABLES))
    spec = _TABLES[table]
    pred_cols, pred_sql = _predicates(rng, spec)
    g1_cols, g1_sql = _predicates(rng, spec)
    g2_cols, g2_sql = _predicates(rng, spec)
    keys = rng.sample(spec["keys"], rng.choice([1, 1, 2]))
    cents = rng.choice(spec["cents"])
    # divisor >> max |diff| pushes most nonzero diffs inside the
    # rounding half-window; vary the decade so some seeds also emit
    # +/-1e-6 survivors on both sides of zero
    div = rng.choice([10**9, 10**10, 10**11])
    gate1, gate2 = _conj(g1_cols), _conj(g2_cols)
    cents_int = F.round(F.col(cents) * 100).cast("long")
    s1 = F.coalesce(F.sum(F.when(gate1, cents_int)), F.lit(0).cast("long"))
    s2 = F.coalesce(F.sum(F.when(gate2, cents_int)), F.lit(0).cast("long"))
    diff = (s1 - s2).cast("double") / F.lit(float(div))
    aggs = [
        F.coalesce(F.sum(cents_int), F.lit(0).cast("long")).alias("anchor_cents"),
        (s1 - s2).alias("diff_units"),
        (F.round(diff * 1_000_000) / 1_000_000).alias("zmeasure"),
    ]
    cents_sql = f"CAST(round({cents} * 100) AS BIGINT)"
    s1_sql = f"coalesce(sum(CASE WHEN {' AND '.join(g1_sql)} THEN {cents_sql} END), 0)"
    s2_sql = f"coalesce(sum(CASE WHEN {' AND '.join(g2_sql)} THEN {cents_sql} END), 0)"
    sel = ", ".join(keys)
    sql = f"""
    SELECT {sel},
           CAST(coalesce(sum({cents_sql}), 0) AS BIGINT) AS anchor_cents,
           CAST({s1_sql} - {s2_sql} AS BIGINT) AS diff_units,
           round(CAST({s1_sql} - {s2_sql} AS DOUBLE) / {div}
                 * 1000000) / 1000000 + 0 AS zmeasure
    FROM {table} WHERE {' AND '.join(pred_sql)}
    GROUP BY {sel}
    """
    # the UNPINNED oracle spelling, used by the gate's vacuity check to
    # prove the drawn family actually reaches -0.0 on the DuckDB side
    unpinned_sql = sql.replace("/ 1000000 + 0 AS zmeasure", "/ 1000000 AS zmeasure")
    return {
        "table": table,
        "keys": keys,
        "pred_cols": pred_cols,
        "aggs": aggs,
        "sql": sql,
        "unpinned_sql": unpinned_sql,
    }


def build_signedzero_spark(spark: SparkSession, sf_dir: str, case: dict) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{case['table']}.parquet")
    return df.filter(_conj(case["pred_cols"])).groupBy(*case["keys"]).agg(
        *case["aggs"]
    )


def draw_lateral_case(seed: int) -> dict:
    """Seeded LATERAL / table-function cases (axis 19, round 15 -- the
    VERDICT r13 #8 / r14 #6 carried axis): each case explodes a
    correlated row-generated collection through Spark's lateral
    table-function surface and aggregates over the generated rows,
    while the oracle walks DuckDB's lateral twin. Four shapes:

    - ``range``: inner explode of CASE-guarded sequence(1, n) with
      n = CAST(col AS INT) % k -- n = 0 rows DROP (and the guard is
      load-bearing: Spark's sequence(1, 0) DESCENDS instead of being
      empty); oracle = ``, LATERAL (unnest(range(1, n+1)))``.
    - ``range_outer``: explode_outer keeps empty-generator rows as one
      null-padded row; oracle = ``LEFT JOIN LATERAL ... ON TRUE``.
    - ``range_sql``: the same inner-range semantics through Spark's SQL
      LATERAL *text* syntax (``FROM t, LATERAL explode(...) AS ex(i)``)
      -- the one registered-surface spelling the grammar never drew
      (VERDICT r14 "what's missing" #4).
    - ``split_pos``: posexplode(split(str, sep)) -- token + 0-based
      position; oracle indexes string_split by a lateral range (DuckDB
      lacks WITH ORDINALITY), pinning the pos/ordinality alignment.

    The generated rows feed the standing cent-grid aggregates, so
    per-element correlated arithmetic (i * cents) is compared, not just
    row multiplicity. The Arrow Python-UDTF lateral itself stays gated
    by text_udtf_chunk_windows; this axis sweeps the generator/lateral
    JOIN-semantics space around it."""
    rng = random.Random(180_000 + seed)
    shape = rng.choice(["range", "range_outer", "range_sql", "split_pos"])
    table = "orders" if shape == "split_pos" else rng.choice(sorted(_TABLES))
    spec = _TABLES[table]
    pred_cols, pred_sql = _predicates(rng, spec)
    keys = rng.sample(spec["keys"], rng.choice([1, 1, 2]))
    cents = rng.choice(spec["cents"])
    cents_sql = f"CAST(round({cents} * 100) AS BIGINT)"
    sel = ", ".join(keys)
    where = " AND ".join(pred_sql)

    if shape == "split_pos":
        sep = rng.choice(["-", " "])
        sql = f"""
        SELECT {sel},
               CAST(count(*) AS BIGINT) AS n_tokens,
               min(u.tok) AS min_tok,
               CAST(coalesce(sum((u.pos + 1) * {cents_sql}), 0) AS BIGINT)
                 AS wpos_cents
        FROM {table}, LATERAL (
          SELECT string_split(o_orderpriority, '{sep}')[i + 1] AS tok,
                 i AS pos
          FROM unnest(range(0,
                 len(string_split(o_orderpriority, '{sep}')))) r(i)
        ) u
        WHERE {where}
        GROUP BY {sel}
        """
        return {
            "shape": shape, "table": table, "keys": keys, "sep": sep,
            "cents": cents, "pred_cols": pred_cols, "sql": sql,
        }

    ncol = {"lineitem": "l_quantity", "orders": "o_totalprice"}[table]
    k = rng.choice([3, 4, 5, 6])
    # floor() BEFORE the int cast: Spark's double->int cast TRUNCATES
    # while DuckDB's ROUNDS, so a cents-bearing value like o_totalprice
    # would disagree on n for half the rows; floor is exact on both
    n_sql = f"CAST(floor({ncol}) AS INT) % {k}"
    if shape == "range_outer":
        lateral_sql = (
            f"FROM {table} LEFT JOIN LATERAL "
            f"(SELECT unnest(range(1, {n_sql} + 1)) AS i) u ON TRUE"
        )
    else:
        lateral_sql = (
            f"FROM {table}, LATERAL "
            f"(SELECT unnest(range(1, {n_sql} + 1)) AS i) u"
        )
    sql = f"""
    SELECT {sel},
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(coalesce(sum(u.i * {cents_sql}), 0) AS BIGINT) AS wsum_cents,
           CAST(max(u.i) AS BIGINT) AS max_i
    {lateral_sql}
    WHERE {where}
    GROUP BY {sel}
    """
    return {
        "shape": shape, "table": table, "keys": keys, "ncol": ncol, "k": k,
        "cents": cents, "pred_cols": pred_cols, "pred_sql": pred_sql,
        "sql": sql,
    }


def build_lateral_spark(spark: SparkSession, sf_dir: str, case: dict) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{case['table']}.parquet")
    keys, shape = case["keys"], case["shape"]
    cents_int = F.round(F.col(case["cents"]) * 100).cast("long")

    if shape == "split_pos":
        base = df.filter(_conj(case["pred_cols"])).select(
            *keys,
            cents_int.alias("_c"),
            F.split(F.col("o_orderpriority"), case["sep"]).alias("_toks"),
        )
        lat = base.select(
            *keys, "_c",
            F.posexplode(F.col("_toks")).alias("pos", "tok"),
        )
        return lat.groupBy(*keys).agg(
            F.count("*").alias("n_tokens"),
            F.min("tok").alias("min_tok"),
            F.coalesce(
                F.sum((F.col("pos") + 1).cast("long") * F.col("_c")),
                F.lit(0).cast("long"),
            ).alias("wpos_cents"),
        )

    n = F.floor(F.col(case["ncol"])).cast("int") % case["k"]
    if shape == "range_sql":
        # the SQL LATERAL text path: same semantics as `range`, spelled
        # as Spark's comma-LATERAL table-function join
        view = f"lat_sql_{case['table']}"
        df.createOrReplaceTempView(view)
        sel = ", ".join(keys)
        n_sql = f"CAST(floor({case['ncol']}) AS INT) % {case['k']}"
        return spark.sql(f"""
        SELECT {sel},
               count(*) AS n_rows,
               coalesce(sum(CAST(i AS BIGINT)
                 * CAST(round({case['cents']} * 100) AS BIGINT)), 0)
                 AS wsum_cents,
               CAST(max(i) AS BIGINT) AS max_i
        FROM {view},
        LATERAL explode(CASE WHEN {n_sql} >= 1
                        THEN sequence(1, {n_sql})
                        ELSE array() END) AS ex(i)
        WHERE {' AND '.join(case['pred_sql'])}
        GROUP BY {sel}
        """)

    gen = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    base = df.filter(_conj(case["pred_cols"])).select(
        *keys, cents_int.alias("_c"), gen.alias("_g")
    )
    explode = F.explode_outer if shape == "range_outer" else F.explode
    lat = base.select(*keys, "_c", explode("_g").alias("i"))
    return lat.groupBy(*keys).agg(
        F.count("*").alias("n_rows"),
        F.coalesce(
            F.sum(F.col("i").cast("long") * F.col("_c")),
            F.lit(0).cast("long"),
        ).alias("wsum_cents"),
        F.max(F.col("i").cast("long")).alias("max_i"),
    )


# ---------------------------------------------------------------------------
# Axis 20 (round 16): multi-table JOIN CHAINS -- customer ⋈ orders ⋈
# lineitem with INDEPENDENTLY drawn inner/left steps and residual
# predicates at drawn positions (ON-clause vs WHERE). Axes 2/16 cover
# joins pairwise; a chain is where join REORDERING and NULL PROPAGATION
# interact: a left step null-extends the middle table's join key, the
# next step then joins ON that NULL (left keeps the row null-extended
# twice over, inner drops it), and a WHERE-placed residual on a
# null-extendable column deterministically inner-izes the step on both
# engines. Value rules: group keys and the cent sum come from the
# always-present customer side; per-level counts are null-skipping on
# both engines; the orders-side cent sum rides under coalesce (SQL SUM
# and F.sum both skip NULLs identically).
# ---------------------------------------------------------------------------

# only what the chain axis draws: one numeric predicate domain and the
# group-key pool (no str/ts/cents mimicry of _TABLES -- the always-
# present-side aggregates are fixed by the axis's value rules)
_CUSTOMER_SPEC = {
    "num": {"c_acctbal": (-500.0, 9000.0)},
    "keys": ["c_mktsegment", "c_nationkey"],
}


def draw_joinchain_case(seed: int) -> dict:
    rng = random.Random(190_000 + seed)
    how1 = rng.choice(["inner", "left"])  # customer -> orders
    how2 = rng.choice(["inner", "left"])  # (chain) -> lineitem
    # residual placement per level: "on" = pre-join (ON-clause
    # semantics), "where" = post-join conjunct (inner-izes a left step)
    o_place = rng.choice(["on", "where"])
    l_place = rng.choice(["on", "where"])
    # Structural hazard coverage (the first free draw left all 12
    # seeds with an effectively-inner LAST step, so no null-extended
    # row could ever SURVIVE to the aggregate and the axis's vacuity
    # check failed on arrival): pin every third seed to an
    # outer-preserving last step, every sixth to the full double-null
    # propagation chain. Overrides AFTER the rng.choice calls keep the
    # remaining draw sequence identical, so the other seeds' cases are
    # untouched.
    if seed % 3 == 0:
        how2, l_place = "left", "on"
    if seed % 6 == 0:
        how1, o_place = "left", "on"
    o_spec, l_spec = _TABLES["orders"], _TABLES["lineitem"]
    # customer predicates stay cheap: one draw, no ts domain
    c_col, (c_lo, c_hi) = "c_acctbal", _CUSTOMER_SPEC["num"]["c_acctbal"]
    c_lit = round(rng.uniform(c_lo, c_hi), 2)
    c_op = rng.choice(_OPS)
    c_pred_col = {
        "<": F.col(c_col) < c_lit, "<=": F.col(c_col) <= c_lit,
        ">": F.col(c_col) > c_lit, ">=": F.col(c_col) >= c_lit,
    }[c_op]
    c_sql = f"c.{c_col} {c_op} {c_lit}"
    o_cols, o_sql = _predicates(rng, o_spec)
    l_cols, l_sql = _predicates(rng, l_spec)
    keys = rng.sample(_CUSTOMER_SPEC["keys"], rng.choice([1, 1, 2]))

    on1 = "c.c_custkey = o.o_custkey"
    on2 = "o.o_orderkey = l.l_orderkey"
    where = [c_sql]
    o_text = " AND ".join(f"o.{p}" for p in o_sql)
    l_text = " AND ".join(f"l.{p}" for p in l_sql)
    if o_place == "on":
        on1 += f" AND {o_text}"
    else:
        where.append(o_text)
    if l_place == "on":
        on2 += f" AND {l_text}"
    else:
        where.append(l_text)
    j1 = "JOIN" if how1 == "inner" else "LEFT JOIN"
    j2 = "JOIN" if how2 == "inner" else "LEFT JOIN"
    sel_keys = ", ".join(f"c.{k}" for k in keys)
    sql = f"""
    SELECT {sel_keys},
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(count(l.l_orderkey) AS BIGINT) AS n_items,
           CAST(coalesce(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)), 0)
                AS BIGINT) AS sum_c_cents,
           CAST(coalesce(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)), 0)
                AS BIGINT) AS sum_o_cents
    FROM customer c {j1} orders o ON {on1} {j2} lineitem l ON {on2}
    WHERE {' AND '.join(where)}
    GROUP BY {sel_keys}
    """
    return {
        "how1": how1,
        "how2": how2,
        "o_place": o_place,
        "l_place": l_place,
        "keys": keys,
        "c_pred_col": c_pred_col,
        "o_pred_cols": o_cols,
        "l_pred_cols": l_cols,
        "sql": sql,
    }


def build_joinchain_spark(
    spark: SparkSession, sf_dir: str, case: dict
) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        case["c_pred_col"]
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    o_pred = _conj(case["o_pred_cols"])
    l_pred = _conj(case["l_pred_cols"])
    # "on" placement = pre-filter the right side (the DataFrame-native
    # spelling of ON-clause residuals, for BOTH join types); "where"
    # placement = post-join filter (null-extended rows drop, exactly
    # the SQL WHERE-conjunct inner-izing both engines perform)
    o_side = orders.filter(o_pred) if case["o_place"] == "on" else orders
    j1 = cust.join(
        o_side,
        cust["c_custkey"] == o_side["o_custkey"],
        "inner" if case["how1"] == "inner" else "left_outer",
    )
    if case["o_place"] == "where":
        j1 = j1.filter(o_pred)
    l_side = lineitem.filter(l_pred) if case["l_place"] == "on" else lineitem
    j2 = j1.join(
        l_side,
        j1["o_orderkey"] == l_side["l_orderkey"],
        "inner" if case["how2"] == "inner" else "left_outer",
    )
    if case["l_place"] == "where":
        j2 = j2.filter(l_pred)
    return j2.groupBy(*case["keys"]).agg(
        F.count("*").alias("n_rows"),
        F.count(F.col("o_orderkey")).alias("n_orders"),
        F.count(F.col("l_orderkey")).alias("n_items"),
        F.coalesce(
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")),
            F.lit(0).cast("long"),
        ).alias("sum_c_cents"),
        F.coalesce(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
            F.lit(0).cast("long"),
        ).alias("sum_o_cents"),
    )


# ---------------------------------------------------------------------------
# Axis 21 (round 16): MULTIPLE DISTINCT aggregates in one grouped
# query -- count(DISTINCT a) + count(DISTINCT b) + sum(DISTINCT cents)
# over drawn predicates and keys. Spark's planner can only execute one
# distinct-column-set per physical aggregate, so multi-distinct queries
# are rewritten through an Expand node (one duplicated input stream per
# distinct set, then a two-phase aggregate); DuckDB computes the
# distinct sets directly. That rewrite is exactly the machinery worth
# differential coverage: a miscounted null stream, a dropped duplicate,
# or a grouping-key mixup in the Expand would flip the counts while
# every single-distinct axis stays green. Value rules: counts BIGINT
# both sides; the distinct sum runs on the integer cent grid (a
# DISTINCT set of BIGINTs sums exactly on both engines); count(*)
# rides along as the non-distinct anchor inside the same Expand.
# ---------------------------------------------------------------------------


def draw_multidistinct_case(seed: int) -> dict:
    rng = random.Random(210_000 + seed)
    table = rng.choice(sorted(_TABLES))
    spec = _TABLES[table]
    pred_cols, pred_sql = _predicates(rng, spec)
    keys = rng.sample(spec["keys"], rng.choice([1, 1, 2]))
    # two distinct-count targets, drawn from the key-like, low-card
    # string, and date columns NOT used as group keys (distinct-of-a-
    # group-key is constant 1 per group -- legal but vacuous; the ts
    # columns keep the pool >= 2 even when a draw takes both of a
    # table's keys, and count(DISTINCT timestamp) is exact on both
    # engines)
    candidates = [
        c
        for c in spec["distinct"] + sorted(spec["str"]) + sorted(spec["ts"])
        if c not in keys
    ]
    dcols = rng.sample(candidates, 2)
    cents = rng.choice(spec["cents"])
    cents_int = F.round(F.col(cents) * 100).cast("long")
    cents_sql = f"CAST(round({cents} * 100) AS BIGINT)"
    aggs = [
        F.count("*").alias("n_rows"),
        F.countDistinct(F.col(dcols[0])).alias("nd1"),
        F.countDistinct(F.col(dcols[1])).alias("nd2"),
        F.coalesce(
            F.sum_distinct(cents_int), F.lit(0).cast("long")
        ).alias("sum_d_cents"),
    ]
    sel = ", ".join(keys)
    sql = f"""
    SELECT {sel},
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT {dcols[0]}) AS BIGINT) AS nd1,
           CAST(count(DISTINCT {dcols[1]}) AS BIGINT) AS nd2,
           CAST(coalesce(sum(DISTINCT {cents_sql}), 0) AS BIGINT)
             AS sum_d_cents
    FROM {table} WHERE {' AND '.join(pred_sql)}
    GROUP BY {sel}
    """
    return {
        "table": table,
        "keys": keys,
        "dcols": dcols,
        "pred_cols": pred_cols,
        "pred_sql": pred_sql,
        "agg_cols": aggs,
        "sql": sql,
    }


def build_multidistinct_spark(
    spark: SparkSession, sf_dir: str, case: dict
) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{case['table']}.parquet")
    return (
        df.filter(_conj(case["pred_cols"]))
        .groupBy(*case["keys"])
        .agg(*case["agg_cols"])
    )


# ---------------------------------------------------------------------------
# Axis 22 (round 17, VERDICT r16 stretch #8): WINDOWED AGGREGATES OVER
# JOIN RESULTS -- a drawn orders ⋈ lineitem join feeding drawn window
# functions, with the partition key taken from EITHER side and frames
# from the existing ROWS/RANGE pools. Axes 2/3/16/20 cover joins and
# windows separately; the composition is its own surface: Spark plans a
# window-after-join as join exchange -> window exchange on the partition
# key (AQE may fuse or re-split them), and a LEFT join feeds the window
# null-extended right-side rows, so a right-side partition key routes
# them into the NULL partition and a right-side value column enters the
# frame as NULL. Value rules: the windowed value is coalesce(cents, 0)
# on BOTH engines (null-extended rows contribute identically); ROWS
# frames order by the total order (cents, o_orderkey, l_linenumber)
# with the possibly-NULL l_linenumber pinned ASC NULLS FIRST on both
# engines (Spark's asc default; DuckDB's default is NULLS LAST -- the
# exact divergence the pin exists to neutralize); RANGE frames order by
# the cent value alone and are tie-insensitive by construction.
# ---------------------------------------------------------------------------


def draw_winjoin_case(seed: int) -> dict:
    rng = random.Random(220_000 + seed)
    how = rng.choice(["inner", "inner", "left"])
    part = rng.choice(
        ["o_orderstatus", "o_orderpriority", "l_returnflag", "l_linestatus"]
    )
    # Structural hazard coverage (joinchain precedent): guarantee the
    # axis's distinguishing composition -- null-extended rows flowing
    # into a RIGHT-side partition key -- actually occurs across the 12
    # seeds instead of depending on the free draw. Overrides after the
    # rng.choice calls keep the rest of the sequence identical.
    if seed % 4 == 1:
        how = "left"
        part = "l_returnflag" if seed % 8 == 1 else "l_linestatus"
    o_spec, l_spec = _TABLES["orders"], _TABLES["lineitem"]
    o_cols, o_sql = _predicates(rng, o_spec)
    l_cols, l_sql = _predicates(rng, l_spec)
    val = rng.choice(["o_totalprice", "l_extendedprice", "l_quantity"])
    val_q = f"{'o' if val.startswith('o_') else 'l'}.{val}"
    # coalesce on BOTH engines: a left join null-extends right-side
    # cents, and pinning 0 keeps every window input exact and non-null
    cents = F.coalesce(F.round(F.col(val) * 100).cast("long"), F.lit(0))
    cents_sql = f"coalesce(CAST(round({val_q} * 100) AS BIGINT), 0)"
    part_q = f"{'o' if part.startswith('o_') else 'l'}.{part}"
    # total order for ROWS frames: unique after the join ((o_orderkey,
    # l_linenumber) is unique; an unmatched order row appears once with
    # NULL l_linenumber), NULL placement pinned explicitly
    total_order = [
        cents.asc(),
        F.col("o_orderkey").asc(),
        F.col("l_linenumber").asc_nulls_first(),
    ]
    total_order_sql = (
        f"{cents_sql} ASC, o.o_orderkey ASC, l.l_linenumber ASC NULLS FIRST"
    )
    w_rows = Window.partitionBy(part).orderBy(*total_order)
    w_range = Window.partitionBy(part).orderBy(cents.asc())
    picks = rng.sample(
        ["row_number", "run_sum", "rank", "range_sum", "range_cnt"],
        rng.randint(2, 3),
    )
    out_cols, out_sql = [], []
    for i, p in enumerate(picks):
        alias = f"w{i}"
        if p == "row_number":
            out_cols.append(F.row_number().over(w_rows).alias(alias))
            out_sql.append(
                f"CAST(row_number() OVER (PARTITION BY {part_q} ORDER BY "
                f"{total_order_sql}) AS INTEGER) AS {alias}"
            )
        elif p == "run_sum":
            out_cols.append(
                F.sum(cents)
                .over(w_rows.rowsBetween(Window.unboundedPreceding, 0))
                .alias(alias)
            )
            out_sql.append(
                f"CAST(sum({cents_sql}) OVER (PARTITION BY {part_q} ORDER BY "
                f"{total_order_sql} ROWS BETWEEN UNBOUNDED PRECEDING AND "
                f"CURRENT ROW) AS BIGINT) AS {alias}"
            )
        elif p == "rank":
            # ties over the value alone: tied rows share a rank on both
            # engines regardless of physical order
            out_cols.append(F.rank().over(w_range).alias(alias))
            out_sql.append(
                f"CAST(rank() OVER (PARTITION BY {part_q} ORDER BY "
                f"{cents_sql}) AS INTEGER) AS {alias}"
            )
        elif p == "range_sum":
            k = rng.randint(100, 100_000)
            out_cols.append(
                F.sum(cents).over(w_range.rangeBetween(-k, 0)).alias(alias)
            )
            out_sql.append(
                f"CAST(sum({cents_sql}) OVER (PARTITION BY {part_q} ORDER BY"
                f" {cents_sql} RANGE BETWEEN {k} PRECEDING AND CURRENT ROW)"
                f" AS BIGINT) AS {alias}"
            )
        else:
            k = rng.randint(100, 100_000)
            out_cols.append(
                F.count(F.lit(1))
                .over(w_range.rangeBetween(-k, 0))
                .alias(alias)
            )
            out_sql.append(
                f"CAST(count(*) OVER (PARTITION BY {part_q} ORDER BY"
                f" {cents_sql} RANGE BETWEEN {k} PRECEDING AND CURRENT ROW)"
                f" AS BIGINT) AS {alias}"
            )
    o_text = " AND ".join(f"o.{p}" for p in o_sql)
    l_text = " AND ".join(f"l.{p}" for p in l_sql)
    if how == "inner":
        join_sql = (
            f"FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
            f"WHERE {o_text} AND {l_text}"
        )
    else:
        # left: right-side predicates live in the ON clause (a WHERE
        # conjunct would inner-ize the join and erase the NULL
        # partition this axis exists to cover)
        join_sql = (
            f"FROM orders o LEFT JOIN lineitem l ON "
            f"o.o_orderkey = l.l_orderkey AND {l_text} WHERE {o_text}"
        )
    sql = (
        f"SELECT o.o_orderkey, l.l_linenumber, {part_q}, "
        + ", ".join(out_sql)
        + f" {join_sql}"
    )
    return {
        "how": how,
        "part": part,
        "o_pred_cols": o_cols,
        "l_pred_cols": l_cols,
        "out_cols": out_cols,
        "sql": sql,
    }


def build_winjoin_spark(
    spark: SparkSession, sf_dir: str, case: dict
) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        _conj(case["o_pred_cols"])
    )
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        _conj(case["l_pred_cols"])
    )
    # pre-filtering the right side then joining is the DataFrame-native
    # ON-clause spelling for both join types (build_join_spark precedent)
    joined = orders.join(
        lineitem,
        orders["o_orderkey"] == lineitem["l_orderkey"],
        "inner" if case["how"] == "inner" else "left_outer",
    )
    return joined.select(
        "o_orderkey", "l_linenumber", case["part"], *case["out_cols"]
    )
