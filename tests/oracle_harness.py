"""Local re-implementation of the driver's DuckDB differential gate:
run a registered Spark query and its oracle SQL side by side, compare
row count, column names, and an order-insensitive value hash.

Values are normalized the same way on both sides (dates/timestamps to
ISO strings, floats via repr after the queries' own rounding), so this
is a strictly-harder check than simple count equality. ``compare_strict``
adds the driver's own pandas fetch path (dtypes and byte-exact cells),
which that normalization cannot see.
"""

from __future__ import annotations

import datetime as dt
import math
from collections.abc import Iterable

import duckdb
import pandas as pd

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v: object) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def canonical_rows(columns: list[str], rows: Iterable[tuple]) -> list[tuple[str, ...]]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out)


def _signed_cell(v: object) -> str:
    """_norm(), except negative zero stays distinguishable -- the class
    compare() deliberately erases but the driver's %-format/byte float
    paths see (the r13 signed-zero hazard)."""
    if isinstance(v, float) and v == 0 and math.copysign(1, v) < 0:
        return "-0"
    return _norm(v)


def signed_canonical_rows(
    columns: list[str], rows: Iterable[tuple]
) -> list[tuple[str, ...]]:
    """canonical_rows with the zero sign kept INSIDE each row, so any
    multiset difference after a value-equal compare() is exactly a
    signed-zero split -- including same-count-per-column splits landing
    on different rows (ADVICE r13 #1). Shared by compare_signed (and so
    tools/contract_sweep.py) and the signedzero fuzz axis."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_signed_cell(r[i]) for i in order) for r in rows)


def _spark_family(dt) -> str:
    s = dt.simpleString()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    # decimal gets its own family (ADVICE r11 companion): Spark decimal
    # ALSO renders object(Decimal) on the driver's pandas path, so it
    # must never silently pass against a DOUBLE oracle column.
    if s.startswith("decimal"):
        return "spark-decimal"
    if s in ("float", "double"):
        return "float"
    if s == "boolean":
        return "bool"
    if s in ("string", "varchar"):
        return "str"
    if s == "date":
        return "date"
    if s.startswith("timestamp"):
        return "ts"
    if s == "binary":
        return "bin"
    if s.startswith("array"):
        return "list"
    if s.startswith(("struct", "map")):
        return "nested"
    return s


def _duck_family(t: object) -> str:
    t = str(t).upper()
    # HUGEINT and DECIMAL are deliberately NOT folded into int/float
    # (ADVICE r11): the driver's pandas fetch path renders HUGEINT as
    # float64 and DECIMAL as object(Decimal), the exact divergence class
    # that cost two rounds on quality_perceptron_train -- so every
    # compare() call fails them directly (spark has no "hugeint"/
    # "duck-decimal" family), instead of relying solely on the
    # registered-oracle sweep in test_no_oracle_returns_hugeint.
    if t == "HUGEINT":
        return "hugeint"
    if t.startswith("DECIMAL"):
        return "duck-decimal"
    if t in (
        "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
        "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
    ):
        return "int"
    if t in ("FLOAT", "DOUBLE"):
        return "float"
    if t == "BOOLEAN":
        return "bool"
    if t == "VARCHAR":
        return "str"
    if t == "DATE":
        return "date"
    if "TIMESTAMP" in t:
        return "ts"
    if t == "BLOB":
        return "bin"
    if t.endswith("[]"):
        return "list"
    if t.startswith(("STRUCT", "MAP")):
        return "nested"
    return t


def check_type_families(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> None:
    """Cross-engine TYPE-FAMILY check (r11): value normalization hides
    int-vs-float divergences (repr collapses 690415.0 and 690415), but
    the driver's pandas fetch path does not -- DuckDB HUGEINT rendered
    float64 cost two rounds on quality_perceptron_train. Compare the
    Spark schema against DESCRIBE (binder only, no execution) so every
    parity test also pins matching families per column."""
    s_fam = {f.name: _spark_family(f.dataType) for f in spark_df.schema.fields}
    d_fam = {r[0]: _duck_family(r[1]) for r in con.execute("DESCRIBE " + sql).fetchall()}
    diffs = {
        c: (s_fam.get(c), d_fam.get(c))
        for c in set(s_fam) | set(d_fam)
        if s_fam.get(c) != d_fam.get(c)
    }
    # ADVICE r12: spell out the deliberate asymmetry so a
    # decimal-vs-decimal failure is self-explaining -- DECIMAL is
    # banned on BOTH engines BY DESIGN (Spark decimal fetches as
    # object(Decimal), DuckDB DECIMAL likewise; neither is
    # byte-identical on the driver's pandas path even against itself
    # across versions), so the families are engine-specific strings
    # ("spark-decimal" vs "duck-decimal") that can never match. Cast
    # to DOUBLE or BIGINT in both the query and the oracle.
    assert not diffs, (
        f"type families differ (spark vs duckdb): {diffs} "
        "[note: decimal columns are banned on both engines by design "
        "('spark-decimal' never equals 'duck-decimal') -- cast to "
        "DOUBLE/BIGINT on both sides; see _spark_family/_duck_family]"
    )


def _collect_both(spark_df, con: duckdb.DuckDBPyConnection, sql: str):
    s_cols = list(spark_df.columns)
    s_rows = [tuple(r) for r in spark_df.collect()]
    rel = con.execute(sql)
    d_cols = [d[0] for d in rel.description]
    d_rows = rel.fetchall()
    return s_cols, s_rows, d_cols, d_rows


def _assert_value_match(s_cols, s_rows, d_cols, d_rows) -> None:
    assert sorted(s_cols) == sorted(d_cols), f"columns differ: {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"row counts differ: {len(s_rows)} vs {len(d_rows)}"
    s_canon = canonical_rows(s_cols, s_rows)
    d_canon = canonical_rows(d_cols, d_rows)
    if s_canon != d_canon:
        diffs = [
            (a, b) for a, b in zip(s_canon, d_canon) if a != b
        ][:5]
        raise AssertionError(f"values differ; first diffs (spark vs duckdb): {diffs}")


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> int:
    """Differential check; returns the (matching) row count so callers
    can additionally reject vacuous 0=0 passes."""
    check_type_families(spark_df, con, sql)
    s_cols, s_rows, d_cols, d_rows = _collect_both(spark_df, con, sql)
    _assert_value_match(s_cols, s_rows, d_cols, d_rows)
    return len(s_rows)


def compare_signed(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> int:
    """compare() PLUS the byte-level signed-zero multiset check, from
    ONE collection of each side (the r13/r14 strict-zero callers ran
    both engines a second time just to re-canonicalize)."""
    check_type_families(spark_df, con, sql)
    s_cols, s_rows, d_cols, d_rows = _collect_both(spark_df, con, sql)
    _assert_value_match(s_cols, s_rows, d_cols, d_rows)
    s_sgn = signed_canonical_rows(s_cols, s_rows)
    d_sgn = signed_canonical_rows(d_cols, d_rows)
    if s_sgn != d_sgn:
        diffs = [(a, b) for a, b in zip(s_sgn, d_sgn) if a != b][:3]
        raise AssertionError(f"signed-zero split (spark vs duckdb): {diffs}")
    return len(s_rows)


def canon(df: pd.DataFrame) -> tuple[dict[str, str], list[tuple]]:
    """(per-column dtype map, rows sorted on a dtype-independent key).

    The sort key stringifies every cell so int32/int64 or
    datetime64/date-object frames sort the SAME way and the value diff
    below reports cell-level divergence, not ordering noise.
    """
    cols = sorted(df.columns)
    df = df[cols]
    dtypes = {c: str(df[c].dtype) for c in cols}
    rows = [tuple(r) for r in df.itertuples(index=False, name=None)]
    rows.sort(key=lambda t: tuple(str(v) for v in t))
    return dtypes, rows


def _cell_eq(a: object, b: object) -> bool:
    """Byte-exact cell equality: same concrete type AND same repr.
    NaN == NaN (both engines emit it for the same nulls)."""
    if type(a) is not type(b):
        # numpy scalars vs python scalars ARE a pandas-path divergence
        return False
    if a != a and b != b:  # NaN
        return True
    return repr(a) == repr(b)


def compare_strict(sdf_pd: pd.DataFrame, ddf_pd: pd.DataFrame) -> dict:
    """The driver's pandas-path check of ``df.toPandas()`` against the
    oracle's ``fetchdf()``. Status IDENTICAL (same per-column dtypes and
    byte-exact cells), DTYPE (``dtype_diffs``: the class the fetchall
    normalization above collapses -- DuckDB HUGEINT renders float64,
    which cost rounds 9-11 on quality_perceptron_train) or VALUES
    (``n_diff_rows`` and ``first_diff``)."""
    s_dtypes, s_rows = canon(sdf_pd)
    d_dtypes, d_rows = canon(ddf_pd)
    out: dict = {"status": "IDENTICAL"}
    dtype_diffs = {
        c: [s_dtypes.get(c), d_dtypes.get(c)]
        for c in set(s_dtypes) | set(d_dtypes)
        if s_dtypes.get(c) != d_dtypes.get(c)
    }
    if dtype_diffs:
        out["status"] = "DTYPE"
        out["dtype_diffs"] = dict(sorted(dtype_diffs.items()))
    if len(s_rows) != len(d_rows):
        out["status"] = "VALUES" if not dtype_diffs else "DTYPE"
        out["rows"] = [len(s_rows), len(d_rows)]
        return out
    # cell-level diff only when dtypes agree (differing dtypes imply
    # differing cell types by construction -- don't double-report)
    if not dtype_diffs:
        n_bad = 0
        first = None
        for sr, dr in zip(s_rows, d_rows):
            for i, (a, b) in enumerate(zip(sr, dr)):
                if not _cell_eq(a, b):
                    n_bad += 1
                    if first is None:
                        first = {
                            "col": sorted(s_dtypes)[i],
                            "spark": repr(a),
                            "duck": repr(b),
                        }
                    break
        if n_bad:
            out["status"] = "VALUES"
            out["n_diff_rows"] = n_bad
            out["first_diff"] = first
    return out
