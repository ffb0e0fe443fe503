"""Scalar helpers shared across operators.

These mirror the reference's ad-hoc per-record Python (try/except
zero-guard division, ``master.py:183-209``) as JVM-side column
expressions that stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def safe_div(num: Column, den: Column) -> Column:
    """Division with divide-by-zero -> 0.0 (reference master.py:183-209).

    DuckDB oracle twin: ``coalesce(a / nullif(b, 0), 0.0)``.
    """
    return F.coalesce(F.try_divide(num, den), F.lit(0.0))


def rounded(col: Column, scale: int = 6) -> Column:
    """Cross-engine-stable rounding; oracle twin: ``round(x, scale)``.

    Spark's ``round(x, s)`` rounds the SHORTEST decimal representation
    of the double (Java ``BigDecimal.valueOf``) half-up, while DuckDB
    rounds via ``std::round(x * 10^s) / 10^s`` -- these disagree
    whenever the true value sits exactly on a decimal boundary (easy to
    hit: dyadic averages like k/6400 of fixed-point inputs). Emulating
    the scaled form here makes the two bit-identical for ANY identical
    input double: at scale 0 the only half-way doubles are exact k+0.5,
    where shortest-repr half-up and std::round both go away from zero;
    everywhere else both take the nearest integer. Requires
    |x * 10^scale| < 2^52 -- keep aggregate magnitudes in range.

    Signed zero (r13): this form can never emit -0.0 -- Spark's Round
    rounds doubles through java BigDecimal, which has no signed zero --
    while DuckDB's std::round gives -0.0 for any tiny negative. Equal
    as floats but distinct to %-format and byte hashes, so oracles of
    SIGN-CROSSING rounded measures must spell `round(...) + 0` (IEEE:
    -0.0 + 0 = +0.0); pinned by tests/test_round13_ops.py.
    """
    factor = float(10**scale)
    return F.round(col * factor) / factor


def md5_hash(col: Column, width: int = 8) -> Column:
    """Portable hash: the first ``width`` hex digits of md5 of the value's
    string form, as a BIGINT (32 bits at the default width; at most 15).
    Oracle twin: :func:`md5_hash_sql`, which DuckDB evaluates to the
    same integer."""
    return F.conv(
        F.substring(F.md5(col.cast("string").cast("binary")), 1, width), 16, 10
    ).cast("long")


def md5_hash_sql(expr: str, width: int = 8) -> str:
    """DuckDB text of :func:`md5_hash` over the VARCHAR expression ``expr``."""
    return f"('0x' || substr(md5({expr}), 1, {width}))::BIGINT"


def _epoch_ntz() -> Column:
    # built lazily: F.lit needs an active SparkContext, and this module
    # is imported before the session exists
    return F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")


def epoch_us(col: Column | str) -> Column:
    """Microseconds since epoch of a TIMESTAMP_NTZ column.

    Pure wall-clock arithmetic with no timezone interpretation, so it
    matches DuckDB's ``epoch_us(ts)`` on naive timestamps in ANY
    session timezone (``unix_micros`` only accepts TIMESTAMP and would
    shift with the session zone). The loader canonicalizes every ts
    column to TIMESTAMP_NTZ (sources/testdata.py), making this the one
    epoch-extraction helper operators need.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff("MICROSECOND", _epoch_ntz(), c)


def epoch_secs(col: Column | str) -> Column:
    """Whole seconds since epoch (floor) of a TIMESTAMP_NTZ column.

    ``epoch_secs(b) - epoch_secs(a)`` counts second-BOUNDARY crossings
    (DuckDB ``date_diff('second', a, b)`` semantics), which differs
    from ``timestamp_diff('SECOND', a, b)`` (complete elapsed units):
    0.9s -> 1.0s is 1 boundary but 0 complete seconds.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff("SECOND", _epoch_ntz(), c)


def fixed_units(col: Column, scale: int = 100) -> Column:
    """Fixed-point decimal column -> exact integer units (e.g. cents).

    The synthetic tables carry 2-decimal money/value columns as
    doubles. Summing those as doubles is order-dependent, and the true
    totals/averages are dyadic rationals that land EXACTLY on rounding
    boundaries, so a 1-ulp cross-engine drift flips the rounded digit.
    Summing exact integers instead is order-independent: both engines
    then derive bit-identical doubles and rounding can never disagree.
    Oracle twin: ``CAST(round(x * scale) AS BIGINT)``.
    """
    return F.round(col * scale).cast("long")
