"""Round-13 behavior tests.

1. The Arrow Python-UDTF surface (VERDICT r12 #7): the lateral
   chunk-window query must actually run through ArrowEvalPythonUDTF --
   the Arrow-batched plan family -- and never BatchEvalPythonUDTF (the
   row-at-a-time family the repo bans from headline plans), with the
   parquet scan pruned to exactly the two columns the expansion needs.

2. The registration budget after the paired swap: text_udtf_chunk_windows
   in, dedup_simhash out (coverage via its _pairs/_accuracy siblings),
   N still 200 so the driver's 4-round re-verification cycle holds.

3. UDTF edge semantics both engines must share: empty documents emit
   no windows; a short document emits exactly one ragged window.

4. The signed-zero convention (machine-found by the r13 sf0.1 fleet
   sweep, docs_dsir_weights doc 3533): a sign-crossing measure that
   rounds to zero from below yields -0.0 from DuckDB's std::round
   path but +0.0 from Spark's BigDecimal path, which has no signed
   zero. Equal as floats, DISTINCT to any %-format or byte hash --
   i.e., invisible to the repo's own _norm but fatal to the driver's
   float normalization. Oracles of sign-crossing rounded measures
   append `+ 0` (IEEE: -0.0 + 0 = +0.0); both halves pinned here.
"""

from __future__ import annotations

import math

from tests.conftest import SF_SMOKE


def test_udtf_plan_is_arrow_batched_and_pruned(spark):
    from fantasy_premier_league_spark.operators.udtf_ops import (
        text_udtf_chunk_windows,
    )

    df = text_udtf_chunk_windows(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPythonUDTF" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    # column pruning must reach the scan: the UDTF consumes text, the
    # aggregate keys on source, and nothing else may be read
    assert "ReadSchema: struct<text:string,source:string>" in plan, plan


def test_udtf_window_edge_semantics(spark):
    from fantasy_premier_league_spark.operators.udtf_ops import ChunkWindows

    spark.udtf.register("edge_chunk_windows", ChunkWindows)
    rows = spark.sql(
        """
        SELECT d.doc, c.chunk_idx, c.start_pos, c.n_tokens, c.head
        FROM VALUES ('', 'empty'), ('a b c', 'short'),
                    (NULL, 'null_doc') AS d(text, doc),
             LATERAL edge_chunk_windows(d.text) c
        ORDER BY d.doc, c.chunk_idx
        """
    ).collect()
    # empty and NULL documents vanish (range(0, 0, 16) is empty); the
    # 3-token document emits exactly one ragged window starting at 0
    assert [(r.doc, r.chunk_idx, r.start_pos, r.n_tokens, r.head) for r in rows] == [
        ("short", 0, 0, 3, "a")
    ]


def test_jvm_twin_matches_udtf(spark):
    """The committed production twin (pure built-ins) must stay
    row-identical to the gated UDTF form — this is what licenses
    BASELINE.md's 'swap when expressible' advice."""
    from fantasy_premier_league_spark.operators.udtf_ops import (
        chunk_windows_jvm,
        text_udtf_chunk_windows,
    )

    a = sorted(map(tuple, text_udtf_chunk_windows(spark, SF_SMOKE).collect()))
    b = sorted(map(tuple, chunk_windows_jvm(spark, SF_SMOKE).collect()))
    assert a == b and len(a) > 0


def test_registration_budget_holds_after_udtf_swap():
    from fantasy_premier_league_spark.plans.registry import (
        all_queries,
        staleness_threshold,
    )

    names = list(all_queries())
    assert len(names) == 200, len(names)
    assert "text_udtf_chunk_windows" in names
    assert "dedup_simhash" not in names
    # the retirement's coverage carriers stay registered
    assert "dedup_simhash_pairs" in names
    assert "dedup_simhash_accuracy" in names
    assert staleness_threshold(len(names)) == math.ceil(200 / 50)


def test_signed_zero_pinned_on_both_engines(spark):
    """The -0.0 convention (module docstring #4): Spark's rounded()
    can never emit a signed zero (BigDecimal path), and the oracle
    `round(...) + 0` spelling pins DuckDB to the same +0.0 -- so a
    sign-crossing measure that rounds to zero hashes identically on
    any float normalization, %-format and byte paths included."""
    import duckdb

    from pyspark.sql import functions as F

    from fantasy_premier_league_spark.functions import rounded

    row = (
        spark.range(1)
        .select(
            rounded(F.lit(-0.0000004), 6).alias("a"),
            rounded(F.lit(-0.4), 6).alias("b"),
        )
        .first()
    )
    assert math.copysign(1.0, row["a"]) == 1.0
    assert math.copysign(1.0, row["b"]) == -1.0  # nonzero values keep sign
    con = duckdb.connect()
    raw, pinned = con.execute(
        "SELECT round(CAST(-0.0000004 AS DOUBLE) * 1000000) / 1000000,"
        "       round(CAST(-0.0000004 AS DOUBLE) * 1000000) / 1000000 + 0"
    ).fetchone()
    con.close()
    # the hazard is real (raw is a negative zero) and the pin removes it
    assert raw == 0.0 and math.copysign(1.0, raw) == -1.0
    assert math.copysign(1.0, pinned) == 1.0


def test_sign_crossing_oracles_carry_the_zero_pin():
    """Every sign-crossing rounded measure identified by the r13 sweep
    keeps its `+ 0` spelling; a refactor that drops one reopens the
    divergence silently (it only fires when a value lands on -0.0)."""
    from fantasy_premier_league_spark.plans.registry import all_oracles

    oracles = all_oracles()
    assert "/ 1000000 + 0 AS mean_log_ratio" in oracles["docs_dsir_weights"]
    assert "+ 0 AS corr_qty_price" in oracles["stats_corr_matrix"]
    assert "+ 0 AS covar_qty_price" in oracles["stats_corr_matrix"]
    for col in ("b0", "b1", "b2", "pred_norm"):
        assert f"+ 0 AS {col}" in oracles["ml_quadratic_fit"]
    assert oracles["ml_kmeans_chemistry_impute"].count("+ 0 AS chemistry") == 2
