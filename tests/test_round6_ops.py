"""Behavioral tests for the round-6 operators that oracle parity alone
cannot pin: multi-batch-ness of the CDC upsert, partition planning of
the Python data source, and the retrieval tier's set invariants."""

from __future__ import annotations

import glob
import os
import tempfile

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from fantasy_premier_league_spark.plans.registry import all_queries
from tests.conftest import SF_SMOKE


def test_cdc_upsert_really_runs_multiple_batches(spark):
    """t13's MERGE claim rests on the changelog arriving across several
    micro-batches (maxFilesPerTrigger=1 over a 4-file split): after the
    drain, the versioned state dir must hold one snapshot per non-empty
    batch — a single v0 would mean the upsert never exercised the
    prev-snapshot union path."""
    all_queries()["t13_stream_cdc_upsert"](spark, SF_SMOKE).collect()
    # scratch moved to per-(session, sf_dir) dirs (review r9) -- the
    # old shared cdc_upsert_<tag> glob would assert on stale leftovers
    tag = "".join(c if c.isalnum() else "_" for c in SF_SMOKE.rstrip("/"))
    root = os.path.join(
        tempfile.gettempdir(),
        f"t13_cdc_upsert_{tag}_{spark.sparkContext.applicationId}",
    )
    assert os.path.isdir(root), f"t13 session scratch dir missing: {root}"
    versions = glob.glob(os.path.join(root, "state", "v*"))
    assert len(versions) >= 2, (
        f"expected multiple per-batch snapshots, found {versions}"
    )


def test_python_datasource_partitions_map_row_groups(spark):
    """One InputPartition per parquet row group is what lets executors
    read the feed in parallel; collapsing to a single partition would
    serialize a 100 TB scan through one task."""
    from fantasy_premier_league_spark.sources.py_datasource import (
        _EventsFeedReader,
        register_feed_source,
    )

    path = f"{SF_SMOKE}/events.parquet"
    n_groups = pq.ParquetFile(path).metadata.num_row_groups
    parts = _EventsFeedReader(path).partitions()
    assert len(parts) == n_groups
    assert sorted(p.index for p in parts) == list(range(n_groups))

    register_feed_source(spark)
    feed = spark.read.format("events_feed").option("path", path).load()
    assert feed.count() == spark.read.parquet(path).count()


def test_decontaminate_never_flags_eval_docs(spark):
    """The eval set defines contamination; it must never appear in the
    flagged training output (a % rule typo would silently self-match
    every eval doc with a perfect score)."""
    from fantasy_premier_league_spark.operators.ranking import _EVAL_MOD

    out = all_queries()["docs_decontaminate"](spark, SF_SMOKE)
    assert out.filter(F.col("doc_id") % _EVAL_MOD == 0).count() == 0
    assert out.count() > 0, "vacuous: no overlap found at all"


def test_knn_query_set_is_bounded(spark):
    """The sf1 study's quadratic-work regression: the query set must be
    the fixed seed set (% _KNN_MOD, capped below _KNN_CAP), independent
    of corpus size."""
    from fantasy_premier_league_spark.operators.ranking import _KNN_CAP, _KNN_MOD

    rows = all_queries()["knn_classify_vote"](spark, SF_SMOKE).collect()
    assert rows, "no query points resolved"
    for r in rows:
        assert r.query_id % _KNN_MOD == 0 and r.query_id < _KNN_CAP


def test_sized_loop_partitions_clamps(spark):
    """The loop-reducer sizing must floor at 4 (toy data), ceiling at
    the session setting (100 TB working sets keep full parallelism),
    and always restore the session conf."""
    from fantasy_premier_league_spark.functions import sized_loop_partitions

    key = "spark.sql.shuffle.partitions"
    session_parts = int(spark.conf.get(key))
    with sized_loop_partitions(spark, 10) as p:
        assert p == 4 and int(spark.conf.get(key)) == 4
    with sized_loop_partitions(spark, 10**9) as p:
        assert p == session_parts
    assert int(spark.conf.get(key)) == session_parts


def test_s9_stream_feed_walks_multiple_offsets():
    """s9's claim is INCREMENTAL delivery: the offset ladder must
    advance one table fraction per latestOffset() call, reaching the
    end in exactly _STREAM_BATCHES steps."""
    from fantasy_premier_league_spark.sources.py_datasource import (
        _STREAM_BATCHES,
        _stream_reader_cls,
    )

    reader = _stream_reader_cls()(os.path.join(SF_SMOKE, "events.parquet"))
    total = reader._total()
    offsets = []
    for _ in range(_STREAM_BATCHES + 2):
        offsets.append(reader.latestOffset()["row"])
    assert offsets[_STREAM_BATCHES - 1] == total, offsets
    assert offsets == sorted(offsets), f"offsets must be monotone: {offsets}"
    assert len({o for o in offsets[:_STREAM_BATCHES]}) == _STREAM_BATCHES, (
        f"expected {_STREAM_BATCHES} distinct incremental steps: {offsets}"
    )


def test_kmv_estimate_tracks_exact(spark):
    """The KMV union estimate must stay within the sketch's standard
    error envelope (~1/sqrt(k) ≈ 18% for k=32, take 3 sigma) of the
    exact union it ships alongside — a wildly-off estimator would still
    hash-match its oracle (both engines compute the same wrong thing),
    so accuracy needs its own pin."""
    rows = all_queries()["sketch_kmv_setops"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        if r.exact_union == 0:
            continue
        rel = abs(r.est_union - r.exact_union) / r.exact_union
        assert rel <= 0.55, (
            f"{r.type_a}/{r.type_b}: est {r.est_union} vs exact "
            f"{r.exact_union} ({rel:.2f} rel err)"
        )


def test_chunk_dedup_is_conservative_and_lossless_on_uniques(spark):
    """Span removal must (a) never grow a document and (b) keep at
    least one copy of every distinct chunk corpus-wide: sum(n_kept)
    must equal the number of DISTINCT chunks."""
    df = all_queries()["dedup_chunk_spans"](spark, SF_SMOKE)
    rows = df.collect()
    assert all(r.n_kept <= r.n_chunks for r in rows)
    total_kept = sum(r.n_kept for r in rows)
    # distinct chunk count, recomputed independently
    from fantasy_premier_league_spark.sources.testdata import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    distinct_chunks = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(0, CAST(ceil(size(t)/8) AS INT) - 1),"
                    " i -> array_join(slice(t, i*8+1, 8), ' '))"
                )
            ).alias("chunk")
        )
        .distinct()
        .count()
    )
    assert total_kept == distinct_chunks, (total_kept, distinct_chunks)


def test_chunk_spans_fails_on_an_over_limit_document(spark, tmp_path, monkeypatch):
    """A document too long for the packed (doc_id, chunk) key must fail
    the query, not vanish from it: the oracle keeps every document."""
    import pyarrow as pa
    import pytest

    from fantasy_premier_league_spark.operators import dedup

    texts = ["a b c", " ".join(f"w{i}" for i in range(40))]
    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2], pa.int64()), "text": texts}),
        str(tmp_path / "documents.parquet"),
    )
    monkeypatch.setattr(dedup, "_CHUNK_POS", 2)  # limit: 2 chunks = 16 tokens
    with pytest.raises(Exception, match="dedup_chunk_spans: document has 16"):
        dedup.dedup_chunk_spans(spark, str(tmp_path)).collect()


def test_fuzzy_search_self_similarity_wins(spark):
    """Rank 1 for every probe must carry the highest Jaccard, and all
    scores must be valid (0, 1] with rank strictly ordered."""
    rows = all_queries()["fuzzy_name_search"](spark, SF_SMOKE).collect()
    by_probe: dict = {}
    for r in rows:
        by_probe.setdefault(r.probe_key, []).append(r)
    for probe, rs in by_probe.items():
        rs.sort(key=lambda r: r.rank)
        scores = [r.trigram_jaccard for r in rs]
        assert scores == sorted(scores, reverse=True), (probe, scores)
        assert all(0 < s <= 1 for s in scores), (probe, scores)
