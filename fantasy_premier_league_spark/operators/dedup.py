"""Deduplication operators over the ``documents`` table (north-star
extension, SURVEY 2.10): exact, n-gram Jaccard, MinHash-LSH, and
SimHash.

Design for 100 TB:
- exact dedup is one hash-shuffle on a digest of the text (never
  shuffle the raw text as the key at scale -- group on sha2 and keep
  min doc_id as the canonical survivor);
- n-gram Jaccard avoids the n^2 pair space by joining on shared
  shingles (inverted-index join): only documents sharing at least one
  shingle ever meet, and hot shingles can be frequency-capped;
- MinHash-LSH reduces candidate generation to equality joins on
  (band, band-signature) buckets -- the classic shingle -> minhash ->
  band -> bucket-join pipeline, all expressible as DataFrame ops with
  a portable md5-based hash (so the DuckDB oracle computes the exact
  same signatures).

Every near-dup tier runs one filter-then-verify path (the stages below
the shingling section): collapse exact duplicates into classes, build a
signature, bucket it, self-join the buckets, verify the surviving pairs
exactly, and expand class pairs back to documents. Each stage has one
Spark spelling with its DuckDB fragment beside it; only the pruning
rule varies per tier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fantasy_premier_league_spark.functions import md5_hash, md5_hash_sql, rounded
from fantasy_premier_league_spark.plans.registry import register
from fantasy_premier_league_spark.sources.testdata import load_table

# ---------------------------------------------------------------------------
# Exact dedup: canonical-survivor selection by content digest.
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS digest, CAST(min(doc_id) AS BIGINT) AS keep_id,
           count(*) AS n_copies
    FROM documents GROUP BY md5(text) ORDER BY keep_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("digest"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .orderBy("keep_id")
    )


# ---------------------------------------------------------------------------
# Word-3-gram shingles, shared by the Jaccard and MinHash paths.
# Spark: transform(sequence) over the token array; DuckDB: list
# comprehension. Both 'tokens[i] tokens[i+1] tokens[i+2]'.
# ---------------------------------------------------------------------------


def shingles_col(text: Column) -> Column:
    # zip_with over shifted slices, NOT transform(sequence) with
    # element_at(toks, i) lambdas: expressions referenced inside a
    # higher-order-function lambda are re-evaluated per ELEMENT, so the
    # naive form re-tokenizes the document once per shingle (~200x the
    # work; measured 3-5x wall on the dedup pipeline). Here every
    # subexpression is evaluated once per row.
    toks = F.split(text, " ")
    n = F.size(toks)
    t2 = F.slice(toks, 2, F.greatest(n - 1, F.lit(0)))
    t3 = F.slice(toks, 3, F.greatest(n - 2, F.lit(0)))
    # zip_with pads the shorter side with null and concat_ws skips
    # nulls, so the tail holds 2-/1-grams -- sliced off below.
    pairs = F.zip_with(toks, t2, lambda a, b: F.concat_ws(" ", a, b))
    grams = F.zip_with(pairs, t3, lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(
        F.when(n >= 3, F.slice(grams, 1, n - 2)).otherwise(
            F.array().cast("array<string>")
        )
    )


_SHINGLES_SQL = """
      SELECT doc_id,
             list_distinct([
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
               for i in range(1, greatest(len(toks) - 1, 1))
             ]) AS shingles
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
"""


def doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # the shingle/hash pipeline is CPU-bound per row; a small parquet
    # file scans as fewer tasks than cores, which would serialize it. At
    # 100 TB maxPartitionBytes splits the scan naturally, so the
    # round-robin repartition (a shuffle of the raw text payload) is
    # gated on the scan actually under-splitting -- it only fires for
    # small-file inputs where the shuffled bytes are trivially small.
    # inputFiles() is plan metadata (no RDD materialization); the scan
    # produces at least one task per file, so fewer files than cores is
    # the exact under-split condition.
    target = spark.sparkContext.defaultParallelism
    if len(docs.inputFiles()) < target:
        docs = docs.repartition(target)
    return docs.select("doc_id", shingles_col(F.col("text")).alias("shingles"))


# ---------------------------------------------------------------------------
# The filter-then-verify stages. Every near-dup tier composes these, in
# this order: exact-duplicate classes -> signature -> band or posting
# rows -> one bucket self-join -> exact verify -> class pairs expanded
# to document pairs. The tiers differ only in the pruning rule.
# ---------------------------------------------------------------------------


def _collapse_classes(
    tagged: DataFrame, payload: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Exact-duplicate classes of a (doc_id, digest, *payload) frame.

    Returns ``(mapping, reps)``: (doc_id, cls) membership and one
    (cls, m, *payload) row per class, where cls is the minimum member
    doc_id and m the member count. Pairwise tiers must never pay twice
    for exact duplicates, so they collapse to classes before any
    O(pairs) work and expand after. cls and m come from ONE
    digest-partitioned window, i.e. one shuffle, with no groupBy and
    join back.
    """
    w = Window.partitionBy("digest")
    annotated = tagged.select(
        "doc_id",
        *payload,
        F.min("doc_id").over(w).alias("cls"),
        F.count("*").over(w).alias("m"),
    )
    mapping = annotated.select("doc_id", "cls").localCheckpoint(eager=False)
    reps = (
        annotated.filter(F.col("doc_id") == F.col("cls"))
        .select("cls", "m", *payload)
        .localCheckpoint(eager=False)  # feeds the filter AND the verify
    )
    return mapping, reps


def _shingle_classes(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Classes of documents with the same nonempty shingle list:
    ``(mapping, usets)`` with usets = (cls, m, shingles, sz). The digest
    is over the ORDERED list (first-occurrence order within the text):
    identical texts collapse; equal sets in a different order
    conservatively stay separate classes."""
    tagged = (
        doc_shingles(spark, sf_dir)
        .filter(F.size("shingles") > 0)
        .select(
            "doc_id",
            "shingles",
            F.size("shingles").alias("sz"),
            # to_json, not concat_ws(sep): a separator-joined encoding is
            # ambiguous when a token contains the separator (["a\\x1eb"]
            # vs ["a","b"] would merge distinct docs into one class and
            # emit false jaccard-1.0 pairs). JSON escapes element
            # boundaries unambiguously on both engines.
            F.md5(F.to_json(F.col("shingles")).cast("binary")).alias("digest"),
        )
        .localCheckpoint(eager=False)  # shingling feeds classes AND mapping
    )
    return _collapse_classes(tagged, ["shingles", "sz"])


# MinHash signature: shingle -> 32-bit int (md5_hash, identical in Spark
# and DuckDB), then k=8 universal-hash permutations
# h_j(x) = (a_j * x + b_j) mod p, minhash_j = min over shingles.
_P = 4294967311  # prime > 2^32
_HASHES = [(1_103_515_245 + 2 * j, 12_345 + 7 * j) for j in range(8)]


def _permutation(a: int, b: int):
    # single-arg closure: pyspark infers higher-order-function arity from
    # the lambda signature, so default-arg captures would read as 3-arg
    return lambda x: (x * a + b) % _P


def _shingle_hashes(shingles: Column) -> Column:
    return F.transform(shingles, lambda s: md5_hash(s))


def _minhash_sig(frame: DataFrame) -> DataFrame:
    """``frame`` (which has a ``shingles`` column) plus its MinHash
    signature mh0..mh7."""
    ints = frame.withColumn("xs", _shingle_hashes(F.col("shingles")))
    return ints.select(
        *frame.columns,
        *[
            F.array_min(F.transform(F.col("xs"), _permutation(a, b))).alias(f"mh{j}")
            for j, (a, b) in enumerate(_HASHES)
        ],
    )


_MINHASH_SQL = """
    sh AS ({sh}),
    ints AS (
      SELECT doc_id,
             [{h} for s in shingles] AS xs
      FROM sh
    ),
    sig AS (
      SELECT doc_id, {mins}
      FROM ints
    )""".format(
    sh=_SHINGLES_SQL,
    h=md5_hash_sql("s"),
    mins=", ".join(
        f"CAST(list_min([({a} * x + {b}) % {_P} for x in xs]) AS BIGINT) AS mh{j}"
        for j, (a, b) in enumerate(_HASHES)
    ),
)


# SimHash: 32-bit locality-sensitive fingerprint. Each shingle hash
# votes +1/-1 on every bit position; bit b of the fingerprint is the
# sign of the vote sum. Near-duplicate documents differ in only a few
# bits, so candidate pairs meet on an equality join over 8-bit bands
# (pigeonhole: hamming <= 3 guarantees at least one of 4 bands equal)
# and the exact hamming distance re-check is bit_count(xor) -- no n^2
# pair space is ever materialized, which is what makes this the
# preferred text-dedup path at 100 TB (one shuffle on band keys).
#
# Width IS the scale knob (round-6 sf1 study, BASELINE.md): at 16 bits
# the 4-bit bands had 16 buckets each, so band-bucket occupancy -- and
# with it the candidate set -- grew linearly with the corpus, and a
# random pair met hamming<=3 with p~1%, meaning most emitted "pairs"
# were collision noise. At 32 bits the 8-bit bands give 256 buckets per
# band (occupancy /16) and random pairs pass the hamming filter with
# p~1.3e-6, so emitted pairs are signal. Production sizing: grow
# signature/band width with log(corpus) to hold occupancy constant
# (64-bit simhash, 8-bit bands); the join shape is already the
# scale-correct form at any width.

_SIMHASH_BITS = 32
_BAND_BITS = _SIMHASH_BITS // 4


def simhash_col(xs: Column) -> Column:
    """32-bit simhash of an array<long> of feature hashes.

    Empty feature arrays fold to vote-sum 0 on every bit, i.e. the
    all-ones fingerprint -- deterministic on both engines.
    """
    def _vote(b: int):
        # two-arg closure: pyspark infers higher-order-function arity
        # from the lambda signature (default-arg captures break it)
        return lambda acc, x: acc + (
            F.shiftright(x, b).bitwiseAND(F.lit(1)) * 2 - 1
        )

    fp = F.lit(0)
    for b in range(_SIMHASH_BITS):
        vote = F.aggregate(xs, F.lit(0).cast("long"), _vote(b))
        fp = fp + F.when(vote >= 0, F.lit(1 << b)).otherwise(F.lit(0))
    return fp


_SIMHASH_SQL_BITS = " + ".join(
    f"""CASE WHEN coalesce(list_sum(
          [CASE WHEN (x >> {b}) & 1 = 1 THEN 1 ELSE -1 END for x in xs]
        ), 0) >= 0 THEN {1 << b} ELSE 0 END"""
    for b in range(_SIMHASH_BITS)
)

# Documents with an empty shingle set (<3 tokens) are left out: their
# vote sums are all 0, so they share the all-ones fingerprint and every
# short-doc pair would meet as a hamming-0 "near-dup" (an O(k^2) blow-up
# with no similarity signal).
_SIMHASH_BANDS_SQL = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    ints AS (
      SELECT doc_id,
             [{md5_hash_sql("s")} for s in shingles] AS xs
      FROM sh WHERE len(shingles) > 0
    ),
    sig AS (
      SELECT doc_id, {_SIMHASH_SQL_BITS} AS simhash
      FROM ints
    )

    , bands AS (
      SELECT doc_id, simhash, band,
             (simhash >> ({_BAND_BITS} * band)) & {(1 << _BAND_BITS) - 1} AS band_val
      FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band)
    )"""


def _simhash_bands(sh: DataFrame) -> DataFrame:
    """(doc_id, simhash, band, band_val): the four 8-bit bands of the
    32-bit simhash of each (doc_id, shingles) row of ``sh``. The voting
    fold is the CPU-hot stage and feeds both sides of every band join,
    so the tiny (doc_id, simhash) table is materialized once."""
    ints = sh.select("doc_id", _shingle_hashes(F.col("shingles")).alias("xs"))
    sig = ints.select("doc_id", simhash_col(F.col("xs")).alias("simhash"))
    mask = (1 << _BAND_BITS) - 1
    return _banded(
        sig.localCheckpoint(),
        "doc_id",
        [F.shiftright("simhash", _BAND_BITS * b).bitwiseAND(mask) for b in range(4)],
        carry=["simhash"],
    )


def _banded(
    sig: DataFrame, ident: str, bands: list[Column], carry: list[str] = ()
) -> DataFrame:
    """One (ident, *carry, band, band_val) row per band of each signature
    row, ``bands[b]`` being band b's value. Two rows fall in one bucket
    when they agree on (band, band_val)."""
    return sig.select(
        ident, *carry, F.posexplode(F.array(*bands)).alias("band", "band_val")
    )


def _bucket_pairs(rows: DataFrame, ident: str, bucket: list[str]) -> DataFrame:
    """Every pair of ``rows`` equal on the ``bucket`` columns, with
    a.ident < b.ident; the sides are aliased ``a`` and ``b``. Both sides
    carry shuffle_hash: the bucket self-join must never broadcast (each
    side is the full corpus at scale), and identical exchanges let AQE
    reuse the first side's exchange, so what feeds it runs once."""
    a = rows.alias("a").hint("shuffle_hash")
    b = rows.alias("b").hint("shuffle_hash")
    return a.join(
        b,
        [F.col(f"a.{c}") == F.col(f"b.{c}") for c in bucket]
        + [F.col(f"a.{ident}") < F.col(f"b.{ident}")],
    )


def _capped_postings(posting: DataFrame, token: str, max_df: int) -> DataFrame:
    """The rows of a class posting table (cls, m, token) whose token
    occurs in at most ``max_df`` DOCUMENTS. A hot token (boilerplate,
    stop-word runs) would otherwise make a quadratic posting bucket at
    100 TB. Summing member counts m, not classes, keeps the cap the
    doc-level one the oracles encode."""
    dfreq = posting.groupBy(token).agg(F.sum("m").alias("df"))
    return posting.join(dfreq.hint("shuffle_hash"), token).filter(
        F.col("df") <= max_df
    )


def _capped_postings_sql(posting: str, token: str, max_df: int) -> str:
    """The DuckDB twin of ``_capped_postings`` over a doc-level posting
    relation ``posting(doc_id, token)`` with one row per document and
    token."""
    return f"""SELECT doc_id, {token} FROM {posting}
      QUALIFY count(*) OVER (PARTITION BY {token}) <= {max_df}"""


def _posting_pairs(
    posting: DataFrame, token: str, carry: list[str] = ()
) -> DataFrame:
    """(c1, c2, <carry>1, <carry>2, n_common): every pair c1 < c2 of
    posting entities (``cls``) that share a token, with the number of
    tokens they share. Only pairs that meet on a posting list are ever
    materialized."""
    sides = [
        F.col(f"{s}.{c}").alias(f"{c}{i}") for c in carry for i, s in ((1, "a"), (2, "b"))
    ]
    return (
        _bucket_pairs(posting, "cls", [token])
        .groupBy(F.col("a.cls").alias("c1"), F.col("b.cls").alias("c2"), *sides)
        .agg(F.count("*").alias("n_common"))
    )


def _set_jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    return inter.cast("double") / (F.size(a) + F.size(b) - inter)


def _set_jaccard_sql(a: str, b: str) -> str:
    return (
        f"CAST(len(list_intersect({a}, {b})) AS DOUBLE)"
        f" / (len({a}) + len({b}) - len(list_intersect({a}, {b})))"
    )


def _with_sides(
    pairs: DataFrame,
    rows: DataFrame,
    cols: list[str],
    ends: tuple[str, str] = ("c1", "c2"),
    key: str = "cls",
    hint: str = "shuffle_hash",
) -> DataFrame:
    """``pairs`` with both ends' ``cols`` from ``rows`` (keyed by
    ``key``): column x of the first end as x1, of the second as x2. The
    exact verify reads what the filter stage already built."""
    for i, end in enumerate(ends, 1):
        side = rows.select(
            F.col(key).alias(end), *[F.col(c).alias(f"{c}{i}") for c in cols]
        )
        pairs = pairs.join(side.hint(hint), end)
    return pairs


def _doc_pairs(
    mapping: DataFrame, cpairs: DataFrame, same: DataFrame
) -> DataFrame:
    """Document pairs (doc1 < doc2, scores...) from verified class pairs
    (c1, c2, scores...). Each class pair expands to its members' cross
    pairs (classes are disjoint, so least/greatest cannot collide), and
    each class in ``same`` (cls, scores...) adds the pairs among its
    own, identical, members with that row's scores."""
    scores = [c for c in cpairs.columns if c not in ("c1", "c2")]
    m1 = mapping.select(F.col("cls").alias("c1"), F.col("doc_id").alias("d1"))
    m2 = mapping.select(F.col("cls").alias("c2"), F.col("doc_id").alias("d2"))
    cross = (
        cpairs.join(m1.hint("shuffle_hash"), "c1")
        .join(m2.hint("shuffle_hash"), "c2")
        .select(
            F.least("d1", "d2").alias("doc1"),
            F.greatest("d1", "d2").alias("doc2"),
            *scores,
        )
    )
    within = (
        _bucket_pairs(mapping, "doc_id", ["cls"])
        .join(
            same.withColumnRenamed("cls", "s_cls").hint("shuffle_hash"),
            F.col("a.cls") == F.col("s_cls"),
        )
        .select(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"), *scores)
    )
    return cross.unionByName(within)


def _within_token_limit(toks: Column, limit: int, query: str) -> Column:
    """``toks``, or a raise_error for a document of ``limit`` or more
    tokens. Position keys packed below a document or hash value overflow
    past the limit -- identically on both engines, so the oracle cannot
    see it -- and a filter would drop the document silently. No testdata
    SF holds such a document; a 100 TB deployment shards giant documents
    upstream or widens the packing."""
    return F.when(F.size(toks) < F.lit(limit), toks).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{query}: document has {limit} or more tokens, its packed "
                      "position keys would overflow: doc_id="),
                F.col("doc_id").cast("string"),
            )
        )
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup: inverted-index candidate join.
# jaccard(A,B) = |A n B| / (|A| + |B| - |A n B|); only pairs sharing a
# shingle are materialized. Threshold 0.2 keeps the result non-trivial
# on the synthetic corpus.
#
# Hot-shingle cap: a shingle appearing in more than _MAX_SHINGLE_DF
# documents (boilerplate, stop-word runs) is dropped from the posting
# list BEFORE the self-join -- at 100 TB one ubiquitous 3-gram would
# otherwise create a quadratic posting bucket. Jaccard is then computed
# over the CAPPED shingle sets on both engines (sizes recomputed after
# the cap), so the capped semantics are themselves oracle-gated.
# ---------------------------------------------------------------------------

_MAX_SHINGLE_DF = 100

# the capped posting self-join shared by the jaccard and containment oracles
_CAPPED_INTER_SQL = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    posting AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    capped AS (
      {_capped_postings_sql("posting", "shingle", _MAX_SHINGLE_DF)}
    ),
    sized AS (
      SELECT doc_id, shingle, count(*) OVER (PARTITION BY doc_id) AS sz
      FROM capped
    ),
    inter AS (
      SELECT a.doc_id AS doc1, b.doc_id AS doc2,
             a.sz AS sz1, b.sz AS sz2, count(*) AS n_common
      FROM sized a JOIN sized b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )"""


def _capped_class_sized(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(mapping, sized): the df-capped class posting table (cls,
    shingle, sz) shared by the jaccard and containment joins, sz being
    the class's count of surviving shingles."""
    mapping, usets = _shingle_classes(spark, sf_dir)
    posting = usets.select("cls", "m", F.explode("shingles").alias("shingle"))
    sized = _capped_postings(posting, "shingle", _MAX_SHINGLE_DF).select(
        "cls",
        "shingle",
        F.count("*").over(Window.partitionBy("cls")).alias("sz"),
    ).localCheckpoint(eager=False)  # feeds the pair join AND the within pairs
    return mapping, sized


@register(
    "dedup_ngram_jaccard",
    oracle=_CAPPED_INTER_SQL
    + """
    SELECT doc1, doc2,
           round(CAST(n_common AS DOUBLE) / (sz1 + sz2 - n_common), 6) AS jaccard
    FROM inter
    WHERE CAST(n_common AS DOUBLE) / (sz1 + sz2 - n_common) >= 0.2
    ORDER BY doc1, doc2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index Jaccard join over exact-dup classes. Identical
    documents pair at jaccard 1.0, but only in classes with at least one
    cap-surviving shingle: a doc whose capped set is empty has no
    posting rows, and so no pairs, in the doc-level oracle either."""
    mapping, sized = _capped_class_sized(spark, sf_dir)
    inter = _posting_pairs(sized, "shingle", ["sz"])
    jac = F.col("n_common").cast("double") / (
        F.col("sz1") + F.col("sz2") - F.col("n_common")
    )
    cpairs = inter.filter(jac >= 0.2).select(
        "c1", "c2", rounded(jac, 6).alias("jaccard")
    )
    same = sized.select("cls").distinct().withColumn("jaccard", F.lit(1.0))
    return _doc_pairs(mapping, cpairs, same).orderBy("doc1", "doc2")


@register(
    "dedup_minhash_signatures",
    oracle=f"""
    WITH {_MINHASH_SQL}
    SELECT * FROM sig ORDER BY doc_id
    """,
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _minhash_sig(doc_shingles(spark, sf_dir))
    return sig.drop("shingles").orderBy("doc_id")


# ---------------------------------------------------------------------------
# MinHash-LSH: banding (4 bands x 2 rows) turns near-dup candidate
# generation into equality joins on the band signature. Shared CTE
# chain: documents -> shingles -> minhash signatures -> LSH bands ->
# distinct candidate pairs (reused by the clustering oracles).
# ---------------------------------------------------------------------------

_LSH_CAND_CTES = _MINHASH_SQL + """,
    bands AS (
      SELECT doc_id, 0 AS band, mh0 AS r0, mh1 AS r1 FROM sig
      UNION ALL SELECT doc_id, 1, mh2, mh3 FROM sig
      UNION ALL SELECT doc_id, 2, mh4, mh5 FROM sig
      UNION ALL SELECT doc_id, 3, mh6, mh7 FROM sig
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.r0 = b.r0 AND a.r1 = b.r1
       AND a.doc_id < b.doc_id
    )
"""


def _lsh_class_candidates(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(mapping, sig, cpairs): distinct (c1 < c2) LSH band-collision
    pairs over exact-dup classes, and the per-class signature table sig
    = (cls, m, shingles, sz, mh0..mh7) they were banded from.

    Same pairs as the doc-level join: identical lists give identical
    signatures, so every cross-class doc pair is a band collision iff
    its class pair is; within-class (identical-doc) pairs always collide
    on every band; and docs with EMPTY shingle lists -- excluded by
    _shingle_classes -- produce null minhashes in the doc-level form,
    which null-equality drops from the join identically.
    """
    mapping, usets = _shingle_classes(spark, sf_dir)
    sig = _minhash_sig(usets).localCheckpoint(eager=False)  # bands AND verify
    # a band's value is its two-row array: arrays compare element-wise
    bands = _banded(
        sig, "cls", [F.array(f"mh{2 * b}", f"mh{2 * b + 1}") for b in range(4)]
    )
    cpairs = (
        _bucket_pairs(bands, "cls", ["band", "band_val"])
        .select(F.col("a.cls").alias("c1"), F.col("b.cls").alias("c2"))
        .distinct()
    )
    return mapping, sig, cpairs


@register(
    "dedup_minhash_lsh_candidates",
    oracle=f"""
    WITH {_LSH_CAND_CTES}
    SELECT doc1, doc2 FROM cand ORDER BY doc1, doc2
    """,
)
def dedup_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    mapping, _, cpairs = _lsh_class_candidates(spark, sf_dir)
    same = mapping.select("cls").distinct()
    return _doc_pairs(mapping, cpairs, same).orderBy("doc1", "doc2")


@register(
    "dedup_simhash_pairs",
    oracle=_SIMHASH_BANDS_SQL
    + """
    SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY doc1, doc2
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = doc_shingles(spark, sf_dir).filter(F.size("shingles") > 0)
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("int")
    return (
        _bucket_pairs(_simhash_bands(sh), "doc_id", ["band", "band_val"])
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
        .orderBy("doc1", "doc2")
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster assignment: connected components over the MinHash-LSH
# candidate graph by min-label propagation WITH POINTER JUMPING. Each doc
# in any candidate pair gets cluster = min doc_id reachable through
# candidate edges, i.e. one canonical survivor per duplicate cluster --
# the step a training-data pipeline runs AFTER candidate generation to
# pick keepers.
#
# At 100 TB: per round, one edge-join + min-agg (neighbor propagation)
# and one label-composition join (lbl <- lbl(lbl), the pointer-jumping
# step of Shiloach-Vishkin-style CC; cf. Kiveris et al., "Connected
# Components in MapReduce and Beyond", SoCC'14) -- path lengths double
# each round, so a diameter-d chain converges in O(log d) rounds, not
# O(d). The driver loop only reads a scalar checksum per round -- no row
# data ever reaches the driver. Convergence is detected by sum(lbl):
# labels are node-id minima, so the sum is strictly decreasing until the
# fixpoint; an unchanged sum means the propagation step moved nothing,
# i.e. every node already holds its component minimum. localCheckpoint
# every _CKPT_EVERY rounds truncates the logical lineage so the plan
# does not grow linearly with rounds (at scale the growing plan alone
# would stall the driver). Non-convergence within _MAX_ROUNDS raises:
# the DuckDB recursive-CTE oracle computes the exact fixpoint, so a
# silently-partial result must never reach the gate.
# ---------------------------------------------------------------------------

_MAX_ROUNDS = 15  # pointer jumping: covers diameter ~2^15 per component
_CKPT_EVERY = 3


def _cc_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One CC round: neighbor min-propagation then pointer jumping.

    Factored out so tests/test_plan_quality.py can pin the per-round
    physical plan (both equi-joins as ShuffledHashJoin, zero
    SortMergeJoin -- the r5 hand-audit that removed 25 per-loop sorts,
    now a regression test). Both per-round joins carry shuffle_hash
    hints: label tables are equi-joined on exact keys and nothing
    downstream needs sort order, so the default SortMergeJoin pays 2
    sorts per join x rounds for nothing. At scale the build side is
    the per-partition label slice, which is exactly what fits.
    """
    # 1) neighbor propagation: lbl(v) <- min(lbl(v), min_{u->v} lbl(u))
    prop = edges.join(
        labels.hint("shuffle_hash"), F.col("src") == F.col("node")
    ).select(F.col("dst").alias("node"), F.col("lbl"))
    stepped = (
        labels.unionByName(prop).groupBy("node").agg(F.min("lbl").alias("lbl"))
    )
    # 2) pointer jumping: lbl(v) <- lbl(lbl(v)). Every label IS a
    # node id (minima over node ids, init lbl=node), so composing
    # the mapping with itself is a plain equi-join; path-to-minimum
    # lengths double per round.
    m = stepped.select(F.col("node").alias("m_node"), F.col("lbl").alias("m_lbl"))
    return stepped.join(
        m.hint("shuffle_hash"), F.col("lbl") == F.col("m_node")
    ).select("node", F.col("m_lbl").alias("lbl"))


# the recursive-CTE fixpoint: every candidate-graph node labelled with
# the minimum doc_id it reaches (shared by both cluster oracles)
_CLUSTER_LABELS_SQL = f"""
    WITH RECURSIVE {_LSH_CAND_CTES},
    edges AS (
      SELECT doc1 AS src, doc2 AS dst FROM cand
      UNION SELECT doc2, doc1 FROM cand
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lbl) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.node = e.src
    ),
    lab AS (
      SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster
      FROM reach GROUP BY node
    )"""


@register(
    "dedup_cluster_components",
    oracle=_CLUSTER_LABELS_SQL + """
    SELECT doc_id, cluster FROM lab ORDER BY doc_id
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the CLASS-level candidate graph:
    exact-duplicate twins share one node, so the fixpoint
    loop runs over distinct shingle lists -- on twin-heavy corpora the
    graph shrinks ~|dup factor|x and the per-round joins with it.
    Labels expand back through the membership mapping at the end.

    Identical to doc-level CC: a component's label is its minimum
    doc_id, class ids ARE minimum member doc_ids, so min-cls over the
    class component equals min-doc over the doc component. Classes with
    >=2 members but no cross-class edge are their own doc-level
    components (their members pair only with each other), labelled cls
    directly; singleton classes with no edges are absent from the raw
    output and stay absent here.
    """
    mapping, _, cpairs = _lsh_class_candidates(spark, sf_dir)
    edges = cpairs.select(
        F.col("c1").alias("src"), F.col("c2").alias("dst")
    ).unionByName(
        cpairs.select(F.col("c2").alias("src"), F.col("c1").alias("dst"))
    )
    # candidate generation is expensive (shingle -> minhash -> band
    # join); materialize the edge list ONCE and cut its lineage, so no
    # per-round job re-plans the generation pipeline
    edges = edges.localCheckpoint(eager=True)
    # the loop runs 2 joins + 1 agg PER ROUND over the (usually small)
    # label table: size the per-round reducers to the edge count, not
    # the session default (count is free on the checkpointed edges)
    from fantasy_premier_league_spark.functions import sized_loop_partitions

    prev_sum = None
    converged = False
    with sized_loop_partitions(spark, edges.count()) as parts:
        # cache the edge list HASH-PARTITIONED ON src at the loop's
        # reducer count (r17, guide §2.4 "share one exchange"): the
        # propagation join requires src-hash distribution, and an
        # InMemoryTableScan preserves its cached plan's
        # outputPartitioning (localCheckpoint does NOT under AQE --
        # LogicalRDD comes back UnknownPartitioning, verified on this
        # build), so every round's ShuffledHashJoin probes the cached
        # edges WITHOUT re-shuffling them -- the BIG side at corpus
        # scale, previously one edge-list exchange per round. One tiny
        # shuffle of the already-checkpointed pairs buys rounds x
        # |edges| shuffle removal. REPARTITION_BY_NUM is exempt from
        # AQE coalescing, so the partition count stays aligned with
        # the loop's reducer count and co-partitioning holds.
        edges = edges.repartition(parts, "src").cache()
        # label init inherits the src partitioning: the distinct's
        # final aggregate runs exchange-free on the cached layout
        labels = (
            edges.select(F.col("src").alias("node")).distinct()
            .withColumn("lbl", F.col("node"))
            .localCheckpoint(eager=True)
        )
        for rnd in range(1, _MAX_ROUNDS + 1):
            jumped = _cc_round(edges, labels)
            if rnd % _CKPT_EVERY == 0:
                jumped = jumped.localCheckpoint(eager=False)
            else:
                jumped = jumped.cache()
            # single scalar action per round: materializes `jumped` and
            # reads the monotone checksum (labels only ever decrease, so
            # an unchanged sum == no label moved == fixpoint)
            cur_sum = jumped.agg(F.sum("lbl")).collect()[0][0]
            labels.unpersist()
            labels = jumped
            if cur_sum is None:  # empty candidate graph: trivially converged
                converged = True
                break
            if prev_sum is not None and cur_sum == prev_sum:
                converged = True
                break
            prev_sum = cur_sum
        # the final labels are materialized (the convergence collect ran
        # through them), so nothing recomputes through the edge cache --
        # release it instead of pinning a corpus-scale edge list in
        # executor storage for the rest of the session (ADVICE r17)
        edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected components did not converge in {_MAX_ROUNDS} rounds"
        )
    # classes with >=2 members but no cross-class edge: own components,
    # label = cls (their members' only candidate pairs are within-class)
    multi = (
        mapping.groupBy("cls")
        .agg(F.count("*").alias("m"))
        .filter(F.col("m") >= 2)
        .select(F.col("cls").alias("node"))
    )
    extra = multi.join(
        labels.select("node"), "node", "left_anti"
    ).withColumn("lbl", F.col("node"))
    all_labels = labels.select("node", "lbl").unionByName(extra)
    return (
        mapping.join(
            all_labels.hint("shuffle_hash"), mapping["cls"] == all_labels["node"]
        )
        .select("doc_id", F.col("lbl").alias("cluster"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Keep-best exact dedup: beyond detecting duplicate groups
# (dedup_exact), choose WHICH physical copy survives -- the canonical
# "representative selection" step before a training run. Policy:
# longest text wins, doc_id breaks ties (deterministic on both
# engines). One shuffle on the digest; the argmax is a row_number
# window inside each digest group, never a self-join.
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_keep_best",
    oracle="""
    SELECT md5(text) AS digest,
           CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS n_copies,
           doc_id AS kept_doc
    FROM documents
    QUALIFY row_number() OVER (PARTITION BY md5(text)
                               ORDER BY length(text) DESC, doc_id) = 1
    ORDER BY digest
    """,
)
def dedup_exact_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        F.md5(F.col("text").cast("binary")).alias("digest"),
        F.length("text").alias("n_chars_m"),
        "doc_id",
    )
    w = Window.partitionBy("digest").orderBy(F.col("n_chars_m").desc(), "doc_id")
    cnt = Window.partitionBy("digest")
    return (
        docs.withColumn("n_copies", F.count("*").over(cnt))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("digest", "n_copies", F.col("doc_id").alias("kept_doc"))
        .orderBy("digest")
    )


# ---------------------------------------------------------------------------
# MinHash accuracy readout: for every LSH candidate pair, the k=8
# slot-match Jaccard ESTIMATE next to the EXACT shingle-set Jaccard --
# the dedup twin of ann_lsh_recall. This is the calibration query a
# pipeline runs before picking the similarity threshold: with k=8 the
# estimate is quantized to eighths, and seeing estimate-vs-exact side
# by side (oracle-checked on both engines) is what justifies the
# banding parameters. Candidates only -- the exact Jaccard runs on the
# LSH-pruned pair set, never all pairs.
# ---------------------------------------------------------------------------

_SLOTS_SQL = " + ".join(f"CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END" for j in range(8))


@register(
    "dedup_minhash_accuracy",
    oracle=f"""
    WITH {_LSH_CAND_CTES}
    SELECT c.doc1, c.doc2,
           CAST({_SLOTS_SQL} AS BIGINT) AS n_match_slots,
           round(CAST({_SLOTS_SQL} AS DOUBLE) / 8, 6) AS est_jaccard,
           round({_set_jaccard_sql("sa.shingles", "sb.shingles")}, 6) AS exact_jaccard
    FROM cand c
    JOIN sig a ON a.doc_id = c.doc1
    JOIN sig b ON b.doc_id = c.doc2
    JOIN sh sa ON sa.doc_id = c.doc1
    JOIN sh sb ON sb.doc_id = c.doc2
    ORDER BY doc1, doc2
    """,
)
def dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scores each class-level candidate pair once, from the signatures
    and shingle lists candidate generation already built, then expands
    to doc pairs. Members of one class share their shingle list, so
    their pairs match on all 8 slots and score 1.0 both ways."""
    mapping, sig, cpairs = _lsh_class_candidates(spark, sf_dir)
    both = _with_sides(cpairs, sig, ["shingles", *[f"mh{j}" for j in range(8)]])
    matches = sum(
        F.when(F.col(f"mh{j}1") == F.col(f"mh{j}2"), 1).otherwise(0) for j in range(8)
    )
    scored = both.select(
        "c1",
        "c2",
        matches.cast("long").alias("n_match_slots"),
        rounded(matches.cast("double") / 8, 6).alias("est_jaccard"),
        rounded(_set_jaccard(F.col("shingles1"), F.col("shingles2")), 6).alias(
            "exact_jaccard"
        ),
    )
    same = mapping.select("cls").distinct().select(
        "cls",
        F.lit(8).cast("long").alias("n_match_slots"),
        F.lit(1.0).alias("est_jaccard"),
        F.lit(1.0).alias("exact_jaccard"),
    )
    return _doc_pairs(mapping, scored, same).orderBy("doc1", "doc2")


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity join (AllPairs/PPJoin probe prefix;
# Bayardo et al. WWW'07, Xiao et al. WWW'08): for Jaccard >= t, two
# sets must share a token within their first |s| - ceil(t*|s|) + 1
# tokens under ANY global total order — so the inverted index is built
# over PREFIXES only. Ordering tokens rarest-first makes those prefixes
# the rarest tokens, collapsing posting-list sizes; the exact Jaccard
# then verifies candidates only.
#
# Unlike the df-cap (dedup_ngram_jaccard) and LSH (minhash/simhash)
# tiers, prefix filtering is LOSSLESS — and the oracle is the
# brute-force all-pairs Jaccard, so losslessness is itself the
# differential gate: any missed pair hash-mismatches.
#
# Scale: one shuffle on shingle (df), one on doc_id (per-doc rank),
# the candidate join runs on prefix posting lists (O((1-t)|s|) tokens
# per doc), and verification touches candidates only.
# ---------------------------------------------------------------------------

_PF_T = 0.5


@register(
    "dedup_prefix_filter_pairs",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL.replace("shingles", "s")}),
    nz AS (SELECT doc_id, s FROM sh WHERE len(s) > 0)
    SELECT a.doc_id AS doc1, b.doc_id AS doc2,
           round({_set_jaccard_sql("a.s", "b.s")}, 6) AS jaccard
    FROM nz a JOIN nz b ON a.doc_id < b.doc_id
    WHERE {_set_jaccard_sql("a.s", "b.s")} >= {_PF_T}
    ORDER BY doc1, doc2
    """,
)
def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless prefix-filtered similarity join over exact-dup classes.

    The candidate/verify machinery runs once per distinct shingle list
    and surviving class pairs expand back to doc pairs; the brute-force
    oracle is the doc-level join. Collapsing first is what keeps the
    sf10 replica alive: it gives every document ~4 identical twins, and
    verifying every doc pair re-shipped ~1 KB of shingle arrays 16x per
    base pair (~400 GB of shuffle); now the duplicate mass survives only
    as OUTPUT rows. This is also the production ordering: exact dedup
    always precedes near-dup.
    """
    mapping, usets = _shingle_classes(spark, sf_dir)
    posting = usets.select("cls", "sz", F.explode("shingles").alias("shingle"))
    dfreq = posting.groupBy("shingle").agg(F.count("*").alias("df"))
    # global rarest-first total order (df, shingle); per-class rank
    # under it selects the probe prefix |s| - ceil(t|s|) + 1
    ranked = posting.join(dfreq.hint("shuffle_hash"), "shingle").withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("cls").orderBy("df", "shingle")),
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("sz") - F.ceil(_PF_T * F.col("sz")) + 1
    ).select("cls", "shingle")
    cand = (
        _bucket_pairs(prefix, "cls", ["shingle"])
        .select(F.col("a.cls").alias("c1"), F.col("b.cls").alias("c2"))
        .distinct()
    )
    jac = _set_jaccard(F.col("shingles1"), F.col("shingles2"))
    cpairs = (
        _with_sides(cand, usets, ["shingles"])
        .filter(jac >= _PF_T)
        .select("c1", "c2", rounded(jac, 6).alias("jaccard"))
    )
    # lossless, and _shingle_classes keeps nonempty lists only, so EVERY
    # class emits its within-class pairs (identical docs always share
    # their prefix tokens in the doc-level form)
    same = mapping.select("cls").distinct().withColumn("jaccard", F.lit(1.0))
    return _doc_pairs(mapping, cpairs, same).orderBy("doc1", "doc2")


# ---------------------------------------------------------------------------
# Chunk-level (line-level) exact dedup, CCNet / Lee-et-al style: the
# corpus-wide pass that removes REPEATED SPANS (boilerplate, headers,
# duplicated passages) from otherwise-unique documents, not whole-doc
# copies. Documents here are single-space word streams with no line
# breaks, so the "line" unit is a fixed window of _CHUNK_TOKENS
# consecutive tokens -- same shape, same plan.
#
# Scale design: one shuffle partitioned by chunk TEXT decides first
# occurrence (the window over a chunk group is bounded by that chunk's
# global frequency -- the heavy tail is exactly the boilerplate being
# removed, and the min() aggregate over it is a partial-agg-friendly
# reduction, not a sort); one shuffle by doc_id reassembles. The
# rebuilt text never round-trips through the driver, and the output
# carries an md5 of the cleaned text rather than the text itself so the
# result stays O(rows), not O(corpus bytes).
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 8
_CHUNK_POS = 1 << 20  # chunk index packed below doc_id; see _within_token_limit


@register(
    "dedup_chunk_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    chunks AS (
      SELECT doc_id, CAST(u.i AS BIGINT) AS idx,
             array_to_string(t[(u.i*{_CHUNK_TOKENS}+1):(u.i*{_CHUNK_TOKENS}+{_CHUNK_TOKENS})], ' ') AS chunk
      FROM toks,
           unnest(generate_series(0, CAST(ceil(len(t)/{_CHUNK_TOKENS}.0) AS BIGINT)-1)) u(i)
    ),
    marked AS (
      SELECT doc_id, idx, chunk,
             CASE WHEN doc_id*{_CHUNK_POS}+idx =
                       min(doc_id*{_CHUNK_POS}+idx) OVER (PARTITION BY chunk)
                  THEN 1 ELSE 0 END AS kept
      FROM chunks
    )
    SELECT doc_id,
           count(*) AS n_chunks,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           md5(coalesce(string_agg(CASE WHEN kept=1 THEN chunk END,
                                   ' ' ORDER BY idx), '')) AS clean_digest,
           CAST(length(coalesce(string_agg(CASE WHEN kept=1 THEN chunk END,
                                           ' ' ORDER BY idx), '')) AS BIGINT) AS clean_chars
    FROM marked GROUP BY doc_id ORDER BY doc_id
    """,
)
def dedup_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remove globally-repeated token chunks, keep first occurrence.

    First occurrence is the (doc_id, chunk_idx)-minimal copy, encoded
    as one packed BIGINT so the per-chunk decision is a single min()
    (map-side combinable). The packed key needs idx < _CHUNK_POS: a
    longer document fails the query (_within_token_limit) rather than
    corrupting keys or silently dropping out.

    Capability extension (north star): the reference app has no corpus
    operators; SURVEY 2.10 adds the LLM-pipeline tier this belongs to.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        _within_token_limit(
            F.split("text", " "), _CHUNK_POS * _CHUNK_TOKENS, "dedup_chunk_spans"
        ).alias("t"),
    )
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.ceil(F.size("t") / _CHUNK_TOKENS).cast("int") - 1),
                lambda i: F.array_join(F.slice("t", i * _CHUNK_TOKENS + 1, _CHUNK_TOKENS), " "),
            )
        ).alias("idx", "chunk"),
    ).select("doc_id", F.col("idx").cast("long").alias("idx"), "chunk")
    key = F.col("doc_id") * _CHUNK_POS + F.col("idx")
    marked = chunks.withColumn(
        "kept", (key == F.min(key).over(Window.partitionBy("chunk"))).cast("int")
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("kept").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.filter(
                        F.array_sort(F.collect_list(F.struct("idx", "kept", "chunk"))),
                        lambda s: s["kept"] == 1,
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("clean"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_kept",
            F.md5(F.col("clean").cast("binary")).alias("clean_digest"),
            F.length("clean").cast("long").alias("clean_chars"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Containment near-dup: asymmetric set overlap |A n B| / min(|A|, |B|)
# over the df-capped shingle sets. Symmetric Jaccard misses the
# subset-document case a crawl corpus is full of (a short page embedded
# verbatim inside a longer aggregation page): with |A| << |B| the union
# term drowns the overlap, while containment stays ~1. Same
# inverted-index candidate join as dedup_ngram_jaccard -- only pairs
# sharing a surviving shingle are materialized, hot shingles capped at
# _MAX_SHINGLE_DF before the self-join -- so the pair space stays
# linear in posting-list mass at 100 TB. Both scores ship side by side;
# the interesting rows are high containment + low Jaccard.
# ---------------------------------------------------------------------------

_CONTAIN_T = 0.5


@register(
    "dedup_containment_pairs",
    oracle=_CAPPED_INTER_SQL
    + f"""
    SELECT doc1, doc2,
           round(CAST(n_common AS DOUBLE) / least(sz1, sz2), 6) AS containment,
           round(CAST(n_common AS DOUBLE) / (sz1 + sz2 - n_common), 6) AS jaccard
    FROM inter
    WHERE CAST(n_common AS DOUBLE) / least(sz1, sz2) >= {_CONTAIN_T}
    ORDER BY doc1, doc2
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment join over exact-dup classes, on the same capped class
    postings as dedup_ngram_jaccard (and the same within-class rule:
    only classes with a cap-surviving shingle pair up). Without the
    collapse the sf10 replica's ~4 identical twins per doc multiplied
    pair enumeration 16x; duplicate mass now survives only as output
    rows."""
    mapping, sized = _capped_class_sized(spark, sf_dir)
    inter = _posting_pairs(sized, "shingle", ["sz"])
    contain = F.col("n_common").cast("double") / F.least("sz1", "sz2")
    jac = F.col("n_common").cast("double") / (
        F.col("sz1") + F.col("sz2") - F.col("n_common")
    )
    cpairs = inter.filter(contain >= _CONTAIN_T).select(
        "c1",
        "c2",
        rounded(contain, 6).alias("containment"),
        rounded(jac, 6).alias("jaccard"),
    )
    same = sized.select("cls").distinct().select(
        "cls", F.lit(1.0).alias("containment"), F.lit(1.0).alias("jaccard")
    )
    return _doc_pairs(mapping, cpairs, same).orderBy("doc1", "doc2")


# ---------------------------------------------------------------------------
# Cluster representative selection: the near-dup analog of
# dedup_exact_keep_best. Connected components over the LSH candidate
# graph assign every near-duplicate document a cluster label; this
# query then picks WHICH member of each cluster survives (longest text
# wins, doc_id breaks ties) -- the final emit step of a dedup pipeline,
# where everything not in `kept_doc` is dropped from the training set.
# The labels table (one row per clustered doc) joins docs on doc_id --
# an equi join Catalyst broadcasts at gate scale; at 100 TB it degrades
# gracefully to a hash join co-partitioned on doc_id. The argmax is a
# row_number window inside each cluster, never a self-join.
# ---------------------------------------------------------------------------


@register(
    "dedup_cluster_keep_best",
    oracle=_CLUSTER_LABELS_SQL + """
    SELECT cluster, n_members, kept_doc, kept_chars FROM (
      SELECT l.cluster,
             CAST(count(*) OVER (PARTITION BY l.cluster) AS BIGINT) AS n_members,
             d.doc_id AS kept_doc,
             CAST(length(d.text) AS BIGINT) AS kept_chars,
             row_number() OVER (PARTITION BY l.cluster
                                ORDER BY length(d.text) DESC, d.doc_id) AS rn
      FROM lab l JOIN documents d ON l.doc_id = d.doc_id
    ) WHERE rn = 1 ORDER BY cluster
    """,
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = dedup_cluster_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("kept_chars")
    )
    member = labels.join(docs, "doc_id")
    w = Window.partitionBy("cluster").orderBy(
        F.col("kept_chars").desc(), F.col("doc_id")
    )
    cnt = Window.partitionBy("cluster")
    return (
        member.withColumn("n_members", F.count("*").over(cnt))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster", "n_members", F.col("doc_id").alias("kept_doc"), "kept_chars"
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# SimHash accuracy readout over a BOUNDED PROBE SET: for every banded
# candidate pair involving one of the _CAL_PROBES probe documents, the
# 32-bit sign-agreement estimate next to the EXACT shingle Jaccard --
# the simhash twin of dedup_minhash_accuracy, completing the
# calibration tier. Charikar's bound makes agreement = 1 - hamming/32
# the similarity proxy; seeing it against exact Jaccard on real
# candidates is what justifies the hamming<=3 cutoff
# dedup_simhash_pairs uses.
#
# Why probes (the ann_lsh_recall design, r7): banded candidates are
# birthday-quadratic -- |docs|^2 / 2^band_bits per band -- and a
# calibration that exact-verifies EVERY candidate ships two full
# shingle arrays per pair: the all-candidates form died of shuffle-
# spill disk at sf10 (~130M candidate pairs x ~1.8 KB). A calibration
# is a measurement, not a dedup pass: a fixed probe set makes the
# work |probes| x per-band collision lists -- linear in the corpus --
# while sampling candidates from the true banded distribution.
# ---------------------------------------------------------------------------

_CAL_PROBES = 64


@register(
    "dedup_simhash_accuracy",
    oracle=_SIMHASH_BANDS_SQL
    + f""",
    cand AS (
      SELECT DISTINCT p.doc_id AS probe_doc, b.doc_id AS other_doc,
             CAST(bit_count(xor(p.simhash, b.simhash)) AS INT) AS hamming
      FROM bands p JOIN bands b
        ON p.band = b.band AND p.band_val = b.band_val
       AND p.doc_id <> b.doc_id
      WHERE p.doc_id < {_CAL_PROBES}
    )
    SELECT c.probe_doc, c.other_doc, c.hamming,
           round(1.0 - CAST(c.hamming AS DOUBLE) / {_SIMHASH_BITS}, 6)
             AS est_agreement,
           round({_set_jaccard_sql("sp.shingles", "so.shingles")}, 6) AS exact_jaccard
    FROM cand c
    JOIN sh sp ON sp.doc_id = c.probe_doc
    JOIN sh so ON so.doc_id = c.other_doc
    ORDER BY probe_doc, other_doc
    """,
)
def dedup_simhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = (
        doc_shingles(spark, sf_dir)
        .filter(F.size("shingles") > 0)
        .localCheckpoint(eager=False)  # feeds the simhash AND the verify
    )
    bands = _simhash_bands(sh)
    probes = bands.filter(F.col("doc_id") < _CAL_PROBES).select(
        F.col("doc_id").alias("probe_doc"),
        F.col("simhash").alias("p_simhash"),
        "band",
        "band_val",
    )
    hamming = F.bit_count(
        F.col("p_simhash").bitwiseXOR(F.col("simhash"))
    ).cast("int")
    # bounded probe frame broadcasts; the corpus-side band lists stream
    # past it -- |probes| x per-band collision lists, never pair^2
    cand = (
        F.broadcast(probes)
        .join(bands, ["band", "band_val"])
        .filter(F.col("probe_doc") != F.col("doc_id"))
        .select(
            "probe_doc",
            F.col("doc_id").alias("other_doc"),
            hamming.alias("hamming"),
        )
        .distinct()
    )
    sides = _with_sides(cand, sh, ["shingles"], ("probe_doc", "other_doc"), "doc_id")
    return sides.select(
        "probe_doc",
        "other_doc",
        "hamming",
        rounded(
            F.lit(1.0) - F.col("hamming").cast("double") / _SIMHASH_BITS, 6
        ).alias("est_agreement"),
        rounded(_set_jaccard(F.col("shingles1"), F.col("shingles2")), 6).alias(
            "exact_jaccard"
        ),
    ).orderBy("probe_doc", "other_doc")


# ---------------------------------------------------------------------------
# Corpus-level source overlap matrix: shingle-set Jaccard between every
# pair of SOURCES -- the dataset-audit readout a training-mixture
# curator runs before weighting sources (two crawls with 0.9 overlap
# should not both get full weight; cf. docs_source_mix). Doc-level
# dedup (the operators above) cannot see this: each source's shingle
# INVENTORY is the unit here, not documents.
#
# Scale shape: one distinct-shuffle to (source, shingle), then the pair
# counts come from a posting-list equi-join ON shingle whose per-key
# fan-out is bounded by |sources|^2 (sources are a handful; with
# thousands of sources the df-cap of dedup_ngram_jaccard applies
# unchanged). The corpus text itself is touched exactly once.
# ---------------------------------------------------------------------------


@register(
    "corpus_source_overlap",
    oracle=f"""
    WITH ds AS (
      SELECT DISTINCT source, unnest(shingles) AS shingle FROM (
        SELECT source,
               [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                for i in range(1, greatest(len(toks) - 1, 1))] AS shingles
        FROM (SELECT source, string_split(text, ' ') AS toks FROM documents)
      )
    ),
    sizes AS (SELECT source, count(*) AS n FROM ds GROUP BY source),
    inter AS (
      SELECT a.source AS src1, b.source AS src2, count(*) AS n_common
      FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.src1, i.src2,
           CAST(sa.n AS BIGINT) AS n1, CAST(sb.n AS BIGINT) AS n2,
           CAST(i.n_common AS BIGINT) AS n_common,
           round(CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common), 6)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.src1
    JOIN sizes sb ON sb.source = i.src2
    ORDER BY src1, src2
    """,
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # the distinct posting table feeds three consumers (sizes + both
    # join sides); materialize it once or the corpus is shingled and
    # distinct-shuffled three times
    ds = (
        docs.select(
            F.col("source").alias("cls"),
            F.explode(shingles_col(F.col("text"))).alias("shingle"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = ds.groupBy("cls").agg(F.count("*").alias("n"))
    inter = _posting_pairs(ds, "shingle")
    return (
        _with_sides(inter, sizes, ["n"], hint="broadcast")
        .select(
            F.col("c1").alias("src1"),
            F.col("c2").alias("src2"),
            "n1",
            "n2",
            F.col("n_common").cast("long").alias("n_common"),
            rounded(
                F.col("n_common").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("src1", "src2")
    )
