"""Text analysis operators over ``documents`` (north-star extension,
SURVEY 2.10): token stats, quality scoring, language-ID heuristic,
document fingerprinting.

All pure column expressions -- whole-stage codegen end to end, no
Python. At 100 TB these are embarrassingly parallel projections +
one low-cardinality aggregate; the only shuffle is the final groupBy
where present.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fantasy_premier_league_spark.functions import md5_hash, md5_hash_sql, rounded
from fantasy_premier_league_spark.operators.dedup import (
    _capped_postings,
    _capped_postings_sql,
    _collapse_classes,
    _doc_pairs,
    _posting_pairs,
    _within_token_limit,
)
from fantasy_premier_league_spark.plans.registry import register
from fantasy_premier_league_spark.sources.testdata import load_table

_STOPWORDS = ("the", "a", "data", "value")
_FP_PRIME = 1_000_003

# ---------------------------------------------------------------------------
# Token counting + quality scoring. Documents are single-space-joined
# word streams, so whitespace tokenization is exact; char stats via
# translate() (portable: Spark and DuckDB both delete unmapped chars).
# quality = stopword-ratio and mean-word-length band checks, the
# standard cheap pre-LLM corpus filters.
# ---------------------------------------------------------------------------


def _tok(text: Column) -> Column:
    return F.split(text, " ")


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id, lang, source,
           -- INTEGER: Spark size()/length() are int32; the driver's
           -- pandas fetch path distinguishes widths (r12 preflight)
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER)
             AS n_distinct_tokens,
           CAST(length(text) AS INTEGER) AS n_chars_measured,
           round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / len(string_split(text, ' ')), 6) AS mean_word_len,
           round(CAST(len(list_filter(string_split(text, ' '),
                           t -> t IN {_STOPWORDS})) AS DOUBLE)
                 / len(string_split(text, ' ')), 6) AS stopword_ratio
    FROM documents ORDER BY doc_id
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _tok(F.col("text"))
    n_tokens = F.size(toks)
    return docs.select(
        "doc_id",
        "lang",
        "source",
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars_measured"),
        rounded(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / n_tokens, 6
        ).alias("mean_word_len"),
        rounded(
            F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("double") / n_tokens, 6
        ).alias("stopword_ratio"),
    ).orderBy("doc_id")


@register(
    "text_quality_filter",
    oracle=f"""
    WITH stats AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS distinct_ratio,
             CAST(len(list_filter(string_split(text, ' '),
                      t -> t IN {_STOPWORDS})) AS DOUBLE)
               / len(string_split(text, ' ')) AS stop_ratio
      FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(count(CASE WHEN n_tokens >= 20 AND distinct_ratio >= 0.3
                           AND stop_ratio <= 0.5 THEN 1 END) AS BIGINT) AS n_kept,
           round(avg(distinct_ratio), 6) AS avg_distinct_ratio
    FROM stats GROUP BY source ORDER BY source
    """,
)
def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _tok(F.col("text"))
    n_tokens = F.size(toks)
    stats = docs.select(
        "source",
        n_tokens.alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / n_tokens).alias("distinct_ratio"),
        (F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("double") / n_tokens).alias(
            "stop_ratio"
        ),
    )
    kept = (
        (F.col("n_tokens") >= 20) & (F.col("distinct_ratio") >= 0.3) & (F.col("stop_ratio") <= 0.5)
    )
    return (
        stats.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(kept, 1)).alias("n_kept"),
            rounded(F.avg("distinct_ratio"), 6).alias("avg_distinct_ratio"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Language-ID heuristic: character-class n-gram scoring reduced to a
# portable vowel/consonant-profile rule (the corpus is synthetic, so the
# point is the declared-vs-predicted confusion matrix shape, not real
# linguistics). Agreement with the declared `lang` column is reported.
# ---------------------------------------------------------------------------


@register(
    "text_lang_id",
    oracle="""
    WITH feat AS (
      SELECT doc_id, lang,
             CAST(length(text) - length(translate(text, 'aeiou', '')) AS DOUBLE)
               / nullif(length(replace(text, ' ', '')), 0) AS vowel_ratio,
             CAST(len(list_filter(string_split(text, ' '), t -> t = 'the')) AS DOUBLE)
               / len(string_split(text, ' ')) AS the_ratio
      FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(count(CASE WHEN (CASE WHEN the_ratio > 0.05 THEN 'en'
                                      WHEN vowel_ratio >= 0.40 THEN 'es'
                                      ELSE 'other' END) = lang
                      THEN 1 END) AS BIGINT) AS n_heuristic_match,
           round(avg(vowel_ratio), 6) AS avg_vowel_ratio
    FROM feat GROUP BY lang ORDER BY lang
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    letters = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    vowel_ratio = (
        (F.length("text") - F.length(F.translate(F.col("text"), "aeiou", ""))).cast("double")
        / F.nullif(letters, F.lit(0))
    )
    the_ratio = (
        F.size(F.filter(_tok(F.col("text")), lambda t: t == "the")).cast("double")
        / F.size(_tok(F.col("text")))
    )
    predicted = (
        F.when(the_ratio > 0.05, "en").when(vowel_ratio >= 0.40, "es").otherwise("other")
    )
    feat = docs.select(
        "lang", vowel_ratio.alias("vowel_ratio"), (predicted == F.col("lang")).alias("hit")
    )
    return (
        feat.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("hit"), 1)).alias("n_heuristic_match"),
            rounded(F.avg("vowel_ratio"), 6).alias("avg_vowel_ratio"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Document fingerprint: position-weighted polynomial hash over tokens
# (rolling-hash family), fully portable: token atom = 31*len(token) +
# ascii(first char); fingerprint = sum(pos * atom) mod P. posexplode in
# Spark zips exactly with DuckDB's aligned unnest(list)/unnest(range).
# ---------------------------------------------------------------------------


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           CAST(sum(pos * (31 * length(tok) + ascii(tok[1]))) % {_FP_PRIME} AS BIGINT)
             AS fingerprint,
           count(*) AS n_tokens
    FROM (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
      FROM documents
    )
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    exploded = docs.select(
        "doc_id", F.posexplode(_tok(F.col("text"))).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    atom = 31 * F.length("tok") + F.ascii(F.substring("tok", 1, 1))
    return (
        exploded.groupBy("doc_id")
        .agg(
            (F.sum(F.col("pos") * atom) % _FP_PRIME).cast("long").alias("fingerprint"),
            F.count("*").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Deterministic hash-split sampling: the reproducible train/val/test
# split primitive. At 100 TB a random() sample is neither reproducible
# nor resumable; hashing a stable key means the SAME documents land in
# the sample on every run, on any cluster, with no coordination -- and
# the split composes with incremental ingestion (new docs hash
# independently). Portable hash: first 8 hex chars of md5 of the doc_id
# string, mod 100 -> a stable percentile; stratum = lang comes along
# for per-language accounting.
# ---------------------------------------------------------------------------


def _doc_pct() -> Column:
    return F.pmod(md5_hash(F.col("doc_id")), F.lit(100))


_DOC_PCT_SQL = md5_hash_sql("CAST(doc_id AS VARCHAR)") + " % 100"


@register(
    "sample_hash_split",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_DOC_PCT_SQL} < 10
    ORDER BY doc_id
    """,
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(_doc_pct() < 10).select("doc_id", "lang").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Vocabulary top-k: global token frequencies (the vocab/BPE-prep pass of
# a text pipeline). One explode -> groupBy(token) with map-side combine
# -> TakeOrderedAndProject: the shuffle carries one row per (partition,
# token), and the top-k never global-sorts.
# ---------------------------------------------------------------------------


@register(
    "text_vocab_topk",
    oracle="""
    SELECT tok, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok ORDER BY n DESC, tok LIMIT 20
    """,
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(_tok(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Composed corpus-cleaning pipeline: the end-to-end shape a pre-LLM
# training-data job actually runs -- quality gate -> language gate ->
# exact dedup -> per-source accounting -- as ONE declarative plan, so
# Catalyst fuses the gates into the scan and the only shuffles are the
# dedup groupBy (on the 16-byte digest, never raw text) and the final
# tiny per-source aggregate. Survivor per duplicate set = lowest
# doc_id, made engine-portable with min/min_by on the unique id.
# ---------------------------------------------------------------------------


@register(
    "docs_clean_pipeline",
    oracle=f"""
    WITH gated AS (
      SELECT doc_id, source, md5(text) AS digest,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
      WHERE lang = 'en'
        AND len(string_split(text, ' ')) >= 20
        AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / len(string_split(text, ' ')) >= 0.3
        AND CAST(len(list_filter(string_split(text, ' '),
                     t -> t IN {_STOPWORDS})) AS DOUBLE)
              / len(string_split(text, ' ')) <= 0.5
    ),
    dedup AS (
      SELECT min(doc_id) AS doc_id,
             min_by(source, doc_id) AS source,
             min_by(n_tokens, doc_id) AS n_tokens
      FROM gated GROUP BY digest
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(CAST(sum(n_tokens) AS DOUBLE) / count(*), 6) AS avg_tokens
    FROM dedup GROUP BY source ORDER BY source
    """,
)
def docs_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _tok(F.col("text"))
    n_tokens = F.size(toks)
    gated = docs.filter(F.col("lang") == "en").select(
        "doc_id",
        "source",
        F.md5(F.col("text").cast("binary")).alias("digest"),
        n_tokens.alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / n_tokens).alias("dr"),
        (F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("double") / n_tokens).alias(
            "sr"
        ),
    ).filter(
        (F.col("n_tokens") >= 20) & (F.col("dr") >= 0.3) & (F.col("sr") <= 0.5)
    )
    dedup = gated.groupBy("digest").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("source", "doc_id").alias("source"),
        F.min_by("n_tokens", "doc_id").alias("n_tokens"),
    )
    return (
        dedup.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            rounded(F.sum("n_tokens").cast("double") / F.count("*"), 6).alias("avg_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Stratified hash sampling: per-language rates (downsample the dominant
# language, keep the tail) -- the corpus-balancing step of a
# multilingual training mix. Same reproducible-md5-percentile machinery
# as sample_hash_split, with the rate looked up per stratum: stable
# under re-runs, composes with incremental ingestion, needs no
# coordination across 1000 executors (each row decides for itself).
# ---------------------------------------------------------------------------

_STRATA_RATES = {"en": 20, "zh": 80, "es": 80, "de": 80, "fr": 80}  # percent


@register(
    "sample_stratified",
    oracle=f"""
    SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled
    FROM documents
    WHERE {_DOC_PCT_SQL}
          < CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in _STRATA_RATES.items())}
            ELSE 50 END
    GROUP BY lang ORDER BY lang
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rate = F.lit(50)
    for k, v in _STRATA_RATES.items():
        rate = F.when(F.col("lang") == k, v).otherwise(rate)
    return (
        docs.filter(_doc_pct() < rate)
        .groupBy("lang")
        .agg(F.count("*").alias("n_sampled"))
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (the MOSS near-dup/plagiarism primitive,
# Schleimer et al. 2003): hash every word 3-gram, slide a w=4 window
# over the hash sequence, keep each window's minimum. Guarantees any
# shared run of >= w+2 words between two documents shares a
# fingerprint, with ~2/(w+1) selection density. Tie-break is exact on
# both engines by packing (hash, pos) into ONE integer key --
# hash * 2^20 + pos -- and taking the plain min, so "smallest hash,
# leftmost position" needs no engine-specific argmin semantics.
# Scale shape: shingle+hash are per-row projections (codegen); the
# window min runs per-document after one shuffle on doc_id; DISTINCT
# collapses the w-fold duplication before anything leaves the executor.
# ---------------------------------------------------------------------------

_WINNOW_W = 4
_POS_BITS = 1 << 20


def _winnow_selected(docs: DataFrame) -> DataFrame:
    """Distinct selected (doc_id, k) winnowing keys of a documents
    frame, k = hash32 * 2^20 + pos. Factored out so the pairs operator
    can winnow class REPRESENTATIVES only (exact-dup collapse).
    """
    # shingle construction stays inside codegen: split ONCE into a
    # token array, then transform() -- no self-join, no Python. The
    # size guard matters: Spark's sequence(0, -1) DESCENDS instead of
    # returning empty. pos gets the low 20 bits of the packed key.
    toks = docs.select(
        "doc_id",
        _within_token_limit(
            F.split("text", " "), _POS_BITS, "dedup_winnowing_pairs"
        ).alias("t"),
    )
    shingled = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "CASE WHEN size(t) >= 3 THEN"
                " transform(sequence(0, size(t) - 3),"
                " i -> concat_ws(' ', t[i], t[i + 1], t[i + 2]))"
                " ELSE array() END"
            )
        ).alias("pos0", "shingle"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "shingle")
    k = md5_hash(F.col("shingle")) * _POS_BITS + F.col("pos")
    keyed = shingled.select("doc_id", "pos", k.alias("k"))
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, _WINNOW_W - 1)
    )
    return keyed.select("doc_id", F.min("k").over(win).alias("k")).distinct()


# ---------------------------------------------------------------------------
# Winnowing near-dup candidates (the MOSS pairing step): documents
# sharing >= _WINNOW_SHARED selected fingerprints are duplicate
# candidates. Same inverted-index shape as the MinHash-LSH and shingle
# dedup tiers: join on the fingerprint posting list, never all-pairs --
# candidate count is bounded by the posting-list bucket sizes, and a
# frequency cap drops degenerate fingerprints shared by everything
# (the hot-shingle discipline from dedup_ngram_jaccard applied here).
# ---------------------------------------------------------------------------

_WINNOW_SHARED = 2
_WINNOW_MAXDF = 50  # fingerprints in more docs than this are stop-patterns


@register(
    "dedup_winnowing_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    pos AS (
      SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS pos
      FROM toks
    ),
    keyed AS (
      SELECT doc_id, pos,
             {md5_hash_sql("t[pos] || ' ' || t[pos + 1] || ' ' || t[pos + 2]")}
               * {_POS_BITS} + pos AS k
      FROM pos
    ),
    sel AS (
      SELECT DISTINCT doc_id,
             min(k) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING)
               AS k
      FROM keyed
    ),
    fps AS (
      SELECT DISTINCT doc_id, CAST(k // {_POS_BITS} AS BIGINT) AS fp FROM sel
    ),
    live AS ({_capped_postings_sql("fps", "fp", _WINNOW_MAXDF)}),
    pairs AS (
      SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_shared
      FROM live a JOIN live b USING (fp)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= {_WINNOW_SHARED}
    )
    SELECT doc1, doc2, CAST(n_shared AS BIGINT) AS n_shared
    FROM pairs ORDER BY doc1, doc2
    """,
)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing posting join over exact-dup classes: identical texts
    share identical fingerprint sets, so winnowing, the df count and the
    pair self-join run once per distinct text, and class pairs expand
    back through the membership mapping at the end. The df cap counts
    DOCUMENTS as in the doc-level join (_capped_postings); members of
    one class share the class's live-fingerprint count, and pair up
    when that count clears _WINNOW_SHARED.

    Classes use the text digest (not the shingle-list digest of the
    jaccard tier) because winnowing keys depend on token POSITIONS, not
    just the shingle set."""
    docs = load_table(spark, sf_dir, "documents")
    mapping, reps = _collapse_classes(
        docs.select("doc_id", F.md5(F.col("text").cast("binary")).alias("digest")), []
    )
    rep_docs = docs.join(reps.select(F.col("cls").alias("doc_id")), "doc_id", "leftsemi")
    fps = (
        _winnow_selected(rep_docs)
        .select(
            F.col("doc_id").alias("cls"),
            (F.col("k") / _POS_BITS).cast("long").alias("fp"),
        )
        .distinct()
    )
    # the shingle + window pipeline is the costly stage and the posting
    # table feeds both the df count and the capped join: build it once
    posting = fps.join(reps.select("cls", "m").hint("shuffle_hash"), "cls").localCheckpoint()
    live = _capped_postings(posting, "fp", _WINNOW_MAXDF)
    cpairs = (
        _posting_pairs(live, "fp")
        .filter(F.col("n_common") >= _WINNOW_SHARED)
        .select("c1", "c2", F.col("n_common").alias("n_shared"))
    )
    same = (
        live.groupBy("cls")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= _WINNOW_SHARED)
    )
    return _doc_pairs(mapping, cpairs, same).orderBy("doc1", "doc2")


# ---------------------------------------------------------------------------
# Sequence packing: chunk the ordered token stream into fixed
# token-budget bins (the LLM-training batch-prep step: concatenate
# documents, split every _PACK_BUDGET tokens). A document's bin is
# floor(tokens_before_it / budget), i.e. an exclusive prefix sum --
# and prefix sums are THE canonical "looks sequential, isn't" pattern:
# the naive form is one global-ordered window (single partition,
# driver-sized at 100 TB), so the Spark side computes it
# hierarchically -- per-group running sums within doc_id blocks, plus
# a tiny cross-group offset table (|groups| rows) that joins back
# broadcast. Identical arithmetic to the oracle's flat window, scale
# behavior of a two-level scan.
# ---------------------------------------------------------------------------

_PACK_BUDGET = 2048
_PACK_GROUP = 100  # doc_ids per prefix-sum block


@register(
    "docs_pack_sequences",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ),
    placed AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS tokens_before
      FROM sized
    )
    SELECT CAST(tokens_before // {_PACK_BUDGET} AS BIGINT) AS bin,
           count(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_started
    FROM placed GROUP BY 1 ORDER BY bin
    """,
)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        (F.col("doc_id") / _PACK_GROUP).cast("long").alias("g"),
    )
    within_w = (
        Window.partitionBy("g")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = sized.withColumn("within_incl", F.sum("n_tokens").over(within_w))
    group_w = (
        Window.partitionBy(F.lit(0))
        .orderBy("g")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = (
        sized.groupBy("g")
        .agg(F.sum("n_tokens").alias("g_total"))
        .withColumn("offset", F.sum("g_total").over(group_w) - F.col("g_total"))
        .select("g", "offset")
    )
    placed = within.join(F.broadcast(offsets), "g").withColumn(
        "tokens_before", F.col("offset") + F.col("within_incl") - F.col("n_tokens")
    )
    return (
        placed.groupBy(
            (F.col("tokens_before") / _PACK_BUDGET).cast("long").alias("bin")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.sum("n_tokens").alias("tokens_started"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Subword token accounting: the "BPE-ish regex" counting pass promised
# next to whitespace counting (SURVEY 2.10) -- greedy fixed-width
# chunking ('[a-z]{1,3}') as a stand-in for a merged-vocab tokenizer,
# because real BPE merges are corpus-stateful and deliberately out of
# scope for a differential gate. Both engines run the IDENTICAL regex
# (simple character classes behave the same in Java regex and RE2), so
# the per-document subword counts and the corpus compression ratio are
# exact. Pure projection + one low-cardinality agg: whole-stage
# codegen, no shuffle until the final 1-row-per-source rollup.
# ---------------------------------------------------------------------------

_SUBWORD_RE = "[a-z]{1,3}"


@register(
    "text_subword_stats",
    oracle=f"""
    WITH per_doc AS (
      SELECT doc_id, source,
             len(regexp_extract_all(text, '{_SUBWORD_RE}', 0)) AS n_subwords,
             len(string_split(text, ' ')) AS n_words
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_subwords) AS BIGINT) AS total_subwords,
           round(CAST(sum(n_subwords) AS DOUBLE) / sum(n_words) * 1000000)
             / 1000000 AS subwords_per_word
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def text_subword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.size(F.regexp_extract_all("text", F.lit(_SUBWORD_RE), 0)).alias("n_subwords"),
        F.size(F.split("text", " ")).alias("n_words"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_subwords").alias("total_subwords"),
            rounded(
                F.sum("n_subwords").cast("double") / F.sum("n_words"), 6
            ).alias("subwords_per_word"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Training-mix sampling: draw a corpus mixture with PER-SOURCE rates
# (the "20% web, 40% code, ..." knob of a pretraining data recipe) by
# hash-thresholding each document against its source's rate. Like
# sample_hash_split this is coordination-free and reproducible at
# 100 TB -- the SAME documents are drawn on any cluster, any run, and
# the draw composes with incremental ingestion; unlike a per-source
# random sample there is no per-source global count/shuffle at all:
# the mixture is a single scan-side filter, and the source's rate is a
# pure function of its name (here: 10/20/30/40% by source index mod
# 4), so adding a new source requires no re-plan.
# ---------------------------------------------------------------------------


@register(
    "docs_source_mix",
    oracle=f"""
    WITH rated AS (
      SELECT doc_id, source, lang,
             {_DOC_PCT_SQL}
               AS pct,
             10 * (1 + CAST(substr(source, 4) AS INT) % 4) AS rate
      FROM documents
    )
    SELECT doc_id, source, lang FROM rated
    WHERE pct < rate ORDER BY doc_id
    """,
)
def docs_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rate = 10 * (1 + F.pmod(F.substring("source", 4, 10).cast("int"), F.lit(4)))
    return (
        docs.filter(_doc_pct() < rate)
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Corpus unigram language-model scoring: the classic cheap "perplexity
# proxy" quality signal -- score every document by the mean surprisal
# of its tokens under the corpus's own unigram distribution (high =
# rare-token-heavy / junk, low = stopword soup). Two aggregations and
# one token-keyed join; nothing leaves the JVM.
#
# Cross-engine float discipline: ln() is not correctly-rounded and the
# JVM and DuckDB libms may differ by 1 ulp, so per-token surprisal is
# snapped to a 1e-9 grid ONCE (vocab-sized, ~thousands of values) and
# every downstream aggregate is an exact BIGINT sum of grid units --
# the same scaled-integer recipe as graph_pagerank. The final mean is
# one correctly-rounded division per doc.
#
# Scale: the vocab table is Zipf-skewed but tiny relative to the
# corpus (token-keyed join after per-doc pre-aggregation, so the fan-in
# per hot token is |docs containing it|, not |occurrences|). At 100 TB
# the vocab may exceed broadcast size -- shuffle_hash keeps the join
# a hash build over the small side without a sort on the corpus side.
# ---------------------------------------------------------------------------


@register(
    "docs_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    doc_tok AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS cnt
      FROM tok GROUP BY doc_id, token
    ),
    vocab AS (
      SELECT token, CAST(sum(cnt) AS BIGINT) AS c FROM doc_tok GROUP BY token
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM vocab),
    units AS (
      SELECT token,
             CAST(round((ln(CAST((SELECT total FROM tot) AS DOUBLE))
                         - ln(CAST(c AS DOUBLE))) * 1000000000) AS BIGINT) AS u
      FROM vocab
    )
    SELECT d.doc_id,
           CAST(sum(d.cnt) AS BIGINT) AS n_tokens,
           round(CAST(sum(d.cnt * u.u) AS DOUBLE) / sum(d.cnt) / 1000000000
                 * 1000000) / 1000000 AS mean_surprisal_nats
    FROM doc_tok d JOIN units u USING (token)
    GROUP BY d.doc_id ORDER BY doc_id
    """,
)
def docs_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    doc_tok = (
        docs.select("doc_id", F.explode(_tok(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("cnt"))
    )
    vocab = doc_tok.groupBy("token").agg(F.sum("cnt").alias("c"))
    total = vocab.agg(F.sum("c").alias("total"))
    units = vocab.crossJoin(F.broadcast(total)).select(
        "token",
        F.round(
            (F.log(F.col("total").cast("double")) - F.log(F.col("c").cast("double")))
            * 1_000_000_000
        )
        .cast("long")
        .alias("u"),
    )
    return (
        doc_tok.join(units.hint("shuffle_hash"), "token")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            rounded(
                F.sum(F.col("cnt") * F.col("u")).cast("double")
                / F.sum("cnt")
                / 1_000_000_000,
                6,
            ).alias("mean_surprisal_nats"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Bigram-LM surprisal: the step up from the unigram proxy toward the
# CCNet/KenLM perplexity filter -- score each document by the mean
# -ln P(w2|w1) of its ADJACENT token pairs under the corpus's own
# add-1-smoothed bigram model (P = (c(w1,w2)+1) / (c(w1)+V)). Context
# order is what the unigram score cannot see: a document of common
# words in implausible order now scores high.
#
# Determinism: identical recipe to docs_unigram_logprob -- ln() runs
# once per DISTINCT bigram (bigram-vocab-sized), snaps to the 1e-9
# grid, and every per-doc aggregate is an exact BIGINT unit sum; the
# final mean is one correctly-rounded division.
#
# Scale: adjacency comes from one lag window partitioned by doc_id
# (bounded by document length -- never global); the model tables are
# bigram-vocab-sized aggregates joined back token-pair-keyed AFTER
# per-doc pre-aggregation (fan-in per hot bigram = |docs containing
# it|). At 100 TB the bigram vocab outgrows broadcast AND memory:
# production caps it to the top-V bigrams by count with unigram
# backoff for the tail (the df-cap recipe, dedup.py) -- the smoothing
# floor already defines the OOV probability, so the cap only coarsens
# rare-pair scores. shuffle_hash keeps both model joins hash builds
# without sorting the corpus side.
# ---------------------------------------------------------------------------


@register(
    "docs_bigram_logprob",
    oracle="""
    WITH ts AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    big AS (
      SELECT doc_id, b['w1'] AS w1, b['w2'] AS w2 FROM (
        SELECT doc_id,
               unnest([{'w1': ts[i], 'w2': ts[i + 1]}
                       for i in range(1, len(ts))]) AS b
        FROM ts
      )
    ),
    tokc AS (
      SELECT CAST(count(DISTINCT t) AS BIGINT) AS v
      FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
    ),
    doc_big AS (
      SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS cnt
      FROM big GROUP BY doc_id, w1, w2
    ),
    bg AS (SELECT w1, w2, CAST(sum(cnt) AS BIGINT) AS c12
           FROM doc_big GROUP BY w1, w2),
    ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bg GROUP BY w1),
    units AS (
      SELECT b.w1, b.w2,
             CAST(round((ln(CAST(c.c1 + (SELECT v FROM tokc) AS DOUBLE))
                         - ln(CAST(b.c12 + 1 AS DOUBLE)))
                        * 1000000000) AS BIGINT) AS u
      FROM bg b JOIN ctx c USING (w1)
    )
    SELECT d.doc_id, CAST(sum(d.cnt) AS BIGINT) AS n_bigrams,
           round(CAST(sum(d.cnt * u.u) AS DOUBLE) / sum(d.cnt) / 1000000000
                 * 1000000) / 1000000 AS mean_surprisal_nats
    FROM doc_big d JOIN units u USING (w1, w2)
    GROUP BY d.doc_id ORDER BY doc_id
    """,
)
def docs_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(_tok(F.col("text"))).alias("pos", "w1")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    doc_big = (
        tok.withColumn("w2", F.lead("w1").over(w))
        .filter(F.col("w2").isNotNull())
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").alias("cnt"))
    )
    bg = doc_big.groupBy("w1", "w2").agg(F.sum("cnt").alias("c12"))
    ctx = bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab_n = (
        docs.select(F.explode(_tok(F.col("text"))).alias("t"))
        .agg(F.countDistinct("t").alias("v"))
    )
    units = (
        bg.join(ctx.hint("shuffle_hash"), "w1")
        .crossJoin(F.broadcast(vocab_n))
        .select(
            "w1",
            "w2",
            F.round(
                (
                    F.log((F.col("c1") + F.col("v")).cast("double"))
                    - F.log((F.col("c12") + 1).cast("double"))
                )
                * 1_000_000_000
            )
            .cast("long")
            .alias("u"),
        )
    )
    return (
        doc_big.join(units.hint("shuffle_hash"), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            rounded(
                F.sum(F.col("cnt") * F.col("u")).cast("double")
                / F.sum("cnt")
                / 1_000_000_000,
                6,
            ).alias("mean_surprisal_nats"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Temperature-scaled source mixing weights: given per-source token
# shares p_s, the sampling weights w_s = p_s^alpha / sum(p^alpha)
# (alpha < 1 upsamples small high-quality sources -- the multilingual/
# domain re-balancing rule from GPT-3/XLM-R-style training recipes).
# The whole query is two low-cardinality aggregates over a corpus scan;
# pow() output snaps to the 1e-9 grid (|sources| values) and the
# normalization is integer-exact, same discipline as above.
# ---------------------------------------------------------------------------

_MIX_ALPHA = 0.7


@register(
    "docs_temperature_mix",
    oracle=f"""
    WITH src AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM src),
    wu AS (
      SELECT source, n_docs, n_tokens,
             CAST(round(pow(CAST(n_tokens AS DOUBLE)
                            / (SELECT total FROM tot), {_MIX_ALPHA})
                        * 1000000000) AS BIGINT) AS w_units
      FROM src
    )
    SELECT source, n_docs, n_tokens,
           round(CAST(n_tokens AS DOUBLE) / (SELECT total FROM tot)
                 * 1000000) / 1000000 AS p_raw,
           round(CAST(w_units AS DOUBLE) / (SELECT sum(w_units) FROM wu)
                 * 1000000) / 1000000 AS p_mix
    FROM wu ORDER BY source
    """,
)
def docs_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(_tok(F.col("text")))).alias("n_tokens"),
    )
    total = src.agg(F.sum("n_tokens").alias("total"))
    wu = src.crossJoin(F.broadcast(total)).withColumn(
        "w_units",
        F.round(
            F.pow(F.col("n_tokens").cast("double") / F.col("total"), F.lit(_MIX_ALPHA))
            * 1_000_000_000
        ).cast("long"),
    )
    wsum = wu.agg(F.sum("w_units").alias("w_total"))
    return (
        wu.crossJoin(F.broadcast(wsum))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            rounded(F.col("n_tokens").cast("double") / F.col("total"), 6).alias("p_raw"),
            rounded(F.col("w_units").cast("double") / F.col("w_total"), 6).alias("p_mix"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# In-engine trained language classifier + confusion matrix: add-1
# smoothed multinomial Naive Bayes over unigrams, trained on the corpus
# itself (per-lang token log-likelihoods + log priors), every document
# scored against all |langs| candidates and argmaxed, then evaluated as
# the (true_lang, pred_lang) confusion matrix -- the train/predict/
# evaluate loop of a data-quality pipeline, executed entirely as
# DataFrame algebra with no driver round-trip.
#
# Determinism: identical to docs_unigram_logprob -- every ln() output
# snaps to a 1e-9 integer grid at vocab granularity, doc scores are
# exact BIGINT sums of grid units, argmax ties break on lang order.
#
# Scale: the model (lang x token log-prob table) is |langs| * |vocab|
# rows -- the candidate join keys on token, hot tokens fan to
# |docs containing t| * |langs|, never |occurrences|; the corpus-side
# shuffle is the same one doc_tok aggregation every text query shares.
# ---------------------------------------------------------------------------


@register(
    "text_nb_lang_confusion",
    oracle="""
    WITH dt AS (
      SELECT doc_id, lang, t AS token, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT doc_id, lang, unnest(string_split(text,' ')) AS t FROM documents)
      GROUP BY 1,2,3
    ),
    lf AS (SELECT lang, token, CAST(sum(cnt) AS BIGINT) AS c FROM dt GROUP BY 1,2),
    sl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS s FROM lf GROUP BY 1),
    v AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS vocab FROM lf),
    pri AS (SELECT lang, CAST(count(*) AS BIGINT) AS nd FROM documents GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    u AS (
      SELECT lf.lang AS u_lang, lf.token AS u_token,
             CAST(round(ln((CAST(lf.c AS DOUBLE)+1) / (sl.s + (SELECT vocab FROM v)))
                        * 1000000000) AS BIGINT) AS u
      FROM lf JOIN sl ON lf.lang = sl.lang
    ),
    cand AS (
      SELECT sl.lang AS cand_lang,
             CAST(round(ln(1.0 / (sl.s + (SELECT vocab FROM v))) * 1000000000) AS BIGINT) AS fb,
             CAST(round(ln(CAST(pri.nd AS DOUBLE) / (SELECT n FROM tot)) * 1000000000) AS BIGINT) AS prior_u
      FROM sl JOIN pri ON sl.lang = pri.lang
    ),
    scored AS (
      SELECT dt.doc_id, dt.lang AS true_lang, c.cand_lang,
             sum(dt.cnt * coalesce(u.u, c.fb)) + any_value(c.prior_u) AS score
      FROM dt CROSS JOIN cand c
      LEFT JOIN u ON u.u_lang = c.cand_lang AND u.u_token = dt.token
      GROUP BY 1,2,3
    ),
    pred AS (
      SELECT doc_id, true_lang, cand_lang,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand_lang) AS rn
      FROM scored
    )
    SELECT true_lang, cand_lang AS pred_lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM pred WHERE rn = 1 GROUP BY 1,2 ORDER BY 1,2
    """,
)
def text_nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dt = (
        docs.select("doc_id", "lang", F.explode(_tok(F.col("text"))).alias("token"))
        .groupBy("doc_id", "lang", "token")
        .agg(F.count("*").alias("cnt"))
    )
    lf = dt.groupBy("lang", "token").agg(F.sum("cnt").alias("c"))
    sl = lf.groupBy("lang").agg(F.sum("c").alias("s"))
    vocab = lf.agg(F.countDistinct("token").alias("vocab"))
    pri = docs.groupBy("lang").agg(F.count("*").alias("nd"))
    tot = docs.agg(F.count("*").alias("n"))
    grid = 1_000_000_000
    u = (
        lf.join(sl, "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col("lang").alias("u_lang"),
            F.col("token").alias("u_token"),
            F.round(
                F.log((F.col("c").cast("double") + 1) / (F.col("s") + F.col("vocab"))) * grid
            )
            .cast("long")
            .alias("u"),
        )
    )
    cand = (
        sl.join(pri, "lang")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("lang").alias("cand_lang"),
            F.round(F.log(F.lit(1.0) / (F.col("s") + F.col("vocab"))) * grid)
            .cast("long")
            .alias("fb"),
            F.round(F.log(F.col("nd").cast("double") / F.col("n")) * grid)
            .cast("long")
            .alias("prior_u"),
        )
    )
    scored = (
        dt.crossJoin(F.broadcast(cand))
        .join(
            u.hint("shuffle_hash"),
            (F.col("u_lang") == F.col("cand_lang")) & (F.col("u_token") == F.col("token")),
            "left",
        )
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "cand_lang")
        .agg(
            (
                F.sum(F.col("cnt") * F.coalesce(F.col("u"), F.col("fb")))
                + F.any_value("prior_u")
            ).alias("score")
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "cand_lang")
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .groupBy("true_lang", F.col("cand_lang").alias("pred_lang"))
        .agg(F.count("*").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction: the top-3 most characteristic terms per
# document (raw tf x ln(N/df) idf). The retrieval complement of
# text_bm25_rank -- BM25 ranks documents for a query, this extracts
# per-document descriptors for tagging/faceting. IDF snaps to the
# 1e-9 integer grid at vocab granularity (same ln() discipline as the
# unigram LM); scores are then exact integer products, and the
# top-3-per-doc rank<=k filter compiles to a map-side Partial
# WindowGroupLimit exactly like sketch_kmv_setops' sketch build.
# ---------------------------------------------------------------------------


@register(
    "text_tfidf_keywords",
    oracle="""
    WITH dt AS (
      SELECT doc_id, t AS token, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
      GROUP BY doc_id, t
    ),
    df AS (SELECT token, CAST(count(*) AS BIGINT) AS dfreq FROM dt GROUP BY token),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    idf AS (
      SELECT token,
             CAST(round(ln(CAST((SELECT n FROM nd) AS DOUBLE) / dfreq)
                        * 1000000000) AS BIGINT) AS iu
      FROM df
    ),
    sc AS (
      SELECT dt.doc_id, dt.token, dt.cnt * idf.iu AS su
      FROM dt JOIN idf USING (token)
    )
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY su DESC, token)
                AS BIGINT) AS rank,
           token,
           round(CAST(su AS DOUBLE) / 1000000000 * 1000000) / 1000000 AS tfidf
    FROM sc
    QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY su DESC, token) <= 3
    ORDER BY doc_id, rank
    """,
)
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dt = (
        docs.select("doc_id", F.explode(_tok(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("cnt"))
    )
    df = dt.groupBy("token").agg(F.count("*").alias("dfreq"))
    nd = docs.agg(F.count("*").alias("n"))
    idf = df.crossJoin(F.broadcast(nd)).select(
        "token",
        F.round(F.log(F.col("n").cast("double") / F.col("dfreq")) * 1_000_000_000)
        .cast("long")
        .alias("iu"),
    )
    sc = dt.join(idf.hint("shuffle_hash"), "token").select(
        "doc_id", "token", (F.col("cnt") * F.col("iu")).alias("su")
    )
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("su").desc(), "token")
    )
    return (
        sc.withColumn("rank", rn)
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            F.col("rank").cast("long").alias("rank"),
            "token",
            rounded(F.col("su").cast("double") / 1_000_000_000, 6).alias("tfidf"),
        )
        .orderBy("doc_id", "rank")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weights for data selection (Xie et al. 2023,
# "Data Selection for Language Models via Importance Resampling" --
# public method): score every document by the mean per-token log ratio
# of a TARGET unigram distribution (here the 'src0' slice standing in
# for the curated target domain) against the full-corpus SOURCE
# distribution. Documents whose token mix looks more target-like than
# corpus-average score > 0 and are up-sampled by importance resampling;
# junk scores negative. Both distributions are Laplace-smoothed
# ((c + 1) / (T + V)) so tokens unseen in the target slice stay finite
# -- essential once the driver regenerates testdata.
#
# Cross-engine float discipline: the 4-term ln() combination is
# snapped to a 1e-9 grid ONCE on the vocab-sized table, and every
# per-doc aggregate is an exact BIGINT sum of grid units -- the
# docs_unigram_logprob / graph_pagerank recipe.
#
# Scale: two token aggregations, three broadcast scalars, one
# token-keyed shuffle_hash join; per-hot-token fan-in is |docs
# containing it| thanks to the per-doc pre-aggregation. Nothing leaves
# the JVM.
# ---------------------------------------------------------------------------


@register(
    "docs_dsir_weights",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    doc_tok AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS cnt
      FROM tok GROUP BY doc_id, token
    ),
    vocab AS (
      SELECT token, CAST(sum(cnt) AS BIGINT) AS c_s FROM doc_tok GROUP BY token
    ),
    tgt AS (
      SELECT dt.token, CAST(sum(dt.cnt) AS BIGINT) AS c_t
      FROM doc_tok dt JOIN documents d ON d.doc_id = dt.doc_id
      WHERE d.source = 'src0' GROUP BY dt.token
    ),
    scal AS (
      SELECT CAST(count(*) AS BIGINT) AS v, CAST(sum(c_s) AS BIGINT) AS t_s
      FROM vocab
    ),
    scal_t AS (SELECT CAST(coalesce(sum(c_t), 0) AS BIGINT) AS t_t FROM tgt),
    units AS (
      SELECT vb.token,
             CAST(round((ln(CAST(coalesce(t.c_t, 0) + 1 AS DOUBLE))
                         - ln(CAST((SELECT t_t FROM scal_t)
                                   + (SELECT v FROM scal) AS DOUBLE))
                         - ln(CAST(vb.c_s + 1 AS DOUBLE))
                         + ln(CAST((SELECT t_s FROM scal)
                                   + (SELECT v FROM scal) AS DOUBLE)))
                        * 1000000000) AS BIGINT) AS u
      FROM vocab vb LEFT JOIN tgt t ON t.token = vb.token
    )
    SELECT d.doc_id,
           CAST(sum(d.cnt) AS BIGINT) AS n_tokens,
           -- + 0 pins negative zero: a doc whose log-ratio mean rounds
           -- to zero from below gives -0.0 from DuckDB's std::round
           -- path but +0.0 from Spark's BigDecimal path (no signed
           -- zero there); equal as floats, DISTINCT to a %-format or
           -- byte hash. Machine-found by the r13 sf0.1 fleet sweep.
           round(CAST(sum(d.cnt * u.u) AS DOUBLE) / sum(d.cnt) / 1000000000
                 * 1000000) / 1000000 + 0 AS mean_log_ratio
    FROM doc_tok d JOIN units u ON u.token = d.token
    GROUP BY d.doc_id ORDER BY doc_id
    """,
)
def docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    doc_tok = (
        docs.select("doc_id", F.explode(_tok(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("cnt"))
    )
    vocab = doc_tok.groupBy("token").agg(F.sum("cnt").alias("c_s"))
    tgt = (
        doc_tok.join(
            docs.filter(F.col("source") == "src0").select("doc_id"), "doc_id"
        )
        .groupBy("token")
        .agg(F.sum("cnt").alias("c_t"))
    )
    scal = vocab.agg(
        F.count("*").alias("v"), F.sum("c_s").alias("t_s")
    )
    scal_t = tgt.agg(F.coalesce(F.sum("c_t"), F.lit(0)).alias("t_t"))
    units = (
        vocab.join(tgt.hint("shuffle_hash"), "token", "left")
        .crossJoin(F.broadcast(scal))
        .crossJoin(F.broadcast(scal_t))
        .select(
            "token",
            F.round(
                (
                    F.log(F.coalesce(F.col("c_t"), F.lit(0)).cast("double") + 1)
                    - F.log((F.col("t_t") + F.col("v")).cast("double"))
                    - F.log(F.col("c_s").cast("double") + 1)
                    + F.log((F.col("t_s") + F.col("v")).cast("double"))
                )
                * 1_000_000_000
            )
            .cast("long")
            .alias("u"),
        )
    )
    return (
        doc_tok.join(units.hint("shuffle_hash"), "token")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            rounded(
                F.sum(F.col("cnt") * F.col("u")).cast("double")
                / F.sum("cnt")
                / 1_000_000_000,
                6,
            ).alias("mean_log_ratio"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Per-key reservoir sample: a FIXED-SIZE uniform sample per group,
# derived deterministically -- rank rows inside each key by a portable
# content hash and keep the k smallest. Equivalent in distribution to
# reservoir sampling (the hash is a uniform [0,2^32) draw per row) but
# coordination-free and REPRODUCIBLE: re-runs, retries, and incremental
# ingestion all pick the same rows, which is what makes the sample
# auditable in a training-data pipeline (same property as
# sample_hash_split, lifted from a global rate to a per-key quota).
# Scale shape: rank-k-by-hash plans as a map-side WindowGroupLimit --
# each input partition keeps at most k rows per key BEFORE the shuffle,
# so the exchange carries O(partitions x keys x k), never the corpus.
# ---------------------------------------------------------------------------

_RESERVOIR_K = 4


@register(
    "sample_reservoir_per_key",
    oracle=f"""
    SELECT event_type, CAST(slot AS INTEGER) AS slot, event_id, user_id FROM (
      SELECT event_type, event_id, user_id,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY {md5_hash_sql("CAST(event_id AS VARCHAR)")},
                        event_id) AS slot
      FROM events
    ) WHERE slot <= {_RESERVOIR_K}
    ORDER BY event_type, slot
    """,
)
def sample_reservoir_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hkey = md5_hash(F.col("event_id"))
    w = Window.partitionBy("event_type").orderBy("hkey", "event_id")
    return (
        ev.select("event_type", "event_id", "user_id", hkey.alias("hkey"))
        .withColumn("slot", F.row_number().over(w))
        .filter(F.col("slot") <= _RESERVOIR_K)
        .select("event_type", "slot", "event_id", "user_id")
        .orderBy("event_type", "slot")
    )


# ---------------------------------------------------------------------------
# In-engine BPE tokenizer training (bpe_train_merges): the classic
# byte-pair-encoding merge loop (Sennrich et al. 2016) that every LLM
# data pipeline runs to build its tokenizer, trained INSIDE the
# engine. The 100 TB shape is the textbook one: the corpus is scanned
# ONCE and collapsed to a word-frequency table (BPE trains on the
# word-count dict, never the corpus), and each of the T merge
# iterations is one aggregate over that vocab-sized table with the
# chosen pair broadcast back as a literal -- zero corpus shuffles in
# the loop, same scan discipline as quality_perceptron_train.
#
# Exactness: pair counts are integer sums; the argmax tie-breaks on
# (count DESC, left ASC, right ASC); merge application is a
# left-to-right non-overlapping fold over the TOKEN array (Spark
# F.aggregate / DuckDB list_reduce with identical step logic) -- a
# plain string replace on the space-joined sequence would fuse across
# token boundaries (tokens [c, ab, b] + pair (b,b): replace('b b')
# matches ab's suffix, ADVICE r10), and regex boundary guards are out
# because DuckDB's RE2 lacks lookarounds. The fold appends r to the
# accumulator iff its last token is exactly l (suffix ' '||l, or the
# whole acc on the first token); a just-merged token can never
# immediately re-merge because l||r = l would need an empty r. The
# top-V word cap bounds loop work, same vocab story as
# docs_bigram_logprob.
# ---------------------------------------------------------------------------

_BPE_MERGES = 6
_BPE_TOPWORDS = 1500


def _bpe_oracle() -> str:
    sql = f"""
    WITH words AS (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> ''
      GROUP BY word ORDER BY cnt DESC, word LIMIT {_BPE_TOPWORDS}
    ),
    s0 AS (
      SELECT array_to_string(string_split(word, ''), ' ') AS seq, cnt
      FROM words
    )"""
    prev = "s0"
    for t in range(1, _BPE_MERGES + 1):
        sql += f""",
    b{t} AS (
      SELECT p[1] AS l, p[2] AS r, CAST(sum(cnt) AS BIGINT) AS pair_count
      FROM (
        SELECT unnest(list_zip(a[1:len(a)-1], a[2:len(a)])) AS p, cnt
        FROM (SELECT string_split(seq, ' ') AS a, cnt FROM {prev})
      )
      GROUP BY 1, 2 ORDER BY pair_count DESC, l, r LIMIT 1
    ),
    s{t} AS (
      SELECT list_reduce(string_split(seq, ' '),
               (acc, x) -> CASE WHEN (acc = b.l OR ends_with(acc, ' ' || b.l))
                                     AND x = b.r
                                THEN acc || b.r
                                ELSE acc || ' ' || x END) AS seq, cnt
      FROM {prev}, b{t} b
    )"""
        prev = f"s{t}"
    union = " UNION ALL ".join(
        f"SELECT {t} AS step, l AS left_sym, r AS right_sym, l || r AS merged,"
        f" pair_count FROM b{t}"
        for t in range(1, _BPE_MERGES + 1)
    )
    return f"{sql}\n    SELECT CAST(step AS INT) AS step, left_sym, right_sym, merged, pair_count FROM ({union}) ORDER BY step"


@register("bpe_train_merges", oracle=_bpe_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the first T BPE merges over the documents corpus; one row
    per merge step (left, right, merged symbol, weighted pair count).

    Loop mechanics mirror dedup's CC fixpoint: the vocab table is
    localCheckpoint'ed per step to truncate lineage, and the argmax
    pair comes back to the driver as ONE scalar row (the 4-value
    analogue of the perceptron's weight broadcast; the corpus never
    participates in the loop)."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(_tok(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "word")
        .limit(_BPE_TOPWORDS)
    )
    seqs = words.select(
        F.array_join(F.split("word", ""), " ").alias("seq"), "cnt"
    ).localCheckpoint(eager=False)

    out_rows = []
    for t in range(1, _BPE_MERGES + 1):
        arr = F.split("seq", " ")
        n = F.size(arr)
        pairs = (
            seqs.select(
                F.explode(
                    F.arrays_zip(F.slice(arr, 1, n - 1), F.slice(arr, 2, n - 1))
                ).alias("p"),
                "cnt",
            )
            .groupBy(F.col("p.0").alias("l"), F.col("p.1").alias("r"))
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), "l", "r")
            .limit(1)
        )
        best = pairs.collect()[0]  # one scalar row per iteration
        out_rows.append((t, best["l"], best["r"], best["l"] + best["r"],
                         int(best["pair_count"])))
        l_lit, r_lit = F.lit(best["l"]), F.lit(best["r"])
        tail_l = F.lit(" " + best["l"])
        seqs = seqs.select(
            F.aggregate(
                F.split("seq", " "),
                F.lit(""),
                lambda acc, x: F.when(acc == "", x).otherwise(
                    F.when(
                        ((acc == l_lit) | acc.endswith(tail_l)) & (x == r_lit),
                        F.concat(acc, r_lit),
                    ).otherwise(F.concat(acc, F.lit(" "), x))
                ),
            ).alias("seq"),
            "cnt",
        ).localCheckpoint(eager=False)

    return spark.createDataFrame(
        out_rows, "step int, left_sym string, right_sym string, merged string, pair_count long"
    ).orderBy("step")


# ---------------------------------------------------------------------------
# Gopher-style quality-rule battery (docs_gopher_rules): the multi-rule
# document filter of Rae et al. 2021 ("Scaling Language Models:
# Gopher", repetition/format heuristics), reported as the PER-RULE
# ablation table pipeline engineers actually read -- which rule kills
# how many documents -- rather than one fused gate (that fused gate is
# docs_clean_pipeline). Every threshold is a scaled-INTEGER comparison
# (10*n_hash <= nt, 3*nt <= chars <= 10*nt, ...), the
# quality_perceptron_train lesson: no float ratio ever crosses an
# engine boundary, so the gate is bit-exact by construction.
#
# 100 TB shape: one corpus scan computes all rule booleans in a single
# projection; the unpivot to (rule, flag) rows multiplies by a
# CONSTANT 7 before a partial-aggregated groupBy over 7 keys -- the
# shuffle carries ~7 rows per map partition.
# ---------------------------------------------------------------------------


def _gopher_oracle() -> str:
    stop = "(" + ", ".join(f"'{s}'" for s in _STOPWORDS) + ")"
    base = f"""
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
             CAST(length(replace(text, ' ', '')) AS BIGINT) AS nc,
             CAST(len(list_filter(string_split(text, ' '),
                      t -> t LIKE '#%')) AS BIGINT) AS n_hash,
             CAST(len(list_filter(string_split(text, ' '),
                      t -> t LIKE '%...')) AS BIGINT) AS n_ell,
             CAST(len(list_filter(string_split(text, ' '),
                      t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_filter(list_distinct(string_split(text, ' ')),
                      t -> t IN {stop})) AS BIGINT) AS n_stop
      FROM documents
    """
    rules = {
        "word_count": "nt >= 50 AND nt <= 100000",
        "mean_word_len": "3 * nt <= nc AND nc <= 10 * nt",
        "hash_ratio": "10 * n_hash <= nt",
        "ellipsis_ratio": "10 * n_ell <= nt",
        "alpha_ratio": "5 * n_alpha >= 4 * nt",
        "stopword_presence": "n_stop >= 2",
    }
    all_expr = " AND ".join(f"({e})" for e in rules.values())
    arms = " UNION ALL ".join(
        f"SELECT '{name}' AS rule, CAST(count(*) FILTER ({expr}) AS BIGINT)"
        f" AS n_pass, CAST(count(*) AS BIGINT) AS n_docs FROM f"
        for name, expr in list(rules.items()) + [("all_rules", all_expr)]
    )
    return f"""
    WITH f AS ({base})
    SELECT rule, n_pass, n_docs - n_pass AS n_fail,
           (1000000 * n_pass) // n_docs AS pass_ppm
    FROM ({arms}) ORDER BY rule
    """


@register("docs_gopher_rules", oracle=_gopher_oracle())
def docs_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule pass/fail ablation for six Gopher-style quality rules
    plus their conjunction; one corpus scan, constant-width unpivot."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tok(F.col("text"))
    nt = F.size(toks).cast("long")
    nc = F.length(F.regexp_replace("text", " ", "")).cast("long")
    n_hash = F.size(F.filter(toks, lambda t: t.startswith("#"))).cast("long")
    n_ell = F.size(F.filter(toks, lambda t: t.endswith("..."))).cast("long")
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("long")
    n_stop = F.size(
        F.filter(F.array_distinct(toks), lambda t: t.isin(*_STOPWORDS))
    ).cast("long")

    rules = {
        "word_count": (nt >= 50) & (nt <= 100000),
        "mean_word_len": (3 * nt <= nc) & (nc <= 10 * nt),
        "hash_ratio": 10 * n_hash <= nt,
        "ellipsis_ratio": 10 * n_ell <= nt,
        "alpha_ratio": 5 * n_alpha >= 4 * nt,
        "stopword_presence": n_stop >= 2,
    }
    rules["all_rules"] = None  # placeholder; built below
    conj = None
    for name, flag in list(rules.items()):
        if flag is None:
            continue
        conj = flag if conj is None else (conj & flag)
    rules["all_rules"] = conj

    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                flag.cast("int").alias("pass_flag"),
            )
            for name, flag in rules.items()
        ]
    )
    return (
        docs.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.rule").alias("rule"))
        .agg(
            F.sum("p.pass_flag").cast("long").alias("n_pass"),
            (F.count("*") - F.sum("p.pass_flag")).cast("long").alias("n_fail"),
            F.expr(
                "(1000000 * sum(p.pass_flag)) div count(*)"
            ).alias("pass_ppm"),
        )
        .orderBy("rule")
    )


# ---------------------------------------------------------------------------
# Per-source quality-percentile filtering (r12): the corpus-curation
# pattern of keeping only each source's top quality quartile -- the
# per-GROUP quantile threshold the global-decile queries
# (customer_rfm_segments, orders_revenue_concentration) don't cover.
# The quality proxy is the deterministic token count, so the gate pins
# the quantile/threshold/join machinery, not a float scoring model.
#
# Cross-engine note: Spark percentile() and DuckDB quantile_cont()
# share the linear-interpolation definition index = (n-1)*p over the
# sorted values; on INTEGER inputs the interpolated value is a small
# dyadic rational (x.0/x.25/x.5/x.75), exact in float64 on both
# engines, so the threshold is bit-stable without a rounding grid.
#
# Scale: one shuffle on source for the quantile aggregate (per-group
# sorted-quantile state is bounded by the group's distinct scores; at
# 100 TB swap percentile -> approx_percentile and the plan shape is
# unchanged), then the |sources|-row threshold table broadcasts back
# onto the scan -- the same tiny-dim broadcast recipe as J5.
# ---------------------------------------------------------------------------


@register(
    "docs_quality_percentile_filter",
    oracle="""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS score
      FROM documents
    ),
    thr AS (
      SELECT source, quantile_cont(score, 0.75) AS p75
      FROM scored GROUP BY source
    )
    SELECT s.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(CASE WHEN s.score >= t.p75 THEN 1 END) AS BIGINT)
             AS n_kept,
           round(CAST(t.p75 AS DOUBLE), 6) AS threshold
    FROM scored s JOIN thr t USING (source)
    GROUP BY s.source, t.p75
    ORDER BY s.source
    """,
)
def docs_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", F.size(F.split(F.col("text"), " ")).alias("score")
    )
    thr = scored.groupBy("source").agg(
        F.percentile("score", F.lit(0.75)).alias("p75")
    )
    return (
        scored.join(F.broadcast(thr), "source")
        .groupBy("source", "p75")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("score") >= F.col("p75"), 1)).alias("n_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            rounded(F.col("p75").cast("double"), 6).alias("threshold"),
        )
        .orderBy("source")
    )
