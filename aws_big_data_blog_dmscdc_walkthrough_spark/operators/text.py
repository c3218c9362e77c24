"""Text-analysis operators for LLM-data-pipeline curation.

All four operators are pure JVM-side column expressions (split /
regexp / higher-order functions) — no Python UDFs — so they run inside
whole-stage codegen and scale linearly with no shuffle at all: each is a
map-only pass over the documents table.

Every operator has an exact ANSI-SQL twin (generated from the same
Python constants) for the DuckDB correctness gate; arithmetic is
arranged so both engines produce bit-identical doubles (same ops, same
order, integer counts cast to double once).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hashing
from ..session import load_table
from .dedup import _track as _dedup_track, spread

# Small, real stopword lists (shared constants → both engines see the
# identical sets; priority on score ties is en > es > de > fr).
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "you", "that", "for", "on", "with", "as"],
    "es": ["el", "la", "los", "las", "de", "que", "y", "en", "un", "una", "es", "por", "con", "para"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von", "mit", "auf"],
    "fr": ["le", "les", "de", "et", "un", "une", "est", "que", "pour", "dans", "ce", "il"],
}

BPE_ISH_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"
POLY_MOD = hashing.POLY_MOD1
POLY_MUL = hashing.POLY_MUL1


def _tokens(col):
    return F.split(F.trim(col), r"\s+")


def _stop_count(tokens_col, words: list[str]):
    """Occurrence count of tokens in a fixed word set (codegen lambda)."""
    return F.size(F.filter(tokens_col, lambda t: t.isin(*words)))


def _sql_stop_count(words: list[str]) -> str:
    quoted = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(toks, t -> t IN ({quoted})))"


def poly_fingerprint(col):
    """Deterministic 31-base polynomial rolling hash mod 1e9+7 (HOF form).

    Built from F.aggregate over the char array; reproducible in any
    engine (the DuckDB twin uses list_reduce). Kept as the
    expression-tree parity twin — the hot path is the Arrow-batched
    ``hashing.poly_hash_text_pandas`` (HOF lambdas run interpreted,
    outside whole-stage codegen; see hashing.py).
    """
    return hashing.poly_hash(col, POLY_MUL, POLY_MOD)


# ---------------------------------------------------------------- tokens

def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.size(_tokens(F.col("text"))).alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), F.lit(0))
        ).alias("n_bpe_tokens"),
    )


TEXT_TOKENS_SQL = rf"""
SELECT doc_id,
  len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
  len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS n_bpe_tokens
FROM documents
"""


# ---------------------------------------------------------------- quality

def quality_score_col(text_col="text"):
    """The quality blend as a single column expression (map-side, no
    join): usable both standalone (text_quality) and inline in composed
    pipelines (llm_queries.pipeline_curate_corpus)."""
    toks = _tokens(F.col(text_col) if isinstance(text_col, str) else text_col)
    n_chars = F.length(text_col)
    n_alpha = n_chars - F.length(F.regexp_replace(text_col, "[a-z]", ""))
    n_space = n_chars - F.length(F.regexp_replace(text_col, " ", ""))
    n_tok = F.size(toks)
    n_stop = _stop_count(toks, STOPWORDS["en"])
    n_distinct = F.size(F.array_distinct(toks))
    return (
        (n_alpha.cast("double") / n_chars.cast("double")) * 0.4
        + (n_stop.cast("double") / n_tok.cast("double")) * 0.3
        + (n_distinct.cast("double") / n_tok.cast("double")) * 0.2
        + (n_space.cast("double") / n_chars.cast("double")) * 0.1
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / punctuation / stopword / repetition quality signals.

    quality_score is a fixed linear blend — identical expression order in
    the SQL twin keeps doubles bit-equal.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = _tokens(F.col("text"))
    n_chars = F.length("text")
    n_alpha = n_chars - F.length(F.regexp_replace("text", "[a-z]", ""))
    n_space = n_chars - F.length(F.regexp_replace("text", " ", ""))
    n_tok = F.size(toks)
    n_stop = _stop_count(toks, STOPWORDS["en"])
    n_distinct = F.size(F.array_distinct(toks))
    alpha_ratio = n_alpha.cast("double") / n_chars.cast("double")
    space_ratio = n_space.cast("double") / n_chars.cast("double")
    stop_ratio = n_stop.cast("double") / n_tok.cast("double")
    distinct_ratio = n_distinct.cast("double") / n_tok.cast("double")
    # the blend itself comes from quality_score_col — ONE place owns
    # the weights, shared with the curation pipelines
    score = quality_score_col("text")
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars_obs"),
        n_tok.alias("n_tokens"),
        alpha_ratio.alias("alpha_ratio"),
        space_ratio.alias("space_ratio"),
        stop_ratio.alias("stopword_ratio"),
        distinct_ratio.alias("distinct_ratio"),
        score.alias("quality_score"),
    )


_EN_SQL = _sql_stop_count(STOPWORDS["en"])
TEXT_QUALITY_SQL = rf"""
WITH t AS (
  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks,
    length(text) AS n_chars,
    length(text) - length(regexp_replace(text, '[a-z]', '', 'g')) AS n_alpha,
    length(text) - length(regexp_replace(text, ' ', '', 'g')) AS n_space
  FROM documents
)
SELECT doc_id,
  n_chars AS n_chars_obs,
  len(toks) AS n_tokens,
  CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE) AS alpha_ratio,
  CAST(n_space AS DOUBLE) / CAST(n_chars AS DOUBLE) AS space_ratio,
  CAST({_EN_SQL} AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
  CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS distinct_ratio,
  (CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE)) * 0.4
    + (CAST({_EN_SQL} AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * 0.3
    + (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * 0.2
    + (CAST(n_space AS DOUBLE) / CAST(n_chars AS DOUBLE)) * 0.1 AS quality_score
FROM t
"""


# ---------------------------------------------------------------- langid

def _langid_scored(docs: DataFrame, keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Per-doc stopword votes + multibyte excess — the langid features."""
    toks = _tokens(F.lower(F.col("text")))
    return docs.withColumn("_toks", toks).select(
        "doc_id",
        *keep_cols,
        *[
            _stop_count(F.col("_toks"), STOPWORDS[lang]).alias(f"s_{lang}")
            for lang in ("en", "es", "de", "fr")
        ],
        (F.octet_length("text") - F.length("text")).alias("_byte_excess"),
        F.length("text").alias("_len"),
    )


def _langid_pred():
    """The vote-resolution rule over a _langid_scored frame's columns."""
    s = {k: F.col(f"s_{k}") for k in ("en", "es", "de", "fr")}
    return (
        F.when(F.col("_byte_excess") * 10 > F.col("_len") * 3, F.lit("zh"))
        .when((s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]), F.lit("en"))
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]), F.lit("es"))
        .when(s["de"] >= s["fr"], F.lit("de"))
        .otherwise(F.lit("fr"))
    )


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID with CJK byte-ratio shortcut.

    Non-ASCII detection uses octet_length-vs-length (multibyte excess),
    avoiding engine-specific regex hex classes entirely.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    return _langid_scored(docs).select(
        "doc_id", _langid_pred().alias("lang_pred"),
        "s_en", "s_es", "s_de", "s_fr",
    )


TEXT_LANGID_SQL = rf"""
WITH t AS (
  SELECT doc_id, text, string_split_regex(trim(lower(text)), '\s+') AS toks,
    strlen(text) - length(text) AS byte_excess, length(text) AS n_len
  FROM documents
), s AS (
  SELECT doc_id, byte_excess, n_len,
    {_sql_stop_count(STOPWORDS['en'])} AS s_en,
    {_sql_stop_count(STOPWORDS['es'])} AS s_es,
    {_sql_stop_count(STOPWORDS['de'])} AS s_de,
    {_sql_stop_count(STOPWORDS['fr'])} AS s_fr
  FROM t
)
SELECT doc_id,
  CASE WHEN byte_excess * 10 > n_len * 3 THEN 'zh'
       WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
       WHEN s_de >= s_fr THEN 'de'
       ELSE 'fr' END AS lang_pred,
  s_en, s_es, s_de, s_fr
FROM s
"""


# ----------------------------------- language-consistency audit (#118)


def corpus_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-consistency audit: per (source, declared lang), how many
    docs the stopword-vote language ID (#26's exact rule) disagrees
    with. The screen a curation pipeline runs before trusting upstream
    lang tags for filtering or mixture weighting. Map-side scoring +
    one (source, lang)-keyed count agg — bounded output."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    per = _langid_scored(docs, keep_cols=("source", "lang")).select(
        "source", "lang", _langid_pred().alias("lang_pred")
    )
    n_mismatch = F.sum(
        (F.col("lang") != F.col("lang_pred")).cast("long")
    ).alias("n_mismatch")
    return per.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        n_mismatch,
    ).select(
        "source", "lang", "n_docs", "n_mismatch",
        (F.col("n_mismatch").cast("double") / F.col("n_docs")).alias(
            "mismatch_rate"
        ),
    )


CORPUS_LANG_MISMATCH_SQL = rf"""
WITH t AS (
  SELECT source, lang, string_split_regex(trim(lower(text)), '\s+') AS toks,
    strlen(text) - length(text) AS byte_excess, length(text) AS n_len
  FROM documents
), s AS (
  SELECT source, lang, byte_excess, n_len,
    {_sql_stop_count(STOPWORDS['en'])} AS s_en,
    {_sql_stop_count(STOPWORDS['es'])} AS s_es,
    {_sql_stop_count(STOPWORDS['de'])} AS s_de,
    {_sql_stop_count(STOPWORDS['fr'])} AS s_fr
  FROM t
), p AS (
  SELECT source, lang,
    CASE WHEN byte_excess * 10 > n_len * 3 THEN 'zh'
         WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
         WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
         WHEN s_de >= s_fr THEN 'de'
         ELSE 'fr' END AS lang_pred
  FROM s
)
SELECT source, lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN lang <> lang_pred THEN 1 ELSE 0 END) AS BIGINT)
    AS n_mismatch,
  CAST(SUM(CASE WHEN lang <> lang_pred THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
    / CAST(COUNT(*) AS BIGINT) AS mismatch_rate
FROM p GROUP BY source, lang
"""


# ------------------------------------------------------------ fingerprint

def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No spread() here: the Arrow fold is cheap enough that the
    # repartition+persist round-trip costs more than single-partition
    # compute at small SF, and at real scale parquet inputs arrive
    # multi-partition anyway (maxPartitionBytes splits), so the map-only
    # UDF parallelizes without help.
    docs = load_table(spark, sf_dir, "documents")
    fp = hashing.poly_hash_text_pandas(POLY_MUL, POLY_MOD)
    return docs.select("doc_id", fp(F.col("text")).alias("fingerprint"))


TEXT_FINGERPRINT_SQL = f"""
SELECT doc_id,
  list_reduce(
    list_prepend(0::BIGINT, [ascii(x)::BIGINT for x in string_split(text, '')]),
    (a, b) -> (a * {POLY_MUL} + b) % {POLY_MOD}
  ) AS fingerprint
FROM documents
"""


# ---------------------------------------------------------- word top-k

def text_word_topk(spark: SparkSession, sf_dir: str, k: int = 25) -> DataFrame:
    """Corpus word-frequency top-k (vocabulary head analysis).

    explode → count: partial aggregation combines map-side, so the
    shuffle carries one row per (partition, word) — vocabulary-bounded,
    not corpus-bounded. Deterministic tie-break on the word itself.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(F.explode(_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(k)
    )


TEXT_WORD_TOPK_SQL = r"""
SELECT word, COUNT(*) AS n
FROM (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
  FROM documents
)
GROUP BY word
ORDER BY n DESC, word
LIMIT 25
"""


# ---------------------------------------------------------- bigram top-k

def _bigram_strings(toks):
    """Adjacent-token bigrams as ``"w1 w2"`` strings: the token array
    zipped with its own tail (slice + arrays_zip + transform — codegen,
    no UDF). Shared by the collocation top-k and the repetition filter
    so the empty/single-token boundary guard lives in ONE place."""
    return F.transform(
        F.arrays_zip(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        ),
        lambda s: F.concat_ws(" ", s["0"], s["1"]),
    )


def text_bigrams(spark: SparkSession, sf_dir: str, k: int = 25) -> DataFrame:
    """Corpus bigram top-k (collocation head analysis).

    Adjacent-token pairs come from zipping the token array with its
    own tail (slice + arrays_zip — codegen, no UDF); the aggregation is
    the same vocabulary-bounded shuffle as the unigram top-k.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = _tokens(F.col("text"))
    return (
        docs.select(F.explode(_bigram_strings(toks)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(k)
    )


TEXT_BIGRAMS_SQL = r"""
SELECT bigram, COUNT(*) AS n
FROM (
  SELECT unnest([toks[i] || ' ' || toks[i + 1] for i in range(1, len(toks))]) AS bigram
  FROM (SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents)
)
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 25
"""


# ------------------------------------------------- stratified sampling

SAMPLE_MULT = 2654435761  # Knuth multiplicative constant
# bucket arithmetic REDUCES the id mod 2^31 BEFORE multiplying:
# (id % m) * a == id * a (mod m) mathematically, but the left form
# stays under 2^63 for ANY int64 id while the naive product wraps
# negative past id ~3.47e9 — silently flooding one bucket at corpus
# scale (DuckDB errors on the same overflow). Identical assignments
# for ids < 2^31, overflow-free for the rest.
SAMPLE_MOD = 1 << 31
SAMPLE_PCT = 10  # keep ~10%


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample, uniform within every source stratum.

    The keep decision is pure integer arithmetic on the row key
    ((id * 2654435761) mod 2^31 mod 100 < pct) — reproducible in any
    engine, no RNG state, stable across reruns and repartitions; at
    100 TB this is a map-only filter that composes with partition
    pruning. Per-stratum rates stay uniform because the multiplicative
    hash decorrelates the key from the stratum.
    """
    docs = load_table(spark, sf_dir, "documents")
    keep = (
        (F.col("doc_id") % F.lit(SAMPLE_MOD)) * F.lit(SAMPLE_MULT)
    ) % F.lit(SAMPLE_MOD) % 100 < SAMPLE_PCT
    return docs.where(keep).select("doc_id", "source", "lang", "n_chars")


SAMPLE_STRATIFIED_SQL = f"""
SELECT doc_id, source, lang, n_chars
FROM documents
WHERE ((doc_id % {SAMPLE_MOD}) * {SAMPLE_MULT}) % {SAMPLE_MOD} % 100 < {SAMPLE_PCT}
"""


# ------------------------------------------------- train/val/test split

SPLIT_VAL_PCT = 5    # percent of keys → "val"
SPLIT_TEST_PCT = 5   # percent of keys → "test"; rest → "train"


def split_column(id_col: str = "doc_id") -> "F.Column":
    """Deterministic split assignment from the row key — the same
    multiplicative-hash arithmetic as :func:`sample_stratified`, so the
    assignment is reproducible in any engine, stable across reruns and
    repartitions, and map-only at 100 TB. Buckets: 0..99; the lowest
    ``SPLIT_VAL_PCT`` go to val, the next ``SPLIT_TEST_PCT`` to test.

    The key property a training pipeline needs: a document's split
    NEVER changes when the corpus grows (no RNG, no ordering
    dependence), so eval contamination can't creep in across runs.
    """
    bucket = (
        (F.col(id_col) % F.lit(SAMPLE_MOD)) * F.lit(SAMPLE_MULT)
    ) % F.lit(SAMPLE_MOD) % 100
    return (
        F.when(bucket < SPLIT_VAL_PCT, F.lit("val"))
        .when(bucket < SPLIT_VAL_PCT + SPLIT_TEST_PCT, F.lit("test"))
        .otherwise(F.lit("train"))
    )


def corpus_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(split, source) doc/token counts — the audit table published
    beside a split: one scan, map-side split assignment, one groupBy on
    the (low-cardinality) split×source key."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            split_column("doc_id").alias("split"),
            "source",
            F.size(F.split(F.trim("text"), r"\s+")).alias("_n_tok"),
        )
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n_tok").alias("total_tokens"),
        )
    )


CORPUS_SPLIT_COUNTS_SQL = rf"""
SELECT
  CASE
    WHEN ((doc_id % {SAMPLE_MOD}) * {SAMPLE_MULT}) % {SAMPLE_MOD} % 100 < {SPLIT_VAL_PCT} THEN 'val'
    WHEN ((doc_id % {SAMPLE_MOD}) * {SAMPLE_MULT}) % {SAMPLE_MOD} % 100 < {SPLIT_VAL_PCT + SPLIT_TEST_PCT} THEN 'test'
    ELSE 'train'
  END AS split,
  source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens
FROM documents
GROUP BY 1, 2
"""


# ------------------------------------------------- sequence packing

SEQ_PACK_LEN = 512  # tokens per training sequence
SEQ_PACK_SHARDS = 256  # per-source sub-shards for the two-level cumsum


def pack_sequences(
    docs: DataFrame, seq_len: int = SEQ_PACK_LEN, n_shards: int = SEQ_PACK_SHARDS
) -> DataFrame:
    """Concat-and-chunk sequence packing: assign every document its
    position in the fixed-length training-sequence stream.

    The standard LLM pretraining layout — documents are concatenated per
    source in ``doc_id`` order and the stream is cut into ``seq_len``-
    token sequences; a document may straddle a boundary (its
    ``seq_id``/``seq_offset`` locate its first token).

    Scale shape — TWO-LEVEL cumsum, never one task per source: a single
    window partitioned by ``source`` would funnel a dominant source (the
    realistic 100 TB corpus shape: one web-crawl source holding most
    docs) through one core. Instead each source's ``doc_id`` span is cut
    into ``n_shards`` contiguous ranges (order-preserving, unlike a
    modulo shard), the cumsum runs per (source, shard) in parallel,
    per-shard token totals (≤ ``n_shards`` rows/source — tiny) are
    prefix-summed and broadcast back, and the global start position is
    shard offset + intra-shard cumsum. Output is IDENTICAL to the global
    per-source cumsum.

    All position arithmetic is integer (``DIV``/``%`` on longs): a
    float ``floor(start/len)`` loses exactness past 2^53 cumulative
    tokens — a realistic corpus size at the 100 TB target.

    ``docs`` needs columns ``doc_id`` (long), ``source``, ``n_tokens``.
    Output: one row per doc with its token count, owning sequence, and
    offset within it.
    """
    span = docs.groupBy("source").agg(
        F.min("doc_id").alias("_mn"), F.max("doc_id").alias("_mx")
    )
    # ceil(span / n_shards), integer, ≥ 1 — contiguous doc_id ranges
    sharded = (
        docs.join(F.broadcast(span), "source")
        .withColumn(
            "_shard",
            F.expr(
                f"(doc_id - _mn) DIV greatest(1L, (_mx - _mn + {n_shards}) DIV {n_shards})"
            ),
        )
        .drop("_mn", "_mx")
    )
    w_local = (
        Window.partitionBy("source", "_shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = sharded.withColumn(
        "_local_end", F.sum("n_tokens").over(w_local).cast("long")
    )
    w_shard = (
        Window.partitionBy("source")
        .orderBy("_shard")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = (
        sharded.groupBy("source", "_shard")
        .agg(F.sum("n_tokens").alias("_tok"))
        .withColumn("_off", (F.sum("_tok").over(w_shard) - F.col("_tok")).cast("long"))
        .drop("_tok")
    )
    return (
        local.join(F.broadcast(offsets), ["source", "_shard"])
        .withColumn("_start", F.col("_off") + F.col("_local_end") - F.col("n_tokens"))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.expr(f"_start DIV {seq_len}").cast("long").alias("seq_id"),
            (F.col("_start") % seq_len).cast("long").alias("seq_offset"),
        )
    )


def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query for :func:`pack_sequences` over the documents table."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
    )
    return pack_sequences(docs)


CORPUS_PACK_SEQUENCES_SQL = rf"""
WITH t AS (
  SELECT doc_id, source,
    len(string_split_regex(trim(text), '\s+')) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
    SUM(n_tokens) OVER (
      PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) - n_tokens AS start
  FROM t
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(start // {SEQ_PACK_LEN} AS BIGINT) AS seq_id,
  CAST(start % {SEQ_PACK_LEN} AS BIGINT) AS seq_offset
FROM c
"""


# --------------------------------------------------------- PII scrubbing

# ------------------------------------------------- count-min sketch

CMS_WIDTH = 256
CMS_DEPTH = 4
# LARGE multipliers (≈2^30): short words hash small (< 2^27), and with
# small a's the product never wraps mod P — then any word pair whose
# hash difference is ≡ 0 (mod width) collides in EVERY row (observed:
# 'agg'/'slow'). A wrapping multiplier destroys that alignment while
# keeping a·h + b < 2^61 (inside int64 in both engines).
CMS_A = [1103515245, 1299709043, 1500000041, 2054435761]
CMS_B = [12345, 98765, 424243, 7077977]
CMS_P = hashing.MINHASH_P


def sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch of the corpus word frequencies (d×w cell sums).

    Sketches are the scale answer when the exact vocabulary no longer
    fits: the sketch is FIXED SIZE (d·w cells) regardless of corpus
    width, merges by cell-wise addition (associative — partial
    aggregation combines map-side, so the shuffle carries ≤ d·w rows per
    partition), and estimates any word's count as min over its d cells.
    Everything here is deterministic integer arithmetic — word hash via
    the polynomial fold, cell via (a·h + b) mod P mod w — so the DuckDB
    twin reproduces the sketch bit-for-bit.

    Plan shape (round 10): count words FIRST, hash the DISTINCT
    vocabulary after. The cell sum over tokens equals the
    count-weighted cell sum over distinct words, so the Arrow hash pass
    and the d-way posexplode run on |vocab| rows instead of every
    corpus token — the expensive per-row work shrinks by the
    token/vocab ratio (~40× on natural text) and the fan-out happens
    AFTER the word shuffle's map-side combine. That also retires the
    unconditional ``spread``: the pre-shuffle stage is now a plain
    tokenize-and-count (cheap serial at small scans), so the adaptive
    size gate applies like the other word-count queries.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    counts = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    h = hashing.poly_hash(F.col("word"))
    rows = F.array(
        *[
            ((F.lit(a) * h + F.lit(b)) % F.lit(CMS_P) % F.lit(CMS_WIDTH))
            for a, b in zip(CMS_A, CMS_B)
        ]
    )
    return (
        counts.select(F.posexplode(rows).alias("row", "col"), "_cnt")
        .groupBy("row", "col")
        .agg(F.sum("_cnt").alias("n"))
    )


_CMS_POLY = (
    "list_reduce(list_prepend(0::BIGINT, [ascii(c)::BIGINT for c in string_split(word, '')]), "
    f"(a, b) -> (a * {POLY_MUL} + b) % {POLY_MOD})"
)

SKETCH_COUNT_MIN_SQL = rf"""
WITH words AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS word FROM documents
),
hashed AS (SELECT {_CMS_POLY} AS h FROM words),
cells AS (
  SELECT t.range AS row,
    ([{', '.join(f'({a} * h + {b}) % {CMS_P} % {CMS_WIDTH}' for a, b in zip(CMS_A, CMS_B))}])[t.range + 1] AS col
  FROM hashed, range({CMS_DEPTH}) t
)
SELECT row, col, COUNT(*) AS n FROM cells GROUP BY row, col
"""


# ------------------------------------------------- repetition filters

# Gopher-style repetition thresholds (Rae et al. 2021, public): a
# document dominated by one token or by repeated bigrams is boilerplate
# (navigation, tag soup, generated filler), not prose.
REPETITION_TOP_WORD_MAX = 0.10    # max share of the single most frequent token
REPETITION_DUP_BIGRAM_MAX = 0.30  # max share of repeated (non-first) bigrams


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-removal signals per document (Gopher-style filters).

    Two frequency-DISTRIBUTION signals text_quality's distinct-token
    ratio cannot see: the concentration of the single most frequent
    token, and the fraction of bigram occurrences that are repeats.

    Scale shape: the token-concentration side is one (doc_id, word)
    grouped count — shuffle bounded by corpus token volume with
    map-side partial aggregation; the bigram side is map-only array
    expressions (zip-with-tail + array_distinct); the final join is on
    doc_id. ``keep`` applies the thresholds.
    """
    # column-prune BEFORE spread: the under-split guard persists its
    # input, and caching unused columns wastes executor memory
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = _tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("_toks"))

    conc = (
        base.select("doc_id", F.explode("_toks").alias("_w"))
        .groupBy("doc_id", "_w")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("doc_id")
        .agg(
            F.max("_c").cast("bigint").alias("top_word_count"),
            F.sum("_c").cast("bigint").alias("n_tokens"),
        )
    )
    pairs = _bigram_strings(F.col("_toks"))
    bigr = base.select(
        "doc_id",
        (F.size("_toks") - 1).cast("bigint").alias("_nb"),
        F.size(F.array_distinct(pairs)).cast("bigint").alias("_ndb"),
    )
    top_frac = F.col("top_word_count").cast("double") / F.col("n_tokens").cast("double")
    dup_frac = F.when(
        F.col("_nb") > 0,
        F.lit(1.0) - F.col("_ndb").cast("double") / F.col("_nb").cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        conc.join(bigr, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "top_word_count",
            top_frac.alias("top_word_frac"),
            dup_frac.alias("dup_bigram_frac"),
            (
                (top_frac <= REPETITION_TOP_WORD_MAX)
                & (dup_frac <= REPETITION_DUP_BIGRAM_MAX)
            ).alias("keep"),
        )
    )


TEXT_REPETITION_SQL = rf"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
),
c AS (
  SELECT doc_id, w, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS w FROM t)
  GROUP BY doc_id, w
),
conc AS (
  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_word_count,
         CAST(SUM(c) AS BIGINT) AS n_tokens
  FROM c GROUP BY doc_id
),
b AS (
  SELECT doc_id, CAST(len(toks) - 1 AS BIGINT) AS nb,
    CAST(len(list_distinct([toks[i] || ' ' || toks[i + 1] for i in range(1, len(toks))])) AS BIGINT) AS ndb
  FROM t
)
SELECT conc.doc_id, n_tokens, top_word_count,
  CAST(top_word_count AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_word_frac,
  CASE WHEN nb > 0
       THEN 1.0 - CAST(ndb AS DOUBLE) / CAST(nb AS DOUBLE)
       ELSE 0.0 END AS dup_bigram_frac,
  (CAST(top_word_count AS DOUBLE) / CAST(n_tokens AS DOUBLE)
     <= {REPETITION_TOP_WORD_MAX})
  AND ((CASE WHEN nb > 0
        THEN 1.0 - CAST(ndb AS DOUBLE) / CAST(nb AS DOUBLE)
        ELSE 0.0 END) <= {REPETITION_DUP_BIGRAM_MAX}) AS keep
FROM conc JOIN b ON conc.doc_id = b.doc_id
"""


# ------------------------------------------------- token-budget selection

TOKEN_BUDGET_PER_SOURCE = 800  # tokens kept per source (quality-ranked)
QUALITY_BUCKET_SCALE = 1000     # quality buckets = floor(score * scale)


def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked token-budget selection per source (data mixing).

    The curation question "keep the best N tokens from each source":
    exact per-doc cumulative selection would serialize each source
    through one ordered cumsum, so the selection is BUCKET-GRANULAR —
    quality scores quantize to ``floor(score × 1000)`` buckets, per
    (source, bucket) token totals aggregate (tiny: ≤1001 rows/source),
    a descending prefix sum picks every bucket that STARTS under the
    budget (the straddling bucket is included whole, so the kept volume
    overshoots by at most one bucket), and the output is the per-source
    audit row: docs/tokens kept + the quality cutoff bucket. All
    corpus-size work is one map-side scan + one small agg; the ordered
    scan runs over bucket summaries, never documents.
    """
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).alias("_nt"),
        F.floor(quality_score_col("text") * QUALITY_BUCKET_SCALE)
        .cast("int")
        .alias("_b"),
    )
    per_bucket = scored.groupBy("source", "_b").agg(
        F.sum("_nt").alias("_btok"), F.count(F.lit(1)).alias("_bdocs")
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("_b").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_bucket.withColumn("_cum", F.sum("_btok").over(w))
    kept = cum.where(F.col("_cum") - F.col("_btok") < TOKEN_BUDGET_PER_SOURCE)
    return kept.groupBy("source").agg(
        F.sum("_bdocs").cast("bigint").alias("n_docs_kept"),
        F.sum("_btok").cast("bigint").alias("n_tokens_kept"),
        F.min("_b").alias("cutoff_bucket"),
    )


_SCORE_SQL = (
    "(CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE)) * 0.4"
    f" + (CAST({_EN_SQL} AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * 0.3"
    " + (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * 0.2"
    " + (CAST(n_space AS DOUBLE) / CAST(n_chars AS DOUBLE)) * 0.1"
)

CORPUS_TOKEN_BUDGET_SQL = rf"""
WITH t AS (
  SELECT source, string_split_regex(trim(text), '\s+') AS toks,
    length(text) AS n_chars,
    length(text) - length(regexp_replace(text, '[a-z]', '', 'g')) AS n_alpha,
    length(text) - length(regexp_replace(text, ' ', '', 'g')) AS n_space
  FROM documents
),
s AS (
  SELECT source, len(toks) AS nt,
    CAST(FLOOR(({_SCORE_SQL}) * {QUALITY_BUCKET_SCALE}) AS INT) AS b
  FROM t
),
pb AS (
  SELECT source, b, SUM(nt) AS btok, COUNT(*) AS bdocs
  FROM s GROUP BY source, b
),
c AS (
  SELECT *, SUM(btok) OVER (
    PARTITION BY source ORDER BY b DESC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS cum FROM pb
)
SELECT source,
  CAST(SUM(bdocs) AS BIGINT) AS n_docs_kept,
  CAST(SUM(btok) AS BIGINT) AS n_tokens_kept,
  MIN(b) AS cutoff_bucket
FROM c
WHERE cum - btok < {TOKEN_BUDGET_PER_SOURCE}
GROUP BY source
"""


# ----------------------------------------- hashed linear classifier (#85)
#
# Batch inference for a CCNet/fastText-shaped quality classifier
# (Joulin et al. 2016, "Bag of Tricks for Efficient Text
# Classification"; Wenzek et al. 2019, CCNet): hash every token into a
# fixed bucket space, sum per-bucket weights, threshold the logit. The
# standard corpus-quality gate at 100 TB — one map-only Arrow pass, no
# shuffle, model broadcast in the UDF closure.
#
# Weights are INTEGER (fixed-point millionths): the logit is then an
# exact int64 sum, reproducible bit-for-bit in any engine — no
# cross-engine float summation drift, no sigmoid ulp mismatch. A real
# trained model quantizes its float weights once on export.

QC_BUCKETS = 1 << 20
QC_WEIGHT_A = 2654435761  # Knuth multiplicative constant (public)
QC_WEIGHT_B = 99991
QC_WEIGHT_P = 1000003
QC_WEIGHT_HALF = QC_WEIGHT_P // 2


def classifier_logits(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights=None,
    n_buckets: int = QC_BUCKETS,
) -> DataFrame:
    """Score documents with a hashed-bag-of-words linear classifier.

    ``weights``: int64 numpy array of length ``n_buckets`` (the trained
    model, fixed-point). ``None`` uses the deterministic formula table
    ``w(b) = (b*A + B) % P - P//2`` — the gate's stand-in model, exactly
    replayable in SQL without shipping an 8 MB literal.

    Per Arrow batch: tokens flatten once, each token char-folds to its
    poly hash (vectorized, hashing._poly_fold_tokens), buckets are
    ``hash % n_buckets``, and per-doc logits are one bincount-weighted
    segment sum. Output: (id, n_tok, logit, keep) with keep = logit ≥ 0.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    w = None if weights is None else np.asarray(weights, dtype=np.int64)

    out_type = StructType(
        [StructField("n_tok", LongType()), StructField("logit", LongType())]
    )

    @F.pandas_udf(out_type)
    def score(texts: pd.Series) -> pd.DataFrame:
        n_docs = len(texts)
        if n_docs == 0:
            return pd.DataFrame({"n_tok": [], "logit": []})
        flat, counts = hashing._batch_tokens(texts)
        (hs,) = hashing._poly_fold_tokens(flat, [(POLY_MUL, POLY_MOD)])
        buckets = hs % n_buckets
        if w is None:
            tw = (buckets * QC_WEIGHT_A + QC_WEIGHT_B) % QC_WEIGHT_P - QC_WEIGHT_HALF
        else:
            tw = w[buckets]
        # int-exact per-doc segment sums (bincount would accumulate in
        # float64 — exact only below 2^53, not a guarantee worth keeping)
        offs = np.zeros(n_docs + 1, dtype=np.int64)
        np.cumsum(counts, out=offs[1:])
        logits = np.array(
            [int(tw[offs[i]:offs[i + 1]].sum()) for i in range(n_docs)],
            dtype=np.int64,
        )
        return pd.DataFrame({"n_tok": counts, "logit": logits})

    scored = df.select(F.col(id_col), score(F.col(text_col)).alias("_s"))
    return scored.select(
        F.col(id_col),
        F.col("_s.n_tok").alias("n_tok"),
        F.col("_s.logit").alias("logit"),
        (F.col("_s.logit") >= 0).alias("keep"),
    )


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query for #85: formula-weight classifier over documents."""
    docs = load_table(spark, sf_dir, "documents")
    return classifier_logits(docs, "doc_id", "text")


def _quality_classifier_sql() -> str:
    tok_hash = (
        f"list_reduce(list_prepend(0::BIGINT, [ascii(c)::BIGINT for c in string_split(tk, '')]), "
        f"(a, b) -> (a * {POLY_MUL} + b) % {POLY_MOD})"
    )
    weight = (
        f"((({tok_hash}) % {QC_BUCKETS}) * {QC_WEIGHT_A} + {QC_WEIGHT_B})"
        f" % {QC_WEIGHT_P} - {QC_WEIGHT_HALF}"
    )
    return rf"""
WITH t AS (
  SELECT doc_id,
    list_filter(string_split_regex(trim(text), '\s+'), tk -> tk <> '') AS toks
  FROM documents
),
s AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_tok,
    CAST(coalesce(list_sum(list_transform(toks, tk -> {weight})), 0) AS BIGINT) AS logit
  FROM t
)
SELECT doc_id, n_tok, logit, (logit >= 0) AS keep FROM s
"""


TEXT_QUALITY_CLASSIFIER_SQL = _quality_classifier_sql()


# --------------------------------------------- token surprisal (#91)
#
# LM-perplexity-proxy quality signal (the CCNet recipe filters on a
# trained KenLM's perplexity; the corpus's OWN unigram statistics give
# the engine-native analogue): rare tokens are surprising, and a doc's
# mean surprisal separates fluent prose (common-word heavy) from
# boilerplate/gibberish (rare-token heavy). True -log p needs libm log,
# whose last-ulp rounding differs across engines and would break the
# value-hash gate; the DIGIT-COUNT bucket digits(N) - digits(count)
# (= ceil-ish log10(N/count)) is integer-exact in any engine and keeps
# the Zipf ordering. The only float is one final double division.

def token_surprisal(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc mean unigram surprisal in decimal-digit buckets.

    Plan: tokenize map-side → one word-count shuffle for the corpus
    unigram table → token-keyed equi-join back (word-count-shaped, the
    same key distribution) → per-doc aggregation. The corpus total is a
    scalar aggregate output, broadcast by policy. Linear in corpus
    tokens; no pairwise anything. Docs with zero tokens have no
    surprisal and are absent (the text_quality gate already flags them).
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.filter(_tokens(F.col(text_col)), lambda t: t != "")).alias("_t"),
    )
    cnt = toks.groupBy("_t").agg(F.count(F.lit(1)).alias("_c"))
    tot = cnt.agg(F.sum("_c").alias("_n"))
    bucket = F.length(F.col("_n").cast("string")) - F.length(F.col("_c").cast("string"))
    return (
        toks.join(cnt, "_t")
        .join(F.broadcast(tot))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(bucket).alias("sum_surprisal"),
        )
        .select(
            F.col(id_col),
            F.col("n_tok"),
            F.col("sum_surprisal"),
            (
                F.col("sum_surprisal").cast("double") / F.col("n_tok").cast("double")
            ).alias("mean_surprisal"),
        )
    )


def text_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query for #91 over the documents table."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return token_surprisal(docs, "doc_id", "text")


def bigram_surprisal(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc mean CONDITIONAL surprisal -log p(token | prev token) in
    decimal-digit buckets — the context-sensitive LM quality signal
    (CCNet scores docs with a KenLM n-gram model; this is that shape
    with the repo's integer-exact digit-bucket log proxy, #91):
    surprisal(p→c) = digits(count(p as context)) − digits(count(p,c)).

    Plan: bigram pairs form MAP-SIDE from each doc's token array (no
    per-doc window), then two word-count-shaped aggregations (pair
    counts, context counts) join back on their own keys and one doc
    aggregation folds the positions. Linear in corpus tokens. Docs with
    fewer than two tokens have no bigrams and are absent.
    """
    tk = F.filter(_tokens(F.col(text_col)), lambda t: t != "")
    pairs_arr = F.transform(
        F.sequence(F.lit(2), F.size("_tk")),
        lambda i: F.struct(
            F.element_at(F.col("_tk"), i - 1).alias("p"),
            F.element_at(F.col("_tk"), i).alias("c"),
        ),
    )
    pr = (
        df.select(F.col(id_col), tk.alias("_tk"))
        # NULL when <2 tokens: guards sequence(2,1) descending; explode
        # drops the row, matching the oracle's empty range
        .select(
            F.col(id_col),
            F.explode(F.when(F.size("_tk") >= 2, pairs_arr)).alias("_pc"),
        )
        .select(F.col(id_col), F.col("_pc.p").alias("_p"), F.col("_pc.c").alias("_c"))
    )
    big = pr.groupBy("_p", "_c").agg(F.count(F.lit(1)).alias("_cb"))
    ctx = pr.groupBy("_p").agg(F.count(F.lit(1)).alias("_cp"))
    bucket = F.length(F.col("_cp").cast("string")) - F.length(
        F.col("_cb").cast("string")
    )
    return (
        pr.join(big, ["_p", "_c"])
        .join(ctx, ["_p"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(bucket).alias("sum_surprisal"),
        )
        .select(
            F.col(id_col),
            F.col("n_bigrams"),
            F.col("sum_surprisal"),
            (
                F.col("sum_surprisal").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("mean_surprisal"),
        )
    )


def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query for #119 over the documents table."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return bigram_surprisal(docs, "doc_id", "text")


TEXT_BIGRAM_SURPRISAL_SQL = r"""
WITH t AS (
  SELECT doc_id,
    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
  FROM documents
),
pr AS (
  SELECT doc_id, pair[1] AS p, pair[2] AS c FROM (
    SELECT doc_id,
      unnest([[tk[i-1], tk[i]] for i in range(2, len(tk) + 1)]) AS pair
    FROM t
  )
),
big AS (SELECT p, c, CAST(COUNT(*) AS BIGINT) AS cb FROM pr GROUP BY p, c),
ctx AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS cp FROM pr GROUP BY p)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  CAST(SUM(length(CAST(cp AS VARCHAR)) - length(CAST(cb AS VARCHAR)))
       AS BIGINT) AS sum_surprisal,
  CAST(SUM(length(CAST(cp AS VARCHAR)) - length(CAST(cb AS VARCHAR)))
       AS BIGINT)::DOUBLE / CAST(COUNT(*) AS BIGINT)::DOUBLE
    AS mean_surprisal
FROM pr JOIN big USING (p, c) JOIN ctx USING (p)
GROUP BY doc_id
"""


TEXT_SURPRISAL_SQL = r"""
WITH tok AS (
  SELECT doc_id,
    unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS _t
  FROM documents
),
cnt AS (SELECT _t, CAST(COUNT(*) AS BIGINT) AS _c FROM tok GROUP BY _t),
tot AS (SELECT CAST(SUM(_c) AS BIGINT) AS _n FROM cnt)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_tok,
  CAST(SUM(length(CAST(tot._n AS VARCHAR)) - length(CAST(cnt._c AS VARCHAR))) AS BIGINT)
    AS sum_surprisal,
  CAST(SUM(length(CAST(tot._n AS VARCHAR)) - length(CAST(cnt._c AS VARCHAR))) AS BIGINT)::DOUBLE
    / CAST(COUNT(*) AS BIGINT)::DOUBLE AS mean_surprisal
FROM tok JOIN cnt USING (_t) CROSS JOIN tot
GROUP BY doc_id
"""


# ----------------------------------------- temperature source mix (#92)
#
# Data-mixing resample (the multilingual-LM recipe: sample source s with
# p_s ∝ t_s^α, α < 1, to upweight small sources). Per-doc keep rate to
# hit that mixture from a corpus holding t_s tokens of source s is
# r_s ∝ t_s^(α-1); at α = 1/2 that is r_s = sqrt(t_min / t_s) with the
# smallest source kept whole. α = 1/2 is chosen deliberately: sqrt is
# an IEEE-754 CORRECTLY-ROUNDED operation (unlike pow/log, whose final
# ulp varies by libm), so Spark and any oracle engine compute the
# identical double, the identical floor, and the identical keep set.

MIX_RATE_DENOM = 1_000_000  # keep rates in exact ppm


def temperature_mix(df: DataFrame, id_col: str, source_col: str, text_col: str) -> DataFrame:
    """Deterministic α=1/2 temperature resample across sources.

    Plan: map-side word counts → tiny per-source token-total aggregate →
    scalar min → rates broadcast-joined back (the source domain is
    bounded — a label-cardinality frame, like emb_label_centroids) →
    map-side multiplicative-hash keep. One small shuffle total; the keep
    decision is stable under corpus growth only via the rates, so
    re-running after ingest re-mixes with fresh totals by design.
    """
    wc = df.select(
        F.col(id_col),
        F.col(source_col),
        F.size(F.filter(_tokens(F.col(text_col)), lambda t: t != "")).alias("_nt"),
    )
    per_src = wc.groupBy(source_col).agg(F.sum("_nt").alias("_ts"))
    # t_min over POSITIVE totals only: a source of empty docs has no
    # tokens to weight (its docs are kept whole) and must not drive
    # sqrt(0/t) / 0-division NaNs through floor
    tmin = per_src.where(F.col("_ts") > 0).agg(F.min("_ts").alias("_tmin"))
    rates = (
        per_src.join(F.broadcast(tmin))
        .select(
            F.col(source_col),
            F.when(F.col("_ts") <= 0, F.lit(MIX_RATE_DENOM).cast("long"))
            .otherwise(
                F.floor(
                    F.lit(float(MIX_RATE_DENOM))
                    * F.sqrt(
                        F.col("_tmin").cast("double") / F.col("_ts").cast("double")
                    )
                )
            )
            .alias("rate_ppm"),
        )
    )
    keep = (
        (F.col(id_col) % F.lit(SAMPLE_MOD)) * F.lit(SAMPLE_MULT)
    ) % F.lit(SAMPLE_MOD) % F.lit(MIX_RATE_DENOM) < F.col("rate_ppm")
    return wc.join(F.broadcast(rates), source_col).select(
        F.col(id_col), F.col(source_col), F.col("rate_ppm"), keep.alias("keep")
    )


def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query for #92 over the documents table."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return temperature_mix(docs, "doc_id", "source", "text")


CORPUS_TEMPERATURE_MIX_SQL = rf"""
WITH wc AS (
  SELECT doc_id, source,
    CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS BIGINT) AS _nt
  FROM documents
),
per_src AS (SELECT source, CAST(SUM(_nt) AS BIGINT) AS _ts FROM wc GROUP BY source),
tmin AS (SELECT MIN(_ts) AS _tmin FROM per_src WHERE _ts > 0),
rates AS (
  SELECT source,
    CASE WHEN _ts <= 0 THEN CAST({MIX_RATE_DENOM} AS BIGINT)
      ELSE CAST(floor({MIX_RATE_DENOM}.0 * sqrt(_tmin::DOUBLE / _ts::DOUBLE)) AS BIGINT)
    END AS rate_ppm
  FROM per_src CROSS JOIN tmin
)
SELECT wc.doc_id, wc.source, rates.rate_ppm,
  ((wc.doc_id % {SAMPLE_MOD}) * {SAMPLE_MULT}) % {SAMPLE_MOD} % {MIX_RATE_DENOM} < rates.rate_ppm
    AS keep
FROM wc JOIN rates USING (source)
"""


# ------------------------- weighted sampling without replacement (#123)

WEIGHTED_SAMPLE_K = 20  # rows kept per source stratum


def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (#123).

    Efraimidis–Spirakis (IPL 2006, public): each row draws a key
    u^(1/w) from a uniform u and weight w; the k largest keys per
    stratum are EXACTLY a weighted sample without replacement. The
    uniform is derived from the row id with the same multiplicative-
    hash arithmetic as :func:`sample_stratified` — no RNG state, so the
    sample is reproducible in any engine, stable across reruns and
    repartitions, and a document's inclusion never flips when unrelated
    rows arrive (u is per-row, w is per-row). Weight = n_chars: longer
    documents are proportionally likelier, the standard token-budget-
    aware corpus draw.

    Plan: one map pass computes the key (integer hash + one pow), one
    per-stratum top-k (row_number over a 20-source partition — the
    window's partition count is the source cardinality, never corpus-
    wide). At 100 TB the window would be replaced by a per-partition
    partial top-k + merge (the same two-level shape used elsewhere);
    with rank bounded at k·|sources| rows the final shuffle is tiny.

    Cross-engine hashing (round-10 advice): u^(1/w) rides pow(), which
    is <1-ulp correct in both engines but NOT bit-identical between the
    JVM and libm. Ranking is unaffected in practice (a flip needs two
    DISTINCT rows' keys within 1 ulp of each other), but emitting the
    raw double would hash-diverge on any 1-ulp disagreement, so the
    OUTPUT key is quantized to an integer grid — ``sample_key_q`` =
    floor(key·10⁹) as BIGINT, identical in both engines except on the
    measure-1e-7 grid-straddle set.
    """
    docs = load_table(spark, sf_dir, "documents")
    u = (
        ((F.col("doc_id") % F.lit(SAMPLE_MOD)) * F.lit(SAMPLE_MULT))
        % F.lit(SAMPLE_MOD)
        + F.lit(1)
    ).cast("double") / F.lit(float(SAMPLE_MOD + 1))
    key = F.pow(u, F.lit(1.0) / F.greatest(F.col("n_chars"), F.lit(1)).cast("double"))
    w = Window.partitionBy("source").orderBy(
        F.col("_key").desc(), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source", "n_chars", key.alias("_key"))
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= WEIGHTED_SAMPLE_K)
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.floor(F.col("_key") * F.lit(1e9)).alias("sample_key_q"),
        )
    )


SAMPLE_WEIGHTED_SQL = f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
    POW(
      (((doc_id % {SAMPLE_MOD}) * {SAMPLE_MULT}) % {SAMPLE_MOD} + 1)::DOUBLE
        / {float(SAMPLE_MOD + 1)},
      1.0 / GREATEST(n_chars, 1)::DOUBLE
    ) AS sample_key
  FROM documents
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY source ORDER BY sample_key DESC, doc_id
  ) AS rk FROM keyed
)
SELECT doc_id, source, n_chars,
  CAST(FLOOR(sample_key * 1e9) AS BIGINT) AS sample_key_q
FROM ranked
WHERE rk <= {WEIGHTED_SAMPLE_K}
"""


# -------------------- per-source quality-quartile filter (#130)

QUALITY_FILTER_PCT = 0.25  # drop each source's bottom quartile


def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop each source's bottom quality quartile (#130).

    The curation step after scoring (#27): a GLOBAL score cutoff lets
    one clean source crowd out another whose honest ceiling is lower
    (code vs prose, forum vs news), so production filters threshold
    PER SOURCE. The boundary is the exact population P25 of the #27
    quality blend within each source — computed by one bounded
    aggregate (|sources| rows, broadcast back), never a global ntile
    window; the scoring itself is map-side. Kept rows carry their score
    and their source's boundary so downstream stages (and audits) can
    see how close each survivor sat. Same quantile-interpolation
    convention as the exact-median gate and #117's RFM quartiles.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id", "source", quality_score_col("text").alias("quality_score")
    )
    bounds = scored.groupBy("source").agg(
        F.expr(f"percentile(quality_score, {QUALITY_FILTER_PCT})").alias(
            "src_p25"
        )
    )
    return (
        scored.join(F.broadcast(bounds), "source")
        .where(F.col("quality_score") > F.col("src_p25"))
        .select("doc_id", "source", "quality_score", "src_p25")
    )


CORPUS_QUALITY_FILTER_SQL = rf"""
WITH t AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks,
    length(text) AS n_chars,
    length(text) - length(regexp_replace(text, '[a-z]', '', 'g')) AS n_alpha,
    length(text) - length(regexp_replace(text, ' ', '', 'g')) AS n_space
  FROM documents
),
scored AS (
  SELECT doc_id, source,
    (CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE)) * 0.4
      + (CAST({_EN_SQL} AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * 0.3
      + (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * 0.2
      + (CAST(n_space AS DOUBLE) / CAST(n_chars AS DOUBLE)) * 0.1 AS quality_score
  FROM t
),
bounds AS (
  SELECT source, quantile_cont(quality_score, {QUALITY_FILTER_PCT}) AS src_p25
  FROM scored GROUP BY source
)
SELECT doc_id, source, quality_score, src_p25
FROM scored JOIN bounds USING (source)
WHERE quality_score > src_p25
"""


# --------------- exact heavy hitters, candidate-pruned shuffle (#151)

HEAVY_HITTER_K = 50  # report words with frequency > corpus_tokens / K


def _mg_prune(counts: dict, keep: int) -> None:
    """One Misra-Gries decrement round: subtract the (keep+1)-th largest
    counter from every counter and drop non-positives. Any prune
    schedule is a legal MG merge sequence (Agarwal et al., PODS'12), so
    callers may prune lazily without touching the error bound."""
    if len(counts) <= keep:
        return
    vals = sorted(counts.values(), reverse=True)
    m = vals[keep]  # (keep+1)-th largest
    for w in list(counts):
        c = counts[w] - m
        if c > 0:
            counts[w] = c
        else:
            del counts[w]


def _mg_screen_fn(k: int):
    """mapInPandas body: per-partition bounded MG summary over a
    single ``word`` column, emitting ≤ k counter rows plus one
    word=NULL sentinel row carrying the partition's token count — the
    candidate screen of the batch heavy hitters (#151)."""

    def screen(batches):
        counts: dict = {}
        n_part = 0
        # lazy prune bound: amortizes the sort; any prune schedule is a
        # legal MG merge sequence, so the error bound is unaffected
        soft_cap = max(4 * k, 1024)
        for pdf in batches:
            n_part += len(pdf)
            for w, c in pdf["word"].value_counts().items():
                counts[w] = counts.get(w, 0) + int(c)
            if len(counts) > soft_cap:
                _mg_prune(counts, k)
        _mg_prune(counts, k)
        # the corpus total rides the SAME pass as a word=NULL sentinel
        # row per partition — folding what used to be a separate full
        # tokenize+count scan into the screen (3 scans -> 2)
        words = list(counts)
        yield pd.DataFrame(
            {
                "word": pd.Series(words + [None], dtype="object"),
                "part_n": pd.Series(
                    [counts[w] for w in words] + [n_part], dtype="int64"
                ),
            }
        )

    return screen


def text_heavy_hitters(
    spark: SparkSession, sf_dir: str, k: int = HEAVY_HITTER_K
) -> DataFrame:
    """Exact frequency heavy hitters (> n/k) without a full-vocabulary
    shuffle (#151).

    The plain plan (explode -> groupBy -> HAVING) shuffles one row per
    (partition, word) — at 100 TB the long tail of near-unique tokens
    dominates that shuffle even though none of them can possibly be a
    heavy hitter. This plan screens candidates first with a BOUNDED
    per-partition Misra-Gries summary (Arrow pass, ≤ k counters held
    between batches — the long tail never accumulates in worker
    memory): batch counts merge additively, and whenever the counter
    set overflows, the (k+1)-th largest value is subtracted from every
    counter and non-positives drop — the mergeable-summaries MG merge
    (Agarwal et al., PODS'12), which undercounts any word by at most
    n_p/(k+1). A word with global count > n/k has count_p > n_p/k in
    AT LEAST one partition (averaging), where its MG estimate stays
    > n_p/k − n_p/(k+1) > 0 — so it survives some partition's summary.
    Each partition emits its ≤ k survivors PLUS one word=NULL sentinel
    row carrying the partition's token count — so the corpus total
    rides the screen pass instead of a third full tokenize+count scan
    (the whole corpus is now read exactly twice: screen, then exact
    recount). The candidate set broadcasts back as a semi-join, and
    only candidate tokens reach the exact recount. The final filter is
    the all-integer inequality count*k > n (engine-identical); output
    equals the brute-force GROUP BY ... HAVING exactly — the screen is
    pure shuffle pruning, never semantics.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(F.explode(_tokens(F.col("text"))).alias("word"))
    screen = _mg_screen_fn(k)

    # tiny output (<= k+1 rows/partition): persist so the candidate set
    # and the corpus total both read ONE screen pass; released by
    # release_persisted() with the other tracked frames
    scr = _dedup_track(toks.mapInPandas(screen, "word string, part_n long").persist())
    cands = scr.where(F.col("word").isNotNull()).select("word").distinct()
    # counter rows carry MG estimates, used here only as candidates;
    # the corpus total is the sentinel rows alone
    total = scr.where(F.col("word").isNull()).agg(F.sum("part_n").alias("_n"))
    return (
        toks.join(F.broadcast(cands), "word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(total))
        .where(F.col("n") * F.lit(k) > F.col("_n"))
        .select("word", "n")
    )


TEXT_HEAVY_HITTERS_SQL = rf"""
WITH tok AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS word FROM documents
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok)
SELECT word, CAST(COUNT(*) AS BIGINT) AS n
FROM tok, tot
GROUP BY word, tot.n
HAVING COUNT(*) * {HEAVY_HITTER_K} > tot.n
"""


# ------------------- Unicode-NFC canonical form (#165's key)


def nfc_canonical(col) -> "F.Column":
    """Unicode-NFC-normalized, whitespace-collapsed canonical text.

    The dedup key that catches composed-vs-decomposed duplicates
    ('café' as U+00E9 vs 'cafe'+U+0301 — byte-different, render-
    identical), the duplicate class every byte-level signature (#19,
    #29) misses by construction. Normalization has no JVM builtin, so
    it runs as an Arrow-batched pandas UDF (stdlib ``unicodedata``,
    Unicode-standard NFC — DuckDB's ``nfc_normalize`` implements the
    same public algorithm, which is what makes the oracle exact);
    whitespace collapse is JVM-side regexp_replace. Batch-vectorized,
    never per-row Python.
    """

    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    return F.trim(F.regexp_replace(_nfc(col), r"\s+", " "))
