"""Corpus-level text statistics for LLM-data curation: TF-IDF term
ranking, BM25 relevance scoring, and fixed-window document chunking.

All three are DataFrame compositions over the same whitespace
tokenization as operators/text.py — explode → aggregate → join — with
no Python UDFs, so the heavy passes (token explode, per-term counts)
stay inside whole-stage codegen.

Cross-engine determinism: the scores avoid transcendental functions.
``ln`` is correctly rounded to <1 ulp but NOT guaranteed bit-identical
between the JVM's libm and DuckDB's, and with ~10^5 scored rows a
last-ulp divergence is near-certain to break the driver's value hash.
Both scores therefore use the *rational* idf variant
((N+1)/(df+1) resp. (N-df+0.5)/(df+0.5)) — every op is an IEEE
exactly-rounded multiply/divide/add applied in the same order in both
engines, so the doubles match bit-for-bit.  BM25's per-term
contributions are summed as exact decimals (order-independent) before
the final cast to double.

Scale shape (100 TB corpus): token explode is map-side; per-(doc,term)
counts shuffle on the composite key (high cardinality, well spread);
the document-frequency table is vocabulary-sized (≪ corpus) and joins
back on the term key.  Chunking is a pure map-only explode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table
from .dedup import spread

# BM25 constants (standard Robertson defaults) — shared with the SQL
# oracle via f-string interpolation so both engines see identical
# literals.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = ["data", "scan", "hash"]

CHUNK_SIZE = 200
CHUNK_STRIDE = 160

_TOKENS_SQL = r"string_split_regex(trim(lower(text)), '\s+')"


def _tokens(col):
    return F.split(F.trim(F.lower(col)), r"\s+")


def _doc_terms(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf) — per-document term frequencies."""
    return (
        docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by tf-rarity score.

    score = tf * (N + 1) / (df + 1) — the log-free tf-idf variant (see
    module docstring for why no ``ln``).  Rank ties break on term text,
    so top-k is fully deterministic.

    The (doc, term, tf) frame feeds BOTH the document-frequency branch
    and the scoring join: on large inputs it is persisted and eagerly
    materialized so the two downstream stages read one cached
    tokenization instead of racing the unpopulated cache and each
    re-running the explode+count (measured at sf10: 35 s racing vs
    10.5 s pinned). Below the spread threshold the recompute is cheaper
    than the extra materialize pass (sf0.1: 0.9 s vs 1.6 s), so inputs
    that pass the shared small-input gate (``dedup._small_scan``, read
    through any ``spread()``) skip the pin.
    """
    from .dedup import _materialize, _small_scan, _track

    terms = _doc_terms(docs)
    if not _small_scan(docs):
        terms = _materialize(_track(terms.persist()))
    df_tbl = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("_n"))
    score = (
        F.col("tf").cast("double")
        * (F.col("_n") + F.lit(1.0))
        / (F.col("df") + F.lit(1.0))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        terms.join(df_tbl, "term")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "term", "tf", "df", score.alias("score"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "df", "score", "rnk")
    )


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return tfidf_top_terms(docs, k=3)


TEXT_TFIDF_TOPK_SQL = rf"""
WITH terms AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM terms GROUP BY doc_id, term
), dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
), n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, term, tf, df,
         CAST(tf AS DOUBLE) * (n_docs + 1.0) / (df + 1.0) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, score,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS INT) AS rnk
FROM scored
QUALIFY rnk <= 3
"""


def bm25_scores(docs: DataFrame, query_terms: list[str]) -> DataFrame:
    """BM25 relevance of every document against a fixed term query.

    Rational-idf BM25 (no ``ln``): per-term contribution
        idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    with idf = (N - df + 0.5)/(df + 0.5).  Contributions are cast to
    exact decimal before the per-doc sum so partition order cannot
    change the result.  Only documents matching ≥1 query term appear.
    """
    terms = _doc_terms(docs)
    doclen = (
        docs.select(
            "doc_id", F.size(_tokens(F.col("text"))).alias("dl")
        )
    )
    # ONE aggregation over doclen yields both scalars: N is the doc
    # count (== doclen row count), so a separate docs.agg would pay a
    # second full corpus scan for nothing
    stats = doclen.agg(
        F.count(F.lit(1)).alias("_n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("_avgdl"),
    )
    q = terms.where(F.col("term").isin(query_terms))
    df_tbl = q.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tfd, dfd, dld = (
        F.col("tf").cast("double"),
        F.col("df").cast("double"),
        F.col("dl").cast("double"),
    )
    idf = ((F.col("_n") - F.col("df")).cast("double") + F.lit(0.5)) / (
        dfd + F.lit(0.5)
    )
    denom = tfd + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * (dld / F.col("_avgdl"))
    )
    contrib = idf * (tfd * F.lit(BM25_K1 + 1.0) / denom)
    return (
        q.join(F.broadcast(df_tbl), "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(contrib.cast("decimal(30,10)")).cast("double").alias("bm25"),
            F.count(F.lit(1)).alias("n_matched_terms"),
        )
    )


def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return bm25_scores(docs, BM25_QUERY_TERMS)


_QLIST = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)

TEXT_BM25_SQL = rf"""
WITH terms AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM terms GROUP BY doc_id, term
), q AS (
  SELECT * FROM tf WHERE term IN ({_QLIST})
), dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM q GROUP BY term
), doclen AS (
  SELECT doc_id, CAST(len({_TOKENS_SQL}) AS INT) AS dl FROM documents
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
), avgdl AS (
  SELECT CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_dl
  FROM doclen
)
SELECT doc_id,
  CAST(SUM(CAST(
    (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)
    * (CAST(tf AS DOUBLE) * {BM25_K1 + 1.0}
       / (CAST(tf AS DOUBLE)
          + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B}
                         * (CAST(dl AS DOUBLE) / avg_dl))))
  AS DECIMAL(30,10))) AS DOUBLE) AS bm25,
  COUNT(*) AS n_matched_terms
FROM q
JOIN dfreq USING (term)
JOIN doclen USING (doc_id)
CROSS JOIN stats CROSS JOIN avgdl
GROUP BY doc_id
"""


def chunk_documents(docs: DataFrame, size: int = CHUNK_SIZE,
                    stride: int = CHUNK_STRIDE) -> DataFrame:
    """Fixed-width overlapping character chunks (size 200, stride 160 →
    40-char overlap), the standard pre-embedding split.

    Map-only: sequence+posexplode generates start offsets per document
    with no shuffle; a 100 TB corpus chunks at scan speed.
    """
    # greatest(..., 0): Spark's sequence() throws on start > stop with a
    # positive step, so a zero-length document must still yield one
    # (empty) chunk rather than an error; the oracle mirrors this.
    starts = F.sequence(
        F.lit(0), F.greatest(F.length(F.col("text")) - 1, F.lit(0)), F.lit(stride)
    )
    return (
        docs.select("doc_id", "text", F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.substring(F.col("text"), F.col("start") + 1, size).alias("chunk"),
        )
        .withColumn("chunk_len", F.length("chunk"))
    )


def text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs)


TEXT_CHUNKS_SQL = f"""
SELECT doc_id,
       CAST(start // {CHUNK_STRIDE} AS INT) AS chunk_idx,
       substr(text, CAST(start AS INT) + 1, {CHUNK_SIZE}) AS chunk,
       length(substr(text, CAST(start AS INT) + 1, {CHUNK_SIZE})) AS chunk_len
FROM (
  SELECT doc_id, text,
         unnest(generate_series(0, greatest(length(text) - 1, 0), {CHUNK_STRIDE})) AS start
  FROM documents
)
"""
