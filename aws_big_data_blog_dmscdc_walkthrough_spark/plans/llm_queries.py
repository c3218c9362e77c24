"""LLM-data-pipeline operators wired as driver-checkable queries.

Each wrapper fixes the parameters (blocking columns, thresholds, query
vector) and pairs the Spark plan with a DuckDB oracle GENERATED from the
same constants in operators/dedup.py — one source of truth for hash
coefficients, shingle size, band layout, and thresholds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup, graph, similarity
from ..operators.dedup import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    POLY_MOD1,
    POLY_MOD2,
    POLY_MUL1,
    POLY_MUL2,
    SIMHASH_BAND_BITS,
    SIMHASH_BAND_CHUNKS,
    SIMHASH_BAND_SUBSET,
    SIMHASH_HALF_BITS,
    spread,
)
from ..session import load_table

EMB_DIM = 64
NGRAM_JACCARD_THRESHOLD = 0.2
MINHASH_JACCARD_THRESHOLD = 0.5
# 64-bit simhash near-dup radius: k=3 is the published operating point
# for web-scale dedup (Manku, Jain, Das Sarma, "Detecting Near-Duplicates
# for Web Crawling", WWW'07 — public paper) and makes the 4-chunk
# pigeonhole banding EXACT (any pair within hamming 3 shares a chunk, so
# recall is 100%, no probabilistic miss). The earlier k=20 (31% of the
# bits!) declared ~25% of ALL doc pairs near-dups on the synthetic
# corpus — output grew quadratically with corpus size by construction,
# which the sf1 scale-curve run surfaced (16× wall at 10× data, all of
# it genuine output volume).
SIMHASH_MAX_HAMMING = 3
EMB_COSINE_THRESHOLD = 0.4
ANN_K = 10
ANN_LSH_K = 5
ANN_QUERY_ID = 0


# ----------------------------------------------------------- SQL builders

def _sql_poly(expr: str, mul: int = POLY_MUL1, mod: int = POLY_MOD1) -> str:
    return (
        f"list_reduce(list_prepend(0::BIGINT, [ascii(c)::BIGINT for c in string_split({expr}, '')]), "
        f"(a, b) -> (a * {mul} + b) % {mod})"
    )


def _shingles_cte(src: str = "documents") -> str:
    mul, mod = dedup.SHINGLE_COMBINE, POLY_MOD1
    return rf"""
tok AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS w FROM {src}),
th AS (SELECT doc_id, source, [{_sql_poly('t')} for t in w] AS hw FROM tok),
sh AS (
  SELECT doc_id, source,
    list_distinct([
      ((hw[i] * {mul} + hw[i+1]) % {mod} * {mul} + hw[i+2]) % {mod}
      for i in range(1, len(hw) - 1)
    ]) AS sh
  FROM th WHERE len(hw) >= 3
)
"""


_SHINGLES_CTE = _shingles_cte()


def _shingles_cte_k(k: int, src: str = "documents") -> str:
    """Generic-k twin of _shingles_cte: the Spark UDF folds
    sh = reduce(h[i:i+k], (a,b) -> (a*COMB + b) % MOD) with h[i] as the
    seed — exactly DuckDB's list_reduce over a 1-based inclusive slice."""
    mul, mod = dedup.SHINGLE_COMBINE, POLY_MOD1
    return rf"""
tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM {src}),
th AS (SELECT doc_id, [{_sql_poly('t')} for t in w] AS hw FROM tok),
shk AS (
  SELECT doc_id,
    list_distinct([
      list_reduce(hw[i:i+{k - 1}], (a, b) -> (a * {mul} + b) % {mod})
      for i in range(1, len(hw) - {k - 2})
    ]) AS sh
  FROM th WHERE len(hw) >= {k}
)
"""

_JACCARD_SQL = (
    "len(list_intersect(a.sh, b.sh))::DOUBLE"
    " / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))"
)


def _dot_sql(a: str, b: str, dim: int = EMB_DIM) -> str:
    return " + ".join(f"({a}[{i}]::DOUBLE * {b}[{i}]::DOUBLE)" for i in range(1, dim + 1))


# ------------------------------------------------------------ exact dedup

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, "doc_id", "text")


DEDUP_EXACT_SQL = r"""
WITH n AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm FROM documents
)
SELECT doc_id,
  MIN(doc_id) OVER (PARTITION BY norm) AS canonical_id,
  COUNT(*) OVER (PARTITION BY norm) AS group_size
FROM n
"""


# ---------------------------------------------------------- ngram jaccard

def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", ["source"], NGRAM_JACCARD_THRESHOLD
    )


DEDUP_NGRAM_JACCARD_SQL = f"""
WITH {_SHINGLES_CTE},
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, {_JACCARD_SQL} AS jaccard
  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE len(a.sh) > 0 AND len(b.sh) > 0
)
SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= {NGRAM_JACCARD_THRESHOLD}
"""


# ------------------------------------------------------------ minhash LSH

def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=MINHASH_JACCARD_THRESHOLD
    )


_MINHASH_LIST_SQL = ", ".join(
    f"list_min([({a} * x + {b}) % {MINHASH_P} for x in sh])"
    for a, b in zip(MINHASH_A, MINHASH_B)
)
_BANDS = len(MINHASH_A) // 2

DEDUP_MINHASH_LSH_SQL = f"""
WITH {_SHINGLES_CTE},
sig AS (SELECT doc_id, sh, [{_MINHASH_LIST_SQL}] AS sig FROM sh WHERE len(sh) > 0),
banded AS (
  SELECT doc_id, t.range AS j, sig[2 * t.range + 1] AS m1, sig[2 * t.range + 2] AS m2
  FROM sig, range({_BANDS}) t
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.j = b.j AND a.m1 = b.m1 AND a.m2 = b.m2
    AND a.doc_id < b.doc_id
),
verified AS (
  SELECT id_a, id_b, {_JACCARD_SQL} AS jaccard
  FROM cand JOIN sh a ON a.doc_id = cand.id_a JOIN sh b ON b.doc_id = cand.id_b
)
SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= {MINHASH_JACCARD_THRESHOLD}
"""


# --------------------------------------------- source dup matrix (#88)

def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix (#88): near-dup PAIR counts by
    (source, source) — the corpus diagnostic behind data-mixing
    decisions ("how much of books is already in web?"). Composes the
    MinHash-LSH pair set with a doc→source join; sources are
    canonically ordered (least/greatest) so each unordered pair counts
    once. Aggregates are exact (count) or order-independent (max) —
    no float summation, so the matrix hashes identically cross-engine.
    Scale shape: the pair set is the bounded LSH output; the two
    source lookups are linear equi-joins on doc_id.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Small-input fused form (round 14): the LSH pair solve AND the
    # source-matrix aggregation run inside one mapInPandas task —
    # the two doc->source joins and the matrix shuffle disappear.
    # Exactness notes live on _minhash_pairs_direct.
    if dedup._minhash_direct_eligible(docs, MINHASH_JACCARD_THRESHOLD, None):
        return dedup._minhash_pairs_direct(
            docs,
            "doc_id",
            "text",
            MINHASH_JACCARD_THRESHOLD,
            2,
            source_matrix_col="source",
        )
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=MINHASH_JACCARD_THRESHOLD
    )
    src = docs.select("doc_id", "source")
    j = (
        pairs.join(
            src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("_sa")),
            "id_a",
        ).join(
            src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("_sb")),
            "id_b",
        )
    )
    return (
        j.select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


DEDUP_SOURCE_MATRIX_SQL = f"""
SELECT least(a.source, b.source) AS source_a,
  greatest(a.source, b.source) AS source_b,
  CAST(COUNT(*) AS BIGINT) AS n_pairs,
  MAX(p.jaccard) AS max_jaccard
FROM ({DEDUP_MINHASH_LSH_SQL}) p
JOIN documents a ON a.doc_id = p.id_a
JOIN documents b ON b.doc_id = p.id_b
GROUP BY source_a, source_b
"""


# ------------------------------------------------- incremental dedup

DEDUP_INCREMENTAL_MOD = 10  # doc_id % MOD == 0 plays the "new batch"


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: the ingest-batch shape — docs with
    ``doc_id % 10 == 0`` play the new batch, the rest the existing
    corpus; the batch is matched against the corpus only (never
    corpus×corpus — O(batch) fresh compute per ingest).

    BENCHMARK CAVEAT: this gate query is stateless by necessity (the
    oracle replays it from the raw table), so it re-signs the corpus
    side on every run — O(corpus) work the production path does NOT do.
    A real ingest loop would persist the corpus signatures once and
    match each batch against the stored bands (O(batch) total), so this
    query's wall time measures the stateless replay, not that steady
    state."""
    docs = load_table(spark, sf_dir, "documents")
    # one-table split form: signatures computed ONCE over the union
    # (row-identical to signing the two filtered frames separately —
    # the UDFs are row-wise), saving a spread exchange + Arrow chain
    return dedup.split_minhash_pairs(
        docs,
        "doc_id",
        "text",
        lambda c: c % DEDUP_INCREMENTAL_MOD == 0,
        threshold=MINHASH_JACCARD_THRESHOLD,
    )


DEDUP_INCREMENTAL_SQL = f"""
WITH {_SHINGLES_CTE},
sig AS (SELECT doc_id, sh, [{_MINHASH_LIST_SQL}] AS sig FROM sh WHERE len(sh) > 0),
banded AS (
  SELECT doc_id, t.range AS j, sig[2 * t.range + 1] AS m1, sig[2 * t.range + 2] AS m2
  FROM sig, range({_BANDS}) t
),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS corpus_id
  FROM banded n JOIN banded o ON n.j = o.j AND n.m1 = o.m1 AND n.m2 = o.m2
  WHERE n.doc_id % {DEDUP_INCREMENTAL_MOD} = 0
    AND o.doc_id % {DEDUP_INCREMENTAL_MOD} <> 0
),
verified AS (
  SELECT new_id, corpus_id, {_JACCARD_SQL} AS jaccard
  FROM cand JOIN sh a ON a.doc_id = cand.new_id
            JOIN sh b ON b.doc_id = cand.corpus_id
)
SELECT new_id, corpus_id, jaccard FROM verified
WHERE jaccard >= {MINHASH_JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------- simhash

def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, "doc_id", "text", SIMHASH_MAX_HAMMING)


def _simhash_sql() -> str:
    votes = []
    for half, col in (("1", "h1"), ("2", "h2")):
        for i in range(SIMHASH_HALF_BITS):
            votes.append(
                f"SUM(CASE WHEN ({col} >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{half}_{i}"
            )
    lo = " + ".join(
        f"(CASE WHEN v1_{i} > 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END)"
        for i in range(SIMHASH_HALF_BITS)
    )
    hi = " + ".join(
        f"(CASE WHEN v2_{i} > 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END)"
        for i in range(SIMHASH_HALF_BITS)
    )
    # composite-block banding, mirroring dedup.simhash_pairs: every
    # C(6,3) combination of 10-bit chunks forms a 30-bit band key
    from itertools import combinations

    mask = (1 << SIMHASH_BAND_BITS) - 1
    band_selects = []
    for i, combo in enumerate(
        combinations(range(SIMHASH_BAND_CHUNKS), SIMHASH_BAND_SUBSET)
    ):
        # packed numeric key, same arithmetic as dedup.simhash_pairs
        key = f"{i}::BIGINT"
        for j in combo:
            key = (
                f"({key}) * {1 << SIMHASH_BAND_BITS} + "
                f"((simhash >> {j * SIMHASH_BAND_BITS}) & {mask})"
            )
        band_selects.append(f"SELECT doc_id, simhash, {key} AS ck FROM sig")
    banded = "\n  UNION ALL ".join(band_selects)
    return rf"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tk FROM documents
),
h AS (
  SELECT doc_id, {_sql_poly('tk')} AS h1,
         {_sql_poly('tk', POLY_MUL2, POLY_MOD2)} AS h2
  FROM tok
),
votes AS (SELECT doc_id, {', '.join(votes)} FROM h GROUP BY doc_id),
sig AS (
  SELECT doc_id, ({hi}) * {1 << SIMHASH_HALF_BITS}::BIGINT + ({lo}) AS simhash FROM votes
),
banded AS (
  {banded}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sa, b.simhash AS sb
  FROM banded a JOIN banded b ON a.ck = b.ck AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, bit_count(xor(sa, sb)) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {SIMHASH_MAX_HAMMING}
"""


DEDUP_SIMHASH_SQL = _simhash_sql()


# ------------------------------------------------------- embedding cosine

def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs(
        embs, "vec_id", "embedding", ["label"], EMB_COSINE_THRESHOLD
    )


DEDUP_EMBEDDING_COSINE_SQL = f"""
WITH e AS (
  SELECT vec_id, label, embedding,
    sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    ({_dot_sql('a.embedding', 'b.embedding')}) / (a.nrm * b.nrm) AS cosine
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= {EMB_COSINE_THRESHOLD}
"""


# ------------------------------------------------------- semantic dedup

SEMDEDUP_N_CLUSTERS = 8          # floor (gate-sized at sf≤0.001)
SEMDEDUP_THRESHOLD = 0.4


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (#84): cluster embeddings, prune near-dups within cluster.

    Gate form uses deterministic centroids (the first K table rows, the
    ann_ivf_topk pattern) so assignment, pairing, and the keep rule are
    all replayable in DuckDB. K = max(8, ⌊√N⌋) — the same expression
    the oracle computes from COUNT(*) — because BOTH costs depend on K:
    within-cluster pruning is quadratic in cluster size (N/K), and
    centroid assignment is N·K. A fixed K blows up the first
    (measured 0.8 s → 127 s from sf0.1 to sf3); K ∝ N blows up the
    second (N²/c assignment, measured 38 s at sf10). K = √N balances
    them at O(N^1.5) total — the scale probe reads 1.0/1.7/4.4/19 s at
    1×/10×/30×/100×. floor(sqrt(double)) is used on BOTH sides (not
    isqrt) so the engines can't disagree at rounding boundaries. Real
    use fits the same k by k-means on a sample.
    """
    import math

    embs = load_table(spark, sf_dir, "embeddings")
    n = embs.count()
    k = max(SEMDEDUP_N_CLUSTERS, int(math.floor(math.sqrt(float(n)))))
    cents = embs.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    return similarity.semantic_dedup(
        embs, "vec_id", "embedding", cents, SEMDEDUP_THRESHOLD
    )


def _semantic_sql() -> str:
    de_e = _dot_sql("e.embedding", "e.embedding")
    de_c = _dot_sql("e.embedding", "c.cv")
    dc_c = _dot_sql("c.cv", "c.cv")
    da_b = _dot_sql("a.embedding", "b.embedding")
    da_a = _dot_sql("a.embedding", "a.embedding")
    db_b = _dot_sql("b.embedding", "b.embedding")
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings
  WHERE vec_id < greatest({SEMDEDUP_N_CLUSTERS},
    CAST(floor(sqrt(CAST((SELECT COUNT(*) FROM embeddings) AS DOUBLE))) AS BIGINT))
),
assigned AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
      ROW_NUMBER() OVER (
        PARTITION BY e.vec_id
        ORDER BY ({de_c}) / (sqrt({de_e}) * sqrt({dc_c})) DESC, c.cid
      ) AS rk
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rk = 1
),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE ({da_b}) / (sqrt({da_a}) * sqrt({db_b})) >= {SEMDEDUP_THRESHOLD}
)
SELECT a.vec_id, a.cid, (d.vec_id IS NULL) AS keep
FROM assigned a LEFT JOIN dups d ON a.vec_id = d.vec_id
"""


DEDUP_SEMANTIC_SQL = _semantic_sql()


# --------------------------------------------------- substring dup (#86)

SUBSTR_K = 8


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication report (#86): per-doc fraction of
    k-token windows whose rolling hash repeats anywhere in the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.substring_dup_report(docs, "doc_id", "text", k=SUBSTR_K)


def _substring_sql() -> str:
    mul, mod = dedup.SHINGLE_COMBINE, POLY_MOD1
    k = SUBSTR_K
    return rf"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
),
th AS (SELECT doc_id, [{_sql_poly('t')} for t in w] AS hw FROM tok),
win AS (
  SELECT doc_id, unnest([
    list_reduce(hw[i:i+{k - 1}], (a, b) -> (a * {mul} + b) % {mod})
    for i in range(1, len(hw) - {k - 2})
  ]) AS h
  FROM th WHERE len(hw) >= {k}
),
dh AS (SELECT doc_id, h, COUNT(*) AS c FROM win GROUP BY doc_id, h),
tot AS (SELECT h, CAST(SUM(c) AS BIGINT) AS n FROM dh GROUP BY h),
per_doc AS (
  SELECT dh.doc_id,
    CAST(SUM(dh.c) AS BIGINT) AS n_windows,
    CAST(SUM(CASE WHEN tot.n >= 2 THEN dh.c ELSE 0 END) AS BIGINT) AS n_dup_windows
  FROM dh JOIN tot USING (h) GROUP BY dh.doc_id
)
SELECT doc_id, n_windows, n_dup_windows,
  n_dup_windows::DOUBLE / n_windows AS dup_frac
FROM per_doc
"""


DEDUP_SUBSTRING_SQL = _substring_sql()


# ------------------------------------------------------- dedup clusters

def _cluster_frame(docs: DataFrame) -> DataFrame:
    """Shared CC substrate: exact-dup edges ∪ source-blocked n-gram
    Jaccard pairs → distributed connected components →
    ``(doc_id, cluster_id, cluster_size)``. Both cluster-consuming
    queries (``dedup_clusters``, ``dedup_keep_best``) derive from this
    one frame — a real curation run computes clusters ONCE and applies
    each survivor policy over the result."""
    exact = dedup.exact_dedup(docs, "doc_id", "text")
    exact_edges = exact.where(F.col("doc_id") != F.col("canonical_id")).select(
        F.col("doc_id").alias("src"), F.col("canonical_id").alias("dst")
    )
    near = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", ["source"], NGRAM_JACCARD_THRESHOLD
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    clusters = graph.cluster_members(
        docs.select("doc_id"), exact_edges.unionByName(near), id_col="doc_id"
    )
    return clusters.select(F.col("id").alias("doc_id"), "cluster_id", "cluster_size")


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution over the documents table.
    ``cluster_id`` is the minimum member id — keep-one-per-cluster
    dedup keeps rows where ``doc_id == cluster_id``. Singletons are
    their own cluster."""
    return _cluster_frame(load_table(spark, sf_dir, "documents"))


# shared CC pipeline over exact+near edges (used by dedup_clusters and
# dedup_keep_best): recursive label walk → per-doc min component
_CLUSTER_CTES = f"""{_SHINGLES_CTE},
near AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE len(a.sh) > 0 AND len(b.sh) > 0
    AND {_JACCARD_SQL} >= {NGRAM_JACCARD_THRESHOLD}
),
exact_e AS (
  SELECT doc_id AS id_a, canonical_id AS id_b FROM (
    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY norm) AS canonical_id
    FROM (SELECT doc_id,
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
          FROM documents)
  ) WHERE doc_id <> canonical_id
),
edges AS (SELECT id_a, id_b FROM near UNION SELECT id_a, id_b FROM exact_e),
sym AS (SELECT id_a AS a, id_b AS b FROM edges
        UNION SELECT id_b, id_a FROM edges),
walk AS (
  SELECT doc_id AS id, doc_id AS comp FROM documents
  UNION
  SELECT s.b AS id, w.comp FROM walk w JOIN sym s ON s.a = w.id
),
comp AS (SELECT id AS doc_id, MIN(comp) AS cluster_id FROM walk GROUP BY id)"""

DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_CLUSTER_CTES}
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM comp
"""


# --------------------------------------------------------------- ANN topk

def _query_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == ANN_QUERY_ID)
        .select("embedding")
    )


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(
        embs, "vec_id", "embedding", _query_vec(spark, sf_dir), ANN_K
    )


ANN_COSINE_TOPK_SQL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {ANN_QUERY_ID}),
scored AS (
  SELECT vec_id,
    ({_dot_sql('embedding', 'qv')})
      / (sqrt({_dot_sql('embedding', 'embedding')}) * sqrt({_dot_sql('qv', 'qv')})) AS cosine
  FROM embeddings, q
)
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT {ANN_K}
"""


IVF_N_CENTROIDS = 8
IVF_NPROBE = 4


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with deterministic centroids (the first
    ``IVF_N_CENTROIDS`` table rows), fully gate-checkable: assignment,
    probe choice, and scoring all use the fixed-fold arithmetic the
    DuckDB oracle replays. Real use would fit the centroids by k-means
    on a sample."""
    embs = load_table(spark, sf_dir, "embeddings")
    from ..functions.vectors import as_double

    cents = [
        (r["vec_id"], r["cv"])
        for r in embs.where(F.col("vec_id") < IVF_N_CENTROIDS)
        .select("vec_id", as_double(F.col("embedding")).alias("cv"))
        .collect()
    ]
    # ANN_QUERY_ID < IVF_N_CENTROIDS: the query vector rides along in the
    # centroid collect — one driver job serves both
    qvec = dict(cents)[ANN_QUERY_ID]
    return similarity.ivf_topk_fixed(
        embs, "vec_id", "embedding", cents, qvec, ANN_K, nprobe=IVF_NPROBE,
    )


def _ivf_sql() -> str:
    de_e = _dot_sql("e.embedding", "e.embedding")
    de_c = _dot_sql("e.embedding", "c.cv")
    dc_c = _dot_sql("c.cv", "c.cv")
    dc_q = _dot_sql("c.cv", "qv")
    dq_q = _dot_sql("qv", "qv")
    da_q = _dot_sql("a.embedding", "qv")
    da_a = _dot_sql("a.embedding", "a.embedding")
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {IVF_N_CENTROIDS}
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {ANN_QUERY_ID}),
probes AS (
  SELECT cid FROM (
    SELECT c.cid,
      ROW_NUMBER() OVER (
        ORDER BY ({dc_q}) / (sqrt({dc_c}) * sqrt({dq_q})) DESC, c.cid
      ) AS rk
    FROM cents c CROSS JOIN q
  ) WHERE rk <= {IVF_NPROBE}
),
assigned AS (
  SELECT vec_id, embedding FROM (
    SELECT e.vec_id, e.embedding, c.cid,
      ROW_NUMBER() OVER (
        PARTITION BY e.vec_id
        ORDER BY ({de_c}) / (sqrt({de_e}) * sqrt({dc_c})) DESC, c.cid
      ) AS rk
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rk = 1 AND cid IN (SELECT cid FROM probes)
)
SELECT vec_id,
  ({da_q}) / (sqrt({da_a}) * sqrt({dq_q})) AS cosine
FROM assigned a CROSS JOIN q
ORDER BY cosine DESC, vec_id LIMIT {ANN_K}
"""


ANN_IVF_TOPK_SQL = _ivf_sql()


# --------------------------------------------------------- PQ ANN (#87)

PQ_M = 8           # subspaces
PQ_K = 16          # codebook entries per subspace (gate-sized; real: 256)
PQ_SUB = EMB_DIM // PQ_M


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (#87): codebooks derived from the
    first ``PQ_K`` table rows (each row's j-th sub-vector is entry i of
    codebook j — deterministic, so DuckDB replays encode + ADC exactly);
    real use trains per-subspace k-means codebooks on a sample."""
    import numpy as np

    embs = load_table(spark, sf_dir, "embeddings")
    from ..functions.vectors import as_double

    rows = sorted(
        (int(r["vec_id"]), np.asarray(r["cv"], dtype=np.float64))
        for r in embs.where(F.col("vec_id") < max(PQ_K, ANN_QUERY_ID + 1))
        .select("vec_id", as_double(F.col("embedding")).alias("cv"))
        .collect()
    )
    by_id = dict(rows)
    mat = np.stack([by_id[i] for i in range(PQ_K)])          # K × dim
    codebooks = mat.reshape(PQ_K, PQ_M, PQ_SUB).transpose(1, 0, 2)
    qvec = by_id[ANN_QUERY_ID]
    return similarity.pq_topk(embs, "vec_id", "embedding", codebooks, qvec, ANN_K)


def _pq_sql() -> str:
    def sq(a: str, b: str, j: int) -> str:
        lo = j * PQ_SUB + 1  # 1-based array index
        return " + ".join(
            f"(({a}[{i}]::DOUBLE - {b}[{i}]::DOUBLE) * ({a}[{i}]::DOUBLE - {b}[{i}]::DOUBLE))"
            for i in range(lo, lo + PQ_SUB)
        )

    code_ctes = ",\n".join(
        f"""code{j} AS (
  SELECT vec_id, cid AS c{j} FROM (
    SELECT e.vec_id, c.cid,
      ROW_NUMBER() OVER (
        PARTITION BY e.vec_id
        ORDER BY ({sq('e.embedding', 'c.cv', j)}) ASC, c.cid
      ) AS rk
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rk = 1
)"""
        for j in range(PQ_M)
    )
    qd_ctes = ",\n".join(
        f"qd{j} AS (SELECT c.cid, ({sq('qv', 'c.cv', j)}) AS d FROM cents c CROSS JOIN q)"
        for j in range(PQ_M)
    )
    code_joins = "\n".join(
        f"JOIN code{j} USING (vec_id)" for j in range(1, PQ_M)
    )
    qd_joins = "\n".join(
        f"JOIN qd{j} ON qd{j}.cid = c{j}" for j in range(PQ_M)
    )
    adist = " + ".join(f"qd{j}.d" for j in range(PQ_M))
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {PQ_K}
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {ANN_QUERY_ID}),
{code_ctes},
{qd_ctes}
SELECT vec_id, ({adist}) AS adist
FROM code0
{code_joins}
{qd_joins}
ORDER BY adist ASC, vec_id LIMIT {ANN_K}
"""


ANN_PQ_TOPK_SQL = _pq_sql()


# ------------------------------------------------------- batch ANN join

ANN_BATCH_K = 3
ANN_BATCH_NQ = 20


def ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Many-query ANN: top-k neighbors for every query row at once —
    the DataFrame-to-DataFrame shape a 'link each document to its
    neighbors' pipeline needs (one bucket equi-join + per-query window,
    not a per-query scan loop)."""
    embs = load_table(spark, sf_dir, "embeddings")
    queries = (
        embs.where(F.col("vec_id") < ANN_BATCH_NQ)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    return similarity.batch_lsh_topk(
        embs, queries, "vec_id", "query_id", "embedding", ANN_BATCH_K
    )


def _batch_sql() -> str:
    sig_c = " + ".join(
        f"(CASE WHEN c.embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(similarity.LSH_BITS)
    )
    sig_q = " + ".join(
        f"(CASE WHEN s.qv[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(similarity.LSH_BITS)
    )
    dc_q = _dot_sql("c.embedding", "s.qv")
    dc_c = _dot_sql("c.embedding", "c.embedding")
    dq_q = _dot_sql("s.qv", "s.qv")
    return f"""
WITH qs AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {ANN_BATCH_NQ}
),
scored AS (
  SELECT s.query_id, c.vec_id,
    ({dc_q}) / (sqrt({dc_c}) * sqrt({dq_q})) AS cosine
  FROM embeddings c JOIN qs s
    ON ({sig_c}) = ({sig_q})
)
SELECT query_id, vec_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, vec_id
  ) AS rk FROM scored
) WHERE rk <= {ANN_BATCH_K}
"""


ANN_BATCH_TOPK_SQL = _batch_sql()


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(
        embs, "vec_id", "embedding", _query_vec(spark, sf_dir), ANN_LSH_K
    )


_SIG_SQL = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
    for i in range(similarity.LSH_BITS)
)
_QSIG_SQL = " + ".join(
    f"(CASE WHEN qv[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
    for i in range(similarity.LSH_BITS)
)

ANN_LSH_TOPK_SQL = f"""
WITH q AS (
  SELECT embedding AS qv FROM embeddings WHERE vec_id = {ANN_QUERY_ID}
),
scored AS (
  SELECT vec_id,
    ({_dot_sql('embedding', 'qv')})
      / (sqrt({_dot_sql('embedding', 'embedding')}) * sqrt({_dot_sql('qv', 'qv')})) AS cosine
  FROM embeddings, q
  WHERE ({_SIG_SQL}) = ({_QSIG_SQL})
)
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT {ANN_LSH_K}
"""


# ------------------------------------------------- composite curation

CURATE_QUALITY_THRESHOLD = 0.45


def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation: quality gate → exact dedup → near-dup
    drop — the composed form of operators 19/20/27, the shape a real
    training-data pipeline runs nightly.

    Stages stay lazy: Catalyst fuses the quality filter into the scan
    feeding BOTH dedup stages; the near-dup pair join only ever sees
    quality-passing, exact-canonical survivors (smallest possible join).
    Output: the surviving corpus with its quality score.
    """
    from ..operators import text as text_ops

    # spread before scoring (round 14): same single-task rationale as
    # dedup_keep_best — the blend's regex+tokenize work must not run
    # serially in the lone scan task of a single-file input
    docs = spread(load_table(spark, sf_dir, "documents"), min_bytes=0)
    # score inline (map-side column, no join): one scan feeds the gate
    quality = docs.withColumn(
        "quality_score", text_ops.quality_score_col("text")
    ).where(F.col("quality_score") >= CURATE_QUALITY_THRESHOLD)
    # exact-canonical survivors WITHOUT the self-join (round 15, guide
    # §2.4): the canonical id is a window minimum over the normalized-
    # text key, so filtering doc_id == min(doc_id) inline keeps every
    # quality column in one pass — the r14 shape joined quality back to
    # exact_dedup's 3-column output, evaluating the regex+tokenize
    # quality chain on BOTH join inputs when the persist materialized.
    # Same rows by construction (exact_dedup's canonical is the same
    # window minimum over the same key).
    exact_key = dedup.normalize_text(F.col("text"))
    exact_w = Window.partitionBy(exact_key)
    # persist: canonical feeds BOTH the near-dup pair stage and the
    # final anti-join — without the cache the quality gate and the
    # exact-dedup window (a full shuffle at scale) evaluate twice
    canonical = dedup._track(
        quality.withColumn("_canon", F.min("doc_id").over(exact_w))
        .where(F.col("doc_id") == F.col("_canon"))
        .drop("_canon")
        .persist()
    )
    pairs = dedup.ngram_jaccard_pairs(
        canonical, "doc_id", "text", ["source"], NGRAM_JACCARD_THRESHOLD
    )
    # no .distinct(): the anti-join is duplicate-insensitive, so the
    # distinct added a shuffle + two aggregate passes for nothing
    drop = pairs.select(F.col("id_b").alias("doc_id"))
    return (
        canonical.join(drop, "doc_id", "left_anti")
        .select("doc_id", "source", "quality_score")
    )


_Q_SCORE_SQL = """
(CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE)) * 0.4
  + (CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE)) * 0.3
  + (CAST(n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE)) * 0.2
  + (CAST(n_space AS DOUBLE) / CAST(n_chars AS DOUBLE)) * 0.1
"""

_CURATE_STOPS = ", ".join(
    f"'{w}'" for w in ["the", "a", "and", "of", "to", "in", "is", "it", "you", "that", "for", "on", "with", "as"]
)

PIPELINE_CURATE_CORPUS_SQL = rf"""
WITH q AS (
  SELECT doc_id, source, text, {_Q_SCORE_SQL} AS quality_score
  FROM (
    SELECT doc_id, source, text,
      length(text) AS n_chars,
      length(text) - length(regexp_replace(text, '[a-z]', '', 'g')) AS n_alpha,
      length(text) - length(regexp_replace(text, ' ', '', 'g')) AS n_space,
      len(string_split_regex(trim(text), '\s+')) AS n_tok,
      len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ({_CURATE_STOPS}))) AS n_stop,
      len(list_distinct(string_split_regex(trim(text), '\s+'))) AS n_distinct
    FROM documents
  )
  WHERE {_Q_SCORE_SQL} >= {CURATE_QUALITY_THRESHOLD}
),
canon AS (
  SELECT doc_id, source, text, quality_score FROM (
    SELECT *, MIN(doc_id) OVER (PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS canonical_id
    FROM q
  ) WHERE doc_id = canonical_id
),
{_shingles_cte('canon')},
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, {_JACCARD_SQL} AS jaccard
  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE len(a.sh) > 0 AND len(b.sh) > 0
),
drops AS (
  SELECT DISTINCT id_b AS doc_id FROM pairs WHERE jaccard >= {NGRAM_JACCARD_THRESHOLD}
)
SELECT doc_id, source, quality_score
FROM canon
WHERE doc_id NOT IN (SELECT doc_id FROM drops)
"""


# ------------------------------------------------- label centroids

def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (the k-means update step, distributed)."""
    embs = load_table(spark, sf_dir, "embeddings")
    return similarity.vector_mean_by(embs, "label", "embedding", EMB_DIM)


EMB_LABEL_CENTROIDS_SQL = f"""
SELECT label, i - 1 AS pos,
  CAST(SUM(CAST(embedding[i]::DOUBLE AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*) AS mean
FROM embeddings, range(1, {EMB_DIM} + 1) t(i)
GROUP BY label, i
"""


# ------------------------------------------------- decontamination

DECONTAM_K = 5
DECONTAM_MIN_OVERLAP = 3
DECONTAM_EVAL_MOD = 97


def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination over the documents table: the eval set
    is the deterministic ~1% slice doc_id % 97 == 0 (stands in for a
    held-out benchmark corpus); flagged docs share ≥3 distinct 5-gram
    hashes with it."""
    docs = load_table(spark, sf_dir, "documents")
    eval_docs = docs.where(F.col("doc_id") % DECONTAM_EVAL_MOD == 0)
    return dedup.decontaminate(
        docs,
        eval_docs,
        "doc_id",
        "text",
        k=DECONTAM_K,
        min_overlap=DECONTAM_MIN_OVERLAP,
    )


CORPUS_DECONTAMINATE_SQL = f"""
WITH {_shingles_cte_k(DECONTAM_K)},
ev AS (
  SELECT DISTINCT unnest(sh) AS h FROM shk WHERE doc_id % {DECONTAM_EVAL_MOD} = 0
),
dg AS (SELECT doc_id, unnest(sh) AS h FROM shk)
SELECT dg.doc_id, CAST(count(*) AS BIGINT) AS overlap_ngrams
FROM dg JOIN ev USING (h)
GROUP BY dg.doc_id
HAVING count(*) >= {DECONTAM_MIN_OVERLAP}
"""


# ------------------------------------------------- embedding quantization

def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 affine quantization of the embeddings table,
    posexploded to (vec_id, pos, code, zero_point, scale) for the
    value-level gate."""
    return similarity.quantize_embeddings(load_table(spark, sf_dir, "embeddings"))


EMB_QUANTIZE_SQL = f"""
WITH v AS (
  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings
),
s AS (
  SELECT vec_id, e, list_min(e) AS mn,
    CASE WHEN list_max(e) - list_min(e) > 0
         THEN (list_max(e) - list_min(e)) / {(1 << 8) - 1}
         ELSE 1.0 END AS scale
  FROM v
)
SELECT vec_id,
  CAST(unnest(range(0, len(e))) AS BIGINT) AS pos,
  CAST(floor((unnest(e) - mn) / scale + 0.5) AS INT) AS code,
  mn AS zero_point,
  scale
FROM s
"""


# ------------------------------------------------- keep-best curation

def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best-per-cluster dedup: the survivor of each near-dup
    cluster is its HIGHEST-quality member (ties → smallest doc_id), not
    the minimum id — the survivor policy real curation uses (keep the
    cleanest copy of a boilerplate-heavy page, not the first-crawled).
    Output: one row per cluster (survivor doc_id, cluster id/size,
    survivor quality). Survivor election is the reusable
    ``graph.keep_best`` operator over the shared ``_cluster_frame``
    substrate — the same cluster frame ``dedup_clusters`` publishes."""
    from ..operators import text as text_ops

    docs = load_table(spark, sf_dir, "documents")
    clusters = _cluster_frame(docs)
    # spread the scoring branch (round 14): the quality blend runs two
    # regex passes + tokenize + array_distinct per row, which a
    # single-file bench input otherwise evaluates serially in one task
    scored = spread(docs, min_bytes=0).select(
        "doc_id", text_ops.quality_score_col("text").alias("quality_score")
    )
    return graph.keep_best(clusters, scored).select(
        "doc_id", "cluster_id", "cluster_size", "quality_score"
    )


DEDUP_KEEP_BEST_SQL = rf"""
WITH RECURSIVE {_CLUSTER_CTES},
cm AS (
  SELECT doc_id, cluster_id,
         COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
  FROM comp
),
q AS (
  SELECT doc_id, {_Q_SCORE_SQL} AS quality_score
  FROM (
    SELECT doc_id,
      length(text) AS n_chars,
      length(text) - length(regexp_replace(text, '[a-z]', '', 'g')) AS n_alpha,
      length(text) - length(regexp_replace(text, ' ', '', 'g')) AS n_space,
      len(string_split_regex(trim(text), '\s+')) AS n_tok,
      len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ({_CURATE_STOPS}))) AS n_stop,
      len(list_distinct(string_split_regex(trim(text), '\s+'))) AS n_distinct
    FROM documents
  )
),
r AS (
  SELECT cm.doc_id, cm.cluster_id, cm.cluster_size, q.quality_score,
    ROW_NUMBER() OVER (
      PARTITION BY cm.cluster_id
      ORDER BY q.quality_score DESC, cm.doc_id ASC
    ) AS rk
  FROM cm JOIN q ON cm.doc_id = q.doc_id
)
SELECT doc_id, cluster_id, cluster_size, quality_score FROM r WHERE rk = 1
"""


# ------------------------------------------------- per-source corpus card

def corpus_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus card: the summary a curation pipeline publishes
    after each run — document count, token volume, mean quality, exact
    median length. One scan, map-side derived columns, one groupBy on
    the (low-cardinality) source key; the exact median is the only
    sort-bearing aggregate (approx_percentile is the knob at 100 TB)."""
    from ..operators import text as text_ops

    docs = load_table(spark, sf_dir, "documents")
    derived = docs.select(
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).alias("_n_tok"),
        text_ops.quality_score_col("text").alias("_q"),
    )
    return derived.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_n_tok").alias("total_tokens"),
        F.avg("_q").alias("avg_quality"),
        F.median(F.col("_n_tok").cast("double")).alias("median_tokens"),
    )


CORPUS_SOURCE_STATS_SQL = rf"""
WITH d AS (
  SELECT source, n_tok, {_Q_SCORE_SQL} AS q
  FROM (
    SELECT source,
      length(text) AS n_chars,
      length(text) - length(regexp_replace(text, '[a-z]', '', 'g')) AS n_alpha,
      length(text) - length(regexp_replace(text, ' ', '', 'g')) AS n_space,
      len(string_split_regex(trim(text), '\s+')) AS n_tok,
      len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ({_CURATE_STOPS}))) AS n_stop,
      len(list_distinct(string_split_regex(trim(text), '\s+'))) AS n_distinct
    FROM documents
  )
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
  AVG(q) AS avg_quality,
  median(CAST(n_tok AS DOUBLE)) AS median_tokens
FROM d
GROUP BY source
"""


# --------------------------------------------- hard negatives (#99)

HARDNEG_NQ = 10
HARDNEG_K = 3


def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining gate (#99): anchors = the first 10 vectors,
    top-3 most-similar different-label rows each."""
    embs = load_table(spark, sf_dir, "embeddings")
    anchors = embs.where(F.col("vec_id") < HARDNEG_NQ).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("anchor_vec"),
    )
    return similarity.hard_negatives(
        embs, "vec_id", "embedding", "label", anchors, HARDNEG_K
    )


def _hard_negatives_sql() -> str:
    d_ac = _dot_sql("a.av", "c.embedding")
    d_aa = _dot_sql("a.av", "a.av")
    d_cc = _dot_sql("c.embedding", "c.embedding")
    return f"""
WITH a AS (
  SELECT vec_id AS anchor_id, label AS anchor_label, embedding AS av
  FROM embeddings WHERE vec_id < {HARDNEG_NQ}
),
scored AS (
  SELECT a.anchor_id, c.vec_id AS neg_id,
    ({d_ac}) / (sqrt({d_aa}) * sqrt({d_cc})) AS cosine
  FROM embeddings c JOIN a ON c.label <> a.anchor_label
),
r AS (
  SELECT anchor_id, neg_id, cosine,
    ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, neg_id) AS rn
  FROM scored
)
SELECT anchor_id, neg_id, cosine, CAST(rn AS INT) AS rn FROM r WHERE rn <= {HARDNEG_K}
"""


EMB_HARD_NEGATIVES_SQL = _hard_negatives_sql()


# ------------------------------------------- fuzzy record linkage (#104)

FUZZY_THRESHOLD = 0.5


def q_part_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage gate (#104): a deterministic 'dirty feed' (part
    names with their last two chars clipped) is re-linked to the clean
    name domain by trigram Jaccard; best match per dirty value, ties to
    the lexically smallest name.

    Deliberately VALUE-level: fuzzy similarity depends only on the
    strings, so matching runs on the DISTINCT name domains (one
    distinct shuffle each side, then a domain-sized match) and results
    map back to rows by plain equi-join — the standard linkage shape.
    Row-level matching here would be quadratic for free: this table
    repeats 64 names across millions of rows at scale.
    """
    from pyspark.sql import Window

    part = load_table(spark, sf_dir, "part")
    dirty = (
        part.where(F.col("p_partkey") % 20 == 3)
        .select(
            F.expr("substr(p_name, 1, greatest(length(p_name) - 2, 1))").alias(
                "dirty_name"
            )
        )
        .distinct()
    )
    clean = part.select(F.col("p_name")).distinct()
    pairs = dedup.fuzzy_join(
        dirty, clean, "dirty_name", "dirty_name", "p_name", "p_name",
        FUZZY_THRESHOLD,
    )
    w = Window.partitionBy("dirty_name").orderBy(
        F.col("jaccard").desc(), F.col("p_name")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("dirty_name", F.col("p_name").alias("matched_name"), "jaccard")
    )


Q_PART_FUZZY_MATCH_SQL = f"""
WITH dirty AS (
  SELECT DISTINCT substr(p_name, 1, greatest(length(p_name) - 2, 1)) AS dirty_name
  FROM part WHERE p_partkey % 20 = 3
),
clean AS (SELECT DISTINCT p_name FROM part),
ga AS (
  SELECT dirty_name, len(g) AS na, unnest(g) AS t FROM (
    SELECT dirty_name,
      list_distinct(CASE WHEN length(dirty_name) >= 3
        THEN [substr(lower(dirty_name), i, 3) for i in range(1, length(dirty_name) - 1)]
        ELSE [] END) AS g
    FROM dirty
  )
),
gb AS (
  SELECT p_name, len(g) AS nb, unnest(g) AS t FROM (
    SELECT p_name,
      list_distinct(CASE WHEN length(p_name) >= 3
        THEN [substr(lower(p_name), i, 3) for i in range(1, length(p_name) - 1)]
        ELSE [] END) AS g
    FROM clean
  )
),
inter AS (
  SELECT ga.dirty_name, gb.p_name, ga.na, gb.nb,
    CAST(COUNT(*) AS BIGINT) AS i
  FROM ga JOIN gb USING (t)
  GROUP BY ga.dirty_name, gb.p_name, ga.na, gb.nb
),
scored AS (
  SELECT dirty_name, p_name,
    i::DOUBLE / (na + nb - i)::DOUBLE AS jaccard
  FROM inter
),
best AS (
  SELECT dirty_name, p_name AS matched_name, jaccard,
    ROW_NUMBER() OVER (PARTITION BY dirty_name ORDER BY jaccard DESC, p_name) AS rn
  FROM scored WHERE jaccard >= {FUZZY_THRESHOLD}
)
SELECT dirty_name, matched_name, jaccard FROM best WHERE rn = 1
"""


# ---------------------------------------------- model evaluation (#105)

def eval_langid_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classification report (#105): the langid heuristic (#26) measured
    against the documents table's gold lang column — per-label
    precision/recall/F1 from one confusion-matrix aggregation.

    On THIS corpus the report correctly exposes that the gold labels
    carry no signal: every synthetic doc draws from one English-ish
    vocabulary regardless of its lang tag, so the heuristic collapses
    to the majority class (measured en P 0.41 / R 1.0 at sf0.1, other
    labels never predicted). That is the evaluation doing its job —
    the gate certifies the METRIC computation, not the heuristic."""
    from ..operators import evaluation, text as text_ops

    pred = text_ops.text_langid(spark, sf_dir).select("doc_id", "lang_pred")
    gold = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    joined = pred.join(gold, "doc_id")
    return evaluation.classification_report(joined, "lang_pred", "lang")


def _eval_langid_sql() -> str:
    from ..operators.text import TEXT_LANGID_SQL

    return f"""
WITH pred AS (
  SELECT doc_id, lang_pred FROM ({TEXT_LANGID_SQL})
),
pairs AS (
  SELECT p.lang_pred AS _p, d.lang AS _g FROM pred p
  JOIN documents d USING (doc_id)
),
cm AS (SELECT _p, _g, CAST(COUNT(*) AS BIGINT) AS _n FROM pairs GROUP BY _p, _g),
labels AS (SELECT DISTINCT label FROM (
  SELECT _p AS label FROM cm UNION SELECT _g FROM cm
)),
ptot AS (SELECT _p AS label, CAST(SUM(_n) AS BIGINT) AS _ptot FROM cm GROUP BY _p),
gtot AS (SELECT _g AS label, CAST(SUM(_n) AS BIGINT) AS _gtot FROM cm GROUP BY _g),
diag AS (SELECT _p AS label, _n AS _tp FROM cm WHERE _p = _g),
j AS (
  SELECT l.label,
    CAST(COALESCE(d._tp, 0) AS BIGINT) AS tp,
    CAST(COALESCE(p._ptot, 0) AS BIGINT) AS _ptot,
    CAST(COALESCE(g._gtot, 0) AS BIGINT) AS _gtot
  FROM labels l
  LEFT JOIN diag d USING (label)
  LEFT JOIN ptot p USING (label)
  LEFT JOIN gtot g USING (label)
),
m AS (
  SELECT label, _gtot AS support, tp, _ptot - tp AS fp, _gtot - tp AS fn,
    CASE WHEN _ptot > 0 THEN tp::DOUBLE / _ptot::DOUBLE END AS precision,
    CASE WHEN _gtot > 0 THEN tp::DOUBLE / _gtot::DOUBLE END AS recall
  FROM j
)
SELECT label, support, tp, fp, fn, precision, recall,
  CASE WHEN precision + recall > 0
    THEN 2.0 * precision * recall / (precision + recall) END AS f1
FROM m
"""


EVAL_LANGID_REPORT_SQL = _eval_langid_sql()


# --------------------------------------- directed containment (#124)

CONTAINMENT_THRESHOLD = 0.5


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query for #124: sub-document duplication via directed
    shingle containment (|I∩O|/|I|), source-blocked like the jaccard
    twin."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_containment_pairs(
        docs, "doc_id", "text", ["source"], CONTAINMENT_THRESHOLD
    )


DEDUP_CONTAINMENT_SQL = f"""
WITH {_SHINGLES_CTE},
pairs AS (
  SELECT a.doc_id AS id_inner, b.doc_id AS id_outer,
    len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh)::DOUBLE AS containment
  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id <> b.doc_id
  WHERE len(a.sh) > 0 AND len(b.sh) > 0
)
SELECT id_inner, id_outer, containment FROM pairs
WHERE containment >= {CONTAINMENT_THRESHOLD}
"""


# ---------------------------- edit-distance record linkage (#128)

LEVENSHTEIN_MAX_EDITS = 3


def q_part_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-match pairs over the part-name domain (#128).

    The exact-verification twin of #104's trigram linkage: trigram
    Jaccard screens cheaply but scores transpositions and short strings
    coarsely; Levenshtein is the exactness standard for short entity
    names (addresses, SKUs, vendor names). Pairs form over the DISTINCT
    name domain, and — the round-11 rewrite — the length-band prune
    (|len(a)−len(b)| > k already implies distance > k) is a JOIN KEY,
    not a theta predicate: one side buckets on its exact length, the
    other replicates to its ±k neighbor buckets (2k+1 rows, k=3), so
    bucket equality IS the band and Spark plans a hash join instead of
    the BroadcastNestedLoopJoin the non-equi form compiled to (round-10
    review: O(|names|²) predicate evaluations; on TPC-H p_name the
    domain is row-scale, so the NLJ was quadratic in the part table).
    The residual work is per-bucket-quadratic — the canonical blocked-
    linkage shape, shuffled on the bucket key so AQE skew-split applies;
    a further in-bucket cut (pigeonhole segment blocking) composes on
    top if a real domain concentrates lengths. ``F.levenshtein`` is
    JVM-side codegen and definitionally identical to DuckDB's
    ``levenshtein`` (unit-cost insert/delete/substitute), so the gate is
    value-exact; bucket membership reproduces the band EXACTLY, so the
    oracle SQL (still the declarative band form) hashes identically.
    Rows map back by equi-join like #104.
    """
    names = (
        load_table(spark, sf_dir, "part").select("p_name").distinct()
    )
    k = LEVENSHTEIN_MAX_EDITS
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.length("p_name").alias("_bucket"),
    )
    # each name lands in its 2k+1 neighbor buckets exactly once, so the
    # equi-join on _bucket enumerates exactly the band pairs, once each
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.explode(
            F.sequence(F.length("p_name") - k, F.length("p_name") + k)
        ).alias("_bucket"),
    )
    return (
        a.join(b, "_bucket")
        .where(F.col("name_a") < F.col("name_b"))
        .withColumn("edits", F.levenshtein("name_a", "name_b"))
        .where(F.col("edits") <= k)
        .select("name_a", "name_b", "edits")
    )


Q_PART_FUZZY_LEVENSHTEIN_SQL = f"""
WITH names AS (SELECT DISTINCT p_name FROM part)
SELECT a.p_name AS name_a, b.p_name AS name_b,
  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edits
FROM names a JOIN names b
  ON a.p_name < b.p_name
 AND abs(length(a.p_name) - length(b.p_name)) <= {LEVENSHTEIN_MAX_EDITS}
WHERE levenshtein(a.p_name, b.p_name) <= {LEVENSHTEIN_MAX_EDITS}
"""


# ----------------------- duplicate-cluster size histogram (#137)


def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram over the near-dup components (#137).

    The one-page answer to "how duplicated is this corpus": for every
    cluster size, how many clusters and how many documents sit at that
    size (size 1 = unique docs; the tail is what dedup will delete).
    Rides the shared ``_cluster_frame`` CC pipeline (#19-#21 edges +
    components, computed once), then two bounded aggregations: one
    cluster-keyed count, one size-keyed reduce whose output is at most
    |distinct sizes| rows. n_docs = size · n_clusters — exact integers.
    """
    cl = _cluster_frame(load_table(spark, sf_dir, "documents"))
    sizes = cl.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        )
    )


DEDUP_CLUSTER_SIZES_SQL = f"""
WITH RECURSIVE {_CLUSTER_CTES},
sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY cluster_id
)
SELECT cluster_size,
  CAST(COUNT(*) AS BIGINT) AS n_clusters,
  cluster_size * CAST(COUNT(*) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size
"""


# -------------------- exact prefix-filtered TF-cosine pairs (#150)

TF_COSINE_THRESHOLD = 0.9


def dedup_tf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted near-dup: exact bigram-TF cosine pairs at >= 0.9 (#150).

    The Spark plan prunes pair generation with the AllPairs prefix
    filter (operators/dedup.py:tf_cosine_pairs) — EXACT, so the oracle
    below is plain brute force: the two must agree bit-for-bit. The
    term domain is 3-word shingles (the #20 jaccard convention): on
    this corpus's closed vocabulary every unigram is corpus-hot
    (posting lists ~O(N) — measured 72 s unigram, 15 s bigram at
    sf0.1), while the |V|³-shaped shingle vocabulary keeps posting
    dfs single-digit — and repeated-shingle weighting still
    distinguishes the repetitions Jaccard's distinct sets collapse.
    """
    docs = load_table(spark, sf_dir, "documents")
    return dedup.tf_cosine_pairs(
        docs, "doc_id", "text", TF_COSINE_THRESHOLD, ngram=3
    )


DEDUP_TF_COSINE_SQL = f"""
WITH tf AS (
  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (
    SELECT doc_id,
      unnest([toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
              for i in range(1, len(toks) - 1)]) AS t
    FROM (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    )
  )
  GROUP BY doc_id, t
),
norm AS (
  SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS n2 FROM tf GROUP BY doc_id
),
dot AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
  FROM tf a JOIN tf b ON a.t = b.t AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
  dot::DOUBLE / sqrt(na.n2::DOUBLE * nb.n2::DOUBLE) AS cosine
FROM dot
JOIN norm na ON na.doc_id = id_a
JOIN norm nb ON nb.doc_id = id_b
WHERE dot::DOUBLE / sqrt(na.n2::DOUBLE * nb.n2::DOUBLE) >= {TF_COSINE_THRESHOLD}
"""


# ------------------ word-order-insensitive exact dedup (#152)


def dedup_bag_of_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words exact dedup: canonical id + group size per doc (#152).

    Catches the duplicate class raw exact dedup (#19) misses entirely:
    token-shuffled copies (scraped tables re-serialized in a different
    column order, shingled re-crawls, templated spam with fields
    permuted). The signature is the doc's SORTED token multiset joined
    back to one string — repeated tokens stay significant (a doc with
    'x x y' is NOT 'x y') — then one hash-partition shuffle groups on
    it, exactly the #19 plan shape with array_sort in front. At 100 TB
    group on xxhash64(sig) to shrink shuffle width (same lever as #19).
    """
    docs = load_table(spark, sf_dir, "documents")
    sig = F.array_join(
        F.array_sort(F.split(F.trim(F.col("text")), r"\s+")), " "
    )
    return dedup.exact_dedup(docs, "doc_id", "text", key_expr=sig)


DEDUP_BAG_OF_WORDS_SQL = r"""
WITH n AS (
  SELECT doc_id,
    array_to_string(list_sort(string_split_regex(trim(text), '\s+')), ' ') AS sig
  FROM documents
)
SELECT doc_id,
  MIN(doc_id) OVER (PARTITION BY sig) AS canonical_id,
  COUNT(*) OVER (PARTITION BY sig) AS group_size
FROM n
"""


# ------------------- chance-corrected langid agreement (#164)


def eval_lang_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the langid heuristic (#26) and the gold
    lang column (#164) — the one-number chance-corrected companion to
    #105's per-label report. On this corpus it correctly lands near 0
    (the synthetic gold labels carry no lexical signal; see the #105
    docstring) — the metric exposing that is the point.
    """
    from ..operators import evaluation, text as text_ops

    pred = text_ops.text_langid(spark, sf_dir).select("doc_id", "lang_pred")
    gold = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return evaluation.cohen_kappa(pred.join(gold, "doc_id"), "lang_pred", "lang")


def _eval_lang_kappa_sql() -> str:
    from ..operators.text import TEXT_LANGID_SQL

    return f"""
WITH pred AS (SELECT doc_id, lang_pred FROM ({TEXT_LANGID_SQL})),
pairs AS (
  SELECT p.lang_pred AS _p, d.lang AS _g FROM pred p
  JOIN documents d USING (doc_id)
),
cm AS (SELECT _p, _g, CAST(COUNT(*) AS BIGINT) AS _m FROM pairs GROUP BY 1, 2),
rows_m AS (SELECT _p, CAST(SUM(_m) AS BIGINT) AS _r FROM cm GROUP BY 1),
cols_m AS (SELECT _g, CAST(SUM(_m) AS BIGINT) AS _c FROM cm GROUP BY 1),
rc AS (
  -- HUGEINT mirrors Spark's DECIMAL(38,0): row*col and n^2 wrap int64
  -- past n ~ 3e9, so the products stay exact-integer on both engines
  SELECT CAST(COALESCE(SUM(CAST(_r AS HUGEINT) * CAST(_c AS HUGEINT)), 0)
              AS HUGEINT) AS _rc
  FROM rows_m JOIN cols_m ON rows_m._p = cols_m._g
),
base AS (
  SELECT CAST(SUM(_m) AS BIGINT) AS _n,
    CAST(COALESCE(SUM(CASE WHEN _p = _g THEN _m END), 0) AS BIGINT) AS _agree
  FROM cm
)
SELECT _n AS n, _agree AS n_agree,
  CAST(_agree AS DOUBLE) / CAST(_n AS DOUBLE) AS po,
  CAST(_rc AS DOUBLE) / CAST(CAST(_n AS HUGEINT) * _n AS DOUBLE) AS pe,
  CASE WHEN CAST(_n AS HUGEINT) * _n <> _rc THEN
    CAST(CAST(_n AS HUGEINT) * _agree - _rc AS DOUBLE)
    / CAST(CAST(_n AS HUGEINT) * _n - _rc AS DOUBLE)
  END AS kappa
FROM base, rc
"""


EVAL_LANG_KAPPA_SQL = _eval_lang_kappa_sql()


# ------------------- Unicode-NFC canonical exact dedup (#165)


def dedup_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC-canonical exact dedup (#165): composed-vs-decomposed and
    whitespace-variant duplicates collapse to one canonical id — the
    same (doc_id, canonical_id, group_size) contract as #19/#152, with
    the Arrow-batched NFC key from operators/text.nfc_canonical."""
    from ..operators import text as text_ops

    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(
        docs, "doc_id", "text", key_expr=text_ops.nfc_canonical(F.col("text"))
    )


DEDUP_UNICODE_SQL = r"""
WITH n AS (
  SELECT doc_id,
    trim(regexp_replace(nfc_normalize(text), '\s+', ' ', 'g')) AS sig
  FROM documents
)
SELECT doc_id,
  MIN(doc_id) OVER (PARTITION BY sig) AS canonical_id,
  COUNT(*) OVER (PARTITION BY sig) AS group_size
FROM n
"""


# ------------------- MMR diverse retrieval (#174)


def ann_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query for #174: MMR-diversified top-10 from a top-50
    relevance pool against the standard query vector. Rows-only gate
    (the greedy objective is not SQL-expressible); determinism and the
    hand-checked greedy behavior are pinned in tests/test_similarity.py.
    """
    embs = load_table(spark, sf_dir, "embeddings")
    return similarity.mmr_topk(
        embs, "vec_id", "embedding", _query_vec(spark, sf_dir), ANN_K
    )


# ------------- cross-source duplicate-cluster span histogram (#176)


def dedup_cluster_source_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many sources each duplicate cluster spans (#176).

    The contamination-direction readout on top of the shared CC
    substrate: #88's matrix says WHICH source pairs share near-dups;
    this says how wide each duplicate FAMILY spreads — a histogram of
    (distinct sources per multi-doc cluster) → (clusters, docs).
    n_sources = 1 is intra-source boilerplate (dedup reclaims storage);
    n_sources ≥ 2 is syndication/mirroring (dedup changes the corpus
    MIXTURE — the number temperature-mix weighting (#92) needs to know
    before trusting per-source token budgets).

    Shape: the persisted cluster frame (shared CC pipeline) joined
    doc-keyed to sources, one per-cluster aggregation, one ≤|sources|-
    row histogram. Exact integers only.
    """
    docs = load_table(spark, sf_dir, "documents")
    cl = _cluster_frame(docs).select("doc_id", "cluster_id")
    per = (
        cl.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("_sz"),
            F.countDistinct("source").alias("n_sources"),
        )
        .where(F.col("_sz") >= 2)
    )
    return (
        per.groupBy("n_sources")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("_sz").alias("n_docs"),
        )
        .select(
            F.col("n_sources").cast("bigint").alias("n_sources"),
            F.col("n_clusters").cast("bigint").alias("n_clusters"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
        )
    )


DEDUP_CLUSTER_SOURCE_SPAN_SQL = f"""
WITH RECURSIVE {_CLUSTER_CTES},
per AS (
  SELECT c.cluster_id, CAST(COUNT(*) AS BIGINT) AS sz,
    CAST(COUNT(DISTINCT d.source) AS BIGINT) AS ns
  FROM comp c JOIN documents d USING (doc_id)
  GROUP BY 1
)
SELECT ns AS n_sources, CAST(COUNT(*) AS BIGINT) AS n_clusters,
  CAST(SUM(sz) AS BIGINT) AS n_docs
FROM per WHERE sz >= 2 GROUP BY 1
"""


# ------------------- pairwise label-centroid cosine matrix (#187)


def emb_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-label mean embeddings (#187) — the
    label-geometry readout behind #65's centroids and #84's semantic
    dedup: two labels whose centroids sit at cosine ≈ 1 are candidates
    for merging; a centroid near-orthogonal to every other marks a
    well-separated class.

    Exactness: centroids come from the #65 DECIMAL-summed mean (order-
    independent), pivoted to position-ordered arrays; the dot/norm
    folds run LEFT-TO-RIGHT (functions.vectors.dot) so the oracle's
    explicit term chain reproduces every double bit-for-bit — the ANN
    oracle convention.

    Scale: everything after the one corpus-keyed centroid aggregation
    is model-scale (|labels|² rows); the pair join is a broadcast over
    a frame of K rows.
    """
    cents = similarity.vector_mean_by(
        load_table(spark, sf_dir, "embeddings"), "label", "embedding", EMB_DIM
    )
    arr = (
        cents.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mean"))).alias("_s"))
        .select(
            "label", F.transform("_s", lambda s: s["mean"]).alias("_v")
        )
    )
    a = arr.select(F.col("label").alias("label_a"), F.col("_v").alias("_va"))
    b = arr.select(F.col("label").alias("label_b"), F.col("_v").alias("_vb"))
    dot_ab = F.aggregate(
        F.zip_with(F.col("_va"), F.col("_vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731 - local fold helper
        F.aggregate(
            F.zip_with(c, c, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
    )
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            (dot_ab / (nrm(F.col("_va")) * nrm(F.col("_vb")))).alias("cosine"),
        )
    )


EMB_CENTROID_DISTANCES_SQL = f"""
WITH cent AS (
  SELECT label, i - 1 AS pos,
    CAST(SUM(CAST(embedding[i]::DOUBLE AS DECIMAL(30,10))) AS DOUBLE)
      / COUNT(*) AS mean
  FROM embeddings, range(1, {EMB_DIM} + 1) t(i)
  GROUP BY label, i
), v AS (
  SELECT label, list(mean ORDER BY pos) AS vec FROM cent GROUP BY label
)
SELECT a.label AS label_a, b.label AS label_b,
  ({_dot_sql('a.vec', 'b.vec')})
    / (sqrt({_dot_sql('a.vec', 'a.vec')})
       * sqrt({_dot_sql('b.vec', 'b.vec')})) AS cosine
FROM v a JOIN v b ON a.label < b.label
"""
