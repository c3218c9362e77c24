"""Round-8 corpus/ML queries (#106-#110): paragraph dedup, random
projection, per-user anomaly counts, KNN label propagation, per-source
top terms. Each query has a DuckDB oracle twin; float-bearing outputs
use the fixed left-fold dot-product convention the ANN oracles share
(explicit ``+`` chains — IEEE-identical across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double
from ..operators import paragraphs
from ..operators.projection import RP_COMPONENTS, random_projection, rp_weight
from ..session import load_table
from .llm_queries import EMB_DIM, _dot_sql

# ------------------------------------------ paragraph-level dedup (#106)


def text_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph dedup over the documents table: duplicate
    paragraphs drop corpus-wide (first occurrence wins), per-doc
    retained counts + reassembled text. See operators/paragraphs.py
    for the plan shape."""
    docs = load_table(spark, sf_dir, "documents")
    return paragraphs.paragraph_dedup(docs, "doc_id", "text")


TEXT_PARAGRAPH_DEDUP_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                     x -> x <> '') AS t
  FROM documents
),
paras AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS pidx,
         array_to_string(t[(u.i*10+1):(u.i*10+10)], ' ') AS para
  FROM toks, UNNEST(range(CAST(ceil(len(t)/10.0) AS BIGINT))) AS u(i)
),
flagged AS (
  SELECT doc_id, pidx, para,
         row_number() OVER (PARTITION BY para ORDER BY doc_id, pidx) = 1 AS kept
  FROM paras
),
agg AS (
  SELECT doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_paras,
    CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
    COALESCE(string_agg(CASE WHEN kept THEN para END, ' ' ORDER BY pidx), '')
      AS text_dedup
  FROM flagged GROUP BY doc_id
)
SELECT d.doc_id,
  COALESCE(a.n_paras, 0) AS n_paras,
  COALESCE(a.n_kept, 0) AS n_kept,
  COALESCE(a.text_dedup, '') AS text_dedup
FROM (SELECT doc_id FROM documents) d LEFT JOIN agg a USING (doc_id)
"""


# ---------------------------------------- random projection (#107)


def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss-style reduction of the embeddings to 4
    deterministic integer directions — map-only, fixed fold order, so
    the oracle's explicit arithmetic chain reproduces every double
    bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return random_projection(emb, "embedding", EMB_DIM, RP_COMPONENTS)


def _rp_sql_term(comp: int) -> str:
    return " + ".join(
        f"(embedding[{i + 1}]::DOUBLE * {float(rp_weight(comp, i))})"
        for i in range(EMB_DIM)
    )


EMB_RANDOM_PROJECTION_SQL = f"""
SELECT vec_id,
  {", ".join(f"({_rp_sql_term(c)}) AS proj_{c}" for c in range(RP_COMPONENTS))}
FROM embeddings
"""


# ------------------------------------- per-user anomaly counts (#108)


def q_events_user_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user outlier report: events whose value sits more than 2
    population standard deviations from that user's mean. One window
    shuffle on the user key (the sessionization footprint); integer
    outputs only, so the gate hash is float-drift-free."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    w = Window.partitionBy("user_id")
    flagged = ev.select(
        "user_id",
        (
            F.abs(F.col("value") - F.avg("value").over(w))
            > 2 * F.stddev_pop("value").over(w)
        ).alias("_anom"),
    )
    return flagged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("_anom").cast("long")).alias("n_anomalies"),
    )


Q_EVENTS_USER_ANOMALY_SQL = """
WITH z AS (
  SELECT user_id,
    abs(value - AVG(value) OVER (PARTITION BY user_id))
      > 2 * stddev_pop(value) OVER (PARTITION BY user_id) AS anom
  FROM events
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CASE WHEN anom THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM z GROUP BY user_id
"""


# --------------------------------- KNN label propagation (#109)

KNN_K = 5
KNN_UNLABELED_BELOW = 50


def _knn_label_prop_local(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """Driver-side twin of the exact #109 plan (see the gate comment in
    :func:`emb_knn_label_propagation`)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    pdf = emb.select("vec_id", "label", "embedding").toPandas()
    out_schema = StructType(
        [
            StructField("vec_id", emb.schema["vec_id"].dataType),
            StructField("label_pred", emb.schema["label"].dataType),
            StructField("votes", LongType()),
        ]
    )
    ids = pdf["vec_id"].to_numpy()
    umask = ids < KNN_UNLABELED_BELOW
    if not umask.any() or umask.all():
        return spark.createDataFrame([], out_schema)
    V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    Q, C = V[umask], V[~umask]
    qids, cids = ids[umask], ids[~umask]
    clbl = pdf["label"].to_numpy()[~umask]
    # left-fold cosine matrix, guard-free division like the plan
    num = np.zeros((len(Q), len(C)), dtype=np.float64)
    nq = np.zeros(len(Q), dtype=np.float64)
    nc = np.zeros(len(C), dtype=np.float64)
    for i in range(V.shape[1]):
        num += Q[:, i, None] * C[None, :, i]
        nq += Q[:, i] * Q[:, i]
        nc += C[:, i] * C[:, i]
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = num / (np.sqrt(nq)[:, None] * np.sqrt(nc)[None, :])
    rows_u, rows_l, rows_v = [], [], []
    lcodes, luniq = pd.factorize(pd.Series(clbl), sort=True)
    for qi in range(len(Q)):
        order = np.lexsort((cids, -cos[qi]))[:KNN_K]
        vk, votes = np.unique(lcodes[order], return_counts=True)
        sel = np.lexsort((vk, -votes))[0]
        rows_u.append(qids[qi])
        rows_l.append(luniq[vk[sel]])
        rows_v.append(int(votes[sel]))
    out = pd.DataFrame(
        {"vec_id": rows_u, "label_pred": rows_l, "votes": rows_v}
    )
    return spark.createDataFrame(out, out_schema)


def emb_knn_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised labeling: rows with ``vec_id < 50`` play the
    unlabeled query batch; each gets the majority label of its 5
    cosine-nearest labeled neighbors (ties: larger vote count, then
    smaller label).

    The query set is BOUNDED BY CONSTRUCTION (a fixed id range, not a
    corpus fraction) — the decontaminate / batch-ANN / hard-negatives
    policy: queries broadcast, the labeled corpus stays a map-only
    scan, and the only shuffle is the per-query top-k window keyed on
    the bounded query id. The round-8 scale curve caught the original
    corpus-proportional form (10% of ids) going quadratic — 295 s at
    sf1 vs 3 s for this shape. For corpus-scale propagation (label
    EVERYTHING), swap the candidate stage for ``batch_lsh_topk``/IVF
    probing; the vote stage is identical. The gate keeps the exact
    pair form so the oracle can replay it."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Small-input local solve (round 14): one toPandas job + numpy
    # replaces the broadcast cross join, the top-k window and the vote
    # pipeline. Bit-faithful: cosines accumulate one dimension at a
    # time (the JVM left fold's IEEE rounding, incl. the guard-free
    # division this query uses), ranks realize the same
    # (cosine DESC, vec_id ASC) / (votes DESC, label ASC) orders.
    from ..operators.dedup import _small_scan

    if _small_scan(emb):
        return _knn_label_prop_local(spark, emb)
    nrm = lambda c: F.sqrt(  # noqa: E731 - local fold helper
        F.aggregate(
            F.zip_with(c, c, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
    )
    # norms precompute map-side PER SIDE: each pair then folds the
    # arrays once (the dot) instead of three times
    base = emb.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("_v")
    ).withColumn("_n", nrm(F.col("_v")))
    unlabeled = base.where(F.col("vec_id") < KNN_UNLABELED_BELOW).select(
        F.col("vec_id").alias("uid"),
        F.col("_v").alias("_q"),
        F.col("_n").alias("_qn"),
    )
    labeled = base.where(F.col("vec_id") >= KNN_UNLABELED_BELOW)
    dot = F.aggregate(
        F.zip_with(F.col("_q"), F.col("_v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    pairs = F.broadcast(unlabeled).crossJoin(labeled).select(
        "uid",
        "label",
        F.col("vec_id"),
        (dot / (F.col("_qn") * F.col("_n"))).alias("cosine"),
    )
    topk = Window.partitionBy("uid").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    votes = (
        pairs.withColumn("_rk", F.row_number().over(topk))
        .where(F.col("_rk") <= KNN_K)
        .groupBy("uid", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("votes"))
    )
    best = Window.partitionBy("uid").orderBy(
        F.col("votes").desc(), F.col("label")
    )
    return (
        votes.withColumn("_rk", F.row_number().over(best))
        .where(F.col("_rk") == 1)
        .select(
            F.col("uid").alias("vec_id"),
            F.col("label").alias("label_pred"),
            "votes",
        )
    )


EMB_KNN_LABEL_PROPAGATION_SQL = f"""
WITH u AS (
  SELECT vec_id AS uid, embedding AS q FROM embeddings
  WHERE vec_id < {KNN_UNLABELED_BELOW}
),
l AS (
  SELECT vec_id, label, embedding FROM embeddings
  WHERE vec_id >= {KNN_UNLABELED_BELOW}
),
pairs AS (
  SELECT u.uid, l.label, l.vec_id,
    ({_dot_sql('q', 'embedding')})
      / (sqrt({_dot_sql('q', 'q')}) * sqrt({_dot_sql('embedding', 'embedding')}))
      AS cosine
  FROM u, l
),
topk AS (
  SELECT uid, label,
    row_number() OVER (PARTITION BY uid ORDER BY cosine DESC, vec_id) AS rk
  FROM pairs
),
votes AS (
  SELECT uid, label, CAST(COUNT(*) AS BIGINT) AS votes FROM topk
  WHERE rk <= {KNN_K} GROUP BY uid, label
)
SELECT uid AS vec_id, label AS label_pred, votes FROM (
  SELECT uid, label, votes,
    row_number() OVER (PARTITION BY uid ORDER BY votes DESC, label) AS rk
  FROM votes
) WHERE rk = 1
"""


# ----------------------- corpus-scale KNN propagation (#113)

KNN_PROP_BITS = 4
KNN_PROP_BANDS = 2
KNN_PROP_MOD = 5  # vec_id % 5 == 0 plays the unlabeled side (20%)


def emb_knn_propagate_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale propagation: the unlabeled side is a corpus
    FRACTION (20% by id hash), the shape the exact gated operator
    refuses by design. Candidates come from two sign-LSH band joins
    (operators/similarity.knn_propagate) so nothing crosses
    corpus × corpus; the vote stage matches the exact operator. Fixed
    bits/bands here keep the DuckDB oracle replayable bit-for-bit —
    production callers leave ``bits=None`` for corpus-scaled planes."""
    from ..operators.similarity import knn_propagate

    emb = load_table(spark, sf_dir, "embeddings")
    unlabeled = emb.where(F.col("vec_id") % KNN_PROP_MOD == 0)
    labeled = emb.where(F.col("vec_id") % KNN_PROP_MOD != 0)
    return knn_propagate(
        labeled, unlabeled, "vec_id", "embedding", "label",
        k=5, bits=KNN_PROP_BITS, bands=KNN_PROP_BANDS, dim=EMB_DIM,
    )


def emb_knn_propagate_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production form of #113: ``bits=None`` auto-scales the plane
    count with the labeled-corpus size (~256 rows/bucket), bands=4.
    This is the variant the scale sidecars time — the fixed-bits gated
    twin above is the ORACLE vehicle and its 2^4 buckets go quadratic
    once the corpus outgrows them (measured: 628 s at sf3 vs 65 s for
    this form). No SQL oracle (the plane count depends on the data), so
    the driver records rows-only; the numpy agreement floor in
    tests/test_similarity.py covers prediction quality."""
    from ..operators.similarity import knn_propagate

    emb = load_table(spark, sf_dir, "embeddings")
    unlabeled = emb.where(F.col("vec_id") % KNN_PROP_MOD == 0)
    labeled = emb.where(F.col("vec_id") % KNN_PROP_MOD != 0)
    return knn_propagate(
        labeled, unlabeled, "vec_id", "embedding", "label", k=5, bands=4,
        dim=EMB_DIM,
    )


def _band_sql(col: str, band: int, bits: int = KNN_PROP_BITS) -> str:
    return " + ".join(
        f"(CASE WHEN {col}[{band * bits + i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )


EMB_KNN_PROPAGATE_ALL_SQL = f"""
WITH l AS (
  SELECT vec_id AS cid, label, embedding AS v,
         ({_band_sql('embedding', 0)}) AS b0,
         ({_band_sql('embedding', 1)}) AS b1
  FROM embeddings WHERE vec_id % {KNN_PROP_MOD} <> 0
),
u AS (
  SELECT vec_id AS uid, embedding AS q,
         ({_band_sql('embedding', 0)}) AS b0,
         ({_band_sql('embedding', 1)}) AS b1
  FROM embeddings WHERE vec_id % {KNN_PROP_MOD} = 0
),
cand AS (
  SELECT uid, cid, label,
    CASE WHEN (sqrt({_dot_sql('v', 'v')}) * sqrt({_dot_sql('q', 'q')})) > 0
         THEN ({_dot_sql('v', 'q')})
              / (sqrt({_dot_sql('v', 'v')}) * sqrt({_dot_sql('q', 'q')}))
         ELSE 0.0 END AS cosine
  FROM u JOIN l ON (u.b0 = l.b0 OR u.b1 = l.b1)
),
topk AS (
  SELECT uid, label,
    row_number() OVER (PARTITION BY uid ORDER BY cosine DESC, cid) AS rk
  FROM cand
),
votes AS (
  SELECT uid, label, CAST(COUNT(*) AS BIGINT) AS votes FROM topk
  WHERE rk <= 5 GROUP BY uid, label
)
SELECT uid AS vec_id, label AS label_pred, votes FROM (
  SELECT uid, label, votes,
    row_number() OVER (PARTITION BY uid ORDER BY votes DESC, label) AS rk
  FROM votes
) WHERE rk = 1
"""


# ----------------------- per-label embedding outliers (#115)

OUTLIER_K = 5


def emb_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mislabel/contamination screen: per label, the OUTLIER_K members
    farthest (exact squared L2) from their label's centroid. Rank-based
    rather than z-scored on purpose — cross-row float aggregation of
    d² would be fold-order-dependent, while a rank over per-row doubles
    is bit-deterministic, so the gate hashes exactly.

    Plan: one |labels|×dim centroid aggregation (decimal sums — the
    gate-proven emb_label_centroids convention), centroids broadcast
    back as arrays, per-row d² in a fixed left fold, one top-k window
    keyed on the label. Labels are bounded-small by construction; on a
    corpus whose per-label populations outgrow a window partition,
    swap the window for a per-label threshold pre-filter on d² (two
    bounded aggs) — the centroid stage is already scale-shaped."""
    from ..operators.similarity import vector_mean_by

    emb = load_table(spark, sf_dir, "embeddings")
    cents = vector_mean_by(emb, "label", "embedding", EMB_DIM)
    cent_arr = cents.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean"))),
            lambda s: s["mean"],
        ).alias("_c")
    )
    d2 = F.aggregate(
        F.zip_with(
            as_double(F.col("embedding")),
            F.col("_c"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    w = Window.partitionBy("label").orderBy(F.col("d2").desc(), F.col("vec_id"))
    return (
        emb.join(F.broadcast(cent_arr), "label")
        .select("label", "vec_id", d2.alias("d2"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= OUTLIER_K)
        .select("label", "vec_id", "d2", "rnk")
    )


_D2_SQL = " + ".join(
    f"((e.embedding[{i}]::DOUBLE - c[{i}]) * (e.embedding[{i}]::DOUBLE - c[{i}]))"
    for i in range(1, EMB_DIM + 1)
)

EMB_LABEL_OUTLIERS_SQL = f"""
WITH cent AS (
  SELECT label, i - 1 AS pos,
    CAST(SUM(CAST(embedding[i]::DOUBLE AS DECIMAL(30,10))) AS DOUBLE)
      / COUNT(*) AS mean
  FROM embeddings, range(1, {EMB_DIM} + 1) t(i)
  GROUP BY label, i
),
carr AS (SELECT label, list(mean ORDER BY pos) AS c FROM cent GROUP BY label),
scored AS (
  SELECT e.label, e.vec_id, ({_D2_SQL}) AS d2
  FROM embeddings e JOIN carr USING (label)
)
SELECT label, vec_id, d2, rnk FROM (
  SELECT label, vec_id, d2,
    CAST(row_number() OVER (PARTITION BY label ORDER BY d2 DESC, vec_id)
         AS INT) AS rnk
  FROM scored
) WHERE rnk <= {OUTLIER_K}
"""


# --------------------------------- split-leakage audit (#112)


def corpus_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test LEAKAGE audit: near-duplicate pairs whose members
    fall in DIFFERENT splits — the contamination an eval set must not
    have (a val doc near-duplicating a train doc inflates every metric
    on it). Composes the MinHash-LSH pair set (#21's exact params) with
    the deterministic split assignment (#76's hash) and reports pair
    counts + worst similarity per (split, split) cell; the diagonal
    (within-split dup pairs) rides along as the baseline. Same scale
    shape as the cross-source matrix (#88): bounded LSH pair set, two
    linear doc-keyed joins, exact/order-independent aggregates only.
    """
    from ..operators import dedup as dedup_ops
    from ..operators.text import split_column
    from .llm_queries import MINHASH_JACCARD_THRESHOLD

    docs = load_table(spark, sf_dir, "documents")
    # Small-input fused form (round 14): the LSH pair solve AND the
    # (split, split) matrix aggregation run inside one mapInPandas task
    # — the split Column evaluates JVM-side in that task, so its
    # arithmetic cannot drift; only the leaks flag and the column names
    # are added on top of the local relation.
    if dedup_ops._minhash_direct_eligible(docs, MINHASH_JACCARD_THRESHOLD, None):
        mat = dedup_ops._minhash_pairs_direct(
            docs,
            "doc_id",
            "text",
            MINHASH_JACCARD_THRESHOLD,
            2,
            source_matrix_col=split_column("doc_id"),
        )
        return mat.select(
            F.col("source_a").alias("split_a"),
            F.col("source_b").alias("split_b"),
            "n_pairs",
            "max_jaccard",
        ).withColumn("leaks", F.col("split_a") != F.col("split_b"))
    pairs = dedup_ops.minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=MINHASH_JACCARD_THRESHOLD
    )
    # The split is PURE ARITHMETIC on the id (that is its whole design —
    # reproducible in any engine), so evaluate it directly on the pair
    # frame's id columns instead of joining the docs scan back twice
    # (round 14: two broadcast joins + a second documents scan removed;
    # identical values — every pair id comes from docs.doc_id, and the
    # expression is the same one the joined column carried).
    j = pairs.select(
        split_column("id_a").alias("_pa"),
        split_column("id_b").alias("_pb"),
        "jaccard",
    )
    return (
        j.select(
            F.least("_pa", "_pb").alias("split_a"),
            F.greatest("_pa", "_pb").alias("split_b"),
            "jaccard",
        )
        .groupBy("split_a", "split_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .withColumn("leaks", F.col("split_a") != F.col("split_b"))
    )


def _split_leakage_sql() -> str:
    from ..operators.text import (
        SAMPLE_MOD,
        SAMPLE_MULT,
        SPLIT_TEST_PCT,
        SPLIT_VAL_PCT,
    )
    from .llm_queries import DEDUP_MINHASH_LSH_SQL

    case = f"""CASE
    WHEN ((doc_id % {SAMPLE_MOD}) * {SAMPLE_MULT}) % {SAMPLE_MOD} % 100 < {SPLIT_VAL_PCT} THEN 'val'
    WHEN ((doc_id % {SAMPLE_MOD}) * {SAMPLE_MULT}) % {SAMPLE_MOD} % 100 < {SPLIT_VAL_PCT + SPLIT_TEST_PCT} THEN 'test'
    ELSE 'train'
  END"""
    return f"""
WITH sp AS (SELECT doc_id, {case} AS split FROM documents)
SELECT least(a.split, b.split) AS split_a,
  greatest(a.split, b.split) AS split_b,
  CAST(COUNT(*) AS BIGINT) AS n_pairs,
  MAX(p.jaccard) AS max_jaccard,
  least(a.split, b.split) <> greatest(a.split, b.split) AS leaks
FROM ({DEDUP_MINHASH_LSH_SQL}) p
JOIN sp a ON a.doc_id = p.id_a
JOIN sp b ON b.doc_id = p.id_b
GROUP BY split_a, split_b
"""


CORPUS_SPLIT_LEAKAGE_SQL = _split_leakage_sql()


# ----------------------------------- PMI collocations (#111)

PMI_MIN_COUNT = 5
PMI_TOP_K = 25


def corpus_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation detection (Manning & Schütze ch.5): adjacent word
    pairs that co-occur far more than independence predicts, ranked by
    log-free lift = N_tokens · c(w1 w2) / (c(w1) · c(w2)) — the PMI
    argument without libm (one int multiply chain + one divide, IEEE-
    identical cross-engine). ``min_count`` kills the hapax pairs whose
    lift is huge by accident (the standard guard).

    Plan: one bigram-count shuffle + one unigram-count shuffle (both
    vocabulary-bounded), two word-keyed joins of the SURVIVING bigrams
    (≥ min_count — tiny) against the unigram table, top-k. Corpus
    tokens are scanned twice, shuffled never beyond vocab width."""
    from ..operators.text import _bigram_strings, _tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    words = docs.select(F.explode(toks).alias("w"))
    uni = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n_tokens = words.agg(F.count(F.lit(1)).alias("_n"))
    bi = (
        docs.select(F.explode(_bigram_strings(toks)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= PMI_MIN_COUNT)
        .withColumn("w1", F.split(F.col("bigram"), " ")[0])
        .withColumn("w2", F.split(F.col("bigram"), " ")[1])
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    lift = (
        F.col("n_pair").cast("double")
        * F.col("_n").cast("double")
        / (F.col("c1").cast("double") * F.col("c2").cast("double"))
    )
    return (
        bi.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_tokens))
        .select("bigram", "n_pair", "c1", "c2", lift.alias("lift"))
        .orderBy(F.col("lift").desc(), F.col("bigram"))
        .limit(PMI_TOP_K)
    )


CORPUS_COLLOCATIONS_SQL = rf"""
WITH toks AS (
  SELECT string_split_regex(trim(text), '\s+') AS t FROM documents
),
words AS (SELECT unnest(t) AS w FROM toks),
uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM words GROUP BY w),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM words),
bi AS (
  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM (
    SELECT unnest([t[i] || ' ' || t[i + 1] for i in range(1, len(t))]) AS bigram
    FROM toks
  )
  GROUP BY bigram HAVING COUNT(*) >= {PMI_MIN_COUNT}
)
SELECT bigram, n_pair, u1.c AS c1, u2.c AS c2,
  CAST(n_pair AS DOUBLE) * CAST(n_tokens AS DOUBLE)
    / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)) AS lift
FROM bi
JOIN uni u1 ON u1.w = string_split(bigram, ' ')[1]
JOIN uni u2 ON u2.w = string_split(bigram, ' ')[2]
CROSS JOIN n
ORDER BY lift DESC, bigram
LIMIT {PMI_TOP_K}
"""


# ------------------------------------ per-source top terms (#110)

TOP_TERMS_K = 5


def corpus_source_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-card vocabulary panel: each source's most frequent
    terms (count-ranked, ties to the lexically smaller word). One
    explode + one (source, word) aggregation; the per-source top-k
    window re-shuffles only the COUNTS frame — vocabulary-sized, not
    corpus-sized (plan: 2 exchanges, the second over |sources × words|
    rows)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    )
    counts = words.groupBy("source", "word").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    top = Window.partitionBy("source").orderBy(F.col("n").desc(), F.col("word"))
    return (
        counts.withColumn("_rk", F.row_number().over(top))
        .where(F.col("_rk") <= TOP_TERMS_K)
        .select("source", "word", "n", F.col("_rk").cast("long").alias("rank"))
    )


CORPUS_SOURCE_TOP_TERMS_SQL = rf"""
WITH words AS (
  SELECT source, u.word
  FROM documents, UNNEST(string_split_regex(trim(text), '\s+')) AS u(word)
),
counts AS (
  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS n
  FROM words GROUP BY source, word
)
SELECT source, word, n, CAST(rk AS BIGINT) AS rank FROM (
  SELECT source, word, n,
    row_number() OVER (PARTITION BY source ORDER BY n DESC, word) AS rk
  FROM counts
) WHERE rk <= {TOP_TERMS_K}
"""


# ---------------------- nearest-centroid classifier eval (#129)

CENTROID_EVAL_MOD = 10  # vec_id % MOD == 0 → held-out test slice


def eval_centroid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification accuracy per label (#129).

    The embedding-quality smoke test a training pipeline runs before
    trusting labels or embeddings: fit per-label mean vectors on a
    deterministic train split (vec_id % 10 != 0), assign each held-out
    vector to its nearest centroid by squared L2, and report per-label
    n / correct / accuracy. Catches collapsed embeddings, label noise,
    and drift after re-embedding.

    Plan: centroids come from the shared decimal-summed long-format
    aggregation (|labels|·dim rows — broadcast); the test side explodes
    to (vec, pos) once and the centroid join fans out by |labels|, so
    the shuffle after map-side combine is |test|·|labels| rows of
    partial distance sums — labels are bounded, the corpus never pairs
    with itself. Per-term squared deviations are cast to DECIMAL before
    summing, so distances (and the argmin) are order-independent and
    engine-identical; argmin ties break to the smaller label.
    """
    from ..operators.similarity import vector_mean_by

    embs = load_table(spark, sf_dir, "embeddings")
    is_test = F.col("vec_id") % CENTROID_EVAL_MOD == 0
    cents = vector_mean_by(embs.where(~is_test), "label", "embedding", EMB_DIM)
    test = embs.where(is_test).select(
        "vec_id", "label",
        F.posexplode(as_double(F.col("embedding"))).alias("pos", "x"),
    )
    dev = F.col("x") - F.col("mean")
    dists = (
        test.join(
            F.broadcast(cents.select(F.col("label").alias("_cand"), "pos", "mean")),
            "pos",
        )
        .groupBy("vec_id", "label", "_cand")
        .agg(F.sum((dev * dev).cast("decimal(30,10)")).alias("_d"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("_d").asc(), F.col("_cand").asc())
    assigned = (
        dists.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("vec_id", "label", F.col("_cand").alias("pred"))
    )
    return assigned.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("pred") == F.col("label"), 1).otherwise(0)).alias(
            "correct"
        ),
        (
            F.sum(
                F.when(F.col("pred") == F.col("label"), 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("accuracy"),
    )


EVAL_CENTROID_CLASSIFIER_SQL = f"""
WITH cents AS (
  SELECT label AS cand, i - 1 AS pos,
    CAST(SUM(CAST(embedding[i]::DOUBLE AS DECIMAL(30,10))) AS DOUBLE)
      / COUNT(*) AS mean
  FROM embeddings, range(1, {EMB_DIM} + 1) t(i)
  WHERE vec_id % {CENTROID_EVAL_MOD} <> 0
  GROUP BY label, i
),
test AS (
  SELECT vec_id, label, i - 1 AS pos, embedding[i]::DOUBLE AS x
  FROM embeddings, range(1, {EMB_DIM} + 1) t(i)
  WHERE vec_id % {CENTROID_EVAL_MOD} = 0
),
dists AS (
  SELECT vec_id, label, cand,
    SUM(CAST((x - mean) * (x - mean) AS DECIMAL(30,10))) AS d
  FROM test JOIN cents USING (pos)
  GROUP BY vec_id, label, cand
),
assigned AS (
  SELECT vec_id, label, cand AS pred
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY d ASC, cand ASC
    ) AS rk FROM dists
  ) WHERE rk = 1
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT) AS correct,
  SUM(CASE WHEN pred = label THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE
    AS accuracy
FROM assigned GROUP BY label
"""


# --------------------- cross-source vocabulary overlap (#135)


def corpus_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary Jaccard (#135).

    The corpus-mixing diagnostic next to the duplication matrix (#88):
    where #88 measures shared DOCUMENTS, this measures shared
    VOCABULARY — two sources with high vocab overlap but low doc
    overlap are stylistic twins (dedup won't help, mixing weights
    might); low vocab overlap flags a domain the mix under-covers.

    Plan: one explode → distinct (source, term) — vocabulary-sized from
    there on, never corpus-sized. The pair stage is a term-keyed
    self-join of the DISTINCT vocab frame (each term contributes its
    source-pair combinations; |sources| is small so per-term fan-out is
    bounded by |sources|²/2), then a |source-pairs| aggregate joined to
    the per-source sizes. jaccard = |∩| / (|A|+|B|−|∩|) — exact integer
    counts, one exactly-rounded division. Pairs sharing zero terms are
    absent by construction (inner join).
    """
    from ..operators.dedup import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    vocab = (
        docs.select(
            "source",
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
                "term"
            ),
        )
        .distinct()
        .persist()
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n_terms"))
    a = vocab.select(F.col("source").alias("source_a"), "term")
    b = vocab.select(F.col("source").alias("source_b"), "term")
    inter = (
        a.join(b, "term")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("n_terms").alias("n_terms_a")))
    sb = F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("n_terms").alias("n_terms_b")))
    out = (
        inter.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            "n_terms_a",
            "n_terms_b",
            (
                F.col("n_common").cast("double")
                / (
                    F.col("n_terms_a") + F.col("n_terms_b") - F.col("n_common")
                ).cast("double")
            ).alias("jaccard"),
        )
    )
    vocab.unpersist()
    return out


CORPUS_VOCAB_OVERLAP_SQL = r"""
WITH vocab AS (
  SELECT DISTINCT source, u.term
  FROM documents,
    UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS u(term)
),
sizes AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_terms FROM vocab GROUP BY source
),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
    CAST(COUNT(*) AS BIGINT) AS n_common
  FROM vocab a JOIN vocab b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_common,
  sa.n_terms AS n_terms_a, sb.n_terms AS n_terms_b,
  n_common::DOUBLE / (sa.n_terms + sb.n_terms - n_common)::DOUBLE AS jaccard
FROM inter
JOIN sizes sa ON sa.source = source_a
JOIN sizes sb ON sb.source = source_b
"""


# ------------------------- tokenizer fertility per language (#136)


def corpus_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility panel (#136).

    The budgeting table a multilingual training mix needs before token
    accounting: per metadata language, document count, whitespace-token
    and BPE-ish-token totals, character totals, and the two fertility
    ratios (chars per whitespace token; BPE-ish tokens per whitespace
    token — how much a subword tokenizer inflates this language
    relative to word count). Map-only scoring (shared #28 token
    definitions), one |langs|-row aggregate; ratios are single
    exactly-rounded divisions of exact integer sums — engine-identical.
    """
    from ..operators.dedup import spread
    from ..operators.text import BPE_ISH_PATTERN

    docs = spread(load_table(spark, sf_dir, "documents"))
    per = docs.select(
        "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("_ws"),
        F.size(
            F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), F.lit(0))
        ).alias("_bpe"),
        F.col("n_chars"),
    )
    agg = per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_ws").alias("ws_tokens"),
        F.sum("_bpe").alias("bpe_tokens"),
        F.sum("n_chars").alias("n_chars"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        "n_chars",
        (F.col("n_chars").cast("double") / F.col("ws_tokens").cast("double")).alias(
            "chars_per_ws_token"
        ),
        (F.col("bpe_tokens").cast("double") / F.col("ws_tokens").cast("double")).alias(
            "fertility"
        ),
    )


from ..operators.text import BPE_ISH_PATTERN as _BPE_PAT

CORPUS_FERTILITY_SQL = rf"""
WITH per AS (
  SELECT lang,
    len(string_split_regex(trim(text), '\s+')) AS ws,
    len(regexp_extract_all(text, '{_BPE_PAT}')) AS bpe,
    n_chars
  FROM documents
)
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(ws) AS BIGINT) AS ws_tokens,
  CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
  CAST(SUM(n_chars) AS BIGINT)::DOUBLE / CAST(SUM(ws) AS BIGINT)::DOUBLE
    AS chars_per_ws_token,
  CAST(SUM(bpe) AS BIGINT)::DOUBLE / CAST(SUM(ws) AS BIGINT)::DOUBLE
    AS fertility
FROM per GROUP BY lang
"""


# ----------------------- retrieval-quality eval: MRR / P@k (#138)

EVAL_MRR_NQ = 20  # bounded deterministic query slice (vec_id < NQ)
EVAL_MRR_K = 10


def eval_ann_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-relevance retrieval eval over exact cosine ranking (#138).

    The embedding-quality readout the ANN family (#24/#25/#42/#54/#87/
    #114) needs before anyone trusts its indexes: treat each of the
    first ``EVAL_MRR_NQ`` vectors as a query, rank the REST of the
    corpus by exact cosine (the same left-fold dot convention as every
    ANN oracle, self excluded), call a neighbor relevant when its label
    matches the query's, and report per query the first relevant rank,
    its reciprocal (MRR summand), and hits/precision in the top
    ``EVAL_MRR_K``. rr = 1/rank and precision = hits/k are single
    exactly-rounded divisions — engine-identical.

    Plan: the query slice is bounded by construction and broadcasts;
    the corpus side is one map-scan; the per-query window re-shuffles
    |corpus|·NQ scored rows across NQ partitions — the exact-eval
    shape. At 100 TB run the same report over per-partition partial
    top-k (TakeOrdered-style) instead of the global window; the eval
    contract (exact ranking) is unchanged.
    """
    from ..functions.vectors import dot, norm
    from ..operators.dedup import spread
    from ..operators.similarity import _safe_cosine

    embs = load_table(spark, sf_dir, "embeddings")
    corpus = (
        spread(embs)
        .select("vec_id", "label", as_double(F.col("embedding")).alias("_v"))
        .withColumn("_nv", norm(F.col("_v")))
    )
    qs = (
        embs.where(F.col("vec_id") < EVAL_MRR_NQ)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("q_label"),
            as_double(F.col("embedding")).alias("_q"),
        )
        .withColumn("_nq", norm(F.col("_q")))
    )
    cos = _safe_cosine(
        dot(F.col("_v"), F.col("_q")), F.col("_nv") * F.col("_nq")
    )
    scored = (
        corpus.crossJoin(F.broadcast(qs))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "q_label", "vec_id", "label", cos.alias("_cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("vec_id").asc()
    )
    top = scored.withColumn("_rk", F.row_number().over(w)).where(
        F.col("_rk") <= EVAL_MRR_K
    )
    rel = F.col("label") == F.col("q_label")
    per = top.groupBy("query_id", "q_label").agg(
        F.min(F.when(rel, F.col("_rk"))).cast("int").alias("first_rel_rank"),
        F.sum(F.when(rel, 1).otherwise(0)).cast("long").alias("hits_at_k"),
    )
    return per.select(
        "query_id",
        "q_label",
        "first_rel_rank",
        F.coalesce(
            F.lit(1.0) / F.col("first_rel_rank").cast("double"), F.lit(0.0)
        ).alias("rr"),
        "hits_at_k",
        (F.col("hits_at_k").cast("double") / F.lit(float(EVAL_MRR_K))).alias(
            "precision_at_k"
        ),
    )


EVAL_ANN_MRR_SQL = f"""
WITH qs AS (
  SELECT vec_id AS query_id, label AS q_label, embedding AS qv
  FROM embeddings WHERE vec_id < {EVAL_MRR_NQ}
),
scored AS (
  SELECT s.query_id, s.q_label, c.vec_id, c.label,
    ({_dot_sql('c.embedding', 's.qv')})
      / (sqrt({_dot_sql('c.embedding', 'c.embedding')})
         * sqrt({_dot_sql('s.qv', 's.qv')})) AS cos
  FROM embeddings c JOIN qs s ON c.vec_id <> s.query_id
),
top AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos DESC, vec_id ASC
    ) AS rk FROM scored
  ) WHERE rk <= {EVAL_MRR_K}
),
per AS (
  SELECT query_id, q_label,
    CAST(MIN(CASE WHEN label = q_label THEN rk END) AS INT)
      AS first_rel_rank,
    CAST(SUM(CASE WHEN label = q_label THEN 1 ELSE 0 END) AS BIGINT)
      AS hits_at_k
  FROM top GROUP BY query_id, q_label
)
SELECT query_id, q_label, first_rel_rank,
  COALESCE(CAST(1.0 AS DOUBLE) / CAST(first_rel_rank AS DOUBLE), 0.0) AS rr,
  hits_at_k,
  CAST(hits_at_k AS DOUBLE) / CAST({EVAL_MRR_K} AS DOUBLE) AS precision_at_k
FROM per
"""


# --------------- embedding covariance / whitening stats (#140)

COV_DIMS = 16  # leading dims: the projection-head slice being whitened


def emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance + correlation of the leading embedding dims (#140).

    The whitening statistics a projection head / PCA preprocessor
    needs: for every dim pair i ≤ j of the first ``COV_DIMS``
    dimensions, cov = E[xy] − E[x]E[y] and the Pearson correlation.

    Plan shape is the 100 TB one: NO explode — the d(d+1)/2 pair
    products are columns of ONE global aggregate (a single map-side-
    combined pass; the shuffle carries one partial-sum row per task),
    then the wide row unpivots driver-free via inline(). Sums ride the
    DECIMAL quantization convention (order-independent, engine-exact);
    cov/corr are fixed chains of exactly-rounded ops (÷, ×, −, √).

    The 153 DECIMAL aggregates cost ~30 µs/row/core — spread() widens
    an under-split scan to every core before they run (sf10: 13 scan
    partitions 38 s → 32 spread partitions 10.8 s; adaptive, so small
    inputs skip the shuffle).
    """
    from ..operators.dedup import _small_scan, spread

    # Small-input fused twin (round 15, guide §4.3): below the byte gate
    # the 153 DECIMAL(30,10) aggregates are one numpy pass in one task.
    # The kernel replicates the distributed arithmetic EXACTLY: each
    # double is quantized to the decimal's HALF_UP 10th digit via a
    # Dekker two-product (the rounding decision is made on the exact
    # a·10¹⁰ value, not the rounded float), the quantized units sum as
    # int64 (exact), sums convert through Fraction (correctly rounded,
    # = BigDecimal.doubleValue), and the cov/corr chains run the same
    # float64 ops in the same order. tests/test_corpus_card.py pins
    # fused ≡ forced-distributed bit-equality.
    emb_raw = load_table(spark, sf_dir, "embeddings")
    if _small_scan(emb_raw):
        return _emb_covariance_direct(emb_raw)

    # The whole chain is built from SQL STRINGS (selectExpr / F.expr),
    # not Column-object chains: the Column API costs several py4j
    # round-trips per operator, and this query's ~600 expressions paid
    # 24k round-trips = 3.9 s of pure driver-side CONSTRUCTION time per
    # bench run (measured; the JVM parses the equivalent strings in
    # ~50 ms). The parsed expression trees are identical — same ops,
    # same order, same doubles.
    # min_bytes=0 (round 14): the 153-aggregate partial pass is
    # expensive PER ROW, so even the sub-4MB bench file ran it in one
    # task (1.3 s single-task vs 0.35 s for the spread exchange;
    # 2.3 → 1.8 s A/B). At sf1+ the adaptive gate spread anyway.
    emb = spread(emb_raw, min_bytes=0)
    base = emb.selectExpr(
        *[
            f"cast(element_at(embedding, {i + 1}) as double) as _x{i}"
            for i in range(COV_DIMS)
        ]
    )
    aggs = ["count(1) as _n"]
    aggs += [
        f"sum(cast(_x{i} as decimal(30,10))) as _s{i}" for i in range(COV_DIMS)
    ]
    aggs += [
        f"sum(cast(_x{i} * _x{j} as decimal(30,10))) as _p{i}_{j}"
        for i in range(COV_DIMS)
        for j in range(i, COV_DIMS)
    ]
    wide = base.agg(*[F.expr(a) for a in aggs])

    def cov(i: int, j: int) -> str:
        return (
            f"cast(_p{i}_{j} as double) / cast(_n as double) - "
            f"(cast(_s{i} as double) / cast(_n as double)) * "
            f"(cast(_s{j} as double) / cast(_n as double))"
        )

    # materialize each cov ONCE in a middle projection: building corr
    # straight off cov() re-expands three expression trees per pair
    # (~400 copies), and the resulting plan spent ~10 s in Catalyst +
    # codegen at EVERY scale (compile, not compute). Referencing the
    # aliased columns keeps the tree linear in pairs; multi-referenced
    # aliases also stop CollapseProject from re-inlining them.
    covd = wide.selectExpr(
        *[
            f"{cov(i, j)} as _c{i}_{j}"
            for i in range(COV_DIMS)
            for j in range(i, COV_DIMS)
        ]
    )
    # try_divide: a constant dimension (zero variance) gets a NULL corr,
    # as the DuckDB oracle's division gives, not an ANSI divide-by-zero
    terms = ", ".join(
        f"named_struct('i', {i}, 'j', {j}, 'cov', _c{i}_{j}, "
        f"'corr', try_divide(_c{i}_{j}, sqrt(_c{i}_{i}) * sqrt(_c{j}_{j})))"
        for i in range(COV_DIMS)
        for j in range(i, COV_DIMS)
    )
    return covd.selectExpr(f"inline(array({terms}))")


def _quant_halfup_1e10(v):
    """Exact HALF_UP quantization of float64 ``v`` at scale 10 — the
    integer ``round_half_away_from_zero(v * 10^10)`` computed on the
    EXACT product, bit-for-bit what ``cast(v as decimal(30,10))``
    produces (BigDecimal HALF_UP on the double's exact binary value).

    ``|v| * 1e10`` needs up to 87 mantissa bits, so the rounded float64
    product alone can misplace the .5 boundary. A Dekker two-product
    recovers the exact residual (1e10 and the 2^27+1 splitter are
    exactly representable; the four partial products are exact by
    construction), and the boundary test runs on (rounded ± residual).
    """
    import numpy as np

    C = np.float64(1e10)
    SPLIT = np.float64(134217729.0)  # 2^27 + 1 (Dekker splitter)
    a = np.abs(v)
    p = a * C
    t = a * SPLIT
    ah = t - (t - a)
    al = a - ah
    tc = C * SPLIT
    ch = tc - (tc - C)
    cl = C - ch
    err = ((ah * ch - p) + ah * cl + al * ch) + al * cl  # a*C == p + err
    q = np.floor(p + np.float64(0.5))
    # exact remainder of (a*C + 0.5 - q): d = p - q is exact (Sterbenz
    # for p >= 0.5; below that q == 0 and d == p)
    d = p - q
    r = (d + np.float64(0.5)) + err
    q = np.where(r < 0, q - 1, q)
    q = np.where(r >= 1, q + 1, q)
    return np.where(v < 0, -q, q).astype(np.int64)


def _emb_covariance_direct(emb) -> DataFrame:
    """Small-input fused twin of :func:`emb_covariance` (see the gate
    comment there): the 1 + 16 + 136 DECIMAL aggregates and the
    cov/corr double chains in one numpy pass in one task."""
    from fractions import Fraction

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    d = COV_DIMS
    out_schema = StructType(
        [
            StructField("i", IntegerType()),
            StructField("j", IntegerType()),
            StructField("cov", DoubleType()),
            StructField("corr", DoubleType()),
        ]
    )

    def solve_iter(batches):
        import numpy as np
        import pandas as pd

        cols = {"i": [], "j": [], "cov": [], "corr": []}
        pdfs = list(batches)
        if not pdfs:
            yield pd.DataFrame(cols)
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        n = len(pdf)
        if n == 0:
            yield pd.DataFrame(cols)
            return
        X = np.stack(pdf["embedding"].to_numpy())[:, :d].astype(np.float64)
        # sums: quantize each dim once; products: the double product
        # x_i * x_j FIRST (the distributed plan casts the double
        # product), then quantize
        pairs = [(i, j) for i in range(d) for j in range(i, d)]
        Q = _quant_halfup_1e10(X)
        P = _quant_halfup_1e10(
            np.stack([X[:, i] * X[:, j] for i, j in pairs], axis=1)
        )
        # int64 sums are exact while n * max|q| stays far under 2^63 —
        # guaranteed by the byte gate; the object-dtype fallback would
        # be exact but row-at-a-time slow
        s = Q.sum(axis=0, dtype=np.int64)
        ps = P.sum(axis=0, dtype=np.int64)
        # decimal -> double: correctly rounded value of the exact
        # rational (what BigDecimal.doubleValue does); int64 -> float64
        # then / 1e10 would round twice
        SCALE = 10**10
        N = float(n)
        S = [float(Fraction(int(v), SCALE)) / N for v in s]
        cov = {}
        for (i, j), v in zip(pairs, ps):
            cov[(i, j)] = float(Fraction(int(v), SCALE)) / N - S[i] * S[j]
        for i, j in pairs:
            cols["i"].append(i)
            cols["j"].append(j)
            cols["cov"].append(cov[(i, j)])
            # a zero divisor (a constant dimension) is NULL, as try_divide
            # gives in the distributed plan; numpy would give inf/NaN
            den = np.sqrt(cov[(i, i)]) * np.sqrt(cov[(j, j)])
            cols["corr"].append(None if den == 0 else cov[(i, j)] / den)
        yield pd.DataFrame(cols)

    return (
        emb.select("embedding").coalesce(1).mapInPandas(solve_iter, out_schema)
    )


def _cov_sql() -> str:
    d = COV_DIMS
    sums = ", ".join(
        f"SUM(CAST(embedding[{i + 1}]::DOUBLE AS DECIMAL(30,10))) AS s{i}"
        for i in range(d)
    )
    prods = ", ".join(
        f"SUM(CAST(embedding[{i + 1}]::DOUBLE * embedding[{j + 1}]::DOUBLE "
        f"AS DECIMAL(30,10))) AS p{i}_{j}"
        for i in range(d)
        for j in range(i, d)
    )

    def cov(i, j):
        return (
            f"(CAST(p{i}_{j} AS DOUBLE) / n "
            f"- (CAST(s{i} AS DOUBLE) / n) * (CAST(s{j} AS DOUBLE) / n))"
        )

    rows = " UNION ALL ".join(
        f"SELECT {i} AS i, {j} AS j, {cov(i, j)} AS cov, "
        f"{cov(i, j)} / (sqrt({cov(i, i)}) * sqrt({cov(j, j)})) AS corr "
        "FROM agg"
        for i in range(d)
        for j in range(i, d)
    )
    return (
        "WITH agg AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, "
        f"{sums}, {prods} FROM embeddings) {rows}"
    )


EMB_COVARIANCE_SQL = _cov_sql()


# --------------------------- ROC AUC, rank-sum, integer-exact (#162)


def eval_auc_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ROC AUC of token count as a one-feature classifier
    (#162): how separable is each source from the rest of the corpus on
    document length alone?

    The standard separability readout before any feature ships into a
    quality/mixture model — an AUC near 0.5 says length carries no
    source signal; near 0 or 1 says a length threshold alone
    reconstructs the source. Computed as the tie-corrected Mann-Whitney
    U without ever ranking individual documents OR pairing every source
    with every score: with A(len) = corpus-wide docs at that length (a
    tiny global length spine carrying its exclusive cumulative cumA),
    each source touches only its OWN (source, len) rows —

        neg_below = cumA(len) − cumP(len)        (cumP: own window)
        U2 = Σ_len 2·neg_below·p + p·(A(len) − p)
        AUC = U2 / (2·npos·(N − npos))

    — every term an integer (ties contribute the exact half credit via
    the doubled numerator), one exactly-rounded division at the end:
    engine-identical. Lengths a source never exhibits have p = 0 and
    drop out algebraically, so the working frame is Σ_s |lengths_s|
    rows — LINEAR in source count, where the naive sources × scores
    cross-join goes quadratic once source diversity grows with the
    corpus (measured 6.4× wall on the 3.33× sf3→sf10 step before this
    rewrite; ~1× after).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    per = docs.select(F.col("source"), toks.alias("_len"))
    counts = per.groupBy("source", "_len").agg(F.count(F.lit(1)).alias("_m"))
    spine = (
        counts.groupBy("_len")
        .agg(F.sum("_m").alias("_a"))
        .withColumn(
            "_cuma",
            F.coalesce(
                F.sum("_a").over(
                    Window.orderBy("_len").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("_n"))
    own_below = (
        Window.partitionBy("source")
        .orderBy("_len")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    terms = (
        counts.join(F.broadcast(spine), "_len")
        .withColumn("_cump", F.coalesce(F.sum("_m").over(own_below), F.lit(0)))
        .withColumn("_negb", F.col("_cuma") - F.col("_cump"))
    )
    agg = terms.groupBy("source").agg(
        F.sum(
            F.lit(2) * F.col("_negb") * F.col("_m")
            + F.col("_m") * (F.col("_a") - F.col("_m"))
        ).alias("_u2"),
        F.sum("_m").alias("_np"),
    )
    return (
        agg.crossJoin(F.broadcast(n_docs))
        .withColumn("_ng", F.col("_n") - F.col("_np"))
        .where((F.col("_np") > 0) & (F.col("_ng") > 0))
        .select(
            "source",
            F.col("_np").cast("bigint").alias("n_pos"),
            F.col("_ng").cast("bigint").alias("n_neg"),
            (
                F.col("_u2").cast("double")
                / (F.lit(2.0) * F.col("_np").cast("double") * F.col("_ng").cast("double"))
            ).alias("auc"),
        )
    )


EVAL_AUC_LENGTH_SQL = r"""
WITH per AS (
  SELECT source, len(string_split_regex(trim(text), '\s+')) AS l
  FROM documents
), counts AS (
  SELECT source, l, CAST(COUNT(*) AS BIGINT) AS m FROM per GROUP BY 1, 2
), spine AS (
  SELECT l, CAST(SUM(m) AS BIGINT) AS a,
    CAST(COALESCE(SUM(SUM(m)) OVER (ORDER BY l
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cuma
  FROM counts GROUP BY l
), nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
terms AS (
  SELECT source, m, a,
    cuma - CAST(COALESCE(SUM(m) OVER (PARTITION BY source ORDER BY counts.l
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS negb
  FROM counts JOIN spine USING (l)
), agg AS (
  SELECT source,
    CAST(SUM(2 * negb * m + m * (a - m)) AS BIGINT) AS u2,
    CAST(SUM(m) AS BIGINT) AS np
  FROM terms GROUP BY 1
)
SELECT source, np AS n_pos, CAST(n - np AS BIGINT) AS n_neg,
  CAST(u2 AS DOUBLE) / (2.0 * CAST(np AS DOUBLE) * CAST(n - np AS DOUBLE)) AS auc
FROM agg, nd WHERE np > 0 AND n - np > 0
"""


# ------------------------------ per-term burstiness (VMR) (#163)

BURSTINESS_MIN_DF = 50
BURSTINESS_TOP_K = 25


def corpus_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most bursty corpus terms by variance-to-mean ratio (#163).

    Church/Gale burstiness: a term whose occurrences CLUMP into few
    documents (names, topics, boilerplate) has per-doc count variance
    far above its mean; function words sit near the Poisson floor
    (VMR ~ 1). The per-term statistic over all N docs (zeros included)
    never materializes zero rows:

        VMR = ((N·Σc² − (Σc)²) / N) / (Σc / N) = (N·Σc² − T²) / (N·T)

    with T = Σc. Every FACTOR is an exact BIGINT aggregate, but the
    products are computed in DOUBLE (each factor cast before the
    multiply, the tf-cosine discipline): at a 100 TB corpus N·Σc² and
    T² overflow int64 (T ~ 3e9 for a common term already wraps), and
    non-ANSI Spark would wrap silently where DuckDB raises. Cast-then-
    multiply is exactly mirrored in the oracle — every multiply /
    subtract / divide is the same exactly-rounded IEEE op on the same
    inputs, so the doubles stay engine-identical at any scale.

    df ≥ {BURSTINESS_MIN_DF} floors the long tail (a df-1 term is
    trivially "bursty"); top-k by VMR with term tie-break runs as
    ``orderBy().limit(k)`` — Spark's distributed TakeOrderedAndProject
    (per-partition heaps, k rows to the driver) — NOT a partition-less
    row_number window, which would sort the entire df ≥ 50 vocabulary
    (10⁷–10⁸ terms at 100 TB) in ONE task. The rank column is stamped
    by a window over the ≤k survivors only. One (doc, term)
    aggregation, one per-term reduce — row-scale work is the tokenize
    alone.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("_n"))
    tf = (
        docs.select(
            F.col("doc_id"),
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("_t"),
        )
        .groupBy("doc_id", "_t")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    per_term = tf.groupBy("_t").agg(
        F.count(F.lit(1)).alias("_df"),
        F.sum("_c").alias("_tot"),
        F.sum(F.col("_c") * F.col("_c")).alias("_sq"),
    )
    scored = (
        per_term.where(F.col("_df") >= BURSTINESS_MIN_DF)
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "burstiness",
            (
                F.col("_n").cast("double") * F.col("_sq").cast("double")
                - F.col("_tot").cast("double") * F.col("_tot").cast("double")
            )
            / (F.col("_n").cast("double") * F.col("_tot").cast("double")),
        )
    )
    top = scored.orderBy(
        F.col("burstiness").desc(), F.col("_t").asc()
    ).limit(BURSTINESS_TOP_K)
    # rank stamp over the <= TOP_K survivors only — bounded frame
    w = Window.orderBy(F.col("burstiness").desc(), F.col("_t").asc())
    return (
        top.withColumn("_rk", F.row_number().over(w))
        .select(
            F.col("_t").alias("term"),
            F.col("_df").cast("bigint").alias("doc_freq"),
            F.col("_tot").cast("bigint").alias("total_tf"),
            "burstiness",
            F.col("_rk").cast("int").alias("rank"),
        )
    )


CORPUS_BURSTINESS_SQL = rf"""
WITH tf AS (
  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
    FROM documents
  ) GROUP BY 1, 2
), per AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(c) AS BIGINT) AS tot,
    CAST(SUM(c * c) AS BIGINT) AS sq
  FROM tf GROUP BY 1
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
scored AS (
  SELECT t, df, tot,
    (CAST(nd AS DOUBLE) * CAST(sq AS DOUBLE)
     - CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE))
    / (CAST(nd AS DOUBLE) * CAST(tot AS DOUBLE)) AS b
  FROM per, n WHERE df >= {BURSTINESS_MIN_DF}
)
SELECT t AS term, df AS doc_freq, tot AS total_tf, b AS burstiness,
  CAST(rk AS INT) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY b DESC, t ASC) AS rk FROM scored)
WHERE rk <= {BURSTINESS_TOP_K}
"""


# ----------------- per-source lexical diversity panel (#167)


def _source_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(source, _t, _c)``: each whitespace token's count per source,
    the frame the per-source lexical panels (#167, #168, #169, #177)
    reduce — one (source, term) aggregation, map-side combined."""
    return (
        load_table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("_t"))
        .groupBy("source", "_t")
        .agg(F.count(F.lit(1)).alias("_c"))
    )


def corpus_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio + hapax share per source (#167).

    The corpus-linguistics diversity panel (TTR and hapax legomena
    share are the standard readouts — public formulas): templated or
    boilerplate-heavy sources show LOW distinct/total and low hapax
    share; organic text runs high on both. The burstiness twin (#163)
    scores TERMS; this scores SOURCES — together they locate which
    source is stamping out near-identical text before a dedup pass
    even runs. All ratios are exactly-rounded divisions of exact
    integers (token count, distinct terms, terms occurring exactly
    once within the source) — engine-identical.

    Shape: one (source, term) aggregation (row-keyed, map-side
    combined), one per-source reduce over the vocabulary-sized frame.
    Nothing ever pairs or sorts at row scale.
    """
    tf = _source_term_counts(spark, sf_dir)
    agg = tf.groupBy("source").agg(
        F.sum("_c").alias("_tokens"),
        F.count(F.lit(1)).alias("_types"),
        F.sum(F.when(F.col("_c") == 1, 1).otherwise(0)).alias("_hapax"),
    )
    return agg.select(
        "source",
        F.col("_tokens").cast("bigint").alias("n_tokens"),
        F.col("_types").cast("bigint").alias("n_types"),
        F.col("_hapax").cast("bigint").alias("n_hapax"),
        (F.col("_types").cast("double") / F.col("_tokens").cast("double")).alias("ttr"),
        (F.col("_hapax").cast("double") / F.col("_types").cast("double")).alias(
            "hapax_share"
        ),
    )


CORPUS_LEXICAL_DIVERSITY_SQL = r"""
WITH tf AS (
  SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS t
    FROM documents
  ) GROUP BY 1, 2
)
SELECT source,
  CAST(SUM(c) AS BIGINT) AS n_tokens,
  CAST(COUNT(*) AS BIGINT) AS n_types,
  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS ttr,
  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS hapax_share
FROM tf GROUP BY source
"""


# ---------------- per-source repetition indices (Yule's K / Simpson) (#168)


def corpus_repetition_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's K and Simpson's D per source (#168).

    The repeated-draw companions to #167's TTR panel (public formulas —
    Yule 1944, Simpson 1949): both measure the probability that two
    tokens drawn from the source are the SAME type, so they spike on
    template/boilerplate sources and are length-insensitive where raw
    TTR is not. With N = Σf tokens, S2 = Σf² over the per-source term
    frequencies:

        K = 10⁴ · (S2 − N) / N²          D = (S2 − N) / (N·(N−1))

    Exactness: S2 runs in DECIMAL(38,0) — a 100 TB source's stopword
    frequency passes 3e9 and f² wraps int64 inside the sum, where
    double summands would also be accumulation-order-dependent. The
    final divisions cast each factor to double (mirrored in the
    oracle), one exactly-rounded op per value. Sources with fewer than
    two tokens drop (D undefined).

    Shape: one (source, term) aggregation, one per-source reduce.
    """
    tf = _source_term_counts(spark, sf_dir)
    dec = "decimal(19,0)"
    agg = tf.groupBy("source").agg(
        F.sum("_c").alias("_n"),
        F.count(F.lit(1)).alias("_v"),
        F.sum(F.col("_c").cast(dec) * F.col("_c").cast(dec)).alias("_s2"),
    )
    n_d = F.col("_n").cast("double")
    excess = (F.col("_s2") - F.col("_n").cast(dec)).cast("double")
    return (
        agg.where(F.col("_n") >= 2)
        .select(
            "source",
            F.col("_n").cast("bigint").alias("n_tokens"),
            F.col("_v").cast("bigint").alias("n_types"),
            ((F.lit(10000.0) * excess) / (n_d * n_d)).alias("yule_k"),
            (excess / (n_d * (F.col("_n") - F.lit(1)).cast("double"))).alias(
                "simpson_d"
            ),
        )
    )


CORPUS_REPETITION_INDICES_SQL = r"""
WITH tf AS (
  SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS t
    FROM documents
  ) GROUP BY 1, 2
), agg AS (
  -- HUGEINT mirrors Spark's DECIMAL(38,0): f*f wraps int64 at 100 TB
  SELECT source, CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS v,
    SUM(CAST(c AS HUGEINT) * c) AS s2
  FROM tf GROUP BY 1
)
SELECT source, n AS n_tokens, v AS n_types,
  (10000.0 * CAST(s2 - n AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
    AS yule_k,
  CAST(s2 - n AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
    AS simpson_d
FROM agg WHERE n >= 2
"""


# ------------------- per-source Zipf rank-frequency spine (#169)


def corpus_zipf_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-frequency spine per source (#169): the exact data a Zipf
    fit consumes, without ever ranking the vocabulary row-by-row.

    Instead of ranking every term (a vocabulary-scale sort), group the
    per-source term frequencies by FREQUENCY VALUE: each distinct
    frequency f carries its type count v and the tie-averaged rank of
    those v terms — prior + (v+1)/2 where prior counts strictly more
    frequent types. The spine is the counts-of-counts frame: its size
    is the number of DISTINCT frequency values (O(√N) under a Zipfian
    tail — ~thousands at 100 TB), so the per-source running-sum window
    is over a bounded frame, never the vocabulary. avg_rank is the one
    half-integer — (2·prior + v + 1)/2 is exactly representable, so
    both engines agree bit-for-bit.

    A Zipf slope then falls out client-side (weighted OLS of ln f on
    ln avg_rank over ≤ thousands of spine rows — numpy-pinned in
    tests); the engine's job is the exact spine.
    """
    tf = _source_term_counts(spark, sf_dir)
    spine = tf.groupBy("source", F.col("_c").alias("freq")).agg(
        F.count(F.lit(1)).alias("n_types")
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("freq").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.coalesce(F.sum("n_types").over(w), F.lit(0))
    return spine.select(
        "source",
        F.col("freq").cast("bigint").alias("freq"),
        F.col("n_types").cast("bigint").alias("n_types"),
        prior.cast("bigint").alias("n_more_frequent"),
        (
            (F.lit(2) * prior + F.col("n_types") + F.lit(1)).cast("double")
            / F.lit(2.0)
        ).alias("avg_rank"),
    )


CORPUS_ZIPF_SPINE_SQL = r"""
WITH tf AS (
  SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS t
    FROM documents
  ) GROUP BY 1, 2
), spine AS (
  SELECT source, c AS freq, CAST(COUNT(*) AS BIGINT) AS n_types
  FROM tf GROUP BY 1, 2
)
SELECT source, freq, n_types,
  CAST(COALESCE(SUM(n_types) OVER w, 0) AS BIGINT) AS n_more_frequent,
  CAST(2 * COALESCE(SUM(n_types) OVER w, 0) + n_types + 1 AS DOUBLE) / 2.0
    AS avg_rank
FROM spine
WINDOW w AS (PARTITION BY source ORDER BY freq DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
"""


# ---------------- per-source chi-squared keyword extraction (#171)

CHI2_MIN_DF = 5  # a term must appear in >= this many of the source's docs
CHI2_TOP_K = 10


def corpus_chi2_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k distinctive terms per source by 2x2 chi-squared (#171).

    The corpus-card "what makes this source different" panel (the
    classic keyword-extraction statistic — public formula): for each
    (source, term), the 2x2 contingency over DOCUMENT frequencies —
    docs in the source containing the term (a), source docs without it
    (b), other docs with it (c), other docs without it (d) — scores

        chi2 = N·(a·d − b·c)² / ((a+b)·(c+d)·(a+c)·(b+d))

    keeping only over-represented terms (a·d > b·c). Products reach
    N² ~ 1e22 at 100 TB doc counts, so every factor casts to double
    before multiplying (the #163 discipline, mirrored in the oracle).

    Shape: one (source, term) DOCUMENT-frequency aggregation (distinct
    per doc via the per-doc grouping), one per-term global reduce, one
    broadcast of the |sources|-row doc totals; the top-k window runs
    over the vocabulary-scale COUNTS frame partitioned by source —
    Spark 4 executes the rank filter as WindowGroupLimit (per-partition
    top-k heaps before the final per-source sort), the #110 pattern.
    """
    docs = load_table(spark, sf_dir, "documents")
    df_counts = (
        docs.select(
            "source",
            "doc_id",
            F.explode(
                F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
            ).alias("_t"),
        )
        .groupBy("source", "_t")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    src_tot = docs.groupBy("source").agg(F.count(F.lit(1)).alias("_ns"))
    term_tot = df_counts.groupBy("_t").agg(F.sum("_d").alias("_dt"))
    n_tot = docs.agg(F.count(F.lit(1)).alias("_n"))
    j = (
        df_counts.join(term_tot, "_t")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(n_tot))
    )
    a = F.col("_d").cast("double")
    b = (F.col("_ns") - F.col("_d")).cast("double")
    c = (F.col("_dt") - F.col("_d")).cast("double")
    d = (F.col("_n") - F.col("_ns") - (F.col("_dt") - F.col("_d"))).cast("double")
    num = a * d - b * c
    denom = (
        F.col("_ns").cast("double")
        * (F.col("_n") - F.col("_ns")).cast("double")
        * F.col("_dt").cast("double")
        * (F.col("_n") - F.col("_dt")).cast("double")
    )
    scored = (
        j.where(F.col("_d") >= CHI2_MIN_DF)
        .withColumn("_num", num)
        .where((F.col("_num") > 0) & (denom > 0))
        .withColumn("chi2", F.col("_n").cast("double") * F.col("_num") * F.col("_num") / denom)
    )
    top = Window.partitionBy("source").orderBy(F.col("chi2").desc(), F.col("_t").asc())
    return (
        scored.withColumn("_rk", F.row_number().over(top))
        .where(F.col("_rk") <= CHI2_TOP_K)
        .select(
            "source",
            F.col("_t").alias("term"),
            F.col("_d").cast("bigint").alias("df_in_source"),
            (F.col("_dt") - F.col("_d")).cast("bigint").alias("df_elsewhere"),
            "chi2",
            F.col("_rk").cast("int").alias("rank"),
        )
    )


CORPUS_CHI2_KEYWORDS_SQL = rf"""
WITH dfc AS (
  SELECT source, t, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT source, doc_id,
      unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS t
    FROM documents
  ) GROUP BY 1, 2
), st AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS ns FROM documents GROUP BY 1
), tt AS (SELECT t, CAST(SUM(d) AS BIGINT) AS dt FROM dfc GROUP BY 1),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
scored AS (
  SELECT dfc.source, dfc.t, dfc.d, tt.dt,
    CAST(dfc.d AS DOUBLE) * CAST(n - ns - (dt - d) AS DOUBLE)
      - CAST(ns - d AS DOUBLE) * CAST(dt - d AS DOUBLE) AS num,
    CAST(ns AS DOUBLE) * CAST(n - ns AS DOUBLE)
      * CAST(dt AS DOUBLE) * CAST(n - dt AS DOUBLE) AS denom,
    CAST(n AS DOUBLE) AS n_d
  FROM dfc JOIN tt USING (t) JOIN st USING (source), nt
  WHERE dfc.d >= {CHI2_MIN_DF}
), ranked AS (
  SELECT source, t, d, dt, n_d * num * num / denom AS chi2
  FROM scored WHERE num > 0 AND denom > 0
)
SELECT source, t AS term, d AS df_in_source,
  CAST(dt - d AS BIGINT) AS df_elsewhere, chi2, CAST(rk AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY source
    ORDER BY chi2 DESC, t ASC) AS rk
  FROM ranked
) WHERE rk <= {CHI2_TOP_K}
"""


# ---------------- trigram ingestion-novelty curve (#173)

NOVELTY_BATCHES = 10


def corpus_ingest_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of never-seen-before trigrams per ingestion batch (#173).

    The corpus-growth diagnostic a crawl pipeline watches: as batches
    arrive (doc_id order stands in for arrival order — the testdata
    generator assigns ids sequentially), what fraction of each batch's
    distinct 3-token shingles was never seen in ANY earlier batch? A
    healthy crawl decays slowly; a plateau near zero means the new
    batches are re-crawls. Batch = doc_id div ceil((max_id+1)/K) —
    division before multiplication, so no overflow at any id scale,
    and identical floor semantics in both engines for non-negative
    ids.

    Shape: one trigram explode, one distinct (batch, trigram)
    aggregation, one per-trigram min-batch reduce, two tiny per-batch
    aggregations — everything keys on the trigram, nothing pairs. All
    outputs are exact integers plus one exactly-rounded division.

    Shuffle width (round-13 verdict item #5): the trigram key is the
    ~60-bit double-poly shingle hash
    (:func:`functions.hashing.shingle_hashes_wide_pandas` — the
    paragraph-dedup precedent of hashing the key while keeping the
    election exact), NOT the raw three-token string. The distinct and
    the min-batch reduce then shuffle an 8-byte long per shingle
    instead of ~25 UTF-8 bytes, the per-doc dedup happens for free
    inside the Arrow batch, and the explode emits arrays of longs. The
    oracle mirrors the identical fold arithmetic, so both engines
    count the same keys bit-for-bit; the wide key keeps the hashed
    distinct collision-free in practice (single 30-bit family would
    birthday-collide from ~3e4 shingles).
    """
    from ..functions import hashing
    from ..operators.dedup import _small_scan

    docs = load_table(spark, sf_dir, "documents")
    # Small-input fused twin (round 15, guide §4.3): below the byte gate
    # the max-id probe, trigram hashing, (batch, trigram) dedup and both
    # tiny aggregations are one numpy pass in one task — no broadcast
    # join, no explode, no distinct/min-batch shuffles. Identical
    # integers (same wide-hash arithmetic via shingle_wide_flat, same
    # floor divisions) and the identical double division;
    # tests/test_corpus_card.py pins fused ≡ distributed bit-equality.
    if _small_scan(docs):
        return _ingest_novelty_direct(docs)
    max_id = docs.agg(F.max("doc_id").alias("_m"))
    sh = hashing.shingle_hashes_wide_pandas(3)
    # integer width w = max_id div K + 1; batch = doc_id div w in 0..K-1
    batched = (
        docs.crossJoin(F.broadcast(max_id))
        .withColumn("_w", F.expr(f"_m div {NOVELTY_BATCHES} + 1"))
        .withColumn("batch", F.expr("doc_id div _w"))
        .select("batch", F.explode(sh(F.col("text"))).alias("_tg"))
        .distinct()
    )
    first = batched.groupBy("_tg").agg(F.min("batch").alias("_fb"))
    per_batch = batched.groupBy("batch").agg(
        F.count(F.lit(1)).alias("n_trigrams")
    )
    new_per_batch = first.groupBy(F.col("_fb").alias("batch")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    return (
        per_batch.join(new_per_batch, "batch", "left")
        .select(
            F.col("batch").cast("bigint").alias("batch"),
            F.col("n_trigrams").cast("bigint").alias("n_trigrams"),
            F.coalesce(F.col("n_new"), F.lit(0)).cast("bigint").alias("n_new"),
            (
                F.coalesce(F.col("n_new"), F.lit(0)).cast("double")
                / F.col("n_trigrams").cast("double")
            ).alias("new_share"),
        )
    )


def _ingest_novelty_direct(docs) -> DataFrame:
    """Small-input fused twin of :func:`corpus_ingest_novelty` (see the
    gate comment there): one task computes max-id, per-batch distinct
    trigrams and first-seen batches with the identical arithmetic."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from ..functions.hashing import shingle_wide_flat

    out_schema = StructType(
        [
            StructField("batch", LongType()),
            StructField("n_trigrams", LongType()),
            StructField("n_new", LongType()),
            StructField("new_share", DoubleType()),
        ]
    )

    def solve_iter(batches):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {"batch": [], "n_trigrams": [], "n_new": [], "new_share": []}
        )
        pdfs = list(batches)
        if not pdfs:
            yield empty
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        if ids.size == 0:
            yield empty
            return
        # integer width w = max_id div K + 1; batch = doc_id div w —
        # the same non-negative floor divisions as the distributed plan
        w = ids.max() // NOVELTY_BATCHES + 1
        sh, sh_doc, _n = shingle_wide_flat(pdf["text"], 3)
        if sh.size == 0:
            yield empty
            return
        batch_of = ids[sh_doc] // w
        # distinct (batch, trigram): trigrams are already distinct per
        # doc, so dedupe across the docs of each batch
        bt = np.stack([batch_of, sh], axis=1)
        bt = np.unique(bt, axis=0)
        b, tg = bt[:, 0], bt[:, 1]
        n_trigrams = np.bincount(b, minlength=NOVELTY_BATCHES)
        # per-trigram min batch: rows are sorted by (batch, trigram), so
        # the FIRST occurrence of each trigram in trigram-sorted order
        # carries its min batch
        order = np.argsort(tg, kind="stable")
        tg_s, b_s = tg[order], b[order]
        first_mask = np.ones(tg_s.size, dtype=bool)
        first_mask[1:] = tg_s[1:] != tg_s[:-1]
        # stable sort keeps ascending batch within equal trigrams only
        # if input was batch-sorted — np.unique(axis=0) sorts rows
        # lexicographically by (batch, trigram), so after the stable
        # trigram sort, equal-trigram runs remain batch-ascending
        n_new = np.bincount(b_s[first_mask], minlength=NOVELTY_BATCHES)
        has = n_trigrams > 0
        batches_out = np.arange(NOVELTY_BATCHES, dtype=np.int64)[has]
        nt = n_trigrams[has].astype(np.int64)
        nn = n_new[has].astype(np.int64)
        yield pd.DataFrame(
            {
                "batch": batches_out,
                "n_trigrams": nt,
                "n_new": nn,
                "new_share": nn.astype(np.float64) / nt.astype(np.float64),
            }
        )

    return docs.select("doc_id", "text").coalesce(1).mapInPandas(
        solve_iter, out_schema
    )


CORPUS_INGEST_NOVELTY_SQL = rf"""
WITH m AS (SELECT MAX(doc_id) AS mx FROM documents),
tok AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
),
th AS (
  -- the two char-poly folds mirrored from shingle_hashes_wide_pandas:
  -- family A (31, 1e9+7) and family B (131, 1073741789)
  SELECT doc_id,
    [list_reduce(list_prepend(0::BIGINT,
       [ascii(c)::BIGINT for c in string_split(t, '')]),
       (a, b) -> (a * 31 + b) % 1000000007) for t in w] AS h1,
    [list_reduce(list_prepend(0::BIGINT,
       [ascii(c)::BIGINT for c in string_split(t, '')]),
       (a, b) -> (a * 131 + b) % 1073741789) for t in w] AS h2
  FROM tok
),
tg AS (
  SELECT DISTINCT doc_id // (mx // {NOVELTY_BATCHES} + 1) AS batch,
    ((h1[u.i] * 131 + h1[u.i+1]) % 1000000007 * 131 + h1[u.i+2])
      % 1000000007 * 1073741789
    + ((h2[u.i] * 131 + h2[u.i+1]) % 1073741789 * 131 + h2[u.i+2])
      % 1073741789 AS tgram
  FROM th, m,
  UNNEST(range(1, greatest(len(h1) - 1, 1))) AS u(i)
), first AS (
  SELECT tgram, MIN(batch) AS fb FROM tg GROUP BY 1
), per_batch AS (
  SELECT batch, CAST(COUNT(*) AS BIGINT) AS n_trigrams FROM tg GROUP BY 1
), new_b AS (
  SELECT fb AS batch, CAST(COUNT(*) AS BIGINT) AS n_new FROM first GROUP BY 1
)
SELECT CAST(per_batch.batch AS BIGINT) AS batch, n_trigrams,
  CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
  CAST(COALESCE(n_new, 0) AS DOUBLE) / CAST(n_trigrams AS DOUBLE) AS new_share
FROM per_batch LEFT JOIN new_b ON per_batch.batch = new_b.batch
"""


# -------------- pairwise cross-source lexical TVD (#177)


def corpus_source_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-variation distance between every source pair's unigram
    distributions (#177).

    The distribution-level companion to #135's vocabulary OVERLAP (set
    intersection can be high while the usage mixture diverges — and
    it's the mixture a temperature-weighted sampler actually draws
    from). TVD = ½·Σ_t |p_t − q_t| over the union vocabulary,
    INTEGER-EXACT via the common denominator: with per-source term
    counts c1, c2 and totals N1, N2,

        TVD = (S_abs + (N1−S1)·N2 + (N2−S2)·N1) / (2·N1·N2)

    where S_abs = Σ_common |c1·N2 − c2·N1| and S1/S2 are the common-
    term count sums — the two correction terms fold in every term
    that appears in only one source WITHOUT a full-outer join, so the
    pair stage is a plain term-keyed equi-join over common terms. The
    products reach N² ~ 1e28 at 100 TB, so S_abs runs in
    DECIMAL(38,0) (order-independent exact), HUGEINT in the oracle;
    the single final division is exactly rounded.

    Shape: one (source, term) aggregation, a
    |sources|-row totals broadcast to both join sides, one term-keyed
    self-join whose fan-out is ≤ |sources|² rows per term, one
    |pairs|-row reduce. Nothing is ever vocabulary-sorted or paired
    beyond the bounded source set. A pair sharing NO term is absent
    from the output (its TVD is trivially 1.0) — both engines agree
    because both ride the same inner join.
    """
    tf = _source_term_counts(spark, sf_dir)
    totals = tf.groupBy("source").agg(F.sum("_c").alias("_n"))
    a = (
        tf.join(F.broadcast(totals), "source")
        .select(
            F.col("source").alias("_sa"),
            F.col("_t"),
            F.col("_c").alias("_ca"),
            F.col("_n").alias("_na"),
        )
    )
    b = (
        tf.join(F.broadcast(totals), "source")
        .select(
            F.col("source").alias("_sb"),
            F.col("_t"),
            F.col("_c").alias("_cb"),
            F.col("_n").alias("_nb"),
        )
    )
    dec = "decimal(19,0)"
    common = (
        a.join(b, "_t")
        .where(F.col("_sa") < F.col("_sb"))
        .groupBy("_sa", "_sb", "_na", "_nb")
        .agg(
            F.sum(
                F.abs(
                    F.col("_ca").cast(dec) * F.col("_nb").cast(dec)
                    - F.col("_cb").cast(dec) * F.col("_na").cast(dec)
                )
            ).alias("_sabs"),
            F.sum("_ca").alias("_s1"),
            F.sum("_cb").alias("_s2"),
        )
    )
    num = (
        F.col("_sabs")
        + (F.col("_na") - F.col("_s1")).cast(dec) * F.col("_nb").cast(dec)
        + (F.col("_nb") - F.col("_s2")).cast(dec) * F.col("_na").cast(dec)
    )
    den = (
        F.lit(2).cast(dec) * F.col("_na").cast(dec) * F.col("_nb").cast(dec)
    )
    return common.select(
        F.col("_sa").alias("source_a"),
        F.col("_sb").alias("source_b"),
        F.col("_na").cast("bigint").alias("n_tokens_a"),
        F.col("_nb").cast("bigint").alias("n_tokens_b"),
        (num.cast("double") / den.cast("double")).alias("tvd"),
    )


CORPUS_SOURCE_TVD_SQL = r"""
WITH tf AS (
  SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS t
    FROM documents
  ) GROUP BY 1, 2
), totals AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM tf GROUP BY 1
), j AS (
  SELECT a.source AS sa, b.source AS sb, na.n AS n1, nb.n AS n2,
    -- HUGEINT mirrors Spark's DECIMAL(38,0): c*N reaches ~1e28 at 100 TB
    CAST(SUM(abs(CAST(a.c AS HUGEINT) * nb.n - CAST(b.c AS HUGEINT) * na.n))
         AS HUGEINT) AS sabs,
    CAST(SUM(a.c) AS BIGINT) AS s1, CAST(SUM(b.c) AS BIGINT) AS s2
  FROM tf a JOIN tf b ON a.t = b.t AND a.source < b.source
  JOIN totals na ON na.source = a.source
  JOIN totals nb ON nb.source = b.source
  GROUP BY 1, 2, 3, 4
)
SELECT sa AS source_a, sb AS source_b, n1 AS n_tokens_a, n2 AS n_tokens_b,
  CAST(sabs + CAST(n1 - s1 AS HUGEINT) * n2 + CAST(n2 - s2 AS HUGEINT) * n1
       AS DOUBLE)
  / CAST(2 * CAST(n1 AS HUGEINT) * n2 AS DOUBLE) AS tvd
FROM j
"""


# -------------- per-source language-balance report (#185)


def corpus_source_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source class balance of the language column (#185): Gini
    impurity ``1 − Σp²`` and the effective class count ``1/Σp²``
    (inverse Simpson) — the mixture-health readout a multilingual
    curation run watches (one dominant language ⇒ impurity → 0,
    effective_langs → 1; a uniform K-way mix ⇒ effective_langs → K).

    Rational arithmetic only (the #132 Gini discipline, no entropy/log
    — ln is an unpinned libm call): with T = Σc and S₂ = Σc²,
    impurity = (T² − S₂)/T² and effective = T²/S₂ — integer products in
    DECIMAL(38,0)/HUGEINT (T ~ 1e12 docs/source wraps int64 squared),
    one exactly-rounded division each. NULL lang counts as its own
    class in both engines.

    Scale: two keyed aggregations, the second over |source × lang|
    rows — model-scale.
    """
    docs = load_table(spark, sf_dir, "documents").select("source", "lang")
    dec = "decimal(19,0)"
    cl = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("_c"))
    c = F.col("_c").cast(dec)
    agg = cl.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_langs"),
        F.sum(c).alias("_t"),
        F.sum(c * c).alias("_s2"),
    )
    t2 = F.col("_t") * F.col("_t")
    return agg.select(
        "source",
        F.col("n_langs").cast("bigint").alias("n_langs"),
        F.col("_t").cast("bigint").alias("n_docs"),
        ((t2 - F.col("_s2")).cast("double") / t2.cast("double")).alias(
            "gini_impurity"
        ),
        (t2.cast("double") / F.col("_s2").cast("double")).alias(
            "effective_langs"
        ),
    )


CORPUS_SOURCE_BALANCE_SQL = """
WITH cl AS (
  SELECT source, lang, CAST(COUNT(*) AS HUGEINT) AS c
  FROM documents GROUP BY 1, 2
), agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_langs,
    SUM(c) AS t, SUM(c * c) AS s2
  FROM cl GROUP BY 1
)
SELECT source, n_langs, CAST(t AS BIGINT) AS n_docs,
  CAST(t * t - s2 AS DOUBLE) / CAST(t * t AS DOUBLE) AS gini_impurity,
  CAST(t * t AS DOUBLE) / CAST(s2 AS DOUBLE) AS effective_langs
FROM agg
"""


# -------------- per-source power-of-two doc-length histogram (#189)


def corpus_doclen_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source power-of-two histogram of whitespace token counts
    (#189): bucket b holds docs with 2^(b−1) ≤ tokens < 2^b (bucket 0 =
    empty docs). The sequence-length planning readout a packing
    pipeline (#77) reads before picking a context length — exponential
    buckets keep the histogram ~30 rows per source at ANY corpus scale.

    No libm: the bucket is the BIT LENGTH of the token count —
    ``length(bin(n))`` in both engines (``floor(log2 n) + 1`` for
    n ≥ 1, branch for 0) — integer string length, never a float log.
    Token counts use the #28 whitespace convention verbatim.
    """
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    n = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    bucket = F.when(n <= 0, F.lit(0)).otherwise(F.length(F.bin(n.cast("long"))))
    return (
        docs.select("source", bucket.cast("int").alias("bucket"))
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "source",
            "bucket",
            F.expr(
                "CAST(CASE WHEN bucket = 0 THEN 0"
                " ELSE shiftleft(1L, bucket - 1) END AS BIGINT)"
            ).alias("min_tokens"),
            F.expr("CAST(shiftleft(1L, bucket) - 1 AS BIGINT)").alias(
                "max_tokens"
            ),
            F.col("n_docs").cast("bigint").alias("n_docs"),
        )
    )


CORPUS_DOCLEN_HISTOGRAM_SQL = r"""
WITH t AS (
  SELECT source,
    len(string_split_regex(trim(text), '\s+')) AS n
  FROM documents
), b AS (
  SELECT source,
    CASE WHEN n <= 0 THEN 0 ELSE len(bin(n)) END AS bucket
  FROM t
)
SELECT source, bucket,
  CAST(CASE WHEN bucket = 0 THEN 0 ELSE 1 << (bucket - 1) END AS BIGINT)
    AS min_tokens,
  CAST((1 << bucket) - 1 AS BIGINT) AS max_tokens,
  CAST(COUNT(*) AS BIGINT) AS n_docs
FROM b GROUP BY 1, 2
"""
