"""Embedding similarity: cosine pairs, brute-force top-k, LSH-bucketed ANN.

Vector math is built from zip_with/aggregate over array columns —
JVM-side, no UDFs, and a fixed left-to-right fold order so the DuckDB
oracle (an explicit generated term chain) produces bit-identical doubles.

Scale shape:
  * ``cosine_topk``: broadcast of the (tiny) query side, map-only scan
    over the corpus, single top-k reduce — the right baseline at any SF;
  * ``cosine_pairs``: equi-join on blocking columns (never cross-join);
  * ``lsh_topk``: sign-bit (axis-aligned random-hyperplane) bucketing —
    candidates shrink ~2^bits-fold; the scan prunes to one bucket.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType

from ..functions.vectors import (  # noqa: F401  (re-exported; plans import from here)
    LSH_BITS,
    as_double,
    cosine,
    dot,
    norm,
    sign_bucket,
)


def _safe_cosine(num, den):
    """dot/denominator with a zero-norm guard: 0/0 would be NaN, and
    Spark orders NaN ABOVE every double — a zero vector would pass any
    threshold and poison every top-k. Zero-norm rows score 0.0."""
    return F.when(den > 0, num / den).otherwise(F.lit(0.0))

def cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_cols: Sequence[str],
    threshold: float,
) -> DataFrame:
    """Near-dup pairs by cosine within blocking groups (e.g. cluster label).

    At 100 TB, replace the semantic block with ``sign_bucket`` below —
    the join stays an equi-join either way.
    """
    from .dedup import spread

    # norms precompute map-side: each pair then traverses the arrays
    # ONCE (the dot) instead of three times — same arithmetic, same
    # result, 3x fewer interpreted higher-order evals at 200k+ pairs
    # min_bytes=0: base feeds BOTH sides of the pair self-join below —
    # without the spread persist the vector cast+norm recomputes per
    # side (measured 2.5x at bench scale)
    base = spread(df, min_bytes=0).select(
        F.col(id_col), *[F.col(c) for c in block_cols], as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_n", norm(F.col("_v")))
    a = base.select(
        F.col(id_col).alias("id_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na"),
        *[F.col(c) for c in block_cols]
    )
    b = base.select(
        F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb"),
        *[F.col(c) for c in block_cols]
    )
    cos = _safe_cosine(dot(F.col("_va"), F.col("_vb")), F.col("_na") * F.col("_nb"))
    return (
        a.join(b, list(block_cols))
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def _seq_fold_cosines(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Cosine matrix (len(V) × len(C)) with LEFT-TO-RIGHT fold order.

    np.dot sums pairwise (different rounding); the DuckDB oracle folds
    term-by-term. Accumulating one dimension at a time reproduces the
    fold's IEEE rounding exactly, while each step stays a vectorized
    rank-1 update. Zero-norm rows score 0.0 (the _safe_cosine guard).
    """
    n, m = len(V), len(C)
    num = np.zeros((n, m), dtype=np.float64)
    nv = np.zeros(n, dtype=np.float64)
    nc = np.zeros(m, dtype=np.float64)
    for i in range(V.shape[1]):
        num += V[:, i, None] * C[None, :, i]
        nv += V[:, i] * V[:, i]
        nc += C[:, i] * C[:, i]
    den = np.sqrt(nv)[:, None] * np.sqrt(nc)[None, :]
    return np.divide(num, den, out=np.zeros_like(num), where=den > 0)


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids_df: DataFrame,
    threshold: float,
) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster, then prune within cluster.

    Public recipe (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication", arXiv:2303.09540):
    assign every embedding to its nearest centroid, compute pairwise
    cosine ONLY within a cluster, and drop every member that has an
    earlier-id neighbor at or above ``threshold`` (keep set = docs with
    no earlier near-duplicate — deterministic, engine-replayable).

    ``centroids_df`` must have columns (cid, cv); it is collected to the
    driver (K is small by construction — the model, not the data) and
    closed over by two Arrow-batched stages:

      1. assignment — map-only pandas UDF, argmax cosine over the K
         centroids with ties to the lowest cid;
      2. pruning — groupBy(cid).applyInPandas: each cluster's pairwise
         cosine matrix is computed in numpy inside one task. Per-task
         work/memory is bounded by the cluster size, which the CALLER
         bounds by fitting k ≈ N / target_cluster_size centroids
         (k-means on a sample) — the paper's own trick. Nothing here is ever corpus × corpus.

    All arithmetic uses a left-to-right per-dimension fold (see
    :func:`_seq_fold_cosines`) so the DuckDB oracle's explicit term
    chain reproduces every double bit-for-bit.

    Returns (id, cid, keep): every input id with its cluster and a
    boolean — callers filter ``keep`` or audit the drop rate.
    """
    rows = sorted(
        (int(r["cid"]), np.asarray(r["cv"], dtype=np.float64))
        for r in centroids_df.select("cid", "cv").collect()
    )
    cids = np.array([c for c, _ in rows], dtype=np.int64)
    C = np.stack([v for _, v in rows])

    @F.pandas_udf(IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        V = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        sims = _seq_fold_cosines(V, C)
        # argmax takes the FIRST maximum; cids are sorted ascending, so
        # ties break to the lowest cid — same as ORDER BY sim DESC, cid
        return pd.Series(cids[np.argmax(sims, axis=1)].astype(np.int32))

    assigned = df.select(
        F.col(id_col), F.col(vec_col).alias("_vec")
    ).withColumn("cid", assign(F.col("_vec")))

    out_schema = f"{id_col} long, cid int, keep boolean"

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame({id_col: [], "cid": [], "keep": []})
        pdf = pdf.sort_values(id_col, kind="stable")
        V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["_vec"]])
        cos = _seq_fold_cosines(V, V)
        # dup[j] ⇔ some earlier-id row i<j has cos ≥ threshold
        dup = np.triu(cos >= threshold, k=1).any(axis=0)
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                "cid": pdf["cid"].to_numpy(),
                "keep": ~dup,
            }
        )

    return assigned.groupBy("cid").applyInPandas(prune, out_schema)


def cosine_topk(
    df: DataFrame, id_col: str, vec_col: str, query_df: DataFrame, k: int
) -> DataFrame:
    """Brute-force cosine top-k against a single broadcast query vector."""
    from .dedup import spread

    corpus = spread(df).select(
        F.col(id_col), as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_n", norm(F.col("_v")))
    query = query_df.select(as_double(F.col(vec_col)).alias("_q")).withColumn(
        "_qn", norm(F.col("_q"))
    )
    cos = _safe_cosine(dot(F.col("_v"), F.col("_q")), F.col("_n") * F.col("_qn"))
    return (
        corpus.crossJoin(F.broadcast(query))
        .select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _py_dot(a: Sequence[float], b: Sequence[float]) -> float:
    """Strict left-to-right multiply-add: Python floats are IEEE doubles,
    so this is bit-identical to the Spark ``dot`` fold and the oracle's
    explicit term chain."""
    s = 0.0
    for x, y in zip(a, b):
        s = s + x * y
    return s


def ivf_topk_fixed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: Sequence[tuple[int, Sequence[float]]],
    query_df: "DataFrame | Sequence[float]",
    k: int,
    nprobe: int,
) -> DataFrame:
    """IVF ANN with caller-provided (deterministic) centroids.

    The IVF plan shape (assign → probe-prune → exact cosine top-k) with
    every arithmetic step the fixed left-to-right fold the DuckDB oracle
    replays, so the result is gate-checkable bit-for-bit —
    no k-means sampling, no numpy summation-order ambiguity.

    Plan: the centroid set enters as literals, so assignment is a pure
    map-side argmax (n_centroids dots + a tie-broken when-chain per
    row) — no join, no window, no shuffle; the probe filter then prunes
    assigned cells before the final cosine, and the only reduce is the
    top-k itself. At real scale assignment runs once at ingest (store
    the cell id, partition by it); this inline form is the same
    expressions over one scan.
    """
    import math

    from .dedup import spread

    if isinstance(query_df, DataFrame):
        qrow = query_df.select(as_double(F.col(vec_col)).alias("q")).limit(1).collect()
        qvec = [float(x) for x in qrow[0]["q"]]
    else:  # plain vector: saves a driver job when the caller already has it
        qvec = [float(x) for x in query_df]
    qn = math.sqrt(_py_dot(qvec, qvec))

    cents = sorted((int(cid), [float(x) for x in cv]) for cid, cv in centroids)
    # probe selection in plain-Python IEEE arithmetic (same dot chain):
    # top-nprobe centroids by cosine to the query, ties to lower cid
    scored = sorted(
        (
            (-(_py_dot(cv, qvec) / (math.sqrt(_py_dot(cv, cv)) * qn)), cid)
            for cid, cv in cents
        ),
    )
    probe_ids = sorted(cid for _, cid in scored[:nprobe])

    # corpus-side math in ONE Arrow-batched UDF: the strict left-to-right
    # fold runs dimension-by-dimension across the whole batch (numpy
    # column ops), so every double op — products, the accumulation
    # order, sqrt, the divides — is bit-identical to the Spark HOF fold
    # and the oracle's term chain, at ~100x the interpreted-HOF speed.
    scored = spread(df).select(
        F.col(id_col),
        _ivf_score_udf(cents, qvec, qn)(as_double(F.col(vec_col))).alias("_s"),
    )
    return (
        scored.where(F.col("_s.cid").isin(probe_ids))
        .select(F.col(id_col), F.col("_s.cosine").alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _ivf_score_udf(cents, qvec, qn):
    """pandas_udf: vector → (nearest-centroid id, query cosine).

    Vectorized over the Arrow batch but sequential over dimensions, so
    the accumulation order matches the ``dot`` left fold exactly; argmax
    takes the FIRST maximum, i.e. ties break to the lowest cid (cents
    are cid-sorted), matching the oracle's ORDER BY cos DESC, cid.
    """
    import numpy as np

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    cids = np.asarray([cid for cid, _ in cents], dtype=np.int64)
    cmat = np.asarray([cv for _, cv in cents], dtype=np.float64)
    cnorms = np.asarray(
        [float(np.sqrt(_py_dot(cv, cv))) for _, cv in cents], dtype=np.float64
    )
    qarr = np.asarray(qvec, dtype=np.float64)
    out_type = StructType(
        [StructField("cid", IntegerType()), StructField("cosine", DoubleType())]
    )

    def _fold_dot(mat: "np.ndarray", vec: "np.ndarray") -> "np.ndarray":
        acc = np.zeros(mat.shape[0], dtype=np.float64)
        for j in range(mat.shape[1]):
            acc = acc + mat[:, j] * vec[j]
        return acc

    @F.pandas_udf(out_type)
    def udf(vecs: pd.Series) -> pd.DataFrame:
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if m.size == 0:
            return pd.DataFrame({"cid": [], "cosine": []})
        acc = np.zeros(m.shape[0], dtype=np.float64)
        for j in range(m.shape[1]):
            acc = acc + m[:, j] * m[:, j]
        norms = np.sqrt(acc)
        ccos = np.stack(
            [_fold_dot(m, cmat[i]) / (norms * cnorms[i]) for i in range(len(cids))]
        )
        assigned = cids[np.argmax(ccos, axis=0)]
        qcos = _fold_dot(m, qarr) / (norms * float(qn))
        return pd.DataFrame({"cid": assigned.astype("int32"), "cosine": qcos})

    return udf


def batch_lsh_topk(
    corpus_df: DataFrame,
    queries_df: DataFrame,
    corpus_id: str,
    query_id: str,
    vec_col: str,
    k: int,
    bits: int = LSH_BITS,
) -> DataFrame:
    """Many-query ANN: top-k corpus neighbors for EVERY query row.

    The per-query ``toPandas`` loop of the single-vector operators is the
    wrong shape for "embed 1M docs, link each to its neighbors" — this is
    the DataFrame-to-DataFrame form: both sides bucket by sign-LSH, one
    equi-join on the bucket key (queries side broadcasts when small,
    shuffles when not — Catalyst/AQE picks), then a per-query-id window
    keeps the k best by exact cosine. Shuffle volume is candidate pairs
    only (same-bucket), never |corpus| × |queries|.

    Recall is single-probe (the query's own bucket); raise ``bits``
    quality via multi-band the way minhash_lsh_pairs does if the bucket
    population gets too selective. Deterministic ties: (cosine DESC,
    corpus id ASC). The two id columns are aliased apart internally, so
    ``corpus_id`` and ``query_id`` may share a name (both "id") without
    an ambiguous-reference failure; the output then carries
    ``<name>_query`` / ``<name>_corpus``.
    """
    from pyspark.sql import Window

    from .dedup import spread

    out_q, out_c = query_id, corpus_id
    if query_id == corpus_id:
        out_q, out_c = f"{query_id}_query", f"{corpus_id}_corpus"
    corpus = spread(corpus_df).select(
        F.col(corpus_id).alias(out_c),
        as_double(F.col(vec_col)).alias("_v"),
        sign_bucket(F.col(vec_col), bits).alias("_bkt"),
    ).withColumn("_n", norm(F.col("_v")))
    queries = queries_df.select(
        F.col(query_id).alias(out_q),
        as_double(F.col(vec_col)).alias("_q"),
        sign_bucket(F.col(vec_col), bits).alias("_bkt"),
    ).withColumn("_qn", norm(F.col("_q")))

    cos = _safe_cosine(dot(F.col("_v"), F.col("_q")), F.col("_n") * F.col("_qn"))
    per_query = Window.partitionBy(out_q).orderBy(
        F.col("cosine").desc(), F.col(out_c)
    )
    return (
        corpus.join(queries, "_bkt")
        .select(F.col(out_q), F.col(out_c), cos.alias("cosine"))
        .withColumn("_rk", F.row_number().over(per_query))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )


def band_bucket(vec_col, bits: int, band: int):
    """Sign-LSH bucket over the ``band``-th disjoint slice of dims —
    the multi-band twin of :func:`sign_bucket` (band 0 is identical).
    Bands use disjoint hyperplane sets, so each is an independent
    recall draw the way minhash LSH bands are."""
    off = band * bits
    return sum(
        F.when(
            F.element_at(vec_col, off + i + 1) >= 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
        for i in range(bits)
    )


KNN_PROPAGATE_TARGET_BUCKET = 256


def _knn_propagate_local(
    spark,
    labeled: DataFrame,
    unlabeled: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int,
    bits: int | None,
    bands: int,
    dim: int,
) -> DataFrame:
    """Driver-side twin of :func:`knn_propagate` for gate-small scans.

    Two column-pruned toPandas jobs replace the banded join + pair
    dedup + two windows + vote aggregation (~8 fixed-overhead stages).
    Bit-faithful by construction: band buckets are the same sign bits
    over the same disjoint coordinate slices; cosines accumulate one
    dimension at a time (the `_seq_fold_cosines` trick — identical IEEE
    rounding to the JVM left fold, zero-norm guard included); top-k and
    best-label ranks realize the same (cosine DESC, cid ASC) /
    (votes DESC, label ASC) total orders via stable lexsorts; the
    auto-``bits`` formula is evaluated on the same count.
    """
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    L = labeled.select(
        F.col(id_col).alias("_cid"),
        F.col(label_col).alias("_lbl"),
        F.col(vec_col).alias("_v"),
    ).toPandas()
    if bits is None:
        n = len(L)
        bits = max(
            4, math.ceil(math.log2(max(n, 1) / KNN_PROPAGATE_TARGET_BUCKET + 1))
        )
        bits = min(bits, dim // max(bands, 1))
    if bits < 1:
        raise ValueError(
            f"computed {bits} hyperplane bits per band: embedding dim "
            f"{dim} is too narrow for bands={bands} disjoint slices — "
            "lower bands or pass bits explicitly"
        )
    if bands * bits > dim:
        raise ValueError(
            f"bands*bits = {bands * bits} exceeds the embedding dim {dim}: "
            "band hyperplane slices are disjoint coordinate ranges"
        )
    U = unlabeled.select(
        F.col(id_col).alias("_uid"), F.col(vec_col).alias("_q")
    ).toPandas()
    out_schema = StructType(
        [
            StructField(id_col, unlabeled.schema[id_col].dataType),
            StructField("label_pred", labeled.schema[label_col].dataType),
            StructField("votes", LongType()),
        ]
    )
    empty = spark.createDataFrame([], out_schema)
    if not len(L) or not len(U):
        return empty
    V = np.stack(L["_v"].to_numpy()).astype(np.float64)
    Q = np.stack(U["_q"].to_numpy()).astype(np.float64)
    weights = np.int64(1) << np.arange(bits, dtype=np.int64)
    uu_parts, cc_parts = [], []
    for j in range(bands):
        off = j * bits
        bl = ((V[:, off : off + bits] >= 0) * weights).sum(axis=1)
        bq = ((Q[:, off : off + bits] >= 0) * weights).sum(axis=1)
        order = np.argsort(bl, kind="stable")
        bls = bl[order]
        lo = np.searchsorted(bls, bq, side="left")
        hi = np.searchsorted(bls, bq, side="right")
        cnt = hi - lo
        total = int(cnt.sum())
        if total == 0:
            continue
        uu = np.repeat(np.arange(len(U), dtype=np.int64), cnt)
        offs = np.concatenate(([0], np.cumsum(cnt)[:-1]))
        cc = order[
            np.arange(total, dtype=np.int64)
            - np.repeat(offs, cnt)
            + np.repeat(lo, cnt)
        ]
        uu_parts.append(uu)
        cc_parts.append(cc)
    if not uu_parts:
        return empty
    pk = np.unique(
        np.concatenate(uu_parts) * np.int64(len(L)) + np.concatenate(cc_parts)
    )
    uu, cc = pk // len(L), pk % len(L)
    # cosines with the JVM fold's exact rounding: one dim at a time
    num = np.zeros(pk.size, dtype=np.float64)
    nl = np.zeros(len(L), dtype=np.float64)
    nu = np.zeros(len(U), dtype=np.float64)
    Vc, Qc = V[cc], Q[uu]
    for i in range(dim):
        num += Vc[:, i] * Qc[:, i]
        nl += V[:, i] * V[:, i]
        nu += Q[:, i] * Q[:, i]
    den = np.sqrt(nl)[cc] * np.sqrt(nu)[uu]
    cos = np.divide(num, den, out=np.zeros_like(num), where=den > 0)
    cid_vals = L["_cid"].to_numpy()
    # top-k: (uid ASC groups; cosine DESC, cid ASC within) — stable
    ordi = np.lexsort((cid_vals[cc], -cos, uu))
    us = uu[ordi]
    newg = np.ones(us.size, dtype=bool)
    newg[1:] = us[1:] != us[:-1]
    starts = np.nonzero(newg)[0]
    rk = np.arange(us.size, dtype=np.int64) - starts[np.cumsum(newg) - 1]
    keep = rk < k
    us, cs = us[keep], cc[ordi][keep]
    lcodes, luniq = pd.factorize(L["_lbl"], sort=True)
    vk, votes = np.unique(
        us * np.int64(len(luniq)) + lcodes[cs], return_counts=True
    )
    vu, vl = vk // len(luniq), vk % len(luniq)
    # best label: (uid ASC groups; votes DESC, label ASC within) —
    # label-code order == label order (sort-factorized)
    ordv = np.lexsort((vl, -votes, vu))
    vus = vu[ordv]
    first = np.ones(vus.size, dtype=bool)
    first[1:] = vus[1:] != vus[:-1]
    sel = ordv[first]
    out = pd.DataFrame(
        {
            id_col: U["_uid"].to_numpy()[vu[sel]],
            "label_pred": np.asarray(luniq, dtype=object)[vl[sel]],
            "votes": votes[sel].astype(np.int64),
        }
    )
    return spark.createDataFrame(out, out_schema)


def knn_propagate(
    labeled: DataFrame,
    unlabeled: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
    bits: int | None = None,
    bands: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """Corpus-scale KNN label propagation: label EVERY unlabeled row.

    The exact form (broadcast query batch × labeled corpus — the gated
    ``emb_knn_label_propagation``) is the right plan only while the
    query set is bounded; labeling a corpus-sized unlabeled side with
    it crosses corpus × corpus. This is the shipped swap the round-8
    docstring promised: candidates come from ``bands`` independent
    sign-LSH band joins (disjoint hyperplane slices, the minhash-band
    recall construction), each pair is scored by exact cosine once
    (pairs meeting in several bands dedup through a key-shaped
    (query, corpus-id) aggregation), and the vote stage is identical to
    the exact operator: majority label of the k best candidates, ties
    by (votes DESC, label ASC), neighbor ties by (cosine DESC, id ASC).

    Output: (id_col, label_pred, votes) — one row per unlabeled row
    whose probe buckets held at least one labeled neighbor; rows whose
    every band bucket is empty of labeled data stay unlabeled (raise
    ``bands``/lower ``bits`` for coverage at recall cost).

    Scale: per-band candidate volume is Σ_bucket |L_b|·|U_b|. With a
    FIXED plane count that grows quadratically as the corpus outgrows
    its 2^bits buckets, so ``bits=None`` (default) auto-scales the
    plane count to keep expected bucket population near
    ``KNN_PROPAGATE_TARGET_BUCKET`` rows — candidates then stay ~linear
    in corpus size (the one count() this costs is a column-pruned scan).
    Every shuffle is key-shaped: band-bucket join, pair dedup, per-query
    window, vote aggregation. Nothing collects driver-side and the only
    broadcast is whatever AQE elects.
    """
    import math

    if dim is None:
        row = labeled.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = int(row["d"]) if row else 0
    if dim <= 0:
        # fail here with a clear input error: dim=0 would drive the
        # auto bits to 0 and the band-bucket expression would then be a
        # plain Python 0 (sum over no planes), surfacing as a baffling
        # plan-time TypeError inside F.array
        raise ValueError(
            "knn_propagate needs a non-empty labeled frame of "
            f"fixed-width vectors; got embedding dim {dim} "
            "(empty labeled input?)"
        )
    # Small-input local solve (round 14): both sides under the spread
    # byte gate — two toPandas jobs + numpy replace the banded join,
    # pair dedup, two windows and the vote aggregation. Bit-faithful
    # (see _knn_propagate_local); big corpora run the plan below
    # unchanged.
    from .dedup import _small_scan

    if _small_scan(labeled) and _small_scan(unlabeled):
        return _knn_propagate_local(
            labeled.sparkSession,
            labeled,
            unlabeled,
            id_col,
            vec_col,
            label_col,
            k,
            bits,
            bands,
            dim,
        )
    if bits is None:
        n = labeled.count()
        bits = max(4, math.ceil(math.log2(max(n, 1) / KNN_PROPAGATE_TARGET_BUCKET + 1)))
        bits = min(bits, dim // max(bands, 1))
    if bits < 1:
        raise ValueError(
            f"computed {bits} hyperplane bits per band: embedding dim "
            f"{dim} is too narrow for bands={bands} disjoint slices — "
            "lower bands or pass bits explicitly"
        )
    if bands * bits > dim:
        raise ValueError(
            f"bands*bits = {bands * bits} exceeds the embedding dim {dim}: "
            "band hyperplane slices are disjoint coordinate ranges"
        )
    corp = labeled.select(
        F.col(id_col).alias("_cid"),
        F.col(label_col).alias("_lbl"),
        as_double(F.col(vec_col)).alias("_v"),
    ).withColumn("_n", norm(F.col("_v")))
    qry = unlabeled.select(
        F.col(id_col).alias("_uid"), as_double(F.col(vec_col)).alias("_q")
    ).withColumn("_qn", norm(F.col("_q")))
    corp = corp.select(
        "*",
        F.posexplode(
            F.array(*[band_bucket(F.col("_v"), bits, j) for j in range(bands)])
        ).alias("_band", "_bkt"),
    )
    qry = qry.select(
        "*",
        F.posexplode(
            F.array(*[band_bucket(F.col("_q"), bits, j) for j in range(bands)])
        ).alias("_band", "_bkt"),
    )
    cos = _safe_cosine(dot(F.col("_v"), F.col("_q")), F.col("_n") * F.col("_qn"))
    cand = (
        qry.join(corp, ["_band", "_bkt"])
        # project to the scored pair BEFORE the query-keyed exchange:
        # the shuffle then carries one double per candidate, not two
        # vectors (cosine is identical wherever it is evaluated)
        .select("_uid", "_cid", "_lbl", cos.alias("cosine"))
        # ONE query-keyed exchange serves the whole vote pipeline
        # (round 14): hash-partitioning by _uid satisfies the pair
        # dedup (grouping keys ⊇ _uid), the top-k window, the vote
        # aggregation AND the best-label window — the previous shape
        # exchanged on (_uid, _cid) for the dedup and then AGAIN on
        # _uid for the window.
        .repartition(F.col("_uid"))
        # a pair that met in several bands scores identically each time
        .groupBy("_uid", "_cid")
        .agg(F.first("_lbl").alias("_lbl"), F.first("cosine").alias("cosine"))
    )
    topk = Window.partitionBy("_uid").orderBy(F.col("cosine").desc(), F.col("_cid"))
    votes = (
        cand.withColumn("_rk", F.row_number().over(topk))
        .where(F.col("_rk") <= k)
        .groupBy("_uid", "_lbl")
        .agg(F.count(F.lit(1)).cast("long").alias("votes"))
    )
    best = Window.partitionBy("_uid").orderBy(F.col("votes").desc(), F.col("_lbl"))
    return (
        votes.withColumn("_rk", F.row_number().over(best))
        .where(F.col("_rk") == 1)
        .select(
            F.col("_uid").alias(id_col),
            F.col("_lbl").alias("label_pred"),
            "votes",
        )
    )


def _probe_masks_query_directed(margins, t: int) -> list[int]:
    """Lv et al. (VLDB'07) ranked perturbation sets, adapted to the
    axis-aligned sign planes: the probability that a true neighbor
    landed across plane ``i`` from the query DECREASES with the query's
    margin |q_i| on that plane, so the best ``t`` extra buckets to probe
    are the XOR masks whose flipped bits have the smallest total squared
    margin. Generated in score order with the paper's heap walk over
    the margin-sorted bits (shift / expand moves) — O(t log t), never
    the 2^bits enumeration — so a deep 3-bit flip of near-zero margins
    ranks ABOVE a 1-bit flip of a confident plane, which is exactly what
    blanket hamming-radius probing gets wrong."""
    import heapq

    order = sorted(range(len(margins)), key=lambda i: margins[i] * margins[i])
    z = [margins[i] * margins[i] for i in order]
    n = len(z)
    if n == 0 or t <= 0:
        return []
    heap: list[tuple[float, tuple[int, ...]]] = [(z[0], (0,))]
    seen = {(0,)}
    subsets: list[tuple[int, ...]] = []
    while heap and len(subsets) < t:
        score, subset = heapq.heappop(heap)
        subsets.append(subset)
        j = subset[-1]
        if j + 1 < n:
            for cand, s in (
                (subset[:-1] + (j + 1,), score - z[j] + z[j + 1]),  # shift
                (subset + (j + 1,), score + z[j + 1]),              # expand
            ):
                if cand not in seen:
                    seen.add(cand)
                    heapq.heappush(heap, (s, cand))
    masks = []
    for subset in subsets:
        m = 0
        for idx in subset:
            m |= 1 << order[idx]
        masks.append(m)
    return masks


def lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    k: int,
    bits: int = LSH_BITS,
    probe_hamming: int = 0,
    probe_t: int = 0,
) -> DataFrame:
    """ANN top-k: scan the query's LSH bucket, then exact cosine.

    ``probe_hamming`` > 0 turns on MULTI-PROBE (Lv et al., VLDB'07):
    buckets whose signature differs from the query's in at most that
    many bits are scanned too — the buckets a near neighbor most likely
    fell into when one hyperplane split the pair. Candidate volume grows
    by C(bits, ≤h) buckets of the 2^bits total (h=1 → 9/256 here), the
    cheap recall lever that needs no index change at all: the probe set
    is still a literal IN-list on the same bucket key, so plan shape,
    partition pruning on an ingest-bucketed table, and the broadcast all
    survive unchanged.

    ``probe_t`` > 0 upgrades to QUERY-DIRECTED probing (the paper's
    ranked perturbation sets): the ``probe_t`` extra buckets are chosen
    by the query's own plane margins instead of blanket hamming radius,
    because flipping two near-zero margins beats flipping one confident
    plane. Measured on the sf0.1 hard corpus (recall@10, 8-bit planes):
    at the hamming-2 budget (37 of 256 buckets) query-directed 0.38 vs
    blanket 0.33; at probe_t=64 (25% scan) 0.57 — the documented
    mid-tier between single-probe screening (0.14 at 0.4% scan) and
    IVF spill-assign (0.92 at ~50%). Small budgets (≤ bits) degenerate
    to the single-bit flips, identical to hamming-1 by construction.
    Needs the query's margin values, so the (single-row) query collects
    driver-side — the same bounded round-trip ivf_topk_fixed makes for
    its query vector. Mutually exclusive with ``probe_hamming``.
    """
    from itertools import combinations

    if probe_hamming and probe_t:
        raise ValueError("pass probe_hamming OR probe_t, not both")
    corpus = df.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("_v"), sign_bucket(F.col(vec_col), bits).alias("_bkt")
    ).withColumn("_n", norm(F.col("_v")))
    query = query_df.select(
        as_double(F.col(vec_col)).alias("_q"), sign_bucket(F.col(vec_col), bits).alias("_qbkt")
    ).withColumn("_qn", norm(F.col("_q")))
    masks: list[int] = []
    if probe_t > 0:
        qrow = query_df.select(as_double(F.col(vec_col)).alias("_q")).first()
        margins = [float(v) for v in qrow["_q"][:bits]]
        masks = _probe_masks_query_directed(margins, probe_t)
    elif probe_hamming > 0:
        for r in range(1, probe_hamming + 1):
            for flip in combinations(range(bits), r):
                m = 0
                for f in flip:
                    m |= 1 << f
                masks.append(m)
    if masks:
        # expand the query side to its probe set: one row per probed
        # bucket, so the equi-join (and its broadcast) works unchanged
        query = query.withColumn(
            "_qbkt",
            F.explode(
                F.array(*[F.col("_qbkt").bitwiseXOR(F.lit(m)) for m in [0, *masks]])
            ),
        )
    cos = _safe_cosine(dot(F.col("_v"), F.col("_q")), F.col("_n") * F.col("_qn"))
    return (
        corpus.join(F.broadcast(query), F.col("_bkt") == F.col("_qbkt"))
        .select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def vector_mean_by(
    df: DataFrame,
    group_col: str,
    vec_col: str,
    dim: int,
) -> DataFrame:
    """Element-wise mean vector per group — the distributed k-means
    UPDATE step (assignment being a nearest-centroid argmax), and the general
    "centroid per label" aggregation an embedding pipeline needs.

    posexplode → (group, position) grouped aggregation: one shuffle
    whose width is |groups| × dim rows (independent of corpus size),
    with map-side partial sums. Sums go through DECIMAL so the result is
    order-independent and reproducible across engines; output is long
    format (group, pos, mean) — pivot back to arrays with
    ``collect_list over sorted pos`` when an array column is needed.
    """
    from .dedup import spread

    exploded = spread(df).select(
        F.col(group_col), F.posexplode(as_double(F.col(vec_col))).alias("pos", "x")
    )
    return (
        exploded.where(F.col("pos") < dim)
        .groupBy(group_col, "pos")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(30,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean")
        )
    )


# ------------------------------------------------- embedding quantization

QUANT_BITS = 8  # int8 codes: 4x storage cut on float32 embeddings


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = QUANT_BITS,
) -> DataFrame:
    """Per-vector affine quantization: each embedding is rescaled into
    ``2^bits`` integer levels with its own (zero_point, scale) — the
    storage form a 100 TB vector corpus keeps (int8 + 2 doubles per
    row ≈ 4× smaller than float32; dequantized value =
    ``zero_point + code·scale``, max error ``scale/2``).

    Map-only column expressions (no UDF, no shuffle); rounding is
    ``floor(x + 0.5)`` — identical half-up semantics in any engine, so
    codes are bit-reproducible cross-engine (the DuckDB oracle twin
    proves it). Output one row per (vector, position): ``(id, pos,
    code, zero_point, scale)`` — the explode is for the verification
    gate; storage keeps the array form.
    """
    levels = (1 << bits) - 1
    # mn/scale materialize as COLUMNS before the per-element transform:
    # HOF lambdas are interpreted and do not hoist invariant
    # subexpressions, so embedding array_min/array_max inside the lambda
    # would rescan the d-element array for every element — O(d²)/row
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    staged = df.select(
        F.col(id_col), v.alias("_v"), F.array_min(v).alias("_mn"),
        F.array_max(v).alias("_mx"),
    ).select(
        id_col,
        "_v",
        "_mn",
        F.when(
            F.col("_mx") - F.col("_mn") > 0,
            (F.col("_mx") - F.col("_mn")) / F.lit(float(levels)),
        )
        .otherwise(F.lit(1.0))
        .alias("_scale"),
    )
    codes = F.transform(
        F.col("_v"),
        lambda x: F.floor((x - F.col("_mn")) / F.col("_scale") + F.lit(0.5)).cast(
            "int"
        ),
    )
    return staged.select(
        F.col(id_col),
        F.posexplode(codes).alias("pos", "code"),
        F.col("_mn").alias("zero_point"),
        F.col("_scale").alias("scale"),
    ).select(
        id_col, F.col("pos").cast("long").alias("pos"), "code",
        "zero_point", "scale",
    )


def dequantize_embeddings(
    quant: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Rebuild ``(id, embedding array<double>)`` from quantized rows —
    the read path of the 4×-smaller storage form."""
    return (
        quant.withColumn(
            "_x", F.col("zero_point") + F.col("code") * F.col("scale")
        )
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("_x")))
            ).alias("_px")
        )
        .select(
            id_col,
            F.transform(F.col("_px"), lambda s: s.getField("_x")).alias(
                "embedding"
            ),
        )
    )


# ------------------------------------------- product quantization (#87)

def _seq_fold_sqdist(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Squared-L2 matrix (len(V) × len(C)) with LEFT-TO-RIGHT fold order
    — the PQ twin of :func:`_seq_fold_cosines`: each step accumulates
    one dimension's ``(v-c)²`` so the DuckDB oracle's explicit term
    chain reproduces every double bit-for-bit."""
    n, m = len(V), len(C)
    d2 = np.zeros((n, m), dtype=np.float64)
    for i in range(V.shape[1]):
        diff = V[:, i, None] - C[None, :, i]
        d2 += diff * diff
    return d2


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: np.ndarray,
) -> DataFrame:
    """Encode vectors to product-quantization codes (Jégou et al. 2011,
    "Product Quantization for Nearest Neighbor Search", IEEE TPAMI).

    ``codebooks``: (M, K, dim/M) — per-subspace centroid tables (the
    trained model; the gate derives them from the first K table rows).
    Each vector splits into M sub-vectors; each sub-vector stores only
    the index of its nearest codebook entry (argmin squared L2, ties to
    the lowest index): M small ints instead of ``dim`` floats — at
    M=8, K=256 that is 8 bytes/vector vs 256 for float32 d=64, the
    32× compression a 100 TB ANN corpus runs on. Map-only Arrow pass.
    """
    M, K, sub = codebooks.shape
    cb = np.ascontiguousarray(codebooks, dtype=np.float64)

    @F.pandas_udf(ArrayType(IntegerType()))
    def encode(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        codes = np.empty((len(V), M), dtype=np.int32)
        for j in range(M):
            d2 = _seq_fold_sqdist(V[:, j * sub : (j + 1) * sub], cb[j])
            codes[:, j] = np.argmin(d2, axis=1)  # first min = lowest idx
        return pd.Series([c.tolist() for c in codes])

    return df.select(F.col(id_col), encode(F.col(vec_col)).alias("pq_codes"))


def pq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: np.ndarray,
    query_vec,
    k: int,
    rerank: int = 0,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes.

    The query stays UNquantized: per subspace a K-entry lookup table of
    exact query↔centroid squared distances is built once on the driver
    (M·K doubles — the model scale, not the data scale) and closed over
    by a map-only Arrow pass that sums ``lut[j][code_j]`` per vector.
    No shuffle until the final top-k reduce; at scale this composes
    with IVF partition pruning (#73) — probe cells first, ADC-score
    only the survivors.

    ``rerank > 0`` runs the standard two-stage pipeline: ADC shortlists
    ``rerank`` candidates (quantization error included), then only the
    shortlist is re-scored with EXACT squared L2 against the stored
    vectors — an O(rerank) second pass (isin pushdown on the id column,
    partition-prunable) that recovers most of the recall the 8-byte
    codes gave up. The gate pins the rerank=0 form; the recall test
    pins the quality of this one.
    """
    M, K, sub = codebooks.shape
    cb = np.ascontiguousarray(codebooks, dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    lut = np.stack(
        [_seq_fold_sqdist(q[j * sub : (j + 1) * sub][None, :], cb[j])[0] for j in range(M)]
    )

    @F.pandas_udf(DoubleType())
    def adist(codes: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype=np.float64)
        cm = np.array([np.asarray(c, dtype=np.int64) for c in codes])
        acc = np.zeros(len(cm), dtype=np.float64)
        for j in range(M):  # left-to-right over subspaces, same as SQL
            acc += lut[j][cm[:, j]]
        return pd.Series(acc)

    encoded = pq_encode(df, id_col, vec_col, codebooks)
    shortlist = (
        encoded.select(F.col(id_col), adist(F.col("pq_codes")).alias("adist"))
        .orderBy(F.col("adist").asc(), F.col(id_col))
        .limit(max(k, rerank))
    )
    if rerank <= 0:
        return shortlist

    ids = [r[id_col] for r in shortlist.select(id_col).collect()]

    @F.pandas_udf(DoubleType())
    def exact_d2(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=np.float64)
        V = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        return pd.Series(_seq_fold_sqdist(V, q[None, :])[:, 0])

    return (
        df.where(F.col(id_col).isin(ids))
        .select(F.col(id_col), exact_d2(F.col(vec_col)).alias("adist"))
        .orderBy(F.col("adist").asc(), F.col(id_col))
        .limit(k)
    )


# ------------------------------------------ hard-negative mining (#99)

def hard_negatives(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    anchors_df: DataFrame,
    k: int,
) -> DataFrame:
    """Per-anchor top-k most-similar rows with a DIFFERENT label.

    The metric-learning data op (hard negatives make contrastive /
    triplet training converge — the standard mining recipe, e.g.
    Schroff et al. 2015 FaceNet): for each anchor, the corpus rows that
    look most like it but carry another label. ``anchors_df`` must have
    columns (anchor_id, anchor_label, anchor_vec) — a query batch,
    bounded by construction, so it broadcasts (the decontaminate /
    batch-ANN policy) and the corpus side stays a map-only scan;
    the only shuffle is the per-anchor top-k window, keyed on the
    bounded anchor id. At 100 TB swap the exact scan for the
    LSH/IVF-bucketed candidate join exactly as batch ANN does — the
    ranking window is unchanged.

    Same-label rows (including the anchor itself) are excluded by
    definition. Ties break to the lowest id; zero-norm vectors score
    0.0 (the _safe_cosine guard).
    """
    from pyspark.sql import Window

    from .dedup import spread

    base = (
        spread(df)
        .select(
            F.col(id_col),
            F.col(label_col).alias("_lbl"),
            as_double(F.col(vec_col)).alias("_v"),
        )
        .withColumn("_n", norm(F.col("_v")))
    )
    anchors = F.broadcast(
        anchors_df.select(
            F.col("anchor_id"),
            F.col("anchor_label"),
            as_double(F.col("anchor_vec")).alias("_av"),
        ).withColumn("_an", norm(F.col("_av")))
    )
    cos = _safe_cosine(dot(F.col("_av"), F.col("_v")), F.col("_an") * F.col("_n"))
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("neg_id")
    )
    return (
        base.crossJoin(anchors)
        .where(F.col("_lbl") != F.col("anchor_label"))
        .select(
            F.col("anchor_id"),
            F.col(id_col).alias("neg_id"),
            cos.alias("cosine"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )


# ------------------- MMR diverse top-k selection (#174)

MMR_LAMBDA = 0.7
MMR_POOL = 50


def mmr_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    k: int,
    pool: int = MMR_POOL,
    lam: float = MMR_LAMBDA,
) -> DataFrame:
    """Maximal Marginal Relevance diverse top-k (#174).

    Carbonell & Goldstein 1998 (public algorithm): greedily pick the
    candidate maximizing ``λ·rel(q,d) − (1−λ)·max_{s∈selected}
    sim(d,s)`` — the de-duplicated retrieval a RAG or hard-negative
    pipeline wants when the plain top-k is k near-copies of one hit.

    Split like a k-means fit on a driver sample: the O(corpus) part —
    scoring every vector against the query — is the distributed
    brute-force :func:`cosine_topk`, thinned to a BOUNDED ``pool``
    (top-``pool`` by relevance; an item outside the relevance pool
    can't enter an MMR top-k for any λ ≥ 0.5, and smaller λ is a
    diversity-first regime where the pool is an explicit contract).
    The greedy selection is O(pool²) on the driver in float64 numpy —
    bounded rows, deterministic arithmetic, ties to the smaller id.

    Returns (rank, id, relevance, max_sim_selected, mmr_score); rows
    are fully deterministic (the pool comes from the hash-gated
    sequential-fold cosine, numpy is order-fixed), so the rows-only
    driver gate holds.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    # The id column keeps its NATIVE type end-to-end (round-13 ADVICE):
    # the return schema is derived from df.schema[id_col], so string or
    # decimal ids work and the empty and non-empty paths always agree.
    id_field = df.schema[id_col]
    out_schema = StructType(
        [
            StructField("rank", IntegerType(), False),
            StructField(id_col, id_field.dataType, id_field.nullable),
            StructField("relevance", DoubleType(), False),
            StructField("max_sim_selected", DoubleType(), False),
            StructField("mmr_score", DoubleType(), False),
        ]
    )

    cands = (
        cosine_topk(df, id_col, vec_col, query_df, pool)
        .join(df.select(F.col(id_col), F.col(vec_col)), id_col)
        .select(id_col, "cosine", as_double(F.col(vec_col)).alias("_v"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
    )
    rows = cands.collect()
    if not rows:
        spark = df.sparkSession
        return spark.createDataFrame([], out_schema)
    ids = [r[id_col] for r in rows]
    rel = np.array([r["cosine"] for r in rows], dtype=np.float64)
    V = np.array([r["_v"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(V, axis=1)
    den = np.outer(norms, norms)
    sims = (V @ V.T) / np.where(den == 0, 1.0, den)
    selected: list[int] = []
    out = []
    avail = np.ones(len(ids), dtype=bool)
    for rank in range(1, min(k, len(ids)) + 1):
        if selected:
            max_sim = sims[:, selected].max(axis=1)
        else:
            max_sim = np.zeros(len(ids))
        score = lam * rel - (1.0 - lam) * max_sim
        score_masked = np.where(avail, score, -np.inf)
        # argmax with smaller-id tie-break: stable lexicographic pick
        best = min(
            (i for i in range(len(ids)) if avail[i]),
            key=lambda i: (-score_masked[i], ids[i]),
        )
        out.append(
            (
                rank,
                ids[best],
                float(rel[best]),
                float(max_sim[best]),
                float(score_masked[best]),
            )
        )
        selected.append(best)
        avail[best] = False
    spark = df.sparkSession
    return spark.createDataFrame(
        pd.DataFrame(
            out,
            columns=["rank", id_col, "relevance", "max_sim_selected", "mmr_score"],
        ),
        schema=out_schema,
    )


# ------------------- IVF × PQ-ADC × exact rerank (#179)


# ------------- residual-encoded IVFPQ (#182): the textbook variant

