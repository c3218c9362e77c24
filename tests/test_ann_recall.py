"""Measured ANN quality: recall@10 of the approximate operators against
exact brute-force truth on the sf0.1 embeddings (64-d, weakly clustered
— a deliberately hard case; real embedding corpora cluster better).

The gates pin ivf_topk_fixed/lsh_topk/pq_topk outputs exactly; these
tests pin the QUALITY of the sign-LSH and PQ-ADC paths, plus their
recall levers (multi-probe LSH, exact rerank), as measured floors so a
regression in probing or scoring fails loudly.
"""

import numpy as np
import pytest

from aws_big_data_blog_dmscdc_walkthrough_spark.operators import similarity as sim

SF_DIR = "/root/testdata/sf0.1"
K = 10
QUERY_IDS = [7, 123, 456, 789, 1011, 1313]


@pytest.fixture(scope="module")
def corpus(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pdf = emb.toPandas()
    X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    return emb, Xn, ids


def _truth(Xn, ids, qpos):
    order = np.argsort(-(Xn @ Xn[qpos]))[:K]
    return set(ids[order])


def _recall(spark, emb, Xn, ids, run):
    recs = []
    for qid in QUERY_IDS:
        qpos = int(np.where(ids == qid)[0][0])
        qdf = emb.where(emb.vec_id == qid)
        got = {r.vec_id for r in run(qdf).collect()}
        recs.append(len(got & _truth(Xn, ids, qpos)) / K)
    return float(np.mean(recs))


def test_lsh_multiprobe_improves_recall(spark, corpus):
    emb, Xn, ids = corpus
    single = _recall(
        spark, emb, Xn, ids,
        lambda q: sim.lsh_topk(emb, "vec_id", "embedding", q, K),
    )
    multi = _recall(
        spark, emb, Xn, ids,
        lambda q: sim.lsh_topk(emb, "vec_id", "embedding", q, K, probe_hamming=1),
    )
    # sign-LSH on weakly clustered data is the honest hard case: single
    # probe ≈ 0.14 measured; hamming-1 probing must strictly improve it
    assert multi > single
    assert multi >= 0.15, f"multi-probe LSH recall {multi}"


@pytest.mark.slow
def test_lsh_query_directed_probing_beats_blanket_and_reaches_midtier(
    spark, corpus
):
    """Query-directed probing (Lv et al. ranked perturbation sets):
    at the SAME 37-bucket budget it must beat blanket hamming-2, and at
    probe_t=64 (65/256 buckets ≈ 25% scan) it must clear the documented
    mid-tier floor. Measured round 8: 0.38 vs 0.33 at equal budget,
    0.57 at probe_t=64 (floors leave noise room)."""
    emb, Xn, ids = corpus
    blanket = _recall(
        spark, emb, Xn, ids,
        lambda q: sim.lsh_topk(emb, "vec_id", "embedding", q, K, probe_hamming=2),
    )
    directed = _recall(
        spark, emb, Xn, ids,
        lambda q: sim.lsh_topk(emb, "vec_id", "embedding", q, K, probe_t=36),
    )
    assert directed > blanket, (directed, blanket)
    midtier = _recall(
        spark, emb, Xn, ids,
        lambda q: sim.lsh_topk(emb, "vec_id", "embedding", q, K, probe_t=64),
    )
    assert midtier >= 0.5, f"query-directed probe_t=64 recall {midtier}"


def _fit_codebooks(sample, m, k, iters=8, seed=42):
    """PQ codebooks by seeded per-subspace k-means (Lloyd) in numpy."""
    sub = sample.shape[1] // m
    rng = np.random.default_rng(seed)
    books = []
    for j in range(m):
        S = sample[:, j * sub : (j + 1) * sub]
        cents = S[rng.choice(len(S), size=k, replace=False)].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(k):
                members = S[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append(cents)
    return np.stack(books)


@pytest.mark.slow
def test_pq_adc_recall_and_rerank_floor(spark, corpus):
    """PQ (#87) quality on the same hard corpus, against exact
    squared-L2 truth (PQ's own metric): trained m=8/k=256 codebooks
    ADC-only sit near 0.48 here (8-byte codes, weak clusters); the
    standard ADC-shortlist -> exact-rerank pipeline recovers ≥0.9.
    Deterministic (seeded fit, fixed queries): measured 0.48 / 0.93."""
    emb, Xn, ids = corpus
    pdf = emb.toPandas()
    X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    xids = pdf["vec_id"].to_numpy()
    cb = _fit_codebooks(X[:4096], m=8, k=256)

    def l2_truth(q):
        d2 = ((X - q) ** 2).sum(axis=1)
        return set(xids[np.lexsort((xids, d2))][:K].tolist())

    adc, rr = [], []
    for qid in QUERY_IDS:
        q = X[xids == qid][0]
        truth = l2_truth(q)
        got = {r.vec_id for r in sim.pq_topk(emb, "vec_id", "embedding", cb, q, K).collect()}
        adc.append(len(truth & got) / K)
        got2 = {
            r.vec_id
            for r in sim.pq_topk(emb, "vec_id", "embedding", cb, q, K, rerank=100).collect()
        }
        rr.append(len(truth & got2) / K)
    assert float(np.mean(adc)) >= 0.4, adc
    assert float(np.mean(rr)) >= 0.9, rr

