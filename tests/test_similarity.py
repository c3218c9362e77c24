"""Vector similarity semantics on hand-built vectors."""

import math

from pyspark.sql import functions as F

from aws_big_data_blog_dmscdc_walkthrough_spark.operators import similarity

VECS = [
    (0, [1.0, 0.0, 0.0, 0.0], 0),
    (1, [1.0, 0.0, 0.0, 0.0], 0),   # identical to query
    (2, [0.9, 0.1, 0.0, 0.0], 0),   # close
    (3, [0.0, 1.0, 0.0, 0.0], 0),   # orthogonal
    (4, [-1.0, 0.0, 0.0, 0.0], 1),  # opposite, other label
]


def _embs(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>, label int")


def test_cosine_topk_order(spark):
    embs = _embs(spark)
    q = embs.where("vec_id = 0").select("embedding")
    out = similarity.cosine_topk(embs, "vec_id", "embedding", q, 3).collect()
    assert [r.vec_id for r in out] == [0, 1, 2]
    assert out[0].cosine == 1.0 and out[1].cosine == 1.0
    assert math.isclose(out[2].cosine, 0.9 / math.sqrt(0.82), rel_tol=1e-6)


def test_cosine_pairs_threshold_and_blocking(spark):
    pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in similarity.cosine_pairs(_embs(spark), "vec_id", "embedding", ["label"], 0.9).collect()
    }
    assert (0, 1) in pairs
    assert (0, 3) not in pairs  # orthogonal: below threshold
    assert (0, 4) not in pairs  # different label block


def test_lsh_topk_same_bucket(spark):
    embs = _embs(spark)
    q = embs.where("vec_id = 0").select("embedding")
    out = similarity.lsh_topk(embs, "vec_id", "embedding", q, 5, bits=4).collect()
    ids = [r.vec_id for r in out]
    assert 0 in ids and 1 in ids
    assert 4 not in ids  # sign bit differs → other bucket


def test_batch_lsh_topk_shape_and_self_match(spark):
    from pyspark.sql import functions as F

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import similarity
    from aws_big_data_blog_dmscdc_walkthrough_spark.session import load_table
    from tests.conftest import SF_SMOKE

    embs = load_table(spark, SF_SMOKE, "embeddings")
    queries = embs.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.batch_lsh_topk(
        embs, queries, "vec_id", "query_id", "embedding", 3
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for qid, rows in by_q.items():
        assert len(rows) <= 3
        # a query vector is its own nearest neighbor (cosine 1)
        best = max(rows, key=lambda r: r.cosine)
        assert best.vec_id == qid and abs(best.cosine - 1.0) < 1e-9


def test_batch_lsh_topk_is_equi_join(spark):
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import similarity
    from aws_big_data_blog_dmscdc_walkthrough_spark.session import load_table
    from tests.conftest import SF_SMOKE

    embs = load_table(spark, SF_SMOKE, "embeddings")
    queries = embs.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        similarity.batch_lsh_topk(
            embs, queries, "vec_id", "query_id", "embedding", 3
        ).explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_ivf_fixed_matches_brute_force_at_full_probe(spark):
    from pyspark.sql import functions as F

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import similarity
    from aws_big_data_blog_dmscdc_walkthrough_spark.functions.vectors import as_double
    from aws_big_data_blog_dmscdc_walkthrough_spark.session import load_table
    from tests.conftest import SF_SMOKE

    embs = load_table(spark, SF_SMOKE, "embeddings")
    query = embs.where(F.col("vec_id") == 0).select("embedding")
    cents = [
        (r["vec_id"], r["cv"])
        for r in embs.where(F.col("vec_id") < 4)
        .select("vec_id", as_double(F.col("embedding")).alias("cv"))
        .collect()
    ]
    # nprobe == n_centroids -> no pruning -> identical to brute force
    ivf = similarity.ivf_topk_fixed(
        embs, "vec_id", "embedding", cents, query, 10, nprobe=4
    ).collect()
    brute = similarity.cosine_topk(embs, "vec_id", "embedding", query, 10).collect()
    assert [(r.vec_id, r.cosine) for r in ivf] == [
        (r.vec_id, r.cosine) for r in brute
    ]


def test_quantize_dequantize_roundtrip_error_bound(spark):
    """Dequantized embeddings must be within scale/2 per element and
    keep cosine similarity with the original ~1."""
    import math

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    orig = {r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()}
    quant = sim.quantize_embeddings(emb)
    scales = {r.vec_id: r.scale for r in quant.select("vec_id", "scale").distinct().collect()}
    deq = {r.vec_id: list(r.embedding) for r in sim.dequantize_embeddings(quant).collect()}
    assert set(deq) == set(orig)
    for vid, v in orig.items():
        d = deq[vid]
        assert len(d) == len(v)
        tol = scales[vid] / 2 + 1e-9
        assert all(abs(a - b) <= tol for a, b in zip(v, d))
        dot = sum(a * b for a, b in zip(v, d))
        na = math.sqrt(sum(a * a for a in v))
        nb = math.sqrt(sum(b * b for b in d))
        assert dot / (na * nb) > 0.995


def test_pq_encode_roundtrip_properties(spark):
    """PQ code properties: shape M, every code in [0, K); identical vectors
    get identical codes; a vector equal to a codebook row encodes to
    that row's index in every subspace."""
    import numpy as np

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import similarity as sim

    rng = np.random.default_rng(3)
    M, K, sub = 4, 8, 4
    cb = rng.normal(size=(M, K, sub))
    # vector stitched from codebook entry 5 of every subspace
    stitched = np.concatenate([cb[j][5] for j in range(M)])
    vecs = [rng.normal(size=M * sub).tolist() for _ in range(6)]
    rows = [(0, stitched.tolist()), (1, vecs[0]), (2, vecs[0])] + [
        (3 + i, v) for i, v in enumerate(vecs[1:])
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r.pq_codes for r in sim.pq_encode(df, "vec_id", "embedding", cb).collect()}
    assert all(len(c) == M and all(0 <= x < K for x in c) for c in out.values())
    assert out[0] == [5] * M
    assert out[1] == out[2]


def test_pq_rerank_matches_exact_on_small_corpus(spark):
    """With rerank >= corpus size, PQ top-k IS the exact L2 top-k."""
    import numpy as np

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import similarity as sim

    rng = np.random.default_rng(11)
    X = rng.normal(size=(40, 16))
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(40)], "vec_id long, embedding array<double>"
    )
    cb = rng.normal(size=(4, 4, 4))
    q = X[7]
    got = [r.vec_id for r in sim.pq_topk(df, "vec_id", "embedding", cb, q, 5, rerank=40).collect()]
    d2 = ((X - q) ** 2).sum(axis=1)
    ids = np.arange(40)
    expect = ids[np.lexsort((ids, d2))][:5].tolist()
    assert got == expect


def test_semantic_dedup_drops_exact_duplicate_vectors(spark):
    """Two identical vectors must land in one cluster and the later id
    must be dropped; a far-away vector survives."""
    import numpy as np

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import similarity as sim

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (5, [1.0, 0.0, 0.0, 0.0]),   # dup of 0
        (9, [0.0, -1.0, 0.0, 0.0]),  # anti-aligned: survives any cluster
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "cid int, cv array<double>",
    )
    out = {r.vec_id: r for r in sim.semantic_dedup(df, "vec_id", "embedding", cents, 0.99).collect()}
    assert out[0].keep is True and out[5].keep is False
    assert out[0].cid == out[5].cid == 0
    assert out[1].keep is True and out[9].keep is True


def test_hard_negatives_excludes_same_label_and_ranks(spark):
    from pyspark.sql import functions as F

    # two labels; anchor 0 (label 0) must surface only label-1 rows,
    # nearest first
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.99, 0.14], 0),   # same label: excluded even though closest
        (2, [0.9, 0.44], 1),
        (3, [0.0, 1.0], 1),
        (4, [-1.0, 0.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    anchors = df.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("anchor_vec"),
    )
    out = similarity.hard_negatives(df, "vec_id", "embedding", "label", anchors, 2)
    got = [(r.neg_id, r.rn) for r in out.orderBy("rn").collect()]
    assert got == [(2, 1), (3, 2)]  # label-0 neighbor never appears


def test_knn_propagate_matches_exact_votes_and_coverage(spark):
    """Corpus-scale propagation (banded sign-LSH candidates + the exact
    operator's vote stage) against a numpy exact-KNN reference on
    sf0.001: full coverage and a pinned prediction-agreement floor.
    Everything here is deterministic (fixed planes, fixed data), so the
    floor is a regression pin, not a statistical bound."""
    import numpy as np
    from pyspark.sql import functions as F

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators.similarity import (
        knn_propagate,
    )
    from aws_big_data_blog_dmscdc_walkthrough_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    pdf = emb.toPandas()
    X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    labels = pdf["label"].to_numpy()
    um = ids % 5 == 0
    L, Lid, Ll = X[~um], ids[~um], labels[~um]
    U, Uid = X[um], ids[um]
    cos = (U @ L.T) / np.outer(
        np.sqrt((U * U).sum(1)), np.sqrt((L * L).sum(1))
    )
    exact = {}
    for i, uid in enumerate(Uid):
        order = sorted(range(len(Lid)), key=lambda j: (-cos[i, j], Lid[j]))[:5]
        votes: dict[int, int] = {}
        for j in order:
            votes[Ll[j]] = votes.get(Ll[j], 0) + 1
        exact[uid] = sorted(votes.items(), key=lambda t: (-t[1], t[0]))[0][0]

    got = {
        r.vec_id: r.label_pred
        for r in knn_propagate(
            emb.where(F.col("vec_id") % 5 != 0),
            emb.where(F.col("vec_id") % 5 == 0),
            "vec_id", "embedding", "label",
            k=5, bits=4, bands=8,
        ).collect()
    }
    assert len(got) == len(exact)  # every unlabeled row got a label
    agreement = sum(1 for u, lbl in got.items() if exact[u] == lbl) / len(got)
    assert agreement >= 0.5, agreement  # measured 0.56 on this data


def test_knn_propagate_guards_band_overflow(spark):
    import pytest
    from pyspark.sql import functions as F

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators.similarity import (
        knn_propagate,
    )
    from aws_big_data_blog_dmscdc_walkthrough_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    with pytest.raises(ValueError, match="exceeds the embedding dim"):
        knn_propagate(
            emb.where(F.col("vec_id") % 5 != 0),
            emb.where(F.col("vec_id") % 5 == 0),
            "vec_id", "embedding", "label",
            bits=32, bands=4,  # 128 > 64 dims
        )

def test_knn_propagate_empty_labeled_raises_clear_error(spark):
    """Round-9 advice: bits=None on an EMPTY labeled frame used to drive
    dim→0, bits→0, and band_bucket then produced a bare Python 0 that
    blew up inside F.array as an opaque plan-time TypeError. Must raise
    a descriptive ValueError instead."""
    import pytest
    from pyspark.sql import functions as F

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators.similarity import (
        knn_propagate,
    )
    from aws_big_data_blog_dmscdc_walkthrough_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    with pytest.raises(ValueError, match="empty labeled input"):
        knn_propagate(
            emb.limit(0), emb.limit(10), "vec_id", "embedding", "label"
        )
    # narrow vectors: dim // bands == 0 -> clear error, not F.array TypeError
    narrow = emb.limit(5).select(
        "vec_id", F.slice("embedding", 1, 1).alias("embedding"), "label"
    )
    with pytest.raises(ValueError, match="too narrow"):
        knn_propagate(
            narrow, emb.limit(10), "vec_id", "embedding", "label", bands=2
        )


def test_mmr_hand_computed_diversity(spark):
    """Unit vectors at 10/15/60 degrees off the query. Plain top-2 is
    (a, b); at lam=0.3, b's 5-degree closeness to a (sim cos5 ~ .996)
    outweighs its relevance edge and c (60 deg, diverse) is picked:
    score_b = .3*cos15 - .7*cos5 = -.408 < score_c = .3*cos60 -
    .7*cos50 = -.300."""
    import math

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import similarity

    def at(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    rows = [(1, at(10), 0), (2, at(15), 0), (3, at(60), 0)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = spark.createDataFrame(
        [(99, at(0), 0)], "vec_id long, embedding array<float>, label int"
    )
    got = similarity.mmr_topk(df, "vec_id", "embedding", q, k=2, pool=3, lam=0.3)
    picks = [(r.rank, r.vec_id) for r in got.collect()]
    assert picks == [(1, 1), (2, 3)]


def test_mmr_string_ids_keep_native_type(spark):
    """Round-13 ADVICE: the id column's native type must survive —
    string ids used to crash on int() coercion and the empty path
    disagreed with the non-empty one. Both paths now derive the schema
    from df.schema[id_col]."""
    import math

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import similarity

    def at(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    rows = [("doc-a", at(10)), ("doc-b", at(15)), ("doc-c", at(60))]
    df = spark.createDataFrame(rows, "doc string, embedding array<float>")
    q = spark.createDataFrame([("q", at(0))], "doc string, embedding array<float>")
    got = similarity.mmr_topk(df, "doc", "embedding", q, k=2, pool=3, lam=0.3)
    assert dict(got.dtypes)["doc"] == "string"
    assert [(r.rank, r.doc) for r in got.collect()] == [
        (1, "doc-a"),
        (2, "doc-c"),
    ]
    empty = similarity.mmr_topk(
        df.where("doc = 'nope'"), "doc", "embedding", q, k=2, pool=3
    )
    assert empty.schema == got.schema and empty.count() == 0


def test_mmr_lambda_one_is_plain_topk(spark):
    """lam=1.0 disables the diversity term: MMR must equal the
    brute-force relevance top-k, same order."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import similarity
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans.llm_queries import (
        ANN_K,
        _query_vec,
    )
    from aws_big_data_blog_dmscdc_walkthrough_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    embs = load_table(spark, sf, "embeddings")
    plain = [
        r.vec_id
        for r in similarity.cosine_topk(
            embs, "vec_id", "embedding", _query_vec(spark, sf), ANN_K
        ).collect()
    ]
    mmr = [
        r.vec_id
        for r in similarity.mmr_topk(
            embs, "vec_id", "embedding", _query_vec(spark, sf), ANN_K, lam=1.0
        ).collect()
    ]
    assert mmr == plain


def test_mmr_deterministic_and_selected_sims_monotone(spark):
    """Repeat runs produce identical rows (rows-only gate contract),
    the first pick is the relevance top-1, picks are unique, and every
    later pick's max_sim_selected is a real similarity in [-1, 1]."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import llm_queries

    sf = "/root/testdata/sf0.001"
    a = [tuple(r) for r in llm_queries.ann_mmr_topk(spark, sf).collect()]
    b = [tuple(r) for r in llm_queries.ann_mmr_topk(spark, sf).collect()]
    assert a == b and len(a) == llm_queries.ANN_K
    ids = [r[1] for r in a]
    assert len(set(ids)) == len(ids)
    assert a[0][3] == 0.0  # first pick has no selected set
    assert all(-1.0 - 1e-12 <= r[3] <= 1.0 + 1e-12 for r in a[1:])
    rel = [r[2] for r in a]
    assert rel[0] == max(rel)


def test_knn_propagate_local_and_distributed_paths_agree(spark, distributed):
    """The driver-side local solve (small-scan gate) and the distributed
    banded-join plan emit identical rows — including the bit-sensitive
    cosine-rank boundaries (the local fold reproduces the JVM left
    fold's IEEE rounding one dimension at a time)."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    from pyspark.sql import functions as F

    unl = emb.where(F.col("vec_id") % 5 == 0)
    lab = emb.where(F.col("vec_id") % 5 != 0)

    def run():
        return sorted(
            tuple(r)
            for r in S.knn_propagate(
                lab, unl, "vec_id", "embedding", "label", k=5, bands=4, dim=64
            ).collect()
        )

    local = run()  # small scan -> local solve
    with distributed():  # force the distributed plan
        dist = run()
    assert local and local == dist
