"""Text operator semantics: known-value fingerprints and counts."""

from pyspark.sql import functions as F

from aws_big_data_blog_dmscdc_walkthrough_spark.operators import text


def _poly_py(s: str) -> int:
    h = 0
    for ch in s:
        h = (h * text.POLY_MUL + ord(ch)) % text.POLY_MOD
    return h


def test_fingerprint_matches_python_reference(spark):
    s = "hello world 42!"
    df = spark.createDataFrame([(s,)], "text string")
    got = df.select(text.poly_fingerprint(F.col("text")).alias("fp")).collect()[0].fp
    assert got == _poly_py(s)


def test_fingerprint_pandas_matches_hof(spark):
    """Arrow hot path is bit-identical to the HOF fold, nulls stay null."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.functions import hashing

    rows = [
        (0, "hello world 42!"),
        (1, ""),
        (2, None),
        (3, "üñïçødé — naïve café ✓"),
        (4, "x" * 3000),
        (5, "tabs\tand\nnewlines  mixed"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = hashing.poly_hash_text_pandas(text.POLY_MUL, text.POLY_MOD)
    got = {
        r.doc_id: (r.hof, r.arrow)
        for r in df.select(
            "doc_id",
            text.poly_fingerprint(F.col("text")).alias("hof"),
            fp(F.col("text")).alias("arrow"),
        ).collect()
    }
    for doc_id, (hof, arrow) in got.items():
        assert hof == arrow, (doc_id, hof, arrow)
    assert got[2] == (None, None)
    for doc_id, s in rows:
        if s is not None:
            assert got[doc_id][1] == _poly_py(s), doc_id


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "one two  three"), (2, "a-b c")], "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            F.size(F.split(F.trim("text"), r"\s+")).alias("n_ws"),
            F.size(F.regexp_extract_all("text", F.lit(text.BPE_ISH_PATTERN), F.lit(0))).alias("n_bpe"),
        ).collect()
    }
    assert out[1].n_ws == 3
    assert out[2].n_ws == 2 and out[2].n_bpe == 4  # a, -, b, c


def test_sample_stratified_uniform_per_stratum(spark):
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import text as text_ops
    from tests.conftest import SF_CORRECT

    from aws_big_data_blog_dmscdc_walkthrough_spark.session import load_table

    full = load_table(spark, SF_CORRECT, "documents")
    sample = text_ops.sample_stratified(spark, SF_CORRECT)
    n_full, n_sample = full.count(), sample.count()
    # ~10% overall, and each source stratum within a loose band
    assert 0.05 * n_full < n_sample < 0.15 * n_full
    fr = {r["source"]: r["count"] for r in full.groupBy("source").count().collect()}
    sr = {r["source"]: r["count"] for r in sample.groupBy("source").count().collect()}
    for src, n in fr.items():
        if n >= 100:
            assert 0.03 * n < sr.get(src, 0) < 0.2 * n
    # deterministic across runs
    a = {r.doc_id for r in sample.collect()}
    b = {r.doc_id for r in text_ops.sample_stratified(spark, SF_CORRECT).collect()}
    assert a == b


def test_count_min_sketch_estimates_bound_exact_counts(spark):
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import text as text_ops
    from tests.conftest import SF_SMOKE

    sketch = text_ops.sketch_count_min(spark, SF_SMOKE).collect()
    # fixed size regardless of vocabulary
    assert len(sketch) <= text_ops.CMS_DEPTH * text_ops.CMS_WIDTH


def test_split_assignment_stable_under_corpus_growth(spark):
    """The split property a training pipeline depends on: a document's
    train/val/test assignment is a pure function of its id — growing
    the corpus (sf0.001 → sf0.01) must not move any shared document,
    and all three splits must be non-empty at the declared rates."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import text as text_ops

    def assignments(sf):
        df = spark.read.parquet(f"{sf}/documents.parquet").select(
            "doc_id", text_ops.split_column("doc_id").alias("split")
        )
        return {r.doc_id: r.split for r in df.collect()}

    small = assignments("/root/testdata/sf0.001")
    big = assignments("/root/testdata/sf0.01")
    shared = set(small) & set(big)
    assert shared  # the SF family nests doc ids
    assert all(small[d] == big[d] for d in shared)
    from collections import Counter

    frac = Counter(big.values())
    n = len(big)
    assert 0.02 < frac["val"] / n < 0.10 and 0.02 < frac["test"] / n < 0.10
    assert frac["train"] / n > 0.8


def test_pack_sequences_invariants(spark):
    """Packing layout invariants: offsets stay inside a sequence,
    consecutive docs within a source are contiguous in the token
    stream, and sequence ids start at 0 per source."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import text as text_ops

    rows = text_ops.corpus_pack_sequences(spark, "/root/testdata/sf0.001").collect()
    L = text_ops.SEQ_PACK_LEN
    by_source = {}
    for r in rows:
        assert 0 <= r.seq_offset < L
        by_source.setdefault(r.source, []).append(r)
    for docs in by_source.values():
        docs.sort(key=lambda r: r.doc_id)
        pos = 0
        for r in docs:
            assert r.seq_id == pos // L and r.seq_offset == pos % L
            pos += r.n_tokens


def test_pack_sequences_dominant_source_sharded(spark):
    """One source holding ~all docs must NOT serialize through one task:
    the cumsum window partitions by (source, _shard), not source alone,
    and the two-level composition matches the naive global cumsum."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import text as text_ops

    # 5000 docs in one dominant source (sparse, unordered doc_ids), a
    # couple of stragglers in a second source
    import random

    rng = random.Random(7)
    ids = rng.sample(range(1, 1_000_000), 5000)
    data = [(i, "web", 1 + i % 97) for i in ids] + [
        (2_000_001, "books", 40),
        (2_000_002, "books", 600),
    ]
    docs = spark.createDataFrame(data, "doc_id long, source string, n_tokens int")

    out = text_ops.pack_sequences(docs, seq_len=128, n_shards=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # every Window node that orders by doc_id must carry _shard in its
    # partition spec — the dominant source packs across 16 tasks
    import re

    win_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    cumsum_specs = [s for s in win_specs if "doc_id" in s]
    assert cumsum_specs and all("_shard" in s for s in cumsum_specs), plan

    # equality with the naive single-window reference
    got = {r.doc_id: (r.seq_id, r.seq_offset) for r in out.collect()}
    for source in ("web", "books"):
        pos = 0
        for doc_id, _, n_tok in sorted(d for d in data if d[1] == source):
            assert got[doc_id] == (pos // 128, pos % 128)
            pos += n_tok


def test_classifier_logits_explicit_weights(spark):
    """Supplied weight table: logit is the exact int sum of token-bucket
    weights; empty docs score bias-free 0 and keep."""
    import numpy as np

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators.text import (
        classifier_logits,
    )

    def bucket(tok: str) -> int:
        return _poly_py(tok) % 64

    w = np.zeros(64, dtype=np.int64)
    w[bucket("good")] = 10
    w[bucket("bad")] = -25
    df = spark.createDataFrame(
        [(0, "good good good"), (1, "bad good"), (2, ""), (3, "bad bad good")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in classifier_logits(df, "doc_id", "text", weights=w, n_buckets=64).collect()}
    assert (out[0].logit, out[0].keep) == (30, True)
    assert (out[1].logit, out[1].keep) == (-15, False)
    assert (out[2].logit, out[2].n_tok, out[2].keep) == (0, 0, True)
    assert (out[3].logit, out[3].keep) == (-40, False)


def test_token_surprisal_hand_checked(spark):
    # corpus: "a a a b" -> N=4; count(a)=3, count(b)=1
    # digits(4)=1, digits(3)=1, digits(1)=1 -> bucket(a)=0, bucket(b)=0
    # doc1 = "a a", doc2 = "a b"
    df = spark.createDataFrame(
        [(1, "a a"), (2, "a b")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in text.token_surprisal(df, "doc_id", "text").collect()}
    assert out[1].n_tok == 2 and out[1].sum_surprisal == 0
    assert out[2].n_tok == 2 and out[2].mean_surprisal == 0.0
    # rarer token in a bigger corpus gets a positive bucket:
    # 12 tokens total (digits=2), one 'z' (digits=1) -> bucket 1
    big = spark.createDataFrame(
        [(1, "w w w w w w w w w w w"), (2, "z")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in text.token_surprisal(big, "doc_id", "text").collect()}
    assert out[2].sum_surprisal == 1 and out[2].mean_surprisal == 1.0
    assert out[1].sum_surprisal == 0  # 11 'w' in 12: digits(12)-digits(11)=0


def test_token_surprisal_skips_empty_docs(spark):
    df = spark.createDataFrame(
        [(1, "x y"), (2, "   "), (3, "")], "doc_id long, text string"
    )
    out = text.token_surprisal(df, "doc_id", "text")
    assert [r.doc_id for r in out.collect()] == [1]


def test_temperature_mix_rates(spark):
    # small source kept whole (rate = 1e6 ppm); big source at
    # sqrt(t_min/t_s): t_small=4, t_big=16 -> rate 500000 ppm
    rows = [(i, "big", "t " * 4) for i in range(4)] + [
        (100, "small", "t t t t")
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = text.temperature_mix(df, "doc_id", "source", "text")
    rates = {r.source: r.rate_ppm for r in out.collect()}
    assert rates["small"] == text.MIX_RATE_DENOM
    assert rates["big"] == text.MIX_RATE_DENOM // 2
    # smallest source is kept in full
    keeps = {r.doc_id: r.keep for r in out.collect()}
    assert keeps[100] is True
    # deterministic: second run produces the identical keep set
    again = {r.doc_id: r.keep for r in text.temperature_mix(
        df, "doc_id", "source", "text").collect()}
    assert again == keeps


def test_temperature_mix_zero_token_source(spark):
    rows = [(1, "big", "t t t t"), (2, "emptysrc", "   ")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.source: r for r in text.temperature_mix(df, "doc_id", "source", "text").collect()}
    # zero-token source: kept whole, no NaN; 'big' is now the smallest
    # positive source so it is kept whole too
    assert out["emptysrc"].rate_ppm == text.MIX_RATE_DENOM
    assert out["big"].rate_ppm == text.MIX_RATE_DENOM


def test_bigram_surprisal_hand_computed(spark):
    """#119 semantics on a corpus small enough to verify by hand.

    Corpus bigrams: doc0 'a b a b c', doc1 'a b x'.
    Pairs: (a,b)x3, (b,a)x1, (b,c)x1, (b,x)x1.
    Context counts: a->3, b->3.
    digits: all counts are single-digit, so surprisal per position is
    digits(ctx)-digits(pair) = 0 everywhere except nothing — all zeros
    here; bump one pair over the 10 threshold to get a nonzero bucket.
    """
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import text as t

    rows = [(0, "a b a b c"), (1, "a b x")]
    # add 8 more 'a b' docs so count(a,b)=11 (2 digits) while count(b,*)
    # stays single-digit: ctx(a)=11 too -> bucket still 0 for (a,b);
    # ctx(b)=3, pair (b,a)=1 -> bucket 1-1=0. To force a nonzero bucket,
    # repeat 'y z' pairs so ctx(y)=12 but each (y, z_i) pair is rare.
    rows += [(10 + i, f"y z{i} y z{i} y z{i} y z{i} y z{i} y z{i}") for i in range(2)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in t.bigram_surprisal(docs, "doc_id", "text").collect()}
    # doc0: 4 bigrams (a,b),(b,a),(a,b),(b,c); doc1: 2 bigrams
    assert out[0].n_bigrams == 4
    assert out[1].n_bigrams == 2
    # docs 10,11: 11 bigrams each; ctx(y) = 12 occurrences as prev
    # (6 per doc x 2 docs), ctx(z_i) = 5 per doc; pair (y,z_i) = 6,
    # (z_i,y) = 5 -> buckets digits(12)-digits(6) = 1 for y->z_i,
    # digits(5)-digits(5) = 0 for z_i->y: sum = 6 per doc
    assert out[10].n_bigrams == 11
    assert out[10].sum_surprisal == 6
    assert out[10].mean_surprisal == 6 / 11
    # single-token / empty docs are absent
    extra = spark.createDataFrame([(99, "solo"), (98, "")], "doc_id long, text string")
    out2 = {r.doc_id for r in t.bigram_surprisal(extra, "doc_id", "text").collect()}
    assert out2 == set()


def test_sample_weighted_prefers_heavy_rows(spark, monkeypatch, tmp_path):
    """ES keys u^(1/w): a row with overwhelming weight is essentially
    guaranteed into the per-stratum top-k (key → 1), and the output is
    exactly k rows per stratum."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import text as text_ops

    rows = [(i, "t", "en", "s0", 10) for i in range(200)]
    rows.append((999, "t", "en", "s0", 10_000_000))  # key ≈ 1
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars int")
    out = str(tmp_path / "documents.parquet")
    df.write.parquet(out)
    import aws_big_data_blog_dmscdc_walkthrough_spark.session as sess
    real = sess.load_table
    monkeypatch.setattr(
        "aws_big_data_blog_dmscdc_walkthrough_spark.operators.text.load_table",
        lambda sp, sf, t: sp.read.parquet(out) if t == "documents" else real(sp, sf, t),
    )
    got = text_ops.sample_weighted(spark, "ignored").collect()
    assert len(got) == text_ops.WEIGHTED_SAMPLE_K
    assert 999 in {r.doc_id for r in got}
    # keys are valid quantized ES draws: floor(u^(1/w)·1e9) in [0, 1e9)
    # (round-11: the output key is grid-quantized to a BIGINT so a
    # 1-ulp cross-engine pow() divergence cannot flip the oracle hash)
    ks = [r.sample_key_q for r in got]
    assert all(0 <= k < 10**9 for k in ks)
    # the overwhelming-weight row's key sits at the top of the grid
    top = next(r.sample_key_q for r in got if r.doc_id == 999)
    assert top == max(ks)


def test_heavy_hitters_candidate_screen_is_lossless(spark, tmp_path):
    """Long-tail construction: thousands of unique words and two heavy
    ones spread across many partitions. The per-partition screen must
    not lose a word that is only ever LOCALLY light but globally heavy
    — the averaging guarantee the operator's pruning rests on."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import text as text_ops

    # 8 partitions x 250 tokens: in each partition 'hh1' appears 20x
    # (8% > 1/50) and 'hh2' 6x (2.4%, locally ABOVE 1/50 = 5 needed...
    # make hh2 locally borderline: 5x = exactly n_p/k -> NOT a local
    # candidate in any partition would break exactness; 6x stays a
    # strict local candidate in at least one partition by construction.
    rows = []
    uid = 0
    for p in range(8):
        toks = []
        toks += ["hh1"] * 20 + ["hh2"] * 6
        while len(toks) < 250:
            toks.append(f"u{uid}")
            uid += 1
        rows.append((p, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "docs")
    df.repartition(8, "doc_id").write.parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("_hh_docs")

    # exact truth by plain SQL over the same table
    truth = {
        (r.word, r.n)
        for r in spark.sql(
            r"""
            WITH tok AS (
              SELECT explode(split(trim(text), '\\s+')) AS word FROM _hh_docs
            ), tot AS (SELECT COUNT(*) AS n FROM tok)
            SELECT word, COUNT(*) AS n FROM tok CROSS JOIN tot
            GROUP BY word, tot.n HAVING COUNT(*) * 50 > tot.n
            """
        ).collect()
    }
    sf_dir = str(tmp_path)
    import shutil, os
    os.makedirs(os.path.join(sf_dir, "documents.parquet"), exist_ok=True)
    shutil.rmtree(os.path.join(sf_dir, "documents.parquet"))
    shutil.move(path, os.path.join(sf_dir, "documents.parquet"))
    got = {
        (r.word, r.n)
        for r in text_ops.text_heavy_hitters(spark, sf_dir).collect()
    }
    assert got == truth
    assert ("hh1", 160) in got and ("hh2", 48) in got


def test_heavy_hitters_bounded_summary_forces_prune(spark, tmp_path):
    """A partition whose vocabulary exceeds the screen's soft cap forces
    Misra-Gries prunes; the decrement must never evict a word that is
    globally heavy, and the final output stays the exact brute force."""
    import os

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import text as text_ops

    rows = []
    uid = 0
    for p in range(4):
        toks = ["heavy"] * 400  # 400 of ~5400 tokens: >> n_p/50
        for _ in range(5000):   # 5000 uniques > soft_cap(4*50, 1024)
            toks.append(f"u{uid}")
            uid += 1
        rows.append((p, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = os.path.join(str(tmp_path), "documents.parquet")
    df.repartition(4, "doc_id").write.parquet(path)
    got = {
        (r.word, r.n)
        for r in text_ops.text_heavy_hitters(spark, str(tmp_path)).collect()
    }
    n_total = 4 * 5400
    # brute force: only 'heavy' exceeds n/50 = 432
    assert got == {("heavy", 1600)}, got
    assert 1600 * 50 > n_total
