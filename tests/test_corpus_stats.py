"""Unit tests for corpus_stats: chunk reconstruction, TF-IDF ranking
invariants, BM25 matching semantics."""

import pytest
from pyspark.sql import functions as F

from aws_big_data_blog_dmscdc_walkthrough_spark.operators import corpus_stats
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "data data data scan hash"),
            (3, "x" * 450),
            (4, "hash"),
        ],
        "doc_id long, text string",
    )


def test_chunks_cover_and_overlap(docs):
    rows = corpus_stats.chunk_documents(docs).orderBy("doc_id", "chunk_idx").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 3: 450 chars, stride 160 -> starts 0,160,320 -> 3 chunks
    chunks3 = by_doc[3]
    assert [c.chunk_idx for c in chunks3] == [0, 1, 2]
    assert [c.chunk_len for c in chunks3] == [200, 200, 130]
    # overlap: last 40 chars of chunk k == first 40 of chunk k+1
    assert chunks3[0].chunk[160:] == chunks3[1].chunk[:40]
    # reconstruction: stride-prefixes + final chunk == original text
    rebuilt = "".join(c.chunk[:160] for c in chunks3[:-1]) + chunks3[-1].chunk
    assert rebuilt == "x" * 450
    # short doc -> exactly one chunk, full text
    assert len(by_doc[4]) == 1 and by_doc[4][0].chunk == "hash"


def test_tfidf_rare_term_outranks_common(docs):
    top = corpus_stats.tfidf_top_terms(docs, k=2).collect()
    doc1 = {r.term: r for r in top if r.doc_id == 1}
    # "the" (tf=2) appears only in doc 1, as do all its other terms, so
    # tf dominates: "the" must rank first.
    first = [r for r in top if r.doc_id == 1 and r.rnk == 1][0]
    assert first.term == "the" and first.tf == 2
    assert all(r.rnk <= 2 for r in top)


def test_tfidf_deterministic_tiebreak(docs):
    top = corpus_stats.tfidf_top_terms(docs, k=10)
    w = [r for r in top.collect() if r.doc_id == 2]
    # doc 2: data tf=3; scan/hash tf=1 but hash has df=2 (lower score).
    order = [r.term for r in sorted(w, key=lambda r: r.rnk)]
    assert order[0] == "data"
    assert order.index("scan") < order.index("hash")


def test_bm25_only_matching_docs(docs):
    got = corpus_stats.bm25_scores(docs, ["data", "scan", "hash"]).collect()
    ids = {r.doc_id for r in got}
    assert ids == {2, 4}  # docs 1 and 3 contain no query term
    d2 = [r for r in got if r.doc_id == 2][0]
    assert d2.n_matched_terms == 3
    assert all(r.bm25 > 0 for r in got)


def test_oracle_constants_in_sync():
    # The SQL oracles interpolate the same constants the DataFrame path
    # uses; a drift here would silently fail only at the driver.
    assert f"{corpus_stats.CHUNK_STRIDE}" in corpus_stats.TEXT_CHUNKS_SQL
    assert f"{corpus_stats.CHUNK_SIZE}" in corpus_stats.TEXT_CHUNKS_SQL
    for t in corpus_stats.BM25_QUERY_TERMS:
        assert f"'{t}'" in corpus_stats.TEXT_BM25_SQL


def test_tfidf_pin_engages_on_spread_frames(spark, tmp_path):
    """text_tfidf_topk spreads its input FIRST, and spread outputs
    report no inputFiles; the pin decision must still see the bytes of
    the files under the spread (scan_bytes reads the analyzed plan): a
    spread frame backed by >SPREAD_MIN_INPUT_BYTES of files pins (one
    extra tracked persist beyond spread's own), a small one does not."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import dedup
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators.dedup import (
        SPREAD_MIN_INPUT_BYTES,
        _planned_scan_partitions,
        release_persisted,
        spread,
    )

    big_p = str(tmp_path / "docs_big")
    (
        spark.range(SPREAD_MIN_INPUT_BYTES // 72)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.sha2(F.col("id").cast("string"), 256),
                F.sha2((F.col("id") + 1).cast("string"), 256),
            ).alias("text"),
        )
        .coalesce(1)
        .write.parquet(big_p)
    )
    release_persisted()
    # an open cost past the file size keeps the ~4 MiB file one
    # (under-split) task on any core count, so spread engages
    key = "spark.sql.files.openCostInBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(64 * 1024 * 1024))
    try:
        raw = spark.read.parquet(big_p)
        assert _planned_scan_partitions(raw) < spark.sparkContext.defaultParallelism
        big = spread(raw)
    finally:
        spark.conf.set(key, prev)
    n_spread = len(dedup._PERSISTED)
    assert n_spread >= 1  # spread itself repartitioned+persisted
    corpus_stats.tfidf_top_terms(big, k=1).count()
    assert len(dedup._PERSISTED) == n_spread + 1  # the pinned terms frame
    release_persisted()

    small_p = str(tmp_path / "docs_small")
    spark.createDataFrame(
        [(i, f"alpha beta w{i}") for i in range(50)], ["doc_id", "text"]
    ).coalesce(1).write.parquet(small_p)
    small = spread(spark.read.parquet(small_p))
    n_spread = len(dedup._PERSISTED)
    corpus_stats.tfidf_top_terms(small, k=1).count()
    assert len(dedup._PERSISTED) == n_spread  # below threshold: no pin
    release_persisted()
