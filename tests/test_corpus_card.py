"""Fused corpus card (round-12 verdict item 6): one persisted tokenize
substrate feeds #110 top terms, #163 burstiness, #167 lexical diversity,
and #91 surprisal. The fusion must be LOSSLESS — each panel's rows are
bit-identical to its standalone query — and must actually eliminate the
redundant tokenize scans (three of the four panels read the substrate
only; burstiness keeps one narrow documents scan for the doc count).
"""

import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_big_data_blog_dmscdc_walkthrough_spark.operators import text as text_ops
from aws_big_data_blog_dmscdc_walkthrough_spark.operators.dedup import (
    release_persisted,
)
from aws_big_data_blog_dmscdc_walkthrough_spark.plans import corpus_ml

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_corpus_card_panels_match_standalone(spark):
    release_persisted()
    fused = corpus_ml.corpus_card_frames(spark, SF)
    standalone = {
        "top_terms": corpus_ml.corpus_source_top_terms(spark, SF),
        "burstiness": corpus_ml.corpus_burstiness(spark, SF),
        "lexical_diversity": corpus_ml.corpus_lexical_diversity(spark, SF),
        "surprisal": text_ops.text_surprisal(spark, SF),
        "repetition_indices": corpus_ml.corpus_repetition_indices(spark, SF),
        "zipf_spine": corpus_ml.corpus_zipf_spine(spark, SF),
        "source_tvd": corpus_ml.corpus_source_tvd(spark, SF),
    }
    for name, f in fused.items():
        assert f.columns == standalone[name].columns, name
        assert _rows(f) == _rows(standalone[name]), name
    release_persisted()


def test_corpus_card_tokenizes_once(spark):
    """Three of four panels must have NO direct parquet leaf over
    documents (they read only the persisted substrate — inputFiles()
    walks the logical leaves and does not descend into
    InMemoryRelation); burstiness keeps exactly the narrow n_docs
    count scan. The substrate is persisted, so the combined run
    tokenizes once instead of four times."""
    release_persisted()
    fused = corpus_ml.corpus_card_frames(spark, SF)

    def doc_leaves(df):
        return [f for f in df.inputFiles() if "documents.parquet" in f]

    assert doc_leaves(fused["top_terms"]) == []
    assert doc_leaves(fused["lexical_diversity"]) == []
    assert doc_leaves(fused["surprisal"]) == []
    assert doc_leaves(fused["repetition_indices"]) == []
    assert doc_leaves(fused["zipf_spine"]) == []
    assert doc_leaves(fused["source_tvd"]) == []
    assert len(doc_leaves(fused["burstiness"])) == 1  # n_docs scalar only
    # and every panel actually rides the shared cached substrate
    for name, df in fused.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in plan, name
    release_persisted()


def test_ingest_novelty_fused_and_distributed_paths_agree(spark):
    """The small-input fused novelty solver (one numpy pass in one task)
    and the distributed explode/distinct/min-batch plan emit the same
    per-batch rows with bit-identical new-share doubles."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import dedup as dd

    def run():
        release_persisted()
        return sorted(
            (r.batch, r.n_trigrams, r.n_new, r.new_share)
            for r in corpus_ml.corpus_ingest_novelty(
                spark, "/root/testdata/sf0.001"
            ).collect()
        )

    fused = run()  # small scan -> fused path
    orig = dd._scan_sizes
    dd._scan_sizes = lambda df: [10**9]  # force the distributed path
    try:
        dist = run()
    finally:
        dd._scan_sizes = orig
    assert fused and fused == dist
    release_persisted()


def test_emb_covariance_fused_and_distributed_paths_agree(spark):
    """The fused covariance kernel (Dekker HALF_UP quantization + int64
    sums + Fraction->double) and the distributed 153-DECIMAL-aggregate
    plan emit bit-identical cov/corr doubles."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import dedup as dd

    def run():
        release_persisted()
        return sorted(
            (r.i, r.j, r.cov, r.corr)
            for r in corpus_ml.emb_covariance(
                spark, "/root/testdata/sf0.001"
            ).collect()
        )

    fused = run()  # small scan -> fused path
    orig = dd._scan_sizes
    dd._scan_sizes = lambda df: [10**9]  # force the distributed path
    try:
        dist = run()
    finally:
        dd._scan_sizes = orig
    assert fused and fused == dist
    release_persisted()


def test_emb_covariance_paths_agree_on_constant_dimensions(spark, tmp_path):
    """A constant dimension has zero variance: every corr that divides by
    it is NULL in both paths (the fused kernel must not emit numpy's
    inf/NaN), and every other cov/corr double stays bit-identical."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import dedup as dd

    src = pq.read_table("/root/testdata/sf0.001/embeddings.parquet")
    emb = np.array(src["embedding"].to_pylist(), dtype=np.float32)
    const = {3: 0.0, 5: 0.5}
    for dim, v in const.items():
        emb[:, dim] = v
    pq.write_table(
        src.set_column(
            src.schema.get_field_index("embedding"),
            "embedding",
            pa.array(emb.tolist(), pa.list_(pa.float32())),
        ),
        str(tmp_path / "embeddings.parquet"),
    )

    def run():
        release_persisted()
        return sorted(
            (r.i, r.j, r.cov, r.corr)
            for r in corpus_ml.emb_covariance(spark, str(tmp_path)).collect()
        )

    fused = run()  # small scan -> fused path
    orig = dd._scan_sizes
    dd._scan_sizes = lambda df: [10**9]  # force the distributed path
    try:
        dist = run()
    finally:
        dd._scan_sizes = orig
    assert fused and fused == dist
    for i, j, _, corr in fused:
        assert (corr is None) == (i in const or j in const), (i, j, corr)
    release_persisted()
