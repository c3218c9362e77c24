"""Corpus-card queries whose small-input fused solver and distributed
plan must agree bit for bit (#173 ingest novelty, #140 embedding
covariance), including on constant dimensions.
"""

import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_big_data_blog_dmscdc_walkthrough_spark.operators.dedup import (
    release_persisted,
)
from aws_big_data_blog_dmscdc_walkthrough_spark.plans import corpus_ml

SF = "/root/testdata/sf0.001"


def test_ingest_novelty_fused_and_distributed_paths_agree(spark, distributed):
    """The small-input fused novelty solver (one numpy pass in one task)
    and the distributed explode/distinct/min-batch plan emit the same
    per-batch rows with bit-identical new-share doubles."""
    def run():
        release_persisted()
        return sorted(
            (r.batch, r.n_trigrams, r.n_new, r.new_share)
            for r in corpus_ml.corpus_ingest_novelty(
                spark, "/root/testdata/sf0.001"
            ).collect()
        )

    fused = run()  # small scan -> fused path
    with distributed():  # force the distributed path
        dist = run()
    assert fused and fused == dist
    release_persisted()


def test_emb_covariance_fused_and_distributed_paths_agree(spark, distributed):
    """The fused covariance kernel (Dekker HALF_UP quantization + int64
    sums + Fraction->double) and the distributed 153-DECIMAL-aggregate
    plan emit bit-identical cov/corr doubles."""
    def run():
        release_persisted()
        return sorted(
            (r.i, r.j, r.cov, r.corr)
            for r in corpus_ml.emb_covariance(
                spark, "/root/testdata/sf0.001"
            ).collect()
        )

    fused = run()  # small scan -> fused path
    with distributed():  # force the distributed path
        dist = run()
    assert fused and fused == dist
    release_persisted()


def test_emb_covariance_paths_agree_on_constant_dimensions(
    spark, tmp_path, distributed
):
    """A constant dimension has zero variance: every corr that divides by
    it is NULL in both paths (the fused kernel must not emit numpy's
    inf/NaN), and every other cov/corr double stays bit-identical."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

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
    with distributed():  # force the distributed path
        dist = run()
    assert fused and fused == dist
    for i, j, _, corr in fused:
        assert (corr is None) == (i in const or j in const), (i, j, corr)
    release_persisted()
