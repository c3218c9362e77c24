"""Bloom pre-filter operator (#93): no false negatives, real thinning,
semi-join equivalence."""

from pyspark.sql import functions as F

from aws_big_data_blog_dmscdc_walkthrough_spark.operators import bloom


def test_bloom_no_false_negatives(spark):
    keys = spark.range(0, 500).select((F.col("id") * 7 + 3).alias("k"))
    words = bloom.bloom_build(keys, "k", expected_items=500)
    kept = bloom.bloom_filter_frame(keys, "k", words, expected_items=500)
    assert kept.count() == 500  # every built key must pass its own filter


def test_bloom_filters_most_non_members(spark):
    members = spark.range(0, 1000).select(F.col("id").alias("k"))
    words = bloom.bloom_build(members, "k", expected_items=1000)
    strangers = spark.range(1_000_000, 1_100_000).select(F.col("id").alias("k"))
    passed = bloom.bloom_filter_frame(
        strangers, "k", words, expected_items=1000
    ).count()
    # ~1% fpp at 10 bits/key, k=4; allow generous slack
    assert passed < 100_000 * 0.05, passed


def test_bloom_semi_join_equals_plain_semi_join(spark):
    big = spark.range(0, 20_000).select(F.col("id").alias("k"))
    small = spark.range(0, 20_000, 13).select(F.col("id").alias("k2"))
    via_bloom = bloom.bloom_semi_join(big, small, "k", "k2")
    plain = big.join(small.select(F.col("k2").alias("k")), "k", "leftsemi")
    assert sorted(r.k for r in via_bloom.collect()) == sorted(
        r.k for r in plain.collect()
    )


def test_bloom_undersized_bitmap_still_exact(spark):
    # a badly under-estimated bitmap only raises fpp; the closing exact
    # join keeps the result identical
    big = spark.range(0, 5_000).select(F.col("id").alias("k"))
    small = spark.range(0, 5_000, 7).select(F.col("id").alias("k2"))
    out = bloom.bloom_semi_join(big, small, "k", "k2", expected_items=8)
    assert out.count() == 5_000 // 7 + 1


def test_bloom_empty_build_side(spark):
    big = spark.range(0, 100).select(F.col("id").alias("k"))
    empty = spark.range(0, 0).select(F.col("id").alias("k2"))
    assert bloom.bloom_semi_join(big, empty, "k", "k2", expected_items=1).count() == 0


def test_bloom_filter_plan_is_broadcast_joins_only(spark):
    """The probe side must see only broadcast hash joins — a shuffle of
    the probed frame would defeat the operator's purpose."""
    big = spark.range(0, 10_000).select(F.col("id").alias("k"))
    small = spark.range(0, 10_000, 11).select(F.col("id").alias("k2"))
    words = bloom.bloom_build(small, "k2", expected_items=1000)
    pre = bloom.bloom_filter_frame(big, "k", words, expected_items=1000)
    plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_semi_join_mismatched_key_types(spark):
    """xxhash64 hashes int 5 and long 5 differently: without the build-
    side cast the filter would drop every genuine match."""
    big = spark.range(0, 1000).select(F.col("id").alias("k"))  # long
    small = spark.createDataFrame(
        [(i,) for i in range(0, 1000, 13)], "k2 int"
    )
    out = bloom.bloom_semi_join(big, small, "k", "k2")
    assert out.count() == len(range(0, 1000, 13))

