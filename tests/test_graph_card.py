"""Co-purchase graph queries (#155 PageRank, #157 triangles, #160
neighbors, #170 assortativity): the standalone plans scan their
substrate once, and each small-input local solve is identical to its
distributed plan.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_big_data_blog_dmscdc_walkthrough_spark.operators.dedup import (
    release_persisted,
)
from aws_big_data_blog_dmscdc_walkthrough_spark.plans import analytics

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_neighbors_standalone_scans_baskets_once(spark):
    """Standalone #160 used to run the distinct (order, part) scan
    twice — once inside the edge builder, once for the marginals. The
    shared persisted baskets frame makes the optimized plan reference
    one InMemoryRelation for both, with no second distinct aggregate
    over a raw lineitem scan. (Round 14 added a fully-local plan below
    the scan gate — forced off here; the distributed shape this test
    pins is the one that runs at scale.)"""
    release_persisted()
    saved = analytics.COPURCHASE_LOCAL_SCAN_BYTES
    analytics.COPURCHASE_LOCAL_SCAN_BYTES = 0
    try:
        df = analytics.q_part_neighbors(spark, SF)
    finally:
        analytics.COPURCHASE_LOCAL_SCAN_BYTES = saved
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan
    # the raw scan appears only below the cached substrate, never as a
    # second independent leaf of this query's own plan
    assert len([f for f in df.inputFiles() if "lineitem.parquet" in f]) == 0
    release_persisted()


def test_triangles_local_solve_identical_to_distributed(spark):
    """The driver-side triangle census (default gate) and the
    distributed wedge joins (forced by zeroing the probe cap) are the
    same five integers — the census is integer-exact end to end."""
    import aws_big_data_blog_dmscdc_walkthrough_spark.operators.graph as G

    release_persisted()
    local = [tuple(r) for r in analytics.q_part_triangles(spark, SF).collect()]
    saved = G.KCORE_LOCAL_SOLVE_EDGES
    G.KCORE_LOCAL_SOLVE_EDGES = 0
    try:
        release_persisted()
        dist = [
            tuple(r) for r in analytics.q_part_triangles(spark, SF).collect()
        ]
    finally:
        G.KCORE_LOCAL_SOLVE_EDGES = saved
    release_persisted()
    assert local == dist


def test_assortativity_local_solve_identical_to_distributed(spark):
    """The driver-side Newman r (default gate) and the distributed
    degree joins (forced by zeroing the probe cap) emit the bit-same
    row: integer sums either way, one double expression at the end."""
    import aws_big_data_blog_dmscdc_walkthrough_spark.operators.graph as G

    release_persisted()
    local = [
        tuple(r)
        for r in analytics.q_copurchase_assortativity(spark, SF).collect()
    ]
    saved = G.KCORE_LOCAL_SOLVE_EDGES
    G.KCORE_LOCAL_SOLVE_EDGES = 0
    try:
        release_persisted()
        dist = [
            tuple(r)
            for r in analytics.q_copurchase_assortativity(spark, SF).collect()
        ]
    finally:
        G.KCORE_LOCAL_SOLVE_EDGES = saved
    release_persisted()
    assert local == dist


def test_local_copurchase_substrate_matches_distributed(spark):
    """The driver-side co-purchase substrate (one toPandas + the shared
    posting-pair kernel) must be row-identical — pairs, marginal-fed
    cosines, lifts, ranks — to the distributed basket/edge build it
    replaces under the scan gate for #160 neighbors and #120 affinity."""
    for fn in (analytics.q_part_neighbors, analytics.q_basket_affinity):
        release_persisted()
        local = _rows(fn(spark, SF))
        saved = analytics.COPURCHASE_LOCAL_SCAN_BYTES
        analytics.COPURCHASE_LOCAL_SCAN_BYTES = 0  # force distributed
        try:
            release_persisted()
            dist = _rows(fn(spark, SF))
        finally:
            analytics.COPURCHASE_LOCAL_SCAN_BYTES = saved
        release_persisted()
        assert local, fn.__name__  # fixture produces rows
        assert local == dist, fn.__name__
