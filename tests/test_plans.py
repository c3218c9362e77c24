"""Physical-plan regression guards.

Correctness tests prove WHAT the operators compute; these pin HOW —
the plan shapes that make them scale (broadcasts where a dim is small,
filters reaching the parquet scan, no accidental sort-merge joins or
cartesian products). A refactor that flips one of these silently turns
a map-side plan into a 100 TB shuffle; failing here is the alarm.
"""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from aws_big_data_blog_dmscdc_walkthrough_spark.operators import cdc
from aws_big_data_blog_dmscdc_walkthrough_spark.plans import analytics
from tests.conftest import SF_SMOKE


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q5_star_join_all_broadcast(spark):
    plan = plan_of(analytics.q5_local_supplier_volume(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 4  # every dim side broadcast
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q1_filter_reaches_scan(spark):
    plan = plan_of(analytics.q1_pricing_summary(spark, SF_SMOKE))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_filter_scan_prunes_columns(spark):
    plan = plan_of(analytics.q_events_filter_scan(spark, SF_SMOKE))
    assert "PushedFilters" in plan and "EqualTo(event_type,purchase)" in plan
    # projection pruned: props (the widest column) must not be read
    assert "props" not in plan


def test_merge_prunes_with_broadcast_no_target_shuffle(spark):
    target = spark.range(0, 10000).select(
        F.col("id").alias("pk"), (F.col("id") * 2).alias("v")
    )
    changes = spark.createDataFrame(
        [(1, 99, "U", 1), (2, None, "D", 2)], ["pk", "v", "op", "_seq"]
    )
    plan = plan_of(cdc.apply_changes(target, changes, ["pk"], "_seq"))
    # the untouched split must be a broadcast anti-join — the target side
    # must never hash-exchange for the join — and the window ranks the
    # batch alone, so no semi-join feeds it target rows
    assert plan.count("BroadcastHashJoin") >= 2
    assert "LeftAnti" in plan and "LeftSemi" not in plan
    assert "SortMergeJoin" not in plan


def test_ann_topk_is_broadcast_then_limit(spark):
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import llm_queries

    plan = plan_of(llm_queries.ann_cosine_topk(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort


def test_rollup_is_single_aggregation_exchange(spark):
    plan = plan_of(analytics.q_orders_rollup(spark, SF_SMOKE))
    assert "Expand" in plan  # grouping sets expand map-side
    # one partial + one final agg; no extra shuffles beyond the group-by
    assert plan.count("Exchange") <= 2


def test_retention_capped_offset_matches_filtered_unbounded(spark):
    """max_day_offset bounds the cohort matrix: the capped result is
    exactly the unbounded matrix filtered to the cap (the filter runs
    BEFORE the distinct-count aggregation, so counts are unaffected),
    and no emitted offset exceeds the cap."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import analytics
    from tests.conftest import SF_SMOKE

    cap = 3
    capped = analytics.q_events_retention(spark, SF_SMOKE, max_day_offset=cap)
    rows = capped.collect()
    assert rows and max(r.day_offset for r in rows) <= cap
    unbounded = analytics.q_events_retention(spark, SF_SMOKE)
    want = {
        (r.cohort_day, r.day_offset): r.n_users
        for r in unbounded.collect()
        if r.day_offset <= cap
    }
    got = {(r.cohort_day, r.day_offset): r.n_users for r in rows}
    assert got == want


def test_basket_affinity_hand_computed_lift(spark, monkeypatch, tmp_path):
    """3-order fixture: parts (1,2) co-occur twice of 3 orders; lift =
    P(1,2)/(P(1)P(2)) = (2/3)/((3/3)*(2/3)) = 1.0; support filter drops
    singletons."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import analytics

    rows = [
        (1, 101), (1, 102),           # order 1: parts 101,102
        (2, 101), (2, 102), (2, 103), # order 2: parts 101,102,103
        (3, 101),                     # order 3: part 101
    ]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    out = str(tmp_path / "lineitem.parquet")
    df.write.parquet(out)

    monkeypatch.setattr(analytics, "BASKET_MIN_SUPPORT", 2)
    import aws_big_data_blog_dmscdc_walkthrough_spark.session as sess
    real = sess.load_table
    monkeypatch.setattr(
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.analytics.load_table",
        lambda sp, sf, t: sp.read.parquet(out) if t == "lineitem" else real(sp, sf, t),
    )
    got = {
        (r.part_a, r.part_b): (r.pair_orders, round(r.lift, 9))
        for r in analytics.q_basket_affinity(spark, "ignored").collect()
    }
    assert got == {(101, 102): (2, round((2 * 3) / (3 * 2), 9))}


def test_attribution_window_and_direct_bucket(spark, monkeypatch, tmp_path):
    """Purchase credits the LATEST preceding touch; an out-of-window
    touch and a no-touch user both fall to 'direct'."""
    from datetime import datetime as dt

    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import analytics

    rows = [
        # user 1: view then click then purchase -> credit click (latest)
        (1, dt(2024, 1, 10, 9), 1, "view", 0.0),
        (2, dt(2024, 1, 10, 10), 1, "click", 0.0),
        (3, dt(2024, 1, 10, 11), 1, "purchase", 30.0),
        # user 2: touch 8 days before purchase -> stale -> direct
        (4, dt(2024, 1, 1, 0), 2, "click", 0.0),
        (5, dt(2024, 1, 9, 1), 2, "purchase", 10.0),
        # user 3: purchase with no touches at all -> direct
        (6, dt(2024, 1, 5, 0), 3, "purchase", 5.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    )
    out = str(tmp_path / "events.parquet")
    df.write.parquet(out)
    import aws_big_data_blog_dmscdc_walkthrough_spark.session as sess
    real = sess.load_table
    monkeypatch.setattr(
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.analytics.load_table",
        lambda sp, sf, t: sp.read.parquet(out) if t == "events" else real(sp, sf, t),
    )
    got = {
        r.channel: (r.purchases, round(r.revenue, 6))
        for r in analytics.q_events_attribution(spark, "ignored").collect()
    }
    assert got == {"click": (1, 30.0), "direct": (2, 15.0)}


def test_decay_score_half_life_pin(spark, monkeypatch, tmp_path):
    """One purchase exactly one half-life before the corpus max ts
    scores w·0.5; the anchor event itself scores w·1.0; a purchase half
    a half-life back pins the round-11 piecewise-LINEAR interpolation
    (1 − r/2H = 0.75, not the smooth curve's 2^-0.5 ≈ 0.7071)."""
    from datetime import datetime as dt

    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import analytics

    rows = [
        (1, dt(2024, 1, 1, 0), 1, "purchase", 0.0),   # 7 days before max
        (2, dt(2024, 1, 8, 0), 2, "purchase", 0.0),   # the anchor
        (3, dt(2024, 1, 8, 0), 3, "error", 0.0),      # unweighted: absent
        (4, dt(2024, 1, 4, 12), 4, "purchase", 0.0),  # 3.5 days: linear seg
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    )
    out = str(tmp_path / "events.parquet")
    df.write.parquet(out)
    import aws_big_data_blog_dmscdc_walkthrough_spark.session as sess
    real = sess.load_table
    monkeypatch.setattr(
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.analytics.load_table",
        lambda sp, sf, t: sp.read.parquet(out) if t == "events" else real(sp, sf, t),
    )
    got = {
        r.user_id: round(r.decay_score, 9)
        for r in analytics.q_events_decay_score(spark, "ignored").collect()
    }
    assert got == {1: 2.5, 2: 5.0, 4: 3.75}


def test_levenshtein_linkage_is_hash_join(spark):
    """Round-11 rewrite guard (#128): the length band must be a JOIN KEY
    (bucket ±k replication), never a theta predicate — the non-equi form
    compiled to BroadcastNestedLoopJoin, O(|names|²) on a row-scale name
    domain. Done = a hash join on the bucket key, no NLJ/cartesian."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import llm_queries

    plan = plan_of(llm_queries.q_part_fuzzy_levenshtein(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    )


def _route_table(monkeypatch, module_path, table, parquet_path):
    import aws_big_data_blog_dmscdc_walkthrough_spark.session as sess

    real = sess.load_table
    monkeypatch.setattr(
        f"{module_path}.load_table",
        lambda sp, sf, t: sp.read.parquet(parquet_path) if t == table else real(sp, sf, t),
    )


def test_customer_gini_hand_computed(spark, monkeypatch, tmp_path):
    """Revenues 10,20,30,40 in one segment: gini = 2·300/(4·100) − 5/4
    = 0.25; top-20% = the single (⌈4/5⌉) top customer = 40/100."""
    from datetime import datetime as dt

    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import analytics

    orders = [
        (i, i, "F", float(p), dt(2024, 1, 1), "1-URGENT")
        for i, p in [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)]
    ]
    op = str(tmp_path / "orders.parquet")
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
    ).write.parquet(op)
    cp = str(tmp_path / "customer.parquet")
    spark.createDataFrame(
        [(i, f"c{i}", 0, 0.0, "SEG") for i in range(1, 5)],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    ).write.parquet(cp)
    import aws_big_data_blog_dmscdc_walkthrough_spark.session as sess

    real = sess.load_table
    routes = {"orders": op, "customer": cp}
    monkeypatch.setattr(
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.analytics.load_table",
        lambda sp, sf, t: sp.read.parquet(routes[t]) if t in routes else real(sp, sf, t),
    )
    [r] = analytics.q_customer_gini(spark, "ignored").collect()
    assert r.c_mktsegment == "SEG" and r.n_customers == 4
    assert r.revenue == 100.0
    assert abs(r.gini - 0.25) < 1e-12
    assert abs(r.top20_share - 0.4) < 1e-12


def test_conversion_latency_hand_computed(spark, monkeypatch, tmp_path):
    """3 signups, 2 conversions (10 s and 100 s): lower median at index
    (2+1) div 2 = 1 → 10 s; p90 at (9·2+9) div 10 = 2 → 100 s; a
    pre-signup purchase never counts; rate = 2/3."""
    from datetime import datetime as dt

    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import analytics

    rows = [
        (1, dt(2024, 1, 5, 0, 0, 0), 1, "signup", 0.0),
        (2, dt(2024, 1, 5, 0, 0, 10), 1, "purchase", 9.0),
        (3, dt(2024, 1, 6, 0, 0, 0), 2, "signup", 0.0),
        (4, dt(2024, 1, 6, 0, 1, 40), 2, "purchase", 9.0),
        (5, dt(2024, 1, 7, 0, 0, 0), 3, "signup", 0.0),
        (6, dt(2024, 1, 6, 23, 0, 0), 3, "purchase", 9.0),  # BEFORE signup
    ]
    out = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double",
    ).write.parquet(out)
    _route_table(
        monkeypatch,
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.analytics",
        "events",
        out,
    )
    [r] = analytics.q_events_conversion_latency(spark, "ignored").collect()
    assert r.n_signups == 3 and r.n_converted == 2
    assert abs(r.conversion_rate - 2 / 3) < 1e-12
    assert r.median_latency_s == 10 and r.p90_latency_s == 100


def test_wilson_interval_hand_computed(spark, monkeypatch, tmp_path):
    """4 click users, 1 converts after the touch: bounds must equal the
    same fixed-op-order Wilson formula evaluated in Python, and bracket
    p̂ inside [0, 1]."""
    import math
    from datetime import datetime as dt

    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import analytics

    rows = [
        (i, dt(2024, 1, 1, h), u, t, 0.0)
        for i, (h, u, t) in enumerate(
            [
                (0, 1, "click"), (0, 2, "click"), (0, 3, "click"), (0, 4, "click"),
                (1, 1, "purchase"),        # converts
                (0, 5, "purchase"),        # no touch: irrelevant
            ]
        )
    ]
    out = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double",
    ).write.parquet(out)
    _route_table(
        monkeypatch,
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.analytics",
        "events",
        out,
    )
    [r] = analytics.q_events_wilson(spark, "ignored").collect()
    assert r.channel == "click" and r.n_users == 4 and r.n_converted == 1
    z, z2, n, p = analytics.WILSON_Z, analytics._WILSON_Z2, 4.0, 1.0 / 4.0
    denom = 1.0 + z2 / n
    center = p + z2 / (2.0 * n)
    rad = z * math.sqrt((p * (1.0 - p)) / n + z2 / (4.0 * n * n))
    assert r.p_hat == p
    assert r.wilson_low == (center - rad) / denom
    assert r.wilson_high == (center + rad) / denom
    assert 0.0 <= r.wilson_low < p < r.wilson_high <= 1.0


def test_vocab_overlap_hand_computed(spark, monkeypatch, tmp_path):
    """A={a,b,c}, B={b,c,d}: |∩|=2, jaccard = 2/(3+3−2) = 0.5; repeated
    terms inside a source count once (distinct vocab, not occurrences)."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import corpus_ml

    rows = [
        (1, "a b c a a", "en", "A", 9),
        (2, "b c d", "en", "B", 5),
        (3, "c d", "en", "B", 3),
    ]
    out = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(out)
    _route_table(
        monkeypatch,
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.corpus_ml",
        "documents",
        out,
    )
    [r] = corpus_ml.corpus_vocab_overlap(spark, "ignored").collect()
    assert (r.source_a, r.source_b) == ("A", "B")
    assert (r.n_common, r.n_terms_a, r.n_terms_b) == (2, 3, 3)
    assert r.jaccard == 0.5


def test_fertility_hand_computed(spark, monkeypatch, tmp_path):
    """'ab cd' (5 chars, 2 ws tokens, 2 bpe) + 'a-b' (3 chars, 1 ws,
    3 bpe: a, -, b): chars/ws = 8/3, fertility = 5/3."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import corpus_ml

    rows = [
        (1, "ab cd", "en", "A", 5),
        (2, "a-b", "en", "A", 3),
    ]
    out = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(out)
    _route_table(
        monkeypatch,
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.corpus_ml",
        "documents",
        out,
    )
    [r] = corpus_ml.corpus_fertility(spark, "ignored").collect()
    assert (r.n_docs, r.ws_tokens, r.bpe_tokens, r.n_chars) == (2, 3, 5, 8)
    assert r.chars_per_ws_token == 8.0 / 3.0
    assert r.fertility == 5.0 / 3.0


def test_cluster_size_histogram_conserves_docs(spark):
    """The histogram is a lossless regrouping of the cluster frame:
    Σ n_docs = corpus size, Σ n_clusters = |clusters|, and the size-1
    row matches the singleton count from dedup_clusters directly."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import llm_queries

    hist = {r.cluster_size: r for r in llm_queries.dedup_cluster_sizes(spark, SF_SMOKE).collect()}
    cl = llm_queries.dedup_clusters(spark, SF_SMOKE).collect()
    assert sum(r.n_docs for r in hist.values()) == len(cl)
    from collections import Counter

    by_cluster = Counter(r.cluster_id for r in cl)
    want = Counter(by_cluster.values())
    assert {s: r.n_clusters for s, r in hist.items()} == dict(want)


def test_eval_ann_mrr_internal_consistency(spark):
    """Per-query invariants at SF_SMOKE: one row per query, rr = 1/rank
    exactly (0.0 when no relevant neighbor ranked), hits bounded by k,
    and precision = hits/k."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import corpus_ml

    rows = corpus_ml.eval_ann_mrr(spark, SF_SMOKE).collect()
    assert len(rows) == corpus_ml.EVAL_MRR_NQ
    k = corpus_ml.EVAL_MRR_K
    for r in rows:
        assert 0 <= r.hits_at_k <= k
        assert r.precision_at_k == r.hits_at_k / float(k)
        if r.first_rel_rank is None:
            assert r.rr == 0.0 and r.hits_at_k == 0
        else:
            assert 1 <= r.first_rel_rank <= k
            assert r.rr == 1.0 / float(r.first_rel_rank)
            assert r.hits_at_k >= 1


def test_emb_covariance_matches_numpy(spark):
    """Decimal-quantized single-pass covariance must track the numpy
    two-pass reference within the quantization grid, with corr ≈ 1 on
    the diagonal and symmetric pair coverage (i ≤ j, all pairs once)."""
    import numpy as np

    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import corpus_ml
    from aws_big_data_blog_dmscdc_walkthrough_spark.session import load_table

    rows = corpus_ml.emb_covariance(spark, SF_SMOKE).collect()
    d = corpus_ml.COV_DIMS
    assert len(rows) == d * (d + 1) // 2
    X = np.array(
        [
            r.embedding[:d]
            for r in load_table(spark, SF_SMOKE, "embeddings")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    ref = np.cov(X, rowvar=False, bias=True)  # population cov, like E[xy]-E[x]E[y]
    for r in rows:
        assert abs(r.cov - ref[r.i, r.j]) < 1e-6
        if r.i == r.j:
            assert abs(r.corr - 1.0) < 1e-9


def test_lake_integrity_clean_and_planted_orphan(spark, monkeypatch, tmp_path):
    """The synthetic star schema is referentially intact (0 orphans on
    every FK edge); planting an orphaned lineitem order key is detected
    with the exact rate."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import cdc_queries
    from aws_big_data_blog_dmscdc_walkthrough_spark.session import load_table

    clean = {r.fk: r for r in cdc_queries.lake_integrity_report(spark, SF_SMOKE).collect()}
    assert len(clean) == 4
    assert all(r.n_orphans == 0 and r.orphan_rate == 0.0 for r in clean.values())

    # plant one orphan: a lineitem row pointing at a nonexistent order
    li = load_table(spark, SF_SMOKE, "lineitem")
    bad = li.limit(1).withColumn("l_orderkey", (li.l_orderkey * 0 - 999).cast("long"))
    out = str(tmp_path / "lineitem.parquet")
    li.unionByName(bad).write.parquet(out)
    import aws_big_data_blog_dmscdc_walkthrough_spark.session as sess

    real = sess.load_table
    monkeypatch.setattr(
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.cdc_queries.load_table",
        lambda sp, sf, t: sp.read.parquet(out) if t == "lineitem" else real(sp, sf, t),
    )
    got = {r.fk: r for r in cdc_queries.lake_integrity_report(spark, SF_SMOKE).collect()}
    r = got["lineitem.l_orderkey->orders.o_orderkey"]
    assert r.n_orphans == 1 and r.orphan_rate == 1.0 / r.n_rows


def test_session_paths_hand_computed(spark, monkeypatch, tmp_path):
    """One 4-event session truncates to its first 3 types; a fresh
    session after a >30-min gap starts a new path; a single-event
    session is just its type (concat_ws skips the NULL slots)."""
    from datetime import datetime as dt

    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import analytics

    rows = [
        (1, dt(2024, 1, 1, 10, 0), 1, "view", 0.0),
        (2, dt(2024, 1, 1, 10, 5), 1, "click", 0.0),
        (3, dt(2024, 1, 1, 10, 6), 1, "purchase", 0.0),
        (4, dt(2024, 1, 1, 10, 7), 1, "view", 0.0),      # 4th: truncated
        (5, dt(2024, 1, 1, 12, 0), 1, "signup", 0.0),     # new session
        (6, dt(2024, 1, 1, 9, 0), 2, "view", 0.0),
        (7, dt(2024, 1, 1, 9, 1), 2, "click", 0.0),
        (8, dt(2024, 1, 1, 9, 2), 2, "purchase", 0.0),
    ]
    out = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    ).write.parquet(out)
    _route_table(
        monkeypatch,
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.analytics",
        "events",
        out,
    )
    got = {r.path: (r.n_sessions, r.rank) for r in analytics.q_events_session_paths(spark, "ignored").collect()}
    assert got == {"view>click>purchase": (2, 1), "signup": (1, 2)}


def test_orders_histogram_conserves_and_bins(spark):
    """Σ counts = table rows, bins inside [0, HIST_BINS), edges spaced
    by one width, and the max row lands in the LAST bin (closed top)."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import analytics
    from aws_big_data_blog_dmscdc_walkthrough_spark.session import load_table

    rows = sorted(
        analytics.q_orders_histogram(spark, SF_SMOKE).collect(),
        key=lambda r: r.bin,
    )
    o = load_table(spark, SF_SMOKE, "orders")
    assert sum(r.n_orders for r in rows) == o.count()
    assert all(0 <= r.bin < analytics.HIST_BINS for r in rows)
    assert rows[-1].bin == analytics.HIST_BINS - 1  # max closes into last bin
    w = (rows[1].bin_lo - rows[0].bin_lo) / (rows[1].bin - rows[0].bin)
    for a, b in zip(rows, rows[1:]):
        assert abs((b.bin_lo - a.bin_lo) - w * (b.bin - a.bin)) < 1e-6


def test_key_profile_hand_computed(spark, monkeypatch, tmp_path):
    """Key freqs {1:3, 2:1}: rows 4, distinct 2, hottest 3, p99 index
    ceil(99·2/100)=2 → the sorted-ascending 2nd frequency = 3."""
    from datetime import datetime as dt

    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import cdc_queries

    orders = [
        (k, c, "F", 1.0, dt(2024, 1, 1), "1-URGENT")
        for k, c in [(1, 7), (2, 7), (3, 7), (4, 8)]
    ]
    out = str(tmp_path / "orders.parquet")
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
    ).write.parquet(out)
    import aws_big_data_blog_dmscdc_walkthrough_spark.session as sess

    real = sess.load_table
    monkeypatch.setattr(
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.cdc_queries.load_table",
        lambda sp, sf, t: sp.read.parquet(out) if t == "orders" else real(sp, sf, t),
    )
    got = {
        r.join_key: r for r in cdc_queries.lake_key_profile(spark, SF_SMOKE).collect()
    }
    r = got["orders.o_custkey"]
    assert (r.n_rows, r.n_distinct, r.max_key_freq, r.p99_key_freq) == (4, 2, 3, 3)


def test_percentile_rank_ties_and_bounds(spark, monkeypatch, tmp_path):
    """Prices 10,20,20,30 in one segment: pct = 0, 1/3, 1/3, 1 — ties
    share a rank and the transform spans [0, 1]."""
    from datetime import datetime as dt

    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import analytics

    orders = [
        (i, 1, "F", p, dt(2024, 1, 1), "1-URGENT")
        for i, p in [(1, 10.0), (2, 20.0), (3, 20.0), (4, 30.0)]
    ]
    op = str(tmp_path / "orders.parquet")
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
    ).write.parquet(op)
    cp = str(tmp_path / "customer.parquet")
    spark.createDataFrame(
        [(1, "c1", 0, 0.0, "SEG")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    ).write.parquet(cp)
    import aws_big_data_blog_dmscdc_walkthrough_spark.session as sess

    real = sess.load_table
    routes = {"orders": op, "customer": cp}
    monkeypatch.setattr(
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.analytics.load_table",
        lambda sp, sf, t: sp.read.parquet(routes[t]) if t in routes else real(sp, sf, t),
    )
    got = {
        r.o_orderkey: r.pct_rank
        for r in analytics.q_orders_percentile(spark, "ignored").collect()
    }
    assert got == {1: 0.0, 2: 1.0 / 3.0, 3: 1.0 / 3.0, 4: 1.0}


def test_mad_outliers_hand_computed(spark, monkeypatch, tmp_path):
    """Prices 10,10,10,10,1000 (odd n): median 10, deviations
    0,0,0,0,990 → MAD 0... so use 9,10,10,11,1000: median 10, devs
    1,0,0,1,990 → MAD 1; the 1000 row is the single >K·MAD outlier."""
    from datetime import datetime as dt

    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import analytics

    prices = [9.0, 10.0, 10.0, 11.0, 1000.0]
    orders = [
        (i, 1, "F", p, dt(2024, 1, 1), "1-URGENT") for i, p in enumerate(prices)
    ]
    op = str(tmp_path / "orders.parquet")
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
    ).write.parquet(op)
    cp = str(tmp_path / "customer.parquet")
    spark.createDataFrame(
        [(1, "c1", 0, 0.0, "SEG")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    ).write.parquet(cp)
    import aws_big_data_blog_dmscdc_walkthrough_spark.session as sess

    real = sess.load_table
    routes = {"orders": op, "customer": cp}
    monkeypatch.setattr(
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.analytics.load_table",
        lambda sp, sf, t: sp.read.parquet(routes[t]) if t in routes else real(sp, sf, t),
    )
    [r] = analytics.q_orders_mad_outliers(spark, "ignored").collect()
    assert (r.n_orders, r.median_price, r.mad, r.n_outliers) == (5, 10.0, 1.0, 1)


def test_funnel_windowed_hand_computed(spark, monkeypatch, tmp_path):
    """User 1 completes all steps in-window; user 2's purchase misses
    the 48 h window after its click (no credit); user 3 clicks before
    signing up (no credit); earliest-completion picks the FIRST
    eligible click even when a later one also qualifies."""
    from datetime import datetime as dt

    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import analytics

    rows = [
        (1, dt(2024, 1, 1, 0), 1, "signup", 0.0),
        (2, dt(2024, 1, 1, 5), 1, "click", 0.0),
        (3, dt(2024, 1, 2, 0), 1, "click", 0.0),   # later click: ignored
        (4, dt(2024, 1, 1, 6), 1, "purchase", 0.0),
        (5, dt(2024, 1, 1, 0), 2, "signup", 0.0),
        (6, dt(2024, 1, 1, 1), 2, "click", 0.0),
        (7, dt(2024, 1, 10, 0), 2, "purchase", 0.0),  # outside 48 h
        (8, dt(2024, 1, 5, 0), 3, "signup", 0.0),
        (9, dt(2024, 1, 4, 0), 3, "click", 0.0),      # before signup
    ]
    out = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    ).write.parquet(out)
    _route_table(
        monkeypatch,
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.analytics",
        "events",
        out,
    )
    got = {
        r.step: (r.step_name, r.n_users, round(r.rate_from_first, 9))
        for r in analytics.q_events_funnel_windowed(spark, "ignored").collect()
    }
    assert got == {
        1: ("signup", 3, 1.0),
        2: ("click", 2, round(2 / 3, 9)),
        3: ("purchase", 1, round(1 / 3, 9)),
    }


def test_peak_concurrency_no_day_grain_window(spark, monkeypatch, tmp_path):
    """Round-12 rewrite guard (#148): the sweep's running sum must
    partition on (day, chunk), never a whole day — a busy day at 100 TB
    is otherwise ONE task's sort + sequential sum, and AQE cannot split
    a window partition. Also pins the two-level composition (within-
    chunk running sum + prefix-summed chunk offsets) against a
    hand-computed curve that crosses both a chunk and a day boundary."""
    import re
    from datetime import datetime as dt

    # three users: A 00:30-01:30 (crosses the 01:00 chunk boundary),
    # B 00:45-00:50, C 23:50-00:20 next day (crosses midnight).
    # Events 30 min apart chain into one session (gap is 1800 s,
    # strictly-greater splits).
    rows, eid = [], 0

    def span(uid, start, end):
        nonlocal eid
        t = start
        while t <= end:
            rows.append((eid, t, uid, "view", 0.0))
            eid += 1
            t = t + __import__("datetime").timedelta(minutes=30)

    span(1, dt(2024, 1, 1, 0, 30), dt(2024, 1, 1, 1, 30))
    span(2, dt(2024, 1, 1, 0, 45), dt(2024, 1, 1, 0, 50))
    span(3, dt(2024, 1, 1, 23, 50), dt(2024, 1, 2, 0, 20))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double",
    )
    out = str(tmp_path / "events.parquet")
    df.write.parquet(out)
    _route_table(
        monkeypatch,
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.analytics",
        "events",
        out,
    )
    # force the DISTRIBUTED sweep: this test pins its plan shape (the
    # round-14 local solve has no window at all; its values are pinned
    # by test_peak_concurrency_local_and_distributed_paths_agree)
    monkeypatch.setenv("SPARK_GRAFT_FORCE_DISTRIBUTED", "1")
    res = analytics.q_events_peak_concurrency(spark, "ignored")
    got = {
        str(r.day)[:10]: (r.peak_concurrency, r.ts_at_peak_us)
        for r in res.collect()
    }
    # day 1 peak: A and B overlap from 00:45 (B's start); C alone later.
    # day 2: C's clipped tail alone from 00:00.
    us = lambda *a: int(dt(*a).timestamp() * 1_000_000)
    assert got == {
        "2024-01-01": (2, us(2024, 1, 1, 0, 45)),
        "2024-01-02": (1, us(2024, 1, 2)),
    }
    plan = res._jdf.queryExecution().optimizedPlan().toString()
    sweep_specs = [
        s
        for s in re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        if "ts_us" in s and "delta" in s
    ]
    assert sweep_specs, "sweep window not found in plan"
    for s in sweep_specs:
        assert "_chunk" in s, f"sweep window partitions a whole day: {s}"


def test_daily_anomaly_hand_computed(spark, monkeypatch, tmp_path):
    """A planted spike after a flat baseline: 14 days at 10/day, then a
    day at 30. Baseline must not be constant (z undefined), so day 7
    has 12. m=14, s=142, q=1444: var_num = 14*1444 - 142^2 = 52;
    z = (14*30 - 142)/sqrt(52)."""
    import math
    from datetime import datetime as dt, timedelta

    rows, eid = [], 0
    for d in range(14):
        n = 12 if d == 7 else 10
        for i in range(n):
            rows.append((eid, dt(2024, 1, 1 + d, 1, i), 1, "view", 0.0))
            eid += 1
    for i in range(30):
        rows.append((eid, dt(2024, 1, 15, 1, i), 1, "view", 0.0))
        eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double",
    )
    out = str(tmp_path / "events.parquet")
    df.write.parquet(out)
    _route_table(
        monkeypatch,
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.analytics",
        "events",
        out,
    )
    got = analytics.q_events_daily_anomaly(spark, "ignored").collect()
    assert len(got) == 1
    r = got[0]
    assert str(r.day)[:10] == "2024-01-15" and r.n_events == 30
    assert r.baseline_days == 14
    assert r.z == (14 * 30 - 142) / math.sqrt(14 * 1444 - 142 * 142)


def test_part_neighbors_hand_computed(spark, monkeypatch, tmp_path):
    """Three baskets over parts {1,2} x3 — c_1=c_2=3, c_12=3, cosine 1.0
    — plus part 3 with one shared basket (below min-support, pruned)."""
    import aws_big_data_blog_dmscdc_walkthrough_spark.plans.analytics as A

    rows = []
    for o in (1, 2, 3):
        rows += [(o, 1), (o, 2)]
    rows += [(3, 3)]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    out = str(tmp_path / "lineitem.parquet")
    df.write.parquet(out)
    _route_table(
        monkeypatch,
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.analytics",
        "lineitem",
        out,
    )
    got = {
        (r.p_partkey, r.neighbor_partkey): (r.n_baskets, r.cosine, r.rank)
        for r in A.q_part_neighbors(spark, "ignored").collect()
    }
    assert got == {(1, 2): (3, 1.0, 1), (2, 1): (3, 1.0, 1)}


def test_event_trigrams_hand_computed(spark, monkeypatch, tmp_path):
    """One session a-b-c-b-c (trigrams abc, bcb, cbc) plus a gap-split
    second session whose boundary must NOT produce a cross-session
    trigram."""
    from datetime import datetime as dt, timedelta

    base = dt(2024, 1, 1, 0, 0)
    seq = ["a", "b", "c", "b", "c"]
    rows = [(i, base + timedelta(minutes=i), 1, t, 0.0) for i, t in enumerate(seq)]
    # second session, same user, 2 h later: d-e-f
    b2 = base + timedelta(hours=3)
    rows += [
        (10 + i, b2 + timedelta(minutes=i), 1, t, 0.0)
        for i, t in enumerate(["d", "e", "f"])
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double",
    )
    out = str(tmp_path / "events.parquet")
    df.write.parquet(out)
    _route_table(
        monkeypatch,
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.analytics",
        "events",
        out,
    )
    got = {
        (r.step1, r.step2, r.step3): r.n
        for r in analytics.q_events_trigrams(spark, "ignored").collect()
    }
    assert got == {
        ("a", "b", "c"): 1,
        ("b", "c", "b"): 1,
        ("c", "b", "c"): 1,
        ("d", "e", "f"): 1,
    }


def test_auc_length_perfect_and_chance(spark, monkeypatch, tmp_path):
    """src_long's docs are all strictly longer than everything else ->
    AUC 1.0; src_tie's lengths are identical to the others' -> the
    tie-corrected U gives exactly 0.5."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import corpus_ml

    rows = []
    did = 0
    for _ in range(4):  # 3-token docs in two sources
        rows.append((did, "a b c", "en", "src_tie", 5)); did += 1
        rows.append((did, "x y z", "en", "src_other", 5)); did += 1
    for _ in range(3):  # strictly longer docs, one source
        rows.append((did, "w w w w w w w", "en", "src_long", 13)); did += 1
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    out = str(tmp_path / "documents.parquet")
    df.write.parquet(out)
    _route_table(
        monkeypatch,
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.corpus_ml",
        "documents",
        out,
    )
    got = {
        r.source: (r.n_pos, r.n_neg, r.auc)
        for r in corpus_ml.eval_auc_length(spark, "ignored").collect()
    }
    assert got["src_long"] == (3, 8, 1.0)
    # src_tie: 4 pos vs 8 neg — 4 neg share its length (half credit),
    # 3 neg strictly above, 0 strictly below... compute: U2 = sum over
    # its one score value: 2*negb*p + p*g with negb=0? src_tie len 3,
    # others: 4 docs len 3, 3 docs len 7. negb(3)=0, p=4, g at 3 = 4;
    # at 7: p=0. U2 = 4*4 = 16; npos*nneg*2 = 4*7*2 = 56. AUC = 16/56.
    assert got["src_tie"] == (4, 7, 16 / 56)


def test_burstiness_hand_computed(spark, monkeypatch, tmp_path):
    """'hot' appears 4x in one doc of four (clumped): VMR =
    (4*16-16)/(4*4) = 3.0. 'flat' once per doc: VMR = (4*4-16)/(4*4)
    = 0.0 (sub-Poisson, evenly spread)."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import corpus_ml

    monkeypatch.setattr(corpus_ml, "BURSTINESS_MIN_DF", 1)
    rows = [
        (0, "hot hot hot hot flat", "en", "s", 1),
        (1, "flat", "en", "s", 1),
        (2, "flat", "en", "s", 1),
        (3, "flat", "en", "s", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    out = str(tmp_path / "documents.parquet")
    df.write.parquet(out)
    _route_table(
        monkeypatch,
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.corpus_ml",
        "documents",
        out,
    )
    got = {
        r.term: (r.doc_freq, r.total_tf, r.burstiness)
        for r in corpus_ml.corpus_burstiness(spark, "ignored").collect()
    }
    assert got == {"hot": (1, 4, 3.0), "flat": (4, 4, 0.0)}


def test_burstiness_topk_is_distributed(spark, monkeypatch, tmp_path):
    """Round-13 rewrite guard (#163): the top-k must run as Spark's
    distributed TakeOrderedAndProject (per-partition heaps), never a
    partition-less row_number window over the df >= MIN_DF vocabulary
    — 10^7-10^8 candidate terms at 100 TB would otherwise sort in ONE
    task. The rank-stamp window is allowed only ABOVE the global
    top-k, where the frame is bounded at TOP_K rows."""
    import re

    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import corpus_ml

    rows = [(i, f"w{i} shared", "en", "s", 8) for i in range(4)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    out = str(tmp_path / "documents.parquet")
    df.write.parquet(out)
    _route_table(
        monkeypatch,
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.corpus_ml",
        "documents",
        out,
    )
    res = corpus_ml.corpus_burstiness(spark, "ignored")
    phys = res._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in phys, phys
    # exactly one window (the rank stamp), and it must consume the
    # global top-k — i.e. sit ABOVE TakeOrderedAndProject in the tree
    # (appear BEFORE it in the printed plan), never below on the
    # vocabulary-scale frame.
    win_at = [m.start() for m in re.finditer(r"\bWindow\b", phys)]
    assert len(win_at) == 1, phys
    assert win_at[0] < phys.index("TakeOrderedAndProject"), phys


def test_dedup_unicode_composed_decomposed(spark, monkeypatch, tmp_path):
    """NFC collapses composed U+00E9 with decomposed e+U+0301, and the
    whitespace collapse folds run-of-spaces variants; a genuinely
    different doc stays its own group."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import llm_queries

    composed = "café au lait"
    decomposed = "café au   lait"
    rows = [
        (0, composed, "fr", "s", 12),
        (1, decomposed, "fr", "s", 14),
        (2, "espresso", "it", "s", 8),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    out = str(tmp_path / "documents.parquet")
    df.write.parquet(out)
    _route_table(
        monkeypatch,
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.llm_queries",
        "documents",
        out,
    )
    got = {
        r.doc_id: (r.canonical_id, r.group_size)
        for r in llm_queries.dedup_unicode(spark, "ignored").collect()
    }
    assert got == {0: (0, 2), 1: (0, 2), 2: (2, 1)}


def test_lexical_diversity_hand_computed(spark, monkeypatch, tmp_path):
    """'template' source repeats one form (low TTR, no hapax beyond the
    varying slot); 'organic' is all-distinct (TTR 1, hapax share 1)."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import corpus_ml

    rows = [
        (0, "buy now buy now", "en", "template", 1),  # 4 tokens, 2 types
        (1, "buy now buy now", "en", "template", 1),  # -> 8 tokens, 2 types, 0 hapax
        (2, "every word here differs", "en", "organic", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    out = str(tmp_path / "documents.parquet")
    df.write.parquet(out)
    _route_table(
        monkeypatch,
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.corpus_ml",
        "documents",
        out,
    )
    got = {
        r.source: (r.n_tokens, r.n_types, r.n_hapax, r.ttr, r.hapax_share)
        for r in corpus_ml.corpus_lexical_diversity(spark, "ignored").collect()
    }
    assert got == {
        "template": (8, 2, 0, 0.25, 0.0),
        "organic": (4, 4, 4, 1.0, 1.0),
    }


def test_repetition_indices_hand_computed(spark, monkeypatch, tmp_path):
    """'a a b': N=3, V=2, S2=5 -> K = 1e4*(5-3)/9, D = (5-3)/(3*2)."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import corpus_ml

    df = spark.createDataFrame(
        [(0, "a a b", "en", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    out = str(tmp_path / "documents.parquet")
    df.write.parquet(out)
    _route_table(
        monkeypatch,
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.corpus_ml",
        "documents",
        out,
    )
    rows = corpus_ml.corpus_repetition_indices(spark, "ignored").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_tokens, r.n_types) == (3, 2)
    assert r.yule_k == 10000.0 * 2.0 / 9.0
    assert r.simpson_d == 2.0 / 6.0


def test_zipf_spine_hand_computed(spark, monkeypatch, tmp_path):
    """a,b 3x each; c once: spine (freq 3, v=2, avg_rank 1.5),
    (freq 1, v=1, prior 2, avg_rank 3.0)."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import corpus_ml

    df = spark.createDataFrame(
        [(0, "a a a b b b c", "en", "s", 13)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    out = str(tmp_path / "documents.parquet")
    df.write.parquet(out)
    _route_table(
        monkeypatch,
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.corpus_ml",
        "documents",
        out,
    )
    got = {
        r.freq: (r.n_types, r.n_more_frequent, r.avg_rank)
        for r in corpus_ml.corpus_zipf_spine(spark, "ignored").collect()
    }
    assert got == {3: (2, 0, 1.5), 1: (1, 2, 3.0)}


def test_chi2_keywords_hand_computed(spark, monkeypatch, tmp_path):
    """Term 'x' only in source A (2 of 2 docs), absent from B (2 docs):
    a=2 b=0 c=0 d=2, chi2 = 4*(2*2)^2/(2*2*2*2) = 4.0. The shared term
    has ad-bc = 0 and is excluded (not over-represented)."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import corpus_ml

    monkeypatch.setattr(corpus_ml, "CHI2_MIN_DF", 1)
    rows = [
        (0, "x shared", "en", "A", 8),
        (1, "x shared", "en", "A", 8),
        (2, "shared other", "en", "B", 12),
        (3, "shared other", "en", "B", 12),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    out = str(tmp_path / "documents.parquet")
    df.write.parquet(out)
    _route_table(
        monkeypatch,
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.corpus_ml",
        "documents",
        out,
    )
    got = {
        (r.source, r.term): (r.df_in_source, r.df_elsewhere, r.chi2, r.rank)
        for r in corpus_ml.corpus_chi2_keywords(spark, "ignored").collect()
    }
    assert got == {
        ("A", "x"): (2, 0, 4.0, 1),
        ("B", "other"): (2, 0, 4.0, 1),
    }


def test_ingest_novelty_hand_computed(spark, monkeypatch, tmp_path):
    """max_id 9 -> width 1 -> batch = doc_id. Batch 0 introduces both
    its trigrams; batch 9 re-sees 'a b c' and introduces 'b c x'."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import corpus_ml

    rows = [
        (0, "a b c d", "en", "s", 7),
        (9, "a b c x", "en", "s", 7),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    out = str(tmp_path / "documents.parquet")
    df.write.parquet(out)
    _route_table(
        monkeypatch,
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.corpus_ml",
        "documents",
        out,
    )
    got = {
        r.batch: (r.n_trigrams, r.n_new, r.new_share)
        for r in corpus_ml.corpus_ingest_novelty(spark, "ignored").collect()
    }
    assert got == {0: (2, 2, 1.0), 9: (2, 1, 0.5)}


def test_assortativity_hand_computed(spark, monkeypatch, tmp_path):
    """Path graph 1-2-3 (each pair co-purchased in 2 baskets): degrees
    1,2,1; directed edges (1,2)(2,1)(2,3)(3,2) give r = -1.0 (perfectly
    disassortative)."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import analytics

    li = []
    for o, (pa, pb) in enumerate([(1, 2), (1, 2), (2, 3), (2, 3)]):
        li += [(o, pa), (o, pb)]
    df = spark.createDataFrame(li, "l_orderkey long, l_partkey long")
    out = str(tmp_path / "lineitem.parquet")
    df.write.parquet(out)
    _route_table(
        monkeypatch,
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.analytics",
        "lineitem",
        out,
    )
    rows = analytics.q_copurchase_assortativity(spark, "ignored").collect()
    assert len(rows) == 1
    assert (rows[0].n_nodes, rows[0].n_directed_edges) == (3, 4)
    assert rows[0].assortativity == -1.0


def test_benford_hand_computed(spark, monkeypatch, tmp_path):
    """4 totals leading with 1, one with 9: shares 0.8/0.2, deviations
    against the pinned literal expectations; sub-1 totals excluded."""
    from datetime import datetime as dt

    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import analytics

    rows = [
        (i, i, "F", p, dt(2024, 1, 1), "1-URGENT")
        for i, p in enumerate([150.0, 12.5, 199.9, 1000.0, 950.0, 0.5])
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    out = str(tmp_path / "orders.parquet")
    df.write.parquet(out)
    _route_table(
        monkeypatch,
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.analytics",
        "orders",
        out,
    )
    got = {
        r.digit: (r.n_orders, r.observed_share, r.expected_share, r.deviation)
        for r in analytics.q_orders_benford(spark, "ignored").collect()
    }
    e1 = analytics.BENFORD_EXPECTED[1]
    e9 = analytics.BENFORD_EXPECTED[9]
    assert got == {1: (4, 0.8, e1, 0.8 - e1), 9: (1, 0.2, e9, 0.2 - e9)}


def test_cluster_source_span_hand_computed(spark, monkeypatch, tmp_path):
    """One exact-dup pair across sources (span 2), one within a source
    (span 1), one singleton (excluded)."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import llm_queries

    rows = [
        (0, "same text here", "en", "A", 14),
        (1, "same text here", "en", "B", 14),
        (2, "other dup words", "en", "A", 15),
        (3, "other dup words", "en", "A", 15),
        (4, "a unique document", "en", "B", 17),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    out = str(tmp_path / "documents.parquet")
    df.write.parquet(out)
    _route_table(
        monkeypatch,
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.llm_queries",
        "documents",
        out,
    )
    got = {
        r.n_sources: (r.n_clusters, r.n_docs)
        for r in llm_queries.dedup_cluster_source_span(spark, "ignored").collect()
    }
    assert got == {2: (1, 2), 1: (1, 2)}


def test_source_tvd_hand_computed(spark, monkeypatch, tmp_path):
    """A = {a:2, b:1} (N=3), B = {a:1, c:1} (N=2). Common term a:
    |2*2 - 1*3| = 1; only-in-A mass (3-2)*2 = 2; only-in-B (2-1)*3 = 3.
    TVD = (1+2+3)/(2*3*2) = 0.5."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import corpus_ml

    rows = [
        (0, "a a b", "en", "A", 5),
        (1, "a c", "en", "B", 3),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    out = str(tmp_path / "documents.parquet")
    df.write.parquet(out)
    _route_table(
        monkeypatch,
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.corpus_ml",
        "documents",
        out,
    )
    rows = corpus_ml.corpus_source_tvd(spark, "ignored").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.source_a, r.source_b, r.n_tokens_a, r.n_tokens_b) == ("A", "B", 3, 2)
    assert r.tvd == 0.5


def test_customer_cadence_hand_computed(spark, monkeypatch, tmp_path):
    """Customer 1 orders on days 0, 0, 10 (same-day gap 0 kept): gaps
    [0, 10] -> min 0, max 10, mean 5.0, span 10. Customer 2 has only
    two orders and is filtered."""
    from datetime import datetime as dt

    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import analytics

    rows = [
        (1, 1, "F", 10.0, dt(2024, 1, 1), "1-URGENT"),
        (2, 1, "F", 10.0, dt(2024, 1, 1), "1-URGENT"),
        (3, 1, "F", 10.0, dt(2024, 1, 11), "1-URGENT"),
        (4, 2, "F", 10.0, dt(2024, 1, 1), "1-URGENT"),
        (5, 2, "F", 10.0, dt(2024, 1, 5), "1-URGENT"),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    out = str(tmp_path / "orders.parquet")
    df.write.parquet(out)
    _route_table(
        monkeypatch,
        "aws_big_data_blog_dmscdc_walkthrough_spark.plans.analytics",
        "orders",
        out,
    )
    got = {
        r.o_custkey: (r.n_orders, r.min_gap_days, r.max_gap_days,
                      r.mean_gap_days, r.span_days)
        for r in analytics.q_customer_cadence(spark, "ignored").collect()
    }
    assert got == {1: (3, 0, 10, 5.0, 10)}


def test_peak_concurrency_local_and_distributed_paths_agree(spark, distributed):
    """The driver-side #148 sweep (small-scan gate) and the two-level
    distributed sweep emit identical rows — the computation is integer
    epoch-microsecond arithmetic end to end."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import analytics as A

    sf = "/root/testdata/sf0.001"

    def rows():
        return sorted(
            tuple(r) for r in A.q_events_peak_concurrency(spark, sf).collect()
        )

    local = rows()  # small scan -> local sweep
    with distributed():  # force the distributed sweep
        dist = rows()
    assert local and local == dist


def test_mad_outliers_local_and_distributed_paths_agree(spark, distributed):
    """The driver-side #146 report (small-scan gate) matches the
    distributed two-median plan bit-for-bit — the local medians
    replicate Spark's Percentile(0.5) interpolation on the sorted
    doubles."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import analytics as A

    sf = "/root/testdata/sf0.001"

    def rows():
        return sorted(
            tuple(r) for r in A.q_orders_mad_outliers(spark, sf).collect()
        )

    local = rows()  # small scan -> local solve
    with distributed():  # force the distributed plan
        dist = rows()
    assert local and local == dist


def test_attribution_linear_local_and_distributed_paths_agree(spark, distributed):
    """The driver-side #131 report (small-scan gate) matches the
    distributed range-join plan — IEEE per-pair credit division plus a
    Python-Decimal replay of the DECIMAL(30,10) sums."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import analytics as A

    sf = "/root/testdata/sf0.001"

    def rows():
        return sorted(
            tuple(r)
            for r in A.q_events_attribution_linear(spark, sf).collect()
        )

    local = rows()  # small scan -> local solve
    with distributed():  # force the distributed plan
        dist = rows()
    assert local and local == dist
