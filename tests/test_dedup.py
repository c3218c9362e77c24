"""Dedup operator semantics on planted fixtures."""

import pytest
from aws_big_data_blog_dmscdc_walkthrough_spark.operators import dedup

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog every single day", "a"),
    (2, "the quick brown fox jumps over the lazy dog every single day", "a"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog every single day extra", "a"),  # near dup of 1
    (4, "completely different text about spark query engines and shuffles here", "a"),
    (5, "unrelated words describing benchmark harness timing measurement loops", "b"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, source string")


def test_exact_dedup_groups(spark):
    out = {r.doc_id: r for r in dedup.exact_dedup(_docs(spark), "doc_id", "text").collect()}
    assert out[1].canonical_id == 1 and out[2].canonical_id == 1
    assert out[1].group_size == 2
    assert out[3].canonical_id == 3 and out[3].group_size == 1


def test_ngram_jaccard_finds_near_dup(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            _docs(spark), "doc_id", "text", ["source"], 0.2
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0  # exact dup
    assert 0.2 <= pairs[(1, 3)] < 1.0  # near dup
    assert (1, 4) not in pairs


def test_minhash_lsh_finds_dups(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_lsh_pairs(_docs(spark), "doc_id", "text", threshold=0.2).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs  # near dup shares at least one band
    assert (1, 4) not in pairs


def test_minhash_bucket_cap_drops_hot_buckets(spark):
    # cap=1 means no bucket can pair anything → empty result
    out = dedup.minhash_lsh_pairs(
        _docs(spark), "doc_id", "text", threshold=0.0, bucket_cap=1
    )
    assert out.count() == 0


def test_simhash_near_dup_low_hamming(spark):
    sigs = {r.doc_id: r.simhash for r in dedup.simhash_signatures(_docs(spark), "doc_id", "text").collect()}
    ham = lambda a, b: bin(sigs[a] ^ sigs[b]).count("1")
    assert ham(1, 2) == 0          # identical text → identical signature
    assert ham(1, 3) < ham(1, 4)   # near dup closer than unrelated
    pairs = {(r.id_a, r.id_b): r.hamming for r in dedup.simhash_pairs(_docs(spark), "doc_id", "text", 20).collect()}
    assert pairs[(1, 2)] == 0


def test_ngram_default_length_blocking_matches_all_pairs(spark):
    from pyspark.sql import functions as F

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import dedup
    from aws_big_data_blog_dmscdc_walkthrough_spark.session import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    allp = dedup.ngram_jaccard_pairs(
        docs.withColumn("_one", F.lit(1)), "doc_id", "text", ["_one"], 0.2
    )
    lb = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", (), 0.2)
    ap = {(r.id_a, r.id_b): round(r.jaccard, 12) for r in allp.collect()}
    lbp = {(r.id_a, r.id_b): round(r.jaccard, 12) for r in lb.collect()}
    assert ap == lbp


def test_ngram_block_cap_bounds_pathological_corpus(spark):
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import dedup

    # one-block corpus: every doc identical length -> same length bucket
    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.ngram_jaccard_pairs(df, "doc_id", "text", (), 0.2, block_cap=50)
    # overfull group dropped entirely (documented recall tradeoff, same
    # semantics as the LSH bucket_cap) -> bounded, not O(n^2)
    assert capped.count() == 0
    uncapped_small = dedup.ngram_jaccard_pairs(
        df.limit(20), "doc_id", "text", (), 0.2, block_cap=50
    )
    assert uncapped_small.count() == 20 * 19 // 2


def test_ngram_block_cap_rescores_cold_survivors_exactly(spark):
    """Round-9 advice repro: with block_cap set, a pair that still meets
    via COLD shingles must be emitted with its EXACT jaccard (full
    arrays), not the understated cold-only count — the cap may only
    OMIT pairs, never change a reported value."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import dedup

    # 60 docs all share one hot shingle source ("omega psi chi" k=3 runs
    # through every text); doc pairs (2i, 2i+1) additionally share a
    # long cold tail, so they meet via cold shingles even when the hot
    # postings are dropped.
    rows = []
    for i in range(30):
        tail = f"tail{i} alpha{i} beta{i} gamma{i} delta{i} epsilon{i}"
        rows.append((2 * i, f"omega psi chi {tail} one"))
        rows.append((2 * i + 1, f"omega psi chi {tail} two"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r.id_a, r.id_b): round(r.jaccard, 12)
        for r in dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", (), 0.3
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b): round(r.jaccard, 12)
        for r in dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", (), 0.3, block_cap=10
        ).collect()
    }
    assert capped  # the cold tails keep the twin pairs alive
    # capped ⊆ exact with IDENTICAL values (omission-only semantics)
    for pair, j in capped.items():
        assert exact[pair] == j
    assert set(capped) <= set(exact)


def test_release_persisted_drains_all_caches(spark, distributed):
    import __spark_entry__ as entry_mod
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import dedup
    from tests.conftest import SF_SMOKE

    # Assert on the DELTA vs caches already present in the shared
    # session (earlier tests' localCheckpoints linger until the context
    # cleaner collects them — test-order noise, not tracker leaks).
    def live_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    baseline = live_ids()
    qs = entry_mod.queries()
    # Force the DISTRIBUTED plans: the round-14 fused small-input paths
    # persist nothing (one mapInPandas task), so only the distributed
    # shapes exercise the tracker this test pins.
    with distributed():
        qs["dedup_minhash_lsh"](spark, SF_SMOKE).count()
        assert len(live_ids() - baseline) > 0
        dedup.release_persisted()
        assert len(live_ids() - baseline) == 0
        # the next queries() entry releases the previous one's caches itself
        qs["dedup_simhash"](spark, SF_SMOKE).count()
        n_after_simhash = len(live_ids() - baseline)
        qs["dedup_exact"](spark, SF_SMOKE).count()
        assert len(live_ids() - baseline) < max(n_after_simhash, 1)
        dedup.release_persisted()


@pytest.mark.slow
def test_decontaminate_flags_eval_overlap(spark):
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated text about compilers and parsers here"),
            (3, "the quick brown fox jumps over something else entirely today"),
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog again")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.overlap_ngrams
        for r in decontaminate(
            docs, eval_docs, "doc_id", "text", k=5, min_overlap=3
        ).collect()
    }
    # doc 1 shares many 5-gram windows with the eval doc; doc 3 shares
    # exactly two ("the quick brown fox jumps", "quick brown fox jumps
    # over") -> below min_overlap=3; doc 2 shares none
    assert 1 in out and out[1] >= 3
    assert 2 not in out and 3 not in out


def test_scan_bytes_and_planned_partitions_read_spark_plan(spark, tmp_path):
    """scan_bytes sums the file-relation leaves of the analyzed plan: the
    on-disk bytes of the files, before and after spread(), counted once
    for a self-union, None when no file is read. The planned-partition
    count equals the partitions of Spark's own scan. Checked on a
    multi-file parquet directory and on a lake table read through
    manifest.read_files."""
    import glob
    import os

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators.dedup import (
        _planned_scan_partitions,
        release_persisted,
        scan_bytes,
        spread,
    )
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import lake_writer, manifest

    rows = spark.range(64).selectExpr("id", "cast(id * 7 as string) AS s")
    parts_dir = str(tmp_path / "parts")
    rows.repartition(8).write.parquet(parts_dir)
    lake = str(tmp_path / "lake")
    lake_writer.write_initial(rows.repartition(3), lake)
    man = manifest.read_manifest(spark, lake)
    frames = {
        parts_dir: spark.read.parquet(parts_dir),
        lake: manifest.read_files(
            spark, lake, man["files"], manifest.table_schema(spark, lake, man)
        ),
    }
    for path, df in frames.items():
        on_disk = sum(
            os.path.getsize(f)
            for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
        )
        assert on_disk > 0
        assert scan_bytes(df) == on_disk
        assert scan_bytes(df.union(df)) == on_disk
        assert _planned_scan_partitions(df) == df.rdd.getNumPartitions()
        # spread's two outcomes: the frame itself, or a repartitioned
        # persisted frame, whose inputFiles() reads the cache
        persisted = df.repartition(2).persist()
        for out in (spread(df, min_bytes=0), persisted):
            assert scan_bytes(out) == on_disk
            assert scan_bytes(out.select("id")) == on_disk
        persisted.unpersist()
    release_persisted()
    assert scan_bytes(spark.createDataFrame([(1,)], "x long")) is None
    assert _planned_scan_partitions(spark.createDataFrame([(1,)], "x long")) is None


def test_split_minhash_pairs_matches_two_frame_form(spark):
    """The one-table split form must be row-identical to calling the
    two-frame operator with the predicate-filtered frames — the round-14
    rewrite only moves WHERE the split happens (after signing instead of
    before), and the signature UDFs are row-wise."""
    from pyspark.sql import functions as F

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import dedup as dd

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        (r.new_id, r.corpus_id, round(r.jaccard, 9))
        for r in dd.split_minhash_pairs(
            docs, "doc_id", "text", lambda c: c % 3 == 0, threshold=0.3
        ).collect()
    }
    want = {
        (r.new_id, r.corpus_id, round(r.jaccard, 9))
        for r in dd.incremental_minhash_pairs(
            docs.where(F.col("doc_id") % 3 == 0),
            docs.where(F.col("doc_id") % 3 != 0),
            "doc_id",
            "text",
            threshold=0.3,
        ).collect()
    }
    assert got == want
    assert want  # fixture actually produces cross-side near-dups


@pytest.mark.slow
def test_minhash_fused_and_distributed_paths_agree(spark, distributed):
    """The small-input fused MinHash-LSH plan (one mapInPandas task)
    and the distributed banded-join plan emit the same pairs with
    bit-identical jaccard doubles — the fused band test and posting
    intersection reproduce the banded self-join + array_intersect
    exactly."""
    import random

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import dedup as dd

    rng = random.Random(14)
    vocab = [f"w{i}" for i in range(50)]
    rows = []
    for i in range(150):
        base = rng.sample(vocab, 15)
        rows.append((2 * i, " ".join(base)))
        mut = list(base)
        for _ in range(rng.randint(0, 5)):
            mut[rng.randrange(len(mut))] = rng.choice(vocab)
        rows.append((2 * i + 1, " ".join(mut)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def run(threshold):
        dd.release_persisted()
        return {
            (r.id_a, r.id_b): r.jaccard
            for r in dd.minhash_lsh_pairs(
                docs, "doc_id", "text", threshold=threshold
            ).collect()
        }

    # bucket_cap / threshold<=0 callers must keep the distributed plan
    # (the cap's recall set is defined on band buckets there; the fused
    # composition argument needs threshold > 0). Checked outside the
    # forced-distributed block below, where every gate reads "huge".
    assert dd._minhash_direct_eligible(docs, 0.5, None)
    assert not dd._minhash_direct_eligible(docs, 0.5, 500)
    assert not dd._minhash_direct_eligible(docs, 0.0, None)

    fused = run(0.3)  # fixture input -> small -> fused path
    with distributed():  # force the distributed path
        dist = run(0.3)
    assert len(fused) > 30  # the corpus really is dense
    assert fused == dist  # same pairs AND bit-identical doubles

    # the #88 source-matrix mode aggregates the same pair set in-task:
    # rebuild the expected matrix from the fused pair output
    from pyspark.sql import functions as F

    docs_src = docs.withColumn("source", (F.col("doc_id") % 3).cast("string"))
    dd.release_persisted()
    mat = {
        (r.source_a, r.source_b): (r.n_pairs, r.max_jaccard)
        for r in dd._minhash_pairs_direct(
            docs_src, "doc_id", "text", 0.3, 2, source_matrix_col="source"
        ).collect()
    }
    want: dict = {}
    for (ia, ib), j in fused.items():
        key = tuple(sorted((str(ia % 3), str(ib % 3))))
        n, mx = want.get(key, (0, 0.0))
        want[key] = (n + 1, max(mx, j))
    assert mat == want
    dd.release_persisted()


def test_tf_cosine_fused_and_distributed_paths_agree(spark, distributed):
    """The small-input fused TF-cosine plan (Catalyst-built term
    arrays, weighted posting dots in one task) and the distributed
    prefix-filtered plan emit the same pairs with bit-identical
    cosines — the fused path skips the (lossless, superset-only)
    prefix filter and scores every co-shingled pair exactly."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import dedup as dd

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def run():
        dd.release_persisted()
        return sorted(
            (r.id_a, r.id_b, r.cosine)
            for r in dd.tf_cosine_pairs(
                docs, "doc_id", "text", 0.8, ngram=3
            ).collect()
        )

    fused = run()  # small scan -> fused path
    with distributed():  # force the distributed path
        dist = run()
    assert fused and fused == dist
    dd.release_persisted()


def test_containment_fused_and_distributed_paths_agree(spark, distributed):
    """The small-input fused containment plan and the distributed
    inverted-index plan emit the same directed pairs with bit-identical
    containment doubles."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import dedup as dd

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def run():
        dd.release_persisted()
        return sorted(
            (r.id_inner, r.id_outer, r.containment)
            for r in dd.ngram_containment_pairs(
                docs, "doc_id", "text", ["source"], 0.3
            ).collect()
        )

    fused = run()  # small scan -> fused path
    with distributed():  # force the distributed path
        dist = run()
    assert fused and fused == dist
    dd.release_persisted()


def test_decontaminate_fused_and_distributed_paths_agree(spark, distributed):
    """The small-input fused decontamination plan (tagged union, one
    mapInPandas task) and the distributed broadcast-join plan emit the
    same (id, overlap) rows."""
    from pyspark.sql import functions as F

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import dedup as dd

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ev = docs.where(F.col("doc_id") % 11 == 0)

    def run():
        dd.release_persisted()
        return sorted(
            (r.doc_id, r.overlap_ngrams)
            for r in dd.decontaminate(
                docs, ev, "doc_id", "text", k=5, min_overlap=2
            ).collect()
        )

    fused = run()  # small scan -> fused path
    with distributed():  # force the distributed path
        dist = run()
    assert fused and fused == dist
    dd.release_persisted()


def test_simhash_fused_and_distributed_paths_agree(spark, distributed):
    """The small-input fused SimHash plan (one mapInPandas task) and
    the distributed composite-key self-join emit the same pairs with
    the same hamming integers — including empty-text docs, whose
    all-zero signatures pair with each other on both paths."""
    import random

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import dedup as dd

    rng = random.Random(21)
    vocab = [f"tok{i}" for i in range(80)]
    rows = []
    for i in range(120):
        base = rng.sample(vocab, 25)
        rows.append((2 * i, " ".join(base)))
        mut = list(base)
        if rng.random() < 0.7:
            mut[rng.randrange(len(mut))] = rng.choice(vocab)
        rows.append((2 * i + 1, " ".join(mut)))
    rows.append((9001, ""))  # empty docs share signature 0
    rows.append((9002, ""))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def run():
        dd.release_persisted()
        return {
            (r.id_a, r.id_b): r.hamming
            for r in dd.simhash_pairs(docs, "doc_id", "text", 3).collect()
        }

    fused = run()  # fixture input -> small -> fused path
    with distributed():  # force the distributed path
        dist = run()
    assert (9001, 9002) in fused  # the empty-doc pair really is there
    assert len(fused) > 20
    assert fused == dist
    dd.release_persisted()


def test_substring_dup_report_known_windows(spark):
    """Hand-built corpus: a shared 3-token phrase is flagged in both
    docs; a unique doc reports zero duplicated windows; short docs are
    absent."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators.dedup import (
        substring_dup_report,
    )

    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),      # windows: abg, bgd' (2)
            (1, "zeta alpha beta gamma"),       # shares 'alpha beta gamma'
            (2, "one two three four"),          # all unique windows
            (3, "too short"),                   # < k tokens: absent
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in substring_dup_report(df, "doc_id", "text", k=3).collect()}
    assert set(out) == {0, 1, 2}
    assert out[0].n_windows == 2 and out[0].n_dup_windows == 1
    assert out[1].n_windows == 2 and out[1].n_dup_windows == 1
    assert out[2].n_windows == 2 and out[2].n_dup_windows == 0
    assert out[0].dup_frac == 0.5 and out[2].dup_frac == 0.0


def test_substring_dup_counts_within_doc_repeats(spark):
    """A window repeated inside ONE doc counts as duplicated (corpus
    positions >= 2), matching the corpus-wide definition."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators.dedup import (
        substring_dup_report,
    )

    df = spark.createDataFrame(
        [(0, "x y z x y z")],  # windows: xyz yzx zxy xyz -> xyz dup'd
        "doc_id long, text string",
    )
    row = substring_dup_report(df, "doc_id", "text", k=3).collect()[0]
    assert row.n_windows == 4
    assert row.n_dup_windows == 2  # both xyz positions


def test_substring_report_invariants_on_real_docs(spark):
    """Structural invariants at sf0.001: dup windows never exceed total
    windows, fraction is consistent, and window counts equal
    max(0, n_tokens - k + 1) for every reported doc."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators.dedup import (
        substring_dup_report,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    k = 8
    rows = substring_dup_report(docs, "doc_id", "text", k=k).collect()
    assert rows
    toks = {r.doc_id: len(r.text.split()) for r in docs.select("doc_id", "text").collect()}
    reported = {r.doc_id for r in rows}
    expected = {d for d, n in toks.items() if n >= k}
    assert reported == expected
    for r in rows:
        assert 0 <= r.n_dup_windows <= r.n_windows
        assert r.n_windows == toks[r.doc_id] - k + 1
        assert abs(r.dup_frac - r.n_dup_windows / r.n_windows) < 1e-15


def test_fuzzy_join_trigram_jaccard(spark):
    a = spark.createDataFrame(
        [(1, "chocolate"), (2, "xy")], "id_a long, name string"
    )
    b = spark.createDataFrame(
        [(10, "chocolate"), (11, "chocolat"), (12, "vanilla")],
        "id_b long, name string",
    )
    out = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.fuzzy_join(a, b, "id_a", "name", "id_b", "name", 0.5).collect()
    }
    assert out[(1, 10)] == 1.0
    # chocolate: 7 trigrams; chocolat: 6; shared: 6 -> 6/7
    assert abs(out[(1, 11)] - 6 / 7) < 1e-12
    assert (1, 12) not in out          # below threshold
    assert not any(k[0] == 2 for k in out)  # <3 chars: no trigrams, no match


def test_fuzzy_match_relinks_clipped_names(spark):
    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import llm_queries
    from tests.conftest import SF_SMOKE

    out = llm_queries.q_part_fuzzy_match(spark, SF_SMOKE).collect()
    assert len(out) > 0
    # every clipped value must at least link back to its own source name
    # as a candidate; the best match may differ (the vocabulary reuses
    # words), but each dirty value must produce exactly one best row
    names = {r.dirty_name for r in out}
    assert len(names) == len(out)
    for r in out:
        assert r.jaccard >= llm_queries.FUZZY_THRESHOLD
        assert r.matched_name.startswith(r.dirty_name[:3])


def test_spread_adaptive_size_gate(spark, tmp_path):
    """spread() contract (round 8): a small under-split scan passes
    through untouched (no shuffle, no cache); past the byte threshold it
    repartitions+persists; min_bytes=0 forces the spread regardless.
    Both scan_bytes and the under-split test read Spark's plan, so the
    size survives the repartition+persist."""
    from pyspark.sql import functions as F

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators.dedup import (
        SPREAD_MIN_INPUT_BYTES,
        _planned_scan_partitions,
        release_persisted,
        scan_bytes,
        spread,
    )

    small_p = str(tmp_path / "small")
    spark.range(100).coalesce(1).write.parquet(small_p)
    small = spark.read.parquet(small_p)
    out = spread(small)
    assert out is small  # no repartition, no persist
    # the pass-through frame reports its file bytes to downstream gates
    assert scan_bytes(out) is not None and scan_bytes(out) < SPREAD_MIN_INPUT_BYTES

    forced = spread(small, min_bytes=0)
    assert forced is not small
    assert forced.storageLevel.useMemory or forced.storageLevel.useDisk
    assert forced.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism

    big_p = str(tmp_path / "big")
    # one file comfortably past the threshold (incompressible payload)
    spark.range(SPREAD_MIN_INPUT_BYTES // 24).select(
        F.sha2(F.col("id").cast("string"), 256).alias("s")
    ).coalesce(1).write.parquet(big_p)
    big = spark.read.parquet(big_p)
    # Spark splits one file into bytes-per-core chunks, so on a host with
    # few cores the ~4 MiB file is already split to defaultParallelism and
    # spread rightly passes it through. An open cost past the file size
    # keeps it one task on any host.
    key = "spark.sql.files.openCostInBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(64 * 1024 * 1024))
    try:
        assert _planned_scan_partitions(big) < spark.sparkContext.defaultParallelism
        out_big = spread(big)
    finally:
        spark.conf.set(key, prev)
    assert out_big is not big
    assert out_big.storageLevel.useMemory or out_big.storageLevel.useDisk
    # the repartitioned output reports no inputFiles (its optimized plan
    # reads the cache), yet downstream adaptive gates must see the RAW
    # frame's size: the analyzed plan keeps the file leaf
    assert not out_big.inputFiles()
    assert scan_bytes(out_big) == scan_bytes(big)
    assert scan_bytes(out_big) >= SPREAD_MIN_INPUT_BYTES
    release_persisted()


def test_ngram_index_and_direct_paths_agree(spark, distributed):
    """The round-9 inverted-index plan (large inputs) and the direct
    blocked-join plan (small inputs) are both exact — same pairs, same
    bit-exact jaccard values — on a corpus dense with near-dups."""
    import random

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import dedup

    rng = random.Random(9)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(120):
        base = rng.sample(vocab, 18)
        rows.append((2 * i, " ".join(base), f"s{i % 3}"))
        mut = list(base)
        for _ in range(rng.randint(0, 6)):
            mut[rng.randrange(len(mut))] = rng.choice(vocab)
        rows.append((2 * i + 1, " ".join(mut), f"s{i % 3}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    def run():
        dedup.release_persisted()
        return {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(
                docs, "doc_id", "text", ["source"], 0.2
            ).collect()
        }

    direct = run()  # fixture input -> small -> direct path
    with distributed():  # force the index path
        indexed = run()
    assert len(direct) > 50  # the corpus really is dense
    assert direct == indexed  # same pairs AND bit-identical doubles


def test_containment_detects_subdocument_jaccard_misses(spark):
    """A short doc pasted inside a long one: containment(short→long)
    is 1.0 while jaccard stays below any useful threshold — the exact
    asymmetry #124 exists for. Both directions emitted independently."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import dedup

    short = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i}" for i in range(40))
    rows = [(1, short), (2, f"{filler} {short}")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_inner, r.id_outer): round(r.containment, 9)
        for r in dedup.ngram_containment_pairs(
            df, "doc_id", "text", (), 0.3
        ).collect()
    }
    assert got[(1, 2)] == 1.0          # short fully contained
    assert (2, 1) not in got           # long barely contained in short
    jac = dedup.ngram_jaccard_pairs(df, "doc_id", "text", (), 0.3)
    assert jac.count() == 0            # jaccard misses it entirely


def test_containment_block_cap_omission_only(spark):
    """With block_cap, surviving pairs carry EXACT containment (full
    arrays), and capped output is a subset of the uncapped output."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import dedup

    rows = []
    for i in range(30):
        tail = f"tail{i} alpha{i} beta{i} gamma{i} delta{i} epsilon{i}"
        rows.append((2 * i, f"omega psi chi {tail} one"))
        rows.append((2 * i + 1, f"omega psi chi {tail} two"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r.id_inner, r.id_outer): round(r.containment, 9)
        for r in dedup.ngram_containment_pairs(df, "doc_id", "text", (), 0.3).collect()
    }
    capped = {
        (r.id_inner, r.id_outer): round(r.containment, 9)
        for r in dedup.ngram_containment_pairs(
            df, "doc_id", "text", (), 0.3, block_cap=10
        ).collect()
    }
    assert capped and set(capped) <= set(exact)
    for pair, c in capped.items():
        assert exact[pair] == c


@pytest.mark.slow
def test_tf_cosine_exact_vs_bruteforce(spark):
    """The prefix-filtered plan must equal brute force exactly — it is
    an EXACT algorithm (no omission contract), including pairs whose
    every shared term is corpus-hot (the case a df-cap plan drops)."""
    import itertools
    import math

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import dedup

    # 12 docs over a 6-word vocab: every term is hot, near-dups are
    # word-multiset rotations; deterministic construction, no RNG.
    vocab = ["hot1", "hot2", "hot3", "hot4", "hot5", "hot6"]
    rows = []
    for i in range(12):
        toks = [vocab[(i + j) % 6] for j in range(10)] + [vocab[i % 6]] * (i % 4)
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): round(r.cosine, 9)
        for r in dedup.tf_cosine_pairs(df, "doc_id", "text", 0.8).collect()
    }

    def tf(text):
        out = {}
        for t in text.split():
            out[t] = out.get(t, 0) + 1
        return out

    want = {}
    for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
        fa, fb = tf(ta), tf(tb)
        dot = sum(fa[t] * fb.get(t, 0) for t in fa)
        c = dot / math.sqrt(
            float(
                sum(v * v for v in fa.values()) * sum(v * v for v in fb.values())
            )
        )
        if c >= 0.8:
            want[(min(ia, ib), max(ia, ib))] = round(c, 9)
    assert got == want and want  # non-trivial: some pairs must exist


@pytest.mark.slow
def test_tf_cosine_prefix_filter_prunes_index(spark):
    """At a high threshold the suffix-norm bound must index strictly
    fewer postings than the full tf frame (the pruning that makes the
    pair join sub-quadratic), without losing any qualifying pair."""
    from pyspark.sql import functions as F

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    tf = (
        docs.select(F.col("doc_id").alias("_id"), F.explode(toks).alias("_t"))
        .groupBy("_id", "_t")
        .count()
    )
    full_postings = tf.count()
    # Rebuild the operator's index predicate standalone to measure it.
    from pyspark.sql import Window

    norm2 = tf.groupBy("_id").agg(F.sum(F.col("count") * F.col("count")).alias("_n2"))
    gdf = tf.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    suffix = Window.partitionBy("_id").orderBy(
        F.col("_df").asc(), F.col("_t").asc()
    ).rowsBetween(Window.currentRow, Window.unboundedFollowing)
    t = 0.9
    indexed = (
        tf.join(gdf, "_t")
        .join(norm2, "_id")
        .withColumn("_suf2", F.sum(F.col("count") * F.col("count")).over(suffix))
        .where(F.col("_suf2").cast("double") >= F.lit(t * t) * F.col("_n2").cast("double"))
    )
    idx_postings = indexed.count()
    assert idx_postings < 0.5 * full_postings, (idx_postings, full_postings)
    assert dedup.tf_cosine_pairs(docs, "doc_id", "text", t).count() > 0


def test_bag_of_words_dedup_merges_token_permutations(spark, tmp_path):
    """Shuffled-token copies group together; multiset semantics keep
    repeated tokens significant ('x x y' is not 'x y')."""
    import os

    from aws_big_data_blog_dmscdc_walkthrough_spark.plans import llm_queries

    rows = [
        (1, "alpha beta gamma"),
        (2, "gamma alpha beta"),       # permutation of 1 -> same group
        (3, "alpha alpha beta gamma"),  # extra repeat -> different group
        (4, "alpha beta beta gamma"),   # different multiset -> different
        (5, "beta alpha alpha gamma"),  # permutation of 3 -> same group
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = os.path.join(str(tmp_path), "documents.parquet")
    df.write.parquet(path)
    got = {
        r.doc_id: (r.canonical_id, r.group_size)
        for r in llm_queries.dedup_bag_of_words(spark, str(tmp_path)).collect()
    }
    assert got[1] == (1, 2) and got[2] == (1, 2)
    assert got[3] == (3, 2) and got[5] == (3, 2)
    assert got[4] == (4, 1)


@pytest.mark.slow
def test_tf_cosine_ngram_terms_match_bruteforce(spark):
    """ngram=3 shifts the TERM DOMAIN only — exactness must hold
    against a python brute force over trigram-shingle tf vectors."""
    import itertools
    import math

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import dedup

    vocab = ["a", "b", "c", "d"]
    rows = []
    for i in range(10):
        toks = [vocab[(i * 7 + j * j) % 4] for j in range(12)]
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): round(r.cosine, 9)
        for r in dedup.tf_cosine_pairs(df, "doc_id", "text", 0.5, ngram=3).collect()
    }

    def tf3(text):
        t = text.split()
        out = {}
        for i in range(len(t) - 2):
            g = " ".join(t[i : i + 3])
            out[g] = out.get(g, 0) + 1
        return out

    want = {}
    for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
        fa, fb = tf3(ta), tf3(tb)
        dot = sum(fa[t] * fb.get(t, 0) for t in fa)
        if not dot:
            continue
        c = dot / math.sqrt(
            float(sum(v * v for v in fa.values()) * sum(v * v for v in fb.values()))
        )
        if c >= 0.5:
            want[(min(ia, ib), max(ia, ib))] = round(c, 9)
    assert got == want and want


def test_substring_fused_and_distributed_paths_agree(spark, distributed):
    """The small-input fused substring-dup report (one numpy pass in one
    task) and the distributed explode + hash-window plan emit the same
    per-doc rows with bit-identical dup fractions."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import dedup as dd

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def run():
        dd.release_persisted()
        return sorted(
            (r.doc_id, r.n_windows, r.n_dup_windows, r.dup_frac)
            for r in dd.substring_dup_report(docs, "doc_id", "text", k=8).collect()
        )

    fused = run()  # small scan -> fused path
    with distributed():  # force the distributed path
        dist = run()
    assert fused and fused == dist
    dd.release_persisted()


def test_substring_fused_and_distributed_paths_agree_on_null_ids(spark, distributed):
    """Null ids form one group of their own in both paths, as the
    distributed groupBy(id, hash) makes them (the fused kernel's factorize
    must not drop them into a -1 code)."""
    from pyspark.sql import functions as F

    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import dedup as dd

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = docs.withColumn(
        "doc_id", F.when(F.col("doc_id") % 7 == 0, None).otherwise(F.col("doc_id"))
    )

    def run():
        dd.release_persisted()
        rows = dd.substring_dup_report(docs, "doc_id", "text", k=8).collect()
        return sorted(
            ((r.doc_id is None, r.doc_id or 0), r.n_windows, r.n_dup_windows, r.dup_frac)
            for r in rows
        )

    fused = run()  # small scan -> fused path
    with distributed():  # force the distributed path
        dist = run()
    assert fused == dist
    assert sum(1 for r in fused if r[0][0]) == 1  # exactly one null-id row
    dd.release_persisted()
