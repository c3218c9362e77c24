"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

All signature computation (shingling, polynomial hashing, minhash,
simhash bit votes) is built from Spark higher-order functions — JVM-side,
codegen, map-only. The only shuffles are:

  * exact dedup: one hash aggregation on the normalized text key;
  * pair generation: one equi-join on the blocking / band / chunk key
    (never a cross join), followed by a distinct on candidate pairs.

Scale levers: band width and shingle size control candidate volume;
``bucket_cap`` drops degenerate LSH buckets (stop-shingle effect) before
the pair join can explode — at 100 TB a handful of hot buckets would
otherwise dominate the join.

Hash constants are plain Python ints shared with the DuckDB oracle SQL
generators in plans/llm_queries.py, so both engines compute identical
signatures (verified bit-for-bit in tests).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import (  # noqa: F401  (re-exported; plans import from here)
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    NUM_MINHASH,
    POLY_MOD1,
    POLY_MOD2,
    POLY_MUL1,
    POLY_MUL2,
    SHINGLE_COMBINE,
    SIMHASH_BAND_BITS,
    SIMHASH_BAND_CHUNKS,
    SIMHASH_BAND_SUBSET,
    SIMHASH_HALF_BITS,
)


# Frames persisted by spread()/the pair operators, so long-lived sessions
# can release them: each queries()-style entry calls release_persisted()
# before building its plan (the previous entry has been consumed by
# then), and bench/tests call it after evaluating. Without this the
# caches accrete for the life of the session.
_PERSISTED: list[DataFrame] = []


def _track(df: DataFrame) -> DataFrame:
    _PERSISTED.append(df)
    return df


def release_persisted() -> int:
    """Unpersist every frame the dedup/similarity ops cached; returns the
    count released. Call it only AFTER the frames' consumers have been
    evaluated. For ordinary persisted frames an early release is merely
    a recompute (unpersisting an un-evaluated frame just unmarks it) —
    but the registry ALSO drains checkpoint-backed handles (pagerank's
    final round, operators/graph._LocalCheckpointHandle), whose lineage
    was truncated by the checkpoint: releasing one of those before its
    consumer evaluates frees the only copy of the data and the frame
    becomes UNRECOMPUTABLE — the consumer's job fails rather than
    recomputes. The queries()/bench discipline (release at the START of
    the next entry, after the previous result is consumed) satisfies
    both contracts."""
    n = 0
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped
    return n


# Distributed-truth probe (round 15): with SPARK_GRAFT_FORCE_DISTRIBUTED
# set, every size gate sees "huge input" and takes the distributed plan
# regardless of the actual scan bytes. The sf0.1 bench otherwise runs
# ~19 queries through their gated single-task/local solves, leaving
# their distributed shapes unmeasured between the (expensive) sf1+
# scale runs — this env seam lets a bench pass exercise exactly the
# plans a 100 TB input would take, on the small data. Read per call,
# not at import: tests flip it around individual cases.
_FORCE_DISTRIBUTED_ENV = "SPARK_GRAFT_FORCE_DISTRIBUTED"
_FORCED_SCAN_BYTES = 1 << 40  # far above every gate threshold


def force_distributed() -> bool:
    import os

    return os.environ.get(_FORCE_DISTRIBUTED_ENV, "") not in ("", "0")


def _leaves(plan) -> list:
    """The leaf nodes of a JVM query plan, as py4j handles."""
    seq = plan.collectLeaves()
    return [seq.apply(i) for i in range(seq.size())]


def scan_bytes(df: DataFrame) -> int | None:
    """On-disk bytes of the files behind this frame, or None when no leaf
    of its analyzed plan is a file scan (createDataFrame, RDD and
    checkpointed frames).

    Summed over the file-relation leaves of the analyzed plan, whose
    file listing Spark already holds: no job, no file-system call. The
    analyzed plan keeps those leaves under a repartition or a persist,
    so a frame derived from :func:`spread`'s output reports the same
    bytes as its raw input. A relation reached twice (a self-union, two
    reads of one path) counts once, as ``inputFiles()`` does. With
    ``SPARK_GRAFT_FORCE_DISTRIBUTED`` set it reports a huge size, so
    every gate falls through to its distributed plan.
    """
    if force_distributed():
        return _FORCED_SCAN_BYTES
    sizes = {}
    for leaf in _leaves(df._jdf.queryExecution().analyzed()):
        if leaf.nodeName() != "LogicalRelation":
            continue
        rel = leaf.relation()
        if rel.getClass().getSimpleName() == "HadoopFsRelation":
            index = rel.location()
            sizes[index.rootPaths().toString()] = index.sizeInBytes()
    return sum(sizes.values()) if sizes else None


def _planned_scan_partitions(df: DataFrame) -> int | None:
    """Partitions of the frame's planned file scans, as Spark's
    FilePartition packing lays them out, or None when the physical plan
    scans no file (a non-file source, or a persisted frame's cache).
    Read from the scan nodes' input RDDs of ``sparkPlan()``: it plans
    the query but runs no job, where ``df.rdd`` under AQE would run the
    shuffle stages of any plan with an exchange."""
    parts = [
        leaf.inputRDD().getNumPartitions()
        for leaf in _leaves(df._jdf.queryExecution().sparkPlan())
        if leaf.getClass().getSimpleName() == "FileSourceScanExec"
    ]
    return sum(parts) if parts else None


# Below this many scan bytes (compressed, on disk) a single task
# finishes the CPU work faster than the spread round-trip costs:
# sf0.1's 0.6 MB documents file serial-tokenizes in ~0.3 s, while the
# 4-8 MB sf1 file is where serial explode crosses into seconds.
SPREAD_MIN_INPUT_BYTES = 4 * 1024 * 1024


def spread(df: DataFrame, min_bytes: int | None = SPREAD_MIN_INPUT_BYTES) -> DataFrame:
    """Round-robin repartition + persist when the input is under-split.

    Signature computation is CPU-bound per row; a small single-file scan
    arrives as one partition and would serialize it. Repartition alone
    does NOT fix this: Catalyst pushes projections/filters through the
    exchange, so the expensive expressions still evaluate in the lone
    scan task (observed: 47 s single-threaded vs 1.5 s spread). The
    persist() is the barrier that pins downstream compute onto the
    post-shuffle partitions. At real scale inputs arrive multi-partition
    and this is a no-op — no shuffle, no cache. Persisted frames are
    tracked; call release_persisted() after consuming the result.

    Measured trade (round 7, text word-count queries): at sf0.1 the
    repartition+persist round-trip was most of a 0.5 s query, but at
    sf1..sf10 it WINS — the repartition parallelizes single-file
    explodes across all cores and the persist stops multi-branch plans
    (tf-idf's tf→df reuse) from recomputing tokenization per branch
    (tfidf sf10: 5.3 s with vs 24.4 s without). Round 8 made the trade
    ADAPTIVE on scan size: an under-split input below
    ``SPREAD_MIN_INPUT_BYTES`` of :func:`scan_bytes` is cheap even
    serial (sf0.1 documents is one 0.6 MB file; its whole
    tokenize-and-count ran 0.29 s single-task in r5), so the
    shuffle+cache round-trip can only add wall there and is skipped;
    past the threshold the serial cost crosses into seconds and
    spreading dominates. Under-split is read from the planned file scan
    (:func:`_planned_scan_partitions`); only a frame with no file scan
    falls back to ``df.rdd.getNumPartitions()``.

    Callers whose downstream chain is expensive PER BYTE pass
    ``min_bytes=0`` to spread unconditionally: the r8 per-query deltas
    showed the skip reclaiming 0.3-1.1 s on every word-count/ANN/map
    query while costing 2-5× on shapes whose downstream chain is
    expensive per byte — the n-gram shingle+pair chain (serial Arrow
    hashing dominates even at 0.6 MB) and the embedding all-pairs base
    (feeds both sides of a self-join). (The count-min explode was a
    third such caller until round 10 moved its fan-out behind the word
    shuffle; it now uses the adaptive default.)
    """
    total = scan_bytes(df)
    if min_bytes and total is not None and total < min_bytes:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    parts = _planned_scan_partitions(df)
    if parts is None:
        parts = df.rdd.getNumPartitions()
    if parts < target:
        return _track(df.repartition(target).persist())
    return df


def _materialize(df: DataFrame) -> DataFrame:
    """Populate a persisted frame's cache NOW, with exactly one evaluation.

    A persisted frame that fans out into several downstream branches
    (band generation + two verify joins) gets its cache populated lazily
    by whichever stage scans it first — and Spark schedules independent
    stages concurrently, so two or three stages can race the unpopulated
    cache and each re-evaluate the Arrow-UDF signature chain (observed:
    first-run 5.98 s vs 2.41 s with a deterministic fill at sf0.1). One
    count() pins a single evaluation; every consumer then reads cache.
    """
    df.count()
    return df


# (bucket_pair_explode, the collect_list + slice-explode pair generator
# that avoided self-joins before the banded frames were persisted, was
# retired in round 10: both former callers — simhash_pairs and
# minhash_lsh_pairs — now persist their tiny key frames and self-join,
# which measured ~2× faster and gets AQE skew-join splitting.)


def shingle_frame(
    df: DataFrame, id_col: str, text_col: str, keep_cols: Sequence[str] = (), k: int = 3
) -> DataFrame:
    """(id, *keep_cols, _sh): distinct k-word shingle HASHES per row.

    Computed by an Arrow-batched pandas UDF (functions/hashing.py): the
    pure-HOF formulation of the same arithmetic runs on Catalyst's
    interpreted path AND gets duplicated by optimizer rewrites
    (filter-pushdown substitution) — measured 9.4 s vs 1.1 s for the
    ngram-jaccard plan at sf0.1. The UDF is extracted into a single
    ArrowEvalPython node, evaluated once per row, map-only. Hashing
    shingles (not keeping strings) keeps downstream set ops (intersect
    for Jaccard, min for MinHash) on int64 arrays.
    """
    from ..functions.hashing import shingle_hashes_pandas

    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        shingle_hashes_pandas(k)(F.col(text_col)).alias("_sh"),
    )


def normalize_text(col):
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_dedup(df: DataFrame, id_col: str, text_col: str, key_expr=None) -> DataFrame:
    """Exact dedup on a signature key: canonical id + group size per row.

    ``key_expr`` (optional Column) is the grouping signature — default
    whitespace-normalized text (#19); the bag-of-words query (#152)
    passes its sorted-token-multiset string instead. One hash-partition
    shuffle on the key; at scale, group by ``xxhash64(key)`` instead of
    the full string to shrink shuffle width (exposed here as the same
    plan — Catalyst hashes the key either way).
    """
    if key_expr is None:
        key_expr = normalize_text(F.col(text_col))
    window = Window.partitionBy(key_expr)
    return df.select(
        F.col(id_col),
        F.min(id_col).over(window).alias("canonical_id"),
        F.count(F.lit(1)).over(window).alias("group_size"),
    )


def _with_jaccard(pairs: DataFrame, sh_a: str, sh_b: str) -> DataFrame:
    """Add a jaccard column, computing the (expensive) intersect ONCE."""
    return (
        pairs.withColumn("_inter", F.size(F.array_intersect(F.col(sh_a), F.col(sh_b))))
        .withColumn(
            "jaccard",
            F.col("_inter").cast("double")
            / (F.size(F.col(sh_a)) + F.size(F.col(sh_b)) - F.col("_inter")),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str] = (),
    threshold: float = 0.5,
    k: int = 3,
    block_cap: int | None = None,
) -> DataFrame:
    """Exact Jaccard over word k-shingles, inverted-index formulation.

    AllPairs-style (Bayardo/Ma/Srikant, WWW'07 — public): explode each
    doc's distinct shingle hashes, self-join on (*block_cols, hash), and
    COUNT the hits per doc pair — that count IS |A∩B| exactly (arrays
    hold distinct hashes), so jaccard = inter/(|A|+|B|−inter) needs no
    ``array_intersect`` at all. Pairs sharing zero shingles never
    materialize, which is what makes this sublinear in practice: the
    old blocked all-pairs ran the intersect on every same-block pair
    (11M at sf3, 90% of them overlap-0 — measured round 9), while the
    index join generates only Σ_token df² candidate rows (1.7M there).
    Exact: every pair with jaccard ≥ threshold shares ≥1 shingle
    (threshold > 0 is required and enforced), and a size-ratio
    predicate inside the join prunes pairs that cannot reach the
    threshold before the aggregation.

    At 100 TB: both shuffles are key-shaped (token hash → pair key) and
    the join's group sizes are token document-frequencies, not block
    populations — vocabulary grows with the corpus, so per-token df
    (and with it pair volume) stays bounded on natural text.

    ``block_cap`` (optional, LOSSY like the LSH ``bucket_cap``): drop
    (*block_cols, shingle) index groups with more than this many docs —
    the hard bound against a pathological corpus where one shingle (or
    one block's shared boilerplate) appears in everything and df²
    explodes. Pairs whose EVERY shared shingle is that hot lose recall,
    exactly the minhash hot-bucket trade — but any pair that still
    meets via a cold shingle is re-scored exactly (a shortlist join
    back to the full shingle arrays), so the cap only ever OMITS pairs,
    never emits an understated jaccard and never threshold-drops a pair
    on a partial count. (On the small-input direct path below, the cap
    bounds whole block populations instead — a different lossy recall
    set, so with ``block_cap`` set the two adaptive plans may omit
    different pairs; every emitted value is exact on both.)

    Small-input adaptivity: the index plan costs two extra shuffles
    (token join + pair aggregation) whose fixed stage overhead is most
    of the query under a few MB of input — there, the pre-round-9
    direct blocked join + ``array_intersect`` wins (measured at sf0.1:
    1.5 s direct vs 2.0 s indexed, while sf3 flips to 9.4 s indexed vs
    18.8 s direct). Same trade and same size gate as :func:`spread`;
    with ``block_cap=None`` both plans are exact, so the output is
    identical either way (capped recall sets differ — see above).
    """
    if threshold <= 0:
        raise ValueError(
            "ngram_jaccard_pairs requires threshold > 0: the inverted-"
            "index plan only materializes pairs sharing >=1 shingle "
            "(threshold <= 0 would mean every same-block pair - a "
            "quadratic scan no formulation survives at scale)"
        )
    bc = list(block_cols)
    # Decide the small-input plan BEFORE building the shingle frame: the
    # fused direct path (one grouped Arrow stage) needs no spread
    # exchange, no ArrowEvalPython node, and no persisted intermediate
    # at all — gating first skips all three.
    if bc and _small_scan(df):
        return _ngram_pairs_direct(df, id_col, text_col, bc, threshold, k, block_cap)
    sh = _materialize(
        _track(
            # min_bytes=0: the shingle hash chain is expensive per byte
            # (serial Arrow hashing cost 5.7x at bench scale without it)
            shingle_frame(spread(df, min_bytes=0), id_col, text_col, block_cols, k)
            .where(F.size("_sh") > 0)
            .persist()  # feeds both join sides; avoid recomputing the hash chain
        )
    )
    join_cols = bc + ["_t"]
    tok = sh.select(
        F.col(id_col).alias("_id"),
        *bc,
        F.size("_sh").alias("_sz"),
        F.explode("_sh").alias("_t"),
    )
    if block_cap is not None:
        cap_w = Window.partitionBy(*join_cols)
        tok = (
            tok.withColumn("_df", F.count(F.lit(1)).over(cap_w))
            .where(F.col("_df") <= block_cap)
            .drop("_df")
        )
    a = tok.select(
        F.col("_id").alias("id_a"), F.col("_sz").alias("_sza"), *join_cols
    )
    b = tok.select(
        F.col("_id").alias("id_b"), F.col("_sz").alias("_szb"), *join_cols
    )
    # J(A,B) >= t forces min(|A|,|B|)/max(|A|,|B|) >= t
    ratio_ok = (F.col("_sza") >= F.lit(threshold) * F.col("_szb")) & (
        F.col("_szb") >= F.lit(threshold) * F.col("_sza")
    )
    # the capped branch rescores from the full arrays and never reads
    # the counted sizes - skip shuffling two first() columns over the
    # quadratic candidate volume there
    size_aggs = (
        [F.first("_sza").alias("_sza"), F.first("_szb").alias("_szb")]
        if block_cap is None
        else []
    )
    inter = (
        a.join(b, join_cols)
        .where(F.col("id_a") < F.col("id_b"))
        .where(ratio_ok)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_inter"), *size_aggs)
    )
    if block_cap is None:
        # uncapped index: the hit count IS |A∩B| exactly
        jaccard = F.col("_inter").cast("double") / (
            F.col("_sza") + F.col("_szb") - F.col("_inter")
        )
        return inter.select(
            "id_a", "id_b", jaccard.alias("jaccard")
        ).where(F.col("jaccard") >= threshold)
    # capped index: dropped hot postings make _inter a LOWER bound for
    # pairs that also shared a hot shingle, so neither the value nor a
    # threshold filter on it is trustworthy. Re-score the shortlist
    # exactly: two id-keyed joins back to the full shingle arrays (the
    # shortlist is cap-bounded by construction — that is the cap's whole
    # point), then one array_intersect per candidate pair.
    full_a = sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sh_a"))
    full_b = sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sh_b"))
    rescored = (
        inter.select("id_a", "id_b")
        .join(full_a, "id_a")
        .join(full_b, "id_b")
        .withColumn(
            "_inter", F.size(F.array_intersect("_sh_a", "_sh_b"))
        )
        .withColumn(
            "jaccard",
            F.col("_inter").cast("double")
            / (F.size("_sh_a") + F.size("_sh_b") - F.col("_inter")),
        )
    )
    return rescored.select("id_a", "id_b", "jaccard").where(
        F.col("jaccard") >= threshold
    )


# Bound on the pair rows a single vectorized posting chunk materializes
# inside _ngram_pairs_direct's grouped solver (~6 int64 arrays of this
# length live at once — ~400 MB at the cap). Only a pathological block
# (every doc sharing the same hot shingles) ever chunks; the bench-scale
# blocks generate well under one chunk.
_FUSED_PAIRS_PER_CHUNK = 8 * 1024 * 1024


def _posting_pair_counts(sh, d, n, presorted: bool = False, weights=None):
    """Exact |A∩B| for every doc-code pair sharing ≥1 posting.

    With ``weights`` (int64, parallel to the postings), returns the
    exact weighted dot Σ w_a·w_b per pair instead of the count — the
    TF-cosine numerator. All sums stay integer.

    ``sh``/``d`` are parallel posting arrays (shingle hash, doc code),
    ``n`` the doc-code count. Sorts postings shingle-major /
    code-minor — within one shingle's group every doc appears once
    (per-doc shingle sets are distinct) and codes strictly increase, so
    every generated pair satisfies ``code_a < code_b`` by construction;
    the per-pair hit count across groups IS the intersection size.
    Pair materialization is chunked at ``_FUSED_PAIRS_PER_CHUNK`` rows
    so one pathological hot posting stays memory-bounded. Returns
    ``(da, db, inter)`` (int64 arrays) or None when no pair shares a
    posting. Shared by the fused small-input n-gram and MinHash-LSH
    solvers — the hash chain feeding ``sh`` must already be the
    bit-identical :func:`shingle_flat` output.
    """
    import numpy as np

    if presorted:
        # caller guarantees posting-major / code-minor order already
        # (e.g. arrays straight out of a packed-key np.unique)
        s = sh
    else:
        order = np.lexsort((d, sh))
        s, d = sh[order], d[order]
        if weights is not None:
            weights = weights[order]
    npos = s.size
    newg = np.ones(npos, dtype=bool)
    newg[1:] = s[1:] != s[:-1]
    starts = np.nonzero(newg)[0]
    grp = np.cumsum(newg) - 1
    kpos = np.arange(npos, dtype=np.int64) - starts[grp]
    # each position pairs with the k earlier positions of its group
    key_parts, cnt_parts = [], []
    cum = np.concatenate(([0], np.cumsum(kpos)))
    lo = 0
    while lo < npos:
        hi = int(
            np.searchsorted(cum, cum[lo] + _FUSED_PAIRS_PER_CHUNK, side="right")
        ) - 1
        hi = max(hi, lo + 1)
        kc = kpos[lo:hi]
        pc = int(cum[hi] - cum[lo])
        if pc > 0:
            before = np.concatenate(([0], np.cumsum(kc)[:-1]))
            a_off = np.arange(pc, dtype=np.int64) - np.repeat(before, kc)
            a_pos = np.repeat(np.arange(lo, hi, dtype=np.int64) - kc, kc) + a_off
            b_pos = np.repeat(np.arange(lo, hi, dtype=np.int64), kc)
            pk = d[a_pos] * n + d[b_pos]
            if weights is None:
                ku, kc2 = np.unique(pk, return_counts=True)
            else:
                ku, inv = np.unique(pk, return_inverse=True)
                kc2 = np.zeros(ku.size, dtype=np.int64)
                np.add.at(kc2, inv, weights[a_pos] * weights[b_pos])
            key_parts.append(ku)
            cnt_parts.append(kc2)
        lo = hi
    if not key_parts:
        return None
    if len(key_parts) == 1:
        # single chunk (the common case): the in-chunk unique already
        # produced sorted-unique keys with exact counts — the outer
        # re-unique + scatter-add below would redo the same sort
        ku, inter = key_parts[0], cnt_parts[0]
    else:
        keys = np.concatenate(key_parts)
        cnts = np.concatenate(cnt_parts)
        ku, inv = np.unique(keys, return_inverse=True)
        inter = np.zeros(ku.size, dtype=np.int64)
        np.add.at(inter, inv, cnts)
    return ku // n, ku % n, inter


def _ngram_pairs_direct(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    threshold: float,
    k: int,
    block_cap: int | None,
) -> DataFrame:
    """Small-input direct plan: ONE grouped Arrow stage per block.

    The size gate in :func:`ngram_jaccard_pairs` is the only caller, so
    every block fits a task by construction. The pre-round-14 shape
    (shingle UDF → persist → blocked self-join → per-pair
    ``array_intersect``) paid five fixed-overhead steps — a spread
    exchange, an ArrowEvalPython node, a cache materialization, a join
    materializing |block|² rows of paired arrays, and the intersect
    itself; at bench scale that was ~2.2 s for 622k candidate pairs
    whose useful arithmetic is milliseconds. Here one
    ``groupBy(*block_cols).applyInPandas`` computes the identical
    output per block in numpy: the shared :func:`shingle_flat` chain
    (bit-identical hashes), then exact |A∩B| counts from the sorted
    posting lists — pairs sharing zero shingles never materialize (the
    AllPairs insight, applied in-process) — and
    ``jaccard = inter/(|A|+|B|−inter)`` as the same float64 division.
    ``block_cap`` keeps its direct-path meaning: a block whose
    population (docs with ≥1 shingle) exceeds the cap is dropped whole.

    Exactness: per-doc shingle sets are distinct, so within one
    shingle's posting group every doc appears once and the per-pair hit
    count IS the intersection size; sizes come from the same arrays.
    Pair order (``id_a < id_b``) falls out of sort-factorized id codes.
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    from ..functions.hashing import shingle_flat

    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("jaccard", DoubleType()),
        ]
    )

    def solve(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"id_a": [], "id_b": [], "jaccard": []})
        sh, sh_doc, n_docs = shingle_flat(pdf[text_col], k)
        if sh.size == 0:
            return empty
        sizes_row = np.bincount(sh_doc, minlength=n_docs)
        if block_cap is not None and int((sizes_row > 0).sum()) > block_cap:
            return empty  # overfull block dropped whole (documented recall trade)
        # sort-factorize ids so code order == id order (any id dtype)
        codes, uniq = pd.factorize(pdf[id_col], sort=True)
        d = codes[sh_doc]
        sizes = np.zeros(len(uniq), dtype=np.int64)
        sizes[codes] = sizes_row
        pc = _posting_pair_counts(sh, d, len(uniq))
        if pc is None:
            return empty
        da, db, inter = pc
        jac = inter / (sizes[da] + sizes[db] - inter)
        keep = jac >= threshold
        return pd.DataFrame(
            {
                "id_a": np.asarray(uniq)[da[keep]],
                "id_b": np.asarray(uniq)[db[keep]],
                "jaccard": jac[keep],
            }
        )

    return (
        df.select(id_col, text_col, *block_cols)
        .groupBy(*block_cols)
        .applyInPandas(solve, out_schema)
    )


def _containment_pairs_direct(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    threshold: float,
    k: int,
    block_cap: int | None,
) -> DataFrame:
    """Small-input fused twin of :func:`ngram_containment_pairs`: one
    grouped Arrow stage per block (the :func:`_ngram_pairs_direct`
    shape), emitting BOTH directions of every co-shingled pair with
    ``containment = inter_double / size_double`` — the identical
    division the distributed projection computes. ``block_cap`` keeps
    the direct-path meaning (overfull block dropped whole)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    from ..functions.hashing import shingle_flat

    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("id_inner", id_type),
            StructField("id_outer", id_type),
            StructField("containment", DoubleType()),
        ]
    )

    def solve(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {"id_inner": [], "id_outer": [], "containment": []}
        )
        sh, sh_doc, n_docs = shingle_flat(pdf[text_col], k)
        if sh.size == 0:
            return empty
        sizes_row = np.bincount(sh_doc, minlength=n_docs)
        if block_cap is not None and int((sizes_row > 0).sum()) > block_cap:
            return empty  # overfull block dropped whole
        codes, uniq = pd.factorize(pdf[id_col], sort=True)
        d = codes[sh_doc]
        n = len(uniq)
        sizes = np.zeros(n, dtype=np.int64)
        sizes[codes] = sizes_row
        pc = _posting_pair_counts(sh, d, n)
        if pc is None:
            return empty
        da, db, inter = pc
        ids = np.asarray(uniq)
        inner = np.concatenate([da, db])
        outer = np.concatenate([db, da])
        cont = np.concatenate([inter, inter]).astype(np.float64) / sizes[
            inner
        ].astype(np.float64)
        keep = cont >= threshold
        return pd.DataFrame(
            {
                "id_inner": ids[inner[keep]],
                "id_outer": ids[outer[keep]],
                "containment": cont[keep],
            }
        )

    return (
        df.select(id_col, text_col, *block_cols)
        .groupBy(*block_cols)
        .applyInPandas(solve, out_schema)
    )


def _minhash_pairs_direct(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    rows_per_band: int,
    new_pred=None,
    source_matrix_col=None,
) -> DataFrame:
    """Small-input fused MinHash-LSH: scan + solve in ONE task, one job.

    The size gates in :func:`minhash_lsh_pairs` /
    :func:`split_minhash_pairs` are the only callers (``bucket_cap is
    None`` and ``threshold > 0`` required), so the whole input fits one
    task by construction. The distributed shape pays ~8 fixed-overhead
    steps at that scale (spread exchange, two ArrowEvalPython nodes,
    banded-key explode + persist + materialize job, band self-join,
    distinct, two verify joins, ``array_intersect``); here one
    ``coalesce(1).mapInPandas`` computes the identical output in numpy:

    - shingles via the shared :func:`shingle_flat` (bit-identical hash
      chain to ``shingle_hashes_pandas`` feeding the distributed path);
    - signatures as the same ``(a·x + b) mod P`` segmented minima the
      ``minhash_signature_pandas`` UDF computes, doc-chunked by the
      same ``_MAX_ITEMS_PER_STEP`` bound;
    - exact |A∩B| from :func:`_posting_pair_counts` for pairs sharing
      ≥1 shingle, then ``jaccard = inter/(|A|+|B|−inter)`` as the same
      float64 division;
    - the LSH candidate predicate as a vectorized per-pair band test
      (∃ band j: all ``rows_per_band`` signature rows equal) — exactly
      what equality of the distributed ``j:m1:m2`` band-key strings
      encodes, with no bucket pair materialization at all.

    Exactness of the composition: every emitted pair must pass the
    threshold, and with ``threshold > 0`` any passing pair shares ≥1
    shingle — so testing band membership on the posting-count pairs
    loses nothing (a band candidate sharing zero shingles has jaccard
    0 and is dropped by both plans). Docs with zero shingles generate
    no postings, mirroring the distributed ``size(_sh) > 0`` filter.

    ``new_pred`` (split form): keep only cross-split pairs, oriented
    (new_id, corpus_id) — the exact pair set of the banded
    new-side-probe join.

    ``source_matrix_col`` (#88 form, also the #112 split-leakage form):
    aggregate the pair set to the cross-group matrix (least/greatest
    group key, pair count, max jaccard) inside the same task — string
    min/max on Python strings matches Spark's binary least/greatest
    (UTF-8 byte order preserves code-point order), the count is exact,
    and max over bit-identical doubles is order-independent. Accepts a
    column NAME or any per-doc Column expression (evaluated JVM-side in
    the coalesced task, so its semantics cannot drift).
    """
    from pyspark.sql.column import Column
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from ..functions.hashing import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        NUM_MINHASH as _K,
        _doc_chunks,
        _segment_offsets,
        shingle_flat,
    )

    id_type = df.schema[id_col].dataType
    split = new_pred is not None
    out_names = ("new_id", "corpus_id") if split else ("id_a", "id_b")
    if source_matrix_col is not None:
        if not isinstance(source_matrix_col, Column):
            source_matrix_col = F.col(source_matrix_col)
        src_type = df.select(source_matrix_col.alias("_src")).schema[0].dataType
        out_schema = StructType(
            [
                StructField("source_a", src_type),
                StructField("source_b", src_type),
                StructField("n_pairs", LongType()),
                StructField("max_jaccard", DoubleType()),
            ]
        )
    else:
        out_schema = StructType(
            [
                StructField(out_names[0], id_type),
                StructField(out_names[1], id_type),
                StructField("jaccard", DoubleType()),
            ]
        )
    cols = [F.col(id_col), F.col(text_col)]
    if split:
        cols.append(new_pred(F.col(id_col)).cast(BooleanType()).alias("_new"))
    if source_matrix_col is not None:
        cols.append(source_matrix_col.alias("_src"))
    # the solver must not close over the Column (JVM handle, unpicklable)
    matrix_mode = source_matrix_col is not None

    def solve_iter(batches):
        import numpy as np
        import pandas as pd

        if matrix_mode:
            empty = pd.DataFrame(
                {"source_a": [], "source_b": [], "n_pairs": [], "max_jaccard": []}
            )
        else:
            empty = pd.DataFrame(
                {out_names[0]: [], out_names[1]: [], "jaccard": []}
            )
        pdfs = list(batches)
        if not pdfs:
            yield empty
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        sh, sh_doc, n_docs = shingle_flat(pdf[text_col], 3)
        if sh.size == 0:
            yield empty
            return
        codes, uniq = pd.factorize(pdf[id_col], sort=True)
        n = len(uniq)
        d = codes[sh_doc]
        sizes = np.zeros(n, dtype=np.int64)
        sizes[codes] = np.bincount(sh_doc, minlength=n_docs)
        # per-doc signatures: postings doc-major, segmented min per doc,
        # chunked like minhash_signature_pandas (same arithmetic)
        a_vec = np.asarray(MINHASH_A, dtype=np.int64)[:, None]
        b_vec = np.asarray(MINHASH_B, dtype=np.int64)[:, None]
        dorder = np.argsort(d, kind="stable")
        ds, ss = d[dorder], sh[dorder]
        ne_docs = np.unique(ds)
        ne_counts = sizes[ne_docs]
        sig = np.zeros((_K, n), dtype=np.int64)
        base = 0
        for lo, hi in _doc_chunks(ne_counts, 1 << 20):
            cnts = ne_counts[lo:hi]
            span = int(cnts.sum())
            flat = ss[base : base + span]
            mins = np.minimum.reduceat(
                (a_vec * flat + b_vec) % MINHASH_P, _segment_offsets(cnts), axis=1
            )
            sig[:, ne_docs[lo:hi]] = mins
            base += span
        pc = _posting_pair_counts(sh, d, n)
        if pc is None:
            yield empty
            return
        da, db, inter = pc
        # band candidate test: ∃ band with all rows_per_band rows equal
        cand = np.zeros(da.size, dtype=bool)
        for j0 in range(0, _K - rows_per_band + 1, rows_per_band):
            band_eq = np.ones(da.size, dtype=bool)
            for r in range(j0, j0 + rows_per_band):
                band_eq &= sig[r, da] == sig[r, db]
            cand |= band_eq
        jac = inter / (sizes[da] + sizes[db] - inter)
        keep = cand & (jac >= threshold)
        da, db, jac = da[keep], db[keep], jac[keep]
        ids = np.asarray(uniq)
        if matrix_mode:
            src_by_code = np.empty(n, dtype=object)
            src_by_code[codes] = pdf["_src"].to_numpy()
            sa, sb = src_by_code[da], src_by_code[db]
            swap = sa > sb  # least/greatest canonical order
            lo = np.where(swap, sb, sa)
            hi = np.where(swap, sa, sb)
            g = (
                pd.DataFrame({"source_a": lo, "source_b": hi, "jaccard": jac})
                .groupby(["source_a", "source_b"], as_index=False)
                .agg(n_pairs=("jaccard", "size"), max_jaccard=("jaccard", "max"))
            )
            g["n_pairs"] = g["n_pairs"].astype(np.int64)
            yield g
            return
        if split:
            new_by_code = np.zeros(n, dtype=bool)
            new_by_code[codes] = pdf["_new"].to_numpy(dtype=bool)
            cross = new_by_code[da] != new_by_code[db]
            da, db, jac = da[cross], db[cross], jac[cross]
            a_new = new_by_code[da]
            out_a = np.where(a_new, da, db)
            out_b = np.where(a_new, db, da)
            yield pd.DataFrame(
                {
                    out_names[0]: ids[out_a],
                    out_names[1]: ids[out_b],
                    "jaccard": jac,
                }
            )
            return
        yield pd.DataFrame(
            {out_names[0]: ids[da], out_names[1]: ids[db], "jaccard": jac}
        )

    return df.select(*cols).coalesce(1).mapInPandas(solve_iter, out_schema)


def _small_scan(df: DataFrame) -> bool:
    """The shared small-input test behind every fused direct plan: the
    same byte threshold as :func:`spread`, decided BEFORE any derived
    frame is built. A frame that reads no file (a createDataFrame
    fixture) originates on the driver, so it is small."""
    total = scan_bytes(df)
    return total is None or total < SPREAD_MIN_INPUT_BYTES


def _minhash_direct_eligible(
    df: DataFrame, threshold: float, bucket_cap: int | None
) -> bool:
    """Size gate for the fused MinHash plan. ``bucket_cap`` callers keep
    the distributed plan (the cap's lossy recall set is defined on band
    buckets there); ``threshold <= 0`` would break the shares-a-shingle
    composition argument, so it also falls through."""
    if bucket_cap is not None or threshold <= 0:
        return False
    return _small_scan(df)


# byte-wise popcount LUT (numpy<2 has no bitwise_count); int64 views as
# 8 bytes, so popcount(x) = LUT[bytes-of-x].sum per value
_POPCNT8 = None


def _popcount64(arr):
    import numpy as np

    global _POPCNT8
    if _POPCNT8 is None:
        _POPCNT8 = np.array(
            [bin(i).count("1") for i in range(256)], dtype=np.int64
        )
    return _POPCNT8[arr.view(np.uint8).reshape(arr.size, 8)].sum(axis=1)


def _simhash_pairs_direct(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int
) -> DataFrame:
    """Small-input fused SimHash: scan + solve in ONE task, one job.

    The size gate in :func:`simhash_pairs` is the only caller
    (``bucket_cap is None`` required), so the input fits one task by
    construction. Replaces the distributed signature persist +
    composite-key explode + self-join + distinct (spread exchange, an
    ArrowEvalPython node, a materialize job, the join and the pair
    shuffle) with one ``coalesce(1).mapInPandas``:

    - signatures via the shared :func:`simhash_flat` core (the same
      arithmetic ``simhash_pandas`` wraps — callers cannot drift);
    - the Manku composite keys as the same packed integers the
      distributed ``combo_key`` builds (combo id folded with the chunk
      values, so equality ⇔ same combo AND same 30 selected bits);
    - candidate pairs from :func:`_posting_pair_counts` over the
      (key, doc) postings — per doc the 20 keys are distinct (the combo
      id is folded in), so the helper's uniqueness precondition holds
      and its deduped pair set IS the join+distinct's candidate set;
    - the Hamming filter as a byte-LUT popcount of the signature XOR —
      the same integer ``bit_count`` computes.

    Docs with empty token lists keep their all-zero signature and pair
    with each other, exactly as the distributed plan's unfiltered
    signature frame does.
    """
    from itertools import combinations

    from pyspark.sql.types import IntegerType, StructField, StructType

    from ..functions.hashing import (
        SIMHASH_BAND_BITS,
        SIMHASH_BAND_CHUNKS,
        SIMHASH_BAND_SUBSET,
        simhash_flat,
    )

    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("hamming", IntegerType()),
        ]
    )
    combos = list(
        combinations(range(SIMHASH_BAND_CHUNKS), SIMHASH_BAND_SUBSET)
    )

    def solve_iter(batches):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"id_a": [], "id_b": [], "hamming": []})
        pdfs = list(batches)
        if not pdfs:
            yield empty
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        if not len(pdf):
            yield empty
            return
        sigs_row = simhash_flat(pdf[text_col])
        codes, uniq = pd.factorize(pdf[id_col], sort=True)
        n = len(uniq)
        sig = np.zeros(n, dtype=np.int64)
        sig[codes] = sigs_row
        mask = np.int64((1 << SIMHASH_BAND_BITS) - 1)
        keys = np.empty((len(combos), n), dtype=np.int64)
        for i, combo in enumerate(combos):
            key = np.full(n, i, dtype=np.int64)
            for j in combo:
                key = (key << SIMHASH_BAND_BITS) | (
                    (sig >> (j * SIMHASH_BAND_BITS)) & mask
                )
            keys[i] = key
        d = np.tile(np.arange(n, dtype=np.int64), len(combos))
        pc = _posting_pair_counts(keys.ravel(), d, n)
        if pc is None:
            yield empty
            return
        da, db, _cnt = pc
        ham = _popcount64(sig[da] ^ sig[db])
        keep = ham <= max_hamming
        ids = np.asarray(uniq)
        yield pd.DataFrame(
            {
                "id_a": ids[da[keep]],
                "id_b": ids[db[keep]],
                "hamming": ham[keep].astype(np.int32),
            }
        )

    return (
        df.select(id_col, text_col).coalesce(1).mapInPandas(solve_iter, out_schema)
    )


def _banded_keys(sh: DataFrame, rows_per_band: int) -> DataFrame:
    """(_id, _sh) shingle frame → exploded (_id, _bk) LSH band keys:
    K minhashes split into bands of ``rows_per_band``, each band's
    values concatenated with its index into one join key."""
    from ..functions.hashing import minhash_signature_pandas

    bands = NUM_MINHASH // rows_per_band
    sig = sh.select(
        "_id", minhash_signature_pandas()(F.col("_sh")).alias("_sig")
    )
    band_keys = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(j),
                *[
                    F.element_at(F.col("_sig"), j * rows_per_band + r + 1)
                    for r in range(rows_per_band)
                ],
            )
            for j in range(bands)
        ]
    )
    return sig.select("_id", F.explode(band_keys).alias("_bk"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    rows_per_band: int = 2,
    bucket_cap: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.

    shingle → K minhashes → bands of ``rows_per_band`` → equi-join on
    (band index, band key) → distinct pairs → verify true Jaccard.
    ``bucket_cap`` drops band buckets larger than the cap (hot-bucket
    guard for skewed corpora).

    Pair generation is a self-join of the banded keys on the band key,
    with the BANDED FRAME PERSISTED first (tracked; the shingle persist
    alone doesn't cover the signature UDF on top — un-cached, the
    self-join would evaluate minhash_signature_pandas on both sides,
    which is why this used to be a collect_list + slice-explode). The
    cache is (id, band-key string) × bands rows — spillable and linear
    in the corpus; with it the join wins the same two ways the simhash
    twin does: 2.0 s → 0.9 s at sf0.1, and hot band buckets get AQE's
    skew-join split, which collect_list never does.
    """
    from pyspark import StorageLevel

    # Small-input fused plan (round 14): one task computes signatures,
    # band candidates and exact Jaccard in numpy — the distributed
    # pipeline below is pure fixed overhead at that scale. Output
    # identical (see _minhash_pairs_direct's exactness notes).
    if _minhash_direct_eligible(df, threshold, bucket_cap):
        return _minhash_pairs_direct(df, id_col, text_col, threshold, rows_per_band)

    bands = NUM_MINHASH // rows_per_band
    # persist: the shingle arrays feed band generation AND two verify-join
    # branches; recomputing the (interpreted) hash chain 3× dominates
    # cost. materialize=False: the banded count below evaluates the
    # shingle chain exactly once and fills THIS cache too — the verify
    # joins only run after that job completes, so no stage can race the
    # unfilled cache and the separate count job was pure overhead.
    sh = _prepared_shingles(df, id_col, text_col, materialize=False)
    banded = _materialize(
        _track(
            _banded_keys(sh, rows_per_band).persist(StorageLevel.MEMORY_AND_DISK)
        )
    )
    if bucket_cap is not None:
        cap_w = Window.partitionBy("_bk")
        banded = (
            banded.withColumn("_bn", F.count(F.lit(1)).over(cap_w))
            .where(F.col("_bn") <= bucket_cap)
            .drop("_bn")
        )
    cand = (
        banded.select(F.col("_id").alias("id_a"), "_bk")
        .join(banded.select(F.col("_id").alias("id_b"), "_bk"), "_bk")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    verified = (
        cand.join(sh.alias("sa"), F.col("id_a") == F.col("sa._id"))
        .join(sh.alias("sb"), F.col("id_b") == F.col("sb._id"))
        .select("id_a", "id_b", F.col("sa._sh").alias("_sh_a"), F.col("sb._sh").alias("_sh_b"))
    )
    return (
        _with_jaccard(verified, "_sh_a", "_sh_b")
        .select("id_a", "id_b", "jaccard")
        .where(F.col("jaccard") >= threshold)
    )


def incremental_minhash_pairs(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    rows_per_band: int = 2,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup matches of a NEW ingest batch against an EXISTING
    corpus — the shape a continuously-ingesting pipeline needs: per
    batch it computes signatures for the batch only and joins them
    against the corpus side, never re-mining corpus×corpus. Returns
    ``(new_id, corpus_id, jaccard)`` for matches ≥ ``threshold``.

    Candidate generation is the band equi-join with the NEW side as
    the small probe: band keys of the batch join the corpus's band
    keys, so at 100 TB the corpus contribution would be a pre-computed
    signature store read once per ingest — O(batch + matches) fresh
    compute, O(corpus signatures) scan that bucketing or a
    band-partitioned layout prunes.
    """
    sh_new = _prepared_shingles(new_docs, id_col, text_col, materialize=False)
    sh_old = _prepared_shingles(corpus, id_col, text_col, materialize=False)
    # ONE fused job fills both shingle caches (replacing two separate
    # count jobs): the union's two scan stages evaluate each Arrow
    # chain exactly once, in parallel; everything downstream reads
    # cache. (round 14 — the per-side counts were half the query's
    # driver-job overhead at bench scale)
    sh_new.select("_id").unionAll(sh_old.select("_id")).count()
    return _match_banded(
        sh_new,
        _banded_keys(sh_old, rows_per_band),
        sh_old,
        threshold,
        rows_per_band,
        bucket_cap,
    )


def _prepared_shingles(
    docs: DataFrame, id_col: str, text_col: str, materialize: bool = True
) -> DataFrame:
    """Spread + shingle + persist one side of an incremental match.

    min_bytes=0: the shingle+minhash chain stacks TWO ArrowEvalPython
    nodes (shingle UDF, then the signature UDF) whose per-node
    JVM<->Python round-trip dominates a single-task run — measured
    ~1.3 s single-task vs ~0.1 s spread at sf0.1 for the banded-key
    materialization (the Python bodies themselves are <0.2 s; the cost
    is the serialized per-node handshake, which spreading
    parallelizes).

    ``materialize=False`` skips the deterministic cache fill — for
    callers that IMMEDIATELY materialize a downstream persisted frame
    (the banded keys) in their own single job, which populates this
    cache as a side effect with exactly one evaluation: the separate
    count job bought nothing there (measured ~0.4 s of the
    minhash-family fixed overhead, round 14). Callers whose first
    action fans the frame into concurrent racing stages must keep the
    default (see :func:`_materialize`)."""
    sh = _track(
        shingle_frame(spread(docs, min_bytes=0), id_col, text_col)
        .withColumnRenamed(id_col, "_id")
        .where(F.size("_sh") > 0)
        .persist()
    )
    return _materialize(sh) if materialize else sh


def _match_banded(
    sh_new: DataFrame,
    banded_old: DataFrame,
    sh_old: DataFrame,
    threshold: float,
    rows_per_band: int,
    bucket_cap: int | None,
) -> DataFrame:
    """Shared tail of incremental matching: band-key candidate join
    (new side as probe) → shingle verify → exact-Jaccard filter.
    ``bucket_cap`` drops hot STORED band keys before the join (a hot
    key in the store would otherwise explode every future ingest)."""
    banded_new = _banded_keys(sh_new, rows_per_band)
    if bucket_cap is not None:
        hot = (
            banded_old.groupBy("_bk")
            .count()
            .where(F.col("count") > bucket_cap)
            .select("_bk")
        )
        banded_old = banded_old.join(hot, "_bk", "left_anti")
    cand = (
        banded_new.alias("n")
        .join(banded_old.alias("o"), "_bk")
        .select(
            F.col("n._id").alias("new_id"), F.col("o._id").alias("corpus_id")
        )
        .distinct()
    )
    verified = (
        cand.join(sh_new.alias("sa"), F.col("new_id") == F.col("sa._id"))
        .join(sh_old.alias("sb"), F.col("corpus_id") == F.col("sb._id"))
        .select(
            "new_id",
            "corpus_id",
            F.col("sa._sh").alias("_sh_a"),
            F.col("sb._sh").alias("_sh_b"),
        )
    )
    return (
        _with_jaccard(verified, "_sh_a", "_sh_b")
        .select("new_id", "corpus_id", "jaccard")
        .where(F.col("jaccard") >= threshold)
    )


def split_minhash_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    new_pred,
    threshold: float = 0.5,
    rows_per_band: int = 2,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Stateless one-table twin of :func:`incremental_minhash_pairs`:
    both sides come from the SAME frame, split by a row predicate
    (``new_pred`` maps the id column to a boolean Column; the complement
    plays the corpus). Signatures are computed ONCE over the whole
    table and the split happens on the prepared shingle frame — the
    two-frame form pays two spread exchanges and two Arrow chains over
    what is physically one input (measured ~1 s of the bench query's
    fixed cost, round 14). Row-identical to calling the two-frame form
    with ``docs.where(pred)`` / ``docs.where(~pred)``: the signature
    UDFs are row-wise, so splitting before or after signing computes
    the same values (pinned in tests/test_dedup.py)."""
    # Small-input fused plan (round 14): same gate as minhash_lsh_pairs;
    # the solver keeps only cross-split pairs oriented (new, corpus) —
    # exactly the banded new-side-probe join's pair set.
    if _minhash_direct_eligible(docs, threshold, bucket_cap):
        return _minhash_pairs_direct(
            docs, id_col, text_col, threshold, rows_per_band, new_pred=new_pred
        )
    sh_all = _prepared_shingles(docs, id_col, text_col)
    pred = new_pred(F.col("_id"))
    return _match_banded(
        sh_all.where(pred),
        _banded_keys(sh_all.where(~pred), rows_per_band),
        sh_all.where(~pred),
        threshold,
        rows_per_band,
        bucket_cap,
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    eval_text_col: str | None = None,
    k: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs overlapping an eval set.

    Standard training-data hygiene (the n-gram-overlap method popularized
    by public LLM reports): a document is contaminated when it shares at
    least ``min_overlap`` distinct k-word-shingle hashes with the POOLED
    eval/benchmark corpus. Returns ``(id, overlap_ngrams)`` for flagged
    docs only.

    Plan shape: the eval side collapses to a distinct shingle-hash set —
    tiny next to the corpus (benchmarks are small by construction) — so
    the join broadcasts and the corpus side stays map-only until one
    groupBy on the doc id. At 100 TB the corpus is never shuffled on the
    join key; only (id, matched-hash) survivors shuffle into the count.
    """
    # Small-input fused plan (round 14): both sides fit one task, so a
    # single mapInPandas over the tagged union computes the identical
    # report in numpy — shared shingle_flat hash chain, eval set as a
    # sorted unique array, per-row distinct-overlap via membership +
    # bincount by id code (exactly the join + groupBy count: per-row
    # shingles are distinct, so matched rows per (row, hash) = the
    # intersection size, summed per id). Replaces two ArrowEvalPython
    # nodes, the explodes, the broadcast build and the count shuffle.
    if _small_scan(docs) and _small_scan(eval_docs):
        return _decontaminate_direct(
            docs, eval_docs, id_col, text_col, eval_text_col, k, min_overlap
        )
    ev = (
        shingle_frame(eval_docs, id_col, eval_text_col or text_col, k=k)
        .select(F.explode("_sh").alias("_h"))
        .distinct()
    )
    corpus = shingle_frame(spread(docs), id_col, text_col, k=k).select(
        F.col(id_col), F.explode("_sh").alias("_h")
    )
    return (
        corpus.join(F.broadcast(ev), "_h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("overlap_ngrams"))
        .where(F.col("overlap_ngrams") >= min_overlap)
    )


def _decontaminate_direct(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    eval_text_col: str | None,
    k: int,
    min_overlap: int,
) -> DataFrame:
    """Small-input fused twin of :func:`decontaminate` (see the gate
    comment there). The tagged union carries both frames into ONE task;
    the eval flag separates them inside the solver."""
    from pyspark.sql.types import LongType, StructField, StructType

    from ..functions.hashing import shingle_flat

    id_type = docs.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField(id_col, id_type),
            StructField("overlap_ngrams", LongType()),
        ]
    )
    tagged = docs.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_txt"),
        F.lit(False).alias("_ev"),
    ).unionByName(
        eval_docs.select(
            F.col(id_col).alias("_id"),
            F.col(eval_text_col or text_col).alias("_txt"),
            F.lit(True).alias("_ev"),
        )
    )

    def solve_iter(batches):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({id_col: [], "overlap_ngrams": []})
        pdfs = list(batches)
        if not pdfs:
            yield empty
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        sh, sh_row, _n = shingle_flat(pdf["_txt"], k)
        if sh.size == 0:
            yield empty
            return
        ev_rows = pdf["_ev"].to_numpy(dtype=bool)
        row_is_ev = ev_rows[sh_row]
        ev_set = np.unique(sh[row_is_ev])
        c_sh, c_row = sh[~row_is_ev], sh_row[~row_is_ev]
        if ev_set.size == 0 or c_sh.size == 0:
            yield empty
            return
        hit = c_row[np.isin(c_sh, ev_set)]
        if hit.size == 0:
            yield empty
            return
        # per-ID totals (not per row): duplicate ids merge like groupBy;
        # only corpus-row hits index into the bincount, so eval twins of
        # the same id contribute nothing (as in the distributed plan)
        codes, uniq = pd.factorize(pdf["_id"], sort=False)
        counts = np.bincount(codes[hit], minlength=len(uniq))
        keep = counts >= max(min_overlap, 1)
        yield pd.DataFrame(
            {
                id_col: np.asarray(uniq)[keep],
                "overlap_ngrams": counts[keep].astype(np.int64),
            }
        )

    return tagged.coalesce(1).mapInPandas(solve_iter, out_schema)


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash: per-token ±1 bit votes, sign of each bit's sum.

    Computed map-side per row by an Arrow-batched pandas UDF (numpy bit
    matrix — functions/hashing.py:simhash_pandas): semantics identical to
    the oracle's explode + SUM(CASE) formulation, but with NO shuffle at
    all (the explode version shuffles every token; at 100 TB that's the
    whole corpus re-materialized ~50×). Measured 6.6 s → map-only at
    sf0.1.
    """
    from ..functions.hashing import simhash_pandas

    # min_bytes=0: the numpy bit-matrix body is CPU-bound per row, so a
    # single-file bench-scale input otherwise runs it in ONE task
    # (measured 0.9 s single-task vs ~0.2 s spread at sf0.1, round 14);
    # at real scale the input arrives multi-partition and spread is a
    # no-op either way.
    return spread(df, min_bytes=0).select(
        F.col(id_col), simhash_pandas()(F.col(text_col)).alias("simhash")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: composite-block banding, verify Hamming.

    Banding follows Manku et al. (WWW'07, public paper): the 60-bit
    signature splits into 6 chunks of 10 bits and bands on every
    3-chunk combination — C(6,3)=20 composite keys of 30 bits each.
    Any pair within Hamming distance 3 has at least 3 clean chunks, so
    it shares at least one composite key: recall is EXACT for
    ``max_hamming`` ≤ 3 (probabilistic above). The 30-bit keys are what
    makes this scale: single 15-bit chunks go hot when signatures
    correlate (measured 247M candidate pairs at a 50k-doc corpus —
    driver of a 16× superlinear wall at 10× data), while composite keys
    bucket only docs agreeing on 30 specific bits.

    Pair generation is a self-join of the banded signatures on the
    composite key, with the SIGNATURE FRAME PERSISTED first (tracked;
    ``release_persisted`` drains it). The persist is what makes the
    join shape safe: un-cached, a self-join evaluates the pandas-UDF
    signature stage on BOTH sides (observed 2× ArrowEval) — that was
    the round-5 reason for a collect_list + slice-explode formulation
    instead. But the cache is tiny ((id, simhash) = 16 B/doc — ~16 GB
    cluster-wide at 1B docs, MEMORY_AND_DISK), and with it the join
    wins on BOTH axes the explode traded away: 2.0 s → 1.0 s at sf0.1
    (no array materialization, both sides stream through codegen) and
    hot composite-key buckets get AQE's skew-join split, which
    collect_list never does. The Hamming filter runs inside the join
    projection, so the pair distinct shuffles survivors only.
    ``bucket_cap`` (optional) drops degenerate hot buckets before the
    join — the quadratic-blowup guard at corpus scale, same lever as
    the LSH band cap.
    """
    from itertools import combinations

    from pyspark import StorageLevel

    # Small-input fused plan (round 14): one task computes signatures,
    # composite keys, candidate pairs and the Hamming filter in numpy —
    # identical output (see _simhash_pairs_direct's exactness notes).
    if bucket_cap is None and _small_scan(df):
        return _simhash_pairs_direct(df, id_col, text_col, max_hamming)

    sig = _materialize(
        _track(
            simhash_signatures(df, id_col, text_col).persist(
                StorageLevel.MEMORY_AND_DISK
            )
        )
    )

    def chunk_val(j: int):
        return F.shiftright(F.col("simhash"), j * SIMHASH_BAND_BITS).bitwiseAND(
            F.lit((1 << SIMHASH_BAND_BITS) - 1)
        )

    combos = list(combinations(range(SIMHASH_BAND_CHUNKS), SIMHASH_BAND_SUBSET))

    def combo_key(i: int, combo: tuple[int, ...]):
        # packed numeric key: (combo id, v1, v2, v3) in one long —
        # cheaper to hash/shuffle than a concat string
        key = F.lit(i).cast("long")
        for j in combo:
            key = key * F.lit(1 << SIMHASH_BAND_BITS) + chunk_val(j)
        return key

    chunks = F.array(
        *[combo_key(i, combo) for i, combo in enumerate(combos)]
    )
    banded = sig.select(
        F.col(id_col).alias("_id"), "simhash", F.explode(chunks).alias("_ck")
    )
    if bucket_cap is not None:
        cap_w = Window.partitionBy("_ck")
        banded = (
            banded.withColumn("_bn", F.count(F.lit(1)).over(cap_w))
            .where(F.col("_bn") <= bucket_cap)
            .drop("_bn")
        )
    a = banded.select(
        F.col("_id").alias("id_a"), F.col("simhash").alias("_sa"), "_ck"
    )
    b = banded.select(
        F.col("_id").alias("id_b"), F.col("simhash").alias("_sb"), "_ck"
    )
    hamming = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
    return (
        a.join(b, "_ck")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# -------------------------------------------- exact substring dup (#86)

def substring_dup_report(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Per-doc exact-substring duplication report over k-token windows.

    The window-granular form of exact substring dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499 — their ExactSubstr uses a corpus suffix array,
    which doesn't distribute; hashing every k-token window detects the
    same ≥k-token repeats at window granularity and is embarrassingly
    parallel). A window is "duplicated" iff its rolling hash occurs at
    ≥2 positions anywhere in the corpus (other docs or the same doc).

    Plan: Arrow-batched window hashes (position multiplicity kept) →
    explode → per-(doc,window) count → per-window total via an
    unordered window sum over the hash (ONE shuffle on the hash key and
    one lineage — a groupBy+self-join twin would re-evaluate the whole
    UDF chain twice) → per-doc re-aggregation. Everything keys on the
    window hash: linear in corpus tokens, word-count-shaped shuffles,
    no pairwise joins. Docs with fewer than ``k`` tokens have no
    windows and are absent from the report.

    Returns (id, n_windows, n_dup_windows, dup_frac).
    """
    from ..functions.hashing import shingle_hashes_pandas

    # Small-input fused twin (round 15, guide §4.3): below the byte gate
    # the whole report — window hashes, per-hash corpus totals, per-doc
    # dup counts — is one numpy pass in one task, skipping the spread
    # exchange, the explode, and both aggregation shuffles. Identical
    # integers (window multiset and corpus totals are the same sets) and
    # the identical double division; tests/test_dedup.py pins
    # fused ≡ distributed bit-equality.
    if _small_scan(df):
        return _substring_dup_direct(df, id_col, text_col, k)

    sh = shingle_hashes_pandas(k, distinct=False)
    wins = spread(df).select(
        F.col(id_col), F.explode(sh(F.col(text_col))).alias("_h")
    )
    dh = wins.groupBy(id_col, "_h").agg(F.count(F.lit(1)).alias("_c"))
    per_h = Window.partitionBy("_h")
    per_doc = (
        dh.withColumn("_n", F.sum("_c").over(per_h))
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_windows"),
            F.sum(F.when(F.col("_n") >= 2, F.col("_c")).otherwise(F.lit(0))).alias(
                "n_dup_windows"
            ),
        )
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_windows"),
        F.col("n_dup_windows"),
        (F.col("n_dup_windows").cast("double") / F.col("n_windows")).alias("dup_frac"),
    )


def _substring_dup_direct(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Small-input fused twin of :func:`substring_dup_report` (see the
    gate comment there): window hashing, corpus-wide per-hash totals and
    the per-doc dup re-aggregation all inside ONE task."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from ..functions.hashing import shingle_flat

    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField(id_col, id_type),
            StructField("n_windows", LongType()),
            StructField("n_dup_windows", LongType()),
            StructField("dup_frac", DoubleType()),
        ]
    )

    def solve_iter(batches):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {id_col: [], "n_windows": [], "n_dup_windows": [], "dup_frac": []}
        )
        pdfs = list(batches)
        if not pdfs:
            yield empty
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        # position multiplicity kept (distinct=False), exactly like the
        # distributed explode
        sh, sh_row, _n = shingle_flat(pdf[text_col], k, distinct=False)
        if sh.size == 0:
            yield empty
            return
        # duplicate ids merge like the distributed groupBy(id, _h), and
        # null ids form one group of their own there too (the default NA
        # sentinel -1 would make np.bincount raise)
        codes, uniq = pd.factorize(pdf[id_col], sort=False, use_na_sentinel=False)
        doc_of_win = codes[sh_row]
        # corpus-wide per-hash totals: a window is duplicated iff its
        # hash occurs >= 2 times anywhere (same doc included)
        _, inv, tot = np.unique(sh, return_inverse=True, return_counts=True)
        dup = tot[inv] >= 2
        n_windows = np.bincount(doc_of_win, minlength=len(uniq))
        n_dup = np.bincount(doc_of_win[dup], minlength=len(uniq))
        # docs with < k tokens have no windows and are absent, as in the
        # distributed report
        has = n_windows > 0
        yield pd.DataFrame(
            {
                id_col: np.asarray(uniq)[has],
                "n_windows": n_windows[has].astype(np.int64),
                "n_dup_windows": n_dup[has].astype(np.int64),
                "dup_frac": n_dup[has].astype(np.float64)
                / n_windows[has].astype(np.float64),
            }
        )

    return df.select(id_col, text_col).coalesce(1).mapInPandas(solve_iter, out_schema)


# ------------------------------------------- fuzzy record linkage (#104)

def fuzzy_join(
    a: DataFrame,
    b: DataFrame,
    id_a: str,
    col_a: str,
    id_b: str,
    col_b: str,
    threshold: float,
) -> DataFrame:
    """Cross-table fuzzy string join on character-trigram Jaccard.

    Record linkage / entity resolution (Fellegi & Sunter 1969 lineage;
    the trigram-blocked form every dirty-lookup pipeline runs): rows of
    ``a`` match rows of ``b`` whose strings share enough character
    trigrams. Unlike the single-corpus near-dup family this is
    two-sided — a dirty feed against a clean dimension.

    Plan: distinct lowercase trigrams per row (map-side HOF), explode →
    one trigram-keyed equi-join (candidates = pairs sharing ≥1 trigram,
    never |a|×|b|), groupBy pair counts the intersection EXACTLY, and
    Jaccard = inter / (|A| + |B| − inter) is one division — so the
    DuckDB oracle reproduces every double bit-for-bit. Trigram doc
    frequency is Zipf-bounded on real names; a hot shared trigram
    (stop-syllables) inflates candidates, which the threshold then
    discards — cap the per-trigram fanout upstream if a pathological
    feed needs it (same lever as ngram blocking's ``block_cap``).

    When the match columns repeat values heavily, run this on the
    DISTINCT value domains and map back by equi-join: similarity
    depends only on the strings, and row-level matching multiplies
    every value pair by its row counts (measured quadratic on a
    64-value domain — see q_part_fuzzy_match).

    Returns (id_a, id_b, jaccard) for pairs at/above ``threshold``.
    """
    def tri(colname: str):
        # Spark's sequence(1, 0) DESCENDS instead of returning empty, so
        # strings shorter than one trigram need the explicit empty guard
        grams = F.expr(
            f"transform(sequence(1, length(lower({colname})) - 2),"
            f" i -> substr(lower({colname}), i, 3))"
        )
        return F.array_distinct(
            F.when(F.length(F.col(colname)) >= 3, grams).otherwise(
                F.array().cast("array<string>")
            )
        )

    ta = a.select(
        F.col(id_a), tri(col_a).alias("_g")
    ).withColumn("_na", F.size("_g"))
    tb = b.select(
        F.col(id_b), tri(col_b).alias("_g")
    ).withColumn("_nb", F.size("_g"))
    ea = ta.select(id_a, "_na", F.explode("_g").alias("_t"))
    eb = tb.select(id_b, "_nb", F.explode("_g").alias("_t"))
    inter = (
        ea.join(eb, "_t")
        .groupBy(id_a, id_b, "_na", "_nb")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    jac = F.col("_inter").cast("double") / (
        F.col("_na") + F.col("_nb") - F.col("_inter")
    ).cast("double")
    return (
        inter.select(F.col(id_a), F.col(id_b), jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# ------------------------------------ directed n-gram containment (#124)


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str] = (),
    threshold: float = 0.5,
    k: int = 3,
    block_cap: int | None = None,
) -> DataFrame:
    """Directed shingle containment C(inner→outer) = |I∩O| / |I| (#124).

    Jaccard misses the sub-document duplication a training corpus cares
    about most: a short doc pasted verbatim inside a long one scores
    near-zero Jaccard (the union is huge) but containment 1.0. This is
    the asymmetric twin of :func:`ngram_jaccard_pairs` on the same
    inverted-index plan (AllPairs-style count join over distinct
    shingle hashes — the count IS |I∩O| exactly), emitting BOTH
    directions of every co-shingled pair and keeping those at or above
    the threshold. No size-ratio prune exists here by design: for
    t ≤ 1 one direction is always feasible regardless of the length
    skew (that skew is the signal), so the only pruning is the ≥1
    shared shingle the index join gives for free.

    At 100 TB the shape is identical to the jaccard twin: token-keyed
    then pair-keyed shuffles, candidate volume Σ_token df². ``block_cap``
    is the same hot-posting guard with the same omission-only contract:
    dropped (block, shingle) groups can lose pairs whose EVERY shared
    shingle is hot, and every surviving pair is re-scored exactly from
    the full arrays (never an understated value).
    """
    if threshold <= 0:
        raise ValueError(
            "ngram_containment_pairs requires threshold > 0 (the index "
            "plan only materializes pairs sharing >=1 shingle)"
        )
    bc = list(block_cols)
    # Small-input fused plan (round 14): same gate and grouped-Arrow
    # shape as the jaccard twin's _ngram_pairs_direct — one stage per
    # block, shared shingle_flat chain, |I∩O| from the posting kernel,
    # both directions emitted as the same double divisions.
    if bc and _small_scan(df):
        return _containment_pairs_direct(
            df, id_col, text_col, bc, threshold, k, block_cap
        )
    sh = _materialize(
        _track(
            shingle_frame(spread(df, min_bytes=0), id_col, text_col, block_cols, k)
            .where(F.size("_sh") > 0)
            .persist()
        )
    )
    join_cols = bc + ["_t"]
    tok = sh.select(
        F.col(id_col).alias("_id"),
        *bc,
        F.size("_sh").alias("_sz"),
        F.explode("_sh").alias("_t"),
    )
    if block_cap is not None:
        cap_w = Window.partitionBy(*join_cols)
        tok = (
            tok.withColumn("_df", F.count(F.lit(1)).over(cap_w))
            .where(F.col("_df") <= block_cap)
            .drop("_df")
        )
    a = tok.select(
        F.col("_id").alias("id_a"), F.col("_sz").alias("_sza"), *join_cols
    )
    b = tok.select(
        F.col("_id").alias("id_b"), F.col("_sz").alias("_szb"), *join_cols
    )
    size_aggs = (
        []
        if block_cap is not None
        else [F.first("_sza").alias("_sza"), F.first("_szb").alias("_szb")]
    )
    inter = (
        a.join(b, join_cols)
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_inter"), *size_aggs)
    )
    if block_cap is not None:
        # same omission-only contract as the jaccard twin: re-score the
        # cap-bounded shortlist exactly from the full shingle arrays
        full_a = sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sh_a"))
        full_b = sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sh_b"))
        inter = (
            inter.select("id_a", "id_b")
            .join(full_a, "id_a")
            .join(full_b, "id_b")
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("_sh_a", "_sh_b")).alias("_inter"),
                F.size("_sh_a").alias("_sza"),
                F.size("_sh_b").alias("_szb"),
            )
        )
    # Emit BOTH directions from each undirected pair row in ONE pass
    # (round 14): the former fwd/rev union duplicated the whole
    # join+aggregation subtree per branch (2× broadcast join builds and
    # probes, 2× final aggregate — broadcast joins have no exchange for
    # AQE to reuse), purely to flip two columns. Exploding a 2-struct
    # array yields the identical row multiset with the subtree evaluated
    # once.
    both = inter.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("id_inner"),
                    F.col("id_b").alias("id_outer"),
                    (
                        F.col("_inter").cast("double") / F.col("_sza").cast("double")
                    ).alias("containment"),
                ),
                F.struct(
                    F.col("id_b").alias("id_inner"),
                    F.col("id_a").alias("id_outer"),
                    (
                        F.col("_inter").cast("double") / F.col("_szb").cast("double")
                    ).alias("containment"),
                ),
            )
        ).alias("_dir")
    ).select("_dir.id_inner", "_dir.id_outer", "_dir.containment")
    return both.where(F.col("containment") >= threshold)


# --------------------- exact prefix-filtered TF-cosine pairs (#150)


def _tf_cosine_direct(
    df: DataFrame, id_col: str, terms, threshold: float
) -> DataFrame:
    """Small-input fused twin of :func:`tf_cosine_pairs` (see the gate
    comment there). ``terms`` is the SAME Catalyst column the
    distributed plan explodes, evaluated JVM-side in the one coalesced
    task — so the term domain is bit-identical by construction; only
    the counting moves to numpy. dot = Σ tf_a·tf_b stays integer
    (weighted posting kernel); cosine = dot_double /
    sqrt(n2a_double · n2b_double) is the identical expression."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("cosine", DoubleType()),
        ]
    )

    def solve_iter(batches):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        pdfs = list(batches)
        if not pdfs:
            yield empty
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        if not len(pdf):
            yield empty
            return
        codes, uniq = pd.factorize(pdf[id_col], sort=True)
        tl = pdf["_terms"]
        counts = np.fromiter(
            (0 if t is None else len(t) for t in tl),
            dtype=np.int64,
            count=len(tl),
        )
        total = int(counts.sum())
        if total == 0:
            yield empty
            return
        flat: list = []
        for t in tl:
            if t is not None and len(t):
                flat.extend(t)
        tcodes, _tuniq = pd.factorize(pd.Series(flat, dtype=object))
        nterm = len(_tuniq)
        dcodes = np.repeat(codes, counts)
        n = len(uniq)
        # tf per (doc, term): packed-key unique with counts (sorted →
        # doc-major, term-code-minor is NOT guaranteed in term-code
        # order of the df/term sort — irrelevant here, no prefix order
        # is needed)
        ku, tf = np.unique(dcodes * np.int64(nterm) + tcodes, return_counts=True)
        d_post, t_post = ku // nterm, ku % nterm
        tf = tf.astype(np.int64)
        n2 = np.zeros(n, dtype=np.int64)
        np.add.at(n2, d_post, tf * tf)
        pc = _posting_pair_counts(t_post, d_post, n, weights=tf)
        if pc is None:
            yield empty
            return
        da, db, dot = pc
        cos = dot.astype(np.float64) / np.sqrt(
            n2[da].astype(np.float64) * n2[db].astype(np.float64)
        )
        keep = cos >= threshold
        ids = np.asarray(uniq)
        yield pd.DataFrame(
            {"id_a": ids[da[keep]], "id_b": ids[db[keep]], "cosine": cos[keep]}
        )

    return (
        df.select(F.col(id_col), terms.alias("_terms"))
        .coalesce(1)
        .mapInPandas(solve_iter, out_schema)
    )


def tf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    ngram: int = 1,
) -> DataFrame:
    """EXACT all-pairs TF-cosine near-dup via prefix filtering (#150).

    The weighted twin of the set-based near-dup family (#20-#22, #124):
    cosine over raw term-frequency vectors scores repeated tokens,
    which Jaccard/containment's distinct-shingle sets throw away. The
    pair stage is the AllPairs prefix filter (Bayardo et al., WWW'07
    — public algorithm): sort each doc's terms rare-first (global df
    ascending) and index a posting ONLY while the remaining suffix of
    the unit-normalized vector could still reach the threshold —
    position i is indexed iff suffix_tf2(i) >= t^2 * ||tf||^2, an
    all-integer window inequality against one exactly-rounded multiply
    (engine-identical, no float accumulation). Any pair with cosine
    >= t must share an INDEXED term of at least one side (the
    unindexed suffix alone bounds the dot below t), so joining the
    pruned index against the full postings loses nothing: unlike the
    ``block_cap`` family this is EXACT — the oracle is brute force.

    At high thresholds the index keeps only ~(1-t^2) of each doc's
    squared mass — the hottest (stopword) postings are exactly the
    ones that fall off, so candidate volume is Sum_t df_idx(t)*df(t)
    with df_idx << df on Zipf vocabularies. Shuffles: term-keyed
    (candidates), then pair-keyed (re-score) — both AQE-splittable.
    The exact re-score computes the integer dot from the full tf
    postings and divides by sqrt of the integer norm product once.
    """
    t2 = threshold * threshold
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    if ngram > 1:
        # n-word shingle strings as the term domain: same exactness (the
        # prefix bound never looked at what a "term" is), but the shingle
        # vocabulary is |V|^n-shaped, which keeps posting lists usable on
        # closed/small vocabularies where every UNIGRAM is corpus-hot.
        n_sh = F.greatest(F.size(toks) - (ngram - 1), F.lit(0))
        parts = [F.slice(toks, i + 1, n_sh) for i in range(ngram)]
        terms = F.transform(
            F.arrays_zip(*parts),
            lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(ngram)]),
        )
    else:
        terms = toks
    # Small-input fused plan (round 14): the SAME Catalyst expression
    # computes the term arrays (tokenization semantics cannot drift),
    # then one mapInPandas task does tf, the weighted posting dots and
    # the cosine in numpy. threshold > 0 makes skipping the prefix
    # filter lossless: every qualifying pair shares a term and the
    # posting kernel enumerates exactly those pairs with exact integer
    # dots — no candidate ever needs the (superset-only) prefix prune.
    if threshold > 0 and _small_scan(df):
        return _tf_cosine_direct(df, id_col, terms, threshold)
    # ONE compact exchange serves the whole per-doc pipeline (round 14):
    # repartition the raw (_id, text) rows by _id BEFORE exploding, so
    # the tf aggregation (grouping keys ⊇ the partition key), the
    # per-doc norm, the df-ordered suffix window, and the tf-map
    # aggregation below all reuse that partitioning with NO further
    # exchange. The previous shape paid a posting-scale (_id, _t)
    # exchange for tf, an _id exchange + join for norm2, and an _id
    # re-exchange for the suffix window; it also ran the whole
    # explode+count serially in one task on a single-file bench input.
    # AQE owns the partition count (RepartitionByExpression without a
    # fixed N), so this stays scale-adaptive.
    tf = (
        df.select(F.col(id_col).alias("_id"), F.col(text_col))
        .repartition(F.col("_id"))
        .select("_id", F.explode(terms).alias("_t"))
        .groupBy("_id", "_t")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    tf = _materialize(_track(tf.persist()))
    gdf = tf.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    # per-doc norm as a whole-partition window over the SAME _id
    # partitioning (replaces the groupBy(_id) frame + id-keyed join);
    # the inner join with gdf loses no rows (gdf is built FROM tf), so
    # the window sum is the identical integer.
    wdoc = Window.partitionBy("_id")
    suffix = Window.partitionBy("_id").orderBy(
        F.col("_df").asc(), F.col("_t").asc()
    ).rowsBetween(Window.currentRow, Window.unboundedFollowing)
    indexed = _materialize(
        _track(
            tf.join(gdf, "_t")
            .withColumn("_n2", F.sum(F.col("_tf") * F.col("_tf")).over(wdoc))
            .withColumn(
                "_suf2", F.sum(F.col("_tf") * F.col("_tf")).over(suffix)
            )
            .where(
                F.col("_suf2").cast("double")
                >= F.lit(t2) * F.col("_n2").cast("double")
            )
            .select(
                "_id",
                "_t",
                # one double per posting for the pair-level suffix bound:
                # _q = suf2/(t·n2), so the pair test is qa·qb ≥ 1
                (
                    F.col("_suf2").cast("double")
                    / (F.lit(threshold) * F.col("_n2").cast("double"))
                ).alias("_q"),
            )
            .persist()
        )
    )
    # Prefix JOINS prefix, not prefix-joins-full: with ONE global term
    # order shared by every doc, the globally-smallest shared term of a
    # qualifying pair is in BOTH prefixes (if it missed a's prefix, every
    # shared term — all later in the order — would too, emptying
    # shared∩prefix_a, contradiction). The PPJoin-style tightening cuts
    # candidate volume from Σ_t df_idx·df to Σ_t df_idx² losslessly.
    #
    # PPJoin+-style SUFFIX filter (weighted analog, Xiao et al. WWW'08 /
    # Bayardo WWW'07 §5): a pair colliding at term t has
    # dot = Σ_{t' ≥ t} a·b ≤ sqrt(sufA2(t))·sqrt(sufB2(t)) (Cauchy-
    # Schwarz over the shared suffix), so a row may be dropped whenever
    # sufA2·sufB2 < t²·n2a·n2b. LOSSLESS through the distinct: a
    # qualifying pair's smallest shared term t* satisfies the bound
    # (dot² ≥ t²·n2a·n2b there), so its t* row always survives even if
    # later-term rows are pruned. The (1 − 1e-9) slack keeps boundary
    # pairs when the exactly-rounded double products land within an ulp
    # — slack only ever UNDER-prunes, never drops.
    suffix_ok = F.col("_qa") * F.col("_qb") >= F.lit(1.0 - 1e-9)
    cands = (
        indexed.select(
            F.col("_id").alias("_ia"), "_t", F.col("_q").alias("_qa")
        )
        .join(
            indexed.select(
                F.col("_id").alias("_ib"), "_t", F.col("_q").alias("_qb")
            ),
            "_t",
        )
        .where((F.col("_ia") < F.col("_ib")) & suffix_ok)
        .select(F.col("_ia").alias("id_a"), F.col("_ib").alias("id_b"))
        .distinct()
    )
    # Exact re-score from per-doc tf MAPS, not a third posting join: the
    # posting formulation shuffles |pairs| x doc_len rows (measured 25 s
    # of the 28 s wall at sf0.1), while map_zip_with + aggregate computes
    # the same integer dot inside codegen per candidate row. The map
    # frame is |docs| rows — id-keyed joins, broadcastable when small.
    tfmap = tf.groupBy("_id").agg(
        F.map_from_arrays(
            F.collect_list("_t"), F.collect_list("_tf")
        ).alias("_m"),
        F.sum(F.col("_tf") * F.col("_tf")).alias("_n2"),
    )
    dot = F.aggregate(
        F.map_values(
            F.map_zip_with(
                F.col("_ma"),
                F.col("_mb"),
                lambda _k, va, vb: F.coalesce(va, F.lit(0))
                * F.coalesce(vb, F.lit(0)),
            )
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # cast each norm to double BEFORE multiplying: the long product wraps
    # silently past 2^63 (two docs with n2 ~ 3e9 suffice) while the
    # double product is exactly rounded at any magnitude — and the DuckDB
    # oracle mirrors the same cast order, keeping bit-identity
    cosine = F.col("_dot").cast("double") / F.sqrt(
        F.col("_n2a").cast("double") * F.col("_n2b").cast("double")
    )
    return (
        cands.join(
            tfmap.select(
                F.col("_id").alias("id_a"),
                F.col("_m").alias("_ma"),
                F.col("_n2").alias("_n2a"),
            ),
            "id_a",
        )
        .join(
            tfmap.select(
                F.col("_id").alias("id_b"),
                F.col("_m").alias("_mb"),
                F.col("_n2").alias("_n2b"),
            ),
            "id_b",
        )
        .withColumn("_dot", dot)
        .select("id_a", "id_b", cosine.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )
