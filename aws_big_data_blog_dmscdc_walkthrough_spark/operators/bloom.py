"""Explicit bloom-filter pre-filter for selective joins (#93).

The 100 TB problem: a semi-join whose probe side is huge (the fact
table) and whose build side is too large to broadcast as a hash
relation (10^7-10^8 keys = GBs) still shuffles the ENTIRE probe side on
the join key. A bloom filter of the build keys is 10-100x smaller than
the keys themselves, has no false negatives, and turns most of that
shuffle into a map-side discard — Spark's own runtime bloom filter
(``spark.sql.optimizer.runtime.bloomFilter.enabled``, on in our
session factory) does exactly this, but only when its size/selectivity
heuristics fire and only within one optimized plan. This operator is
the user-directed form: build once, filter any number of frames, no
heuristic gatekeeping. ``might_contain``/``bloom_filter_agg`` are not
SQL-registered in this build, so the filter is composed from public
primitives:

- build: k probe positions per key (double hashing, Kirsch &
  Mitzenmacher 2006 — two xxhash64 values combined mod-first so ANSI
  arithmetic can't overflow), explode → ``bit_or`` per 64-bit word —
  one word-keyed aggregation whose output is at most ``num_words``
  rows no matter how many keys went in;
- the bitmap STAYS a DataFrame (word → bits). It is never collected:
  the probe side computes each of its k word indices and resolves them
  through k broadcast hash joins against the word table — map-side
  lookups, no shuffle of the probe side, no driver round-trip. (A
  driver-literal variant was tried first and measured: a 235k-word
  ``Literal(long[])`` referenced from k probe expressions made the
  DRIVER the bottleneck — optimizer passes compare/copy the literal
  repeatedly and wall time scaled with bitmap size, 33 s vs 1 s on 6M
  rows. The word-table join keeps the bitmap out of the plan tree.)
- an INNER join per probe is the bit-absent fast path: a missing word
  row means every bit in that word is 0, so the row is correctly
  dropped by the join itself; surviving rows test their bit with a
  scalar shift.

Correctness does not depend on sizing: an undersized bitmap only
raises the false-positive rate, and ``bloom_semi_join`` always
finishes with the exact join, so its output is IDENTICAL to the plain
semi-join — which is why the DuckDB oracle is a plain ``EXISTS``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOOM_K = 4  # probes per key
BLOOM_SALT = 0x9E3779B9  # golden-ratio salt for the second hash
# ~10 bits/key ≈ 1% fpp at k=4; capped so the broadcast stays bounded
# (2^24 words = 128 MiB) even for a badly over-estimated build side.
BLOOM_BITS_PER_KEY = 10
BLOOM_MAX_WORDS = 1 << 24


def _num_words(expected_items: int) -> int:
    bits = max(64, expected_items * BLOOM_BITS_PER_KEY)
    return min(BLOOM_MAX_WORDS, (bits + 63) // 64)


def _probe_cols(key_col, m: int, k: int):
    """k probe bit-positions in [0, m). Both hashes are reduced mod m
    BEFORE combining, so every intermediate stays < (k+1)*m << 2^63 and
    ANSI overflow checking never trips."""
    h1 = F.pmod(F.xxhash64(key_col), F.lit(m))
    h2 = F.pmod(F.xxhash64(key_col, F.lit(BLOOM_SALT)), F.lit(m))
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(m)) for i in range(k)]


def bloom_build(
    keys: DataFrame, key_col: str, expected_items: int, k: int = BLOOM_K
) -> DataFrame:
    """Build the bitmap as a (word:int, bits:long) DataFrame.

    One word-keyed ``bit_or`` aggregation — output cardinality is
    bounded by the bitmap size, independent of the key count. The
    result is broadcast-sized by construction; persist or write it to
    reuse one filter across many frames/stages. ``num_words(expected)``
    is recoverable from the frame itself (max word index rounds up),
    but callers normally thread ``expected_items`` to
    ``bloom_filter_frame`` so the two sides agree exactly.
    """
    m = _num_words(expected_items) * 64
    probes = F.array(*_probe_cols(F.col(key_col), m, k))
    return (
        keys.select(F.explode(probes).alias("_p"))
        .select(
            F.shiftright(F.col("_p"), 6).cast("int").alias("word"),
            F.expr("shiftleft(1L, cast(_p % 64 as int))").alias("_m"),
        )
        .groupBy("word")
        .agg(F.bit_or("_m").alias("bits"))
    )


def bloom_filter_frame(
    df: DataFrame,
    key_col: str,
    words: DataFrame,
    expected_items: int,
    k: int = BLOOM_K,
) -> DataFrame:
    """Map-side pre-filter: keep rows whose key MIGHT be in the filter.

    k broadcast hash joins against the word table, one per probe; an
    inner join drops rows probing an absent (= all-zero) word, the
    surviving rows test their bit with a scalar shift. No false
    negatives; false positives pass through (callers follow with an
    exact join when they need exactness). ``expected_items`` must match
    the build call — it fixes the modulus.
    """
    m = _num_words(expected_items) * 64
    stage = df
    drop: list[str] = []
    for i, p in enumerate(_probe_cols(F.col(key_col), m, k)):
        bp, w, b = f"_bp{i}", f"_bw{i}", f"_bb{i}"
        probe_words = F.broadcast(
            words.select(F.col("word").alias(w), F.col("bits").alias(b))
        )
        stage = (
            stage.withColumn(bp, p)
            .withColumn(w, F.shiftright(F.col(bp), 6).cast("int"))
            .join(probe_words, w, "inner")
            .where(F.expr(f"(shiftright({b}, cast({bp} % 64 as int)) & 1) = 1"))
        )
        drop += [bp, w, b]
    return stage.drop(*drop)


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    expected_items: int | None = None,
    k: int = BLOOM_K,
) -> DataFrame:
    """Semi-join ``big`` to ``small`` with a bloom pre-filter.

    Exactly equivalent to ``big.join(small, ..., "leftsemi")`` — the
    closing exact semi-join removes bloom false positives — but the
    probe side that reaches the join shuffle is already thinned to
    ~selectivity + fpp, which at 100 TB is the difference between
    shuffling the fact table and shuffling the matches.
    ``expected_items=None`` pays one count() job on the build side to
    size the bitmap (build sides are dim-scale; pass the estimate when
    you have one).
    """
    if expected_items is None:
        expected_items = small.count()
    # xxhash64 is TYPE-sensitive: long 5 and int 5 hash differently, so
    # mismatched key types would probe the wrong bits — FALSE NEGATIVES,
    # silent row loss. Hash the build side in the probe side's type
    # (equi-join semantics coerce the same way).
    big_type = big.schema[big_key].dataType
    build_keys = small.select(F.col(small_key).cast(big_type).alias(small_key))
    words = bloom_build(build_keys, small_key, expected_items, k)
    pre = bloom_filter_frame(big, big_key, words, expected_items, k)
    return pre.join(
        small.select(F.col(small_key).alias(big_key)).distinct(),
        big_key,
        "leftsemi",
    )


# ---------------------------------------- per-file bloom index (#98)
#
# Point lookups on a non-partition column are the worst case for a
# 100 TB lake: min/max file stats prune nothing when the key is
# uniformly distributed, so `WHERE id = x` scans every file. A per-FILE
# bloom filter (the same idea as Parquet column bloom filters / Delta
# bloom index, built with this module's primitives) answers "which
# files MIGHT contain this key" from an index that is KB-per-file, so
# the scan touches ~1 file instead of all of them. Files written after
# the index build are always scanned — staleness can't cause a miss.
#
# Scope: PLAIN-DIRECTORY tables (the build and the lookup read the
# directory listing, so every visible file is table data). A
# manifest-committed table must NOT route point lookups here — a
# crashed writer's orphan files are invisible to manifest.read_table
# but WOULD be scanned by this path; manifest tables already get
# metadata-level point-lookup skipping from read_table's per-file
# min/max stats (record the key in stats_cols).

INDEX_PREFIX = "_bloom_index_"


def build_file_bloom_index(
    spark,
    table_path: str,
    key_col: str,
    expected_items_per_file: int = 1_000_000,
    k: int = BLOOM_K,
) -> str:
    """One pass over the table: per-(file, word) ``bit_or`` bitmap rows.

    Written to ``<table>/_bloom_index_<col>`` — underscore-prefixed, so
    table reads never see it and compaction (which replaces data files
    only) leaves it in place. Each row records the modulus ``m`` so lookups don't
    depend on the caller remembering the build sizing. Re-run after
    compaction (old file names vanish; their index rows go stale but
    only cost false scans of nothing — vanished files list no data).
    """
    m = _num_words(expected_items_per_file) * 64
    df = spark.read.parquet(table_path).select(
        F.col(key_col), F.col("_metadata.file_path").alias("file")
    )
    probes = F.array(*_probe_cols(F.col(key_col), m, k))
    idx = (
        df.select("file", F.explode(probes).alias("_p"))
        .select(
            "file",
            F.shiftright(F.col("_p"), 6).cast("int").alias("word"),
            F.expr("shiftleft(1L, cast(_p % 64 as int))").alias("_m"),
        )
        .groupBy("file", "word")
        .agg(F.bit_or("_m").alias("bits"))
        .withColumn("m", F.lit(m))
    )
    out = table_path.rstrip("/") + "/" + INDEX_PREFIX + key_col
    idx.write.mode("overwrite").parquet(out)
    return out


def _list_data_files(spark, table_path: str) -> list[str]:
    """All data files under the table, RECURSIVELY: a partitioned table
    nests files in key=value dirs, and a new file the lister misses
    would silently escape the always-scan-unindexed guarantee."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(table_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    out: list[str] = []
    stack = [root]
    while stack:
        p = stack.pop()
        for status in fs.listStatus(p):
            name = status.getPath().getName()
            if name.startswith("_") or name.startswith("."):
                continue  # sidecars (incl. the index itself), hidden files
            if status.isDirectory():
                stack.append(status.getPath())
            elif name.endswith(".parquet"):
                out.append(status.getPath().toString())
    return out


def bloom_point_lookup(spark, table_path: str, key_col: str, value, k: int = BLOOM_K):
    """``SELECT * WHERE key = value`` scanning only candidate files.

    The index read + probe-word filter touch KB of index data; probe
    positions for the literal come from one single-row JVM job (the
    same xxhash64 expressions the build used, so the two sides cannot
    disagree). Files missing from the index (written after the build)
    are always scanned — no false negatives, ever. Returns the filtered
    DataFrame; an empty candidate set returns an empty frame with the
    table schema.
    """
    table = spark.read.parquet(table_path)
    idx_path = table_path.rstrip("/") + "/" + INDEX_PREFIX + key_col
    idx = spark.read.parquet(idx_path)
    m = idx.select("m").first()["m"]
    # xxhash64 is TYPE-sensitive: a bare int literal hashes differently
    # from the table's long/string column — cast to the column's type so
    # probe positions match the build exactly
    lit = F.lit(value).cast(table.schema[key_col].dataType)
    probe_row = (
        spark.range(1)
        .select(
            *[
                p.alias(f"p{i}")
                for i, p in enumerate(_probe_cols(lit, int(m), k))
            ]
        )
        .first()
    )
    want = {}  # word -> required bit mask
    for i in range(k):
        pos = probe_row[f"p{i}"]
        want.setdefault(pos >> 6, 0)
        want[pos >> 6] |= 1 << (pos % 64)
    # candidate = indexed files whose k probe words all carry their bits
    rows = idx.where(F.col("word").isin(*[int(w) for w in want])).collect()
    by_file: dict[str, dict[int, int]] = {}
    indexed = set()
    for r in rows:
        by_file.setdefault(r["file"], {})[r["word"]] = r["bits"]
    for r in idx.select("file").distinct().collect():
        indexed.add(r["file"])
    candidates = [
        f
        for f, words in by_file.items()
        if all(words.get(w, 0) & mask == mask for w, mask in want.items())
    ]
    # files the index has never seen must always be scanned
    unindexed = [f for f in _list_data_files(spark, table_path) if f not in indexed]
    targets = candidates + unindexed
    if not targets:
        return table.where(F.lit(False))
    return (
        # basePath: candidate paths are FILES; without it a partitioned
        # table's key=value dir columns would read back as NULLs
        spark.read.option("basePath", table_path)
        .schema(table.schema)
        .parquet(*targets)
        .where(F.col(key_col) == F.lit(value))
    )
