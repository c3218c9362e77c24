"""Deterministic hashing primitives, in two interchangeable forms.

Each hash exists as (a) a JVM column-expression tree and (b) an
Arrow-batched pandas UDF computing the identical integer arithmetic —
see the "Arrow-batched hot paths" section for why (b) is the default on
hot paths. Every constant is a plain Python int shared with the DuckDB
oracle SQL generators (plans/llm_queries.py) so all three computations
(Spark HOF, Spark pandas, DuckDB SQL) produce bit-identical signatures
(verified in tests).

The reference (aws-samples/aws-big-data-blog-dmscdc-walkthrough) has no
hashing layer; these primitives power the LLM-data-pipeline operators
(dedup, fingerprinting) that extend the lake with curation capability.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

# Char-level polynomial rolling hash bases/moduli (both < 2^30 so the
# accumulator stays well inside int64 during the fold).
POLY_MOD1 = 1_000_000_007
POLY_MUL1 = 31
POLY_MOD2 = 1_073_741_789
POLY_MUL2 = 131

# MinHash family: h_i(x) = (a_i * x + b_i) mod P, P = 2^31 - 1 (prime).
MINHASH_A = [7, 31, 131, 541, 2003, 8111, 32771, 131071]
MINHASH_B = [3, 17, 89, 389, 1543, 6151, 24593, 98317]
MINHASH_P = 2_147_483_647
NUM_MINHASH = len(MINHASH_A)

SIMHASH_HALF_BITS = 30  # two 30-bit halves → 60-bit signature
# Composite-block banding (Manku et al., WWW'07 "Detecting
# Near-Duplicates for Web Crawling", public paper): split the 60-bit
# signature into 6 chunks of 10 bits and band on every 3-chunk
# combination (C(6,3)=20 keys of 30 bits). Any pair within hamming 3
# has ≥3 clean chunks, hence shares ≥1 composite key — recall is EXACT
# for d ≤ (chunks − subset), while 30-bit keys keep buckets ~2^15×
# more selective than single 15-bit chunks (measured: hot-bucket
# candidate explosion at 10× corpus scale with single-chunk banding).
SIMHASH_BAND_BITS = 10
SIMHASH_BAND_CHUNKS = 6
SIMHASH_BAND_SUBSET = 3

SHINGLE_COMBINE = 131  # word-hash → shingle-hash combiner


def poly_hash(col, mul: int = POLY_MUL1, mod: int = POLY_MOD1):
    """Deterministic char-level polynomial hash: fold over the char array.

    Reproducible in any engine — the DuckDB twin is an explicit
    list_reduce over the same constants.
    """
    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * F.lit(mul) + F.ascii(ch)) % F.lit(mod),
    )


def poly_hash_text_pandas(mul: int = POLY_MUL1, mod: int = POLY_MOD1):
    """pandas_udf: whole-document char polynomial hash (Arrow hot path).

    Bit-identical to ``poly_hash``'s HOF fold — same per-char
    ``acc = (acc*mul + codepoint) % mod`` — but the HOF runs on
    Catalyst's interpreted path (higher-order lambdas never enter
    whole-stage codegen), which made the document fingerprint the
    slowest map-only query in the bench. Here every doc is folded as one
    "token" through :func:`_poly_fold_tokens`: Python-level work is
    O(longest doc) per Arrow batch, each step one vectorized
    multiply-add-mod across all still-live documents. Nulls stay null,
    matching the HOF expression.
    """

    @F.pandas_udf(LongType())
    def udf(texts: pd.Series) -> pd.Series:
        n = len(texts)
        if n == 0:
            return pd.Series([], dtype="Int64")
        isna = texts.isna().to_numpy()
        vals = ["" if na else t for t, na in zip(texts, isna)]
        (hs,) = _poly_fold_tokens(vals, [(mul, mod)])
        out = pd.Series(hs, dtype="Int64")
        out[isna] = pd.NA
        return out

    return udf


# ------------------------------------------------- Arrow-batched hot paths
#
# The HOF expressions above are correct but run on Catalyst's INTERPRETED
# path (higher-order lambdas never enter whole-stage codegen), and worse,
# optimizer rewrites (filter-pushdown substitution, project collapse) can
# duplicate the whole char-fold chain — measured 9.4 s vs 1.1 s for the
# same ngram-jaccard plan at sf0.1. A scalar Pandas UDF computes the
# identical integer arithmetic (bit-for-bit), is Arrow-batched, and is
# structurally evaluated ONCE (the planner extracts it into a single
# ArrowEvalPython node no rewrite duplicates). These are the default hot
# paths; the HOF twins remain for parity tests.
#
# Inside the UDFs everything is numpy: the per-token polynomial fold runs
# column-wise over character positions (one vectorized multiply-add-mod
# per position across ALL tokens in the Arrow batch), so Python-level
# work is O(max token length) per batch instead of O(total characters).
# int64 never overflows: acc < mod < 2^30, mul ≤ 131 (2^8), codepoint
# < 2^21 → acc*mul + c < 2^39; minhash a·h < 2^17 · 2^31 = 2^48.


def _batch_tokens(texts) -> tuple[list[str], np.ndarray]:
    """Whitespace-split every text; return (flat token list, tokens/doc)."""
    counts = np.empty(len(texts), dtype=np.int64)
    flat: list[str] = []
    for i, t in enumerate(texts):
        toks = t.split() if t is not None else []
        counts[i] = len(toks)
        flat.extend(toks)
    return flat, counts


def _poly_fold_tokens(tokens: list[str], params: Sequence[tuple[int, int]]) -> list[np.ndarray]:
    """Char poly-hash of every token, one int64 array per (mul, mod).

    Identical arithmetic to ``acc = (acc*mul + ord(ch)) % mod`` per char:
    all tokens' codepoints are decoded once (UTF-32 → exact ``ord``
    values), then the fold advances one character position at a time
    across every still-live token in one vectorized step.
    """
    n = len(tokens)
    if n == 0:
        return [np.empty(0, dtype=np.int64) for _ in params]
    lengths = np.fromiter((len(t) for t in tokens), dtype=np.int64, count=n)
    codes = np.frombuffer(
        "".join(tokens).encode("utf-32-le"), dtype=np.uint32
    ).astype(np.int64)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    max_len = int(lengths.max())
    accs = [np.zeros(n, dtype=np.int64) for _ in params]
    # iterate once over char positions; each step touches only tokens
    # that still have a j-th character
    order = np.argsort(lengths, kind="stable")
    for j in range(max_len):
        # tokens with length > j form a suffix of `order`
        cut = np.searchsorted(lengths[order], j, side="right")
        live = order[cut:]
        ch = codes[starts[live] + j]
        for acc, (mul, mod) in zip(accs, params):
            acc[live] = (acc[live] * mul + ch) % mod
    return accs


def shingle_flat(texts, k: int, distinct: bool = True) -> tuple[np.ndarray, np.ndarray, int]:
    """Flat ``(shingle_hash, doc_index)`` arrays for a batch of texts.

    The shared computational core of :func:`shingle_hashes_pandas` (which
    splits the flat arrays back into per-doc lists) and the fused
    small-input pair stage in ``operators/dedup.py`` (which consumes the
    flat posting form directly — re-splitting and re-exploding would be
    pure overhead). Arithmetic is the canonical shingle chain: per-token
    char poly-fold (POLY_MUL1/POLY_MOD1), k-token combine by
    SHINGLE_COMBINE; with ``distinct`` the (doc, shingle) pairs come back
    doc-major, shingle-ascending, deduped. Returns
    ``(sh, sh_doc, n_docs)``.
    """
    mul, mod, comb = POLY_MUL1, POLY_MOD1, SHINGLE_COMBINE
    n_docs = len(texts)
    flat, counts = _batch_tokens(texts)
    (hs,) = _poly_fold_tokens(flat, [(mul, mod)])
    doc_of_tok = np.repeat(np.arange(n_docs, dtype=np.int64), counts)
    total = hs.size
    if total >= k:
        idx = np.arange(total - k + 1)
        # a shingle is valid iff its k tokens belong to one document
        starts = idx[doc_of_tok[idx] == doc_of_tok[idx + k - 1]]
        sh = hs[starts]
        for j in range(1, k):
            sh = (sh * comb + hs[starts + j]) % mod
        sh_doc = doc_of_tok[starts]
        if distinct:
            # distinct + sorted within each doc: one global lexsort
            order = np.lexsort((sh, sh_doc))
            sh, sh_doc = sh[order], sh_doc[order]
            keep = np.ones(sh.size, dtype=bool)
            keep[1:] = (sh[1:] != sh[:-1]) | (sh_doc[1:] != sh_doc[:-1])
            sh, sh_doc = sh[keep], sh_doc[keep]
    else:
        sh = np.empty(0, dtype=np.int64)
        sh_doc = np.empty(0, dtype=np.int64)
    return sh, sh_doc, n_docs


def shingle_hashes_pandas(k: int = 3, distinct: bool = True):
    """pandas_udf: text → k-word-shingle hashes.

    Same math as shingle_frame's HOF chain: per-token char poly-fold
    (POLY_MUL1/POLY_MOD1), k-token combine by SHINGLE_COMBINE. With
    ``distinct`` (the default, the MinHash/Jaccard input) shingles are
    deduped and sorted per doc; ``distinct=False`` keeps one hash per
    WINDOW POSITION in document order — the exact-substring-dup report
    needs position multiplicity.
    """

    @F.pandas_udf(ArrayType(LongType()))
    def udf(texts: pd.Series) -> pd.Series:
        n_docs = len(texts)
        if n_docs == 0:
            return pd.Series([], dtype=object)
        sh, sh_doc, _ = shingle_flat(texts, k, distinct)
        per_doc = np.bincount(sh_doc, minlength=n_docs)
        bounds = np.cumsum(per_doc)[:-1]
        # numpy slices, not tolist(): pyarrow ingests int64 ndarrays
        # ~8x faster than lists of Python ints (values identical)
        return pd.Series(np.split(sh, bounds))

    return udf


def shingle_hashes_wide_pandas(k: int = 3):
    """pandas_udf: text → DISTINCT k-word-shingle hashes on a ~60-bit key.

    Two independent char-poly/combine folds — family A (POLY_MUL1,
    POLY_MOD1) and family B (POLY_MUL2, POLY_MOD2), both k-token
    combined by SHINGLE_COMBINE — packed as ``hA * POLY_MOD2 + hB``
    (< 2^60, int64-safe). The single-family 30-bit key of
    :func:`shingle_hashes_pandas` birthday-collides from ~3·10⁴
    distinct shingles, which is fine for banding/minhash candidates but
    NOT for a distinct-count readout; the wide key keeps corpus-scale
    novelty/distinct statistics collision-free in practice while still
    shuffling an 8-byte long instead of the raw shingle string. Both
    folds ride ONE :func:`_poly_fold_tokens` pass; the arithmetic is
    mirrored verbatim in the DuckDB oracles, so cross-engine results
    stay bit-identical by construction even on a collision.
    """
    @F.pandas_udf(ArrayType(LongType()))
    def udf(texts: pd.Series) -> pd.Series:
        n_docs = len(texts)
        if n_docs == 0:
            return pd.Series([], dtype=object)
        sh, sh_doc, _ = shingle_wide_flat(texts, k)
        per_doc = np.bincount(sh_doc, minlength=n_docs)
        bounds = np.cumsum(per_doc)[:-1]
        # numpy slices, not tolist() (see shingle_hashes_pandas)
        return pd.Series(np.split(sh, bounds))

    return udf


def shingle_wide_flat(texts, k: int) -> tuple[np.ndarray, np.ndarray, int]:
    """Flat DISTINCT ``(wide_shingle_hash, doc_index)`` arrays for a batch.

    The shared computational core of :func:`shingle_hashes_wide_pandas`
    (which splits the flat arrays back into per-doc lists) and the fused
    small-input novelty solver in ``plans/corpus_ml.py`` (which consumes
    the flat posting form directly). Identical arithmetic: two
    char-poly/combine folds packed as ``hA * POLY_MOD2 + hB``; distinct
    per doc. Returns ``(sh, sh_doc, n_docs)``.
    """
    mul, mod, comb = POLY_MUL1, POLY_MOD1, SHINGLE_COMBINE
    mul2, mod2 = POLY_MUL2, POLY_MOD2
    n_docs = len(texts)
    flat, counts = _batch_tokens(texts)
    h1, h2 = _poly_fold_tokens(flat, [(mul, mod), (mul2, mod2)])
    doc_of_tok = np.repeat(np.arange(n_docs, dtype=np.int64), counts)
    total = h1.size
    if total >= k:
        idx = np.arange(total - k + 1)
        starts = idx[doc_of_tok[idx] == doc_of_tok[idx + k - 1]]
        s1, s2 = h1[starts], h2[starts]
        for j in range(1, k):
            s1 = (s1 * comb + h1[starts + j]) % mod
            s2 = (s2 * comb + h2[starts + j]) % mod2
        sh = s1 * mod2 + s2
        sh_doc = doc_of_tok[starts]
        order = np.lexsort((sh, sh_doc))
        sh, sh_doc = sh[order], sh_doc[order]
        keep = np.ones(sh.size, dtype=bool)
        keep[1:] = (sh[1:] != sh[:-1]) | (sh_doc[1:] != sh_doc[:-1])
        sh, sh_doc = sh[keep], sh_doc[keep]
    else:
        sh = np.empty(0, dtype=np.int64)
        sh_doc = np.empty(0, dtype=np.int64)
    return sh, sh_doc, n_docs


def _segment_offsets(counts: np.ndarray) -> np.ndarray:
    """Start offset of each segment given per-segment item counts (>0)."""
    offs = np.zeros(counts.size, dtype=np.int64)
    np.cumsum(counts[:-1], out=offs[1:])
    return offs


# Bound the intermediate matrices a single vectorized step materializes
# ((K × shingles) for minhash, (tokens × bits) for simhash) regardless of
# Arrow batch size or document length distribution: ~64 MB at int64.
_MAX_ITEMS_PER_STEP = 1 << 20


def _doc_chunks(counts: np.ndarray, max_items: int):
    """Yield (lo, hi) doc ranges whose summed counts stay ≤ max_items
    (always ≥1 doc, so one pathological document still processes)."""
    ends = np.cumsum(counts)
    lo, base, n = 0, 0, counts.size
    while lo < n:
        hi = int(np.searchsorted(ends, base + max_items, side="right"))
        hi = max(hi, lo + 1)
        yield lo, hi
        base = int(ends[hi - 1])
        lo = hi


def minhash_signature_pandas():
    """pandas_udf: shingle-hash array → K-minhash signature (numpy).

    One (K × shingles-in-chunk) multiply-add-mod, then a segmented min
    per document (``minimum.reduceat``) — no per-row Python loop.
    """
    a_vec = np.asarray(MINHASH_A, dtype=np.int64)[:, None]
    b_vec = np.asarray(MINHASH_B, dtype=np.int64)[:, None]

    @F.pandas_udf(ArrayType(LongType()))
    def udf(shingles: pd.Series) -> pd.Series:
        vals = shingles.to_numpy()
        counts = np.fromiter(
            (0 if a is None else len(a) for a in vals),
            dtype=np.int64,
            count=len(vals),
        )
        out: list = [None] * len(vals)
        ne_idx = np.nonzero(counts > 0)[0]
        ne_counts = counts[ne_idx]
        for lo, hi in _doc_chunks(ne_counts, _MAX_ITEMS_PER_STEP):
            docs = ne_idx[lo:hi]
            flat = np.concatenate([np.asarray(vals[i], dtype=np.int64) for i in docs])
            # a*h < 2^17 * 2^31 < 2^48: no int64 overflow
            sigs = (a_vec * flat + b_vec) % MINHASH_P
            mins = np.minimum.reduceat(sigs, _segment_offsets(ne_counts[lo:hi]), axis=1)
            for j, i in enumerate(docs):
                out[i] = mins[:, j]
        return pd.Series(out, dtype=object)

    return udf


def simhash_flat(texts) -> np.ndarray:
    """Vectorized 60-bit SimHash per text (two 30-bit halves).

    Identical semantics to the explode + SUM(CASE) formulation: per-token
    ±1 votes on each bit of two char poly-hashes, bit set iff vote sum is
    strictly positive — computed as a chunk-wide bit matrix + segmented
    vote sums. Shared core of :func:`simhash_pandas` and the fused
    small-input pair solver in operators/dedup.py, so the two callers
    cannot drift."""
    bits = np.arange(SIMHASH_HALF_BITS, dtype=np.int64)
    weights = np.int64(1) << bits

    def _votes(h: np.ndarray, offs: np.ndarray) -> np.ndarray:
        return np.add.reduceat(2 * ((h[:, None] >> bits) & 1) - 1, offs, axis=0)

    flat, counts = _batch_tokens(texts)
    h1, h2 = _poly_fold_tokens(
        flat, [(POLY_MUL1, POLY_MOD1), (POLY_MUL2, POLY_MOD2)]
    )
    out = np.zeros(len(counts), dtype=np.int64)
    ne_idx = np.nonzero(counts > 0)[0]
    ne_counts = counts[ne_idx]
    tok_ends = np.cumsum(ne_counts)
    for lo, hi in _doc_chunks(ne_counts, _MAX_ITEMS_PER_STEP // SIMHASH_HALF_BITS):
        t0 = int(tok_ends[lo - 1]) if lo else 0
        t1 = int(tok_ends[hi - 1])
        offs = _segment_offsets(ne_counts[lo:hi])
        v1 = _votes(h1[t0:t1], offs)
        v2 = _votes(h2[t0:t1], offs)
        lo_bits = ((v1 > 0) * weights).sum(axis=1)
        hi_bits = ((v2 > 0) * weights).sum(axis=1)
        out[ne_idx[lo:hi]] = hi_bits * (np.int64(1) << SIMHASH_HALF_BITS) + lo_bits
    return out


def simhash_pandas():
    """pandas_udf: text → 60-bit SimHash (:func:`simhash_flat` per batch),
    removing the token-explode shuffle entirely."""

    @F.pandas_udf(LongType())
    def udf(texts: pd.Series) -> pd.Series:
        return pd.Series(simhash_flat(texts))

    return udf
