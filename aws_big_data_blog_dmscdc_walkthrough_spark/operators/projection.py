"""Embedding dimensionality reduction: random projection (#107).

An embedding pipeline at 100 TB wants cheaper vectors before ANN /
clustering / dedup — 64-d float32 → a few components at a fraction of
the shuffle and index cost.

Random projection (Johnson-Lindenstrauss, public) needs no fit pass: a
deterministic integer weight formula both this engine and the DuckDB
oracle can expand inline — the gate-checkable form. Projection is
map-side only: each vector folds through ``F.aggregate`` — no UDF, no
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import as_double

RP_COMPONENTS = 4


def rp_weight(comp: int, pos: int) -> int:
    """Deterministic integer projection weight in [-8, 8] — a fixed
    formula instead of a seeded RNG so the DuckDB oracle reproduces the
    matrix exactly with inline arithmetic."""
    return ((comp * 131 + pos * 31) % 17) - 8


def random_projection(
    df: DataFrame, vec_col: str, dim: int, k: int = RP_COMPONENTS
) -> DataFrame:
    """Project each vector onto ``k`` deterministic integer directions.

    Map-only: each output column is one left-fold dot product over the
    zipped (vector, literal-weights) arrays — whole-stage codegen, no
    shuffle, byte-reproducible across engines (fixed fold order).
    """
    v = as_double(F.col(vec_col))
    cols = []
    for c in range(k):
        weights = F.array(
            *[F.lit(float(rp_weight(c, i))) for i in range(dim)]
        )
        cols.append(
            F.aggregate(
                F.zip_with(v, weights, lambda x, w: x * w),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ).alias(f"proj_{c}")
        )
    return df.select("*", *cols).drop(vec_col)

