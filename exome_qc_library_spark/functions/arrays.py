"""Array/vector math as higher-order expressions (no UDF, no MLlib dependency).

Analog of the reference's manual PC projection — normalize, elementwise
multiply, ``hl.agg.array_sum`` (``/root/reference/shared/samples_qc.py:565-596``,
K7 in SURVEY.md §2.9) — generalized to the embedding-similarity kernels a
training-data pipeline needs (dot product / cosine over ``array<float>``).

``F.zip_with`` + ``F.aggregate`` fold left-to-right deterministically,
which keeps double-precision results stable across parallelism levels
(the determinism gate, FIXTURES.md §7.5).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_expr(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, deterministic left fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm."""
    denom = norm_expr(a) * norm_expr(b)
    return F.when(denom > 0, dot_expr(a, b) / denom)
