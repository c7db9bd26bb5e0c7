"""Vector column expressions for embedding similarity.

All folds are left-to-right (`F.aggregate`), which matches DuckDB's
``list_reduce`` exactly — double results are bit-identical, so exact
value-hash oracles work even on floating point (verified
empirically). Inputs are cast float→double (exact) first.

Scale: these are JVM column expressions — no Python. For very high
dims or huge candidate sets, the same dot product vectorizes well in
a pandas UDF over numpy (batch matrix multiply); keep that variant in
mind past ~1k dims.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ a_i*b_i, left-to-right fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; assumes non-zero vectors."""
    return dot(a, b) / (norm(a) * norm(b))


# The DuckDB spelling of ``cosine`` for oracle SQL: the same
# left-to-right folds through ``list_reduce``, so the two engines'
# cosines are bit-identical. Format with ``a`` and ``b``, the two
# list expressions.
COS_SQL = """
    list_reduce(list_transform(generate_series(1, len({a})),
                               i -> {a}[i] * {b}[i]), (x, y) -> x + y)
    / (sqrt(list_reduce(list_transform({a}, x -> x*x), (x,y) -> x+y))
       * sqrt(list_reduce(list_transform({b}, x -> x*x), (x,y) -> x+y)))
"""


def scale(a: Column, factor: float) -> Column:
    return F.transform(a, lambda x: x * F.lit(factor))


def hyperplane_weights(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic integer hyperplanes (LCG-expanded). Integer
    weights keep the projection arithmetic exactly representable →
    identical sign bits in both engines (same formula the similarity
    family's SQL oracle re-derives)."""
    return [
        [
            ((1103515245 * (p * dim + i + 1) + 12345) % 2001) - 1000
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def sign_bucket(v: Column, planes: list[list[int]]) -> Column:
    """Random-hyperplane sign bucket: bit p set iff dot(v, plane_p)
    >= 0. The standard SimHash-for-cosine bucketing — vectors equal
    up to a positive scalar land in the SAME bucket (positive scaling
    preserves every projection's sign), which is what makes it a
    lossless candidate generator for exact-scaled near-dup corpora."""
    bucket = None
    for p, w in enumerate(planes):
        warr = F.array(*[F.lit(float(x)) for x in w])
        term = F.when(dot(v, warr) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    return bucket.cast("bigint")
