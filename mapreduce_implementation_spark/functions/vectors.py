"""Vector math over ArrayType(Float) embedding columns — pure expressions.

All JVM-side via higher-order functions (``transform`` / ``zip_with`` /
``aggregate``): no Python boundary, fully pipelined inside whole-stage
codegen. Elements are cast to double first so accumulation is
deterministic (left-to-right over the array) and engine-portable.

At 100 TB these expressions run inside the scan stage — no shuffle, no
UDF serde; the only data movement is whatever the enclosing join/top-k
needs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column | str) -> Column:
    col = F.col(vec) if isinstance(vec, str) else vec
    return col.cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two numeric arrays (double accumulation)."""
    return F.aggregate(
        F.zip_with(as_double(a), as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column | str) -> Column:
    """L2 norm."""
    return F.sqrt(
        F.aggregate(as_double(a), F.lit(0.0), lambda acc, v: acc + v * v)
    )


def normalize(a: Column | str) -> Column:
    """Unit-normalize an array column (NULL for zero vectors).

    Pre-normalizing once and storing lets every downstream cosine become
    a plain dot — the right trade at scale (compute once, reuse per
    query)."""
    n = norm(a)
    return F.when(n != 0, F.transform(as_double(a), lambda v: v / n))


# NOTE (measured): do NOT unroll dot-with-constant into 64 chained
# ``v[i]*c_i`` additions hoping for whole-stage codegen — a k-centroid
# scoring projection becomes a multi-thousand-node expression tree and
# runs 2-3x SLOWER than the HOF ``aggregate`` fold (codegen/JIT method
# limits). The fold over an array literal is the fast portable form.
