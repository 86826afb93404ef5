"""Vector math over array<numeric> columns using Spark higher-order
functions — JVM-side (no Python), codegen-friendly, scale-safe.

These power the similarity-search datapipe operators and the
broadcast-matrix transforms (PCA projection, kernel blocks) when the
right-hand side is a single vector. For matrix RHS we use pandas UDFs
(see operators/pairwise.py) because per-element HOFs over k columns
would blow up the expression tree.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm2(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm2(a) * norm2(b))
