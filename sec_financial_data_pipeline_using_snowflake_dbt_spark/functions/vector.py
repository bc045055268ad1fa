"""Vector math over ``array<float>`` embedding columns.

Pure Column expressions using higher-order functions (`zip_with`,
`aggregate`) — no UDFs, fully codegen'd, and they scale to any embedding
dimensionality without Python round-trips. Elements are cast to double
before arithmetic so precision matches a double-computing oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: The id and vector columns of the embedding table every vector operator reads.
VEC_ID = "vec_id"
EMBEDDING = "embedding"


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def as_double(vec: str | Column) -> Column:
    return F.transform(_c(vec), lambda x: x.cast("double"))


def dot(a: str | Column, b: str | Column) -> Column:
    """Sequential left-fold dot product (deterministic accumulation order)."""
    prods = F.zip_with(as_double(a), as_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: str | Column) -> Column:
    v = as_double(a)
    sq = F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    return F.sqrt(sq)
