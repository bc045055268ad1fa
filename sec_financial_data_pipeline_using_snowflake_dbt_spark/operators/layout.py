"""Z-order (Morton-curve) data layout for multi-dimensional file pruning.

The reference serves its star schema out of Snowflake, whose micro-partition
pruning is automatic; the engine-side equivalent for parquet at 100 TB is
*layout*: co-locating rows that are close in several filter dimensions into
the same files, so file/row-group min-max statistics prune multi-dimensional
range queries.  Sorting by one column prunes only that column; interleaving
the bits of k columns (the Morton / Z-order curve — the technique behind
Delta Lake's ``OPTIMIZE ZORDER BY`` and the classic UB-tree) bounds every
dimension's spread inside each file.

Everything here is exact integer math (no hashing, no sampling):

- each column is affinely scaled to a ``2^bits`` grid with integer
  division — ``((x - min) * (2^bits - 1)) DIV (max - min)``;
- the z-value interleaves the grid bits: bit ``i`` of column ``j`` lands at
  output bit ``i * k + j``;
- both steps are generated from one SQL template (:func:`zorder_sql_expr`)
  whose only engine difference is the integer-division token (Spark ``DIV``
  vs DuckDB ``//``), so a DuckDB oracle replays the curve bit-for-bit.

Scale: computing the key is a narrow per-row projection (whole-stage
codegen, zero shuffles).  Bounds come from one bounded 2×k-value aggregate
(the same driver-side posture as the IVF centroid tables).

``bits * len(cols)`` must stay ≤ 62 so the z-value fits a BIGINT; with the
default 16 bits that is up to 3 columns (use ``bits=15`` for 4).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Output column added by :func:`with_zorder_key`.
Z_COL = "__z"


def zorder_sql_expr(
    scaled: Sequence[str],
    bits: int = 16,
    div: str = "DIV",
) -> str:
    """The bit-interleave as portable SQL over already-scaled expressions.

    ``scaled[j]`` must be SQL for a non-negative integer < 2^bits.  Bit
    ``i`` of column ``j`` maps to output bit ``i * k + j``.  Uses only
    integer division / modulo / multiplication by literal powers of two,
    identical on Spark (``div='DIV'``) and DuckDB (``div='//'``).
    """
    k = len(scaled)
    if bits * k > 62:
        raise ValueError(f"bits*k = {bits * k} overflows BIGINT")
    terms = [
        f"(({s} {div} {1 << i}) % 2) * {1 << (i * k + j)}"
        for j, s in enumerate(scaled)
        for i in range(bits)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def scale_sql_expr(
    col: str,
    lo: int | str,
    hi: int | str,
    bits: int = 16,
    div: str = "DIV",
) -> str:
    """Affine map of integer SQL expression ``col`` from [lo, hi] onto the
    [0, 2^bits) grid, as portable integer-math SQL.  Values are clamped to
    the bounds first so stale write-time bounds degrade (edge bucket)
    instead of corrupting the curve.  ``lo``/``hi`` may be SQL fragments
    (e.g. scalar-subquery column references) instead of literals — the
    oracle derives bounds in-query where the operator collects them."""
    m = (1 << bits) - 1
    if isinstance(lo, int) and isinstance(hi, int):
        rng: int | str = max(hi - lo, 1)
    else:
        rng = f"GREATEST(({hi}) - ({lo}), 1)"
    clamped = f"LEAST(GREATEST(CAST({col} AS BIGINT), ({lo})), ({hi}))"
    return f"((({clamped}) - ({lo})) * {m} {div} ({rng}))"


def column_bounds(df: DataFrame, cols: Sequence[str]) -> dict[str, tuple[int, int]]:
    """Exact integer min/max per column — one aggregate, one driver row."""
    aggs = []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("long")).alias(f"__lo_{c}"),
            F.max(F.col(c).cast("long")).alias(f"__hi_{c}"),
        ]
    row = df.agg(*aggs).first()
    out = {}
    for c in cols:
        lo, hi = row[f"__lo_{c}"], row[f"__hi_{c}"]
        if lo is None:
            raise ValueError(f"zorder: column {c} is all-null")
        out[c] = (int(lo), int(hi))
    return out


def zorder_key(
    cols: Sequence[str],
    bounds: dict[str, tuple[int, int]],
    bits: int = 16,
) -> Column:
    """The z-value as a Spark Column (pure codegen expression)."""
    scaled = [
        scale_sql_expr(c, bounds[c][0], bounds[c][1], bits, div="DIV") for c in cols
    ]
    return F.expr(zorder_sql_expr(scaled, bits, div="DIV"))


def with_zorder_key(df: DataFrame, cols: Sequence[str], bits: int = 16) -> DataFrame:
    """``df`` + the z-value column over the data's own bounds."""
    return df.withColumn(Z_COL, zorder_key(cols, column_bounds(df, cols), bits))

