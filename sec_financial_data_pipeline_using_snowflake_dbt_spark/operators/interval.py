"""Interval-overlap join: which time ranges intersect, without a nested loop.

The batch twin of ``streaming/incremental.py:stream_interval_join`` and the
remaining member of the time-conditioned join family (as-of = "latest at or
before", stream interval = "within lookback", this = "ranges intersect") —
session-vs-incident impact, campaign attribution, validity-period joins.

Spark plans a raw inequality join (``l.start <= r.end AND r.start <= l.end``)
as a Broadcast **NestedLoop** join — quadratic row comparisons, only viable
while one side broadcasts.  The scale path is the classic bucketized band
join (same discipline as ``asof.py``'s bucketized arm):

1. explode every interval onto the fixed-width buckets it covers;
2. shuffle equi-join on the bucket — only co-bucketed intervals meet;
3. keep true overlaps, emitting each pair EXACTLY ONCE without a distinct:
   the pair is kept only in the bucket containing ``max(l.start, r.start)``
   — a point that, for an overlapping pair, lies in both intervals, so
   both sides exploded it and exactly one bucket wins.

Exactness (vs the naive join) and bucket-width invariance are
pytest-enforced on randomized intervals.

Scale: cost = interval-length/width explode factor × input (choose the
width near the TYPICAL interval length; ``max_buckets_per_interval``
asserts nothing degenerate slipped in — one pathological year-long
interval at 1-second width would otherwise explode 31M rows).  Closed
intervals; callers with half-open semantics subtract one unit from the
end.  Start/end are numeric (cast timestamps to ``unix_micros`` first).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bucket(col: Column, width: int) -> Column:
    # Exact FLOOR division over the full BIGINT range. pmod is
    # non-negative, so (a - pmod(a, w)) is the floor multiple even for
    # negative epochs; the division must then be EXACT — Spark's `/` is
    # double division, which silently loses precision past 2^53 (unix
    # nanos land there), so divide as decimal(38,0): the numerator is an
    # exact multiple of w, the quotient an exact integer, representable
    # losslessly at any decimal scale.
    floored = (col.cast("long") - F.pmod(col.cast("long"), F.lit(width)))
    return (floored.cast("decimal(38,0)") / F.lit(width)).cast("long")


def interval_join(
    left: DataFrame,
    right: DataFrame,
    lstart: str,
    lend: str,
    rstart: str,
    rend: str,
    bucket_width: int = 3_600_000_000,
    max_buckets_per_interval: int = 65536,
) -> DataFrame:
    """All (left, right) pairs whose closed numeric intervals
    ``[lstart, lend]`` × ``[rstart, rend]`` intersect (an inner join).
    Output: left columns then right columns — names must be disjoint.
    One shuffle on the bucket; no nested loop; no distinct."""
    overlap_cols = set(left.columns) & set(right.columns)
    if overlap_cols:
        raise ValueError(f"column names must be disjoint: {sorted(overlap_cols)}")

    def explode_buckets(df: DataFrame, s: str, e: str) -> DataFrame:
        lo, hi = _bucket(F.col(s), bucket_width), _bucket(F.col(e), bucket_width)
        # the guard must live INSIDE the sequence bound or column pruning
        # deletes it: assert_true yields NULL on success, so +coalesce(.,0)
        # keeps hi intact and still raises on a degenerate interval
        guard = F.coalesce(
            F.assert_true(
                hi - lo < F.lit(max_buckets_per_interval),
                F.lit(
                    f"interval spans >= {max_buckets_per_interval} buckets; "
                    "raise bucket_width"
                ),
            ).cast("long"),
            F.lit(0),
        )
        return df.withColumn("__b", F.explode(F.sequence(lo, hi + guard)))

    lexp = explode_buckets(left, lstart, lend).alias("l")
    rexp = explode_buckets(right, rstart, rend).alias("r")
    ls, le = F.col(f"l.{lstart}"), F.col(f"l.{lend}")
    rs, re_ = F.col(f"r.{rstart}"), F.col(f"r.{rend}")
    cond = (
        (F.col("l.__b") == F.col("r.__b"))
        & (ls <= re_)
        & (rs <= le)
        # dedupe-free emission: only the bucket owning max(ls, rs) keeps
        # the pair (that point is inside both intervals, so both sides
        # exploded its bucket)
        & (F.col("l.__b") == _bucket(F.greatest(ls, rs), bucket_width))
    )
    out_cols = [F.col(f"l.{c}") for c in left.columns] + [
        F.col(f"r.{c}") for c in right.columns
    ]
    return lexp.join(rexp, cond, "inner").select(*out_cols)
