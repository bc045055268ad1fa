"""As-of join — an operator Spark lacks natively (SURVEY §2.3 notes the
reference has no theta/as-of joins either; this is engine completeness
for time-series workloads).

Three implementations with identical semantics — for each left ROW
(duplicates preserved), the right row with the greatest ``on`` at or
before the left's ``on``, matching ``by``; ties on the timestamp are
broken to ONE whole right row, the one with the lexicographically
greatest ``value_cols`` tuple; unmatched left rows keep NULLs:

- ``asof_join``          — range join + one max-of-struct aggregate.
  Catalyst-visible, no Python. The range join fans out per key (every
  left row meets every earlier right row of its key), so it's the
  small/medium-per-key default.
- ``asof_join_bucketed`` — time-bucketized: same-bucket candidates via
  an equi-join on (key, bucket) + earlier-bucket candidates via a
  running max over per-bucket summaries. Fan-out is bounded by the
  bucket width instead of the whole key history — the 100 TB path.
- ``asof_join_pandas``   — ``applyInPandas`` per key group using
  ``pd.merge_asof`` (sorted-merge, O(n+m) per group). Wins when a
  whole key's data fits one task and Python batch overhead amortizes.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _right_struct(on: str, value_cols: list[str], prefix: str = "") -> Column:
    """Comparable candidate: (on, *value_cols). Struct max = latest
    timestamp, ties broken by the greatest value tuple — one whole row."""
    return F.struct(
        F.col(f"{prefix}{on}").alias("__on"),
        *[F.col(f"{prefix}{c}").alias(f"__v_{c}") for c in value_cols],
    )


def _expand_best(
    df: DataFrame, left_cols: list[str], on: str, value_cols: list[str]
) -> DataFrame:
    return df.select(
        *left_cols,
        F.col("__best.__on").alias(f"{on}_asof"),
        *[F.col(f"__best.__v_{c}").alias(f"{c}_asof") for c in value_cols],
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    value_cols: list[str],
) -> DataFrame:
    """Range-join formulation: one left join + one max-of-struct agg.

    A ``__rid`` row id keys the aggregate, so duplicate left rows are
    preserved (each gets its own match), and the max is over a single
    struct — one whole right row, never a column-wise mix.
    """
    lc = list(left.columns)
    l = left.withColumn("__rid", F.monotonically_increasing_id()).alias("l")
    r = right.select(by, on, *value_cols).alias("r")
    cond = (F.col(f"l.{by}") == F.col(f"r.{by}")) & (
        F.col(f"r.{on}") <= F.col(f"l.{on}")
    )
    cand = F.when(F.col(f"r.{on}").isNotNull(), _right_struct(on, value_cols, "r."))
    best = (
        l.join(r, cond, "left")
        .groupBy(F.col("l.__rid"), *[F.col(f"l.{c}") for c in lc])
        .agg(F.max(cand).alias("__best"))
    )
    return _expand_best(best, lc, on, value_cols)


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    value_cols: list[str],
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Time-bucketized as-of join — the scale path.

    Both sides get ``bkt = floor(epoch(on) / bucket_seconds)``. Bucketing
    by truncated epoch seconds is order-preserving across buckets
    (bkt(r) < bkt(l) ⇒ r.on < l.on), so for any left row the best match
    lives either in its OWN bucket (restricted to ``r.on <= l.on``) or
    is the latest right row of the nearest EARLIER non-empty bucket —
    never anywhere else. That reduces the join to a lookup table with
    ONE row per (by, bucket):

    1. Right collapses to per-(by, bucket) SORTED candidate arrays
       (``array_sort`` + ``collect_list`` — one shuffle, map-side
       combined; array length is bounded by the bucket width, the
       operator's documented sizing contract).
    2. Two running windows over the union of those bucket rows and the
       distinct LEFT buckets (summary-scale data: #buckets rows per key,
       not #rows) attach to every left bucket (a) ``__near`` — the
       nearest same-or-earlier non-empty bucket's array — and (b)
       ``__pc`` — the max candidate over STRICTLY earlier buckets.
    3. ONE 1:1 left equi-join of ``left`` onto that lookup + a pure
       Column expression pick the winner:
       ``greatest(last(filter(__near, on <= l.on)), __pc)`` — the
       filtered prefix of a sorted array ends at its max, and bucket
       ordering makes greatest() resolve same-vs-earlier correctly.

    The left side is touched by exactly one fan-out-free join — no row
    id, no groupBy, no row explosion — so duplicate left rows are
    trivially preserved and nothing nondeterministic is evaluated twice
    (ADVICE r2: the previous formulation tagged the left with
    ``monotonically_increasing_id`` and referenced it from two plan
    subtrees). Pick ``bucket_seconds`` ≈ the median right-side
    inter-arrival × desired per-bucket fan-out (too fine → more summary
    rows; too coarse → wide arrays).
    """
    lc = list(left.columns)
    bkt = F.floor(F.unix_timestamp(F.col(on)) / F.lit(bucket_seconds))
    l = left.withColumn("__bkt", bkt).alias("l")
    r = (
        right.select(by, on, *value_cols)
        .filter(F.col(on).isNotNull())
        .withColumn("__bkt", bkt)
    )

    # 1. per-(by, bucket) sorted candidate arrays
    rb = (
        r.groupBy(F.col(by).alias("__by"), F.col("__bkt"))
        .agg(F.array_sort(F.collect_list(_right_struct(on, value_cols))).alias("__lst"))
        .withColumn("__side", F.lit(1))
    )
    lb = (
        left.select(F.col(by).alias("__by"), bkt.alias("__bkt"))
        .distinct()
        .withColumn("__side", F.lit(0))
        .withColumn("__lst", F.lit(None).cast(rb.schema["__lst"].dataType))
    )
    u = rb.unionByName(lb).withColumn("__summary", F.try_element_at("__lst", F.lit(-1)))

    # 2. nearest-bucket array + strictly-earlier prefix max. Ordering by
    # (bkt, side) decides whether the SAME bucket's array is visible:
    # __near (side DESC: bucket row sorts before the marker) includes it,
    # __pc (side ASC: marker first) sees strictly earlier buckets only.
    w_near = (
        Window.partitionBy("__by")
        .orderBy(F.col("__bkt").asc(), F.col("__side").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_prev = (
        Window.partitionBy("__by")
        .orderBy(F.col("__bkt").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marks = (
        u.withColumn("__near", F.last("__lst", ignorenulls=True).over(w_near))
        .withColumn("__pc", F.last("__summary", ignorenulls=True).over(w_prev))
        .filter(F.col("__side") == 0)
        .select("__by", "__bkt", "__near", "__pc")
        .alias("m")
    )

    # 3. 1:1 join + Column-expression winner. If the filtered same-or-
    # earlier-bucket prefix is empty, __pc (max over strictly earlier
    # buckets) is the answer; when both exist, bucket order preservation
    # makes greatest() pick the later-bucket candidate.
    # try_element_at, not element_at: the filtered prefix is EMPTY when a
    # left row's own bucket holds only later right rows, and plain
    # element_at(arr, -1) on an empty array throws under ANSI mode (the
    # Spark 4 default — this operator must work on sessions the engine
    # didn't configure)
    same_best = F.try_element_at(
        F.filter(F.col("m.__near"), lambda x: x["__on"] <= F.col(f"l.{on}")),
        F.lit(-1),
    )
    best = (
        l.join(
            marks,
            (F.col(f"l.{by}") == F.col("m.__by"))
            & (F.col("l.__bkt") == F.col("m.__bkt")),
            "left",
        )
        .select(
            *[F.col(f"l.{c}") for c in lc],
            F.greatest(same_best, F.col("m.__pc")).alias("__best"),
        )
    )
    return _expand_best(best, lc, on, value_cols)


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for a DataFrame (file sizes for scans,
    propagated through the plan). No job is run.

    Returns None when the plan yields no estimate (an unstarted
    streaming frame cannot be optimized); callers must treat None as
    "unknown, assume large" and take their conservative arm (ADVICE r3).
    """
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


# Right sides estimated below this use the range-join formulation: its
# per-key fan-out is harmless when the whole right side is roughly
# broadcast-scale, and it runs fewer stages than the bucketized lookup.
AUTO_RANGE_JOIN_MAX_BYTES = 128 * 1024 * 1024


def asof_join_auto(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    value_cols: list[str],
) -> DataFrame:
    """Size-dispatched as-of join (VERDICT r2): the range-join
    formulation wins while the right side is small (fewer stages; its
    per-key fan-out is bounded by a small total), the bucketized lookup
    wins at scale (fan-out bounded by bucket width, never by key
    history). Both are exact and tie-break identically, so the switch is
    invisible to results — only the plan changes."""
    size = _plan_size_bytes(right)
    if size is not None and size <= AUTO_RANGE_JOIN_MAX_BYTES:
        return asof_join(left, right, on, by, value_cols)
    # unknown size (no plan estimate) → the
    # bucketized arm, which is safe at any right-side size
    return asof_join_bucketed(left, right, on, by, value_cols)


def asof_join_pandas(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    value_cols: list[str],
) -> DataFrame:
    """Same semantics via per-key ``pd.merge_asof`` (applyInPandas).
    The right side is sorted by (on, *value_cols), so backward-merge
    picks the greatest value tuple among timestamp ties — matching the
    struct-max tie-break of the DataFrame variants."""
    lc = list(left.columns)
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in left.schema.fields]
        + [f"`{on}_asof` {dict(right.dtypes)[on]}"]
        + [f"`{c}_asof` {dict(right.dtypes)[c]}" for c in value_cols]
    )
    l_tagged = left.withColumn("__side", F.lit("L"))
    r_tagged = right.select(by, on, *value_cols).withColumn("__side", F.lit("R"))
    unioned = l_tagged.unionByName(r_tagged, allowMissingColumns=True)

    match_cols = [f"{on}_asof"] + [f"{c}_asof" for c in value_cols]

    def per_key(pdf: pd.DataFrame) -> pd.DataFrame:
        lall = pdf[pdf["__side"] == "L"][lc]
        rpdf = (
            pdf[pdf["__side"] == "R"][[by, on, *value_cols]]
            .dropna(subset=[on])
            .sort_values([on] + value_cols)
        )
        if lall.empty:
            return pd.DataFrame(columns=lc + match_cols)
        # merge_asof RAISES on null left keys, where the DataFrame arms
        # return a row with NULL match columns (r.on <= NULL never
        # matches). Split the null-key rows out, give them NULL matches,
        # and merge only the keyed remainder — arm parity on NULL left
        # timestamps.
        null_mask = lall[on].isna()
        lnull = lall[null_mask].copy()
        for c in match_cols:
            lnull[c] = None
        lpdf = lall[~null_mask].sort_values(on)
        if lpdf.empty:
            return lnull
        merged = pd.merge_asof(
            lpdf,
            rpdf.drop(columns=[by]).rename(
                columns={on: f"{on}_asof", **{c: f"{c}_asof" for c in value_cols}}
            ),
            left_on=on,
            right_on=f"{on}_asof",
            direction="backward",
        )
        return merged if lnull.empty else pd.concat([merged, lnull])

    return unioned.groupBy(by).applyInPandas(per_key, out_schema)
