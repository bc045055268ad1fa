"""Event-sequence analytics: conversion funnels and cohort retention.

The reference pipeline stops at star-schema aggregates; these are the
two event-stream questions every analytics engine over an ``events``
table gets asked (product funnels, weekly retention). Both are pure
DataFrame compositions — no windows over the corpus, no UDFs — and
both carry full DuckDB oracles (q_funnel / q_retention).

Scale decisions shared by both operators:

- Per-user reductions are map-side-combined ``groupBy(user).min/
  countDistinct`` aggregates — never ``Window.partitionBy(user)``
  (the keep_best discipline: a bot user with millions of events would
  sort one hot window partition; min-combining reduces it map-side).
- Step/cohort joins are user-equi joins between per-user tables (one
  row per user each) — AQE picks broadcast when a side measures small.
- The only ordered window runs over the FINAL summary table (one row
  per funnel step / per cohort-week pair) — bounded by the step count
  or the calendar, never by the corpus (the vocab_top_terms posture).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

#: The horizon is interpolated into ``F.expr(f"INTERVAL {horizon}")``;
#: validating it here turns a malformed value into a clear ValueError at
#: call time instead of an opaque Catalyst parse error at action time
#: (ADVICE r7 §3).
_HORIZON_RE = re.compile(
    r"^\s*\d+\s+(second|minute|hour|day|week)s?\s*$", re.IGNORECASE
)


def funnel_steps(
    events: DataFrame,
    steps: list[str],
    horizon: str = "7 days",
) -> DataFrame:
    """Ordered conversion funnel: how many users perform ``steps`` in
    order, each step at-or-after the previous step's completion and the
    whole sequence within ``horizon`` of the user's FIRST step-1 event
    (the standard product-funnel semantics: first-touch anchoring,
    ordered completion, bounded conversion window).

    Per user: t1 = MIN(ts of step 1); t_i = MIN(ts of step i with
    t_{i-1} <= ts <= t1 + horizon). A user reaches step i iff t_i
    exists. Returns one row per step:

      (step BIGINT 1-based, step_name, n_users,
       conv_overall = n_users/n_step1, conv_prev = n_users/n_prev)

    with the ratios rounded to 6 dp and NULL when the
    denominator is 0 (an empty funnel has no defined conversion).

    Scale: the event table is scanned ONCE — projected to 3 columns and
    filtered to ``et IN steps`` up front, then persisted
    (MEMORY_AND_DISK) so the per-step min-groupBy loop reads the cached
    funnel-relevant slice instead of rescanning the corpus per step.
    The conv window runs over len(steps) rows.
    """
    if len(steps) < 2:
        raise ValueError(f"a funnel needs >= 2 steps, got {steps!r}")
    if not _HORIZON_RE.match(horizon):
        raise ValueError(
            f"horizon must look like '<int> <second|minute|hour|day|week>[s]', "
            f"got {horizon!r}"
        )
    ev = events.select(
        F.col("user_id").alias("u"),
        F.col("ts").alias("t"),
        F.col("event_type").alias("et"),
    ).filter(F.col("t").isNotNull() & F.col("et").isin(list(steps)))
    # repeated same-plan calls hit Spark's CacheManager (logical-plan
    # keyed), so this does not accumulate duplicate cache entries
    ev = ev.persist(StorageLevel.MEMORY_AND_DISK)
    bound = F.expr(f"INTERVAL {horizon}")

    # t1: first step-1 event per user (anchors the horizon)
    reached = (
        ev.filter(F.col("et") == steps[0])
        .groupBy("u")
        .agg(F.min("t").alias("t_prev"))
        .withColumn("t1", F.col("t_prev"))
    )
    per_step = [reached.select("u")]
    for name in steps[1:]:
        nxt = (
            ev.filter(F.col("et") == name)
            .join(reached, "u")
            .filter((F.col("t") >= F.col("t_prev")) & (F.col("t") <= F.col("t1") + bound))
            .groupBy("u", "t1")
            .agg(F.min("t").alias("t_prev"))
            .select("u", "t_prev", "t1")
        )
        reached = nxt
        per_step.append(reached.select("u"))

    counts = None
    for i, users in enumerate(per_step):
        c = users.agg(
            F.lit(i + 1).cast("long").alias("step"),
            F.lit(steps[i]).alias("step_name"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
        )
        counts = c if counts is None else counts.unionByName(c)

    # len(steps)-row summary: the single-partition window is bounded by
    # the step count, never the corpus
    w = Window.orderBy("step").rowsBetween(Window.unboundedPreceding, Window.currentRow)

    def ratio(num, den):
        return F.when(
            den > 0, F.round(num.cast("double") / den.cast("double"), 6)
        )

    staged = counts.select(
        "step",
        "step_name",
        "n_users",
        F.first("n_users").over(w).alias("__n1"),
        F.lag("n_users").over(Window.orderBy("step")).alias("__np"),
    )
    conv_overall = ratio(F.col("n_users"), F.col("__n1"))
    return staged.select(
        "step",
        "step_name",
        "n_users",
        conv_overall.alias("conv_overall"),
        # step 1 converts from itself (1.0 when non-empty, NULL when empty)
        F.when(F.col("step") == 1, conv_overall)
        .otherwise(ratio(F.col("n_users"), F.col("__np")))
        .alias("conv_prev"),
    )


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Weekly cohort retention: users cohorted by the Monday-start week
    of their FIRST event; one row per (cohort_week, week_offset) with
    how many cohort members were active that week —

      (cohort_week DATE, week_offset BIGINT, cohort_size BIGINT,
       n_active BIGINT, retention = n_active/cohort_size)

    ``week_offset`` counts whole weeks from the cohort week (0 = the
    cohort's own week, where retention is 1.0 by construction).

    Cross-engine determinism: ``date_trunc('week', ts)`` is
    Monday-start in both Spark and DuckDB; the offset is an exact
    integer (day difference of two week-truncated dates / 7); counts
    are exact; the single ratio rounds to 6 dp.

    Scale: first-seen is a map-side-combined min-groupBy per user;
    activity is one distinct over (user, week) — corpus-sized but
    hash-partitioned; cohort attach is a user-equi join (AQE decides
    broadcast); the final groupBy runs over (cohort, offset) pairs —
    calendar-sized output.
    """
    ev = events.select(
        F.col("user_id").alias("u"),
        F.to_date(F.date_trunc("week", F.col("ts"))).alias("wk"),
    ).filter(F.col("wk").isNotNull())
    first = ev.groupBy("u").agg(F.min("wk").alias("cohort_week"))
    sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    active = ev.distinct().join(first, "u")
    grid = active.groupBy(
        "cohort_week",
        (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
        .cast("long")
        .alias("week_offset"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    return grid.join(sizes, "cohort_week").select(
        "cohort_week",
        "week_offset",
        "cohort_size",
        "n_active",
        F.round(
            F.col("n_active").cast("double") / F.col("cohort_size").cast("double"),
            6,
        ).alias("retention"),
    )
