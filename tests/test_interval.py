"""Interval-overlap join (operators/interval.py): exactness vs the naive
inequality join, bucket-width invariance, the degenerate-interval guard,
and the no-nested-loop plan pin."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.interval import (
    interval_join,
)

L_SCHEMA = "lid BIGINT, g BIGINT, ls BIGINT, le BIGINT"
R_SCHEMA = "rid BIGINT, g BIGINT, rs BIGINT, re BIGINT"


def _rand_intervals(rng, n, span=1000, max_len=120):
    out = []
    for i in range(n):
        s = rng.randrange(span)
        out.append((i, rng.randrange(3), s, s + rng.randrange(max_len)))
    return out


def _naive(lrows, rrows):
    return {
        (l[0], r[0])
        for l in lrows
        for r in rrows
        if l[2] <= r[3] and r[2] <= l[3]
    }


@pytest.mark.parametrize("seed", [0, 1])
def test_matches_naive_join(spark, seed):
    rng = random.Random(seed)
    lrows = _rand_intervals(rng, 80)
    rrows = _rand_intervals(rng, 60)
    left = spark.createDataFrame(lrows, L_SCHEMA).drop("g")
    right = spark.createDataFrame(rrows, R_SCHEMA).withColumnRenamed("g", "g2")
    got = {
        (r["lid"], r["rid"])
        for r in interval_join(
            left, right, "ls", "le", "rs", "re", bucket_width=64
        ).collect()
    }
    assert got == _naive(lrows, rrows)


def test_bucket_width_invariance(spark):
    rng = random.Random(9)
    left = spark.createDataFrame(_rand_intervals(rng, 50), L_SCHEMA).drop("g")
    right = spark.createDataFrame(_rand_intervals(rng, 50), R_SCHEMA).drop("g")
    results = [
        sorted(
            (r["lid"], r["rid"])
            for r in interval_join(
                left, right, "ls", "le", "rs", "re", bucket_width=wdt
            ).collect()
        )
        for wdt in (7, 100, 10_000)
    ]
    assert results[0] == results[1] == results[2]
    # each overlapping pair appears EXACTLY once (no distinct in the plan)
    assert len(results[0]) == len(set(results[0]))


def test_negative_epochs_and_touching_endpoints(spark):
    # closed intervals: touching endpoints DO overlap; negative values
    # must bucket correctly (floor semantics, not truncate-toward-zero)
    left = spark.createDataFrame([(1, -100, -50), (2, 0, 10)], "lid BIGINT, ls BIGINT, le BIGINT")
    right = spark.createDataFrame([(10, -50, -20), (20, 10, 20), (30, 21, 30)], "rid BIGINT, rs BIGINT, re BIGINT")
    got = sorted(
        (r["lid"], r["rid"])
        for r in interval_join(left, right, "ls", "le", "rs", "re", bucket_width=30).collect()
    )
    assert got == [(1, 10), (2, 20)]


def test_degenerate_interval_raises(spark):
    left = spark.createDataFrame([(1, 0, 10_000_000)], "lid BIGINT, ls BIGINT, le BIGINT")
    right = spark.createDataFrame([(2, 0, 5)], "rid BIGINT, rs BIGINT, re BIGINT")
    with pytest.raises(Exception, match="buckets"):
        interval_join(
            left, right, "ls", "le", "rs", "re",
            bucket_width=10, max_buckets_per_interval=1000,
        ).collect()


def test_rejects_colliding_column_names(spark):
    df = spark.createDataFrame([(1, 0, 5)], "x BIGINT, s BIGINT, e BIGINT")
    with pytest.raises(ValueError, match="disjoint"):
        interval_join(df, df, "s", "e", "s", "e")


def test_plan_is_equi_join_not_nested_loop(spark):
    left = spark.createDataFrame([(1, 0, 5)], "lid BIGINT, ls BIGINT, le BIGINT")
    right = spark.createDataFrame([(2, 3, 8)], "rid BIGINT, rs BIGINT, re BIGINT")
    plan = (
        interval_join(left, right, "ls", "le", "rs", "re", bucket_width=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_bucket_exact_past_2_53(spark):
    """ADVICE r8: bucket ids must be exact over the full BIGINT range —
    double division silently corrupts them past 2^53 (unix nanos). Pairs
    built at nano-scale epochs must match the naive join exactly."""
    base = 1_600_000_000_000_000_000  # unix nanos, ~2^60.5
    w = 3_600_000_000_000  # 1h in nanos
    lrows = [(i, 0, base + i * w // 2, base + i * w // 2 + w) for i in range(20)]
    rrows = [(j, 0, base + j * w // 3, base + j * w // 3 + w // 2) for j in range(30)]
    left = spark.createDataFrame(lrows, "lid BIGINT, lg BIGINT, ls BIGINT, le BIGINT")
    right = spark.createDataFrame(rrows, "rid BIGINT, rg BIGINT, rs BIGINT, re BIGINT")
    got = {
        (r["lid"], r["rid"])
        for r in interval_join(
            left, right, "ls", "le", "rs", "re", bucket_width=w
        ).collect()
    }
    assert got == _naive(lrows, rrows)

    # and the bucket id itself is the true floor quotient at nano scale
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.interval import (
        _bucket,
    )

    vals = [base + 1, -base - 1, 2**62, -(2**62), 2**53 + 1]
    df = spark.createDataFrame([(v,) for v in vals], "x BIGINT")
    rows = df.select("x", _bucket(F.col("x"), w).alias("b")).collect()
    for r in rows:
        assert r["b"] == r["x"] // w, (r["x"], r["b"], r["x"] // w)
