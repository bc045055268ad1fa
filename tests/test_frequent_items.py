"""Heavy hitters (operators/textops.py frequent_items): the Misra-Gries
candidate pass must never lose a true hitter, and the exact-verify pass
must make the output identical to the plain HAVING-clause computation
regardless of partitioning or Arrow batch size."""

from __future__ import annotations

import random
from collections import Counter

import pytest

from pyspark.sql import functions as F

from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.textops import (
    frequent_items,
)


def _exact(values, share_den):
    n = len(values)
    c = Counter(values)
    return sorted(
        (item, freq, round(freq / n, 6))
        for item, freq in c.items()
        if freq * share_den > n
    )


def _run(spark, values, share_den, parts=8):
    df = spark.createDataFrame(
        [(v,) for v in values], "item string"
    ).repartition(parts)
    out = frequent_items(df, "item", share_den=share_den)
    return sorted((r["item"], r["freq"], r["share"]) for r in out.collect())


def test_skewed_hitter_found_exactly(spark):
    values = ["hot"] * 400 + [f"cold{i}" for i in range(600)]
    random.Random(1).shuffle(values)
    assert _run(spark, values, share_den=5) == _exact(values, 5)


def test_borderline_hitter_survives_partition_spread(spark):
    """A hitter only slightly above the global threshold, spread evenly
    across partitions: MG must still surface it from at least one
    partition (by pigeonhole its share in SOME partition is >= its
    global share)."""
    # n = 1000, share_den = 5 -> threshold 200; "edge" has 210
    values = ["edge"] * 210 + [f"u{i % 395}" for i in range(790)]
    random.Random(2).shuffle(values)
    got = _run(spark, values, share_den=5, parts=16)
    assert got == _exact(values, 5)
    assert any(item == "edge" for item, _, _ in got)


def test_empty_output_when_uniform(spark):
    values = [f"t{i % 50}" for i in range(1000)]
    assert _run(spark, values, share_den=10) == []


def test_matches_exact_on_random_zipf(spark):
    rng = random.Random(83)
    values = [f"w{min(int(rng.paretovariate(1.1)), 200)}" for _ in range(4000)]
    for den in (3, 10, 30):
        assert _run(spark, values, den) == _exact(values, den)


def test_nulls_excluded_from_total_and_output(spark):
    df = spark.createDataFrame(
        [("a",)] * 6 + [(None,)] * 10 + [("b",)] * 4, "item string"
    ).repartition(4)
    out = sorted(
        (r["item"], r["freq"], r["share"])
        for r in frequent_items(df, "item", share_den=2).collect()
    )
    # n = 10 non-null; only 'a' (6/10) exceeds half
    assert out == [("a", 6, 0.6)]


def test_small_arrow_batches_exercise_decrement(spark):
    """Force many small Arrow batches so the per-batch merge + decrement
    path runs repeatedly inside one partition."""
    values = ["hot"] * 300 + [f"c{i}" for i in range(700)]
    random.Random(3).shuffle(values)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
    try:
        assert _run(spark, values, share_den=4, parts=2) == _exact(values, 4)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_rejects_bad_share_den(spark):
    df = spark.createDataFrame([("a",)], "item string")
    with pytest.raises(ValueError):
        frequent_items(df, "item", share_den=1)
