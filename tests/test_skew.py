"""Skewed-join posture: a join with one pathological hot key completes
under AQE and produces exact results (the adsh-skew scenario from
FIXTURES.md at fact-table scale)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def skewed(spark):
    # 200k rows, 99% on one hot key; dimension of 100 keys
    facts = spark.range(0, 200_000).select(
        F.when(F.col("id") % 100 == 0, (F.col("id") / 100) % 100)
        .otherwise(F.lit(7))
        .cast("long")
        .alias("k"),
        (F.col("id") % 1000).alias("v"),
    )
    dim = spark.range(0, 100).select(
        F.col("id").alias("k"), F.concat(F.lit("name_"), F.col("id")).alias("name")
    )
    return facts, dim


def test_skewed_join_exact(spark, skewed):
    facts, dim = skewed
    joined = facts.join(dim, "k").groupBy("name").agg(F.count(F.lit(1)).alias("n"))
    rows = {r.name: r.n for r in joined.collect()}
    # hot key carries 99% of rows + its 1-in-100 stripe share
    assert rows["name_7"] == facts.filter(F.col("k") == 7).count()
    assert sum(rows.values()) == 200_000


def test_skew_split_with_forced_smj(spark, skewed):
    """Force a sort-merge join (no broadcast escape hatch) so AQE's
    skew-join handling is actually on the path, and verify exactness."""
    facts, dim = skewed
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    try:
        joined = facts.hint("merge").join(dim.hint("merge"), "k")
        assert joined.count() == 200_000
    finally:
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")


def test_keep_canonical_end_to_end(spark):
    """pairs → clusters → keep_canonical keeps exactly one doc per
    component plus every doc with no near-duplicate (0, 4, 7 appear in
    no pair); keep_best keeps those singletons too."""
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators import (
        dedup as DD,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (2, 6)], "id_a long, id_b long"
    )
    kept = sorted(
        (r.doc_id, r.cluster_id) for r in DD.keep_canonical(docs, pairs).collect()
    )
    # 3,5 fold into 1; 6 into 2
    assert kept == [(0, 0), (1, 1), (2, 2), (4, 4), (7, 7)]
    scored = docs.withColumn("score", F.col("doc_id") % 3)
    best = sorted(
        (r.doc_id, r.cluster_id) for r in DD.keep_best(scored, pairs, "score").collect()
    )
    # {1,3,5} scores 1,0,2 -> 5; {2,6} scores 2,0 -> 2
    assert best == [(0, 0), (2, 2), (4, 4), (5, 1), (7, 7)]
