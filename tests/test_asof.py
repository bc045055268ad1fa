"""The three as-of join implementations (range join, time-bucketized
equi-join, applyInPandas merge_asof) agree."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators import asof

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events(spark):
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.workload.common import (
        read_events,
    )

    return read_events(spark, SF_SMOKE).cache()


def test_asof_implementations_agree(events):
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    a = asof.asof_join(purchases, clicks, on="ts", by="user_id", value_cols=["value"])
    b = asof.asof_join_pandas(
        purchases, clicks, on="ts", by="user_id", value_cols=["value"]
    )
    ka = sorted(
        (r.event_id, r.ts_asof, r.value_asof) for r in a.collect()
    )
    kb = sorted(
        (r.event_id, r.ts_asof, r.value_asof) for r in b.collect()
    )
    assert ka == kb
    assert len(ka) == purchases.count()  # every left row survives
    # bucketized variant: exact at any bucket width, including widths
    # far finer / coarser than the data's span
    for bucket_seconds in (3600, 86400, 86400 * 365):
        c = asof.asof_join_bucketed(
            purchases, clicks, on="ts", by="user_id", value_cols=["value"],
            bucket_seconds=bucket_seconds,
        )
        kc = sorted((r.event_id, r.ts_asof, r.value_asof) for r in c.collect())
        assert kc == ka, f"bucket_seconds={bucket_seconds}"


def test_asof_preserves_duplicate_left_rows(events):
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    ).limit(50)
    doubled = purchases.unionByName(purchases)
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    for fn in (asof.asof_join, asof.asof_join_bucketed):
        out = fn(doubled, clicks, on="ts", by="user_id", value_cols=["value"])
        assert out.count() == 100  # duplicates NOT collapsed


def test_asof_no_match_keeps_nulls(events):
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    # right side from the future only → every match is NULL
    future = events.filter(F.col("event_type") == "click").select(
        "user_id", (F.col("ts") + F.expr("INTERVAL 100 DAYS")).alias("ts"), "value"
    )
    a = asof.asof_join(purchases, future, on="ts", by="user_id", value_cols=["value"])
    assert a.filter(F.col("ts_asof").isNotNull()).count() == 0
    assert a.count() == purchases.count()


def test_asof_auto_dispatch(events, monkeypatch):
    """asof_join_auto picks by Catalyst's size estimate and both arms
    return identical results (the dispatch must be invisible)."""
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    assert asof._plan_size_bytes(clicks) > 0

    # threshold 0 → bucketized arm (its plan carries the per-bucket
    # collect_list aggregate); huge threshold → range-join arm
    monkeypatch.setattr(asof, "AUTO_RANGE_JOIN_MAX_BYTES", 0)
    bucketed = asof.asof_join_auto(
        purchases, clicks, on="ts", by="user_id", value_cols=["value"]
    )
    monkeypatch.setattr(asof, "AUTO_RANGE_JOIN_MAX_BYTES", 1 << 60)
    ranged = asof.asof_join_auto(
        purchases, clicks, on="ts", by="user_id", value_cols=["value"]
    )
    assert "collect_list" in bucketed._jdf.queryExecution().analyzed().toString()
    assert "collect_list" not in ranged._jdf.queryExecution().analyzed().toString()
    kb = sorted((r.event_id, r.ts_asof, r.value_asof) for r in bucketed.collect())
    kr = sorted((r.event_id, r.ts_asof, r.value_asof) for r in ranged.collect())
    assert kb == kr


def test_asof_bucketed_empty_same_bucket_prefix_ansi(spark):
    """A left row whose own bucket holds only LATER right rows filters
    its bucket array to empty — try_element_at must return null (and the
    earlier-bucket prefix win) instead of throwing under ANSI mode, the
    Spark 4 default this engine doesn't control on foreign sessions."""
    left = spark.createDataFrame([(1, 100)], "user_id int, epoch int").select(
        "user_id", F.timestamp_seconds("epoch").alias("ts")
    )
    right = spark.createDataFrame(
        [(1, 50, 5), (1, 150, 7)], "user_id int, epoch int, value int"
    ).select("user_id", F.timestamp_seconds("epoch").alias("ts"), "value")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        row = asof.asof_join_bucketed(
            left, right, on="ts", by="user_id", value_cols=["value"],
            bucket_seconds=100,  # left bkt=1 holds only ts=150 (> 100)
        ).collect()[0]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert row.value_asof == 5  # the earlier-bucket row wins, no crash


def test_asof_pandas_null_left_timestamp(spark):
    """pd.merge_asof raises ``Merge keys contain null values`` on a NULL
    left key; the DataFrame arms return the row with NULL match columns
    (r.on <= NULL never matches). The pandas arm must split null-key
    rows out and give them the same NULL matches — all three arms agree
    on NULL left timestamps instead of one crashing the job."""
    left = spark.createDataFrame(
        [(1, 1, 100), (2, 1, None), (3, 2, None)],
        "event_id int, user_id int, epoch int",
    ).select("event_id", "user_id", F.timestamp_seconds("epoch").alias("ts"))
    right = spark.createDataFrame(
        [(1, 50, 5)], "user_id int, epoch int, value int"
    ).select("user_id", F.timestamp_seconds("epoch").alias("ts"), "value")

    expected = sorted(
        (r.event_id, r.ts_asof, r.value_asof)
        for r in asof.asof_join(
            left, right, on="ts", by="user_id", value_cols=["value"]
        ).collect()
    )
    got = sorted(
        (r.event_id, r.ts_asof, r.value_asof)
        for r in asof.asof_join_pandas(
            left, right, on="ts", by="user_id", value_cols=["value"]
        ).collect()
    )
    assert got == expected
    # the null-ts rows survive with NULL matches (event_ids 2 and 3,
    # including user 2 who has no right rows at all)
    assert [e for e, t, v in got if t is None and v is None] == [2, 3]
