"""SCD Type-2 snapshots (dbt snapshot semantics, operators/scd.py):
changelog replay, incremental merge, and the fold==replay agreement."""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.scd import (
    scd2_from_changelog,
    scd2_merge,
)

KEY = ["entity"]
ORDER = ["seen_at", "seq"]
STATE = ["status", "tier"]
SCHEMA = "entity BIGINT, seen_at INT, seq INT, status STRING, tier STRING"


def _hist(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    return scd2_from_changelog(df, KEY, ORDER, STATE)


def _by_key(rows):
    return sorted(
        rows, key=lambda r: (r["entity"], r["valid_from"] if r["valid_from"] is not None else -1)
    )


def test_changelog_collapses_consecutive_identical_states(spark):
    rows = [
        (1, 10, 0, "new", "a"),
        (1, 20, 0, "new", "a"),      # same state: same version
        (1, 30, 0, "paid", "a"),     # change -> v2
        (1, 40, 0, "new", "a"),      # back to an EARLIER state -> v3 (A-B-A)
        (2, 15, 0, "new", None),     # NULL state value tracked null-safely
        (2, 25, 0, "new", "b"),      # NULL -> 'b' is a change
    ]
    out = _by_key([r.asDict() for r in _hist(spark, rows).collect()])
    assert [
        (r["entity"], r["status"], r["tier"], r["valid_from"], r["valid_to"],
         r["is_current"], r["n_observations"])
        for r in out
    ] == [
        (1, "new", "a", 10, 30, False, 2),
        (1, "paid", "a", 30, 40, False, 1),
        (1, "new", "a", 40, None, True, 1),
        (2, "new", None, 15, 25, False, 1),
        (2, "new", "b", 25, None, True, 1),
    ]
    # exactly one current row per key, and scd_ids are distinct per version
    assert len({r["scd_id"] for r in out}) == len(out)


def test_changelog_tiebreaker_orders_same_instant(spark):
    # two observations at the same seen_at: seq breaks the tie, so the
    # state at seq=1 is the later one
    rows = [(7, 5, 0, "a", "x"), (7, 5, 1, "b", "x")]
    out = _by_key([r.asDict() for r in _hist(spark, rows).collect()])
    assert [(r["status"], r["is_current"]) for r in out] == [("a", False), ("b", True)]
    # both versions start at seen_at=5 (half-open intervals may be empty
    # under a coarse updated_at -- dbt's own behavior)
    assert [r["valid_from"] for r in out] == [5, 5]


def test_changelog_rejects_bad_args(spark):
    df = spark.createDataFrame([(1, 1, 0, "a", "x")], SCHEMA)
    with pytest.raises(ValueError):
        scd2_from_changelog(df, [], ORDER, STATE)
    with pytest.raises(ValueError):
        scd2_from_changelog(df, KEY, ORDER, ["status", "entity"])


def test_merge_insert_update_noop_and_passthrough(spark):
    hist = _hist(
        spark,
        [(1, 10, 0, "new", "a"), (1, 20, 0, "paid", "a"), (2, 10, 0, "new", "b")],
    )
    batch = spark.createDataFrame(
        [
            (1, "paid", "a", 30),   # unchanged -> untouched
            (3, "new", "c", 30),    # brand-new key -> insert current
        ],
        "entity BIGINT, status STRING, tier STRING, observed_at INT",
    )
    merged = scd2_merge(hist, batch, KEY, STATE, "observed_at")
    out = _by_key([r.asDict() for r in merged.collect()])
    assert [
        (r["entity"], r["status"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in out
    ] == [
        (1, "new", 10, 20, False),
        (1, "paid", 20, None, True),   # unchanged: valid_from NOT bumped
        (2, "new", 10, None, True),    # absent from batch: passthrough
        (3, "new", 30, None, True),
    ]

    batch2 = spark.createDataFrame(
        [(2, "churned", "b", 40)],
        "entity BIGINT, status STRING, tier STRING, observed_at INT",
    )
    merged2 = scd2_merge(merged, batch2, KEY, STATE, "observed_at")
    key2 = _by_key([r.asDict() for r in merged2.filter(F.col("entity") == 2).collect()])
    assert [(r["status"], r["valid_from"], r["valid_to"], r["is_current"]) for r in key2] == [
        ("new", 10, 40, False),
        ("churned", 40, None, True),
    ]


@pytest.mark.parametrize("strategy", ["check", "timestamp"])
def test_merge_fold_agrees_with_changelog_replay(spark, strategy):
    """Folding per-timestamp batches through scd2_merge lands on the same
    history as one scd2_from_changelog replay — on every column except
    n_observations (the merge, like a dbt nightly run, never sees the
    unchanged observations the replay counts). Holds for BOTH dbt
    strategies when batches arrive in increasing observed_at order."""
    rng = random.Random(82)
    statuses = ["new", "active", "lapsed", None]
    tiers = ["x", "y", None]
    changelog = []
    for t in range(1, 7):
        for e in range(12):
            if rng.random() < 0.55:
                changelog.append((e, t, 0, rng.choice(statuses), rng.choice(tiers)))
    # the fold needs at most one observation per key per batch: seq is
    # constant, one timestamp = one batch
    df = spark.createDataFrame(changelog, SCHEMA)
    replay = scd2_from_changelog(df, KEY, ORDER, STATE, strategy=strategy)

    times = sorted({r[1] for r in changelog})
    folded = None
    for t in times:
        batch_rows = [(e, s, tr, t) for (e, tt, _sq, s, tr) in changelog if tt == t]
        batch = spark.createDataFrame(
            batch_rows, "entity BIGINT, status STRING, tier STRING, observed_at INT"
        )
        if folded is None:
            folded = scd2_from_changelog(
                batch.withColumnRenamed("observed_at", "seen_at").withColumn(
                    "seq", F.lit(0)
                ),
                KEY,
                ["seen_at", "seq"],
                STATE,
                strategy=strategy,
            )
        else:
            folded = scd2_merge(
                folded, batch, KEY, STATE, "observed_at", strategy=strategy
            )

    cols = ["entity", "status", "tier", "valid_from", "valid_to", "is_current", "scd_id"]
    a = _by_key([r.asDict() for r in replay.select(cols).collect()])
    b = _by_key([r.asDict() for r in folded.select(cols).collect()])
    assert a == b


def test_merge_plan_broadcasts_small_batch(spark):
    """The nightly-run shape: only CURRENT rows join the batch, and a
    batch-sized side is broadcastable — no history-wide shuffle."""
    hist = _hist(spark, [(e, 10, 0, "new", "a") for e in range(50)])
    batch = spark.createDataFrame(
        [(1, "paid", "a", 20)],
        "entity BIGINT, status STRING, tier STRING, observed_at INT",
    )
    merged = scd2_merge(hist, F.broadcast(batch), KEY, STATE, "observed_at")
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # full-outer with a broadcast side falls back on BNLJ only if keys are
    # non-equi; eqNullSafe keys must keep the hash join
    assert "BroadcastNestedLoopJoin" not in plan


def test_timestamp_strategy_versions_on_updated_at(spark):
    """dbt timestamp strategy: re-version whenever updated_at advanced,
    even with no tracked-column change; same-instant observations
    collapse even when a tracked column moved (dbt trusts updated_at)."""
    rows = [
        (1, 10, 0, "new", "a"),
        (1, 20, 0, "new", "a"),   # no state change, newer ts -> NEW version
        (1, 20, 1, "paid", "a"),  # same ts: collapses into the t=20 version
        (1, 30, 0, "paid", "a"),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = _by_key(
        [
            r.asDict()
            for r in scd2_from_changelog(
                df, KEY, ORDER, STATE, strategy="timestamp"
            ).collect()
        ]
    )
    assert [
        (r["valid_from"], r["valid_to"], r["is_current"], r["n_observations"])
        for r in out
    ] == [(10, 20, False, 1), (20, 30, False, 2), (30, None, True, 1)]


def test_timestamp_strategy_merge(spark):
    hist = _hist(spark, [(1, 10, 0, "new", "a")])
    batch = spark.createDataFrame(
        [(1, "new", "a", 20)],
        "entity BIGINT, status STRING, tier STRING, observed_at INT",
    )
    # check strategy: unchanged state -> untouched
    check = scd2_merge(hist, batch, KEY, STATE, "observed_at")
    assert check.count() == 1
    # timestamp strategy: newer observed_at -> re-version
    ts = _by_key(
        [
            r.asDict()
            for r in scd2_merge(
                hist, batch, KEY, STATE, "observed_at", strategy="timestamp"
            ).collect()
        ]
    )
    assert [(r["valid_from"], r["valid_to"], r["is_current"]) for r in ts] == [
        (10, 20, False),
        (20, None, True),
    ]
    # same-instant batch never re-versions
    same = scd2_merge(
        hist,
        batch.withColumn("observed_at", F.lit(10)),
        KEY,
        STATE,
        "observed_at",
        strategy="timestamp",
    )
    assert same.count() == 1


def test_composite_key_changelog(spark):
    rows = [
        (1, 10, 0, "new", "a"),
        (1, 20, 0, "paid", "a"),
        (2, 10, 0, "new", "a"),
    ]
    df = spark.createDataFrame(rows, SCHEMA).withColumn(
        "region", F.col("entity") % 2
    )
    out = scd2_from_changelog(
        df, ["entity", "region"], ORDER, STATE
    ).collect()
    assert len(out) == 3
    # one current row per composite key, scd_id distinct
    curr = [r for r in out if r["is_current"]]
    assert {(r["entity"], r["region"]) for r in curr} == {(1, 1), (2, 0)}
    assert len({r["scd_id"] for r in out}) == 3


def test_rejects_bad_strategy(spark):
    df = spark.createDataFrame([(1, 1, 0, "a", "x")], SCHEMA)
    with pytest.raises(ValueError):
        scd2_from_changelog(df, KEY, ORDER, STATE, strategy="checksum")
    hist = _hist(spark, [(1, 10, 0, "new", "a")])
    batch = spark.createDataFrame(
        [(1, "new", "a", 20)],
        "entity BIGINT, status STRING, tier STRING, observed_at INT",
    )
    with pytest.raises(ValueError):
        scd2_merge(hist, batch, KEY, STATE, "observed_at", strategy="ts")


def test_scd2_history_keeps_null_keyed_groups(spark, tmp_path):
    """``q_scd2_history`` splits its aggregate in two and re-joins the
    halves on the group keys; a NULL flag or status must still be one
    group, as in the DuckDB SQL."""
    import datetime as dt

    import duckdb

    from sec_financial_data_pipeline_using_snowflake_dbt_spark.workload.extended import (
        _SCD2_SQL,
        q_scd2_history,
    )

    from .oracle_harness import compare

    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 2, 1)
    rows = [(1, d1, 1, "A", "F"), (1, d2, 1, None, "F"), (2, d1, 1, None, "O"),
            (3, d1, 1, "N", None), (3, d2, 2, "N", None), (4, d1, 1, "A", "F")]
    spark.createDataFrame(
        rows, "l_orderkey BIGINT, l_shipdate DATE, l_linenumber INT, "
              "l_returnflag STRING, l_linestatus STRING",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))

    got = q_scd2_history(spark, str(tmp_path))
    keys = {(r["l_returnflag"], r["l_linestatus"], r["is_current"]) for r in got.collect()}
    assert (None, "F", True) in keys and (None, "O", True) in keys and ("N", None, True) in keys
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{tmp_path}/lineitem.parquet/*.parquet'")
    assert compare(got, con.execute(_SCD2_SQL).df(), "q_scd2_history") == []
