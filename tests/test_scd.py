"""SCD Type-2 snapshots (dbt snapshot semantics, operators/scd.py):
changelog replay: version collapse, tie-breaks, composite keys and
NULL-keyed groups."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.scd import (
    scd2_from_changelog,
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
