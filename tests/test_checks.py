"""The check framework catches exactly the planted violations in the
dirty fixture and passes on the clean one."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sec_financial_data_pipeline_using_snowflake_dbt_spark import checks as C
from sec_financial_data_pipeline_using_snowflake_dbt_spark.sources.tsv import (
    read_sec_quarter,
)

from .sec_fixtures import generate_sec_quarter


@pytest.fixture(scope="module")
def clean(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sec_clean"))
    generate_sec_quarter(d)
    return read_sec_quarter(spark, d)


@pytest.fixture(scope="module")
def dirty(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sec_dirty2"))
    generate_sec_quarter(d, dirty=True)
    return read_sec_quarter(spark, d)


def _results(tables):
    suite = C.sec_quarter_suite(
        tables["sub"], tables["tag"], tables["num"], tables["pre"]
    )
    return {r.name: r.violations for r in C.run_checks(suite)}


def test_clean_fixture_mostly_passes(clean):
    res = _results(clean)
    # period-null rows with fy != 0 are planted in the clean fixture too
    # (FIXTURES.md asks for them) — every other check must pass
    expected_failing = {"sub.period.not_null_except_zero"}
    failing = {k for k, v in res.items() if v > 0}
    assert failing == expected_failing, res


def test_dirty_fixture_flags_planted_violations(dirty):
    res = _results(dirty)
    assert res["sub.adsh.unique"] == 1  # one duplicated adsh
    assert res["sub.name.not_null"] == 1
    assert res["sub.fy.between"] == 1  # fy = 1850
    assert res["sub.aciks.regex"] == 1  # letters in aciks
    assert res["num.value.between"] == 1  # negative value
    assert res["num.adsh.fk_sub"] >= 1  # orphan adsh
    assert res["num.tag_version.fk_tag"] >= 1  # orphan (tag, version)


@pytest.mark.parametrize("fixture", ["clean", "dirty"])
def test_run_checks_counts_equal_each_thunk(fixture, request):
    """The one-query runner reports, per check, exactly the row count of
    that check's own violation frame."""
    tables = request.getfixturevalue(fixture)
    suite = C.sec_quarter_suite(
        tables["sub"], tables["tag"], tables["num"], tables["pre"]
    )
    expected = {name: thunk().count() for name, thunk in suite.items()}
    got = _results(tables)
    assert got == expected
    assert list(got) == list(suite)  # suite order kept


def test_run_checks_empty_suite():
    assert C.run_checks({}) == []


def test_run_checks_is_one_sql_execution(spark, dirty):
    suite = C.sec_quarter_suite(
        dirty["sub"], dirty["tag"], dirty["num"], dirty["pre"]
    )
    store = spark._jsparkSession.sharedState().statusStore()
    before = store.executionsCount()
    results = C.run_checks(suite)
    assert store.executionsCount() - before == 1
    assert len(results) == len(suite)


def test_relationships_multi_column(dirty):
    tag = dirty["tag"]
    # a parent key that repeats changes no count: a left-anti join keeps
    # or drops each child row once
    for parent in (tag, tag.unionByName(tag)):
        orphans = C.relationships(dirty["num"], parent, ["tag", "version"])
        assert orphans.filter(F.col("tag") == "NoSuchTag").count() == 1
        assert orphans.count() == 1


def test_expression_holds(clean):
    # singular business rule (reference Notes.md:393-404 flavor):
    # filed date within [2009-01-01, today]
    bad = C.expression_holds(
        clean["sub"],
        F.col("filed").between(F.lit("2009-01-01").cast("date"), F.current_date()),
    )
    assert bad.count() == 0


def test_column_type_is(clean):
    assert C.column_type_is(clean["num"], "value", "decimal(28,4)").count() == 0
    assert C.column_type_is(clean["num"], "value", "double").count() == 1


def test_profile_table_values_and_rendering(spark):
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.checks import (
        profile_table,
    )
    import datetime as dt

    rows = [
        (1, 2.5, "b", dt.datetime(2024, 1, 2, 3, 4, 5)),
        (1, None, "a", dt.datetime(2024, 1, 1, 0, 0, 0)),
        (None, 10.0, "a", None),
    ]
    df = spark.createDataFrame(rows, "i BIGINT, d DOUBLE, s STRING, t TIMESTAMP")
    got = {r["column_name"]: r.asDict() for r in profile_table(df).collect()}
    assert got["i"] == {
        "column_name": "i", "n_rows": 3, "n_nulls": 1, "n_distinct": 1,
        "min_value": "1", "max_value": "1",
    }
    # doubles render through DECIMAL(28,6): fixed-point, full scale
    assert (got["d"]["min_value"], got["d"]["max_value"]) == ("2.500000", "10.000000")
    assert got["d"]["n_nulls"] == 1 and got["d"]["n_distinct"] == 2
    assert got["s"]["n_distinct"] == 2 and got["s"]["min_value"] == "a"
    assert got["t"]["min_value"] == "2024-01-01 00:00:00"
    assert got["t"]["max_value"] == "2024-01-02 03:04:05"


def test_profile_table_scan_split(spark):
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.checks import (
        profile_table,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    plan = profile_table(li)._jdf.queryExecution().executedPlan().toString()
    # r11: the profile deliberately scans TWICE — the count/null/
    # min/max pass escapes the multi-distinct Expand (which multiplies
    # its subtree's input n_cols×), so total rows through the partial
    # aggregates drop even with the second scan. The Expand must stay
    # confined to the distinct subtree.
    assert plan.count("Scan parquet") == 2
    assert plan.count("Expand") == 1
