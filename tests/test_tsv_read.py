"""COPY INTO semantics of the TSV reader: typed schema, yyyyMMdd dates,
empty/'NULL' → null, ON_ERROR=CONTINUE (drop malformed), PERMISSIVE
audit mode."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from sec_financial_data_pipeline_using_snowflake_dbt_spark.schemas import (
    NUM_SCHEMA,
    SUB_SCHEMA,
)
from sec_financial_data_pipeline_using_snowflake_dbt_spark.sources.tsv import (
    read_sec_quarter,
    read_tsv,
)

from .sec_fixtures import generate_sec_quarter


@pytest.fixture(scope="module")
def dirty_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sec_dirty"))
    generate_sec_quarter(d, dirty=True)
    return d


def test_schema_and_dates(spark, dirty_dir):
    sub = read_tsv(spark, f"{dirty_dir}/sub.txt", SUB_SCHEMA)
    assert dict(sub.dtypes)["filed"] == "date"
    assert dict(sub.dtypes)["accepted"] == "timestamp_ntz"
    assert dict(sub.dtypes)["wksi"] == "boolean"
    row = sub.filter(F.col("adsh").endswith("000000")).first()
    assert isinstance(row.filed, datetime.date)


def test_null_semantics(spark, dirty_dir):
    sub = read_tsv(spark, f"{dirty_dir}/sub.txt", SUB_SCHEMA)
    # empty fields → null (EMPTY_FIELD_AS_NULL)
    assert sub.filter(F.col("bas2").isNull()).count() > 0
    # some periods intentionally null
    assert sub.filter(F.col("period").isNull()).count() > 0


def test_on_error_continue_drops_malformed(spark, dirty_dir):
    strict = read_tsv(
        spark,
        f"{dirty_dir}/num.txt",
        NUM_SCHEMA,
        on_error_continue=False,
        corrupt_record_col="_corrupt",
    )
    dropped = read_tsv(spark, f"{dirty_dir}/num.txt", NUM_SCHEMA)
    n_bad = strict.filter(F.col("_corrupt").isNotNull()).count()
    assert n_bad == 2  # the short row + the type-malformed row
    assert dropped.count() == strict.count() - n_bad
    # NULL_IF literal in a typed column is salvaged, not dropped
    salvaged = dropped.filter(F.col("footnote") == "salvaged")
    row = salvaged.first()
    assert row is not None and row.qtrs is None and float(row.value) == 7.5


@pytest.mark.parametrize("on_error_continue", [True, False])
def test_parse_runs_from_csv_once(spark, dirty_dir, on_error_continue):
    """Row selection must not make the optimizer evaluate the parse a
    second time in a pushed-down filter."""
    df = read_tsv(
        spark, f"{dirty_dir}/num.txt", NUM_SCHEMA, on_error_continue=on_error_continue
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("from_csv(") == 1, plan


def test_reread_after_relanding_sees_new_files(spark, tmp_path):
    """read_sec_quarter persists its tables; a second load of the same
    directory after the files changed must not be served the rows
    cached from the old files."""
    import shutil

    land, fresh = str(tmp_path / "land"), str(tmp_path / "fresh")
    generate_sec_quarter(land)
    assert read_sec_quarter(spark, land)["num"].count() > 30
    with open(f"{land}/num.txt") as fh:
        head = fh.readlines()[:31]  # header + 30 rows
    with open(f"{land}/num.txt", "w") as fh:
        fh.writelines(head)
    shutil.copytree(land, fresh)
    want = {k: v.count() for k, v in read_sec_quarter(spark, fresh).items()}
    got = {k: v.count() for k, v in read_sec_quarter(spark, land).items()}
    assert got == want and want["num"] <= 30


def test_quarter_glob_routing(spark, dirty_dir):
    tables = read_sec_quarter(spark, dirty_dir)
    assert set(tables) == {"sub", "tag", "num", "pre"}
    assert tables["tag"].count() > 0
    assert dict(tables["num"].dtypes)["value"] == "decimal(28,4)"


def test_row_records_json_sink(spark):
    import json

    from sec_financial_data_pipeline_using_snowflake_dbt_spark.sources.tsv import (
        to_row_records_json,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    doc = json.loads(to_row_records_json(df, "demo").first().doc)
    assert sorted(doc["demo"], key=lambda r: r["k"]) == [
        {"k": 1, "v": "a"},
        {"k": 2, "v": "b"},
    ]


def test_json_variant_inference(spark, tmp_path_factory):
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.sources.tsv import (
        read_json_variant,
    )

    d = tmp_path_factory.mktemp("variant")
    (d / "doc.json").write_text(
        '{"sub": [{"adsh": "x", "cik": 1}], "meta": {"quarter": "2024q1"}}'
    )
    df = read_json_variant(spark, str(d))
    row = df.first()
    assert row.meta.quarter == "2024q1"
    assert row.sub[0].adsh == "x"


def test_null_if_does_not_corrupt_quoted_embedded_tabs(spark, tmp_path_factory):
    """Snowflake applies NULL_IF per field after quote handling: a quoted
    field containing an embedded tab-delimited NULL token must survive
    intact, while bare NULL tokens still load as null on both quoted and
    quote-free lines."""
    from pyspark.sql import types as T

    d = tmp_path_factory.mktemp("quoted")
    schema = T.StructType(
        [
            T.StructField("a", T.StringType()),
            T.StructField("b", T.StringType()),
            T.StructField("c", T.StringType()),
        ]
    )
    (d / "q.txt").write_text(
        "a\tb\tc\n"
        "x\tNULL\ty\n"                      # quote-free line: pre-parse NULL_IF
        '"abc\tNULL\tdef"\tNULL\tz\n'       # quoted line: per-field NULL_IF
    )
    df = read_tsv(spark, str(d / "q.txt"), schema)
    rows = {r.c: r for r in df.collect()}
    assert rows["y"].b is None
    assert rows["z"].a == "abc\tNULL\tdef"  # embedded token NOT blanked
    assert rows["z"].b is None
