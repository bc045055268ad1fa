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
    sub = read_tsv(spark, dirty_dir, SUB_SCHEMA, "sub.txt")
    assert dict(sub.dtypes)["filed"] == "date"
    assert dict(sub.dtypes)["accepted"] == "timestamp_ntz"
    assert dict(sub.dtypes)["wksi"] == "boolean"
    row = sub.filter(F.col("adsh").endswith("000000")).first()
    assert isinstance(row.filed, datetime.date)


def test_null_semantics(spark, dirty_dir):
    sub = read_tsv(spark, dirty_dir, SUB_SCHEMA, "sub.txt")
    # empty fields → null (EMPTY_FIELD_AS_NULL)
    assert sub.filter(F.col("bas2").isNull()).count() > 0
    # some periods intentionally null
    assert sub.filter(F.col("period").isNull()).count() > 0


def test_on_error_continue_drops_malformed(spark, dirty_dir):
    strict = read_tsv(
        spark,
        dirty_dir,
        NUM_SCHEMA,
        "num.txt",
        on_error_continue=False,
        corrupt_record_col="_corrupt",
    )
    dropped = read_tsv(spark, dirty_dir, NUM_SCHEMA, "num.txt")
    n_bad = strict.filter(F.col("_corrupt").isNotNull()).count()
    assert n_bad == 2  # the short row + the type-malformed row
    assert dropped.count() == strict.count() - n_bad
    # NULL_IF literal in a typed column is salvaged, not dropped
    salvaged = dropped.filter(F.col("footnote") == "salvaged")
    row = salvaged.first()
    assert row is not None and row.qtrs is None and float(row.value) == 7.5


def test_row_validity_ignores_selected_columns(spark, dirty_dir):
    """A row is rejected or flagged whichever columns the query reads: a
    narrow select must not let the short row through."""
    loaded = read_tsv(spark, dirty_dir, NUM_SCHEMA, "num.txt")
    assert loaded.select("adsh").count() == len(loaded.collect())
    audit = read_tsv(
        spark,
        dirty_dir,
        NUM_SCHEMA,
        "num.txt",
        on_error_continue=False,
        corrupt_record_col="_corrupt",
    )
    flagged = audit.filter(F.col("_corrupt").isNotNull())
    assert flagged.select("adsh").count() == 2
    # the short row keeps its raw line; the type-malformed row its fields
    assert {r._corrupt for r in flagged.select("_corrupt").collect()} == {
        "only\tthree\tcolumns",
        "0000001000-24-000000\tAssets\tus-gaap/2024\tnotadate\t0\tUSD\t\t\tnotanumber\t",
    }


def test_real_sec_value_formats(spark, tmp_path):
    """The published SEC files write booleans as 0/1 and ``accepted``
    with a fractional second; COPY loads such rows, and so must we."""
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.schemas import (
        PRE_SCHEMA,
        TAG_SCHEMA,
    )

    rows = {
        "sub": (
            SUB_SCHEMA,
            [
                dict(adsh="0000320193-24-000006", cik="320193", name="APPLE INC",
                     form="10-Q", filed="20240202", wksi="1", prevrpt="0",
                     detail="1", accepted="2024-02-01 18:03:00.0"),
                dict(adsh="0000789019-24-000008", cik="789019", name="MICROSOFT CORP",
                     form="10-Q", filed="20240130", wksi="0", prevrpt="1",
                     detail="0", accepted="2024-01-30 16:06:12.0"),
            ],
        ),
        "tag": (
            TAG_SCHEMA,
            [
                dict(tag="Assets", version="us-gaap/2023", custom="0", abstract="1"),
                dict(tag="Widgets", version="0000320193-24-000006", custom="1", abstract="0"),
            ],
        ),
        "pre": (
            PRE_SCHEMA,
            [
                dict(adsh="0000320193-24-000006", report="2", inpth="0", negating="1"),
                dict(adsh="0000320193-24-000006", report="3", inpth="1", negating="0"),
            ],
        ),
    }
    for name, (schema, recs) in rows.items():
        names = [f.name for f in schema.fields]
        (tmp_path / f"{name}.txt").write_text(
            "\n".join(["\t".join(names)] + ["\t".join(r.get(c, "") for c in names) for r in recs])
            + "\n"
        )
    sub = {r.adsh: r for r in read_tsv(spark, str(tmp_path), SUB_SCHEMA, "sub.txt").collect()}
    a, m = sub["0000320193-24-000006"], sub["0000789019-24-000008"]
    assert (a.wksi, a.prevrpt, a.detail) == (True, False, True)
    assert (m.wksi, m.prevrpt, m.detail) == (False, True, False)
    assert a.accepted == datetime.datetime(2024, 2, 1, 18, 3)
    assert m.accepted == datetime.datetime(2024, 1, 30, 16, 6, 12)
    tag = {r.tag: r for r in read_tsv(spark, str(tmp_path), TAG_SCHEMA, "tag.txt").collect()}
    assert (tag["Assets"].custom, tag["Assets"].abstract) == (False, True)
    assert (tag["Widgets"].custom, tag["Widgets"].abstract) == (True, False)
    pre = {r.report: r for r in read_tsv(spark, str(tmp_path), PRE_SCHEMA, "pre.txt").collect()}
    assert (pre[2].inpth, pre[2].negating) == (False, True)
    assert (pre[3].inpth, pre[3].negating) == (True, False)


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
    df = read_tsv(spark, str(d), schema, "q.txt")
    rows = {r.c: r for r in df.collect()}
    assert rows["y"].b is None
    assert rows["z"].a == "abc\tNULL\tdef"  # embedded token NOT blanked
    assert rows["z"].b is None
