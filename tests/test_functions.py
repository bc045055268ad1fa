"""Unit tests for the scalar/text/vector Column helpers + the weather
CSV path (S6)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from sec_financial_data_pipeline_using_snowflake_dbt_spark.functions import (
    scalar as SC,
)
from sec_financial_data_pipeline_using_snowflake_dbt_spark.functions import text as TX
from sec_financial_data_pipeline_using_snowflake_dbt_spark.functions import (
    vector as V,
)
from sec_financial_data_pipeline_using_snowflake_dbt_spark.schemas import (
    WEATHER_SCHEMA,
)
from sec_financial_data_pipeline_using_snowflake_dbt_spark.sources.tsv import (
    read_csv_dated,
)


def test_surrogate_key_dbt_parity(spark):
    """Byte-for-byte dbt_utils.generate_surrogate_key parity:
    md5('1000-ACME') and the null sentinel."""
    import hashlib

    df = spark.createDataFrame([(1000, "ACME"), (2000, None)], ["cik", "name"])
    rows = {r.cik: r.sk for r in df.select(
        "cik", SC.surrogate_key("cik", "name").alias("sk")
    ).collect()}
    assert rows[1000] == hashlib.md5(b"1000-ACME").hexdigest()
    assert (
        rows[2000]
        == hashlib.md5(b"2000-_dbt_utils_surrogate_key_null_").hexdigest()
    )


def test_ticker_and_version_tag(spark):
    df = spark.createDataFrame(
        [("aapl-20240101.htm", "us-gaap/2024", "Assets")],
        ["instance", "version", "tag"],
    )
    r = df.select(
        SC.ticker_from_instance("instance").alias("t"),
        SC.version_tag().alias("vt"),
    ).first()
    assert r.t == "AAPL"
    assert r.vt == "us-gaap/2024-Assets"


def test_quarter_string(spark):
    df = spark.createDataFrame([("2024-05-15",)], ["d"]).select(
        F.col("d").cast("date").alias("d")
    )
    assert df.select(SC.quarter_string("d").alias("q")).first().q == "2024q2"


def test_word_shingles_short_doc(spark):
    """Docs shorter than n must yield an empty shingle set (Spark's
    sequence() would otherwise generate a DESCENDING range)."""
    df = spark.createDataFrame([("one two",), ("a b c d",)], ["text"])
    rows = df.select(TX.word_shingles("text", 3).alias("s")).collect()
    assert rows[0].s == []
    assert rows[1].s == ["a␟b␟c", "b␟c␟d"]


def test_tokens_strip_empties(spark):
    df = spark.createDataFrame([("  a  b  ",)], ["text"])
    assert df.select(TX.tokens("text").alias("t")).first().t == ["a", "b"]


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("Hello,  World!",), ("hello world",)], ["text"]
    )
    fps = [r.f for r in df.select(TX.fingerprint("text").alias("f")).collect()]
    assert fps[0] == fps[1]  # punctuation + case + whitespace collapse


def test_vector_math(spark):
    df = spark.createDataFrame([([1.0, 2.0, 2.0], [2.0, 1.0, 2.0])], ["a", "b"])
    r = df.select(
        V.dot("a", "b").alias("d"),
        V.norm("a").alias("na"),
    ).first()
    assert r.d == 8.0
    assert r.na == 3.0


def test_weather_csv_path(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("weather")
    (d / "weather.csv").write_text(
        "temperature,humidity,date,temperature_celsius\n"
        "72.0,40.0,2024-01-02,22.22\n"
        "32.0,50.0,2024-01-03,0.0\n"
    )
    df = read_csv_dated(spark, str(d), WEATHER_SCHEMA)
    rows = df.orderBy("date").collect()
    assert dict(df.dtypes)["date"] == "date"
    # F→C derivation check (reference web_to_snowflake.py:46)
    for r in rows:
        assert math.isclose(
            r.temperature_celsius, round((r.temperature - 32) * 5 / 9, 2)
        )
