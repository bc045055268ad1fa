"""Shared helpers for workload queries.

Oracle-parity conventions used by every query:

- Money math in DECIMAL: doubles are cast to DECIMAL(18,2) *before*
  multiplication/summation, so the aggregate is exact in both engines;
  the final value is cast back to double. Floating-point sums are only
  taken over integral-valued columns (exact at any accumulation order).
- Derived averages: exact decimal sum -> double -> one IEEE division ->
  round — bitwise identical on both engines.
- Timestamps/dates leave the query as formatted strings (engines differ
  in timestamp physical types but not in strftime output).
- Integer outputs are cast to long/BIGINT on both sides (Spark count vs
  DuckDB HUGEINT sums would otherwise mismatch schemas).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Every declared query — name -> callable(spark, sf_dir) -> DataFrame —
#: and its DuckDB oracle SQL (absent ⇒ rows-only check), filled by ``q``
#: in import order; ``registry`` parks the tail of the order.
QUERIES: dict[str, object] = {}
ORACLES: dict[str, str] = {}


def q(name: str, sql: str | None):
    """Register the decorated function as query ``name`` with oracle ``sql``."""

    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # deterministic semantics regardless of the host session: UTC for
    # timestamp rendering (the DuckDB oracle is tz-naive) and ANSI off
    # for Snowflake-style null-on-error casts (Spark 4 defaults ANSI on)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    if name == "events":
        return read_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column across Spark runtimes.

    events.parquet stores TIMESTAMP(NANOS). Spark >= 4.1 reads it natively
    as ``timestamp_ntz`` (truncating to µs; values are µs-aligned, so this
    is lossless) and silently ignores ``nanosAsLong``. Older runtimes only
    read it with ``spark.sql.legacy.parquet.nanosAsLong=true``, surfacing a
    ``bigint`` of epoch-nanos. This helper is the ONE place the dtype guard
    lives — batch (``read_events``), streams (``events_stream``), and tests
    all route through it. Both cases normalize to TimestampType (what the
    pre-4.1 path produced): streaming watermarks reject TIMESTAMP_NTZ
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), and under the engine's UTC
    session timezone the ntz→ltz cast is epoch-identical, so batch
    formatting/arithmetic is unchanged."""
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS LONG)")))
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch read of events.parquet, ts normalized (see normalize_event_ts).
    The nanosAsLong conf-set is kept for pre-4.1 runtimes (runtime-settable,
    ignored by 4.1+); the dtype guard makes either behavior correct."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    return normalize_event_ts(df)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over events.parquet with the identical ts normalization
    as read_events — shared by streaming workload queries and tests so the
    runtime-version dtype logic exists exactly once."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # The file-stream source requires a DIRECTORY base path, and
    # pathGlobFilter matches LEAF file names only. So the two layouts
    # need different streams: a Spark-written events.parquet DIRECTORY
    # of part files streams directly (with a *.parquet filter to skip
    # _SUCCESS markers), while the driver testdata's single-FILE
    # events.parquet streams from its parent with an exact-name filter.
    import os

    table_path = f"{sf_dir}/events.parquet"
    if os.path.isdir(table_path.removeprefix("file:")):
        reader = spark.readStream.schema(raw_schema).option(
            "pathGlobFilter", "*.parquet"
        )
        stream = reader.parquet(table_path)
    else:
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return normalize_event_ts(stream)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Temp views for SQL-API queries."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def dec(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(T.DecimalType(18, 2))


def as_dbl(c: Column) -> Column:
    return c.cast("double")


def money_sum(col: str | Column) -> Column:
    """Exact decimal sum of a 2-dp money column, emitted as double."""
    return as_dbl(F.sum(dec(col)))


def revenue_expr() -> Column:
    """l_extendedprice * (1 - l_discount), exact decimal."""
    return dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))


# SQL-side equivalents (DuckDB dialect)
SQL_REVENUE = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
SQL_CHARGE = (
    f"CAST({SQL_REVENUE} AS DECIMAL(18,4)) * (1 + CAST(l_tax AS DECIMAL(18,2)))"
)


def require_sql_surgery(sampled: str, full: str, name: str, needle: str) -> str:
    """Fail-loud guard for ``.replace``-derived sampled-arm oracles.

    The sampled arms are built by string surgery on the full oracle; a
    silent ``.replace`` no-op would ship an UNSAMPLED oracle that no
    longer matches the stratified Spark arm. These guards were bare
    module-level ``assert`` statements, which ``python -O`` strips
    (ADVICE r10) — raise instead, and additionally pin that ``needle``
    (the surgery site's anchor) occurs exactly once in the result
    so a drifted full oracle that matches the pattern twice (or zero
    times after an edit) is caught at import."""
    if sampled == full:
        raise RuntimeError(
            f"{name}: sampled-arm SQL surgery did not land (.replace was a no-op)"
        )
    found = sampled.count(needle)
    if found != 1:
        raise RuntimeError(
            f"{name}: expected 1 occurrence of {needle!r} in the sampled "
            f"oracle, found {found} — the full oracle drifted under the surgery"
        )
    return sampled
