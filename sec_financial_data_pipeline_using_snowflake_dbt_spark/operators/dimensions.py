"""Dimension models (reference:
Airflow/masterfindata/models/Dimensions/*.sql).

Scale notes:
- dim_filings in the reference is SELECT DISTINCT over a 4-way join in
  which NUM is joined on VERSION_TAG alone — a cross-product-scale
  fan-out at 100 TB. Because the output columns are a function of each
  input's *distinct projection*, we push the DISTINCTs below the join:
  result-identical, and the join sides shrink from |NUM| rows to
  |distinct (version_tag, uom)|.
- dim_company/dim_address replicate the reference's name-join fan-out
  (SURVEY §4 gotcha 4) because parity requires it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import surrogate_key, ticker_from_instance


def dim_address(stg_sub: DataFrame) -> DataFrame:
    """reference dim_address.sql:6-21 — note: NO DISTINCT (one address
    row per filing; deliberate parity with the reference's wart)."""
    return stg_sub.select(
        surrogate_key("bas1", "bas2", "stprba", "countryba", "zipba").alias(
            "comp_address_sk"
        ),
        F.col("name").alias("company_name"),
        F.col("bas1").alias("street_address1"),
        F.col("bas2").alias("street_address2"),
        F.col("stprba").alias("state_or_province"),
        F.col("countryba").alias("country"),
        F.col("zipba").alias("zipcode"),
    )


def dim_company(dim_address_df: DataFrame, stg_sub_df: DataFrame) -> DataFrame:
    """reference dim_company.sql:6-23: DISTINCT over dim_address ⋈ stg_sub
    on company *name* (fan-out preserved for parity)."""
    # explicit aliases: dim_address derives from stg_sub, so this is a
    # self-join from Spark's perspective
    a, s = dim_address_df.alias("addr"), stg_sub_df.alias("subx")
    return (
        a.join(s, F.col("addr.company_name") == F.col("subx.name"))
        .select(
            surrogate_key(F.col("subx.cik"), F.col("addr.company_name")).alias(
                "company_sk"
            ),
            F.col("subx.cik").alias("cik"),
            F.col("addr.company_name").alias("company_name"),
            ticker_from_instance(F.col("subx.instance")).alias("ticker"),
            F.col("addr.comp_address_sk").alias("comp_address_sk"),
        )
        .distinct()
    )


def dim_filings(
    stg_pre_df: DataFrame,
    stg_tag_df: DataFrame,
    stg_num_df: DataFrame,
    stg_sub_df: DataFrame,
) -> DataFrame:
    """reference dim_filings.sql:6-34: DISTINCT over
    pre ⋈ tag (version_tag) ⋈ num (version_tag) ⋈ sub (adsh=pre.adsh).

    DISTINCT is pushed below the join (see module docstring): num
    contributes only (version_tag, uom), sub only (adsh, filed), pre only
    (version_tag, stmt, adsh) — all deduped before joining, so the
    VERSION_TAG-only join no longer explodes. The distinct sides carry
    NO explicit broadcast hint: (adsh, filed) grows linearly with filing
    history and (version_tag, …) with taxonomy releases, so the
    broadcast decision is left to AQE's measured sizes (VERDICT r2 —
    same contract as the dedup operators)."""
    pre_d = stg_pre_df.select("version_tag", "stmt", "adsh").distinct()
    tag_d = stg_tag_df.select("version_tag", "tag", "version", "doc").distinct()
    num_d = stg_num_df.select("version_tag", "uom").distinct()
    sub_d = stg_sub_df.select("adsh", "filed").distinct()
    joined = pre_d.join(tag_d, "version_tag").join(num_d, "version_tag").join(
        sub_d, "adsh"
    )
    return joined.select(
        surrogate_key("tag", "version", "stmt", "uom", "filed").alias("filings_sk"),
        F.col("tag"),
        F.col("version"),
        F.coalesce("doc", F.lit("Unknown")).alias("doc"),
        F.col("stmt").alias("statement_type"),
        F.col("filed").alias("filed_date"),
        F.col("uom").alias("unit_of_measure"),
    ).distinct()


#: The reference's calendar: 11323 days from 2000-01-01 (dim_date.sql:7-9).
DIM_DATE_START = "2000-01-01"
DIM_DATE_DAYS = 11323


def dim_date(spark: SparkSession) -> DataFrame:
    """reference dim_date.sql:7-31.

    ``spark.range(n)`` replaces ROW_NUMBER() OVER (ORDER BY NULL) on a
    GENERATOR — no single-partition global sort (SURVEY §2.5 W1).

    Weekend flag: the reference tests Snowflake DOW IN (6,7), but DOW is
    0-6 — only Saturday ever matched (SURVEY §4 gotcha 1). We implement
    the intent: Saturday and Sunday.
    """
    full_dt = F.date_add(F.lit(DIM_DATE_START).cast("date"), F.col("id").cast("int"))
    m = F.month(full_dt)
    # Spark dayofweek: Sun=1 .. Sat=7
    weekend = F.dayofweek(full_dt).isin(1, 7)
    return spark.range(0, DIM_DATE_DAYS).select(
        F.date_format(full_dt, "yyyyMMdd").cast("long").alias("date_sk"),
        full_dt.alias("full_dt"),
        F.year(full_dt).alias("year"),
        m.alias("month"),
        F.when(m.between(1, 3), 1)
        .when(m.between(4, 6), 2)
        .when(m.between(7, 9), 3)
        .otherwise(4)
        .alias("quarter"),
        F.dayofmonth(full_dt).alias("day_of_month"),
        F.dayofweek(full_dt).alias("day_of_week"),
        F.when(weekend, "Y").otherwise("N").alias("is_weekend"),
    )
