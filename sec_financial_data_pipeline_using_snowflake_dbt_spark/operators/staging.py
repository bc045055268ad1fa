"""Staging models: raw SEC tables → cleaned projections.

Spark translation of the dbt staging layer (reference:
Airflow/masterfindata/models/Staging/stg_sub.sql, stg_num.sql,
stg_tag.sql, stg_pre.sql). Staging stays *lazy* (unmaterialized
DataFrame lineage ≙ dbt views); materialization is a pipeline-registry
decision, not a model decision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import ticker_from_instance, version_tag


def stg_sub(sub: DataFrame) -> DataFrame:
    """reference stg_sub.sql:6-21: projection + address null-defaults +
    ticker extraction."""
    return sub.select(
        F.col("adsh"),
        F.col("cik"),
        F.col("name"),
        F.coalesce("countryba", F.lit("Unknown")).alias("countryba"),
        F.coalesce("stprba", F.lit("Unknown")).alias("stprba"),
        F.coalesce("cityba", F.lit("Unknown")).alias("cityba"),
        F.coalesce("zipba", F.lit("Unknown")).alias("zipba"),
        F.coalesce("bas1", F.lit("Unknown")).alias("bas1"),
        F.coalesce("bas2", F.lit("Does not exist or Unknown")).alias("bas2"),
        F.col("baph"),
        F.col("filed"),
        F.col("accepted"),
        F.col("instance"),
        ticker_from_instance("instance").alias("ticker"),
    )


def stg_num(num: DataFrame) -> DataFrame:
    """reference stg_num.sql:8-19: projection + VERSION_TAG derived key.
    The reference clusters by ['ADSH','TAG','VERSION_TAG'] (X7); the
    registry caches stg_num rather than writing it, so there is no file
    layout to cluster."""
    return num.select(
        "adsh",
        "tag",
        "version",
        "ddate",
        "qtrs",
        "uom",
        "value",
        "footnote",
        version_tag().alias("version_tag"),
    )


def stg_tag(tag: DataFrame) -> DataFrame:
    """reference stg_tag.sql:6-12."""
    return tag.select(
        "tag",
        "version",
        F.coalesce("tlabel", F.lit("not known")).alias("tlabel"),
        "doc",
        version_tag().alias("version_tag"),
    )


def stg_pre(pre: DataFrame) -> DataFrame:
    """reference stg_pre.sql:6-13."""
    return pre.select(
        "adsh",
        "stmt",
        "tag",
        "version",
        F.coalesce("plabel", F.lit("not known")).alias("plabel"),
        version_tag().alias("version_tag"),
    )
