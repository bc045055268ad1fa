"""Scalar Column helpers — the engine's "macro" layer.

The reference implements these as dbt Jinja macros / inline Snowflake SQL;
here they are plain Python functions returning Column expressions, so they
stay JVM-side inside whole-stage codegen (no Python UDFs anywhere).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# dbt_utils.generate_surrogate_key null sentinel — reproduced byte-for-byte
# so surrogate-key VALUES (not just row multisets) match the reference
# (reference: Airflow/masterfindata/models/Dimensions/dim_company.sql:7-12,
# Notes.md:242-247).
_SK_NULL_SENTINEL = "_dbt_utils_surrogate_key_null_"


def surrogate_key(*cols: str | Column) -> Column:
    """MD5 surrogate key, dbt_utils-compatible.

    ``md5(concat_ws('-', coalesce(cast(c as string), sentinel), ...))``
    """
    parts = [
        F.coalesce(
            (F.col(c) if isinstance(c, str) else c).cast("string"),
            F.lit(_SK_NULL_SENTINEL),
        )
        for c in cols
    ]
    return F.md5(F.concat_ws("-", *parts))


def handle_null_date(col: str | Column) -> Column:
    """NULL date -> far-future sentinel
    (reference: Airflow/json_transform/macros/handle_null_dates.sql:1-3)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c, F.lit("9999-12-31").cast(T.DateType()))


def ticker_from_instance(col: str | Column = "instance") -> Column:
    """``UPPER(SPLIT_PART(instance, '-', 1))``
    (reference: Airflow/masterfindata/models/Staging/stg_sub.sql:20)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.upper(F.split_part(c, F.lit("-"), F.lit(1)))


def version_tag() -> Column:
    """Derived join key ``CONCAT(version, '-', tag)``
    (reference: Airflow/masterfindata/models/Staging/stg_num.sql:17)."""
    return F.concat_ws("-", F.col("version"), F.col("tag"))


def discounted_amount(price: str | Column, discount: str | Column) -> Column:
    """``(-1 * price * discount)::decimal(16, 2)``
    (reference: Notes.md:276-279)."""
    p = F.col(price) if isinstance(price, str) else price
    d = F.col(discount) if isinstance(discount, str) else discount
    return (F.lit(-1) * p * d).cast(T.DecimalType(16, 2))


def quarter_string(date_col: str | Column) -> Column:
    """``f"{year}q{(month - 1) // 3 + 1}"``
    (reference: Backend/api.py:22-26)."""
    c = F.col(date_col) if isinstance(date_col, str) else date_col
    return F.concat_ws("q", F.year(c).cast("string"), F.quarter(c).cast("string"))
