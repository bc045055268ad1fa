"""Fact builders (reference:
Airflow/masterfindata/models/Facts/fct_balanceSheet.sql — the
IncomeStatement and Cashflows files differ by ONE literal, the statement
code, so this is a single builder, ``build_fact``, over all three
statements at once: ``statement_type`` is already a group key, and each
reference fact table is that output filtered to its code).

Fidelity notes:
- The reference's first CTE references stg_sub columns without joining
  stg_sub (fct_balanceSheet.sql:12-15) — invalid SQL as written; the
  evident intent (CIK/FILED arrive via the ADSH broadcast-join to
  stg_sub) is what we implement.
- The LIMIT 100000 "testing" guard (fct_balanceSheet.sql:37) is not
  reproduced: it's nondeterministic (SURVEY §4 gotcha 2).
- The post-left-join IS NOT NULL filters (fct_balanceSheet.sql:55-57)
  make those joins de-facto inner; we keep left+filter for parity (the
  optimizer rewrites them to inner anyway).

Scale plan (100 TB): NUM⋈PRE shuffles on (adsh, tag); stg_sub keeps
the reference's own broadcast hint (X1, fct_balanceSheet.sql:26); the
DIM sides carry NO explicit hint — dim_filings is a 4-way distinct over
(tag, version, stmt, uom, filed) whose cardinality grows with history,
so the broadcast decision is left to AQE's measured sizes (same contract
as the dedup operators; see test_no_unbounded_broadcast). The three
facts come from one spine (``fact_spine``, the registry's ``fact_spine``
cache model) and one plan, instead of re-reading NUM and re-joining the
dims three times (improves the reference's thread-level parallelism,
X11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: The statement codes the reference builds a fact table for.
FACT_STATEMENTS = ("BS", "IS", "CF")


def fact_spine(
    stg_num: DataFrame, stg_pre: DataFrame, stg_sub: DataFrame
) -> DataFrame:
    """The stmt-unfiltered upstream of the facts: NUM ⋈ PRE on
    (ADSH, TAG) (fct_balanceSheet.sql:16-21), then broadcast-join SUB on
    ADSH (fct_balanceSheet.sql:25-37, X1 hint)."""
    return (
        stg_num.join(stg_pre.select("adsh", "tag", "stmt"), ["adsh", "tag"])
        .join(F.broadcast(stg_sub.select("adsh", "cik", "filed")), "adsh")
        .select("value", "adsh", "cik", F.col("filed").alias("filed_date"), "stmt")
    )


def build_fact(
    spine: DataFrame,
    dim_company: DataFrame,
    dim_filings: DataFrame,
    dim_date: DataFrame,
) -> DataFrame:
    """The BS, IS and CF facts from the spine and dims, one row set
    keyed by ``statement_type`` among its group keys.

    Plan shape: σ(stmt ∈ FACT_STATEMENTS) → ⟕ dims (company by CIK,
    filings by (stmt, filed), date by to_date expr key: J3/J4/J5) →
    null-reject → ⋈ dims by SK (J6) → Γ 6 keys → ROUND(SUM(value), 2).
    """
    src = spine.filter(F.col("stmt").isin(*FACT_STATEMENTS))

    dc = dim_company.alias("dc")
    df_ = dim_filings.alias("df")
    dd = dim_date.alias("dd")

    key_data = (
        src.alias("src")
        .join(dc, F.col("src.cik") == F.col("dc.cik"), "left")
        .join(
            df_,
            (F.col("src.stmt") == F.col("df.statement_type"))
            & (F.col("src.filed_date") == F.col("df.filed_date")),
            "left",
        )
        # expression join key ≙ TRY_TO_DATE(FiledDate::VARCHAR,'YYYY-MM-DD')
        # = Full_DT (fct_balanceSheet.sql:53-54); ANSI off ⇒ to_date
        # returns NULL on failure, matching TRY_TO_DATE
        .join(
            dd,
            F.to_date(F.col("src.filed_date").cast("string"), "yyyy-MM-dd")
            == F.col("dd.full_dt"),
            "left",
        )
        .filter(
            F.col("dc.company_sk").isNotNull() & F.col("df.filings_sk").isNotNull()
        )
        .select(
            F.col("src.value").alias("value"),
            F.col("dc.company_sk").alias("company_sk"),
            F.col("df.filings_sk").alias("filings_sk"),
            F.col("dd.date_sk").alias("date_sk"),
        )
    )

    dc2 = dim_company.alias("dc2")
    df2 = dim_filings.alias("df2")
    return (
        key_data.alias("k")
        .join(dc2, F.col("k.company_sk") == F.col("dc2.company_sk"))
        .join(df2, F.col("k.filings_sk") == F.col("df2.filings_sk"))
        .groupBy(
            F.col("dc2.company_name").alias("company_name"),
            F.col("df2.filed_date").alias("filed_date"),
            F.col("df2.statement_type").alias("statement_type"),
            F.col("df2.tag").alias("tag"),
            F.col("df2.unit_of_measure").alias("unit_of_measure"),
            F.col("df2.version").alias("version"),
        )
        .agg(F.round(F.sum("value"), 2).alias("fct_value"))
        .select(
            "fct_value",
            "company_name",
            "filed_date",
            "statement_type",
            "tag",
            "unit_of_measure",
            "version",
        )
    )
