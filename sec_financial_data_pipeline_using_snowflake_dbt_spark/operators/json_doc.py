"""Nested-JSON document pipeline (reference: Airflow/json_transform/
models/staging/stg_financial_data.sql, raw_stg_sub_modified.sql,
models/json/financial_statements_json.sql).

OBJECT_CONSTRUCT → F.struct; ARRAY_AGG → F.collect_list(struct).
ARRAY_AGG order is engine-unspecified in both systems (SURVEY §4
gotcha 7): ``financial_statements_json`` sorts the array for
reproducible output/hashing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import handle_null_date


def raw_stg_sub_modified(sub: DataFrame) -> DataFrame:
    """reference raw_stg_sub_modified.sql: passthrough with NULL period →
    '9999-12-31' (handle_null_date macro)."""
    return sub.withColumn("period", handle_null_date("period"))


def stg_financial_data(
    sub: DataFrame, num: DataFrame, tag: DataFrame, pre: DataFrame
) -> DataFrame:
    """reference stg_financial_data.sql:1-67: renamed projections +
    multi-way left-join flattening (J9)."""
    s = raw_stg_sub_modified(sub).select(
        "adsh",
        "cik",
        F.col("filed").alias("filing_date"),
        F.col("fy").alias("fiscal_year"),
        F.col("fp").alias("fiscal_period"),
        F.col("name").alias("company_name"),
        "sic",
    )
    n = num.select(
        "adsh",
        "tag",
        "version",
        F.col("ddate").alias("period_end_date"),
        F.col("qtrs").alias("quarters_duration"),
        F.col("uom").alias("unit_of_measure"),
        F.col("value").alias("numeric_value"),
        "footnote",
    )
    t = tag.select(
        "tag",
        "version",
        F.col("tlabel").alias("tag_label"),
        F.col("doc").alias("tag_description"),
    )
    p = pre.select(
        "adsh",
        "tag",
        F.col("stmt").alias("statement_type"),
        F.col("plabel").alias("presentation_label"),
    )
    # Pre-partition the filing-metadata side on the join key. SUB is
    # per-filing metadata — definitionally tiny next to NUM (per-value
    # facts) — so this shuffle is cheap at any scale, and it fixes two
    # plan shapes at once: (a) when the planner broadcasts NUM (small
    # scale), SUB would otherwise stream the whole join through its few
    # file-partitions — one task doing all the work; (b) the resulting
    # HashPartitioning(adsh) flows through the broadcast joins into
    # financial_statements_json's groupBy(adsh, ...), which then needs
    # no Exchange of the full fact stream (ClusteredDistribution is
    # satisfied by a subset partitioning). Under the large-scale SMJ
    # shape this exchange would exist anyway. The partition count is
    # explicit — AQE coalesces a keys-only repartition of a tiny table
    # back to ONE partition, which is precisely the serialization this
    # exists to prevent.
    s = s.repartition(sub.sparkSession.sparkContext.defaultParallelism, "adsh")
    return (
        s.join(n, "adsh", "left")
        # no explicit broadcast on the tag taxonomy: it grows with
        # taxonomy releases; AQE broadcasts it at runtime while small
        .join(t, ["tag", "version"], "left")
        .join(p, ["adsh", "tag"], "left")
        .select(
            "adsh",
            "cik",
            "filing_date",
            "fiscal_year",
            "fiscal_period",
            "company_name",
            "sic",
            "tag",
            "version",
            "period_end_date",
            "quarters_duration",
            "unit_of_measure",
            "numeric_value",
            "footnote",
            "tag_label",
            "tag_description",
            "statement_type",
            "presentation_label",
        )
    )


#: Per-filing grouping keys of the nested financial document — THE
#: single definition shared by ``financial_statements_json`` and the
#: fused row-shaped build in workload/sec_star.py (ADVICE r11: a
#: hand-copy there could silently drift from the operator).
DOC_GROUP_KEYS = [
    "adsh", "cik", "company_name", "sic", "filing_date", "fiscal_year",
    "fiscal_period",
]


def doc_entry_struct() -> Column:
    """The 9-field ``financial_data`` entry struct, in the field order
    that defines both ``array_sort``'s comparator and the per-filing
    cap's total order. One spelling (ADVICE r11)."""
    return F.struct(
        F.col("tag"),
        F.col("tag_label"),
        F.col("tag_description"),
        F.col("numeric_value").alias("value"),
        F.col("unit_of_measure"),
        F.col("period_end_date"),
        F.col("quarters_duration"),
        F.col("statement_type"),
        F.col("presentation_label"),
    )


def capped_staged(staged: DataFrame, max_facts_per_doc: int) -> DataFrame:
    """``staged`` with ``__rn`` = row_number over the entry struct's
    natural ordering within each filing (the same comparator
    ``array_sort`` uses) and rows capped to ``__rn <= N`` — exactly the
    prefix of ``financial_statements_json``'s sorted array. The fused
    workload path (``q_sec_json_doc``) reads it as ``entry_idx = __rn -
    1``. The cap exists because ``collect_list`` materializes a filing's
    whole array in one aggregation buffer, and an UNREALISTIC feed (the
    synthetic sf10 replication fans 60k facts into each of a fixed 1000
    filings) otherwise builds ~12 MB arrays and kills the executor; the
    filter runs BEFORE any groupBy — a post-hoc ``slice`` would bound
    the output but not the buffer."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*DOC_GROUP_KEYS).orderBy(doc_entry_struct().asc())
    return staged.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") <= F.lit(max_facts_per_doc)
    )


def financial_statements_json(staged: DataFrame) -> DataFrame:
    """reference financial_statements_json.sql:1-34: per-filing nested doc
    {filing_id, company_info{...}, financial_data[{...}×9], ...}, with
    each ``financial_data`` array sorted (``array_sort``) so the output
    is reproducible."""
    return (
        staged.groupBy(*DOC_GROUP_KEYS)
        .agg(F.array_sort(F.collect_list(doc_entry_struct())).alias("financial_data"))
        .select(
            F.col("adsh").alias("filing_id"),
            F.struct("company_name", "cik", "sic").alias("company_info"),
            "financial_data",
            "filing_date",
            "fiscal_year",
            "fiscal_period",
        )
    )


def to_json_documents(docs: DataFrame) -> DataFrame:
    """Serialize the nested docs to JSON strings (≙ the S3 JSON sink,
    reference txt_to_json.py:69-87)."""
    return docs.select(
        "filing_id",
        F.to_json(
            F.struct(
                "filing_id",
                "company_info",
                "financial_data",
                "filing_date",
                "fiscal_year",
                "fiscal_period",
            )
        ).alias("doc"),
    )
