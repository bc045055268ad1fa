"""TSV/CSV/JSON readers implementing the reference's bulk-load semantics.

Maps Snowflake ``COPY INTO`` + ``CREATE FILE FORMAT`` options
(reference: Airflow/dags/Sec_data_pipeline.py:379-398,418-457) onto
Spark's CSV reader:

| COPY option                         | Implementation                      |
|-------------------------------------|-------------------------------------|
| FIELD_DELIMITER='\\t'               | sep='\\t'                           |
| SKIP_HEADER=1                       | header=True (first line of a file)  |
| FIELD_OPTIONALLY_ENCLOSED_BY='"'    | quote='"', escape='"'               |
| DATE_FORMAT='YYYYMMDD'              | try_to_date(col, 'yyyyMMdd')        |
| other typed columns (no format set) | Column.try_cast(type): 0/1 booleans,|
|                                     | fractional-second timestamps        |
| EMPTY_FIELD_AS_NULL / NULL_IF       | isin(NULL_LITERALS), every field    |
| ON_ERROR='CONTINUE'                 | reject predicate → filter           |
| PATTERN='.*sub\\.txt'               | pathGlobFilter='*sub.txt'           |

Every column is read as a string, so the reader only splits and
unquotes; NULL_IF and the typed conversions run per field after quote
handling, as in COPY. A row is rejected when its token count is wrong
(the reader's corrupt-record column) or when a token that is not a
NULL_IF literal fails its conversion. ``columnPruning=False`` makes the
reader tokenize the whole row whichever columns the query selects, so
row validity is a pure function of the row. ``read_sec_quarter``
persists what it loads, so the counts, the checks and the model DAG all
read one parse.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import SEC_SCHEMAS
from ..session import persist_fresh

NULL_LITERALS = ("", "NULL", "null")
_CORRUPT = "_corrupt_record"
#: The SEC file format: FIELD_DELIMITER and DATE_FORMAT of the
#: reference's COPY file format (Sec_data_pipeline.py:379-398).
SEP = "\t"
DATE_FORMAT = "yyyyMMdd"


def read_tsv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    path_glob: str,
    on_error_continue: bool = True,
    corrupt_record_col: str | None = None,
) -> DataFrame:
    """Load the tab-separated SEC files under ``path`` whose names match
    ``path_glob`` with COPY INTO semantics.

    ``on_error_continue=True`` ≙ ON_ERROR='CONTINUE': rows with
    structural errors (wrong token count) or type-conversion failures
    are skipped. With ``on_error_continue=False`` and a
    ``corrupt_record_col``, bad rows are kept and flagged for audit: the
    column holds the raw line, or the tab-joined fields when a
    conversion failed.
    """
    raw = (
        spark.read.schema(", ".join(f"`{n}` STRING" for n in schema.names + [_CORRUPT]))
        .options(
            sep=SEP, header=True, quote='"', escape='"', mode="PERMISSIVE",
            columnNameOfCorruptRecord=_CORRUPT, pathGlobFilter=path_glob,
            # tokenize every row in full whichever columns a query reads,
            # so a short row is rejected under any select
            columnPruning=False,
        )
        .csv(path)
    )
    out, failed = [], [F.lit(False)]
    for f in schema.fields:
        # NULL_IF on every field, after quote handling
        c = F.when(~F.col(f.name).isin(*NULL_LITERALS), F.col(f.name))
        if not isinstance(f.dataType, T.StringType):
            if isinstance(f.dataType, T.DateType):
                typed = F.try_to_date(c, DATE_FORMAT)
            else:
                typed = c.try_cast(f.dataType)
            failed.append(c.isNotNull() & typed.isNull())
            c = typed
        out.append(c.alias(f.name))
    conversion_failed = reduce(operator.or_, failed)
    if on_error_continue:
        return raw.filter(F.col(_CORRUPT).isNull() & ~conversion_failed).select(*out)
    fields = F.concat_ws(SEP, *[F.coalesce(F.col(n), F.lit("")) for n in schema.names])
    audit = F.coalesce(F.col(_CORRUPT), F.when(conversion_failed, fields))
    return raw.select(*out, audit.alias(corrupt_record_col or _CORRUPT))


def read_sec_quarter(spark: SparkSession, landing_dir: str) -> dict[str, DataFrame]:
    """Load a quarter's four SEC TSVs from a landing directory using
    per-table filename routing (≙ the reference's per-table COPY INTO
    PATTERN='.*sub\\.txt': Sec_data_pipeline.py:426-448).

    Like COPY INTO a RAW table, this is a real load: each table is
    persisted (replacing any cache of an earlier load of the same
    directory), so every reader after it shares one parse."""
    return {
        name: persist_fresh(
            read_tsv(spark, landing_dir, schema, path_glob=f"*{name}.txt")
        )
        for name, schema in SEC_SCHEMAS.items()
    }


def read_csv_dated(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Comma-CSV load (≙ the weather demo COPY:
    reference web_to_snowflake.py:137-163)."""
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("dateFormat", "yyyy-MM-dd")
        .csv(path)
    )


def read_json_variant(spark: SparkSession, path: str) -> DataFrame:
    """JSON load with schema inference (≙ COPY INTO VARIANT:
    reference txt_to_json.py:89-116)."""
    return spark.read.option("multiLine", True).json(path)


def to_row_records_json(df: DataFrame, table_name: str) -> DataFrame:
    """One JSON document per table: ``{"<table>": [row-objects...]}``
    (S8 ≙ the reference's pandas ``to_dict(orient='records')`` JSON sink,
    txt_to_json.py:69-87). Returns a 1-row DataFrame with the document.

    Scale note: this materializes the whole table into one document — by
    construction a driver-scale artifact in the reference too; for large
    tables use ``df.write.json`` (one object per line) instead.
    """
    return df.agg(
        F.to_json(
            F.create_map(
                F.lit(table_name),
                F.collect_list(F.struct(*[F.col(c) for c in df.columns])),
            )
        ).alias("doc")
    )
