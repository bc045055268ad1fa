"""TSV/CSV/JSON readers implementing the reference's bulk-load semantics.

Maps Snowflake ``COPY INTO`` + ``CREATE FILE FORMAT`` options
(reference: Airflow/dags/Sec_data_pipeline.py:379-398,418-457) onto
Spark's CSV reader:

| COPY option                         | Implementation                   |
|-------------------------------------|----------------------------------|
| FIELD_DELIMITER='\\t'               | sep='\\t'                        |
| SKIP_HEADER=1                       | header=True                      |
| FIELD_OPTIONALLY_ENCLOSED_BY='"'    | quote='"'                        |
| DATE_FORMAT='YYYYMMDD'              | to_date(col, 'yyyyMMdd')         |
| EMPTY_FIELD_AS_NULL / NULL_IF       | null-literal rewrite, ALL columns|
| ON_ERROR='CONTINUE'                 | validity predicate → filter      |
| PATTERN='.*sub\\.txt'               | pathGlobFilter='*sub.txt'        |

Design: ONE text-source scan + a single ``from_csv`` expression per
row. Spark's CSV *source* modes cannot express COPY error semantics:
DROPMALFORMED drops neither token-count nor type-conversion failures,
and the source-level PERMISSIVE corrupt-record column is populated
*per pruned column set* — whether a row is flagged depends on which
columns the downstream query touches. ``from_csv`` parses the full
declared schema row-locally, so row validity is a pure function of
the row: short/long rows and type-conversion failures all populate
the in-struct corrupt-record field deterministically. NULL_IF
literals are rewritten in the raw line *before* parsing (Snowflake
applies NULL_IF pre-conversion), so 'NULL' in a numeric column loads
as NULL rather than an error. One linear scan, and the parse runs once
per row: rows are selected inside the generator that emits the parsed
struct, where the optimizer cannot duplicate ``from_csv`` into a
pushed-down filter. ``read_sec_quarter`` persists what it loads, so the
counts, the checks and the model DAG all read one parse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import SEC_SCHEMAS
from ..session import persist_fresh

NULL_LITERALS = ("", "NULL", "null")
_CORRUPT = "_corrupt_record"


def read_tsv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    date_format: str = "yyyyMMdd",
    timestamp_format: str = "yyyy-MM-dd HH:mm:ss",
    on_error_continue: bool = True,
    path_glob: str | None = None,
    corrupt_record_col: str | None = None,
    sep: str = "\t",
) -> DataFrame:
    """Load a delimited file with COPY INTO semantics.

    ``on_error_continue=True`` ≙ ON_ERROR='CONTINUE': rows with
    structural errors (wrong token count) or type-conversion failures
    are skipped. With ``on_error_continue=False`` and a
    ``corrupt_record_col``, bad rows are kept and flagged for audit.
    """
    reader = spark.read
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    lines = reader.text(path)
    return parse_tsv_lines(
        lines,
        schema,
        date_format=date_format,
        timestamp_format=timestamp_format,
        on_error_continue=on_error_continue,
        corrupt_record_col=corrupt_record_col,
        sep=sep,
    )


def parse_tsv_lines(
    lines: DataFrame,
    schema: T.StructType,
    date_format: str = "yyyyMMdd",
    timestamp_format: str = "yyyy-MM-dd HH:mm:ss",
    on_error_continue: bool = True,
    corrupt_record_col: str | None = None,
    sep: str = "\t",
) -> DataFrame:
    """The COPY-semantics parse over a ``value``-column line source —
    pure Column work, so it runs identically on a BATCH text scan
    (``read_tsv``) and a STREAMING one (``stream_sec_quarter``): one
    spelling is what makes "batch and stream are semantics-identical"
    true by construction rather than by parallel maintenance."""
    # strip trailing CR (CRLF files)
    line = F.regexp_replace(F.col("value"), "\r$", "")
    # NULL_IF=('NULL','null'): Snowflake applies it per FIELD after quote
    # handling. The pre-parse whole-token rewrite below is exact only on
    # lines with no quote character (a quoted field containing an
    # embedded delimited NULL token would be corrupted), so it is gated
    # to quote-free lines; quoted lines get per-field NULL_IF after
    # from_csv instead (see below).
    null_alt = "|".join(lit for lit in NULL_LITERALS if lit)
    sep_q = "\\Q" + sep + "\\E"
    has_quote = line.contains('"')
    line = F.when(has_quote, line).otherwise(
        F.regexp_replace(line, f"(?<=^|{sep_q})(?:{null_alt})(?={sep_q}|$)", "")
    )
    rows = lines.select(line.alias("_l"), has_quote.alias("_q"))

    # SKIP_HEADER=1: the header line carries the schema's column names
    header_line = sep.join(f.name for f in schema.fields)
    not_header = F.lower(F.col("_l")) != header_line.lower()

    parse_schema = T.StructType(
        list(schema.fields) + [T.StructField(_CORRUPT, T.StringType())]
    )
    opts = {
        "sep": sep,
        "quote": '"',
        "escape": '"',
        "dateFormat": date_format,
        "timestampFormat": timestamp_format,
        "timestampNTZFormat": timestamp_format,
        "nullValue": "",
        "mode": "PERMISSIVE",
        "columnNameOfCorruptRecord": _CORRUPT,
    }
    parsed = F.from_csv(F.col("_l"), parse_schema.simpleString(), opts)

    def keep(r: F.Column) -> F.Column:
        if on_error_continue:
            return not_header & r[_CORRUPT].isNull()
        return not_header

    # Row selection happens inside ONE generator over the parsed struct.
    # A Filter on the struct (or on the prepared line) would be pushed
    # below the projection that computes it, and the optimizer would
    # then evaluate from_csv (and the regex chain) once in the filter
    # and again in the projection.
    rows = rows.select(
        F.explode(F.filter(F.array(parsed), keep)).alias("_r"), "_q"
    )

    def _out(f: T.StructField) -> F.Column:
        c = F.col(f"_r.{f.name}")
        # per-field NULL_IF for quoted lines (string columns only: a
        # NULL token in a typed column of a quoted line fails the cast
        # and flags the row — conservative vs Snowflake, which would
        # load NULL; quoted "NULL" can't be told apart from bare NULL
        # post-parse — both accepted limitations, SEC files never quote)
        if isinstance(f.dataType, T.StringType):
            c = F.when(F.col("_q") & c.isin(*NULL_LITERALS), F.lit(None)).otherwise(c)
        return c.alias(f.name)

    out_cols = [_out(f) for f in schema.fields]
    if on_error_continue:
        return rows.select(*out_cols)
    audit = corrupt_record_col or _CORRUPT
    return rows.select(*out_cols, F.col(f"_r.{_CORRUPT}").alias(audit))


def read_sec_quarter(
    spark: SparkSession, landing_dir: str, on_error_continue: bool = True
) -> dict[str, DataFrame]:
    """Load a quarter's four SEC TSVs from a landing directory using
    per-table filename routing (≙ the reference's per-table COPY INTO
    PATTERN='.*sub\\.txt': Sec_data_pipeline.py:426-448).

    Like COPY INTO a RAW table, this is a real load: each table is
    persisted (replacing any cache of an earlier load of the same
    directory), so every reader after it shares one parse."""
    return {
        name: persist_fresh(
            read_tsv(
                spark,
                landing_dir,
                schema,
                path_glob=f"*{name}.txt",
                on_error_continue=on_error_continue,
            )
        )
        for name, schema in SEC_SCHEMAS.items()
    }


def read_csv_dated(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    date_format: str = "yyyy-MM-dd",
) -> DataFrame:
    """Comma-CSV load (≙ the weather demo COPY:
    reference web_to_snowflake.py:137-163)."""
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("dateFormat", date_format)
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
