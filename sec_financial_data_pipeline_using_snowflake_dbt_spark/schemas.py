"""Explicit StructTypes for every fixed-schema entity in the engine.

Transcribed from the reference's raw DDL
(reference: Airflow/dags/Sec_data_pipeline.py:294-372, duplicated at
Airflow/dags/tsv_to_snowflake.py:126-204) and the weather demo table
(reference: Airflow/dags/web_to_snowflake.py:126-131).

Type mapping notes:
- STRING(n)    -> StringType (length enforced by the checks framework,
                  not the schema — Spark has no bounded varchar at runtime).
- NUMBER(p)    -> LongType / IntegerType.
- NUMBER(28,4) -> DecimalType(28,4): the money column. Decimal, not
                  double, so SUM is exact and the oracle hash-matches.
- DATE         -> DateType (loaded with dateFormat=yyyyMMdd).
- TIMESTAMP    -> TimestampNTZType (Snowflake TIMESTAMP_NTZ semantics).
- BOOLEAN      -> BooleanType.
"""

from __future__ import annotations

from pyspark.sql import types as T


def _f(name: str, dtype: T.DataType, nullable: bool = True) -> T.StructField:
    return T.StructField(name, dtype, nullable)


S = T.StringType()
L = T.LongType()
I = T.IntegerType()
B = T.BooleanType()
D = T.DateType()
TS = T.TimestampNTZType()
DEC = T.DecimalType(28, 4)
DBL = T.DoubleType()

# SUB — submissions, one row per filing. PK adsh.
SUB_SCHEMA = T.StructType(
    [
        _f("adsh", S, False),
        _f("cik", L, False),
        _f("name", S, False),
        _f("sic", I),
        _f("countryba", S),
        _f("stprba", S),
        _f("cityba", S),
        _f("zipba", S),
        _f("bas1", S),
        _f("bas2", S),
        _f("baph", S),
        _f("countryma", S),
        _f("stprma", S),
        _f("cityma", S),
        _f("zipma", S),
        _f("mas1", S),
        _f("mas2", S),
        _f("countryinc", S),
        _f("stprinc", S),
        _f("ein", L),
        _f("former", S),
        _f("changed", S),
        _f("afs", S),
        _f("wksi", B),
        _f("fye", S),
        _f("form", S, False),
        _f("period", D),
        _f("fy", I),
        _f("fp", S),
        _f("filed", D, False),
        _f("accepted", TS),
        _f("prevrpt", B),
        _f("detail", B),
        _f("instance", S),
        _f("nciks", I),
        _f("aciks", S),
    ]
)

# TAG — XBRL taxonomy. Key (tag, version).
TAG_SCHEMA = T.StructType(
    [
        _f("tag", S, False),
        _f("version", S, False),
        _f("custom", B),
        _f("abstract", B),
        _f("datatype", S),
        _f("iord", S),
        _f("crdr", S),
        _f("tlabel", S),
        _f("doc", S),
    ]
)

# NUM — numeric facts, the big table.
# Logical key (adsh, tag, version, ddate, qtrs, uom, segments, coreg).
NUM_SCHEMA = T.StructType(
    [
        _f("adsh", S, False),
        _f("tag", S, False),
        _f("version", S, False),
        _f("ddate", D, False),
        _f("qtrs", I),
        _f("uom", S),
        _f("segments", S),
        _f("coreg", S),
        _f("value", DEC),
        _f("footnote", S),
    ]
)

# PRE — presentation linkbase: which statement each (tag, version)
# appears on. stmt in {BS, IS, CF, EQ, CI, SI, UN}.
PRE_SCHEMA = T.StructType(
    [
        _f("adsh", S, False),
        _f("report", I, False),
        _f("line", I),
        _f("stmt", S),
        _f("inpth", B, False),
        _f("rfile", S),
        _f("tag", S, False),
        _f("version", S, False),
        _f("plabel", S),
        _f("negating", B, False),
    ]
)

# Weather demo table (reference: Airflow/dags/web_to_snowflake.py:126-131).
WEATHER_SCHEMA = T.StructType(
    [
        _f("temperature", DBL),
        _f("humidity", DBL),
        _f("date", D),
        _f("temperature_celsius", DBL),
    ]
)

SEC_SCHEMAS: dict[str, T.StructType] = {
    "sub": SUB_SCHEMA,
    "tag": TAG_SCHEMA,
    "num": NUM_SCHEMA,
    "pre": PRE_SCHEMA,
}
